"""The extraction UDF's two bounded caches, driven in-process.

``build_extract_candidates`` returns the plain function ``mapInArrow`` runs
per partition, so it can be called directly on pyarrow batches. Shrinking
the combine-flush bound and the classification-memo bound to 1 forces a
flush on every new key and a memo eviction on every miss; neither may
change what the downstream first-occurrence window keeps.
"""

import pyarrow as pa

from crawley_spark.config import CrawlConfig
from crawley_spark.functions import extract_udf
from crawley_spark.kernels import extract as extract_kernels
from crawley_spark.kernels import robotsx

from .test_engine_parity import synth_site


def _batches(pages, per_batch=7):
    rows = [
        ("run0", rank, url, p.body.encode("utf-8", "surrogateescape"), p.content_type)
        for rank, (url, p) in enumerate(sorted(pages.items()))
    ]
    for i in range(0, len(rows), per_batch):
        chunk = rows[i : i + per_batch]
        cols = list(zip(*chunk))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(cols[0], pa.string()),
                pa.array(cols[1], pa.int64()),
                pa.array(cols[2], pa.string()),
                pa.array(cols[3], pa.binary()),
                pa.array(cols[4], pa.string()),
            ],
            names=["run_id", "rank", "url", "html", "content_type"],
        )


def _run(pages):
    cfg = CrawlConfig(depth=-1, no_head=True, scan_js=True).validated()
    fn = extract_udf.build_extract_candidates(
        {"run0": cfg}, {"run0": "http://h0.example"}, {"run0": robotsx.allow_all()}
    )
    return [row for b in fn(_batches(pages)) for row in b.to_pylist()]


def _reduced(rows):
    """Per (run_id, url_key): the min-(parent_rank, ord) row, with dup_count
    summed over every row of that key — what first_occurrence keeps and
    what the lineage metric counts."""
    best, dups = {}, {}
    for r in rows:
        k = (r["run_id"], r["url_key"])
        dups[k] = dups.get(k, 0) + r["dup_count"]
        if k not in best or (r["parent_rank"], r["ord"]) < (best[k]["parent_rank"], best[k]["ord"]):
            best[k] = r
    return {k: dict(r, dup_count=dups[k]) for k, r in best.items()}


def test_flush_and_memo_eviction_keep_output(monkeypatch):
    pages = synth_site()
    calls = []
    real_classify = extract_kernels.classify_candidate

    def counting(*a, **k):
        calls.append(1)
        return real_classify(*a, **k)

    monkeypatch.setattr(extract_kernels, "classify_candidate", counting)
    base = _run(pages)
    base_calls = len(calls)

    monkeypatch.setattr(extract_udf, "_COMBINE_FLUSH", 1)
    monkeypatch.setattr(extract_udf, "_MEMO_MAX", 1)
    calls.clear()
    tiny = _run(pages)

    # both branches ran: flushes leave keys un-combined across batches,
    # evictions re-classify URIs the full memo would have served
    assert len(tiny) > len(base)
    assert len(calls) > base_calls
    assert _reduced(tiny) == _reduced(base)
    assert sum(r["dup_count"] for r in tiny) == sum(r["dup_count"] for r in base)
