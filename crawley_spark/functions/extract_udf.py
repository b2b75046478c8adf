"""Arrow-batched page-extraction UDF (X1-X6 + N1-N3 + P1-P10 in one pass).

``mapInArrow`` over the fetch join's output: each ``pyarrow.RecordBatch`` of
(run_id, rank, url, html, content_type) rows becomes a batch of classified
link candidates. One Python stage per iteration — extraction,
canonicalization, hashing-key projection and all per-candidate predicates
happen here so everything else in the iteration stays JVM-side (joins,
windows, writes).

Why ``mapInArrow`` and not ``mapInPandas`` (VERDICT r04 "next" #1): the
round-4 event-log decomposition proved the big crawl waves are 100%
Python-worker-bound with zero shuffle, and the same kernel ran ~40% faster
bare than inside Spark. The hypothesis was that pandas assembly on both
sides of the Arrow boundary carried that gap; the controlled stage-isolated
warm A/B (tools/arrow_ab.py, results in BENCH.md) REFUTED it — the switch
is neutral on heavy pages (1.00×) and marginal on light ones (1.03×), so
the bare-vs-Spark gap lives in the Arrow IPC boundary itself (columnar→
Arrow conversion, worker socket transfer) plus kernel time, not in pandas.
The conversion is kept because it is output-identical, never slower, and
removes pandas (Series construction, ``pd.DataFrame(rows)`` block
consolidation, NaN-vs-None ambiguity for content_type) from the hot path:
input columns come out as plain Python lists (``to_pylist`` — the binary
html column yields ``bytes`` with no bytearray hop), output columns go
back as ``pa.array(...)`` per column with an explicit type.

Config + robots rules are closure-captured (driver-known, static per crawl —
no per-row config columns crossing Arrow).

Two scale-critical optimizations live here (both exact, not approximate):

* **Classification memo** — candidate URLs repeat heavily across pages (a
  site's nav/footer links appear on every page). ``classify_candidate`` is a
  pure function of (run, crawl-class, uri), so its result is memoized per
  worker. Cuts URL parse + scope/robots checks ~in-degree-fold.

* **Map-side first-occurrence combine** — the canonical-order dedup
  (operators/seen.first_occurrence) keeps the min-(parent_rank, ord) row per
  (run_id, url_key). That reduction is associative, so each partition
  pre-combines its own candidates before the shuffle — the same move as a
  partial aggregate before a groupBy. With in-degree ~d this shrinks the
  shuffle, window, Bloom-prefilter and anti-join inputs ~d-fold; the
  cross-partition window afterwards restores exact global semantics.
  ``dup_count`` carries how many raw occurrences each kept row absorbed, so
  per-partition lineage metrics still count raw extracted links.
"""

from __future__ import annotations

from pyspark.sql import types as T

CANDIDATES_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("parent_rank", T.LongType()),
        T.StructField("ord", T.IntegerType()),
        T.StructField("uri", T.StringType()),
        T.StructField("url_key", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("enqueue_ok", T.BooleanType()),
        T.StructField("can_fetch", T.BooleanType()),
        T.StructField("emit_ok", T.BooleanType()),
        T.StructField("src_pid", T.IntegerType()),
        T.StructField("dup_count", T.LongType()),
    ]
)

_COLS = [f.name for f in CANDIDATES_SCHEMA.fields]


def _arrow_schema():
    """pyarrow twin of CANDIDATES_SCHEMA, derived (not hand-duplicated) so
    a schema edit cannot drift between the Spark and Arrow declarations;
    built lazily so importing this module never forces pyarrow onto the
    driver path. The positional row lists in ``fn`` below are the one
    remaining coupled site — they follow _COLS order."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(CANDIDATES_SCHEMA)

# Bound the per-partition combine dict; when exceeded the partition flushes
# early (partial combine — the downstream window keeps exactness). Sized so
# a 128 MB corpus partition's unique links fit comfortably. The memo bound
# clears the classification memo wholesale (it is a pure cache). Both are
# module globals looked up per call, so a test can patch them to 1 to force
# every flush and eviction branch.
_COMBINE_FLUSH = 2_000_000
_MEMO_MAX = 1_000_000


def build_extract_candidates(cfgs: dict, seeds: dict, robots: dict):
    """Returns a mapInArrow function. cfgs: run_id → CrawlConfig (validated);
    seeds: run_id → raw seed string; robots: run_id → RobotsTXT."""

    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        from ..functions.tags import prepare_filter
        from ..kernels import gourl
        from ..kernels.extract import (
            classify_candidate,
            effective_content_type,
            fetch_gate,
            page_candidates,
        )
        from ..kernels.gourl import URLError

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        bases: dict = {}
        filters: dict = {}

        def run_ctx(run_id):
            if run_id not in bases:
                bases[run_id] = gourl.parse(seeds[run_id])
                filters[run_id] = prepare_filter(cfgs[run_id].tags)
            return cfgs[run_id], bases[run_id], filters[run_id]

        out_schema = _arrow_schema()
        out_types = [f.type for f in out_schema]

        # (run_id, fetch_cls, uri) -> Candidate; pure per (run, class, uri)
        memo: dict = {}
        # (run_id, url_key) -> [parent_rank, ord, row_list]; row carries its
        # own dup_count at index -1
        best: dict = {}

        def flush():
            rows = [e[2] for e in best.values()]
            best.clear()
            # column-wise assembly straight into typed Arrow arrays — the
            # zip(*) transpose is C-speed; no pandas DataFrame, no block
            # consolidation, no dtype inference
            cols = list(zip(*rows)) if rows else [[] for _ in out_types]
            return pa.RecordBatch.from_arrays(
                [pa.array(c, type=t) for c, t in zip(cols, out_types)],
                schema=out_schema,
            )

        for batch in batches:
            names = batch.schema.names
            col = {n: batch.column(i) for i, n in enumerate(names)}
            # to_pylist: strings -> str, binary html -> bytes (no bytearray
            # hop), int64 rank -> int, nulls -> None — ready for the kernel
            it = zip(
                col["run_id"].to_pylist(),
                col["rank"].to_pylist(),
                col["url"].to_pylist(),
                col["html"].to_pylist(),
                col["content_type"].to_pylist(),
            )
            for run_id, rank, url, html, ctype in it:
                cfg, base, tag_filter = run_ctx(run_id)
                try:
                    u = gourl.parse(url)
                except URLError:
                    continue
                ct = effective_content_type(url, ctype)
                if html is None or not fetch_gate(u, url, ct, cfg):
                    continue
                body = html.decode("utf-8", "surrogateescape")
                rb = robots[run_id]
                scan_js, scan_css = cfg.scan_js, cfg.scan_css
                for ordi, (tag, uri) in enumerate(page_candidates(url, u, body, ct, cfg, tag_filter)):
                    fetch_cls = (
                        tag in ("a", "iframe")
                        or (scan_js and tag == "script")
                        or (scan_css and tag == "link")
                    )
                    mkey = (run_id, fetch_cls, uri)
                    c = memo.get(mkey)
                    if c is None:
                        if len(memo) >= _MEMO_MAX:
                            memo.clear()
                        # tag only matters through fetch_cls; pass a
                        # representative tag of the same class
                        c = classify_candidate(
                            cfg, rb, base, "a" if fetch_cls else "style", uri
                        )
                        memo[mkey] = c
                    bkey = (run_id, c.url_key)
                    prev = best.get(bkey)
                    if prev is None:
                        if len(best) >= _COMBINE_FLUSH:
                            yield flush()
                        best[bkey] = [
                            rank,
                            ordi,
                            [
                                run_id,
                                rank,
                                ordi,
                                c.uri,
                                c.url_key,
                                c.host,
                                c.enqueue_ok,
                                c.can_fetch,
                                c.emit_ok,
                                pid,
                                1,
                            ],
                        ]
                    else:
                        row = prev[2]
                        row[10] += 1
                        if rank < prev[0] or (rank == prev[0] and ordi < prev[1]):
                            dup = row[10]
                            best[bkey] = [
                                rank,
                                ordi,
                                [
                                    run_id,
                                    rank,
                                    ordi,
                                    c.uri,
                                    c.url_key,
                                    c.host,
                                    c.enqueue_ok,
                                    c.can_fetch,
                                    c.emit_ok,
                                    pid,
                                    dup,
                                ],
                            ]
        yield flush()

    return fn
