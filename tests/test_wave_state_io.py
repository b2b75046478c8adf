"""State I/O of Spark-path waves while the driver holds the exact seen set.

Such a wave runs only its fetch join, extraction, dedup and index pass in
Spark: its seen check reads the driver's keys, its three state tables come
from one Arrow collect through ``CrawlState.write_local``, and its seen
compaction folds the driver-sized table with pyarrow. These tests pin that
I/O shape (and the unchanged pure-Spark shape beside it), the equivalence of
the two compactions, and interpreter parity when a pyarrow-compacted
snapshot is later read by a resumed or handed-off pure-Spark crawl.
"""

import os
import shutil

import pyarrow.parquet as pq
import pytest

from crawley_spark import interp
from crawley_spark.config import CrawlConfig
from crawley_spark.engine import crawl as spark_crawl
from crawley_spark.kernels.xxh import spark_xxhash64
from crawley_spark.sources.state import SEEN_BUCKETS, SEEN_SCHEMA, CrawlState

from .conftest import pages_to_df

CFG = CrawlConfig(depth=-1, no_head=True)


def _mixed_site():
    """The test_driver_wave mixed-transitions site: root fans out to 8,
    each to 8 leaves, then a 1-wide chain tail. With driver_wave_rows=2,
    iterations 2 and 3 are Spark waves and the rest driver waves."""
    pages = {"http://t.example": interp.Page(
        body="".join(f'<a href="/p{i}">p</a>' for i in range(8)),
        content_type="text/html",
    )}
    for i in range(8):
        pages[f"http://t.example/p{i}"] = interp.Page(
            body="".join(f'<a href="/q{i}_{j}">q</a>' for j in range(8))
            + ('<a href="/c0">c</a>' if i == 0 else ""),
            content_type="text/html",
        )
        for j in range(8):
            pages[f"http://t.example/q{i}_{j}"] = interp.Page(
                body="<html>leaf</html>", content_type="text/html"
            )
    for k in range(5):
        pages[f"http://t.example/c{k}"] = interp.Page(
            body=f'<a href="/c{k + 1}">n</a>', content_type="text/html"
        )
    return pages


def _fanout_site():
    """Four levels of 4-way fan-out from the seed ``/n`` (1, 4, 16, 64
    pages), each level-3 page linking one missing leaf. Seen grows 1, 5, 21,
    85, 149 over iterations 0-4: with driver_wave_rows=2 and
    driver_seen_cap=100, iterations 2 and 3 are engaged Spark waves,
    iteration 4 overflows the cap and iteration 5 runs pure Spark."""
    pages = {}

    def level(prefix, depth):
        kids = [f"{prefix}{i}" for i in range(4)] if depth < 3 else [f"{prefix}x"]
        pages[f"http://f.example/{prefix}"] = interp.Page(
            body="".join(f'<a href="/{k}">k</a>' for k in kids),
            content_type="text/html",
        )
        if depth < 3:
            for k in kids:
                level(k, depth + 1)

    level("n", 0)
    return pages


def _record_io(monkeypatch):
    """Wrap the Spark-side state calls; returns the call log."""
    calls = []
    for name in ("write", "write_seen", "seen", "compact_seen"):
        real = getattr(CrawlState, name)

        def wrapped(self, *a, _real=real, _name=name, **k):
            calls.append((_name, k.get("local", False)))
            return _real(self, *a, **k)

        monkeypatch.setattr(CrawlState, name, wrapped)
    return calls


def _crawl(spark, pages, seed, **kw):
    return spark_crawl(spark, pages_to_df(spark, pages), seed, CFG, **kw)


def _check_parity(report, pages, seed):
    want = interp.crawl(pages, seed, CFG)
    assert report.result_urls("run0") == want.results
    seen_rows = report.seen("run0").collect()
    assert len(seen_rows) == len(want.seen)
    assert {r["url_key"]: r["url"] for r in seen_rows} == want.seen


def _metric_rows(report):
    rows = report.metrics().collect()
    driver_iters = {r["iter"] for r in rows if r["metric"] == "driver_path"}
    spark_iters = set(range(1, report.iterations + 1)) - driver_iters
    checks = {}
    for r in rows:
        if r["metric"] == "seen_check":
            checks.setdefault(r["iter"], []).append(r["key"])
    return driver_iters, spark_iters, checks


@pytest.mark.parametrize("driver_wave_rows", [2, 0], ids=["engaged", "pure_spark"])
def test_spark_wave_io_shape(spark, monkeypatch, driver_wave_rows):
    """Engaged Spark waves make no Spark table write, no seen read and no
    Spark compaction; pure-Spark waves keep all three. Each Spark wave
    records the seen check it used in one seen_check metric row."""
    pages = _mixed_site()
    calls = _record_io(monkeypatch)
    report = _crawl(
        spark, pages, "http://t.example",
        driver_wave_rows=driver_wave_rows, compact_every=1,
    )
    crawl_calls = list(calls)
    monkeypatch.undo()
    _check_parity(report, pages, "http://t.example")
    driver_iters, spark_iters, checks = _metric_rows(report)
    assert spark_iters and set(checks) == spark_iters
    assert all(len(keys) == 1 for keys in checks.values())
    compactions = [local for name, local in crawl_calls if name == "compact_seen"]
    assert compactions, "compact_every=1 should compact on every Spark wave"
    names = {name for name, _ in crawl_calls}
    if driver_wave_rows:
        assert spark_iters == {2, 3} and 1 in driver_iters
        assert not names & {"write", "write_seen", "seen"}, crawl_calls
        assert all(compactions)
        assert all(keys == ["driver_keys"] for keys in checks.values())
    else:
        assert not driver_iters
        assert {"write", "write_seen", "seen"} <= names
        assert not any(compactions)
        assert all(keys == ["direct_broadcast"] for keys in checks.values())
    report.state.cleanup()


def _seen_delta(n, salt):
    rows = []
    for i in range(n):
        key = f"k{(i * 7919 + salt) % 1000}.example/p"
        rows.append(("run0" if i % 3 else "run1", key, "http://" + key, spark_xxhash64(key) % SEEN_BUCKETS))
    return rows


def _compacted(root, upto):
    """{pb dir: [rows in file order]} of one compacted snapshot."""
    d = os.path.join(root, "seen_compact", f"upto={upto}")
    out = {}
    for leaf in sorted(os.listdir(d)):
        if not leaf.startswith("pb="):
            continue
        files = sorted(f for f in os.listdir(os.path.join(d, leaf)) if f.endswith(".parquet"))
        rows = []
        for f in files:
            t = pq.read_table(os.path.join(d, leaf, f), columns=SEEN_SCHEMA.names)
            rows += [tuple(r.values()) for r in t.to_pylist()]
        out[leaf] = rows
    return out


def test_local_compaction_matches_spark(spark, tmp_path):
    """pyarrow compaction ≡ Spark compaction over the same snapshot and
    deltas: the same pb= dirs holding the same rows, sorted by url_key —
    also when the pyarrow fold reads a Spark-written snapshot."""
    roots = {m: str(tmp_path / m) for m in ("spark", "local", "mixed")}
    first = CrawlState(spark, roots["spark"])
    first.write_local("seen", 0, _seen_delta(40, 1), SEEN_SCHEMA)
    first.write_seen(1, spark.createDataFrame(_seen_delta(120, 2), SEEN_SCHEMA).repartition(3))
    first.commit(1, {}, {}, done=False)
    for m in ("local", "mixed"):
        shutil.copytree(roots["spark"], roots[m])
    states = {m: CrawlState(spark, r) for m, r in roots.items()}
    for m, st in states.items():
        st.load_manifest()
        st.commit(1, {}, {}, done=False, seen_compact=st.compact_seen(1, local=m == "local"))
        st.write_local("seen", 2, _seen_delta(60, 3), SEEN_SCHEMA)
        st.write_seen(3, spark.createDataFrame(_seen_delta(90, 4), SEEN_SCHEMA).repartition(2))
        st.commit(3, {}, {}, done=False)
        st.commit(3, {}, {}, done=False, seen_compact=st.compact_seen(3, local=m != "spark"))
    want = _compacted(roots["spark"], 3)
    assert sum(len(v) for v in want.values()) == 40 + 120 + 60 + 90
    for m in ("local", "mixed"):
        got = _compacted(roots[m], 3)
        assert sorted(got) == sorted(want), m
        for leaf, rows in got.items():
            assert sorted(rows) == sorted(want[leaf]), (m, leaf)
            keys = [r[1] for r in rows]
            assert keys == sorted(keys), (m, leaf)
            assert {r[3] for r in rows} == {int(leaf[3:])}
        assert states[m].seen(upto=3).count() == 310


def test_resume_reads_local_compaction(spark, monkeypatch, tmp_path):
    """A crawl stopped after a pyarrow compaction resumes pure-Spark over
    the pyarrow-written snapshot and finishes exactly."""
    pages = _mixed_site()
    ck = str(tmp_path / "ck")
    calls = _record_io(monkeypatch)
    partial = _crawl(
        spark, pages, "http://t.example",
        checkpoint_dir=ck, driver_wave_rows=2, compact_every=2, max_iterations=3,
    )
    assert partial.iterations == 3
    assert partial.state.manifest["seen_compact"] == 2
    assert [local for name, local in calls if name == "compact_seen"] == [True]
    resumed = _crawl(
        spark, pages, "http://t.example",
        checkpoint_dir=ck, driver_wave_rows=2, compact_every=2, resume=True,
    )
    monkeypatch.undo()
    assert resumed.iterations > 3
    _check_parity(resumed, pages, "http://t.example")


def test_handoff_after_local_compaction(spark, monkeypatch):
    """The driver set overflows driver_seen_cap after a pyarrow compaction:
    the crawl goes pure-Spark, folds the pyarrow snapshot with Spark, and
    stays exact."""
    pages = _fanout_site()
    calls = _record_io(monkeypatch)
    report = _crawl(
        spark, pages, "http://f.example/n",
        driver_wave_rows=2, driver_seen_cap=100, compact_every=2,
    )
    crawl_calls = list(calls)
    monkeypatch.undo()
    _check_parity(report, pages, "http://f.example/n")
    driver_iters, spark_iters, checks = _metric_rows(report)
    assert driver_iters == {1}
    assert spark_iters == set(checks) == {2, 3, 4, 5}
    assert [checks[i] for i in (2, 3, 4, 5)] == [["driver_keys"]] * 3 + [["direct_broadcast"]]
    assert [local for name, local in crawl_calls if name == "compact_seen"] == [True, False]
    # the handoff wave's own tables are Spark writes
    assert ("write_seen", False) in crawl_calls
    report.state.cleanup()
