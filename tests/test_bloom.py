"""Bloom-prefilter correctness: the prefilter must never change results
(false positives fall back to the exact join; the shard set must cover every
seen key, including bootstrap-seeded raw seed strings)."""

import pytest
from pyspark.sql import functions as F

from crawley_spark import interp
from crawley_spark.config import CrawlConfig
from crawley_spark.engine import crawl as spark_crawl
from crawley_spark.interp import Page

from .conftest import pages_to_df
from .test_engine_parity import synth_site


def test_seed_rediscovery_not_reemitted(spark):
    """Pages link back to the *raw* seed string; its key is in the bootstrap
    seen set (crawler.go:97-98) and must be bloom-covered, else it would be
    wrongly re-emitted as definitely-new."""
    seed = "http://t"
    pages = {
        seed: Page(body=f'<a href="/a">a</a>', content_type="text/html"),
        f"{seed}/a": Page(body=f'<a href="{seed}">home</a><a href="/b">b</a>', content_type="text/html"),
        f"{seed}/b": Page(body=f'<a href="{seed}">home</a>', content_type="text/html"),
    }
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, seed, cfg)
    report = spark_crawl(spark, pages_to_df(spark, pages), seed, cfg, bloom_prefilter=True, bloom_min_seen=0, driver_wave_rows=0)
    assert report.result_urls("run0") == want.results
    assert seed not in report.result_urls("run0")
    report.state.cleanup()


def test_bloom_on_off_identical(spark):
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True, scan_js=True)
    df = pages_to_df(spark, pages)
    on = spark_crawl(spark, df, "http://h0.example", cfg, bloom_prefilter=True, bloom_min_seen=0, driver_wave_rows=0)
    off = spark_crawl(spark, df, "http://h0.example", cfg, bloom_prefilter=False, driver_wave_rows=0)
    assert on.result_urls("run0") == off.result_urls("run0")
    seen_on = {r["url_key"] for r in on.seen("run0").collect()}
    seen_off = {r["url_key"] for r in off.seen("run0").collect()}
    assert seen_on == seen_off
    # FP metric recorded and sane: false positives are a small fraction of
    # the new candidates
    fps = sum(
        r["value"] for r in on.metrics().filter("metric = 'bloom_false_positives'").collect()
    )
    new_total = on.seen("run0").count()
    assert fps <= max(2, new_total // 20)
    on.state.cleanup()
    off.state.cleanup()


def test_bloom_resume_covers_prior_iterations(spark, tmp_path):
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    ck = str(tmp_path / "ck")
    spark_crawl(spark, pages_to_df(spark, pages), "http://h0.example", cfg,
                checkpoint_dir=ck, max_iterations=2, bloom_min_seen=0, driver_wave_rows=0)
    resumed = spark_crawl(spark, pages_to_df(spark, pages), "http://h0.example", cfg,
                          checkpoint_dir=ck, resume=True, bloom_min_seen=0, driver_wave_rows=0)
    assert resumed.result_urls("run0") == want.results


def _recorded_crawl(spark, monkeypatch, pages, cfg, **kw):
    """Crawl with recorders on the engine's index pass (does the wave carry
    the Bloom hash columns?), its shuffle anti-join, and shard-table reads.
    Returns (report, events) with events in call order."""
    import crawley_spark.engine as engine
    from crawley_spark.sources.state import CrawlState

    events = []
    real_index = engine.assign_flagged_indexes_bucketed
    real_anti = engine.anti_join_seen
    real_read = CrawlState._read_upto

    def index(df, *a, **k):
        events.append(("index", "_bh1" in df.columns or "_bh2" in df.columns))
        return real_index(df, *a, **k)

    def anti(*a, **k):
        events.append(("shuffle_anti_join", None))
        return real_anti(*a, **k)

    def read(self, table, *a, **k):
        if table == "blooms":
            events.append(("blooms_read", None))
        return real_read(self, table, *a, **k)

    monkeypatch.setattr(engine, "assign_flagged_indexes_bucketed", index)
    monkeypatch.setattr(engine, "anti_join_seen", anti)
    monkeypatch.setattr(CrawlState, "_read_upto", read)
    report = spark_crawl(spark, pages_to_df(spark, pages), "http://h0.example", cfg, **kw)
    return report, events


@pytest.mark.parametrize(
    "seen_filter,min_seen,driver_wave_rows,act",
    [
        ("bloom", 4, 0, 3),
        ("cuckoo", 4, 0, 3),
        ("bloom", 4, 2, 3),
        ("bloom", 2, 0, 2),
    ],
    ids=["bloom_pipelined", "cuckoo_pipelined", "after_driver_waves", "right_after_seed_wave"],
)
def test_mid_crawl_activation(spark, monkeypatch, seen_filter, min_seen, driver_wave_rows, act):
    """The prefilter switches on mid-crawl, once seen reaches bloom_min_seen:
    the shards are loaded then (never before), the seen deltas written while
    it was off are folded in by the activation catch-up, and only waves from
    then on carry the Bloom hash columns. On synth_site seen grows 1, 3, 13,
    27 rows over iterations 0-3, so bloom_min_seen=4 activates at iteration 3
    — with iteration 2 still pending when pipelined, or after two driver
    waves when driver_wave_rows=2 — and bloom_min_seen=2 activates at
    iteration 2, whose pending iteration 1 never built shards of its own."""
    monkeypatch.setenv("CRAWLEY_SEEN_FILTER", seen_filter)
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True, scan_js=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    report, events = _recorded_crawl(
        spark, monkeypatch, pages, cfg,
        bloom_min_seen=min_seen, driver_wave_rows=driver_wave_rows,
    )
    assert report.result_urls("run0") == want.results
    assert {r["url_key"]: r["url"] for r in report.seen("run0").collect()} == want.seen

    # the scenario is the intended one: seen crosses the bound just before `act`
    assert report.state.seen(upto=act - 2).count() < min_seen <= report.state.seen(upto=act - 1).count()
    rows = report.metrics().collect()
    driver_iters = {r["iter"] for r in rows if r["metric"] == "driver_path"}
    spark_iters = sorted(set(range(1, report.iterations + 1)) - driver_iters)
    assert act in spark_iters
    if driver_wave_rows:
        assert {1, 2} <= driver_iters
    maybe = {r["iter"]: r["value"] for r in rows if r["metric"] == "bloom_maybe"}
    assert all(maybe[i] == 0 for i in spark_iters if i < act)
    assert any(maybe[i] > 0 for i in spark_iters if i >= act)

    # hash columns only on active waves; shards read once, at activation
    index_events = [hashed for kind, hashed in events if kind == "index"]
    assert index_events == [i >= act for i in spark_iters]
    kinds = [kind for kind, _ in events]
    assert kinds.count("blooms_read") == 1
    waves_before_load = kinds[: kinds.index("blooms_read")].count("index")
    assert waves_before_load == sum(1 for i in spark_iters if i < act)
    report.state.cleanup()


def test_resume_without_prefilter_counts_seen(spark, monkeypatch, tmp_path):
    """A resumed crawl knows its seen size even with the prefilter off: the
    direct-broadcast gate compares it with direct_broadcast_seen_rows, so a
    resumed seen table already past that bound takes the shuffle anti-join
    from the first resumed Spark wave on, not a broadcast of all of seen."""
    pages = synth_site()
    cfg = CrawlConfig(depth=-1, no_head=True)
    want = interp.crawl(pages, "http://h0.example", cfg)
    ck = str(tmp_path / "ck")
    spark_crawl(spark, pages_to_df(spark, pages), "http://h0.example", cfg,
                checkpoint_dir=ck, max_iterations=2, bloom_prefilter=False, driver_wave_rows=0)
    resumed, events = _recorded_crawl(
        spark, monkeypatch, pages, cfg, checkpoint_dir=ck, resume=True,
        bloom_prefilter=False, direct_broadcast_seen_rows=5, driver_wave_rows=0,
    )
    assert resumed.state.seen(upto=2).count() > 5
    assert resumed.iterations > 2
    kinds = [kind for kind, _ in events]
    assert kinds[:2] == ["shuffle_anti_join", "index"], kinds
    assert resumed.result_urls("run0") == want.results
