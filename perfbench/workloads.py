"""The benchmark workloads, driven through the public crawley_spark API.

Each workload object owns its inputs (generated by ``corpora`` from the
seed), its set-up, one closed-loop pass, and the correctness gate that
compares a pass's output with the reference interpreter. A pass returns a
``PassResult`` carrying its own wall and the host meter readings around it.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import corpora

CRAWL_CFG = dict(depth=-1, no_head=True)
# the crawl converges in 7-8 iterations, so the engine's default of
# compacting the seen deltas every 8 would never run; every 2 puts one or
# two compactions in each pass
COMPACT_EVERY = 2

# default and self-test sizes; the self-test runs every workload at "tiny"
SIZES = {
    "crawl_wide": {"default": dict(n_pages=4000), "tiny": dict(n_pages=1200)},
    "stream_ingest": {"default": dict(n_pages=1200), "tiny": dict(n_pages=160)},
}

STREAM_FILES = 4
STREAM_SEED_URL = "http://h0.test/"


@dataclass
class PassResult:
    wall_s: float
    # (step wall ms, URLs the step fetched) per BFS iteration or micro-batch;
    # a stream page is a fetched URL
    steps: list = field(default_factory=list)
    # host meter snapshots taken just before and just after the timed region
    host: tuple = ((0.0, 0, 0), (0.0, 0, 0))
    ok: bool = True
    detail: str = ""
    counts: dict = field(default_factory=dict)


class CommitClock:
    """Timestamps every ``CrawlState.commit`` (one per BFS iteration) so the
    per-iteration wall is measured from outside the engine, as the time
    between consecutive manifest commits. Installed for the whole run; one
    ``perf_counter`` read per iteration."""

    def __init__(self):
        from crawley_spark.sources.state import CrawlState

        self.stamps: list = []
        orig = CrawlState.commit
        clock = self

        def commit(state, iteration, *a, **kw):
            out = orig(state, iteration, *a, **kw)
            clock.stamps.append((iteration, time.perf_counter()))
            return out

        commit.__wrapped__ = orig
        CrawlState.commit = commit


class CrawlWorkload:
    """Depth-unbounded, host-scoped crawl of a generated multi-host corpus,
    seeded at the hot host h0 and the small host h1."""

    name = "crawl_wide"
    seeds = {"h0": "http://h0.test", "h1": "http://h1.test"}

    def __init__(self, name: str, seed: int, size: str, work: str):
        self.seed = seed
        self.params = SIZES[name][size]
        self.inputs = os.path.join(work, "inputs")
        self.ckpt_root = os.path.join(work, "state")
        self.pages = None
        self.prepare_s: list = []
        self.meter = lambda: (0.0, 0, 0)  # set by the runner
        self.clock = None  # a CommitClock, set by the runner
        self._pass_no = 0

    def generate(self) -> None:
        """Write the corpus parquet once per content hash and
        compute the reference crawl; neither is timed."""
        rows = corpora.wide_pages(self.seed, **self.params)
        self.dir = os.path.join(self.inputs, f"{self.name}-{corpora.digest(rows)}")
        if not os.path.exists(os.path.join(self.dir, "_DONE")):
            shutil.rmtree(self.dir, ignore_errors=True)
            corpora.write_parquet(rows, self.dir)
            open(os.path.join(self.dir, "_DONE"), "w").close()
        self.reference = self._reference(rows)

    def _reference(self, rows: list) -> dict:
        from crawley_spark.config import CrawlConfig
        from crawley_spark.interp import Page
        from crawley_spark.interp import crawl as interp_crawl

        pages = {url: Page(body=body) for url, body, _ in rows}
        cfg = CrawlConfig(**CRAWL_CFG)
        ref = {run_id: interp_crawl(pages, seed, cfg) for run_id, seed in self.seeds.items()}
        return {"runs": ref, "frontier_urls": sum(len(o.fetched) for o in ref.values())}

    def plant_wrong_expectation(self) -> None:
        """Self-test hook: drop the last expected URL of one run."""
        out = next(iter(self.reference["runs"].values()))
        out.results.pop()

    # -- set-up --------------------------------------------------------------
    def prepare(self, spark, prepare_pages) -> None:
        """Load and prepare the corpus (bucket by url, sort, persist) and
        materialize it. Called several times; the last one is kept."""
        if self.pages is not None:
            self.pages.unpersist(blocking=True)
        t0 = time.perf_counter()
        self.pages = prepare_pages(spark.read.parquet(self.dir))
        self.pages.count()
        self.prepare_s.append(time.perf_counter() - t0)

    # -- one pass ------------------------------------------------------------
    def run_pass(self, spark) -> PassResult:
        from pyspark.sql import functions as F

        from crawley_spark.config import CrawlConfig
        from crawley_spark.engine import crawl

        self._pass_no += 1
        ckpt = os.path.join(self.ckpt_root, f"pass{self._pass_no}")
        shutil.rmtree(ckpt, ignore_errors=True)
        n0 = len(self.clock.stamps)
        m0 = self.meter()
        t0 = time.perf_counter()
        report = crawl(
            spark, self.pages, self.seeds, CrawlConfig(**CRAWL_CFG), checkpoint_dir=ckpt,
            compact_every=COMPACT_EVERY,
        )
        wall = time.perf_counter() - t0
        m1 = self.meter()
        # -- outside the timed region: per-iteration walls and the gate --
        stamps = self.clock.stamps[n0:]
        rows = (
            report.metrics()
            .filter(F.col("metric").isin("frontier_in", "driver_path", "candidates",
                                         "bloom_maybe", "bloom_false_positives", "deferred"))
            .groupBy("iter", "metric").agg(F.sum("value").alias("v"))
            .collect()
        )
        per_iter: dict = {}
        totals: dict = {}
        for r in rows:
            per_iter.setdefault(r["iter"], {})[r["metric"]] = r["v"]
            totals[r["metric"]] = totals.get(r["metric"], 0) + r["v"]
        steps = []
        for (_, prev), (it, t) in zip(stamps, stamps[1:]):
            steps.append(((t - prev) * 1000.0, per_iter.get(it, {}).get("frontier_in", 0)))
        ok, detail, seen_n = self.check(report)
        res = PassResult(wall, steps, (m0, m1), ok, detail)
        res.counts = {
            "iterations": report.iterations,
            "driver_iterations": totals.get("driver_path", 0),
            "candidates": totals.get("candidates", 0),
            # every run's seed enters seen at bootstrap, not through the check
            "admitted": seen_n - len(self.seeds),
            "bloom_maybe": totals.get("bloom_maybe", 0),
            "bloom_false_positives": totals.get("bloom_false_positives", 0),
            "deferred": totals.get("deferred", 0),
        }
        report.state.cleanup()
        shutil.rmtree(ckpt, ignore_errors=True)
        return res

    def check(self, report) -> tuple:
        """Every run's (seq, url) sequence and seen set must equal the
        reference interpreter's."""
        got_res: dict = {}
        for r in report.results().collect():
            got_res.setdefault(r["run_id"], []).append((r["seq"], r["url"]))
        got_seen: dict = {}
        for r in report.seen().select("run_id", "url_key", "url").collect():
            got_seen.setdefault(r["run_id"], {})[r["url_key"]] = r["url"]
        seen_n = sum(len(s) for s in got_seen.values())
        for run_id, want in self.reference["runs"].items():
            got = sorted(got_res.get(run_id, []))
            if [s for s, _ in got] != list(range(len(got))):
                return False, f"{run_id}: emission seq is not dense", seen_n
            if [u for _, u in got] != want.results:
                return False, f"{run_id}: results differ from the reference", seen_n
            if got_seen.get(run_id, {}) != want.seen:
                return False, f"{run_id}: seen set differs from the reference", seen_n
        return True, "", seen_n

    def frontier_urls(self) -> int:
        """URLs taken off the frontier and fetched, over all runs."""
        return self.reference["frontier_urls"]

    def close(self) -> None:
        if self.pages is not None:
            self.pages.unpersist()


class StreamWorkload:
    """Incremental URL discovery over pages dropped as parquet files, one
    file per micro-batch (``maxFilesPerTrigger=1``, ``availableNow``)."""

    name = "stream_ingest"

    def __init__(self, name: str, seed: int, size: str, work: str):
        self.seed = seed
        self.params = SIZES[name][size]
        self.inputs = os.path.join(work, "inputs")
        self.out_root = os.path.join(work, "stream")
        self.meter = lambda: (0.0, 0, 0)
        self.prepare_s: list = []
        self._pass_no = 0

    def generate(self) -> None:
        rows = corpora.fat_pages(self.seed, **self.params)
        base = os.path.join(self.inputs, f"{self.name}-{corpora.digest(rows)}")
        self.drop = os.path.join(base, "drop")
        if not os.path.exists(os.path.join(base, "_DONE")):
            shutil.rmtree(base, ignore_errors=True)
            corpora.write_parquet(rows, self.drop, STREAM_FILES)
            open(os.path.join(base, "_DONE"), "w").close()
        self.reference = self._reference(rows)

    def _reference(self, rows: list) -> dict:
        from crawley_spark.config import CrawlConfig
        from crawley_spark.functions.tags import prepare_filter
        from crawley_spark.kernels import gourl, robotsx
        from crawley_spark.kernels.extract import (
            classify_candidate,
            effective_content_type,
            fetch_gate,
            page_candidates,
        )

        cfg = CrawlConfig(**CRAWL_CFG).validated()
        base = gourl.parse(STREAM_SEED_URL)
        robots = robotsx.allow_all()
        tag_filter = prepare_filter(cfg.tags)
        keys, cands = set(), 0
        for url, body, _ in rows:
            u = gourl.parse(url)
            ct = effective_content_type(url, None)
            if not fetch_gate(u, url, ct, cfg):
                continue
            for tag, s in page_candidates(url, u, body, ct, cfg, tag_filter):
                c = classify_candidate(cfg, robots, base, tag, s)
                if c.emit_ok:
                    cands += 1
                    keys.add(c.url_key)
        return {"keys": keys, "candidates": cands, "pages": len(rows)}

    def plant_wrong_expectation(self) -> None:
        self.reference["keys"].add("planted-key-that-no-page-links-to")

    def prepare(self, spark, prepare_pages) -> None:
        """The stream has no corpus to prepare: its set-up is the session
        and the warm-up pass."""

    def _run(self, spark):
        from crawley_spark.config import CrawlConfig
        from crawley_spark.streaming import run_discovery, stream_pages

        self._pass_no += 1
        out = os.path.join(self.out_root, f"pass{self._pass_no}")
        shutil.rmtree(out, ignore_errors=True)
        m0 = self.meter()
        t0 = time.perf_counter()
        q = run_discovery(
            stream_pages(spark, self.drop, max_files_per_trigger=1),
            out,
            CrawlConfig(**CRAWL_CFG),
            STREAM_SEED_URL,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        return q, out, wall, (m0, self.meter())

    def run_pass(self, spark) -> PassResult:
        q, out, wall, host = self._run(spark)
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        steps = [
            (float(p["durationMs"]["triggerExecution"]), p["numInputRows"]) for p in progress
        ]
        ok, detail, found = self.check(spark, out)
        res = PassResult(wall, steps, host, ok, detail)
        durs = [p["durationMs"] for p in progress]
        res.counts = {
            "iterations": len(progress),
            "driver_iterations": 0,
            "candidates": self.reference["candidates"],
            "admitted": found,
            "add_batch_ms": sum(d.get("addBatch", 0) for d in durs),
            "other_ms": sum(d["triggerExecution"] - d.get("addBatch", 0) for d in durs),
        }
        shutil.rmtree(out, ignore_errors=True)
        return res

    def check(self, spark, out: str) -> tuple:
        """The union of discovered URLs must equal the distinct emit-eligible
        candidates of all pages, each discovered exactly once."""
        rows = spark.read.parquet(os.path.join(out, "discovered")).select("url_key").collect()
        got = [r["url_key"] for r in rows]
        want = self.reference["keys"]
        if len(got) != len(set(got)):
            return False, f"{len(got) - len(set(got))} URLs discovered twice", len(got)
        if set(got) != want:
            return False, (
                f"discovered set differs: {len(set(got) - want)} extra, "
                f"{len(want - set(got))} missing"
            ), len(got)
        return True, "", len(got)

    def frontier_urls(self) -> int:
        """Each ingested page is a fetched URL."""
        return self.reference["pages"]

    def close(self) -> None:
        pass


# the warm-up input is the same workload under another seed: it runs every
# code path of a pass (JVM codegen and JIT, Python workers) but shares no
# URLs with the measured input, so no per-URL cache is warm when the timed
# pass starts
WARM_SEED_OFFSET = 1_000_003


def warm_workload(wl, size):
    """The workload's kind over an unrelated input, for the warm-up pass."""
    return make(wl.name, wl.seed + WARM_SEED_OFFSET, size, os.path.dirname(wl.inputs))


def make(name: str, seed: int, size: str, work: str):
    if name == "stream_ingest":
        return StreamWorkload(name, seed, size, work)
    return CrawlWorkload(name, seed, size, work)
