"""The iterative crawl engine — crawley's BFS loop as per-iteration DataFrame
dataflow (SURVEY.md §3.4 lifecycle):

    gate → schedule → fetch-join → extract (Arrow UDF) → dedup → emit →
    enqueue → checkpoint

The driver holds only O(#runs + #partitions) state (offsets, quotas); all
per-URL work is executor-side. Every iteration commits frontier / seen /
results / metrics snapshots through CrawlState, so a killed job resumes
exactly (north_rule).

Crawl-order parity: emission seq and frontier ranks are materialized with an
explicit range-partitioned order index (plans/ordering.py) following
(parent_rank, in-page ord) — the canonical workers=1 FIFO order of the
reference driver loop (crawler.go:119-135). Never rely on partition order.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import CrawlConfig
from .functions.extract_udf import CANDIDATES_SCHEMA, build_extract_candidates
from .interp import Page, seed_robots
from .kernels import gourl, robotsx
from .kernels.extract import classify_candidate
from .kernels.paths import can_parse, url_seen_key
from .kernels.xxh import spark_xxhash64
from .operators import bloom as bloomf
from .operators.local_wave import process_wave
from .operators.politeness import salt_hot_hosts, schedule
from .operators.seen import anti_join_seen, first_occurrence
from .plans.ordering import advance_offsets, assign_flagged_indexes_bucketed
from .sources.pages import normalize_pages
from .sources.state import (
    BLOOM_STATE_SCHEMA,
    FRONTIER_SCHEMA,
    METRICS_SCHEMA,
    RESULTS_SCHEMA,
    SEEN_BUCKETS,
    SEEN_SCHEMA,
    CrawlState,
    with_bucket,
)

# Frontier rows below which the fetch join broadcasts the frontier side.
# 500k rows × ~150 B/row ≈ 75 MB — sized to stay well inside a default 1 GiB
# driver/executor headroom rather than Spark's 10 MB auto threshold (the
# frontier is the *hot* dimension; ADVICE r01 gated this on bytes, not a
# 2M-row cliff). Bigger waves also get the salted politeness pre-cap.
BROADCAST_FRONTIER_ROWS = 500_000


def seen_filter_module():
    """north_rule names a "partitioned Bloom/cuckoo URL-seen filter"; both
    exist behind one module contract. ``CRAWLEY_SEEN_FILTER=cuckoo`` selects
    the cuckoo-filter shards (operators/cuckoo.py — better FP rate at high
    load, mergeable fingerprint tables); default is the Bloom shards
    (vectorized build, the throughput choice). Resolved per crawl() call;
    the choice must stay constant across resume runs of one crawl (shard
    bytes are not interchangeable — cuckoo shards are magic-tagged and fail
    loudly on mismatch)."""
    if os.environ.get("CRAWLEY_SEEN_FILTER", "bloom") == "cuckoo":
        from .operators import cuckoo as mod

        return mod
    return bloomf


@dataclass
class CrawlReport:
    state: CrawlState
    runs: dict
    iterations: int

    def results(self, run_id: str | None = None) -> DataFrame:
        df = self.state.results()
        if run_id is not None:
            df = df.filter(F.col("run_id") == run_id)
        return df.orderBy("run_id", "seq")

    def result_urls(self, run_id: str) -> list:
        return [r["url"] for r in self.results(run_id).collect()]

    def seen(self, run_id: str | None = None) -> DataFrame:
        df = self.state.seen()
        if run_id is not None:
            df = df.filter(F.col("run_id") == run_id)
        return df

    def metrics(self) -> DataFrame:
        return self.state.metrics()


def _normalize_runs(seeds, config) -> dict:
    """→ {run_id: (seed, validated_config)}"""
    if isinstance(seeds, str):
        seeds = {"run0": seeds}
    elif isinstance(seeds, (list, tuple)):
        seeds = {f"run{i}": s for i, s in enumerate(seeds)}
    config = config or CrawlConfig()
    runs = {}
    for run_id, seed in seeds.items():
        cfg = config[run_id] if isinstance(config, dict) else config
        runs[run_id] = (seed, cfg.validated())
    return runs


def _collect_robots(spark, pages_n, runs) -> dict:
    """Fetch + parse robots.txt for every robots-enabled run (F3). One tiny
    filtered collect over the corpus — #runs rows."""
    targets = {}
    for run_id, (seed, cfg) in runs.items():
        base = gourl.parse(seed)
        if cfg.robots_policy != "ignore":
            targets.setdefault(robotsx.robots_url(base.scheme, base.host), []).append(run_id)
    robots_pages = {}
    if targets:
        rows = pages_n.filter(F.col("url").isin(list(targets))).collect()
        for r in rows:
            body = bytes(r["html"]).decode("utf-8", "surrogateescape") if r["html"] is not None else None
            robots_pages[r["url"]] = Page(
                body=body, status=r["status"] if r["status"] is not None else 200,
                content_type=r["content_type"],
            )
    out = {}
    for run_id, (seed, cfg) in runs.items():
        base = gourl.parse(seed)
        rules, injections = seed_robots(robots_pages, base, cfg)
        out[run_id] = (rules, injections)
    return out


def _start_python_worker_prewarm(spark: SparkSession) -> None:
    """Fire-and-forget background job that spawns one Arrow python worker
    per core and imports the extraction kernels in each. The first
    Spark-path wave otherwise pays this cold start — worker daemon spawn +
    per-worker kernel imports, measured ~1.5-2 s at local[32] — inside its
    own wall. Launched at crawl() entry so it overlaps robots collection,
    bootstrap, and the driver-local head-of-crawl iterations (executors are
    idle through all of those). Failure is ignored: purely a warm-up."""

    def warm_fn(batches):
        import numpy  # noqa: F401
        import pandas as pd  # noqa: F401

        from .functions import extract_udf  # noqa: F401
        from .kernels import clean, extract, gourl, htmlx  # noqa: F401

        for pdf in batches:
            yield pdf

    def run():
        try:
            n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
            spark.range(0, n, 1, n).mapInPandas(warm_fn, "id long").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass

    import threading

    threading.Thread(target=run, daemon=True, name="crawley-prewarm").start()


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds,
    config: CrawlConfig | dict | None = None,
    *,
    checkpoint_dir: str | None = None,
    politeness_budget_ms: int | None = None,
    max_iterations: int = 10_000,
    resume: bool = False,
    salt_k: int = 0,
    bloom_prefilter: bool = True,
    bloom_min_seen: int = 200_000,
    semi_broadcast_rows: int = 250_000,
    direct_broadcast_seen_rows: int = 500_000,
    compact_every: int = 8,
    frontier_cap: int | None = None,
    driver_wave_rows: int = 256,
    driver_seen_cap: int = 200_000,
) -> CrawlReport:
    """Run a depth-bounded BFS crawl of ``pages`` from ``seeds``.

    politeness_budget_ms: per-iteration per-host time budget; with a run's
    delay_ms > 0 this caps fetches per host per iteration at
    budget/delay (reference Q2 semantics, batch-shaped). None = no deferral
    (the reference never defers; parity runs use None).

    The fetch join broadcasts frontiers of ≤ ``BROADCAST_FRONTIER_ROWS``
    rows; bigger ones take the sort-merge join, host-salted when
    ``salt_k`` > 0.

    Seen anti-join strategy (VERDICT r01 #1 — never shuffle the seen table):

    * Bloom active (``bloom_prefilter`` and seen ≥ bloom_min_seen): the
      post-Bloom "maybe" rows are checked with a *bucket-pruned broadcast
      semi-join*: seen is read only
      for the buckets present in maybe (Hive-partition pruning on the
      seen layout), the tiny maybe key-set is broadcast, and the matching
      seen keys (≤ |maybe|) are broadcast back for the anti-join — one
      column-pruned scan of the touched shards, zero shuffle of seen. If
      maybe exceeds ``semi_broadcast_rows`` (transitional huge waves), it
      falls back to a shuffle anti-join against the pruned buckets.
    * Bloom inactive (small seen): seen ≤ ``direct_broadcast_seen_rows``
      is broadcast directly into the anti-join; only a small-seen ×
      huge-wave corner pays a shuffle.

    compact_every: seen deltas are merged into one bucket-partitioned
    snapshot every this many iterations, bounding the per-read dir count.

    frontier_cap: opt-in deterministic analogue of the reference's bounded
    queues (Q3, crawler.go:29-33/184-193: producers drop silently when the
    (workers+1)*256 channel stays full for 100ms). The reference's drop set
    depends on goroutine timing and cannot be matched exactly (SURVEY
    §2.6), so the default remains lossless; with a cap, each iteration
    keeps only the first ``frontier_cap`` fresh enqueues per run in
    canonical (parent_rank, ord) order and drops the tail, recording a
    ``dropped_overflow`` metric. Ordering matches the reference's
    seen-then-maybe-dropped sequence: dropped URLs were already inserted
    into seen (crawler.go linkHandler runs tryEnqueue after the dedup
    insert), so they are never revisited; emission is unaffected (the
    reference drops emit on a different channel).

    driver_wave_rows / driver_seen_cap: hybrid small-wave fast path
    (operators/local_wave.py). Real BFS crawls spend most *iterations* on
    tiny waves (the seed head, the convergence tail) where the per-iteration
    Spark scheduling floor (~1 s at local[32]) dwarfs the work; a wave of
    ≤ ``driver_wave_rows`` frontier rows runs on the driver instead — one
    pushed-down ``url IN (...)`` corpus scan, then the exact same
    extract/dedup/order dataflow in plain Python over a driver-resident
    seen set. Engages only while that set is exact and ≤ ``driver_seen_cap``
    keys: fresh crawls start with it (bootstrap is driver-side already),
    each Spark wave's keys merge back asynchronously while small, and the
    first wave overflowing the cap disables it permanently (pure Spark from
    then on). Deferral (politeness quotas), ``frontier_cap``, and resume
    runs keep the pure-Spark loop. ``driver_wave_rows=0`` disables the
    hybrid entirely (tests pinning the distributed machinery do this).
    """
    bloomf = seen_filter_module()  # Bloom (default) or cuckoo seen-prefilter
    runs = _normalize_runs(seeds, config)
    pages_n = normalize_pages(pages)
    state = CrawlState(spark, checkpoint_dir)
    _start_python_worker_prewarm(spark)

    quotas = {}
    for run_id, (seed, cfg) in runs.items():
        if politeness_budget_ms is not None and cfg.delay_ms > 0:
            quotas[run_id] = max(1, politeness_budget_ms // cfg.delay_ms)
        else:
            quotas[run_id] = None
    no_quotas = all(q is None for q in quotas.values())

    resumed = resume and state.load_manifest()
    if resumed and state.manifest["done"]:
        return CrawlReport(state, runs, state.manifest["iteration"])
    # robots rules are static after init; recompute from the corpus (cheap,
    # deterministic) rather than serializing them into the manifest
    robots_by_run = _collect_robots(spark, pages_n, runs)
    if resumed:
        iteration = state.manifest["iteration"]
        rank_offsets = dict(state.manifest["rank_offsets"])
        seq_offsets = dict(state.manifest["seq_offsets"])
        frontier_rows = state.frontier(iteration).count()
        seen_total = state.seen(upto=iteration).count()
        boot_frontier, boot_seen = None, None
    else:
        rank_offsets, seq_offsets, boot_frontier, boot_seen = _bootstrap(
            state, runs, robots_by_run, bloomf
        )
        iteration = 0
        frontier_rows = len(boot_frontier)
        seen_total = len(boot_seen)

    cfgs = {r: cfg for r, (seed, cfg) in runs.items()}
    seeds_map = {r: seed for r, (seed, cfg) in runs.items()}
    robots_rules = {r: v[0] for r, v in robots_by_run.items()}
    extract_fn = build_extract_candidates(cfgs, seeds_map, robots_rules)

    # low edge of the current frontier's rank span per run (exact when no
    # deferral is carried; resume/deferral fall back to 0, which only widens
    # the index-pass bucket range, never changes results)
    rank_lo = {run: 0 for run in runs}
    carry_frontier = None

    # adaptive partition sizing: AQE cannot coalesce user repartitions or
    # post-checkpoint writes, so the driver sizes them from the wave counts
    # it already knows (previous iteration's enqueue counts + link fan-out)
    max_parts = max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    rows_per_task = 50_000
    avg_links = 10.0  # refined each iteration

    def parts_for(rows: int) -> int:
        return max(1, min(max_parts, int(rows // rows_per_task) + 1))

    # localCheckpoint blocks are non-reliable: an executor lost between
    # iterations (cluster mode / dynamic allocation) would lose them with a
    # truncated lineage — carry the in-memory frontier plan only where that
    # cannot happen (static local mode); elsewhere re-read committed parquet
    can_carry = spark.sparkContext.master.startswith("local") and (
        str(spark.conf.get("spark.dynamicAllocation.enabled", "false")).lower() != "true"
    )

    # Bloom shards (north_rule): definitely-new candidates skip the exact
    # anti-join. Invariant when the prefilter is ACTIVE: blooms cover every
    # seen delta ≤ bloom_upto and bloom_upto == previous iteration. Shards
    # are built and read LAZILY: below bloom_min_seen no per-iteration shard
    # job runs and the shard table is never read (the exact anti-join alone
    # is cheaper); at activation the committed shards are loaded once and a
    # one-off catch-up folds the uncovered seen deltas (retained on disk
    # regardless of compaction) into them, and from then on each iteration
    # appends its wave's shard delta before the manifest commit — so the
    # invariant also survives resume at any point.
    bloom_merged: dict | None = None  # loaded at activation
    bloom_bc = None
    bloom_upto = state.manifest.get("bloom_upto", iteration)

    # Pipelined finalize (per-iteration floor): the previous iteration's
    # table writes / lineage collect / compaction / bloom-shard job stay in
    # flight while this iteration's (driver-bound) plan+index pass runs;
    # they are drained — and the manifest committed — one iteration later.
    # Correctness never depends on those writes: the next iteration's seen
    # check unions the in-memory (checkpoint-backed) delta of the pending
    # iteration over the durable parquet state, and a crash simply replays
    # the uncommitted iteration from the last manifest (writes are
    # idempotent overwrites). Pipelining engages only where the in-memory
    # carry is safe at all (static local mode, no quotas — same condition
    # as carry_frontier); clusters keep the strict write→commit→read cycle.
    pipelined = can_carry and no_quotas
    pending: dict | None = None
    carry_seen_delta = None
    carry_seen_rows = 0
    candidates = None
    pool = ThreadPoolExecutor(max_workers=7)

    # Hybrid small-wave fast path state (operators/local_wave.py). Exactness
    # gate: the driver path runs only while `driver_seen` holds the EXACT
    # (run_id, url_key) set — fresh crawls start with it (bootstrap is
    # driver-side); it is None (permanently) once any wave would push it past
    # driver_seen_cap, and never exists on resume (rebuild would cost the
    # Spark job the path is meant to avoid). Deferral and frontier_cap keep
    # the pure-Spark loop — their semantics live in the Spark operators.
    hybrid_ok = driver_wave_rows > 0 and frontier_cap is None and no_quotas
    driver_seen: set | None = boot_seen if hybrid_ok else None
    driver_frontier: list | None = boot_frontier if hybrid_ok else None
    driver_seen_n = len(driver_seen) if driver_seen is not None else 0
    driver_seen_futs: list = []
    driver_frontier_fut = None

    def _fold_shards(it: int, rows) -> None:
        """Persist iteration ``it``'s new seen-filter shards, OR them into
        the driver copy, and drop the stale broadcast (rebuilt on next use)."""
        nonlocal bloom_merged, bloom_bc, bloom_upto
        shards = [(r["bucket"], bytes(r["bitmap"])) for r in rows]
        state.write_local_binary("blooms", it, shards)
        bloom_merged = bloomf.merge_bitmaps(
            [(b, bm.tobytes()) for b, bm in bloom_merged.items()] + shards
        )
        bloom_upto = it
        if bloom_bc is not None:
            bloom_bc.destroy()
            bloom_bc = None

    def _finish(it, frontier_in, lineage, cand_rows, metric_rows, rank_offs,
                seq_offs, done, deferred_n=0, seen_compact=None) -> None:
        """The one iteration-finish step of both wave kinds: write the
        iteration's metric rows, refresh the link fan-out estimate, commit
        the manifest."""
        nonlocal avg_links
        cand_n = sum(row[3] for row in lineage)
        state.write_local(
            "metrics",
            it,
            lineage
            + [(it, "frontier_in", "", frontier_in)]
            + metric_rows
            + [(it, "candidates", "", cand_n), (it, "deferred", "", deferred_n)],
            METRICS_SCHEMA,
        )
        if frontier_in > 0 and cand_rows > 0:
            # estimate for the index pass sizes the POST-combine stream
            avg_links = max(1.0, cand_rows / frontier_in)
        state.commit(
            it, rank_offs, seq_offs, done=done,
            seen_compact=seen_compact, bloom_upto=bloom_upto,
        )

    def _drain_pending() -> None:
        """Join the pending Spark iteration's futures and finish it."""
        nonlocal pending, carry_seen_delta
        if pending is None:
            return
        p, pending = pending, None
        carry_seen_delta = None
        for f in p["write_futs"]:
            f.result()
        lineage_rows = p["lineage_fut"].result()
        new_compact = p["compact_fut"].result() if p["compact_fut"] is not None else None
        if p["bloom_fut"] is not None:
            _fold_shards(p["iteration"], p["bloom_fut"].result())
        _finish(
            p["iteration"],
            p["frontier_rows"],
            [
                (p["iteration"], "lineage_partition_candidates", str(r["src_pid"]), r["count"])
                for r in lineage_rows
            ],
            sum(r["rows"] for r in lineage_rows),
            p["metric_rows"],
            p["rank_offsets"],
            p["seq_offsets"],
            p["done"],
            deferred_n=p["deferred_n"],
            seen_compact=new_compact,
        )
        p["candidates"].unpersist()

    try:
        while frontier_rows > 0 and iteration < max_iterations:
            if driver_frontier is None and driver_frontier_fut is not None:
                driver_frontier = driver_frontier_fut.result() if driver_seen is not None else None
                driver_frontier_fut = None
            iteration += 1
            t0 = time.monotonic()
            if (
                driver_seen is not None
                and driver_frontier is not None
                and len(driver_frontier) <= driver_wave_rows
            ):
                # -- driver-local iteration (operators/local_wave.py) --
                # one Spark job total: the pushed-down url IN (...) page
                # fetch; extraction/dedup/ordering run in-process against the
                # exact driver seen set, state lands via pyarrow writes.
                _drain_pending()  # manifest commits must stay ordered
                for f in driver_seen_futs:
                    driver_seen.update(f.result())
                driver_seen_futs = []
                urls = sorted({r[2] for r in driver_frontier if r[4]})
                by_url: dict = {}
                if urls:
                    for r in pages_n.filter(F.col("url").isin(urls)).collect():
                        by_url.setdefault(r["url"], []).append(
                            (r["html"], r["content_type"])
                        )
                page_rows = [
                    (r[0], r[1], r[2], html, ct)
                    for r in driver_frontier
                    if r[4]
                    for html, ct in by_url.get(r[2], ())
                ]
                prev_rank_hi = dict(rank_offsets)
                out = process_wave(
                    page_rows, driver_seen, iteration, seq_offsets,
                    rank_offsets, cfgs, seeds_map, robots_rules, SEEN_BUCKETS,
                )
                seq_offsets, rank_offsets = out["seq_offsets"], out["rank_offsets"]
                driver_seen_n = len(driver_seen)
                if driver_seen_n > driver_seen_cap:
                    # a small frontier can still fan out past the cap; the set
                    # was exact through this wave (state already durable), so
                    # hand off to pure Spark permanently
                    driver_seen = None
                state.write_local("results", iteration, out["results"], RESULTS_SCHEMA)
                state.write_local("frontier", iteration, out["frontier"], FRONTIER_SCHEMA)
                state.write_local("seen", iteration, out["seen"], SEEN_SCHEMA)
                seen_total += out["wave_rows"]
                _finish(
                    iteration,
                    frontier_rows,
                    [(iteration, "lineage_partition_candidates", "-1", out["cand_total"])],
                    out["cand_rows"],
                    [
                        (iteration, "emitted", "", out["emit_n"]),
                        (iteration, "enqueued", "", out["enq_n"]),
                        (iteration, "dropped_overflow", "", 0),
                        (iteration, "driver_path", "", 1),
                        (iteration, "wall_ms", "", int((time.monotonic() - t0) * 1000)),
                    ],
                    rank_offsets,
                    seq_offsets,
                    done=out["enq_n"] == 0,
                )
                rank_lo = prev_rank_hi
                driver_frontier = out["frontier"]
                frontier_rows = out["enq_n"]
                carry_frontier = None
                continue
            driver_frontier = None  # consumed: the Spark path re-collects a small tail
            # reuse the in-memory (checkpoint-backed) next-frontier plan instead
            # of a parquet round-trip; deferral chains old-frontier lineage, so
            # fall back to the committed snapshot whenever rows were deferred
            if carry_frontier is not None:
                frontier = carry_frontier
            else:
                frontier = state.frontier(iteration - 1)

            # 1. politeness schedule (Q2) — big waves get the salted
            # pre-cap (same gate as the fetch-join salting: a mega-host
            # must not pin a single slot-window task)
            now, deferred = schedule(
                frontier,
                quotas,
                salt_buckets=64 if frontier_rows > BROADCAST_FRONTIER_ROWS else None,
            )

            # 2. fetch join (F1) — canParse-gated rows only reach the corpus scan.
            # Inner join: a frontier URL with no page row produces no candidates
            # either way (extraction skips null html), but inner lets Spark
            # broadcast the frontier side. Small waves broadcast explicitly (no
            # shuffle, no sort, host skew moot); huge frontiers take the
            # sort-merge path against the bucketed corpus, salted against
            # hot-host skew.
            fetchable = now.filter(F.col("can_fetch"))
            if frontier_rows <= BROADCAST_FRONTIER_ROWS:
                fetched = F.broadcast(fetchable).join(pages_n, on="url", how="inner")
            else:
                if salt_k:
                    fetchable = salt_hot_hosts(fetchable, salt_k)
                fetched = fetchable.join(pages_n, on="url", how="inner")

            # 3. extract + classify (X1-X6, N1-N3, P1-P10) — one Arrow stage
            # (mapInArrow: RecordBatches in/out, no pandas assembly; warm
            # A/B vs the r04 mapInPandas path in BENCH.md — the pandas
            # marshalling was NOT the in-Spark overhead, the switch is
            # neutral-to-slightly-faster and drops the pandas dependency)
            candidates = fetched.select(
                "run_id", "rank", "url", "html", "content_type"
            ).mapInArrow(extract_fn, CANDIDATES_SCHEMA)
            candidates = candidates.persist()

            # 4. dedup (D2 in-wave, D1 vs seen): in-wave first occurrence, then
            # Bloom prefilter — definitely-new rows skip the exact anti-join.
            # The prefilter engages only past bloom_min_seen; the Bloom hash
            # columns exist only from then on (below it they would ride the
            # index-pass checkpoint unused).
            # ADVICE r02 (medium): the pending iteration's seen delta rides along
            # in memory and is broadcast into the anti-join below; its row count
            # is known exactly (it was that wave's index-pass count). Above the
            # same threshold every other broadcast path honors, drain first —
            # the delta becomes durable bucket-partitioned parquet (and bloom-
            # covered), and the oversized broadcast never happens.
            if carry_seen_delta is not None and carry_seen_rows > semi_broadcast_rows:
                _drain_pending()
            bloom_active = bloom_prefilter and seen_total >= bloom_min_seen
            firsts = with_bucket(first_occurrence(candidates))
            flags = ["emit_ok", "enqueue_ok"]
            offs = {"emit_ok": seq_offsets, "enqueue_ok": rank_offsets}
            keys = ["run_id", "url_key"]
            maybe_rows, seen_buckets_read, seen_rows_scanned = 0, None, -1
            if bloom_active:
                firsts = bloomf.with_bloom_hashes(firsts)
                if bloom_merged is None:  # first active wave: load the shards
                    shards = state._read_upto("blooms", BLOOM_STATE_SCHEMA, bloom_upto)
                    bloom_merged = bloomf.merge_bitmaps(
                        [(b, bytes(bm)) for b, bm in shards.collect()]
                    )
                # only a pending iteration whose own shard job is in flight
                # may stay uncovered; one that ran before activation never
                # gets shards of its own
                in_flight = pending is not None and pending["bloom_fut"] is not None
                if bloom_upto < (iteration - 2 if in_flight else iteration - 1):
                    # lazy activation catch-up: drain any pending iteration so
                    # every seen delta is durable, then fold the uncovered
                    # deltas into the shards in one job; from here on each
                    # iteration's shard delta keeps coverage current (one
                    # behind when pipelined — the gap is exactly the carried
                    # delta, handled below)
                    _drain_pending()
                    catch = bloomf.with_bloom_hashes(
                        state.seen_between(bloom_upto, iteration - 1)
                    )
                    _fold_shards(iteration - 1, bloomf.build_shards(catch).collect())
            # durable parquet coverage: ≤ iteration-2 while an iteration is
            # pending (its delta rides along in memory), else ≤ iteration-1
            seen_upto = iteration - 2 if pending is not None else iteration - 1
            if bloom_active:
                if bloom_bc is None:
                    bloom_bc = spark.sparkContext.broadcast(bloom_merged)
                # materialize the deduped+prefiltered wave once; one light agg
                # job gives the driver the maybe count + the touched buckets so
                # the seen read below can be partition-pruned to those shards
                staged = bloomf.prefilter(firsts, bloom_bc).localCheckpoint(eager=False)
                if carry_seen_delta is not None:
                    # the pending delta is not in the blooms yet (its shard job
                    # is in flight): one broadcast anti-join over the whole wave
                    # closes the gap for fresh and maybe rows alike
                    staged = staged.join(
                        F.broadcast(carry_seen_delta.select(*keys)), on=keys, how="left_anti"
                    )
                mb = (
                    staged.groupBy("_maybe_seen")
                    .agg(F.count("*").alias("n"), F.collect_set("bucket").alias("bks"))
                    .collect()
                )
                maybe_rows = sum(r["n"] for r in mb if r["_maybe_seen"])
                seen_buckets_read = sorted(
                    {int(b) for r in mb if r["_maybe_seen"] for b in r["bks"]}
                )
                if maybe_rows == 0:
                    new_cands = staged
                else:
                    maybe = staged.filter(F.col("_maybe_seen"))
                    fresh = staged.filter(~F.col("_maybe_seen"))
                    # count the seen-side rows the join actually scans NOW — the
                    # metric must not re-resolve dirs against the post-drain
                    # manifest, whose compact pointer may differ and whose
                    # superseded snapshot dirs get deleted (ADVICE r02)
                    if os.environ.get("CRAWLEY_SEEN_METRICS") == "1":
                        seen_rows_scanned = state.count_parquet_rows(
                            state.seen_dirs(seen_upto, seen_buckets_read)
                        )
                    seen_side = state.seen(
                        upto=seen_upto, buckets=seen_buckets_read
                    ).select(*keys)
                    if maybe_rows <= semi_broadcast_rows:
                        # seen is scanned (pruned shards, two columns) but never
                        # shuffled: maybe's keys broadcast in, the ≤|maybe| hits
                        # broadcast back out
                        hits = seen_side.join(
                            F.broadcast(maybe.select(*keys)), on=keys, how="left_semi"
                        )
                        new_cands = fresh.unionByName(
                            maybe.join(F.broadcast(hits), on=keys, how="left_anti")
                        )
                    else:
                        new_cands = fresh.unionByName(anti_join_seen(maybe, seen_side))
                flags = flags + ["_maybe_seen"]  # free per-run counts via the index pass
                offs = dict(offs, _maybe_seen={})
            else:
                seen_side = state.seen(upto=seen_upto).select(*keys)
                if carry_seen_delta is not None:
                    seen_side = seen_side.unionByName(carry_seen_delta.select(*keys))
                if seen_total <= direct_broadcast_seen_rows:
                    new_cands = firsts.join(
                        F.broadcast(seen_side), on=keys, how="left_anti"
                    )
                else:
                    new_cands = anti_join_seen(firsts, seen_side)

            # 5+6. one canonical-order pass assigns BOTH the emission seq and the
            # next-frontier rank (dense per flag); the localCheckpoint inside
            # materializes the deduped wave exactly once. Buckets come from the
            # driver-known rank span — no range-sampling pass (the ranks were
            # assigned by this loop, their bounds are exact driver state).
            est_cands = int(frontier_rows * avg_links) + 1
            spans = {run: (rank_lo.get(run, 0), rank_offsets.get(run, 0)) for run in runs}
            indexed, idx_counts, wave_rows = assign_flagged_indexes_bucketed(
                new_cands,
                ["parent_rank", "ord"],
                flags,
                offs,
                spans,
                num_buckets=max(64, 4 * parts_for(est_cands)),
            )
            prev_rank_hi = dict(rank_offsets)
            emit_counts = idx_counts["emit_ok"]
            enq_counts = idx_counts["enqueue_ok"]
            # Q3 opt-in: keep the first frontier_cap fresh enqueues per run
            # (canonical order — ranks are dense from prev_rank_hi, so the
            # kept set is the contiguous prefix and offsets stay dense);
            # dropped rows remain in seen, matching the reference's
            # insert-then-maybe-drop sequence
            dropped_overflow = 0
            if frontier_cap is not None:
                kept_counts = {r: min(c, frontier_cap) for r, c in enq_counts.items()}
                dropped_overflow = sum(enq_counts.values()) - sum(kept_counts.values())
                enq_counts = kept_counts
            seq_offsets = advance_offsets(seq_offsets, emit_counts)
            rank_offsets = advance_offsets(rank_offsets, enq_counts)
            emit_n = sum(emit_counts.values())
            enq_n = sum(enq_counts.values())

            results_df = indexed.filter(F.col("emit_ok")).select(
                "run_id",
                F.col("idx_emit_ok").alias("seq"),
                F.col("uri").alias("url"),
                F.lit(iteration).alias("iter"),
            ).coalesce(parts_for(emit_n))
            fresh_frontier = indexed.filter(F.col("enqueue_ok")).select(
                "run_id",
                F.col("idx_enqueue_ok").alias("rank"),
                F.col("uri").alias("url"),
                "host",
                "can_fetch",
            )
            if frontier_cap is not None and dropped_overflow > 0:
                keep = None
                for run, off in prev_rank_hi.items():
                    c = (F.col("run_id") == run) & (F.col("rank") < off + frontier_cap)
                    keep = c if keep is None else (keep | c)
                fresh_frontier = fresh_frontier.filter(keep)
            next_frontier = fresh_frontier.unionByName(
                deferred.select("run_id", "rank", "url", "host", "can_fetch")
            ).coalesce(parts_for(enq_n))
            seen_df = indexed.select(
                "run_id", "url_key", F.col("uri").alias("url"), "bucket"
            ).coalesce(parts_for(emit_n + enq_n))

            # 7+8. drain the PREVIOUS iteration's futures (they had a whole
            # index pass to finish in the background — normally a no-wait join),
            # then submit this iteration's independent actions: three table
            # writes + lineage collect (+ compaction / bloom shards). The wave
            # is already materialized by the index pass, so these only re-read
            # checkpoint blocks. Every compact_every iterations the seen deltas
            # merge into one bucket-partitioned snapshot (covers ≤ iteration-1:
            # durable after the drain above) — amortized O(seen/K) per
            # iteration, and the read path stays O(K) dirs.
            _drain_pending()
            last_compact = state.manifest.get("seen_compact", -1)
            do_compact = iteration - 1 - max(last_compact, 0) >= compact_every
            write_futs = [
                pool.submit(state.write, "results", iteration, results_df),
                pool.submit(state.write, "frontier", iteration, next_frontier),
                pool.submit(state.write_seen, iteration, seen_df),
            ]
            compact_fut = (
                pool.submit(state.compact_seen, iteration - 1) if do_compact else None
            )
            lineage_fut = pool.submit(
                lambda: candidates.groupBy("src_pid")
                .agg(F.sum("dup_count").alias("count"), F.count("*").alias("rows"))
                .collect()
            )
            bloom_fut = (
                pool.submit(lambda: bloomf.build_shards(indexed).collect())
                if bloom_active
                else None
            )
            # quotas imply sync mode: the deferred count is resolved before
            # the commit so the committed done flag is exact
            deferred_n = 0 if no_quotas else deferred.count()
            seen_total += wave_rows
            pending = {
                "iteration": iteration,
                "write_futs": write_futs,
                "compact_fut": compact_fut,
                "lineage_fut": lineage_fut,
                "bloom_fut": bloom_fut,
                "metric_rows": [
                    (iteration, "bloom_false_positives", "", sum(idx_counts.get("_maybe_seen", {}).values())),
                    (iteration, "bloom_maybe", "", maybe_rows),
                    (iteration, "seen_rows_scanned", "", seen_rows_scanned),
                    (
                        iteration,
                        "seen_buckets_read",
                        ",".join(map(str, seen_buckets_read)) if seen_buckets_read is not None else "all",
                        len(seen_buckets_read) if seen_buckets_read is not None else SEEN_BUCKETS,
                    ),
                    (iteration, "emitted", "", emit_n),
                    (iteration, "enqueued", "", enq_n),
                    (iteration, "dropped_overflow", "", dropped_overflow),
                    (iteration, "wall_ms", "", int((time.monotonic() - t0) * 1000)),
                ],
                "frontier_rows": frontier_rows,
                "deferred_n": deferred_n,
                "rank_offsets": dict(rank_offsets),
                "seq_offsets": dict(seq_offsets),
                "candidates": candidates,
                "done": enq_n + deferred_n == 0,
            }
            frontier_rows = enq_n + deferred_n
            if pipelined:
                carry_seen_delta = seen_df
                carry_seen_rows = wave_rows
            else:
                _drain_pending()
            # next frontier's rank span: fresh enqueues start at the old high
            # water; carried-over deferred rows keep their old (lower) ranks.
            # The in-memory carry is only safe where localCheckpoint blocks are
            # (a) reliable — not on a cluster that can lose executors — and
            # (b) plan-bounded — quotas chain a window+filter layer per
            # iteration over the carried plan (ADVICE r01), so carry only in the
            # no-quota case; otherwise re-read the committed snapshot.
            if deferred_n == 0:
                rank_lo = prev_rank_hi
            carry_frontier = (
                next_frontier if deferred_n == 0 and no_quotas and can_carry else None
            )
            if driver_seen is not None:
                # hybrid merge-back: fold this Spark wave's keys into the
                # driver seen set (async — seen_df re-reads checkpoint
                # blocks) while it stays under the cap; overflowing waves
                # disable the driver path for the rest of the crawl
                if driver_seen_n + wave_rows > driver_seen_cap:
                    driver_seen = None
                    driver_seen_futs = []
                    driver_frontier_fut = None
                else:
                    driver_seen_n += wave_rows
                    driver_seen_futs.append(
                        pool.submit(
                            lambda df=seen_df: {
                                (r[0], r[1])
                                for r in df.select("run_id", "url_key").collect()
                            }
                        )
                    )
                    if 0 < frontier_rows <= driver_wave_rows and deferred_n == 0:
                        driver_frontier_fut = pool.submit(
                            lambda df=next_frontier: [tuple(r) for r in df.collect()]
                        )

        _drain_pending()
    finally:
        # a mid-crawl exception (failed Spark job) must not leak the thread
        # pool, in-flight background writes, or the persisted wave (VERDICT
        # r02 "what's wrong" #3 / ADVICE r02). Draining commits the pending
        # iteration (it completed before the failure); if the drain itself
        # fails — e.g. the exception WAS one of its write futures — cancel
        # what never started and release the wave cache instead.
        try:
            _drain_pending()
        except Exception:
            p, pending = pending, None
            if p is not None:
                futs = list(p["write_futs"]) + [
                    p["compact_fut"], p["lineage_fut"], p["bloom_fut"]
                ]
                for f in futs:
                    if f is not None:
                        f.cancel()
                p["candidates"].unpersist()
        if candidates is not None:
            candidates.unpersist()  # no-op when a drain already released it
        pool.shutdown(wait=True)
    return CrawlReport(state, runs, iteration)


def _bootstrap(state: CrawlState, runs, robots_by_run, seen_filter):
    """Iteration 0, driver-side (tiny, O(#runs + robots rules)): pre-seed the
    seen set with the raw seed strings (crawler.go:97-98), process the
    robots link/sitemap injections (``robots_by_run``, from
    _collect_robots) through the canonical candidate pipeline
    (crawler.go:246-263), lay down frontier₀, and seed the ``seen_filter``
    module's (Bloom or cuckoo) shards."""
    results_rows, seen_rows, frontier_rows = [], [], []
    rank_offsets, seq_offsets = {}, {}
    for run_id, (seed, cfg) in runs.items():
        base = gourl.parse(seed)  # raises on bad seed like Run()
        seen_keys = {url_seen_key(seed)}
        seen_rows.append((run_id, url_seen_key(seed), seed))
        rules, injections = robots_by_run[run_id]
        rank = 0
        seed_can_fetch = can_parse(base.path) if cfg.no_head else True
        frontier_rows.append((run_id, rank, seed, base.host, seed_can_fetch))
        rank += 1
        seq = 0
        for tag, uri in injections:
            key = url_seen_key(uri)
            if key in seen_keys:
                continue
            seen_keys.add(key)
            seen_rows.append((run_id, key, uri))
            c = classify_candidate(cfg, rules, base, tag, uri)
            if c.enqueue_ok:
                frontier_rows.append((run_id, rank, uri, c.host, c.can_fetch))
                rank += 1
            if c.emit_ok:
                results_rows.append((run_id, seq, uri, 0))
                seq += 1
        rank_offsets[run_id] = rank
        seq_offsets[run_id] = seq

    # all iteration-0 tables are driver-local → pyarrow writes, no Spark jobs
    state.write_local("results", 0, results_rows, RESULTS_SCHEMA)
    state.write_local(
        "seen",
        0,
        [
            (run_id, key, url, spark_xxhash64(key) % SEEN_BUCKETS)
            for run_id, key, url in seen_rows
        ],
        SEEN_SCHEMA,
    )
    state.write_local("frontier", 0, frontier_rows, FRONTIER_SCHEMA)
    state.write_local_binary(
        "blooms", 0, seen_filter.build_shards_local([(r, k) for r, k, _ in seen_rows])
    )
    state.write_local(
        "metrics", 0, [(0, "bootstrap_frontier", "", len(frontier_rows))], METRICS_SCHEMA
    )
    state.commit(0, rank_offsets, seq_offsets, done=len(frontier_rows) == 0, bloom_upto=0)
    return (
        rank_offsets,
        seq_offsets,
        frontier_rows,
        {(run_id, key) for run_id, key, _ in seen_rows},
    )
