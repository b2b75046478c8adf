"""crawley_spark benchmark: a crawl and a stream ingest through the public API.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 1 --trace 0

Run from the repository root. One Spark session per process at
``local[nproc]`` with ``nproc`` shuffle partitions. Each workload is a closed
loop: set up (session, corpus preparation, one warm-up pass over an
unrelated input of the same kind and size), then run passes back to back until
``--seconds`` have gone by, checking every pass against the reference
interpreter outside the timed region. One pass takes 5–15 s, so the
benchmark's ``--seconds 1`` measures exactly one pass: later passes reuse
per-URL caches and JIT work of the earlier ones and would not be
comparable with it.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs untraced,
traced and untraced passes in turn and prints the per-layer metrics (see
tracing.py). README.md defines every metric. A human-readable report goes
to stderr; the last stdout line is the JSON result. The exit code is
non-zero when any pass fails its check.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3

NOT_EXERCISED = (
    "Bloom/cuckoo seen prefilter (engages past 200k seen keys)",
    "politeness deferral (no politeness budget)",
    "resume from a checkpoint",
    "salt_k hot-host salting (default 0)",
)


def log(msg: str = "") -> None:
    print(msg, file=sys.stderr, flush=True)


class HostMeter:
    """Snapshot of (CPU seconds of this process and the JVM tree, steal
    ticks, all ticks) from /proc; two snapshots bracket an interval."""

    def __init__(self):
        self.jvm_pid = None

    def __call__(self) -> tuple:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
        own = os.times()
        cpu = own.user + own.system + (tree_cpu_s(self.jvm_pid) if self.jvm_pid else 0.0)
        return cpu, ticks[7], sum(ticks)


def steal_share(m0: tuple, m1: tuple) -> float:
    """Share of all CPU ticks in the interval that the hypervisor stole."""
    return (m1[1] - m0[1]) / max(1, m1[2] - m0[2])


def cpu_s(m0: tuple, m1: tuple) -> float:
    """CPU seconds of the driver and the JVM tree between two snapshots."""
    return m1[0] - m0[0]


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of this Python driver plus its JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm = next(line for line in f if line.startswith("VmHWM:"))
    return py + int(hwm.split()[1]) / 1024.0


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and all its
    descendants (the JVM, the Python worker daemon and its workers). Exited
    children count through their parent's ``cutime``/``cstime``."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            v = s[s.rindex(")") + 2:].split()
            # fields after the command: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
            stats[int(d)] = (int(v[1]), sum(int(x) for x in v[11:15]))
    kids: dict = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return total / tick


def settle(spark) -> None:
    """Collect garbage in the JVM and in this process before a timed pass,
    so that the pass does not inherit a collection cycle the set-up began."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def url_weighted_mean(steps: list) -> float:
    """Mean step wall over fetched URLs: each step (BFS iteration or
    micro-batch) counts once per URL it fetched."""
    n = sum(k for _, k in steps)
    return sum(ms * k for ms, k in steps) / n if n else float("nan")


def start_spark(cores: int, trace: bool):
    from crawley_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    extra = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
    }
    if trace:
        ev = os.path.join(WORK, "eventlog")
        shutil.rmtree(ev, ignore_errors=True)
        os.makedirs(ev)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("crawley-perfbench", cores=cores, shuffle_partitions=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def load_spec() -> dict:
    """BENCHMARK.json: the one list of workloads, metric names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    spec = load_spec()
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--plant-wrong-expectation", action="store_true",
                    help="self-test: corrupt the reference so every check fails")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import crawley_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the program under test ({e}); run from the repository root")
        return 2

    import tracing
    import workloads

    # everything the run writes stays under the checkout
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Python workers import crawley_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cores = len(os.sched_getaffinity(0))

    # the timed input and the warm-up input, with their references, are
    # made before anything is measured
    wl = workloads.make(args.workload, args.seed, args.size, WORK)
    warm = workloads.warm_workload(wl, args.size)
    t = time.perf_counter()
    wl.generate()
    warm.generate()
    log(f"[{args.workload} seed={args.seed}] inputs + references in "
        f"{time.perf_counter() - t:.2f} s (untimed)")
    if args.plant_wrong_expectation:
        wl.plant_wrong_expectation()

    from crawley_spark.sources.pages import prepare_pages

    meter = HostMeter()
    wl.meter, wl.clock = meter, workloads.CommitClock()
    warm.meter, warm.clock = meter, wl.clock
    attempted = failed = 0
    passes: list = []  # (PassResult, traced?)

    def checked(fn, label):
        nonlocal attempted, failed
        attempted += 1
        try:
            res = fn()
        except Exception:
            failed += 1
            log(f"  {label}: raised\n{traceback.format_exc()}")
            return None
        if not res.ok:
            failed += 1
            log(f"  {label}: CHECK FAILED: {res.detail}")
        return res

    # set-up is measured in CPU seconds, like a pass (README): the session
    # start, the median corpus preparation, and the warm-up's preparation and
    # pass; the warm-up's check is not part of it
    def metered(fn) -> float:
        m0 = meter()
        fn()
        return cpu_s(m0, meter())

    m0 = meter()
    t = time.perf_counter()
    spark = start_spark(cores, bool(args.trace))
    session_s = time.perf_counter() - t
    tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
    meter.jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        session_cpu = cpu_s(m0, meter())
        prepare_cpu = statistics.median(
            metered(lambda: wl.prepare(spark, prepare_pages)) for _ in range(SETUP_REPEATS)
        )
        prepare_s = statistics.median(wl.prepare_s) if wl.prepare_s else 0.0
        warm_cpu = metered(lambda: warm.prepare(spark, prepare_pages))
        res = checked(lambda: warm.run_pass(spark), "warm-up pass")
        warm.close()
        if res is not None:
            warm_cpu += cpu_s(*res.host)
        warm_s = res.wall_s if res is not None else float("nan")
        setup_s = session_cpu + prepare_cpu + warm_cpu
        log(f"  set-up CPU {setup_s:.3f} s = session {session_cpu:.3f} + corpus prepare "
            f"{prepare_cpu:.3f} (median of {SETUP_REPEATS}) + warm-up prepare and pass "
            f"{warm_cpu:.3f}; wall: session {session_s:.3f} s, corpus prepare {prepare_s:.3f}, "
            f"warm-up pass {warm_s:.3f}")

        t_meas = time.perf_counter()
        k = 0
        # a traced run brackets each traced pass with untraced ones: passes get
        # cheaper as the process warms, so the overhead is taken against the
        # mean of the untraced passes on either side
        while k < (3 if args.trace else 1) or time.perf_counter() - t_meas < args.seconds:
            traced = bool(args.trace) and k % 2 == 1
            label = f"pass {k + 1}{' (traced)' if traced else ''}"
            settle(spark)
            res = checked(lambda: tracer.traced_pass(lambda: wl.run_pass(spark)) if traced
                          else wl.run_pass(spark), label)
            if res is not None:
                passes.append((res, traced))
                steal = steal_share(*res.host)
                # CPU × (1 − steal) is context only: on some hosts tick-charged
                # CPU grows with steal
                log(f"  {label}: wall {res.wall_s:.3f} s, cpu {cpu_s(*res.host):.3f} s "
                    f"(× unstolen share {cpu_s(*res.host) * (1 - steal):.3f}), "
                    f"steal {100 * steal:.1f}%, load1 {os.getloadavg()[0]:.2f}, "
                    f"{len(res.steps)} steps, check {'ok' if res.ok else 'FAILED'}")
            k += 1
        rss = peak_rss_mb(meter.jvm_pid)
        wl.close()
    finally:
        stop_spark(spark)
    if tracer is not None:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}.spans.json"))

    good = [(p, tr) for p, tr in passes if p.ok]
    untraced = [p for p, tr in good if not tr]
    if not untraced:
        log("no pass completed its check")
        print(json.dumps({"correct": False, "attempted": max(1, attempted), "failed": failed, "metrics": {}}))
        return 1

    steps = [s for p in untraced for s in p.steps]
    wall = statistics.median(p.wall_s for p in untraced)
    # wall-clock figures and memory: too host-dependent to gate (README.md)
    ungated = {
        "pass.wall_s": wall,
        "pass.frontier_urls_per_s": wl.frontier_urls() / wall,
        "pass.iter_wall_ms": url_weighted_mean(steps),
        "pass.steal_pct": 100.0 * statistics.median(steal_share(*p.host) for p in untraced),
        "peak_rss_mb": rss,
    }
    log(f"  {len(untraced)} timed passes, {len(steps)} steps")
    if args.trace == 0:
        values = {
            "setup_s": setup_s,
            "cpu_ms_per_url": statistics.median(
                1000.0 * cpu_s(*p.host) / wl.frontier_urls() for p in untraced
            ),
        }
        units = e2e_units
    else:
        values = layer_metrics([p for p, tr in good if tr], wall, prepare_s)
        values.update(ungated)
        units = layer_units
    values = {name: values[name] for name in units}  # every listed metric, in listed order
    log(f"  {'error_rate':32s} {failed / max(1, attempted):16.4f} share  ({failed} of {attempted} passes failed)")
    log("  not exercised: " + "; ".join(NOT_EXERCISED))
    for name in ("bloom_maybe", "bloom_false_positives", "deferred"):
        n = sum(p.counts.get(name, 0) for p, _ in good)
        if n:
            log(f"  WARNING: {name} = {n}: a layer listed as not exercised ran")
    for name, v in values.items():
        log(f"  {name:32s} {v:16.4f} {units[name]}")
    if args.trace == 0:
        for name, v in ungated.items():
            log(f"  {name:32s} {v:16.4f} {layer_units[name]}  (not gated)")
    metrics = {n: {"value": v, "unit": units[n]} for n, v in values.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def layer_metrics(traced: list, untraced_wall: float, prepare_s: float) -> dict:
    """Per-layer values for the traced passes; median over them."""
    import tracing

    stage = tracing.read_event_log(os.path.join(WORK, "eventlog"), [p.window for p in traced])
    rows = []
    for i, p in enumerate(traced):
        sp = p.spans
        c = p.counts
        v = {
            "engine.iterations": c["iterations"],
            "engine.driver_path_share": c["driver_iterations"] / max(1, c["iterations"]),
            "pages.prepare_s": prepare_s,
            "local_wave.wall_ms": tracing.span_ms(sp, "local_wave"),
            "local_wave.rows": sum(s[5] for s in sp if s[0] == "local_wave"),
            "ordering.index_pass_wall_ms": tracing.span_ms(sp, "index_pass"),
            "seen.admit_ratio": c["admitted"] / max(1, c["candidates"]),
            "state.write_wall_ms": tracing.span_ms(sp, "state.write"),
            "state.compact_wall_ms": tracing.span_ms(sp, "state.compact"),
            "state.commit_wall_ms": tracing.span_ms(sp, "state.commit"),
            "ingest.add_batch_ms": c.get("add_batch_ms", 0),
            "ingest.other_ms": c.get("other_ms", 0),
            "untraced_ms": (p.wall_s - tracing.main_thread_busy_s(sp)) * 1000.0,
            "trace.overhead_pct": 100.0 * (p.wall_s - untraced_wall) / untraced_wall,
        }
        v.update(stage[i])
        rows.append(v)
    return {name: statistics.median(r[name] for r in rows) for name in rows[0]}


if __name__ == "__main__":
    sys.exit(main())
