"""Traced passes: spans around calls into the engine's layers, and Spark's
own stage accounting attributed to those layers.

Nothing here edits the engine. ``Tracer.install`` swaps a few module and
class attributes for wrappers that record a span (name, thread, start, end,
rows) and set the thread-local ``spark.job.description`` to the layer name
for the duration of the call, so every Spark stage the call submits carries
that tag into the event log. ``read_event_log`` then sums stage executor run
time, shuffle bytes and the Python-UDF metrics per tag. Spans stay in memory
until the run writes them out.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

DESC = "spark.job.description"

# (module path, attribute owner, attribute, span name)
TARGETS = [
    ("crawley_spark.engine", None, "assign_flagged_indexes_bucketed", "index_pass"),
    ("crawley_spark.engine", None, "process_wave", "local_wave"),
    ("crawley_spark.sources.state", "CrawlState", "write", "state.write"),
    ("crawley_spark.sources.state", "CrawlState", "write_seen", "state.write"),
    ("crawley_spark.sources.state", "CrawlState", "write_local", "state.write"),
    ("crawley_spark.sources.state", "CrawlState", "write_local_binary", "state.write"),
    ("crawley_spark.sources.state", "CrawlState", "compact_seen", "state.compact"),
    ("crawley_spark.sources.state", "CrawlState", "commit", "state.commit"),
]


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list = []  # (name, thread name, is_main, t0, t1, rows)
        self.windows: list = []  # (t0 epoch ms, t1 epoch ms) of traced passes
        self._saved: list = []
        self._lock = threading.Lock()

    def wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            sc = tracer.sc
            prev = sc.getLocalProperty(DESC)
            sc.setLocalProperty(DESC, name)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                sc.setLocalProperty(DESC, prev)
                rows = len(args[0]) if name == "local_wave" else 0
                th = threading.current_thread()
                with tracer._lock:
                    tracer.spans.append(
                        (name, th.name, th is threading.main_thread(), t0, t1, rows)
                    )

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        import importlib

        for mod_name, owner, attr, name in TARGETS:
            obj = importlib.import_module(mod_name)
            if owner is not None:
                obj = getattr(obj, owner)
            orig = getattr(obj, attr)
            self._saved.append((obj, attr, orig))
            setattr(obj, attr, self.wrap(orig, name))

    def uninstall(self) -> None:
        while self._saved:
            obj, attr, orig = self._saved.pop()
            setattr(obj, attr, orig)

    def traced_pass(self, fn):
        """Run ``fn()`` with the wrappers installed and the main thread's
        untagged jobs tagged ``engine``. The result gets the pass's spans
        and its wall-clock window (epoch ms) attached."""
        n0 = len(self.spans)
        self.install()
        self.sc.setLocalProperty(DESC, "engine")
        w0 = time.time() * 1000.0
        try:
            out = fn()
        finally:
            self.windows.append((w0, time.time() * 1000.0))
            self.sc.setLocalProperty(DESC, None)
            self.uninstall()
        out.spans, out.window = self.spans[n0:], self.windows[-1]
        return out

    def dump(self, path: str) -> None:
        keys = ("name", "thread", "main", "t0", "t1", "rows")
        with open(path, "w") as f:
            json.dump({"windows": self.windows, "spans": [dict(zip(keys, s)) for s in self.spans]}, f)


def main_thread_busy_s(spans: list) -> float:
    """Length of the union of the main-thread span intervals."""
    iv = sorted((s[3], s[4]) for s in spans if s[2])
    total, end = 0.0, float("-inf")
    for a, b in iv:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def span_ms(spans: list, name: str) -> float:
    return sum(s[4] - s[3] for s in spans if s[0] == name) * 1000.0


def _plan_acc_ids(node: dict, out: dict) -> None:
    """MapInArrow nodes → (input rows accumulator, output rows accumulator).
    The input count is the first "number of output rows" met walking down
    the first-child chain below the node."""
    if node.get("nodeName") == "MapInArrow":
        outs = [m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == "number of output rows"]
        child, ins = (node.get("children") or [None])[0], []
        while child is not None and not ins:
            ins = [m["accumulatorId"] for m in child.get("metrics", []) if m["name"] == "number of output rows"]
            child = (child.get("children") or [None])[0]
        out["in"].update(ins)
        out["out"].update(outs)
    for c in node.get("children", []):
        _plan_acc_ids(c, out)


def read_event_log(log_dir: str, windows: list) -> list:
    """Per traced pass window: a dict of per-layer totals from the stages
    submitted inside it."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    submitted: dict = {}
    stages: list = []
    acc_ids = {"in": set(), "out": set()}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    submitted[sid] = (ev.get("Properties") or {}).get(DESC)
                elif kind == "SparkListenerStageCompleted":
                    stages.append(ev["Stage Info"])
                elif "sparkPlanInfo" in ev:
                    _plan_acc_ids(ev["sparkPlanInfo"], acc_ids)
    per_window = [_empty() for _ in windows]
    accs: dict = {}  # SQL metric id -> (window, name, value, in an Arrow stage)
    for si in stages:
        t = si.get("Submission Time", 0)
        w = next((i for i, (a, b) in enumerate(windows) if a <= t <= b), None)
        if w is None:
            continue
        desc = submitted.get(si["Stage ID"]) or ""
        scopes = {json.loads(r["Scope"])["name"] for r in si["RDD Info"] if r.get("Scope")}
        acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])}
        run_ms = _num(acc.get("internal.metrics.executorRunTime"))
        d = per_window[w]
        arrow = "MapInArrow" in scopes
        if arrow:
            d["extract.busy_ms"] += run_ms
            d["extract.python_ms"] += _num(acc.get("time to run Python workers"))
        if desc == "index_pass":
            d["ordering.shuffle_bytes"] += _num(acc.get("internal.metrics.shuffle.write.bytesWritten"))
            if not arrow:
                d["ordering.busy_ms"] += run_ms
        elif desc == "state.write":
            d["state.write_busy_ms"] += run_ms
        elif "WriteFiles" in scopes and "batch = " in desc:
            d["ingest.write_busy_ms"] += run_ms
        for a in si.get("Accumulables", []):
            # SQL metric values are cumulative per id: keep the largest
            v, prev = _num(a.get("Value")), accs.get(a["ID"])
            if prev is None or v >= prev[2]:
                accs[a["ID"]] = (w, a["Name"], v, arrow or (prev is not None and prev[3]))
    for aid, (w, name, v, arrow) in accs.items():
        d = per_window[w]
        if arrow and name == "data sent to Python workers":
            d["extract.bytes_to_python"] += v
        elif arrow and name == "data returned from Python workers":
            d["extract.bytes_from_python"] += v
        elif aid in acc_ids["in"]:
            d["extract.pages_in"] += v
        elif aid in acc_ids["out"]:
            d["extract.candidates_out"] += v
    return per_window


def _num(v) -> float:
    if v is None:
        return 0.0
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(str(v).split()[0].replace(",", ""))
    except ValueError:
        return 0.0


def _empty() -> dict:
    return {
        k: 0.0
        for k in (
            "extract.busy_ms", "extract.python_ms", "extract.pages_in", "extract.candidates_out",
            "extract.bytes_to_python", "extract.bytes_from_python",
            "ordering.busy_ms", "ordering.shuffle_bytes",
            "state.write_busy_ms", "ingest.write_busy_ms",
        )
    }
