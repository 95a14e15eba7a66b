"""Tracing from outside the program: spans around the package's public
entry points, host counters from /proc, and a fold of the Spark event log
into those spans.

Nothing here edits the engine. ``install`` wraps
``plans.checkpoint.StageRunner.run`` and the ``operators.*`` functions
that ``run_er_pipeline`` reaches through module attributes, so the
pipeline calls the wrappers without knowing about them.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

# scheduler pool the pipeline tags a concurrent job group with -> stage
POOL_STAGE = {
    "closure": "closure",
    "candidates": "candidates",
    "train": "train_features",
    "candfeat": "cand_features",
}


# ---------------------------------------------------------------- host ----


def _proc_stat() -> tuple[int, int]:
    """(steal jiffies, total jiffies) over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


class HostWindow:
    """Steal fraction and load average over one timed window."""

    def __init__(self):
        self.steal0, self.total0 = _proc_stat()

    def close(self) -> dict:
        steal1, total1 = _proc_stat()
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        dt = max(total1 - self.total0, 1)
        return {"steal_frac": round((steal1 - self.steal0) / dt, 4), "loadavg_1m": load1}


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of a process and its live descendants (the JVM and the
    Python workers it forks for pandas UDFs), counting the children each
    has already reaped, so a worker that ends inside a window still counts."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while listing
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    tree, frontier = set(), [pid]
    while frontier:
        p = frontier.pop()
        tree.add(p)
        frontier += [c for c, pp in parent.items() if pp == p and c not in tree]
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


# --------------------------------------------------------------- spans ----


class Tracer:
    """In-memory span list; spans are (kind, name, start, end, attrs)."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self._lock = threading.Lock()
        self._undo: list = []

    def _pool(self):
        return self.spark.sparkContext.getLocalProperty("spark.scheduler.pool")

    def add(self, kind: str, name: str, start: float, end: float, **attrs) -> None:
        with self._lock:
            self.spans.append(
                {"kind": kind, "name": name, "start": start, "end": end, **attrs}
            )

    def bump(self, key: str) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + 1

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, wrapper(orig))
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from bigdataentityresolution_spark.operators import clustering as C
        from bigdataentityresolution_spark.operators import scoring as S
        from bigdataentityresolution_spark.plans import checkpoint as CK

        tracer = self

        def stage_wrapper(orig):
            def run(runner, stage, fn, fingerprint="", metrics=None):
                pool = tracer._pool()
                t0 = time.time()
                df = orig(runner, stage, fn, fingerprint, metrics)
                t1 = time.time()
                # force the stage inside its own span
                rows = df.count()
                tracer.add(
                    "stage", stage, t0, time.time(), rows=rows, pool=pool,
                    force_s=time.time() - t1, checkpointed=runner.enabled,
                    resumed=bool(runner.manifests.get(stage, {}).get("resumed")),
                )
                return df

            return run

        def op_wrapper(name):
            def wrap(orig):
                def call(*args, **kwargs):
                    pool = tracer._pool()
                    t0 = time.time()
                    try:
                        return orig(*args, **kwargs)
                    finally:
                        tracer.add("op", name, t0, time.time(), pool=pool)

                return call

            return wrap

        def count_wrapper(key):
            def wrap(orig):
                def call(*args, **kwargs):
                    tracer.bump(key)
                    return orig(*args, **kwargs)

                return call

            return wrap

        self._patch(CK.StageRunner, "run", stage_wrapper)
        self._patch(S, "fit_lr_newton", op_wrapper("scoring.fit_lr_newton"))
        self._patch(S, "calibrate_edge_threshold", op_wrapper("scoring.calibrate"))
        self._patch(S, "calibrate_override_bar", op_wrapper("scoring.calibrate"))
        self._patch(C, "connected_components", op_wrapper("clustering.connected_components"))
        # one _large_star call per CC round (clustering.connected_components
        # resolves it through its module globals)
        self._patch(C, "_large_star", count_wrapper("cc_round"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ----------------------------------------------------------- event log ----


def read_event_log(eventlog_dir: str, app_id: str) -> list[dict]:
    """Events of one application (rolling v2 layout:
    eventlog_v2_<app>/events_<n>_<app>), in file order."""
    events = []
    paths = glob.glob(os.path.join(eventlog_dir, f"eventlog_v2_{app_id}*", "events_*"))
    paths.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass  # a torn last line of a live log
    return events


def fold_event_log(events: list[dict], spans: list[dict], window: tuple[float, float]) -> dict:
    """Fold task CPU, GC and shuffle bytes into stage spans.

    A job goes to the stage span its scheduler pool names, when the
    pipeline tagged it (the train pool also runs the IRLS fit, which
    lands on train_features); otherwise to the innermost untagged stage
    span whose window holds the job's submission. Jobs submitted inside
    ``window`` (the traced rep) that no stage span holds go to "other";
    jobs outside it are dropped. Returns
    {"stage": {name: totals}, "other": totals}.
    """
    stage_job: dict[int, dict] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {"t": ev.get("Submission Time", 0) / 1000.0,
                   "pool": props.get("spark.scheduler.pool")}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job)

    stage_spans = [s for s in spans if s["kind"] == "stage"]

    def target(job):
        if job is None:
            return None
        holds = [s for s in stage_spans if s["start"] <= job["t"] <= s["end"]]
        if job["pool"] in POOL_STAGE:
            named = [s for s in stage_spans if s["name"] == POOL_STAGE[job["pool"]]]
            cands = [s for s in named if s in holds] or named
        else:
            cands = [s for s in holds if s.get("pool") is None] or holds
        if cands:
            return out["stage"].setdefault(min(cands, key=lambda s: s["end"] - s["start"])["name"], zero())
        return out["other"] if window[0] <= job["t"] <= window[1] else None

    def zero():
        return {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0}

    out = {"stage": {}, "other": zero()}
    memo: dict[int, dict | None] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = ev.get("Stage ID")
        if sid not in memo:
            memo[sid] = target(stage_job.get(sid))
        t = memo[sid]
        if t is None:
            continue
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        t["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        t["shuffle_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            + sw.get("Shuffle Bytes Written", 0)
        ) / 2**20
    return out
