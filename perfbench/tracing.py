"""Outside-in tracing for the engine benchmark.

Nothing here edits the engine. Three recorders observe it from the
benchmark's side of the public API:

* ``SparkCalls`` tags every public Spark-backed call the benchmark makes
  (``build``, ``topk_wand``, ``topk_exact``, ``append``, ``compact``) with a
  job group, stamps each job with the engine source line that launched it
  (``callSite.short``), and afterwards folds the Spark event log into
  per-call task metrics. Jobs launched from engine-side helper threads carry
  no job group; they are attributed by the call's time window instead (the
  benchmark drives one call at a time).
* ``ServeSpans`` wraps the serving entry points (searcher constructors and
  ``search``, ``wand_topk`` as ``serve`` imports it, ``wand.list_geometry``,
  and ``build``'s imported docid-rank functions) and keeps spans in memory.
* ``store_counters`` reads table sizes, file counts and row groups from
  directory listings and Parquet footers only -- it never scans data.

Host context (cores, load, CPU steal) comes from ``/proc``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time
from contextlib import contextmanager

#: public Spark-backed calls, in the order their layer metrics are listed
SPARK_CALLS = ("build", "topk_wand", "topk_exact", "append", "compact")

#: per-call Spark layer metrics, each a mean over the run's calls of one kind
SPARK_FIELDS = (
    "call_s", "jobs", "stages", "tasks", "driver_s", "exec_run_s",
    "exec_cpu_s", "scan_mb", "shuffle_write_mb", "shuffle_read_mb",
    "shuffle_fetch_wait_s", "spill_mb", "output_mb",
)

#: index tables whose size and file count the store counters report
STORE_TABLES = (
    "postings", "docs", "shard_sizes", "term_stats", "seg_postings", "seg_docs",
)

MB = 1e6


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------

def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(v) for v in fields]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


class HostContext:
    """nproc, load average at start and end, and the share of CPU time
    stolen by the hypervisor between the two samples."""

    def __init__(self) -> None:
        self.nproc = len(os.sched_getaffinity(0))
        self.load_start = os.getloadavg()
        self._jiffies = _cpu_jiffies()

    def finish(self) -> dict:
        total0, steal0 = self._jiffies
        total1, steal1 = _cpu_jiffies()
        dt = total1 - total0
        return {
            "nproc": self.nproc,
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_frac": round((steal1 - steal0) / dt, 4) if dt > 0 else 0.0,
        }


# ---------------------------------------------------------------------------
# store counters: directory listings + Parquet footers, no data scans
# ---------------------------------------------------------------------------

def _files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, names in os.walk(root):
        out.extend(os.path.join(dirpath, n) for n in names)
    return out


def snapshot(root: str) -> dict[str, tuple[int, float]]:
    """path -> (size, mtime) for every file under an index root."""
    snap = {}
    for p in _files(root):
        st = os.stat(p)
        snap[p] = (st.st_size, st.st_mtime)
    return snap


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files that appeared or changed between two snapshots."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def index_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in _files(root))


def store_counters(root: str) -> dict[str, float]:
    import pyarrow.parquet as papq

    out: dict[str, float] = {}
    for t in STORE_TABLES:
        files = glob.glob(f"{root}/{t}/**/*.parquet", recursive=True)
        out[f"store.{t}_mb"] = sum(os.path.getsize(f) for f in files) / MB
        out[f"store.{t}_files"] = float(len(files))
    out["store.postings_row_groups"] = float(sum(
        papq.ParquetFile(f).metadata.num_row_groups
        for f in glob.glob(f"{root}/postings/**/*.parquet", recursive=True)
    ))
    return out


# ---------------------------------------------------------------------------
# Spark calls: job groups, call sites, event-log summary
# ---------------------------------------------------------------------------

_CALLSITE_KEY = "callSite.short"


def _engine_frame(pkg_dir: str) -> str | None:
    """``file.py:line`` of the innermost engine frame on the current stack."""
    f = sys._getframe(2)
    while f is not None:
        fn = f.f_code.co_filename
        if fn.startswith(pkg_dir):
            return f"{os.path.relpath(fn, pkg_dir)}:{f.f_lineno}"
        f = f.f_back
    return None


class SparkCalls:
    """Times public Spark-backed calls; when ``enabled``, also tags their
    jobs for the event-log summary."""

    def __init__(self, engine, enabled: bool, pkg_dir: str) -> None:
        self.engine = engine  # ``engine.get()`` starts Spark on first use
        self.enabled = enabled
        self.pkg_dir = pkg_dir.rstrip("/") + "/"
        self.calls: list[tuple[str, str, float, float]] = []  # name, gid, t0, t1
        self._seq = 0
        self._restore: list[tuple[object, str, object]] = []
        if enabled:
            self._install_callsites()

    @contextmanager
    def call(self, name: str):
        self._seq += 1
        gid = f"{name}#{self._seq}"
        sc = self.engine.get().sparkContext if self.enabled else None
        if sc is not None:
            sc.setJobGroup(gid, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.calls.append((name, gid, t0, t1))

    def _install_callsites(self) -> None:
        """Wrap the DataFrame actions and writer methods the engine uses so
        every job names the engine line that launched it."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        # collect/toPandas/first name their Python caller already
        targets = [
            (DataFrame, "count"), (DataFrame, "isEmpty"),
            (DataFrameReader, "parquet"),
            (DataFrameWriter, "save"), (DataFrameWriter, "parquet"),
        ]
        for cls, name in targets:
            orig = cls.__dict__[name]
            setattr(cls, name, self._with_callsite(name, orig))
            self._restore.append((cls, name, orig))

    def _with_callsite(self, action: str, orig):
        engine, pkg_dir = self.engine, self.pkg_dir

        def wrapper(obj, *a, **kw):
            spark = engine.current()  # None while the session starts
            sc = spark.sparkContext if spark is not None else None
            if sc is None or sc.getLocalProperty(_CALLSITE_KEY) is not None:
                # Spark is still starting, or an outer action named the job
                return orig(obj, *a, **kw)
            site = _engine_frame(pkg_dir)
            if site is None:
                return orig(obj, *a, **kw)
            sc.setLocalProperty(_CALLSITE_KEY, f"{action} at {site}")
            try:
                return orig(obj, *a, **kw)
            finally:
                sc.setLocalProperty(_CALLSITE_KEY, None)

        return wrapper

    def uninstall(self) -> None:
        for cls, name, orig in reversed(self._restore):
            setattr(cls, name, orig)
        self._restore.clear()


_WANTED = (
    b'{"Event":"SparkListenerJobStart"',
    b'{"Event":"SparkListenerJobEnd"',
    b'{"Event":"SparkListenerTaskEnd"',
    b'{"Event":"SparkListenerStageCompleted"',
)


def _read_events(log_dir: str):
    """(log number, event) for the wanted events of every Spark application
    that logged into ``log_dir``; job and stage ids restart in each."""
    files = sorted(p for p in glob.glob(f"{log_dir}/*") if os.path.isfile(p))
    for i, path in enumerate(files):  # none if the run never started Spark
        with open(path, "rb") as f:
            for line in f:
                if line.startswith(_WANTED):
                    yield i, json.loads(line)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def summarize_event_log(
    log_dir: str, calls: list[tuple[str, str, float, float]],
    rank_spans: list[tuple[float, float]],
) -> tuple[dict[str, float], dict[str, dict[str, int]]]:
    """Fold the event log into per-call Spark layer metrics.

    Returns ``(metrics, call_sites)``: metrics hold ``<call>.<field>`` means
    over the run's calls of each kind (0 for kinds the run never made) plus
    ``rank.jobs``; call_sites maps each call kind to the stage names (engine
    source lines) its stages ran under, with counts."""
    # jobs and stages are keyed (log number, id)
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    task_acc: dict[tuple, dict[str, float]] = {}
    stage_names: dict[tuple, str] = {}
    for app, e in _read_events(log_dir):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            jid = (app, e["Job ID"])
            props = e.get("Properties") or {}
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
            }
            for s in e["Stage IDs"]:
                stage_job.setdefault((app, s), jid)
        elif ev == "SparkListenerJobEnd":
            if (app, e["Job ID"]) in jobs:
                jobs[(app, e["Job ID"])]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_names[(app, si["Stage ID"])] = si["Stage Name"]
        else:  # task end
            tm = e.get("Task Metrics") or {}
            a = task_acc.setdefault((app, e["Stage ID"]), dict.fromkeys(
                ("tasks", "run", "cpu", "scan", "sw", "sr", "fw", "spill", "out"), 0.0
            ))
            sr = tm.get("Shuffle Read Metrics") or {}
            a["tasks"] += 1
            a["run"] += tm.get("Executor Run Time", 0) / 1000.0
            a["cpu"] += tm.get("Executor CPU Time", 0) / 1e9
            a["scan"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            a["sw"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            a["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            a["fw"] += sr.get("Fetch Wait Time", 0) / 1000.0
            a["spill"] += tm.get("Disk Bytes Spilled", 0)
            a["out"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)

    by_gid = {gid: i for i, (_n, gid, _a, _b) in enumerate(calls)}

    def owner(job: dict) -> int | None:
        if job["group"] in by_gid:
            return by_gid[job["group"]]
        for i, (_n, _g, t0, t1) in enumerate(calls):
            if t0 <= job["submit"] <= t1:
                return i
        return None

    call_jobs: dict[int, list[tuple]] = {}
    for jid, job in jobs.items():
        i = owner(job)
        if i is not None:
            call_jobs.setdefault(i, []).append(jid)
    stages_of: dict[tuple, list[tuple]] = {}
    for sid, jid in stage_job.items():
        stages_of.setdefault(jid, []).append(sid)

    per_kind: dict[str, list[dict[str, float]]] = {k: [] for k in SPARK_CALLS}
    sites: dict[str, dict[str, int]] = {k: {} for k in SPARK_CALLS}
    for i, (name, _gid, t0, t1) in enumerate(calls):
        jids = call_jobs.get(i, [])
        sids = [s for j in jids for s in stages_of.get(j, []) if s in task_acc]
        acc = [task_acc[s] for s in sids]
        spans = [
            (max(t0, jobs[j]["submit"]), min(t1, jobs[j]["end"] or t1)) for j in jids
        ]
        row = {
            "call_s": t1 - t0,
            "jobs": float(len(jids)),
            "stages": float(len(sids)),
            "tasks": sum(a["tasks"] for a in acc),
            "driver_s": max(0.0, (t1 - t0) - _union_s([s for s in spans if s[1] > s[0]])),
            "exec_run_s": sum(a["run"] for a in acc),
            "exec_cpu_s": sum(a["cpu"] for a in acc),
            "scan_mb": sum(a["scan"] for a in acc) / MB,
            "shuffle_write_mb": sum(a["sw"] for a in acc) / MB,
            "shuffle_read_mb": sum(a["sr"] for a in acc) / MB,
            "shuffle_fetch_wait_s": sum(a["fw"] for a in acc),
            "spill_mb": sum(a["spill"] for a in acc) / MB,
            "output_mb": sum(a["out"] for a in acc) / MB,
        }
        per_kind[name].append(row)
        for s in sids:
            label = re.sub(r"\S*/(ciff_spark/|(?=perfbench/))", "", stage_names.get(s, "?"))
            sites[name][label] = sites[name].get(label, 0) + 1

    metrics: dict[str, float] = {}
    for kind in SPARK_CALLS:
        for field in SPARK_FIELDS:
            metrics[f"{kind}.{field}"] = _mean(r[field] for r in per_kind[kind])
    builds = len(per_kind["build"])
    rank_jobs = sum(
        1 for job in jobs.values()
        if any(lo <= job["submit"] <= hi for lo, hi in rank_spans)
    )
    metrics["rank.jobs"] = rank_jobs / builds if builds else 0.0
    return metrics, sites


# ---------------------------------------------------------------------------
# serving spans
# ---------------------------------------------------------------------------

class ServeSpans:
    """Spans around the serving entry points, kept in memory.

    A search's self time is its wall minus the ``wand_topk`` spans inside
    it; geometry spans nest inside ``wand_topk``. Constructor and search
    spans count only at the outermost level (``FreshSearcher`` calls its
    base constructor)."""

    def __init__(self) -> None:
        self.opens_ms: list[float] = []
        self.searches: list[tuple[float, float, float]] = []  # total, wand, geometry ms
        self.wand_calls = 0
        self.blocks_total = 0
        self.blocks_decoded = 0
        self.base_blocks_total = 0    # the part the wand kernel saw: base lists
        self.base_blocks_decoded = 0
        self.rank_spans: list[tuple[float, float]] = []
        self._open_depth = 0
        self._paused = False
        self._search: list[list[float]] | None = None
        self._restore: list[tuple[object, str, object]] = []

    def _patch(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        setattr(owner, name, make(orig))
        self._restore.append((owner, name, orig))

    def install(self) -> None:
        from ciff_spark import build, serve, wand

        spans = self

        def timed_open(orig):
            def __init__(obj, *a, **kw):
                if spans._paused:
                    return orig(obj, *a, **kw)
                spans._open_depth += 1
                t0 = time.perf_counter()
                try:
                    return orig(obj, *a, **kw)
                finally:
                    spans._open_depth -= 1
                    if spans._open_depth == 0:
                        spans.opens_ms.append((time.perf_counter() - t0) * 1000)
            return __init__

        def timed_search(orig):
            def search(obj, query, *a, **kw):
                if spans._paused or spans._search is not None:
                    return orig(obj, query, *a, **kw)
                stats: dict = {}
                if len(a) < 2 and "stats" not in kw:
                    kw["stats"] = stats
                spans._search = [0.0, 0.0]
                t0 = time.perf_counter()
                try:
                    return orig(obj, query, *a, **kw)
                finally:
                    total = (time.perf_counter() - t0) * 1000
                    wand_ms, geom_ms = spans._search
                    spans._search = None
                    spans.searches.append((total, wand_ms, geom_ms))
                    spans.blocks_total += stats.get("total_blocks", 0)
                    spans.blocks_decoded += stats.get("decoded_blocks", 0)
            return search

        def timed_wand(orig):
            def wand_topk(*a, **kw):
                # the search's stats dict also counts FreshSearcher's segment
                # blocks; what changes inside the kernel call is the base's
                stats = kw.get("stats")
                b0 = (stats.get("total_blocks", 0), stats.get("decoded_blocks", 0)) \
                    if stats is not None else None
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    if spans._search is not None:
                        spans.wand_calls += 1
                        spans._search[0] += (time.perf_counter() - t0) * 1000
                        if b0 is not None:
                            spans.base_blocks_total += stats.get("total_blocks", 0) - b0[0]
                            spans.base_blocks_decoded += stats.get("decoded_blocks", 0) - b0[1]
            return wand_topk

        def timed_geometry(orig):
            def list_geometry(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    if spans._search is not None:
                        spans._search[1] += (time.perf_counter() - t0) * 1000
            return list_geometry

        def timed_rank(orig):
            def rank(*a, **kw):
                t0 = time.time()
                try:
                    return orig(*a, **kw)
                finally:
                    spans.rank_spans.append((t0, time.time()))
            return rank

        for cls in (serve.LocalSearcher, serve.FreshSearcher):
            self._patch(cls, "__init__", timed_open)
            self._patch(cls, "search", timed_search)
        self._patch(serve, "wand_topk", timed_wand)
        self._patch(wand, "list_geometry", timed_geometry)
        self._patch(build, "add_grouped_docid", timed_rank)
        self._patch(build, "add_dense_docid", timed_rank)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    def metrics(self) -> dict[str, float]:
        n = len(self.searches)
        return {
            "serve.open_ms": statistics.median(self.opens_ms) if self.opens_ms else 0.0,
            "serve.search_ms": _mean(s[0] for s in self.searches),
            "serve.search_self_ms": _mean(s[0] - s[1] for s in self.searches),
            "wand.topk_ms": _mean(s[1] for s in self.searches),
            "wand.geometry_ms": _mean(s[2] for s in self.searches),
            "wand.calls": float(self.wand_calls),
            "wand.blocks_total": float(self.blocks_total),
            "wand.blocks_decoded": float(self.blocks_decoded),
            "wand.decode_ratio": (
                self.blocks_decoded / self.blocks_total if self.blocks_total else 0.0
            ),
            "wand.base_blocks_total": float(self.base_blocks_total),
            "wand.base_blocks_decoded": float(self.base_blocks_decoded),
            "wand.seg_blocks": float(self.blocks_total - self.base_blocks_total),
            "serve.searches": float(n),
        }

    @contextmanager
    def paused(self):
        """Opens and searches made inside are not recorded (correctness
        checks)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def reset(self) -> None:
        """Forget the spans recorded so far (set-up and warm-up), so the
        serving metrics cover the measured phase only."""
        self.opens_ms.clear()
        self.searches.clear()
        self.rank_spans.clear()
        self.wand_calls = self.blocks_total = self.blocks_decoded = 0
        self.base_blocks_total = self.base_blocks_decoded = 0
