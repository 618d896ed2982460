"""Engine benchmark: ``build_batch``, ``serve_hot`` and ``fresh_ingest``.

Run from the repository root::

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # every workload, tiny corpus

One process drives the engine: Spark at ``local[nproc]`` and one closed-loop
serving client. The last line of standard output is the result::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``metrics.E2E``;
``--trace 1`` turns the Spark event log and the serving spans on and reports
the per-layer metrics of ``metrics.PER_LAYER`` instead, including the
end-to-end metrics as measured under tracing (``traced.*``). Job-specific
figures, host context and, for traced runs, the tracing overhead go to
standard error and to ``.bench_run/records.jsonl``; Spark call sites go to
``.bench_run/trace-<workload>-<seed>.json``. The overhead compares with
untraced runs of the same workload, sources and ``--seconds``; when
there is none, the traced run makes one with its own seed after its traced
pass. Any failed check makes the run exit non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_run"
#: a run must end within 180 s; an untraced pass for the tracing overhead
#: starts only if one as long as the traced run fits before this
RUN_LIMIT_S = 170.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=("build_batch", "serve_hot", "fresh_ingest"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny corpus, no time budget; all workloads unless --workload")
    args = p.parse_args(argv)
    if args.workload is None and not args.smoke:
        p.error("--workload is required unless --smoke")
    return args


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let Spark's Python workers import the engine however the
    command was launched."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    (work / "eventlog").mkdir()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()


def start_spark(cores: int, work: Path, trace: bool):
    from ciff_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        log_dir = work / "eventlog"
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                     driver_memory="3g", extra_conf=conf)


class Engine:
    """Starts Spark on first use: serve_hot never starts the JVM."""

    def __init__(self, cores: int, work: Path, trace: bool) -> None:
        self.cores, self.work, self.trace = cores, work, trace
        self._spark = None

    def get(self):
        if self._spark is None:
            from perfbench.workloads import log

            t0 = time.perf_counter()
            self._spark = start_spark(self.cores, self.work, self.trace)
            log(f"spark local[{self.cores}] up in {time.perf_counter() - t0:.1f}s")
        return self._spark

    def current(self):
        return self._spark

    def stop(self) -> None:
        if self._spark is not None:
            stop_spark(self._spark)
            self._spark = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, []))
        todo.extend(kids.get(p, []))
    return out


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM, and wait for it and its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while workers and time.time() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in workers:
        os.kill(p, 9)


def _record(entry: dict) -> None:
    with open(OUT / "records.jsonl", "a") as f:
        f.write(json.dumps(entry) + "\n")


def _untraced_medians(key: dict) -> dict[str, float]:
    """Medians of the end-to-end metrics of the untraced runs recorded with
    the same workload, engine and benchmark sources, --seconds and core
    count."""
    path = OUT / "records.jsonl"
    if not path.exists():
        return {}
    vals: dict[str, list[float]] = {}
    for line in path.read_text().splitlines():
        r = json.loads(line)
        if not r["trace"] and all(r.get(k) == v for k, v in key.items()):
            for k, v in r["e2e"].items():
                vals.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def tracing_overhead(args, key: dict, e2e: dict, started: float) -> dict[str, float] | None:
    """Relative difference of a traced run's end-to-end metrics from the
    untraced runs of the same workload, sources and --seconds. Without such
    a record, one untraced pass of the same seed runs now if it fits in the
    run's time limit; otherwise the overhead is unavailable."""
    from perfbench.workloads import log

    name = key["workload"]
    base = _untraced_medians(key)
    if not base:
        spent = time.monotonic() - started
        left = RUN_LIMIT_S - spent
        if spent > left:
            log(f"{name}: tracing overhead unavailable: no untraced record of these "
                "sources and --seconds, and no time left for an untraced pass")
            return None
        log(f"{name}: no untraced record of these sources and --seconds; "
            "running one untraced pass for the tracing overhead")
        proc = subprocess.Popen(
            [sys.executable, str(Path(__file__).resolve()), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.DEVNULL,
        )
        try:
            proc.wait(timeout=left)
        except subprocess.TimeoutExpired:
            proc.kill()  # its Spark JVM exits when its standard input closes
            proc.wait()
            shutil.rmtree(OUT / f"work-{proc.pid}", ignore_errors=True)
        base = _untraced_medians(key)
    if not base:
        log(f"{name}: tracing overhead unavailable: the untraced pass did not finish")
        return None
    return {k: (e2e[k] - base[k]) / base[k] for k in e2e if base.get(k)}


def run_workloads(args, names: list[str], work: Path,
                  started: float) -> list[tuple[str, dict]]:
    from perfbench import metrics, tracing, workloads

    host = tracing.HostContext()
    cores = host.nproc
    sizes = workloads.SMOKE if args.smoke else workloads.FULL
    seconds = 0.0 if args.smoke else args.seconds
    engine = Engine(cores, work, bool(args.trace))
    runs = []
    try:
        for name in names:
            calls = tracing.SparkCalls(engine, bool(args.trace), str(ROOT / "ciff_spark"))
            spans = tracing.ServeSpans() if args.trace else None
            if spans is not None:
                spans.install()
            run = workloads.Run(engine, str(work / name), str(OUT / "cache"), args.seed,
                                seconds, sizes, cores, calls, spans)
            os.makedirs(run.work)
            try:
                workloads.WORKLOADS[name](run)
            finally:
                calls.uninstall()
                if spans is not None:
                    spans.uninstall()
            runs.append(run)
    finally:
        engine.stop()
    context = host.finish()
    sources = {"engine": workloads.engine_digest(),
               "bench": workloads.engine_digest(str(ROOT / "perfbench"))}

    results = []
    for name, run in zip(names, runs):
        e2e = run.e2e
        key = {"workload": name, **sources, "seconds": seconds, "cores": cores,
               "smoke": args.smoke}
        entry = {**key, "seed": args.seed, "trace": args.trace, "host": context,
                 "e2e": e2e, "report": {k: v for k, (v, _u) in run.report.items()}}
        for k, (v, u) in run.report.items():
            workloads.log(f"{name}: {k} = {v:.6g} {u}")
        if args.trace:
            layers, sites = tracing.summarize_event_log(
                str(work / "eventlog"), run.calls.calls, run.spans.rank_spans
            )
            builds = sum(1 for c in run.calls.calls if c[0] == "build")
            layers["rank.call_s"] = (
                sum(hi - lo for lo, hi in run.spans.rank_spans) / builds if builds else 0.0
            )
            layers.update(run.stores[-1])
            layers["store.write_amp"] = run.write_amp
            layers.update(run.spans.metrics())
            layers.update({f"traced.{k}": v for k, v in e2e.items()})
            values = {n: (layers[n], u) for n, u, _b in metrics.PER_LAYER}
            entry["layers"] = layers
            if not args.smoke:
                overhead = tracing_overhead(args, key, e2e, started)
                if overhead is not None:
                    entry["overhead_frac"] = overhead
                    workloads.log(f"{name}: tracing overhead vs untraced runs "
                                  + json.dumps({k: round(v, 4) for k, v in overhead.items()}))
            with open(OUT / f"trace-{name}-{args.seed}.json", "w") as f:
                json.dump({"call_sites": sites, "layers": layers, "stores": run.stores,
                           "host": context}, f, indent=1, sort_keys=True)
        else:
            values = {n: (e2e[n], u) for n, u, _b, _bound in metrics.E2E}
        workloads.log(f"{name}: host {context}")
        _record(entry)
        results.append((name, {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in values.items()},
        }))
    return results


def main(argv=None) -> int:
    started = time.monotonic()
    args = parse_args(argv)
    if not (ROOT / "ciff_spark" / "__init__.py").is_file():
        print(f"perfbench: no ciff_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # the engine's applyInPandas callbacks carry partial type hints
    warnings.filterwarnings("ignore", message="Cannot infer the eval type")
    names = [args.workload] if args.workload else ["build_batch", "serve_hot", "fresh_ingest"]
    OUT.mkdir(exist_ok=True)
    work = OUT / f"work-{os.getpid()}"
    prepare_env(work)
    try:
        results = run_workloads(args, names, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, res in results:
        if args.smoke:
            print(json.dumps({"workload": name, **res}))
    if not args.smoke:
        print(json.dumps(results[0][1]), flush=True)
    return 0 if all(r["failed"] == 0 for _n, r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
