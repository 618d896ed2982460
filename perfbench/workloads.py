"""The three engine workloads of the benchmark.

Every workload reports the same end-to-end metrics (``metrics.E2E``), each defined
in terms of the job that workload does:

=========================  ==========================  ============================  ===========================
metric                     build_batch                 serve_hot                     fresh_ingest
=========================  ==========================  ============================  ===========================
setup_s                    stage the seeded corpus     open ``LocalSearcher`` and    copy the base index, open
                           parquet                     warm every pool query         ``FreshSearcher`` on it and
                                                                                     run one query
work_per_s                 turns indexed per second    queries per second (closed    segment turns made
                           of the measured (second)    loop, one in flight) over     searchable per second: three
                           ``build_index``             the whole run                 append + open cycles and
                                                                                     one compaction, each step's
                                                                                     fastest unit
read_ms                    measured 20-query batch     median query latency          median first-touch
                           pair: ``IndexReader.topk``                                ``FreshSearcher.search``
                           in ``wand`` then ``exact``                                latency, each query's
                                                                                     fastest unit
tail_ms                    slower batch pair of the    p99 query latency             p90 of the same
                           two rounds (the first call
                           of a fresh engine)
index_bytes_per_text_byte  the built index             the served base index         base + segments after a
                                                                                     unit's compaction
peak_rss_mb                driver process peak RSS over set-up and measurement (not the preparation of a cached
                           base index), Spark running except on serve_hot
=========================  ==========================  ============================  ===========================

Host speed on a shared machine drifts by a quarter or more over seconds to
minutes, while the work of a fresh unit does not: each step's fastest unit
is the run's steadiest estimate of what the engine costs, so fresh_ingest
reports it; serve_hot's thousand-odd queries average the drift out instead.
build_batch (two rounds) and
fresh_ingest (three units, each from a fresh copy of the base, on the same
segments and queries) do a fixed amount of work, whatever ``--seconds``
says, so a result never depends on how much a fast host fits in; serve_hot
replays its block for ``--seconds``. The first build round and the first
fresh unit pay the JVM's first build, append and compaction.

Each workload also fills ``Run.report`` with the job-specific figures
(``build_turns_per_s``, ``fresh_visible_s``, ``compact_s`` ...) that the
command prints to standard error and keeps in the run record; serve_hot's
``serve_p50_ms``, ``serve_p99_ms`` and ``serve_qps`` are its ``read_ms``,
``tail_ms`` and ``work_per_s``.

Inputs come from ``ciff_spark.sources.transcripts`` and the workload seed:
build_batch stages a corpus drawn with the seed; serve_hot and fresh_ingest
share one larger base index drawn with ``BASE_SEED`` (see ``base_index``),
so that a fresh segment stays a small share of it (about 3.5%), and the seed
drives their Zipf query log and appended segments. Query pools come from an
index's df-ranked vocabulary, which is seed-stable because the generator's
Zipf word ranks do not depend on the seed.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

K = 10  # top-k depth of every query


@dataclass(frozen=True)
class Sizes:
    corpus_convs: int   # build_batch corpus (~6.6 turns per conv)
    base_convs: int     # base index of serve_hot and fresh_ingest
    segment_convs: int  # one fresh_ingest segment
    pool: int           # distinct queries in the pool
    batch: int          # queries per IndexReader.topk batch
    burst: int          # first-touch queries per fresh_ingest cycle
    setup_reps: int     # set-ups per run; setup_s is their median
    block: int          # serve_hot queries per replay of the Zipf block
    units: int          # fresh_ingest units (three cycles and a compaction) per run


FULL = Sizes(corpus_convs=1500, base_convs=3000, segment_convs=100, pool=64, batch=20,
             burst=12, setup_reps=3, block=64, units=3)
SMOKE = Sizes(corpus_convs=60, base_convs=60, segment_convs=20, pool=8, batch=4, burst=4,
              setup_reps=2, block=16, units=1)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Run:
    """State of one workload run: inputs, checks and results."""

    engine: object           # starts Spark on first use (``engine.get()``)
    work: str
    cache: str               # survives the run: the shared base index
    seed: int
    seconds: float
    sizes: Sizes
    cores: int
    calls: object            # tracing.SparkCalls
    spans: object | None     # tracing.ServeSpans when tracing
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    stores: list = field(default_factory=list)  # store counters after each write
    write_amp: float = 0.0

    @property
    def spark(self):
        return self.engine.get()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED: {what}")

    def unrecorded(self):
        """Context for correctness checks: their opens and searches stay out
        of the serving spans."""
        return self.spans.paused() if self.spans is not None else contextlib.nullcontext()

    def record_store(self, root: str) -> None:
        from perfbench.tracing import store_counters

        self.stores.append(store_counters(root))

    def reset_peak_rss(self) -> None:
        """Restart the process's peak-RSS mark (Linux ``clear_refs`` 5), so
        ``peak_rss_mb`` covers set-up and measurement only, not the untimed
        preparation of a cached input."""
        with contextlib.suppress(OSError):
            with open("/proc/self/clear_refs", "w") as f:
                f.write("5")

    def start_measuring(self) -> None:
        """Drop what set-up and warm-up recorded, so layer metrics describe
        the measured phase."""
        self.calls.calls.clear()
        if self.spans is not None:
            self.spans.reset()

    def finish(self, setup: list[float], work_per_s: float, read_ms: float,
               tail_ms: float, index_bytes: int, text_bytes: int) -> None:
        self.e2e = {
            "setup_s": statistics.median(setup),
            "work_per_s": work_per_s,
            "read_ms": read_ms,
            "tail_ms": tail_ms,
            "index_bytes_per_text_byte": index_bytes / text_bytes,
            "peak_rss_mb": peak_rss_mb(),
        }


def peak_rss_mb() -> float:
    """Peak RSS of this process since start or the last ``reset_peak_rss``."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def stage_corpus(spark, path: str, n_convs: int, seed: int, cores: int) -> tuple[int, int]:
    """Write the seeded transcript corpus as parquet; (rows, text bytes)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    from ciff_spark.sources.transcripts import transcripts_df

    transcripts_df(spark, n_convs, seed=seed, partitions=cores).write.mode(
        "overwrite"
    ).parquet(path)
    text = papq.read_table(path, columns=["text"])["text"]
    return len(text), int(pc.sum(pc.binary_length(text)).as_py())


def build_config(cores: int):
    from ciff_spark.build import BuildConfig

    return BuildConfig(n_shards=2 * cores, n_pgroups=2 * cores)


#: corpus seed of the base index: every serve_hot and fresh_ingest run
#: starts from the same base; the workload seed drives what happens to it
BASE_SEED = 7


def engine_digest(pkg: str | None = None) -> str:
    """Hash of the Python sources under ``pkg`` (default: the engine), so a
    cached base index is never reused across engine versions."""
    import ciff_spark

    pkg = pkg or os.path.dirname(ciff_spark.__file__)
    h = hashlib.sha1()
    for dirpath, dirs, names in os.walk(pkg):
        dirs.sort()
        for name in sorted(n for n in names if n.endswith(".py")):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def base_index(run: Run) -> tuple[str, int, int, dict[int, list]]:
    """(root, rows, text bytes, exact reference of the query pool) of the
    base index of serve_hot and fresh_ingest. The first run in a checkout
    prepares it in a child process with its own Spark (not timed); later
    runs of the same engine, core count and sizes reuse it. Either way the
    measuring process never builds it, so its memory and its JVM are the
    same in every run."""
    done = os.path.join(run.cache, f"base-{engine_digest()}-{run.cores}-"
                        f"{run.sizes.base_convs}-{run.sizes.pool}")
    if not os.path.exists(os.path.join(done, "base.json")):
        subprocess.run(
            [sys.executable, "-c",
             "import sys; from perfbench.workloads import prepare_base; "
             "prepare_base(*sys.argv[1:])",
             done, str(run.cores), str(run.sizes.base_convs), str(run.sizes.pool),
             run.path("prepare")],
            stdout=sys.stderr, check=True,
        )
    with open(os.path.join(done, "base.json")) as f:
        meta = json.load(f)
    ref = {int(q): [(int(d), float(s)) for d, s in v] for q, v in meta["exact"]}
    return os.path.join(done, "index"), meta["rows"], meta["text_bytes"], ref


def prepare_base(done: str, cores: str, convs: str, pool: str, work: str) -> None:
    """Child process of ``base_index``: stage the ``BASE_SEED`` corpus,
    build the base index into ``done`` and record
    ``IndexReader.topk(mode="exact")`` of its query pool."""
    from pathlib import Path

    from ciff_spark.build import build_index
    from ciff_spark.query import IndexReader
    from perfbench.run import start_spark, stop_spark

    cores_n = int(cores)
    spark = start_spark(cores_n, Path(work), trace=False)
    try:
        tmp = f"{done}.tmp-{os.getpid()}"
        rows, text_bytes = stage_corpus(spark, f"{tmp}/corpus", int(convs), BASE_SEED, cores_n)
        t0 = time.perf_counter()
        build_index(spark.read.parquet(f"{tmp}/corpus"), f"{tmp}/index",
                    config=build_config(cores_n), resume=False)
        log(f"base index: {rows} turns built in {time.perf_counter() - t0:.2f}s")
        shutil.rmtree(f"{tmp}/corpus")
        queries = query_pool(f"{tmp}/index", int(pool))
        exact = IndexReader(spark, f"{tmp}/index").topk(
            list(enumerate(queries)), k=K, mode="exact"
        ).collect()
        with open(f"{tmp}/base.json", "w") as f:
            json.dump({"rows": rows, "text_bytes": text_bytes,
                       "exact": sorted(topk_rows(exact).items())}, f)
        os.rename(tmp, done)
    finally:
        stop_spark(spark)


def query_pool(root: str, n: int) -> list[str]:
    """``n`` queries in two shapes: every third one rare+mid+hot+hot (web
    shape, 2-35 ms warm), the rest rare+med (selective, about 1 ms warm).
    Keeping the cheap shape the majority of the Zipf traffic puts the median
    inside one shape instead of on the boundary between the two. Bands are
    df-rank ranges of the index vocabulary, scaled to its size."""
    import pyarrow.parquet as papq

    ts = papq.read_table(f"{root}/term_stats", columns=["term", "df"]).to_pandas()
    terms = ts.sort_values(["df", "term"], ascending=[False, True])["term"].tolist()
    v = len(terms)

    def band(lo: float, hi: float) -> list[str]:
        lo = int(lo)
        return terms[lo:max(lo + 1, int(hi))]

    hot = band(0, max(2, v * 0.001))
    med = band(len(hot), v * 0.01)
    mid = band(v * 0.01, v * 0.04)
    rare = band(v * 0.1, v * 0.6)
    pool = []
    for i in range(n):
        j = i // 3
        if i % 3 == 0:
            pool.append(
                f"{rare[(7 * j) % len(rare)]} {mid[(3 * j) % len(mid)]} "
                f"{hot[j % len(hot)]} {hot[(j + 1) % len(hot)]}"
            )
        else:
            pool.append(f"{rare[(7 * i + 3) % len(rare)]} {med[(2 * i) % len(med)]}")
    return pool


def zipf_block(n_pool: int, size: int, s: float = 0.9) -> np.ndarray:
    """Pool indexes in Zipf proportion: rank r appears about
    ``size * w_r`` times (at least once), w_r proportional to 1/(r+1)^s.
    Every replay shuffles the same block, so each does the same work."""
    w = 1.0 / np.arange(1, n_pool + 1) ** s
    counts = np.maximum(1, np.round(size * w / w.sum())).astype(np.int64)
    return np.repeat(np.arange(n_pool), counts)


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

def same_topk(a: list[tuple[int, float]], b: list[tuple[int, float]], tol: float = 1e-9) -> bool:
    """Rank identity up to floating-point summation order: equal scores
    position by position, and equal docid sets within every run of tied
    scores -- except the run that reaches the k-th place, whose members
    beyond the cut are legitimately arbitrary."""
    if len(a) != len(b):
        return False
    for (_, sa), (_, sb) in zip(a, b):
        if abs(sa - sb) > tol * max(1.0, abs(sa)):
            return False
    i = 0
    while i < len(a):
        j = i + 1
        while j < len(a) and abs(a[j][1] - a[i][1]) <= tol * max(1.0, abs(a[i][1])):
            j += 1
        if j < len(a) and {d for d, _ in a[i:j]} != {d for d, _ in b[i:j]}:
            return False
        i = j
    return True


def topk_rows(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, float]]] = {}
    for r in rows:
        out.setdefault(int(r["qid"]), []).append((int(r["docid"]), float(r["score"])))
    return {q: sorted(v, key=lambda x: (-x[1], x[0])) for q, v in out.items()}


# ---------------------------------------------------------------------------
# build_batch
# ---------------------------------------------------------------------------

def build_batch(run: Run) -> None:
    """Two cold ``build_index(resume=False)`` rounds over the staged corpus,
    each followed by one 20-query ``IndexReader.topk`` batch in ``wand``
    and one in ``exact`` mode; the second round is the measured one."""
    from ciff_spark.build import build_index
    from ciff_spark.query import IndexReader
    from ciff_spark.serve import LocalSearcher
    from perfbench.tracing import index_bytes

    spark, calls = run.spark, run.calls
    corpus = run.path("corpus")
    run.reset_peak_rss()
    setup = []
    for _ in range(run.sizes.setup_reps):
        t0 = time.perf_counter()
        rows, text_bytes = stage_corpus(
            spark, corpus, run.sizes.corpus_convs, run.seed, run.cores
        )
        setup.append(time.perf_counter() - t0)
    cfg = build_config(run.cores)
    df, root = spark.read.parquet(corpus), run.path("index")
    batch: list[tuple[int, str]] = []

    def one_round() -> tuple[float, float, float, dict]:
        t0 = time.perf_counter()
        with calls.call("build"):
            store = build_index(df, root, config=cfg, resume=False)
        t_build = time.perf_counter() - t0
        run.check(int(store.meta_local()["num_docs"]) == rows,
                  f"meta.num_docs != staged rows ({rows})")
        run.record_store(root)
        if not batch:
            batch.extend(enumerate(query_pool(root, run.sizes.batch)))
        reader = IndexReader(spark, root)
        t0 = time.perf_counter()
        with calls.call("topk_wand"):
            wand = reader.topk(batch, k=K, mode="wand").collect()
        t_wand = time.perf_counter() - t0
        t0 = time.perf_counter()
        with calls.call("topk_exact"):
            exact = reader.topk(batch, k=K, mode="exact").collect()
        t_exact = time.perf_counter() - t0
        wand, exact = topk_rows(wand), topk_rows(exact)
        for qid, _q in batch:
            run.check(same_topk(wand.get(qid, []), exact.get(qid, [])),
                      f"topk wand != exact for query {qid}")
        return t_build, t_wand, t_exact, exact

    # the first round pays the JVM's JIT, codegen and Python worker start:
    # it counts only as the tail (the first call a fresh engine serves)
    first = one_round()[:3]
    log("first round: build {:.3f}s, topk wand {:.3f}s, exact {:.3f}s".format(*first))
    run.start_measuring()
    t_build, t_wand, t_exact, exact = one_round()
    log(f"measured round: build {t_build:.3f}s, topk wand {t_wand:.3f}s, exact {t_exact:.3f}s")

    # the serving path must rank exactly like the distributed exact reader
    rng = np.random.default_rng(run.seed)
    with run.unrecorded():
        searcher = LocalSearcher(root)
        for qid in rng.choice(len(batch), size=min(8, len(batch)), replace=False).tolist():
            run.check(same_topk(searcher.search(batch[qid][1], k=K), exact.get(qid, [])),
                      f"LocalSearcher != IndexReader exact for query {qid}")

    run.report.update({
        "build_turns_per_s": (rows / t_build, "turns/s"),
        "topk_wand_batch_s": (t_wand, "s"),
        "topk_exact_batch_s": (t_exact, "s"),
    })
    run.finish(
        setup,
        work_per_s=rows / t_build,
        read_ms=(t_wand + t_exact) * 1000,
        tail_ms=max(t_wand + t_exact, first[1] + first[2]) * 1000,
        index_bytes=index_bytes(root), text_bytes=text_bytes,
    )


# ---------------------------------------------------------------------------
# serve_hot
# ---------------------------------------------------------------------------

def serve_hot(run: Run) -> None:
    """One long-lived ``LocalSearcher`` on the base index; every pool query
    is warmed in set-up, then a seeded Zipf log runs closed-loop (one query
    in flight)."""
    from ciff_spark.serve import LocalSearcher
    from perfbench.tracing import index_bytes

    root, _rows, text_bytes, ref = base_index(run)
    run.record_store(root)
    pool = query_pool(root, run.sizes.pool)
    run.reset_peak_rss()
    setup = []
    for _ in range(run.sizes.setup_reps):
        t0 = time.perf_counter()
        searcher = LocalSearcher(root)
        warm = [searcher.search(q, k=K) for q in pool]
        setup.append(time.perf_counter() - t0)
        for i, res in enumerate(warm):
            run.check(same_topk(res, ref.get(i, [])),
                      f"LocalSearcher != IndexReader exact for pool query {i}")

    run.start_measuring()
    block = zipf_block(len(pool), run.sizes.block)
    rng = np.random.default_rng(run.seed)
    replays: list[list[float]] = []
    # each replay runs on the next CPU in turn: on a shared host one CPU can
    # stay slow for longer than a run, and a client left where the scheduler
    # put it would report that CPU instead of the engine
    cpus = sorted(os.sched_getaffinity(0))
    t_end = time.perf_counter() + run.seconds
    try:
        while not replays or time.perf_counter() < t_end:
            os.sched_setaffinity(0, {cpus[len(replays) % len(cpus)]})
            lats = []
            for i in rng.permutation(block).tolist():
                t0 = time.perf_counter()
                res = searcher.search(pool[i], k=K)
                lats.append(time.perf_counter() - t0)
                run.check(same_topk(res, ref.get(i, [])),
                          f"hot search != reference for pool query {i}")
            replays.append(lats)
    finally:
        os.sched_setaffinity(0, cpus)

    # over every query of the run: the fastest of many short replays is an
    # extreme value that swings with the host more than the whole run does
    ms = sorted(x * 1000 for lats in replays for x in lats)
    run.report.update({
        "queries": (len(ms), "count"),
        "replays": (len(replays), "count"),
    })
    run.finish(setup,
               work_per_s=len(ms) / sum(ms) * 1000,
               read_ms=statistics.median(ms),
               tail_ms=statistics.quantiles(ms, n=100)[98],
               index_bytes=index_bytes(root), text_bytes=text_bytes)


# ---------------------------------------------------------------------------
# fresh_ingest
# ---------------------------------------------------------------------------

def fresh_ingest(run: Run) -> None:
    """Writes beside reads. Each unit starts from a fresh copy of the base
    index and runs three cycles -- ``append_batch`` of a seeded segment,
    open a new ``FreshSearcher``, a burst of first-touch queries -- and
    then ``compact_segments``. Every unit repeats the same segments and
    queries, and their number is fixed (``Sizes.units``)."""
    from ciff_spark.serve import FreshSearcher
    from ciff_spark.sources.transcripts import transcripts_pdf
    from ciff_spark.store import IndexStore
    from ciff_spark.streaming.incremental import append_batch, compact_segments
    from perfbench.tracing import bytes_written, index_bytes, snapshot

    base, base_rows, base_text, _ref = base_index(run)
    spark, calls, sizes = run.spark, run.calls, run.sizes
    pool = query_pool(base, sizes.pool)
    run.reset_peak_rss()
    setup = []
    for rep in range(sizes.setup_reps):
        live = run.path(f"setup{rep}")
        t0 = time.perf_counter()
        shutil.copytree(base, live)
        FreshSearcher(live).search(pool[0], k=K)
        setup.append(time.perf_counter() - t0)
        shutil.rmtree(live)

    def segment(cycle: int):
        pdf = transcripts_pdf(sizes.segment_convs, seed=run.seed * 7919 + cycle + 1)
        pdf["conv_id"] = f"s{cycle}_" + pdf["conv_id"]  # disjoint from the base
        return pdf

    segments = [segment(c) for c in range(3)]
    seg_turns = sum(len(pdf) for pdf in segments)
    seg_text = sum(int(pdf["text"].str.encode("utf-8").str.len().sum()) for pdf in segments)

    rng = np.random.default_rng(run.seed)
    run.start_measuring()
    visible: list[list[float]] = []  # per unit, per cycle: append + open
    compact: list[float] = []
    lats: list[list[float]] = []  # per unit, in query order: every unit asks the same
    for unit in range(sizes.units):
        live = run.path(f"unit{unit}")
        shutil.copytree(base, live)
        store = IndexStore(live)
        written = 0.0
        visible.append([])
        lats.append([])
        for cycle, pdf in enumerate(segments):
            sdf = spark.createDataFrame(pdf)
            before = snapshot(live)
            t0 = time.perf_counter()
            with calls.call("append"):
                append_batch(spark, store, sdf, cycle)
            searcher = FreshSearcher(live)
            visible[-1].append(time.perf_counter() - t0)
            written += bytes_written(before, snapshot(live))
            run.record_store(live)

            burst = [pool[(cycle * sizes.burst + b) % len(pool)] for b in range(sizes.burst)]
            results = []
            for q in burst:
                t0 = time.perf_counter()
                results.append(searcher.search(q, k=K))
                lats[-1].append(time.perf_counter() - t0)
            b = int(rng.integers(len(burst)))
            with run.unrecorded():
                run.check(same_topk(results[b], searcher.search(burst[b], k=K, prune=False)),
                          f"FreshSearcher prune=True != prune=False (unit {unit}, cycle {cycle})")
            log(f"unit {unit} cycle {cycle}: visible {visible[-1][-1]:.3f}s, burst median "
                f"{statistics.median(lats[-1][-len(burst):]) * 1000:.1f}ms")

        before = snapshot(live)
        t0 = time.perf_counter()
        with calls.call("compact"):
            compact_segments(spark, live)
        compact.append(time.perf_counter() - t0)
        written += bytes_written(before, snapshot(live))
        run.record_store(live)
        run.check(int(store.meta_local()["num_docs"]) == base_rows + seg_turns,
                  "compacted meta.num_docs != base + appended turns")
        log(f"unit {unit}: compact {compact[-1]:.3f}s")
        if unit == 0:
            # every unit ends in the same state: measure it once
            run.write_amp = written / seg_text
            final_bytes = index_bytes(live)
        shutil.rmtree(live)

    # the fastest unit step by step and query by query: every unit repeats
    # the same step on the same index state, so the minimum drops what the
    # JVM's first append and compaction (JIT, codegen, Python workers) and a
    # slow stretch of the host added
    ms = [min(xs) * 1000 for xs in zip(*lats)]
    visible_s = [min(xs) for xs in zip(*visible)]
    ingest_s = sum(visible_s) + min(compact)
    run.report.update({
        "fresh_visible_s": (statistics.median(visible_s), "s"),
        "fresh_search_p50_ms": (statistics.median(ms), "ms"),
        "fresh_search_p90_ms": (statistics.quantiles(ms, n=10)[8], "ms"),
        "compact_s": (min(compact), "s"),
        "units": (sizes.units, "count"),
    })
    run.finish(
        setup,
        work_per_s=seg_turns / ingest_s,
        read_ms=statistics.median(ms),
        tail_ms=statistics.quantiles(ms, n=10)[8],
        index_bytes=final_bytes, text_bytes=base_text + seg_text,
    )


WORKLOADS = {
    "build_batch": build_batch,
    "serve_hot": serve_hot,
    "fresh_ingest": fresh_ingest,
}
