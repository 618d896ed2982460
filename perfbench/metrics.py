"""Metric definitions of the engine benchmark: the single source the
command's output and ``BENCHMARK.json`` must agree with (the benchmark's
tests check that they do)."""

from __future__ import annotations

from perfbench.tracing import SPARK_CALLS, SPARK_FIELDS, STORE_TABLES

WORKLOADS = (
    ("build_batch",
     "cold Spark builds plus wand/exact topk batches: rank, tokenize, shuffle, "
     "encode, write and the distributed kernel do the work; serving layers idle"),
    ("serve_hot",
     "one warm LocalSearcher on a Zipf query log: the hot-list cache absorbs "
     "fetch and decode, so the wand kernel is the time; fetch changes read flat"),
    ("fresh_ingest",
     "append, open FreshSearcher, first-touch queries, compact every 3rd "
     "cycle: cold pyarrow fetch, Arrow->Python and decode dominate the reads"),
)

#: (name, unit, better, bound) -- every workload reports all of them
E2E = (
    ("setup_s", "s", "lower", 0.25),
    ("work_per_s", "1/s", "higher", 0.25),
    ("read_ms", "ms", "lower", 0.25),
    ("tail_ms", "ms", "lower", 0.25),
    ("index_bytes_per_text_byte", "ratio", "lower", 0.05),
    ("peak_rss_mb", "MB", "lower", 0.1),
)


def _spark_unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    return "count"


#: (name, unit, better) -- a traced run reports all of them, 0 where the
#: layer does not run on that workload
PER_LAYER = tuple(
    [(f"{k}.{f}", _spark_unit(f), "lower") for k in SPARK_CALLS for f in SPARK_FIELDS]
    + [("rank.call_s", "s", "lower"), ("rank.jobs", "count", "lower")]
    + [(f"store.{t}_{x}", u, "lower") for t in STORE_TABLES
       for x, u in (("mb", "MB"), ("files", "count"))]
    + [("store.postings_row_groups", "count", "lower"),
       ("store.write_amp", "ratio", "lower"),
       ("serve.open_ms", "ms", "lower"),
       ("serve.search_ms", "ms", "lower"),
       ("serve.search_self_ms", "ms", "lower"),
       ("serve.searches", "count", "higher"),
       ("wand.topk_ms", "ms", "lower"),
       ("wand.geometry_ms", "ms", "lower"),
       ("wand.calls", "count", "higher"),
       ("wand.blocks_total", "count", "lower"),
       ("wand.blocks_decoded", "count", "lower"),
       ("wand.decode_ratio", "ratio", "lower"),
       ("wand.base_blocks_total", "count", "lower"),
       ("wand.base_blocks_decoded", "count", "lower"),
       ("wand.seg_blocks", "count", "lower")]
    + [(f"traced.{n}", u, b) for n, u, b, _bound in E2E]
)

RUN_SECONDS = 10


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in E2E
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }
