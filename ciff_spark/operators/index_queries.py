"""Inverted-index operators over the ``documents`` table (SURVEY §2.A/§2.D/§2.E).

Four statistics operators (A1-A4: the tf inversion, per-term df/cf, per-doc
lengths, header stats) plus BM25 top-k in three engines:
- relational (index-free, pure built-ins),
- index-backed exact (decode + vectorized scoring),
- index-backed Block-Max WAND (pruned).
All three are compared against ONE DuckDB oracle SQL per query — proving
index build + decode + pruning preserve exact scoring semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ciff_spark.build import BuildConfig, build_index
from ciff_spark.functions.scoring import SCORE_DECIMALS
from ciff_spark.functions.tokenizer import tokenize_expr, tokenize_sql
from ciff_spark.query import IndexReader, bm25_topk_relational, bm25_topk_sql
from ciff_spark.sources.testdata import load

# Fixed reference queries over the documents vocabulary: 'dup' is the one
# rare term (positive idf); everything else is Zipf-hot (negative idf).
Q_RARE = "dup"
Q_HOT = "batch"
Q_MIX = "dup batch scan"
Q_MULTI = "spark window merge vector"
K = 10

_TOKS_SQL = f"SELECT doc_id AS docid, unnest({tokenize_sql('text')}) AS term FROM documents"


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("docid"), F.explode(tokenize_expr("text")).alias("term")
    )


# ---------------------------------------------------------------------------
# A1: inversion (term, docid, tf)
# ---------------------------------------------------------------------------

def a1_invert_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _toks(spark, sf_dir).groupBy("term", "docid").agg(F.count("*").alias("tf"))


A1_SQL = f"SELECT term, docid, count(*)::BIGINT AS tf FROM ({_TOKS_SQL}) GROUP BY term, docid"


# ---------------------------------------------------------------------------
# A2: per-term document/collection frequency
# ---------------------------------------------------------------------------

def a2_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        a1_invert_tf(spark, sf_dir)
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").cast("long").alias("cf"))
    )


A2_SQL = (
    f"SELECT term, count(*)::BIGINT AS df, CAST(sum(tf) AS BIGINT) AS cf "
    f"FROM ({A1_SQL}) GROUP BY term"
)


# ---------------------------------------------------------------------------
# A3: per-doc length (Σtf — token count, the pinned doclength)
# ---------------------------------------------------------------------------

def a3_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _toks(spark, sf_dir).groupBy("docid").agg(F.count("*").alias("doclength"))


A3_SQL = f"SELECT docid, count(*)::BIGINT AS doclength FROM ({_TOKS_SQL}) GROUP BY docid"


# ---------------------------------------------------------------------------
# A4: collection header stats (≙ CIFF Header, proto:10-34)
# ---------------------------------------------------------------------------

def a4_index_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE scan: explode_outer keeps token-less docs as a NULL-term row, so
    # count_distinct(docid) counts every doc while count(term)/
    # count_distinct(term) ignore the NULLs — no separate docs.count() pass
    # (this header stat is the pattern the 100 TB path copies)
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("docid"),
        F.explode_outer(tokenize_expr("text")).alias("term"),
    )
    return toks.agg(
        F.count_distinct("docid").alias("num_docs"),
        F.count_distinct("term").alias("num_terms"),
        F.count("term").alias("total_terms"),
        F.round(
            F.count("term") / F.count_distinct("docid"), SCORE_DECIMALS
        ).alias("avgdl"),
    )


A4_SQL = f"""
SELECT (SELECT count(*)::BIGINT FROM documents) AS num_docs,
       count(DISTINCT term)::BIGINT AS num_terms,
       count(*)::BIGINT AS total_terms,
       round(count(*) * 1.0 / (SELECT count(*) FROM documents), {SCORE_DECIMALS}) AS avgdl
FROM ({_TOKS_SQL})
"""


# ---------------------------------------------------------------------------
# BM25 top-k — relational and index-backed, one shared oracle per query
# ---------------------------------------------------------------------------

def _bm25_relational(query: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return bm25_topk_relational(
            load(spark, sf_dir, "documents"), query, k=K, docid_col="doc_id"
        )

    return fn


def index_root_for(sf_dir: str) -> str:
    tag = sf_dir.strip("/").replace("/", "_")
    return f"/tmp/ciff_spark_idx/{tag}"


def documents_index(spark: SparkSession, sf_dir: str):
    """Build (or reuse — resume makes this a no-op when complete) the
    documents index for ``sf_dir``."""
    return build_index(
        load(spark, sf_dir, "documents"),
        index_root_for(sf_dir),
        id_cols=("doc_id",),
        docid_col="doc_id",
        config=BuildConfig(n_shards=8, n_pgroups=16),
        resume=True,
        description=f"documents index @ {sf_dir}",
    )


def _bm25_indexed(query: str, mode: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        documents_index(spark, sf_dir)
        reader = IndexReader(spark, index_root_for(sf_dir))
        # round_scores=True ranks on ROUNDED scores inside the reader (heap,
        # WAND threshold with the ½-ulp guard, final window) — the sound
        # version of the driver/oracle ordering contract; no over-fetch
        out = reader.topk([(0, query)], k=K, mode=mode, round_scores=True)
        return out.select(
            F.col("docid").alias("doc_id"), F.col("score")
        ).orderBy(F.desc("score"), F.asc("doc_id"))

    return fn


def _bm25_indexed_filtered(query: str, lang: str):
    """Metadata-filtered index-backed search: top-k restricted to documents
    with ``lang = <lang>`` while idf/avgdl stay collection-level — the
    standard filtered-search semantics (`IndexReader.topk(doc_filter=...)`,
    the kernel's allowed-doc mask). The oracle runs
    the SAME whole-collection BM25 pipeline with the result set re-joined
    against the metadata predicate."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        documents_index(spark, sf_dir)
        reader = IndexReader(spark, index_root_for(sf_dir))
        filt = (
            load(spark, sf_dir, "documents")
            .where(F.col("lang") == lang)
            .select(F.col("doc_id").cast("long").alias("docid"))
        )
        out = reader.topk(
            [(0, query)], k=K, mode="exact", round_scores=True, doc_filter=filt
        )
        return out.select(
            F.col("docid").alias("doc_id"), F.col("score")
        ).orderBy(F.desc("score"), F.asc("doc_id"))

    return fn


def _bm25_fresh(query: str, base_frac: float = 0.8):
    """Streaming-freshness correctness, driver-checkable: index the FIRST
    ``base_frac`` of documents as the base, stream the rest in as a segment
    (``append_batch``), search with ``FreshSearcher`` — whose recomputed
    base∪segment collection stats must make results rank-identical to plain
    BM25 over the WHOLE table, i.e. the same DuckDB oracle every bm25_* entry
    uses. Proves fresh ≡ rebuild against an independent engine."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        import pandas as pd

        from ciff_spark.serve import FreshSearcher
        from ciff_spark.store import IndexStore
        from ciff_spark.streaming.incremental import (
            _committed_segment_ids,
            append_batch,
        )

        docs = load(spark, sf_dir, "documents")
        n = docs.count()
        cut = int(n * base_frac)
        root = index_root_for(sf_dir) + "_fresh"
        store = IndexStore(root)
        # the reuse point is base AND committed segment: a crash between the
        # two must rebuild, not serve a base-only index forever
        if not (store.exists("meta") and _committed_segment_ids(store)):
            store.drop()
            build_index(
                docs.where(F.col("doc_id") < cut), root,
                id_cols=("doc_id",), docid_col="doc_id",
                config=BuildConfig(n_shards=8, n_pgroups=16),
                resume=False,
                description=f"fresh-base documents index @ {sf_dir}",
            )
            append_batch(
                spark, store, docs.where(F.col("doc_id") >= cut), 0,
                id_cols=("doc_id",),
            )
        hits = FreshSearcher(root).search(query, k=K, round_decimals=SCORE_DECIMALS)
        pdf = pd.DataFrame(hits, columns=["doc_id", "score"])
        return spark.createDataFrame(pdf, "doc_id bigint, score double")

    return fn


QUERIES: dict[str, tuple] = {
    "a1_invert_tf": (a1_invert_tf, A1_SQL),
    "a2_term_stats": (a2_term_stats, A2_SQL),
    "a3_doc_lengths": (a3_doc_lengths, A3_SQL),
    "a4_index_meta": (a4_index_meta, A4_SQL),
    "bm25_rel_rare": (_bm25_relational(Q_RARE), bm25_topk_sql(Q_RARE, K)),
    "bm25_rel_hot": (_bm25_relational(Q_HOT), bm25_topk_sql(Q_HOT, K)),
    "bm25_rel_mix": (_bm25_relational(Q_MIX), bm25_topk_sql(Q_MIX, K)),
    "bm25_rel_multi": (_bm25_relational(Q_MULTI), bm25_topk_sql(Q_MULTI, K)),
    "bm25_idx_exact_mix": (_bm25_indexed(Q_MIX, "exact"), bm25_topk_sql(Q_MIX, K)),
    "bm25_idx_wand_mix": (_bm25_indexed(Q_MIX, "wand"), bm25_topk_sql(Q_MIX, K)),
    "bm25_idx_wand_rare": (_bm25_indexed(Q_RARE, "wand"), bm25_topk_sql(Q_RARE, K)),
    "bm25_idx_wand_multi": (_bm25_indexed(Q_MULTI, "wand"), bm25_topk_sql(Q_MULTI, K)),
    # metadata-filtered search: results restricted to lang='es' docs,
    # collection-level idf/avgdl (doc_filter as the kernel's allowed mask)
    "bm25_idx_filtered_es": (
        _bm25_indexed_filtered(Q_MIX, "es"),
        bm25_topk_sql(Q_MIX, K, where="fd.lang = 'es'"),
    ),
    # streaming freshness: base index + streamed segment, FreshSearcher vs
    # the SAME whole-table oracle (fresh ≡ rebuild, checked cross-engine)
    "bm25_fresh_mix": (_bm25_fresh(Q_MIX), bm25_topk_sql(Q_MIX, K)),
}
