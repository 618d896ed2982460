"""Query side: BM25 top-k over a built index (exact and Block-Max WAND), and
the index-free relational BM25 used for SQL-oracle parity.

Two engines implement the same pinned semantics:

- ``bm25_topk_relational``: pure DataFrame ops straight off a corpus table
  (tokenize → tf → doc/term stats → joins → score → top-k). 100% built-in
  expressions — Catalyst/AQE plan it, no Python in the loop. This is also the
  definition the DuckDB driver-oracle SQL mirrors fragment-by-fragment.
- ``IndexReader.topk``: one per-docid-shard Arrow stage over the
  pgroup- and term-pruned postings scan, doclengths from a per-reader
  broadcast (never a join against the wide docs table). ``mode="wand"`` runs
  the interval block-max kernel (ciff_spark.wand), which decodes only blocks
  whose upper bound can still beat the running top-k threshold;
  ``mode="exact"`` decodes every block (``exhaustive_topk``). Every doc lives
  in one shard, so a per-qid window over the per-shard top-k is exact.

All paths break ties by ascending docid and (for driver-facing outputs)
round scores to ``SCORE_DECIMALS``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ciff_spark.build import _dl_array
from ciff_spark.functions.scoring import (
    SCORE_DECIMALS,
    idf_col,
    idf_np,
    idf_sql,
    tfnorm_col,
    tfnorm_sql,
)
from ciff_spark.functions.tokenizer import tokenize_expr, tokenize_py, tokenize_sql
from ciff_spark.store import IndexStore
from ciff_spark.wand import PostingList, allowed_mask, exhaustive_topk, wand_topk

#: below this many docid shards, ``shared_theta`` seeding is skipped (the
#: result is identical either way): the seed pass is an extra Spark job plus
#: a driver round-trip, and with few remaining shards the blocks it lets the
#: kernel skip are worth less than the job it costs (measured in the r5
#: driver bench: 2.02 s seeded vs 1.70 s plain on the 8-shard index).
SHARED_THETA_MIN_SHARDS = 16


# ---------------------------------------------------------------------------
# Relational (index-free) BM25 — built-ins only
# ---------------------------------------------------------------------------

def bm25_topk_relational(
    corpus: DataFrame,
    query: str,
    k: int = 10,
    docid_col: str = "docid",
    text_col: str = "text",
    round_scores: bool = True,
) -> DataFrame:
    """Exact BM25 top-k via pure DataFrame algebra (no index, no UDF).

    Single-scan friendly: tokens are exploded once; doc stats and term stats
    are two small aggregations Catalyst executes with partial aggregation;
    the query-term filter prunes the exploded stream immediately.
    """
    qterms = sorted(set(tokenize_py(query)))
    if not qterms:
        spark = corpus.sparkSession
        return spark.createDataFrame([], f"{docid_col} bigint, score double")

    toks = corpus.select(
        F.col(docid_col).cast("long").alias("docid"),
        F.explode(tokenize_expr(text_col)).alias("term"),
    )
    # doc stats over the FULL corpus: token-less docs (empty/punct-only text)
    # still count toward N and avgdl — matching the index build's docs table
    # (doclength 0), so the relational and index engines share one idf/avgdl
    dl = corpus.select(
        F.col(docid_col).cast("long").alias("docid"),
        F.coalesce(F.size(tokenize_expr(text_col)), F.lit(0)).alias("dl"),
    )
    stats = dl.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).first()
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"])

    tf = (
        toks.where(F.col("term").isin(qterms))
        .groupBy("term", "docid")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "docid")
        .withColumn(
            "contrib",
            idf_col(F.col("df"), n_docs) * tfnorm_col(F.col("tf"), F.col("dl"), avgdl),
        )
        .groupBy("docid")
        .agg(F.sum("contrib").alias("score"))
    )
    if round_scores:
        # round BEFORE ranking: cross-engine f64 summation-order noise (~1 ulp)
        # must not flip the k-boundary or tie-breaks vs the oracle
        scored = scored.select("docid", F.round("score", SCORE_DECIMALS).alias("score"))
    out = scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)
    return out.withColumnRenamed("docid", docid_col) if docid_col != "docid" else out


def bm25_topk_sql(
    query: str,
    k: int = 10,
    table: str = "documents",
    docid_col: str = "doc_id",
    text_col: str = "text",
    where: str | None = None,
) -> str:
    """DuckDB oracle SQL equivalent of ``bm25_topk_relational`` — generated
    from the same pinned fragments (tokenizer + scoring), so the two cannot
    drift apart. ``where``: optional metadata predicate over alias ``fd``
    (a re-join of ``table``) restricting the RESULT set — idf/avgdl stay
    collection-level, mirroring ``IndexReader.topk(doc_filter=...)``."""
    qterms = sorted(set(tokenize_py(query)))
    terms_in = ", ".join(f"'{t}'" for t in qterms) or "''"
    filt = (
        f"JOIN {table} fd ON scored.docid = fd.{docid_col} WHERE {where}"
        if where
        else ""
    )
    return f"""
WITH toks AS (
  SELECT {docid_col} AS docid, unnest({tokenize_sql(text_col)}) AS term
  FROM {table}
),
dl AS (SELECT {docid_col} AS docid,
              coalesce(len({tokenize_sql(text_col)}), 0)::BIGINT AS dl
       FROM {table}),
stats AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT term, docid, count(*)::BIGINT AS tf FROM toks
  WHERE term IN ({terms_in}) GROUP BY term, docid
),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.docid,
         sum({idf_sql('df.df', 'stats.n')} * {tfnorm_sql('tf.tf', 'dl.dl', 'stats.avgdl')}) AS s
  FROM tf JOIN df USING (term) JOIN dl ON tf.docid = dl.docid CROSS JOIN stats
  GROUP BY tf.docid
)
SELECT scored.docid AS {docid_col}, round(s, {SCORE_DECIMALS}) AS score
FROM scored {filt}
ORDER BY round(s, {SCORE_DECIMALS}) DESC, scored.docid ASC LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Index-backed top-k
# ---------------------------------------------------------------------------

class IndexReader:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.store = IndexStore(root)
        # meta is one row: read it driver-side with pyarrow — a topk call
        # should cost exactly ONE Spark job, not warmup jobs for metadata
        self.meta = self.store.meta_local()
        avgdl = float(self.meta["avgdl"])
        # sound WAND pruning under avgdl drift (post-compaction) — see wand.py
        self.bound_scale = max(
            1.0, avgdl / (float(self.meta.get("bounds_avgdl") or avgdl) or 1.0)
        )
        self._dl_bc = None  # lazily-built doclength broadcast

    def _dl_broadcast(self):
        """Broadcast of the dense doclength array, built once per reader
        from a driver-side pyarrow read of shard_sizes (``_dl_array`` raises
        unless its rows tile [0, num_docs) exactly). Kernel tasks read this
        instead of shard_sizes: that table is one row group after compaction,
        so a per-task read would load all N doclengths anyway."""
        if self._dl_bc is None:
            self._dl_bc = self.spark.sparkContext.broadcast(
                _dl_array(self.store, int(self.meta["num_docs"]))
            )
        return self._dl_bc

    # -- helpers --------------------------------------------------------------

    def _query_frame(self, queries: list[tuple[int, str]]) -> tuple[pd.DataFrame, list[str]]:
        rows = []
        for qid, text in queries:
            for t in sorted(set(tokenize_py(text))):
                rows.append((int(qid), t))
        qpdf = pd.DataFrame(rows, columns=["qid", "term"])
        if qpdf.empty:
            return qpdf, []
        return qpdf, sorted(qpdf["term"].unique().tolist())

    def _idf_map(
        self, terms: list[str], scoring: str = "bm25"
    ) -> tuple[dict[str, float], list[int]]:
        """Per-term weight AND the terms' pgroup set from ``term_stats`` —
        driver-side pyarrow read with a term-IN predicate (row-group pruning
        on the sorted column), the same access path LocalSearcher uses. |q|
        rows come back; no Spark job. BM25 weight = idf(df, N); impact weight
        = 1.0 (the stored tf IS the quantized impact; the read still filters
        to terms the index knows). The pgroup list lets ``topk`` prune the
        postings scan to the queried pgroup partitions instead of opening
        every pgroup dir's footers (the same pruning LocalSearcher has had
        since r2 — the Spark reader scanned all of them until r6)."""
        if not terms:
            return {}, []
        import glob

        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        n = int(self.meta["num_docs"])
        tbl = ds.dataset(
            glob.glob(self.store.path("term_stats") + "/*.parquet"), format="parquet"
        ).to_table(columns=["term", "df", "pgroup"], filter=pc.field("term").isin(terms))
        pgroups = sorted({int(g) for g in tbl["pgroup"].to_pylist() if g is not None})
        if scoring == "impact":
            return dict.fromkeys(tbl["term"].to_pylist(), 1.0), pgroups
        return {
            t: float(idf_np(int(d), n))
            for t, d in zip(tbl["term"].to_pylist(), tbl["df"].to_pylist())
        }, pgroups

    # -- public API -----------------------------------------------------------

    def topk(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        mode: str = "wand",
        round_scores: bool = False,
        shared_theta: bool = False,
        scoring: str = "bm25",
        doc_filter: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k per query. Returns DataFrame(qid int, docid long, score double).

        ``mode="wand"`` runs the interval Block-Max kernel
        (``ciff_spark.wand.wand_topk``) per docid shard; ``mode="exact"``
        decodes and scores every posting of the query terms
        (``exhaustive_topk``). Both run in the same single per-shard stage.

        ``scoring="impact"`` sums stored tf values as quantized impacts
        (term weight 1.0, doclengths unused) — the reference's learned-sparse
        model where PISA's quantized scorer ranks on Σ impact
        (/root/reference/src/lib.rs:87-148). Both ``exact`` and ``wand``
        modes support it; WAND bounds come from per-block ``max_tf``.

        ``round_scores=True`` ranks on scores rounded to ``SCORE_DECIMALS``
        INSIDE the kernels (top-k, pruning threshold, final window) — the
        sound version of the driver/oracle ordering contract; no over-fetch.

        ``shared_theta=True`` (wand only) runs shard 0 first, collects each
        query's k-th score, and seeds every other shard's pruning threshold
        with it — one extra small job buying skipped blocks in all remaining
        shards; worthwhile when shards are large, overhead when the per-job
        fixed cost dominates (measured in bench.py).

        ``doc_filter``: optional single-column DataFrame of docids — results
        restrict to these docs (metadata-filtered search: the caller derives
        it from the docs table / any side predicate), while idf/avgdl stay
        COLLECTION-level (the standard filtered-search semantics). The ids
        are collected on the driver, validated (any id outside
        [0, num_docs) raises ``ValueError``) and broadcast as the kernel's
        ``allowed`` mask; exact mode only.
        """
        if scoring not in ("bm25", "impact"):
            # validate HERE, not only in the kernels — an empty query batch
            # would otherwise accept a typo'd scoring silently
            raise ValueError(f"unknown scoring {scoring!r}")
        if mode not in ("exact", "wand"):
            raise ValueError(f"unknown mode {mode!r}")
        allowed = None
        if doc_filter is not None:
            if mode != "exact":
                raise ValueError("doc_filter requires mode='exact'")
            ids = doc_filter.select(F.col(doc_filter.columns[0]).cast("long")).toPandas()
            allowed = self.spark.sparkContext.broadcast(
                allowed_mask(ids.iloc[:, 0].to_numpy(), int(self.meta["num_docs"]))
            )
        qpdf, terms = self._query_frame(queries)
        if not terms:
            return self.spark.createDataFrame([], "qid int, docid bigint, score double")
        idf, pgroups = self._idf_map(terms, scoring)
        qpdf = qpdf[qpdf["term"].isin(idf)].copy()
        qpdf["idf"] = qpdf["term"].map(idf)
        if qpdf.empty:
            return self.spark.createDataFrame([], "qid int, docid bigint, score double")
        qdf = self.spark.createDataFrame(qpdf)
        rd = SCORE_DECIMALS if round_scores else None

        # pgroup-partition-pruned + term-pruned scan: the pgroup IN filter
        # prunes whole pgroup=* partition dirs (PartitionFilters in the
        # plan), so only the queried terms' dirs are even opened; the term
        # IN predicate then row-group-prunes within them (PushedFilters).
        # Empty pgroup set with surviving terms would mean NULL pgroup
        # values in term_stats (no index this codebase writes, but a
        # mis-applied isin([]) would silently return nothing) — skip the
        # partition filter in that case rather than risk empty results.
        post = self.store.read(self.spark, "postings")
        if pgroups:
            post = post.where(F.col("pgroup").isin(pgroups))
        post = (
            post.where(F.col("term").isin(sorted(qpdf["term"].unique().tolist())))
            .select("term", "shard", "blocks")
        )
        pq = post.join(F.broadcast(qdf), "term")

        # seeding is one extra small job + a driver round-trip; it only
        # repays itself when there are enough OTHER shards for the seeded
        # threshold to prune (r5 driver bench: on the 8-shard documents
        # index it cost 2.02 s vs plain WAND's 1.70 s). Below the gate the
        # plain single-job path computes the identical top-k.
        n_shards_idx = -(-int(self.meta["num_docs"]) // int(self.meta["shard_size"]))
        if mode == "wand" and shared_theta and n_shards_idx >= SHARED_THETA_MIN_SHARDS:
            seed_pdf = self._score(pq.where(F.col("shard") == 0), k, rd, mode, scoring).toPandas()
            # a query's seed is sound only if shard 0 actually yielded a
            # FULL k (k attained scores >= its k-th) — else no floor
            theta0 = {
                int(q): float(s.min())
                for q, s in seed_pdf.groupby("qid")["score"]
                if len(s) >= k
            }
            rest = self._score(
                pq.where(F.col("shard") != 0), k, rd, mode, scoring, theta0=theta0
            )
            seed_df = self.spark.createDataFrame(
                seed_pdf, "qid int, docid bigint, score double"
            )
            return self._global_topk(seed_df.unionAll(rest), k)
        return self._global_topk(self._score(pq, k, rd, mode, scoring, allowed=allowed), k)

    def _shard_partitioned(self, pq: DataFrame) -> DataFrame:
        """Explicit hash repartition on ``shard`` ahead of the kernel stage.

        The scoring kernels are CPU-heavy Python over FEW bytes; AQE's
        byte-based partition coalescing collapses the post-join exchange to
        1-2 partitions (measured: all 33 shard groups of a 20-query batch on
        TWO Python workers — the kernel ran ~2-way parallel on a 32-core
        host). A user-specified repartition is exempt from AQE coalescing
        and the following groupBy reuses its partitioning, so the kernel
        stage keeps the configured shuffle parallelism. The partition count
        is NOT capped at the shard count: hashing s keys into only s
        buckets loses ~1/e of them to collisions (an 8-shard index would
        run ~5-way), while empty partitions cost nothing."""
        n = max(1, int(self.spark.conf.get("spark.sql.shuffle.partitions")))
        return pq.repartition(n, "shard")

    def _global_topk(self, scored: DataFrame, k: int) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .drop("rn")
        )

    def _score(
        self, pq: DataFrame, k: int, round_decimals: int | None, mode: str,
        scoring: str, theta0: dict[int, float] | None = None, allowed=None,
    ) -> DataFrame:
        """Per-shard top-k of every query: ONE ``groupBy("shard")`` Arrow
        stage whose kernel is ``wand_topk`` (``mode="wand"``) or
        ``exhaustive_topk`` (``mode="exact"``). Every doc lives in exactly
        one shard, so the per-qid merge of these rows is the exact global
        top-k. ``theta0``: per-qid seed thresholds (wand); ``allowed``:
        broadcast doc mask (exact)."""
        dlb = self._dl_broadcast()
        avgdl = float(self.meta["avgdl"])
        wand = mode == "wand"
        # impact bounds (max_tf) are avgdl-independent — no drift inflation
        bscale = 1.0 if scoring == "impact" else self.bound_scale

        def score_shard(table):
            import pyarrow as pa
            import pyarrow.compute as pc

            dl = dlb.value
            mask = None if allowed is None else allowed.value
            # one PostingList per row, shared ACROSS the qid loop: a batch's
            # shared (hot) terms build, decode and walk block geometry once
            # per task, not once per query. Keyed by (term, first-block
            # max_docid), NOT term alone: a compacted index holds base +
            # appended rows for the SAME (term, shard) with disjoint docid
            # ranges. Lists go to the kernels in key order, so a doc's score
            # sums its terms in the same order whatever order rows arrive in.
            blocks = table["blocks"].combine_chunks()
            first = pc.struct_field(pc.list_element(blocks, 0), "max_docid")
            keys = zip(
                table["term"].to_numpy(zero_copy_only=False).tolist(),
                first.to_numpy().tolist(),
            )
            plists: dict[tuple, PostingList] = {}
            by_qid: dict[int, list] = {}
            for i, (qid, w, key) in enumerate(zip(
                table["qid"].to_numpy().tolist(), table["idf"].to_numpy().tolist(), keys
            )):
                if key not in plists:
                    plists[key] = PostingList(blocks.slice(i, 1))
                by_qid.setdefault(qid, []).append((key, w))
            qids, docids, scores = [], [], []
            for qid, rows in sorted(by_qid.items()):
                lists = [(w, plists[key]) for key, w in sorted(rows)]
                if wand:
                    seed = theta0.get(qid) if theta0 else None
                    d, s = wand_topk(
                        lists, dl, 0, avgdl, k, round_decimals, seed,
                        bound_scale=bscale, scoring=scoring,
                    )
                else:
                    d, s = exhaustive_topk(
                        lists, dl, 0, avgdl, k, round_decimals,
                        scoring=scoring, allowed=mask,
                    )
                qids.append(np.full(len(d), qid, np.int32))
                docids.append(d)
                scores.append(s)
            return pa.table({
                "qid": pa.array(np.concatenate(qids), pa.int32()),
                "docid": pa.array(np.concatenate(docids), pa.int64()),
                "score": pa.array(np.concatenate(scores), pa.float64()),
            })

        local = self._shard_partitioned(pq).groupBy("shard").applyInArrow(
            score_shard, schema="qid int, docid bigint, score double"
        )
        if round_decimals is not None:
            # canonicalize kernel-rounded doubles through the same F.round the
            # oracle contract uses (idempotent on already-rounded values)
            local = local.select(
                "qid", "docid", F.round("score", round_decimals).alias("score")
            )
        return local
