"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

- brute-force cosine top-k: the exactness baseline. All-JVM: the dot product
  and norms are ``aggregate``/``zip_with`` expressions inside whole-stage
  codegen (double precision — DuckDB's ``list_cosine_similarity`` is float32,
  so the oracle SQL computes cosine manually in double via positional unnest).
- IVF partitioned search: restrict to the query's coarse cell — the scale
  path that scans 1/|clusters| of the corpus. Two quantizers: the ``label``
  column as a given assignment (``ann_ivf_label``) and a TRAINED
  fixed-iteration Lloyd's k-means (``ann_ivf_kmeans``, cross-engine
  reproducible; ``_probe2`` scans the two nearest cells).
- near-dup pairs: cosine ≥ threshold over candidate pairs.
- random-hyperplane LSH bucketing: deterministic md5-derived hyperplanes →
  sign-bit bucket per vector; the bucket-join is the 100 TB candidate
  generator (probes only matching buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ciff_spark.operators.dedup import hash60_sql
from ciff_spark.sources.testdata import load

K_ANN = 20
K_IVF = 10
# pair threshold: the testdata embeddings are near-isotropic (max pairwise
# cosine ≈ 0.51 at every sf), so a "classic" 0.95 threshold makes every pair
# query vacuously empty — 0.42 yields real pairs at sf0.001/0.01/0.1, which
# is what the oracle comparison needs to actually prove something
NEARDUP_COS = 0.42
N_PLANES = 8
# OR-amplified banding of the hyperplane bits for candidate generation:
# a pair is a candidate iff it agrees on ALL bits of >= 1 band
LSH_BAND_BITS = 2
LSH_N_BANDS = N_PLANES // LSH_BAND_BITS
NEARDUP_BLOCKS = 8  # row-block count for the exact all-pairs gemm
DIM = 64


def _round6_half_up(x: float) -> float:
    """Round to 6 decimals, halves UP — the ONE rounding rule all three
    engines share for driver-side distance math: Spark's ``F.round`` is
    HALF_UP and the DuckDB oracle rounds half away from zero, while Python's
    built-in ``round`` is banker's (half-even). Distances here are ≥ 0, so
    half-up and half-away-from-zero coincide."""
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _round6_spark(x: float) -> float:
    """EXACT emulation of Spark's ``F.round(double, 6)``: HALF_UP on the
    shortest decimal repr (java BigDecimal.valueOf ≙ Python ``repr``) —
    verified bit-identical against F.round on 350k values including
    boundary-adjacent ones. Used by the driver-side quantizer-init paths so
    they can skip a Spark job without any arithmetic drift."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _fold_sqdist(v: list[float], c: list[float]) -> float:
    """Left-fold Σ(v_i−c_i)² in dimension order — the identical IEEE op
    sequence as the ``zip_with`` + ``aggregate`` expressions in
    ``_sqdist_to`` (Python floats ARE f64), so driver- and executor-side
    distances are bit-equal."""
    acc = 0.0
    for x, y in zip(v, c):
        d = float(x) - y
        acc += d * d
    return acc


def _embeddings_local(
    sf_dir: str, *, max_id: int | None = None, vec_id: int | None = None
) -> list[tuple[int, list, int]]:
    """Driver-side pyarrow read of (vec_id, embedding, label) rows selected
    by ``vec_id == vec_id`` or ``vec_id < max_id``, ascending vec_id — a
    handful of rows (the query vector, the k quantizer-init vectors) must
    not cost a Spark job each. float32 components round-trip exactly."""
    import glob as _glob
    import os

    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    path = os.path.join(sf_dir, "embeddings.parquet")
    files = (
        [path]
        if os.path.isfile(path)
        else sorted(_glob.glob(f"{path}/**/*.parquet", recursive=True))
    )
    filt = (
        pc.field("vec_id") == vec_id
        if vec_id is not None
        else pc.field("vec_id") < max_id
    )
    tbl = ds.dataset(files, format="parquet").to_table(
        columns=["vec_id", "embedding", "label"], filter=filt
    )
    return sorted(
        zip(
            tbl["vec_id"].to_pylist(),
            tbl["embedding"].to_pylist(),
            tbl["label"].to_pylist(),
        )
    )


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0):
    _, emb, label = _embeddings_local(sf_dir, vec_id=vec_id)[0]
    return [float(x) for x in emb], int(label)


def _cos_to_query(q: list[float]) -> Column:
    qcol = F.array(*[F.lit(x) for x in q])
    qn = sum(x * x for x in q) ** 0.5
    return _dot(F.col("embedding"), qcol) / (_norm(F.col("embedding")) * F.lit(qn))


# DuckDB cosine in DOUBLE precision via positional unnest (generate_subscripts)
_COS_SQL = """
WITH qv AS (
  SELECT generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS qx
  FROM embeddings WHERE vec_id = {qid}
),
ev AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS vx
  FROM embeddings
),
cos AS (
  SELECT ev.vec_id, any_value(ev.label) AS label,
         sum(vx * qx) / (sqrt(sum(vx * vx)) * sqrt(sum(qx * qx))) AS c
  FROM ev JOIN qv USING (i) GROUP BY ev.vec_id
)
"""


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, _ = _query_vec(spark, sf_dir, 0)
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", F.round(_cos_to_query(q), 6).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(K_ANN)
    )


ANN_COSINE_SQL = (
    _COS_SQL.format(qid=0)
    + f"SELECT vec_id, round(c, 6) AS cos FROM cos WHERE vec_id != 0 "
    f"ORDER BY round(c, 6) DESC, vec_id ASC LIMIT {K_ANN}"
)


def ann_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse search: only the query's cluster (label) is scanned."""
    q, qlabel = _query_vec(spark, sf_dir, 0)
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.where((F.col("vec_id") != 0) & (F.col("label") == qlabel))
        .select("vec_id", F.round(_cos_to_query(q), 6).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(K_IVF)
    )


ANN_IVF_SQL = (
    _COS_SQL.format(qid=0)
    + f"""SELECT vec_id, round(c, 6) AS cos FROM cos
WHERE vec_id != 0 AND label = (SELECT label FROM embeddings WHERE vec_id = 0)
ORDER BY round(c, 6) DESC, vec_id ASC LIMIT {K_IVF}"""
)


_PACKED_SCHEMA = "bid int, n int, dim int, ids binary, mat binary"


def _packed_blocks(spark: SparkSession, sf_dir: str, n_blocks: int) -> DataFrame:
    """embeddings → one row per row-block: (bid, n, dim, ids int64-LE bytes,
    L2-normalized matrix float64-LE bytes). Fully distributed — each block is
    packed by the executor holding its rows; block rows are megabytes even
    with thousands of vectors per block, so they ride joins cheaply."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def pack(key, pdf):
        pdf = pdf.sort_values("vec_id")
        mat = np.stack([np.asarray(v, np.float64) for v in pdf["embedding"]])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        return pd.DataFrame(
            [{
                "bid": int(key[0]),
                "n": len(pdf),
                "dim": unit.shape[1],
                "ids": pdf["vec_id"].to_numpy(np.int64).tobytes(),
                "mat": unit.tobytes(),
            }]
        )

    return (
        emb.withColumn("bid", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int"))
        .groupBy("bid")
        .applyInPandas(pack, schema=_PACKED_SCHEMA)
    )


def neardup_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine ≥ threshold — EXACT, via distributed block-pair
    matrix multiply: vectors pack into ``NEARDUP_BLOCKS`` row-blocks, the
    driver enumerates the upper-triangle block-pair list (a tiny equi-join
    key table, never a nested-loop join), and each task runs one BLAS gemm
    per block pair. No driver collect, no full-matrix broadcast — intrinsic
    O(N²/B) exact cost spread over B(B+1)/2 independent tasks. This is the
    exactness baseline/verifier; ``neardup_lsh_pairs`` is the sub-quadratic
    candidate-generation path at corpus scale."""
    import numpy as np
    import pandas as pd

    # pack ONCE, eagerly: the self-join's two legs otherwise re-run the whole
    # embeddings scan + pack pass each (measured as two identical python
    # stages in the plan); the checkpoint also gives the planner real sizes,
    # so both legs resolve to broadcast joins of block rows
    blocks = _packed_blocks(spark, sf_dir, NEARDUP_BLOCKS).localCheckpoint(eager=True)
    bp = [(i, j) for i in range(NEARDUP_BLOCKS) for j in range(NEARDUP_BLOCKS) if i <= j]
    pair_keys = spark.createDataFrame(bp, "bi int, bj int")
    joined = (
        pair_keys.join(blocks.alias("a"), F.col("bi") == F.col("a.bid"))
        .join(blocks.alias("b"), F.col("bj") == F.col("b.bid"))
        .select(
            "bi", "bj",
            F.col("a.n").alias("n_a"), F.col("a.dim").alias("dim_a"),
            F.col("a.ids").alias("ids_a"), F.col("a.mat").alias("mat_a"),
            F.col("b.n").alias("n_b"), F.col("b.dim").alias("dim_b"),
            F.col("b.ids").alias("ids_b"), F.col("b.mat").alias("mat_b"),
        )
        .repartition(len(bp))
    )
    thr = NEARDUP_COS

    def gemm(iterator):
        for pdf in iterator:
            for r in pdf.itertuples(index=False):
                ua = np.frombuffer(r.mat_a, np.float64).reshape(r.n_a, r.dim_a)
                ub = np.frombuffer(r.mat_b, np.float64).reshape(r.n_b, r.dim_b)
                ia = np.frombuffer(r.ids_a, np.int64)
                ib = np.frombuffer(r.ids_b, np.int64)
                sims = np.round(ua @ ub.T, 6)
                hit = sims >= thr
                if r.bi == r.bj:
                    hit &= ia[:, None] < ib[None, :]  # strict upper triangle
                ai, bj = np.nonzero(hit)
                if ai.size:
                    v1 = np.minimum(ia[ai], ib[bj])
                    v2 = np.maximum(ia[ai], ib[bj])
                    yield pd.DataFrame({"v1": v1, "v2": v2, "cos": sims[ai, bj]})

    return joined.mapInPandas(gemm, schema="v1 bigint, v2 bigint, cos double")


NEARDUP_SQL = f"""
WITH ev AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS vx
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(vx * vx)) AS n FROM ev GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2, sum(a.vx * b.vx) AS d
  FROM ev a JOIN ev b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT v1, v2, round(d / (n1.n * n2.n), 6) AS cos
FROM dots JOIN norms n1 ON v1 = n1.vec_id JOIN norms n2 ON v2 = n2.vec_id
WHERE round(d / (n1.n * n2.n), 6) >= {NEARDUP_COS}
"""


def lsh_hyperplane_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit bucket per vector from md5-derived deterministic hyperplanes:
    plane p, dim i weight = hash60(p:i) / 2^59 - 1.0  ∈ [-1, 1)."""
    emb = load(spark, sf_dir, "embeddings")
    ev = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "vx")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), F.col("vx").cast("double").alias("vx"))
    w = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("p"), F.col("i"))), 1, 15), 16, 10
    ).cast("double") / F.lit(float(2**59)) - F.lit(1.0)
    dots = (
        # per-row ×N_PLANES expansion via a literal array explode — a narrow
        # op (no join of any kind in the plan)
        ev.select(
            "vec_id", "i", "vx",
            F.explode(F.array(*[F.lit(p) for p in range(N_PLANES)])).alias("p"),
        )
        .withColumn("w", w)
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("vx") * F.col("w")).alias("d"))
    )
    return (
        dots.withColumn(
            "bit",
            F.expr("CASE WHEN d > 0 THEN shiftleft(CAST(1 AS BIGINT), p) ELSE CAST(0 AS BIGINT) END"),
        )
        .groupBy("vec_id")
        .agg(F.sum("bit").cast("long").alias("bucket"))
    )


_W_SQL = hash60_sql("p || ':' || i") + " / POW(2, 59) - 1.0"
LSH_BUCKETS_SQL = f"""
WITH ev AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS vx
  FROM embeddings
),
dots AS (
  SELECT vec_id, p, sum(vx * ({_W_SQL})) AS d
  FROM ev, generate_series(0, {N_PLANES - 1}) AS t(p)
  GROUP BY vec_id, p
)
SELECT vec_id,
       CAST(sum(CASE WHEN d > 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
FROM dots GROUP BY vec_id
"""


def neardup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with LSH-bucketed candidate generation — the
    sub-quadratic 100 TB path: hyperplane sign bits band into
    ``LSH_N_BANDS`` bands of ``LSH_BAND_BITS``; a pair is a candidate iff it
    agrees on every bit of at least one band (OR-amplification); candidates
    come from a per-band equi-join (shuffle on band value, never all-pairs)
    and are verified with the exact double-precision cosine. Semantics =
    "pairs ≥ threshold among same-band vectors" — the oracle SQL applies the
    identical band restriction, so recall of the banding is part of the
    checked contract, not hidden."""
    buckets = lsh_hyperplane_buckets(spark, sf_dir)
    mask = (1 << LSH_BAND_BITS) - 1
    bands = None
    for b in range(LSH_N_BANDS):
        band = buckets.select(
            "vec_id",
            F.lit(b).alias("band"),
            F.expr(f"shiftright(bucket, {b * LSH_BAND_BITS}) & {mask}").alias("bv"),
        )
        bands = band if bands is None else bands.unionAll(band)
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("v1"), F.col("y.vec_id").alias("v2"))
        .distinct()
    )
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e1 = emb.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("emb1"))
    e2 = emb.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("emb2"))
    return (
        cand.join(e1, "v1")
        .join(e2, "v2")
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("emb1"), F.col("emb2"))
                / (_norm(F.col("emb1")) * _norm(F.col("emb2"))),
                6,
            ),
        )
        .where(F.col("cos") >= NEARDUP_COS)
        .select("v1", "v2", "cos")
    )


_LSH_BANDS_SQL = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, (bucket >> {b * LSH_BAND_BITS}) & {(1 << LSH_BAND_BITS) - 1} AS bv FROM buckets"
    for b in range(LSH_N_BANDS)
)

NEARDUP_LSH_SQL = f"""
WITH ev AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS vx
  FROM embeddings
),
pdots AS (
  SELECT vec_id, p, sum(vx * ({_W_SQL})) AS d
  FROM ev, generate_series(0, {N_PLANES - 1}) AS t(p)
  GROUP BY vec_id, p
),
buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN d > 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
  FROM pdots GROUP BY vec_id
),
bands AS ({_LSH_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id
),
norms AS (SELECT vec_id, sqrt(sum(vx * vx)) AS n FROM ev GROUP BY vec_id),
dots AS (
  SELECT v1, v2, sum(a.vx * b.vx) AS d
  FROM cand JOIN ev a ON a.vec_id = v1 JOIN ev b ON b.vec_id = v2 AND a.i = b.i
  GROUP BY v1, v2
)
SELECT v1, v2, round(d / (n1.n * n2.n), 6) AS cos
FROM dots JOIN norms n1 ON v1 = n1.vec_id JOIN norms n2 ON v2 = n2.vec_id
WHERE round(d / (n1.n * n2.n), 6) >= {NEARDUP_COS}
"""


# ---------------------------------------------------------------------------
# IVF with a TRAINED coarse quantizer: fixed-iteration Lloyd's k-means
# ---------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ITERS = 3
_KMEANS_CACHE: dict[tuple, list[list[float]]] = {}
#: root for materialized ANN layouts (IVF partitions, PQ/IVFADC codes) —
#: content-addressed by the embeddings table's fingerprint, so entries are
#: never stale and the directory is safe to clear. On a cluster point this
#: at shared storage (every executor must read it); the env override is the
#: deployment knob.
import os as _os

IVF_MATERIALIZE_ROOT = _os.environ.get(
    "CIFF_SPARK_ANN_ROOT", "/tmp/ciff_spark_ivf"
)


def _embeddings_fingerprint(sf_dir: str) -> str:
    """Content fingerprint (path, size, mtime_ns per file) of the embeddings
    table. Keys the k-means memo AND the materialized IVF layout, so a table
    rewritten in place under a live session retrains/rematerializes instead
    of serving stale centroids or a stale partition layout."""
    import glob as _glob
    import hashlib
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    files = (
        [path]
        if os.path.isfile(path)
        else sorted(_glob.glob(f"{path}/**/*.parquet", recursive=True))
    )
    h = hashlib.md5()
    for f in files:
        st = os.stat(f)
        h.update(f"{f}|{st.st_size}|{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def _sqdist_to(c: list[float]) -> Column:
    ccol = F.array(*[F.lit(x) for x in c])
    return F.aggregate(
        F.zip_with(
            F.col("embedding"), ccol,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign_batch_np(mat, subcents) -> "np.ndarray":
    """Vectorized argmin_j round6(‖v−c_j‖²) with ties to the smaller j,
    bit-identical to the ``_assign_cluster``/``_assign_sub`` expressions:
    float32→float64 casts are exact, the accumulation loops dimensions in
    order (the same IEEE op sequence as the zip_with/aggregate left fold,
    applied per (vector, centroid) lane), rounding is the exact F.round
    emulation, and np.argmin returns the first (smallest-j) minimum."""
    import numpy as np

    C = np.asarray(subcents, np.float64)
    acc = np.zeros((mat.shape[0], C.shape[0]), np.float64)
    for i in range(C.shape[1]):
        d = mat[:, i][:, None] - C[None, :, i]
        acc += d * d
    r6 = np.frompyfunc(_round6_spark, 1, 1)
    return np.argmin(r6(acc).astype(np.float64), axis=1).astype(np.int32)


def _assign_cluster_train(cents: list[list[float]]) -> Column:
    """TRAINING-loop variant of ``_assign_cluster``: one Arrow-vectorized
    pandas UDF instead of a k×dim literal expression tree. Numerically
    bit-identical (see ``_assign_batch_np``); exists because each Lloyd's
    iteration changes the centroid literals, so the expression form pays a
    fresh ~1 s whole-stage-codegen compile per iteration while the UDF plan
    is literal-free and its NumPy body is the guide's vectorized-native
    sweet spot. The DECLARED assignment outputs (ann_kmeans_clusters, the
    materialized layouts) keep the pure-codegen expressions — that plan
    shape is guard-tested and compiles once."""
    import pandas as pd

    c = [[float(x) for x in v] for v in cents]

    def assign(embs):
        import numpy as np

        if not len(embs):
            return pd.Series([], dtype="int32")
        mat = np.stack([np.asarray(v, np.float64) for v in embs.to_numpy()])
        return pd.Series(_assign_batch_np(mat, c))

    # real annotation objects: `from __future__ import annotations` turns
    # inline hints into strings pyspark's signature resolver rejects
    assign.__annotations__ = {"embs": pd.Series, "return": pd.Series}
    return F.pandas_udf(assign, "int")(F.col("embedding"))


def _assign_subs_train(cents: list[list[list[float]]]) -> Column:
    """TRAINING-loop variant of the per-subspace ``_assign_sub`` columns:
    one pandas UDF producing the array of all m subspace codes (element_at
    recovers c_s). Same exactness argument as ``_assign_cluster_train``."""
    import pandas as pd

    c = [[[float(x) for x in cw] for cw in sub] for sub in cents]
    m = len(c)
    dsub = len(c[0][0])

    def assign(embs):
        import numpy as np

        if not len(embs):
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, np.float64) for v in embs.to_numpy()])
        codes = [
            _assign_batch_np(mat[:, s * dsub : (s + 1) * dsub], c[s])
            for s in range(m)
        ]
        return pd.Series(list(np.stack(codes, axis=1)))

    assign.__annotations__ = {"embs": pd.Series, "return": pd.Series}
    return F.pandas_udf(assign, "array<int>")(F.col("embedding"))


def _assign_cluster(cents: list[list[float]]) -> Column:
    """argmin over centroids of round(‖v−c‖², 6), ties to the smaller
    cluster id — array_min over struct<d, j> is the lexicographic argmin."""
    return F.array_min(
        F.array(
            *[
                F.struct(F.round(_sqdist_to(c), 6).alias("d"), F.lit(j).alias("j"))
                for j, c in enumerate(cents)
            ]
        )
    )["j"]


def kmeans_centroids(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> list[list[float]]:
    """Deterministic fixed-iteration Lloyd's over the embeddings — the
    trained coarse quantizer for IVF. Built to be CROSS-ENGINE REPRODUCIBLE
    (the DuckDB oracle re-runs the identical unrolled iterations):

    - init: the first ``k`` vectors (vec_id < k), components rounded to 6;
    - each iteration: assign by round(‖v−c‖², 6) with ties to the smaller
      cluster id, then centroid = per-component round(avg, 6) (rounding at
      every stage absorbs the engines' different summation orders — the
      same pin every rounded-score entry uses); an emptied cluster keeps
      its previous centroid.

    Per iteration: one distributed assignment pass (codegen'd expressions,
    no UDF) + one (cluster, dim) aggregation; only the k×DIM centroid table
    ever reaches the driver — the 100 TB shape for Lloyd's on Spark.

    Memoized per (embeddings fingerprint, k, iters): the result is a
    deterministic pure function of the embeddings table — the fingerprint
    (file sizes + mtimes) keys the memo so a rewritten table retrains while
    the driver entries sharing one immutable table train once."""
    key = (_embeddings_fingerprint(sf_dir), k, iters)
    hit = _KMEANS_CACHE.get(key)
    if hit is not None:
        return hit
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # init = the first k vectors, rounded — a k-row read, done driver-side
    # (pyarrow + the exact F.round emulation) instead of a Spark job
    cents = [
        [_round6_spark(x) for x in e]
        for _, e, _ in _embeddings_local(sf_dir, max_id=k)
    ]
    for _ in range(iters):
        assigned = emb.select(
            "vec_id", "embedding", _assign_cluster_train(cents).alias("cl")
        )
        means = (
            assigned.select("cl", F.posexplode("embedding").alias("i", "vx"))
            .groupBy("cl", "i")
            .agg(F.round(F.avg(F.col("vx").cast("double")), 6).alias("cx"))
            .collect()
        )
        by_cl: dict[int, dict[int, float]] = {}
        for r in means:
            by_cl.setdefault(int(r["cl"]), {})[int(r["i"])] = float(r["cx"])
        cents = [
            [by_cl[j][i] for i in range(len(cents[j]))] if j in by_cl else cents[j]
            for j in range(k)
        ]
    _KMEANS_CACHE[key] = cents
    return cents


def ann_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster) under the final trained centroids — the full IVF
    partition assignment, value-checked against the oracle's re-derivation
    of the whole Lloyd's pipeline."""
    cents = kmeans_centroids(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    return emb.select("vec_id", _assign_cluster(cents).cast("int").alias("cluster"))


def ivf_materialized(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVF layout ONCE: the embeddings rewritten
    cluster-PARTITIONED under the trained quantizer (``partitionBy(cluster)``
    — one assignment pass at build time). Queries then PRUNE PARTITIONS to
    their probed cells instead of re-evaluating k distances per row per
    query — the IVF storage contract (scan 2/k of the *storage*). The layout
    is content-addressed by the embeddings fingerprint + (k, iters), so a
    rewritten table rematerializes and the build is a no-op when current.
    Returns the layout path."""
    import os

    root = (
        f"{IVF_MATERIALIZE_ROOT}/{_embeddings_fingerprint(sf_dir)}"
        f"_k{KMEANS_K}i{KMEANS_ITERS}"
    )
    if os.path.exists(f"{root}/_SUCCESS"):
        return root
    cents = kmeans_centroids(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    (
        emb.withColumn("cluster", _assign_cluster(cents).cast("int"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(root)
    )
    return root


def _probe_cells(spark: SparkSession, sf_dir: str, q: list[float], nprobe: int) -> list[int]:
    """The query's ``nprobe`` nearest coarse cells under the trained
    quantizer — driver-side math over k centroids (half-up rounding: the one
    rule the Spark assignment and the DuckDB oracle share)."""
    cents = kmeans_centroids(spark, sf_dir)
    ranked = sorted(
        (_round6_half_up(sum((float(x) - c) ** 2 for x, c in zip(q, cents[j]))), j)
        for j in range(len(cents))
    )
    return [j for _, j in ranked[:nprobe]]


def _ivf_kmeans_query(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """Shared body of the trained-quantizer IVF entries: prune the
    MATERIALIZED cluster-partitioned layout to the probed cells (partition
    pruning — plan-guard-tested), exact cosine within them."""
    q, _ = _query_vec(spark, sf_dir, 0)
    cells = _probe_cells(spark, sf_dir, q, nprobe)
    emb = spark.read.parquet(ivf_materialized(spark, sf_dir))
    return (
        emb.where((F.col("vec_id") != 0) & F.col("cluster").isin(cells))
        .select("vec_id", F.round(_cos_to_query(q), 6).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(K_IVF)
    )


def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with the trained quantizer: scan ONLY the query's coarse
    cell — a pruned partition of the materialized IVF layout, exact cosine
    within it. The scale path reads 1/k of the storage."""
    return _ivf_kmeans_query(spark, sf_dir, nprobe=1)


def ann_ivf_kmeans_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF (nprobe=2): scan the query's TWO nearest coarse
    cells — the standard recall knob for a trained quantizer (a true
    neighbor just across a cell boundary is invisible to nprobe=1); cost is
    still 2/k of the storage, never a full scan."""
    return _ivf_kmeans_query(spark, sf_dir, nprobe=2)


def _kmeans_sql_ctes(k: int = KMEANS_K, iters: int = KMEANS_ITERS) -> str:
    """Unrolled Lloyd's as DuckDB CTEs: ev (positional components), c0
    (init), then per iteration an assignment CTE (argmin of rounded sq-dist,
    ties to smaller cluster) and a centroid CTE (rounded per-component avg,
    COALESCE keeps an emptied cluster's previous centroid). Exposes
    ``c{iters}`` (final centroids) and ``afin`` (final assignment)."""
    parts = [
        """ev AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS vx
  FROM embeddings
)""",
        f"""c0 AS (
  SELECT vec_id AS cl, i, round(vx, 6) AS cx FROM ev WHERE vec_id < {k}
)""",
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        parts.append(f"""d{t} AS (
  SELECT ev.vec_id, {prev}.cl,
         round(sum((ev.vx - {prev}.cx) * (ev.vx - {prev}.cx)), 6) AS d
  FROM ev JOIN {prev} USING (i) GROUP BY ev.vec_id, {prev}.cl
)""")
        parts.append(f"""a{t} AS (
  SELECT vec_id, cl FROM d{t}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1
)""")
        parts.append(f"""m{t} AS (
  SELECT a{t}.cl, ev.i, round(avg(ev.vx), 6) AS cx
  FROM a{t} JOIN ev USING (vec_id) GROUP BY a{t}.cl, ev.i
)""")
        parts.append(f"""c{t} AS (
  SELECT {prev}.cl, {prev}.i, COALESCE(m{t}.cx, {prev}.cx) AS cx
  FROM {prev} LEFT JOIN m{t} ON m{t}.cl = {prev}.cl AND m{t}.i = {prev}.i
)""")
    parts.append(f"""dfin AS (
  SELECT ev.vec_id, c{iters}.cl,
         round(sum((ev.vx - c{iters}.cx) * (ev.vx - c{iters}.cx)), 6) AS d
  FROM ev JOIN c{iters} USING (i) GROUP BY ev.vec_id, c{iters}.cl
)""")
    parts.append("""afin AS (
  SELECT vec_id, cl FROM dfin
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1
)""")
    return ",\n".join(parts)


ANN_KMEANS_CLUSTERS_SQL = f"""
WITH {_kmeans_sql_ctes()}
SELECT vec_id, CAST(cl AS INTEGER) AS cluster FROM afin
"""

ANN_IVF_KMEANS_SQL = f"""
WITH {_kmeans_sql_ctes()},
qv AS (
  SELECT generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS qx
  FROM embeddings WHERE vec_id = 0
),
qcell AS (SELECT cl FROM afin WHERE vec_id = 0),
cos AS (
  SELECT ev.vec_id,
         sum(vx * qx) / (sqrt(sum(vx * vx)) * sqrt(sum(qx * qx))) AS c
  FROM ev JOIN qv USING (i)
  WHERE ev.vec_id IN (SELECT vec_id FROM afin WHERE cl = (SELECT cl FROM qcell))
  GROUP BY ev.vec_id
)
SELECT vec_id, round(c, 6) AS cos FROM cos WHERE vec_id != 0
ORDER BY round(c, 6) DESC, vec_id ASC LIMIT {K_IVF}
"""


ANN_IVF_KMEANS_PROBE2_SQL = f"""
WITH {_kmeans_sql_ctes()},
qv AS (
  SELECT generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS qx
  FROM embeddings WHERE vec_id = 0
),
qcells AS (SELECT cl FROM dfin WHERE vec_id = 0 ORDER BY d, cl LIMIT 2),
cos AS (
  SELECT ev.vec_id,
         sum(vx * qx) / (sqrt(sum(vx * vx)) * sqrt(sum(qx * qx))) AS c
  FROM ev JOIN qv USING (i)
  WHERE ev.vec_id IN (SELECT vec_id FROM afin WHERE cl IN (SELECT cl FROM qcells))
  GROUP BY ev.vec_id
)
SELECT vec_id, round(c, 6) AS cos FROM cos WHERE vec_id != 0
ORDER BY round(c, 6) DESC, vec_id ASC LIMIT {K_IVF}
"""


# ---------------------------------------------------------------------------
# Product quantization: per-subspace Lloyd's codebooks + ADC over
# MATERIALIZED codes (the 100 TB ANN storage rung above IVF-Flat: the query
# scans 2-bit codes per subspace — 16 B/vector here vs 256 B of floats —
# never the raw vectors)
# ---------------------------------------------------------------------------

PQ_M = 8                 # subspaces
PQ_DSUB = DIM // PQ_M    # dims per subspace
PQ_K = 4                 # codebook size per subspace
PQ_ITERS = 2
_PQ_CACHE: dict[tuple, list] = {}


def _sub_col(s: int) -> Column:
    return F.slice(F.col("embedding"), s * PQ_DSUB + 1, PQ_DSUB)


def _sqdist_sub(s: int, c: list[float]) -> Column:
    ccol = F.array(*[F.lit(x) for x in c])
    return F.aggregate(
        F.zip_with(
            _sub_col(s), ccol,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign_sub(s: int, subcents: list[list[float]]) -> Column:
    """argmin over subspace-``s`` codewords of round(‖v_s−c‖², 6), ties to
    the smaller code — same pins as the coarse quantizer."""
    return F.array_min(
        F.array(
            *[
                F.struct(F.round(_sqdist_sub(s, c), 6).alias("d"), F.lit(j).alias("j"))
                for j, c in enumerate(subcents)
            ]
        )
    )["j"]


def pq_codebooks(
    spark: SparkSession, sf_dir: str,
    m: int = PQ_M, kc: int = PQ_K, iters: int = PQ_ITERS,
) -> list[list[list[float]]]:
    """Trained per-subspace codebooks ``[s][code][dsub]`` — fixed-iteration
    Lloyd's run independently in each of the ``m`` subspaces, with the same
    cross-engine pins as ``kmeans_centroids`` (init = first ``kc`` vectors'
    subvectors rounded to 6; assignment on round(‖·‖²,6) with ties to the
    smaller code; per-component round(avg,6); emptied codeword keeps its
    previous value — the DuckDB oracle re-runs the identical unrolled
    pipeline relationally with a subspace column).

    Scale shape: per iteration ONE codegen'd assignment pass over the table
    (m·kc sq-dist expressions, no UDF, no join) + ONE (s, code, dim)
    aggregation; only the m×kc×dsub codebook reaches the driver."""
    key = (_embeddings_fingerprint(sf_dir), "pq", m, kc, iters)
    hit = _PQ_CACHE.get(key)
    if hit is not None:
        return hit
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    init_full = [
        [_round6_spark(x) for x in e]
        for _, e, _ in _embeddings_local(sf_dir, max_id=kc)
    ]
    cents = _lloyd_subspaces(emb, m, kc, iters, init_full=init_full)
    _PQ_CACHE[key] = cents
    return cents


def _lloyd_subspaces(
    emb: DataFrame, m: int, kc: int, iters: int,
    init_full: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """The per-subspace Lloyd's trainer shared by ``pq_codebooks`` (raw
    vectors) and ``pq_residual_codebooks`` (coarse-residual vectors):
    ``emb`` = (vec_id, embedding) with float- or double-typed components.
    ``init_full``: the first ``kc`` vectors already rounded to 6 (callers
    compute them driver-side — pyarrow + the exact F.round emulation — to
    skip the init collect job); ``None`` falls back to the Spark job."""
    dsub = DIM // m
    if init_full is None:
        init = (
            emb.where(F.col("vec_id") < kc)
            .orderBy("vec_id")
            .select(F.transform("embedding", lambda x: F.round(x.cast("double"), 6)).alias("c"))
            .collect()
        )
        init_full = [[float(x) for x in r["c"]] for r in init]
    cents = [
        [v[s * dsub : (s + 1) * dsub] for v in init_full]
        for s in range(m)
    ]
    for _ in range(iters):
        assigned = emb.select(
            "embedding", _assign_subs_train(cents).alias("cs")
        )
        scol = (F.col("i0") / F.lit(dsub)).cast("int")
        means = (
            assigned.select(F.posexplode("embedding").alias("i0", "vx"), "cs")
            .select(
                scol.alias("s"),
                F.element_at(F.col("cs"), scol + 1).alias("cl"),
                F.pmod(F.col("i0"), F.lit(dsub)).alias("i"),
                F.col("vx").cast("double").alias("vx"),
            )
            .groupBy("s", "cl", "i")
            .agg(F.round(F.avg("vx"), 6).alias("cx"))
            .collect()
        )
        by: dict[tuple, float] = {}
        for r in means:
            by[(int(r["s"]), int(r["cl"]), int(r["i"]))] = float(r["cx"])
        cents = [
            [
                [by.get((s, j, i), cents[s][j][i]) for i in range(dsub)]
                for j in range(kc)
            ]
            for s in range(m)
        ]
    return cents


def _residual_col(coarse: list[list[float]]) -> Column:
    """The coarse residual v − centroid[assign(v)] as a double array — one
    element_at over the k centroid literal arrays by the assignment, then a
    zip_with subtraction; pure codegen, identical arithmetic to the oracle's
    ``vx − cx`` (float→double cast is exact, subtraction IEEE-rounded)."""
    cent_arrays = F.array(
        *[F.array(*[F.lit(x) for x in c]) for c in coarse]
    )
    return F.zip_with(
        F.col("embedding"),
        F.element_at(cent_arrays, _assign_cluster(coarse) + 1),
        lambda x, y: x.cast("double") - y,
    )


def pq_residual_codebooks(
    spark: SparkSession, sf_dir: str,
    m: int = PQ_M, kc: int = PQ_K, iters: int = PQ_ITERS,
) -> list[list[list[float]]]:
    """IVFADC residual codebooks: the same per-subspace Lloyd's, trained on
    the COARSE RESIDUALS v − c_assign(v) (Jégou et al., TPAMI 2011 — the
    residual distribution is much tighter than the raw one, so the same
    codebook budget quantizes it with less error). Same cross-engine pins;
    the oracle derives the residuals relationally from its own re-derived
    coarse quantizer before unrolling the subspace pipeline."""
    key = (_embeddings_fingerprint(sf_dir), "pqres", m, kc, iters)
    hit = _PQ_CACHE.get(key)
    if hit is not None:
        return hit
    coarse = kmeans_centroids(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _residual_col(coarse).alias("embedding")
    )
    # init residuals for the first kc vectors, driver-side: the identical
    # IEEE op sequence as _residual_col + the init round — coarse-assign by
    # the exact left-fold sq-dist (ties to the smaller cluster), subtract,
    # round to 6 — so the Spark init job disappears with zero drift
    init_full = []
    for _, e, _ in _embeddings_local(sf_dir, max_id=kc):
        v = [float(x) for x in e]
        _, j = min(
            (_round6_spark(_fold_sqdist(v, c)), j) for j, c in enumerate(coarse)
        )
        init_full.append(
            [_round6_spark(x - y) for x, y in zip(v, coarse[j])]
        )
    cents = _lloyd_subspaces(emb, m, kc, iters, init_full=init_full)
    _PQ_CACHE[key] = cents
    return cents



def _adc_lut(qvec: list[float], cents: list[list[list[float]]]) -> list[list[int]]:
    """m×kc ADC lookup table in exact-integer micro distances (½-up at 1e-6
    — THE one cross-engine rounding rule for compressed-domain distances;
    the oracle mirrors it as CAST(round(sum(...)*1000000, 0) AS BIGINT)).
    Integer LUT entries make the per-vector Σ over subspaces
    order-independent across engines."""
    import math

    return [
        [
            int(
                math.floor(
                    sum(
                        (qvec[s * PQ_DSUB + i] - cents[s][j][i]) ** 2
                        for i in range(PQ_DSUB)
                    )
                    * 1e6
                    + 0.5
                )
            )
            for j in range(PQ_K)
        ]
        for s in range(PQ_M)
    ]


def _adc_dist_col(lut: list[list[int]]) -> Column:
    """Σ_s lut[s][c_s] as one integer column — a per-subspace element_at
    against the literal LUT, no vector arithmetic in the plan."""
    dist = None
    for s in range(PQ_M):
        term = F.element_at(
            F.array(*[F.lit(v) for v in lut[s]]), F.col(f"c{s}") + 1
        )
        dist = term if dist is None else dist + term
    return dist.cast("bigint")


def pq_materialized(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the PQ CODES table once: (vec_id, c0..c{m-1}) under the
    trained codebooks — the compressed-domain representation ADC queries
    scan INSTEAD of the embeddings (content-addressed like the IVF layout).
    Returns the codes path."""
    import os

    root = (
        f"{IVF_MATERIALIZE_ROOT}/{_embeddings_fingerprint(sf_dir)}"
        f"_pq{PQ_M}x{PQ_K}i{PQ_ITERS}"
    )
    if os.path.exists(f"{root}/_SUCCESS"):
        return root
    cents = pq_codebooks(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    (
        emb.select(
            "vec_id",
            *[_assign_sub(s, cents[s]).cast("int").alias(f"c{s}") for s in range(PQ_M)],
        )
        .write.mode("overwrite")
        .parquet(root)
    )
    return root


def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, pq_code): every vector's packed product-quantization code
    (Σ_s code_s · kc^s) from the materialized codes table — value-checked
    against the oracle's relational re-derivation of the whole per-subspace
    Lloyd's pipeline."""
    codes = spark.read.parquet(pq_materialized(spark, sf_dir))
    packed = None
    for s in range(PQ_M):
        term = F.col(f"c{s}") * F.lit(PQ_K**s)
        packed = term if packed is None else packed + term
    return codes.select("vec_id", packed.cast("bigint").alias("pq_code"))


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance computation) top-k: the query builds an
    m×kc lookup table of micro-scaled subspace distances driver-side, and
    the scan sums ONE table lookup per subspace over the materialized CODES
    — never touching the embeddings. Distances are exact-integer micro
    units (½-up at 1e-6), so the cross-engine sum is order-independent."""
    cents = pq_codebooks(spark, sf_dir)
    q, _ = _query_vec(spark, sf_dir, 0)
    lut = _adc_lut([float(x) for x in q], cents)
    codes = spark.read.parquet(pq_materialized(spark, sf_dir))
    return (
        codes.where(F.col("vec_id") != 0)
        .select("vec_id", _adc_dist_col(lut).alias("adc_micro"))
        .orderBy(F.asc("adc_micro"), F.asc("vec_id"))
        .limit(K_IVF)
    )


def ivfpq_materialized(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the composed IVF-PQ layout once: PQ codes partitioned by
    the trained COARSE cluster — the full 100 TB ANN storage shape (queries
    prune partitions to the probed cells, then run compressed-domain ADC
    over the 2-bit-per-subspace codes inside them; raw vectors are never
    read at query time)."""
    import os

    root = (
        f"{IVF_MATERIALIZE_ROOT}/{_embeddings_fingerprint(sf_dir)}"
        f"_ivfpq{KMEANS_K}_{PQ_M}x{PQ_K}"
    )
    if os.path.exists(f"{root}/_SUCCESS"):
        return root
    coarse = kmeans_centroids(spark, sf_dir)
    cents = pq_codebooks(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    (
        emb.select(
            "vec_id",
            _assign_cluster(coarse).cast("int").alias("cluster"),
            *[_assign_sub(s, cents[s]).cast("int").alias(f"c{s}") for s in range(PQ_M)],
        )
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(root)
    )
    return root


def ann_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (nprobe=2): partition-prune the composed layout to the
    query's two nearest coarse cells, then ADC over the codes within them —
    storage scanned is 2/k of the corpus AND 16× compressed. The oracle
    re-derives the coarse quantizer, the per-subspace codebooks, the probe
    set, and the integer ADC distances relationally."""
    q, _ = _query_vec(spark, sf_dir, 0)
    cells = _probe_cells(spark, sf_dir, q, nprobe=2)
    lut = _adc_lut([float(x) for x in q], pq_codebooks(spark, sf_dir))
    codes = spark.read.parquet(ivfpq_materialized(spark, sf_dir))
    return (
        codes.where((F.col("vec_id") != 0) & F.col("cluster").isin(cells))
        .select("vec_id", _adc_dist_col(lut).alias("adc_micro"))
        .orderBy(F.asc("adc_micro"), F.asc("vec_id"))
        .limit(K_IVF)
    )


def _subspace_lloyd_ctes(src: str, pre: str, kc: int, iters: int) -> str:
    """Unrolled per-subspace Lloyd's over source CTE ``src`` (columns
    vec_id/s/i/vx), all names prefixed with ``pre``. Exposes
    ``{pre}c{iters}`` (final codebooks, columns s/cl/i/cx) and
    ``{pre}afin`` (final assignment, columns vec_id/s/cl)."""
    parts = [
        f"""{pre}c0 AS (
  SELECT vec_id AS cl, s, i, round(vx, 6) AS cx FROM {src} WHERE vec_id < {kc}
)""",
    ]
    for t in range(1, iters + 1):
        prev = f"{pre}c{t - 1}"
        parts.append(f"""{pre}d{t} AS (
  SELECT {src}.vec_id, c.s, c.cl,
         round(sum(({src}.vx - c.cx) * ({src}.vx - c.cx)), 6) AS d
  FROM {src} JOIN {prev} c ON c.s = {src}.s AND c.i = {src}.i
  GROUP BY {src}.vec_id, c.s, c.cl
)""")
        parts.append(f"""{pre}a{t} AS (
  SELECT vec_id, s, cl FROM {pre}d{t}
  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cl) = 1
)""")
        parts.append(f"""{pre}m{t} AS (
  SELECT a.s, a.cl, {src}.i, round(avg({src}.vx), 6) AS cx
  FROM {pre}a{t} a JOIN {src} ON {src}.vec_id = a.vec_id AND {src}.s = a.s
  GROUP BY a.s, a.cl, {src}.i
)""")
        parts.append(f"""{pre}c{t} AS (
  SELECT p.s, p.cl, p.i, COALESCE(m.cx, p.cx) AS cx
  FROM {prev} p LEFT JOIN {pre}m{t} m ON m.s = p.s AND m.cl = p.cl AND m.i = p.i
)""")
    parts.append(f"""{pre}dfin AS (
  SELECT {src}.vec_id, c.s, c.cl,
         round(sum(({src}.vx - c.cx) * ({src}.vx - c.cx)), 6) AS d
  FROM {src} JOIN {pre}c{iters} c ON c.s = {src}.s AND c.i = {src}.i
  GROUP BY {src}.vec_id, c.s, c.cl
)""")
    parts.append(f"""{pre}afin AS (
  SELECT vec_id, s, cl FROM {pre}dfin
  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cl) = 1
)""")
    return ",\n".join(parts)


def _pq_sql_ctes(m: int = PQ_M, kc: int = PQ_K, iters: int = PQ_ITERS) -> str:
    """Unrolled per-subspace Lloyd's as DuckDB CTEs — ``_kmeans_sql_ctes``
    generalized with a subspace column ``s`` (all subspaces train in one
    relational pipeline). Exposes ``pc{iters}`` (final codebooks, columns
    s/cl/i/cx) and ``pafin`` (final assignment, columns vec_id/s/cl)."""
    dsub = DIM // m
    src = f"""psv AS (
  SELECT vec_id, CAST((gi - 1) // {dsub} AS INTEGER) AS s,
         (gi - 1) % {dsub} AS i, vx
  FROM (
    SELECT vec_id, generate_subscripts(embedding, 1) AS gi,
           CAST(unnest(embedding) AS DOUBLE) AS vx
    FROM embeddings
  )
)"""
    return src + ",\n" + _subspace_lloyd_ctes("psv", "p", kc, iters)


def _pq_residual_sql_ctes(m: int = PQ_M, kc: int = PQ_K, iters: int = PQ_ITERS) -> str:
    """Residual-PQ pipeline: the coarse quantizer's residuals
    (``rsv.vx = psv.vx − coarse_centroid[afin(vec)]``) fed through the same
    unrolled subspace Lloyd's, names prefixed ``r``. Requires
    ``_kmeans_sql_ctes()`` and ``_pq_sql_ctes()`` (for ``psv``) in scope."""
    dsub = DIM // m
    src = f"""rsv AS (
  SELECT sv.vec_id, sv.s, sv.i, sv.vx - c.cx AS vx
  FROM psv sv
  JOIN afin a ON a.vec_id = sv.vec_id
  JOIN c{KMEANS_ITERS} c ON c.cl = a.cl AND c.i = sv.s * {dsub} + sv.i + 1
)"""
    return src + ",\n" + _subspace_lloyd_ctes("rsv", "r", kc, iters)


ANN_PQ_CODES_SQL = f"""
WITH {_pq_sql_ctes()}
SELECT vec_id,
       CAST(sum(cl * CAST(power({PQ_K}, s) AS BIGINT)) AS BIGINT) AS pq_code
FROM pafin GROUP BY vec_id
"""

def ivfpq_res_materialized(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVFADC layout once: RESIDUAL PQ codes partitioned by
    the coarse cluster (Jégou et al.'s IVFADC storage: cell id + residual
    code per vector — nothing else is read at query time)."""
    import os

    root = (
        f"{IVF_MATERIALIZE_ROOT}/{_embeddings_fingerprint(sf_dir)}"
        f"_ivfpqres{KMEANS_K}_{PQ_M}x{PQ_K}"
    )
    if os.path.exists(f"{root}/_SUCCESS"):
        return root
    coarse = kmeans_centroids(spark, sf_dir)
    rcents = pq_residual_codebooks(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    resid = emb.select(
        "vec_id",
        _assign_cluster(coarse).cast("int").alias("cluster"),
        _residual_col(coarse).alias("embedding"),
    )
    (
        resid.select(
            "vec_id", "cluster",
            *[_assign_sub(s, rcents[s]).cast("int").alias(f"c{s}") for s in range(PQ_M)],
        )
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(root)
    )
    return root


def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC proper (residual encoding, nprobe=2): per probed cell the
    query residual q − c_cell gets its own m×kc LUT against the RESIDUAL
    codebooks, and the cell's partition of the codes layout is scanned with
    one integer lookup per subspace. Residual quantization is what makes
    PQ error small enough to be useful at a given code budget — and the
    per-cell LUT is the ADC trick that keeps the query cost |cells|·m·kc
    distance computations + a code scan."""
    q, _ = _query_vec(spark, sf_dir, 0)
    cells = _probe_cells(spark, sf_dir, q, nprobe=2)
    coarse = kmeans_centroids(spark, sf_dir)
    rcents = pq_residual_codebooks(spark, sf_dir)
    codes = spark.read.parquet(ivfpq_res_materialized(spark, sf_dir))
    parts = []
    for cell in cells:
        qres = [float(q[i]) - coarse[cell][i] for i in range(DIM)]
        lut = _adc_lut(qres, rcents)
        parts.append(
            codes.where((F.col("vec_id") != 0) & (F.col("cluster") == cell))
            .select("vec_id", _adc_dist_col(lut).alias("adc_micro"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy(F.asc("adc_micro"), F.asc("vec_id")).limit(K_IVF)


ANN_IVFPQ_RES_SQL = f"""
WITH {_kmeans_sql_ctes()},
{_pq_sql_ctes()},
{_pq_residual_sql_ctes()},
qcells AS (SELECT cl FROM dfin WHERE vec_id = 0 ORDER BY d, cl LIMIT 2),
qres AS (
  SELECT qc.cl AS qcl, sv.s, sv.i, sv.vx - c.cx AS qrx
  FROM psv sv
  JOIN qcells qc ON TRUE
  JOIN c{KMEANS_ITERS} c ON c.cl = qc.cl AND c.i = sv.s * {PQ_DSUB} + sv.i + 1
  WHERE sv.vec_id = 0
),
rlut AS (
  SELECT q.qcl, c.s, c.cl AS code,
         CAST(round(sum((q.qrx - c.cx) * (q.qrx - c.cx)) * 1000000, 0) AS BIGINT) AS dm
  FROM rc{PQ_ITERS} c JOIN qres q ON q.s = c.s AND q.i = c.i
  GROUP BY q.qcl, c.s, c.cl
)
SELECT a.vec_id, CAST(sum(l.dm) AS BIGINT) AS adc_micro
FROM rafin a
JOIN afin ca ON ca.vec_id = a.vec_id
JOIN rlut l ON l.qcl = ca.cl AND l.s = a.s AND l.code = a.cl
WHERE a.vec_id != 0 AND ca.cl IN (SELECT cl FROM qcells)
GROUP BY a.vec_id
ORDER BY adc_micro ASC, a.vec_id ASC LIMIT {K_IVF}
"""

ANN_IVFPQ_ADC_SQL = f"""
WITH {_kmeans_sql_ctes()},
{_pq_sql_ctes()},
qcells AS (SELECT cl FROM dfin WHERE vec_id = 0 ORDER BY d, cl LIMIT 2),
pqs AS (SELECT s, i, vx AS qx FROM psv WHERE vec_id = 0),
plut AS (
  SELECT c.s, c.cl,
         CAST(round(sum((q.qx - c.cx) * (q.qx - c.cx)) * 1000000, 0) AS BIGINT) AS dm
  FROM pc{PQ_ITERS} c JOIN pqs q ON q.s = c.s AND q.i = c.i
  GROUP BY c.s, c.cl
)
SELECT a.vec_id, CAST(sum(l.dm) AS BIGINT) AS adc_micro
FROM pafin a JOIN plut l ON l.s = a.s AND l.cl = a.cl
WHERE a.vec_id != 0
  AND a.vec_id IN (
    SELECT vec_id FROM afin WHERE cl IN (SELECT cl FROM qcells)
  )
GROUP BY a.vec_id
ORDER BY adc_micro ASC, vec_id ASC LIMIT {K_IVF}
"""

ANN_PQ_ADC_SQL = f"""
WITH {_pq_sql_ctes()},
pqs AS (SELECT s, i, vx AS qx FROM psv WHERE vec_id = 0),
plut AS (
  SELECT c.s, c.cl,
         CAST(round(sum((q.qx - c.cx) * (q.qx - c.cx)) * 1000000, 0) AS BIGINT) AS dm
  FROM pc{PQ_ITERS} c JOIN pqs q ON q.s = c.s AND q.i = c.i
  GROUP BY c.s, c.cl
)
SELECT a.vec_id, CAST(sum(l.dm) AS BIGINT) AS adc_micro
FROM pafin a JOIN plut l ON l.s = a.s AND l.cl = a.cl
WHERE a.vec_id != 0
GROUP BY a.vec_id
ORDER BY adc_micro ASC, vec_id ASC LIMIT {K_IVF}
"""


def neardup_clusters(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """(vec_id, cluster) for every embedding: connected components over the
    verified LSH near-dup edges (min vec_id per component; singletons are
    their own cluster) — the embedding-field twin of ``dedup_clusters``,
    sharing the same distributed min-label propagation."""
    from ciff_spark.operators.dedup import connected_components

    vecs = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("docid")
    )
    if pairs is None:  # pass precomputed verified pairs to skip the LSH pass
        pairs = neardup_lsh_pairs(spark, sf_dir)
    pairs = pairs.select(F.col("v1").alias("d1"), F.col("v2").alias("d2"))
    return connected_components(vecs, pairs).select(
        F.col("docid").alias("vec_id"), "cluster"
    )


NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (SELECT v1, v2 FROM ({NEARDUP_LSH_SQL}) p),
edges AS (
  SELECT v1 AS src, v2 AS dst FROM pairs
  UNION ALL
  SELECT v2 AS src, v1 AS dst FROM pairs
),
reach(a, b) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
)
SELECT a AS vec_id, min(b) AS cluster FROM reach GROUP BY a
"""


QUERIES: dict[str, tuple] = {
    "ann_cosine_topk": (ann_cosine_topk, ANN_COSINE_SQL),
    "neardup_clusters": (neardup_clusters, NEARDUP_CLUSTERS_SQL),
    "ann_ivf_label": (ann_ivf_label, ANN_IVF_SQL),
    # trained coarse quantizer (fixed-iteration Lloyd's), oracle re-derives
    # the full k-means pipeline relationally
    "ann_kmeans_clusters": (ann_kmeans_clusters, ANN_KMEANS_CLUSTERS_SQL),
    "ann_ivf_kmeans": (ann_ivf_kmeans, ANN_IVF_KMEANS_SQL),
    "ann_ivf_kmeans_probe2": (ann_ivf_kmeans_probe2, ANN_IVF_KMEANS_PROBE2_SQL),
    # product quantization: per-subspace trained codebooks, materialized
    # codes, compressed-domain ADC scan — oracle re-derives everything
    "ann_pq_codes": (ann_pq_codes, ANN_PQ_CODES_SQL),
    "ann_pq_adc_topk": (ann_pq_adc_topk, ANN_PQ_ADC_SQL),
    # composed IVF-PQ: coarse-cell partition pruning + compressed-domain ADC
    "ann_ivfpq_adc_topk": (ann_ivfpq_adc_topk, ANN_IVFPQ_ADC_SQL),
    # IVFADC proper: residual codebooks + per-cell query-residual LUTs
    "ann_ivfpq_residual_topk": (ann_ivfpq_residual_topk, ANN_IVFPQ_RES_SQL),
    "neardup_cosine_pairs": (neardup_cosine_pairs, NEARDUP_SQL),
    "neardup_lsh_pairs": (neardup_lsh_pairs, NEARDUP_LSH_SQL),
    "lsh_hyperplane_buckets": (lsh_hyperplane_buckets, LSH_BUCKETS_SQL),
}
