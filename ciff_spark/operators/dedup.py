"""Deduplication operators over ``documents`` — the training-data-pipeline
family: exact hash, word-3-gram Jaccard, MinHash + banded LSH, SimHash.

Portability pin: every hash is md5-derived —
``hash60(s) = int(hex(md5(s))[0:15], 16)`` — because md5 is bit-identical in
Spark (``F.md5`` + ``F.conv``) and DuckDB (``md5`` + ``('0x'||…)::BIGINT``),
so signatures/buckets match the oracle exactly. 15 hex digits = 60 bits < 2^63.

Scale notes (the part that matters at 100 TB):
- exact dedup is a pure hash groupBy (map-side partial agg, one shuffle);
- the 3-gram Jaccard pair join is the EXACT verifier — its candidate
  generation at scale is MinHash LSH (band-bucket join), implemented below;
  the shingle equi-join version is quadratic only within shared-shingle
  buckets, never a cross join;
- MinHash signatures are one explode + groupBy(doc) min-agg per permutation —
  all JVM built-ins, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ciff_spark.functions.tokenizer import tokenize_expr, tokenize_sql
from ciff_spark.sources.testdata import load

N_MINHASH = 8
N_BANDS = 4  # rows per band = N_MINHASH // N_BANDS = 2
JACCARD_THRESHOLD = 0.8
LSH_VERIFY_THRESHOLD = 0.7
SIMHASH_BITS = 16


def _materialize_unpersist(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Eagerly compute ``result`` (localCheckpoint), then unpersist the
    intermediate cached frames. These query functions return DataFrames that
    the caller consumes later, so a plain try/finally-unpersist would drop the
    cache before anyone read it; checkpoint blocks behind the returned frame
    are released by the ContextCleaner once the frame is garbage-collected,
    unlike CacheManager entries, which pin executor storage until an explicit
    unpersist (the round-3 bench tail's "already cached" warnings)."""
    try:
        return result.localCheckpoint(eager=True)
    finally:
        for c in cached:
            c.unpersist()


# -- portable md5-derived 60-bit hash ---------------------------------------

def hash60_col(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# -- shingles: distinct word 3-grams per doc ---------------------------------

def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(docid, shingle) distinct word-3-grams, built with pure array exprs."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("docid"), tokenize_expr("text").alias("t")
    )
    sh = toks.select(
        "docid",
        F.explode(
            F.when(
                F.size("t") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), i),
                        F.element_at(F.col("t"), i + 1),
                        F.element_at(F.col("t"), i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("shingle"),
    )
    return sh.distinct()


_SHINGLES_SQL = f"""
  SELECT DISTINCT a.doc_id AS docid,
         a.term || ' ' || b.term || ' ' || c.term AS shingle
  FROM (SELECT doc_id, unnest({tokenize_sql('text')}) AS term,
               generate_subscripts({tokenize_sql('text')}, 1) AS i
        FROM documents) a
  JOIN (SELECT doc_id, unnest({tokenize_sql('text')}) AS term,
               generate_subscripts({tokenize_sql('text')}, 1) AS i
        FROM documents) b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN (SELECT doc_id, unnest({tokenize_sql('text')}) AS term,
               generate_subscripts({tokenize_sql('text')}, 1) AS i
        FROM documents) c ON a.doc_id = c.doc_id AND c.i = a.i + 2
"""


# ---------------------------------------------------------------------------
# exact dedup: md5(text) groups, keep-first
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keep_docid"))
    )


DEDUP_EXACT_SQL = (
    "SELECT md5(text) AS text_hash, count(*)::BIGINT AS n, "
    "min(doc_id) AS keep_docid FROM documents GROUP BY md5(text)"
)


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (exact verifier)
# ---------------------------------------------------------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles(spark, sf_dir).cache()
    sizes = sh.groupBy("docid").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), (F.col("x.shingle") == F.col("y.shingle")) & (F.col("x.docid") < F.col("y.docid")))
        .groupBy(F.col("x.docid").alias("d1"), F.col("y.docid").alias("d2"))
        .agg(F.count("*").alias("it"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("docid", "d1").withColumnRenamed("n", "n1"), "d1")
        .join(sizes.withColumnRenamed("docid", "d2").withColumnRenamed("n", "n2"), "d2")
        .withColumn("jaccard", F.round(F.col("it") / (F.col("n1") + F.col("n2") - F.col("it")), 6))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("d1", "d2", "jaccard")
    )
    return _materialize_unpersist(out, sh)


DEDUP_NGRAM_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT docid, count(*)::BIGINT AS n FROM sh GROUP BY docid),
inter AS (
  SELECT x.docid AS d1, y.docid AS d2, count(*)::BIGINT AS it
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.docid < y.docid
  GROUP BY 1, 2
)
SELECT d1, d2, round(it * 1.0 / (s1.n + s2.n - it), 6) AS jaccard
FROM inter JOIN sizes s1 ON d1 = s1.docid JOIN sizes s2 ON d2 = s2.docid
WHERE round(it * 1.0 / (s1.n + s2.n - it), 6) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash signatures + banded LSH candidate pairs
# ---------------------------------------------------------------------------

def _signatures_from(sh: DataFrame) -> DataFrame:
    aggs = [
        F.min(hash60_col(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"m{j}")
        for j in range(N_MINHASH)
    ]
    return sh.groupBy("docid").agg(*aggs)


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures_from(_shingles(spark, sf_dir))


def _minhash_sql_cols() -> str:
    cols = []
    for j in range(N_MINHASH):
        salted = "'" + str(j) + ":' || shingle"
        cols.append(f"min({hash60_sql(salted)}) AS m{j}")
    return ", ".join(cols)


DEDUP_MINHASH_SQL = (
    f"WITH sh AS ({_SHINGLES_SQL}) SELECT docid, "
    + _minhash_sql_cols()
    + " FROM sh GROUP BY docid"
)


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH: band on pairs of signature values; verify candidates with exact
    Jaccard ≥ threshold. The scale path: candidate generation is a band-value
    equi-join (shuffle on band hash), never all-pairs.

    ONE tokenize+shingle+distinct pass: the shingle frame is built once and
    cached; the signatures, the doc sizes, and the exact-verify join all read
    that cache (round-1/2 versions scanned the corpus twice — the slowest
    driver op paid for it)."""
    sh = _shingles(spark, sf_dir).cache()
    sig = _signatures_from(sh)
    # one row per (doc, band) via a single explode — not N_BANDS unioned
    # re-scans of the signature aggregation
    bands = sig.select(
        "docid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_", F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}")
                        ).alias("bv"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("docid", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv")).cache()
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.docid") < F.col("y.docid")),
        )
        .select(F.col("x.docid").alias("d1"), F.col("y.docid").alias("d2"))
        .distinct()
    )
    sizes = sh.groupBy("docid").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("a")
        .join(cand, (F.col("a.docid") == F.col("d1")))
        .join(sh.alias("b"), (F.col("b.docid") == F.col("d2")) & (F.col("a.shingle") == F.col("b.shingle")))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("it"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("docid", "d1").withColumnRenamed("n", "n1"), "d1")
        .join(sizes.withColumnRenamed("docid", "d2").withColumnRenamed("n", "n2"), "d2")
        .withColumn("jaccard", F.round(F.col("it") / (F.col("n1") + F.col("n2") - F.col("it")), 6))
        .where(F.col("jaccard") >= LSH_VERIFY_THRESHOLD)
        .select("d1", "d2", "jaccard")
    )
    return _materialize_unpersist(out, sh, bands)


DEDUP_LSH_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sig AS (SELECT docid, {_minhash_sql_cols()}
        FROM sh GROUP BY docid),
bands AS (
  {" UNION ALL ".join(f"SELECT docid, {b} AS band, m{2*b} || '_' || m{2*b+1} AS bv FROM sig" for b in range(N_BANDS))}
),
cand AS (
  SELECT DISTINCT x.docid AS d1, y.docid AS d2
  FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv AND x.docid < y.docid
),
sizes AS (SELECT docid, count(*)::BIGINT AS n FROM sh GROUP BY docid),
inter AS (
  SELECT d1, d2, count(*)::BIGINT AS it
  FROM cand JOIN sh a ON a.docid = d1 JOIN sh b ON b.docid = d2 AND a.shingle = b.shingle
  GROUP BY d1, d2
)
SELECT d1, d2, round(it * 1.0 / (s1.n + s2.n - it), 6) AS jaccard
FROM inter JOIN sizes s1 ON d1 = s1.docid JOIN sizes s2 ON d2 = s2.docid
WHERE round(it * 1.0 / (s1.n + s2.n - it), 6) >= {LSH_VERIFY_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# SimHash (16-bit, tf-weighted, md5-derived bit source)
# ---------------------------------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        load(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("docid"), F.explode(tokenize_expr("text")).alias("term"))
        .groupBy("docid", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", hash60_col(F.col("term")))
    )
    bits = tf.select(
        "docid", "tf", "h", F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("j")
    )
    acc = (
        bits.withColumn("w", F.expr("((shiftright(h, j) & 1) * 2 - 1) * tf"))
        .groupBy("docid", "j")
        .agg(F.sum("w").alias("s"))
    )
    return (
        acc.withColumn(
            "bit",
            F.expr("CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END"),
        )
        .groupBy("docid")
        .agg(F.sum("bit").cast("long").alias("simhash"))
    )


DEDUP_SIMHASH_SQL = f"""
WITH tf AS (
  SELECT docid, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id AS docid, unnest({tokenize_sql('text')}) AS term FROM documents)
  GROUP BY docid, term
),
bits AS (
  SELECT docid, j,
         sum((((({hash60_sql('term')}) >> j) & 1) * 2 - 1) * tf) AS s
  FROM tf, generate_series(0, {SIMHASH_BITS - 1}) AS t(j)
  GROUP BY docid, j
)
SELECT docid, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY docid
"""


SIMHASH_MAX_HAMMING = 2

# (t+1)-band split of the 16 simhash bits for t = SIMHASH_MAX_HAMMING:
# ≤ t differing bits can touch at most t of the t+1 bands, so every pair at
# hamming ≤ t agrees EXACTLY on at least one band (pigeonhole) — candidate
# generation is a per-band equi-join, recall is 1.0 by construction.
SIMHASH_BANDS = ((0, 6), (6, 5), (11, 5))  # (bit offset, width) covering 16 bits
assert len(SIMHASH_BANDS) == SIMHASH_MAX_HAMMING + 1
assert sum(w for _, w in SIMHASH_BANDS) == SIMHASH_BITS


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs at SimHash hamming distance ≤ t, banded-LSH style (the
    100 TB shape — never an all-pairs cross join):

    1. each signature emits one row per band: (band, band_value, docid);
    2. candidates = equi-join on (band, band_value) — shuffles on the band
       hash, quadratic only within identical-band buckets;
    3. verify candidates exactly with ``bit_count(xor)`` ≤ t.

    Exact (not approximate): the band split guarantees every qualifying pair
    shares some full band, so step 2 has perfect recall for hamming ≤ t."""
    sh = dedup_simhash(spark, sf_dir).cache()
    # one row per (doc, band) via a single explode — the self-join's two legs
    # then read the cached signatures instead of recomputing the simhash agg
    # once per band per side
    bands = sh.select(
        "docid",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.expr(
                            f"shiftright(simhash, {off}) & {(1 << width) - 1}"
                        ).alias("bv"),
                    )
                    for bi, (off, width) in enumerate(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("docid", "simhash", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.docid") < F.col("y.docid")),
        )
        .select(
            F.col("x.docid").alias("d1"),
            F.col("y.docid").alias("d2"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return _materialize_unpersist(
        cand.where(F.col("hamming") <= SIMHASH_MAX_HAMMING), sh
    )


_SIMHASH_BANDS_SQL = " UNION ALL ".join(
    f"SELECT docid, simhash, {bi} AS band, (simhash >> {off}) & {(1 << w) - 1} AS bv FROM sh"
    for bi, (off, w) in enumerate(SIMHASH_BANDS)
)

DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH sh AS ({DEDUP_SIMHASH_SQL}),
bands AS ({_SIMHASH_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.docid AS d1, y.docid AS d2,
         CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bv = y.bv AND x.docid < y.docid
)
SELECT d1, d2, hamming FROM cand WHERE hamming <= {SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over verified LSH pair edges
# ---------------------------------------------------------------------------

#: min-label rounds before escalating to the O(log n) star algorithm —
#: near-dup components are near-cliques (converge in a handful of rounds);
#: anything still moving after this many rounds is a deep structure where
#: per-round-one-hop propagation is the wrong tool
_CC_MAX_ITERS = 16


def dedup_clusters(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """(docid, cluster) for EVERY document: cluster = min docid reachable
    through the verified MinHash-LSH near-duplicate edges (singletons are
    their own cluster) — the keep-one-representative step of a dedup
    pipeline.

    Distributed min-label propagation: label(v) ← min(label(v), min over
    neighbors' labels), iterated to fixpoint. Each round is one equi-join +
    map-side-combinable min aggregation; rounds needed = eccentricity of the
    component minimum ≤ component diameter. Near-dup components are shallow
    in practice (near-cliques around a source doc); for adversarially long
    chains at 100 TB the O(log n)-round alternating large-star/small-star
    variant (Kiveris et al., "Connected Components in MapReduce and Beyond")
    drops in without changing the fixpoint. ``localCheckpoint`` truncates
    the iterative plan lineage each round — the standard guard against
    optimizer blowup in looped joins.
    """
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("docid")
    )
    if pairs is None:  # pass precomputed verified pairs to skip the LSH pass
        pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    return connected_components(docs, pairs.select("d1", "d2"))


#: edge count at or below which connected components run as a driver-side
#: union-find over the collected pair list (≤ ~32 MB of edge tuples) + ONE
#: broadcast join back onto docs — near-dup edge sets are a tiny fraction of
#: the corpus (25 pairs across 5 000 docs in the fixture), and the iterative
#: join-per-round propagation costs 2+ Spark jobs per round for the same
#: fixpoint. Above the gate the distributed propagation runs unchanged.
_CC_DRIVER_MAX_EDGES = 2_000_000


def _driver_components(docs: DataFrame, edge_pdf) -> DataFrame:
    """Union-find (smaller root wins ⇒ every root is its set's minimum) over
    a driver-resident edge list; labels broadcast-join back onto ``docs``.
    Identical fixpoint to the distributed propagation: cluster = min docid
    reachable; docids untouched by any edge stay their own cluster."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(edge_pdf["d1"].tolist(), edge_pdf["d2"].tolist()):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(x, find(x)) for x in parent]
    spark = docs.sparkSession
    lbl = spark.createDataFrame(
        pd.DataFrame(rows, columns=["docid", "cluster"]) if rows else [],
        "docid long, cluster long",
    )
    return docs.select("docid").join(F.broadcast(lbl), "docid", "left").select(
        "docid", F.coalesce("cluster", F.col("docid")).alias("cluster")
    )


def _release_checkpoint(df: DataFrame | None) -> None:
    """Unpersist the blocks behind a ``localCheckpoint`` frame. An iterative
    loop calls it on each round's superseded checkpoint: nothing reads those
    blocks once the next round is materialized, yet nothing frees them
    either (a GC does not reach them), so every round would stay pinned for
    the session."""
    if df is not None:
        df._jdf.queryExecution().logical().rdd().unpersist(False)


def connected_components(
    docs: DataFrame, pairs: DataFrame, max_iters: int = _CC_MAX_ITERS,
    driver_max_edges: int = _CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Min-label propagation over undirected ``pairs`` edges; every docid in
    ``docs`` gets cluster = min docid of its component (see
    :func:`dedup_clusters` for the algorithm and scale notes). Edge sets at
    or below ``driver_max_edges`` short-circuit to a driver union-find +
    one broadcast join — same fixpoint, none of the per-round jobs."""
    # persisted once: above the gate, the probe, every round's edges and a
    # star escalation all read it, so the pairs pipeline runs once
    pairs = pairs.select("d1", "d2").persist()
    try:
        if driver_max_edges > 0:
            probe = pairs.limit(driver_max_edges + 1).toPandas()
            if len(probe) <= driver_max_edges:
                return _driver_components(docs, probe)
        edges = pairs.selectExpr("d1 AS src", "d2 AS dst").unionAll(
            pairs.selectExpr("d2 AS src", "d1 AS dst")
        )
        labels = docs.select("docid", F.col("docid").alias("cluster"))
        prev = None  # the previous round's checkpoint
        for _ in range(max_iters):
            nbr = (
                edges.join(
                    labels.select(
                        F.col("docid").alias("dst"), F.col("cluster").alias("ncl")
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("ncl").alias("nbr_min"))
                .withColumnRenamed("src", "docid")
            )
            # ONE join per round: the convergence signal IS nbr_min < cluster,
            # carried as a flag column through the checkpoint instead of
            # re-joining new against labels (which doubled the per-round cost)
            stepped = (
                labels.join(nbr, "docid", "left")
                .select(
                    "docid",
                    F.least(
                        F.col("cluster"), F.coalesce("nbr_min", F.col("cluster"))
                    ).alias("cluster"),
                    (F.col("nbr_min") < F.col("cluster"))
                    .cast("int")
                    .alias("_chg"),
                )
                .localCheckpoint(eager=True)
            )
            changed = int(stepped.agg(F.max("_chg")).first()[0] or 0)
            _release_checkpoint(prev)
            prev = stepped
            labels = stepped.drop("_chg")
            if changed == 0:
                return labels
        # still moving after max_iters one-hop rounds: the graph has a deep
        # component (rounds = eccentricity for min-label). Escalate to the
        # diameter-independent star algorithm rather than failing — same
        # fixpoint, O(log n) rounds.
        _release_checkpoint(prev)
        return connected_components_star(docs, pairs)
    finally:
        pairs.unpersist()


def connected_components_star(
    docs: DataFrame, pairs: DataFrame, max_iters: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SOCC'14) — the
    adversarial-diameter path: O(log n) rounds regardless of component shape,
    where min-label propagation needs rounds = eccentricity of the component
    minimum (a 10k-doc duplicate CHAIN would need 10k one-hop rounds).

    Per round, two groupBy-min aggregations + equi-joins over the current
    edge set, each a map-side-combinable shuffle on node id:

    - large-star: every node hangs its strictly-LARGER neighbors on the
      minimum of its closed neighborhood;
    - small-star: every node re-hangs its ≤-neighbors (and itself) on that
      minimum.

    The edge set monotonically approaches the fixpoint where every component
    is a star centered at its minimum node; convergence is detected by a
    (count, XOR of xxhash64) signature of consecutive edge sets (identical
    sets ⇒ equal signature; the sets are distinct-deduped so XOR can't
    cancel duplicates, and a pre-fixpoint collision needs a 64-bit hash
    coincidence; XOR, not Σ, because ANSI mode makes a long hash sum
    overflow-fatal). Output contract identical to :func:`connected_components`:
    (docid, cluster = min docid of the component) for every doc in ``docs``.
    ``stats["rounds"]`` reports the round count when a dict is passed."""
    edges = (
        pairs.selectExpr("d1 AS u", "d2 AS v")
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sig_prev = None
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # -- large-star ---------------------------------------------------
        sym = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("nmn"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            # emit (v, min(closed nbhd of u)); v > u ≥ min ⇒ never a loop
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("nmn")).alias("v"),
            )
            .distinct()
        )
        # -- small-star (inputs already oriented big→small by large-star) --
        mins2 = large.groupBy("u").agg(F.min("v").alias("nmn"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("nmn").alias("b"))
            .unionAll(mins2.select(F.col("u").alias("a"), F.col("nmn").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)  # truncate the iterative lineage
        )
        row = small.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        sig = (int(row["n"]), int(row["h"] or 0))
        _release_checkpoint(edges)
        edges = small
        if sig == sig_prev:
            break
        sig_prev = sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iters} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint edges are star edges (node → its component minimum)
    return docs.select("docid").join(
        edges.select(F.col("u").alias("docid"), F.col("v").alias("cluster")),
        "docid",
        "left",
    ).select("docid", F.coalesce("cluster", F.col("docid")).alias("cluster"))


# Oracle: same edge set (the pairs SQL verbatim), min reachable id per node
# via a recursive CTE (UNION dedups, so the iteration terminates).
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ({DEDUP_LSH_SQL}) p),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM pairs
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
)
SELECT a AS docid, min(b) AS cluster FROM reach GROUP BY a
"""


QUERIES: dict[str, tuple] = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_minhash_signatures": (dedup_minhash_signatures, DEDUP_MINHASH_SQL),
    "dedup_minhash_lsh_pairs": (dedup_minhash_lsh_pairs, DEDUP_LSH_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_SQL),
    "dedup_clusters": (dedup_clusters, DEDUP_CLUSTERS_SQL),
}
