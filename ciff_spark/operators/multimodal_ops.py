"""Driver-facing multimodal entries.

The synthetic media table (seeded, deterministic) is staged once as a single
parquet file that BOTH engines read — Spark via ``spark.read.parquet`` and
the DuckDB oracle via ``read_parquet('<same path>')`` — so ``mm_media_stats``
and ``mm_frame_sample`` get full row/schema/value-hash oracle checks.
``mm_feature_extract``'s stub decoder (sha256 → PCG64) is not
ANSI-SQL-expressible, so its oracle is a golden parquet staged by a
non-Spark driver-side computation of the same spec
(``stage_expected_features_parquet``) — the hash check then pins the Arrow
batch plumbing: batching, nullable-metadata handling, row completeness."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ciff_spark.multimodal import (
    extract_features,
    frame_sample,
    media_stats,
    stage_expected_features_parquet,
    stage_media_parquet,
)

N_MEDIA = 120
SEED = 42
FRAME_EVERY_MS = 10_000
# one fixed path per checkout: the table is a pure function of (N_MEDIA,
# SEED), never of sf_dir, and oracle_sql() must be a static string — so the
# directory is `.staged/` at the checkout root, found from this file
_STAGED_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".staged",
)
STAGED_MEDIA = os.path.join(_STAGED_DIR, f"media_n{N_MEDIA}_s{SEED}.parquet")
STAGED_FEATURES = os.path.join(_STAGED_DIR, f"media_features_n{N_MEDIA}_s{SEED}.parquet")


def _media(spark: SparkSession) -> DataFrame:
    stage_media_parquet(STAGED_MEDIA, N_MEDIA, seed=SEED)
    return spark.read.parquet(STAGED_MEDIA)


def mm_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_stats(_media(spark))


MM_MEDIA_STATS_SQL = f"""
SELECT kind,
       count(*)::BIGINT AS n,
       CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
       round(CAST(sum(octet_length(payload)) AS BIGINT) * 1.0 / count(*), 6) AS avg_bytes
FROM read_parquet('{STAGED_MEDIA}')
GROUP BY kind
"""


def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full feature vectors, exploded to scalar rows (media_id, kind,
    dim_idx, fv) and rounded at 6 digits, so EVERY component is value-hash
    checked against the non-Spark golden staged by
    ``stage_expected_features_parquet`` (r3's rows-only gap closed)."""
    stage_expected_features_parquet(STAGED_FEATURES, N_MEDIA, seed=SEED)
    feats = extract_features(_media(spark))
    return feats.select(
        "media_id",
        "kind",
        F.posexplode("feature").alias("dim_idx", "fv0"),
    ).select(
        "media_id", "kind", "dim_idx", F.round(F.col("fv0").cast("double"), 6).alias("fv")
    )


MM_FEATURE_EXTRACT_SQL = f"""
SELECT media_id, kind, dim_idx, round(CAST(fv AS DOUBLE), 6) AS fv
FROM read_parquet('{STAGED_FEATURES}')
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = frame_sample(_media(spark), every_ms=FRAME_EVERY_MS)
    return out.select(
        "media_id", "kind", F.col("frame_ms").cast("long").alias("frame_ms")
    )


MM_FRAME_SAMPLE_SQL = f"""
SELECT media_id, kind,
       unnest(generate_series(0, duration_ms, {FRAME_EVERY_MS}))::BIGINT AS frame_ms
FROM read_parquet('{STAGED_MEDIA}')
WHERE kind IN ('video', 'audio')
"""


QUERIES: dict[str, tuple] = {
    "mm_media_stats": (mm_media_stats, MM_MEDIA_STATS_SQL),
    "mm_feature_extract": (mm_feature_extract, MM_FEATURE_EXTRACT_SQL),
    "mm_frame_sample": (mm_frame_sample, MM_FRAME_SAMPLE_SQL),
}
