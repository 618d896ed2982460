"""Scalable dense docid assignment (SURVEY §4.2(4)).

The reference requires DocRecords in dense 0..N-1 docid order and hard-fails
otherwise (/root/reference/src/lib.rs:545-547). Its jsonl path assigns ids
first-seen from a single in-memory HashMap (/root/reference/src/lib.rs:1014-1022)
— the exact scalability wall this module removes.

The naive Spark translation, ``row_number().over(Window.orderBy(...))`` with no
partition key, funnels every row through ONE task. Instead we do the classic
two-phase rank:

  1. range-partition + sort within partitions on the ordering key
     (``repartitionByRange`` keeps ranges ordered across partition indexes);
  2. one tiny job counts rows per partition; an exclusive prefix sum on the
     driver (numPartitions entries, not rows) gives each partition's offset;
  3. a narrow ``mapInPandas`` adds ``offset + local_index``.

The sorted DataFrame is persisted between the two jobs so both see identical
partition contents (range boundaries come from sampling; two independent
executions could otherwise draw different boundaries). At cluster scale the
same pattern works with ``StorageLevel.DISK_ONLY`` or a staging table write —
one materialization, which a global sort shuffle pays anyway.
"""

from __future__ import annotations

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def release_rank_cache(df: DataFrame) -> None:
    """Unpersist the internal cache backing a rank result (no-op otherwise).

    ``add_dense_docid`` / the distributed path of ``add_grouped_docid``
    persist an intermediate frame the OUTPUT depends on; ``out.unpersist()``
    can't reach it (the output itself is not persisted). The producer hangs
    the handle on the result; callers release it here once downstream stages
    have materialized — otherwise every call leaks one cached DataFrame."""
    src = getattr(df, "_rank_persisted", None)
    if src is not None:
        src.unpersist()


#: row count at or below which the dense rank computes driver-side: ONE
#: probing job collects the (skinny) ordering keys, pandas sorts them, and a
#: broadcast join attaches the rank — replacing the range-sampling job, the
#: per-partition counts job, and the persisted sorted copy. Only primitive
#: (numeric/string) key columns qualify: their pandas sort order provably
#: matches Spark's (UTF8 code-point order ≡ Python str comparison).
RANK_DRIVER_MAX_ROWS = 1_000_000

#: float types are excluded deliberately: Spark orders NaN greatest while
#: pandas sort_values handles NaN differently — integer/string/temporal
#: keys have one unambiguous order in both engines.
_DRIVER_SORTABLE = ("string", "int", "bigint", "smallint", "tinyint", "long", "date", "timestamp", "timestamp_ntz")


def _rank_driver_path(
    df: DataFrame, order_cols: list[str], docid_col: str, with_count: bool,
    max_rows: int,
):
    """Driver-side dense rank for small unique-keyed inputs; returns None
    when the input is too large / keys unsortable / keys not unique (callers
    fall through to the distributed two-phase rank)."""
    import pandas as pd

    spark = df.sparkSession
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if not all(types[c] in _DRIVER_SORTABLE for c in order_cols):
        return None
    probe = df.select(*order_cols).limit(max_rows + 1).toPandas()
    if len(probe) > max_rows:
        return None
    if len(probe) == 0:
        out = df.withColumn(docid_col, F.lit(0).cast("long"))
        return (out, 0) if with_count else out
    if probe[order_cols].isnull().any().any():
        # null keys never match the join below (the distributed path ranks
        # them) — fall back rather than fail
        return None
    kdf = probe.sort_values(order_cols, kind="stable").reset_index(drop=True)
    if kdf.duplicated(order_cols).any():
        return None  # duplicate keys: rank would corrupt docids — fall back
    kdf[docid_col] = np.arange(len(kdf), dtype=np.int64)
    schema = ", ".join(f"{c} {types[c]}" for c in order_cols) + f", {docid_col} long"
    odf = spark.createDataFrame(kdf, schema)
    # the probe and this join evaluate df separately: a key that drifted in
    # between (non-deterministic input) finds no docid. A LEFT join keeps
    # its row and the null docid fails the job, where an inner join would
    # silently drop the row. The select keeps the distributed path's column
    # order (df columns, then docid) — a USING join moves the keys first
    docid = F.col(docid_col)
    out = df.join(F.broadcast(odf), order_cols, "left").select(
        *df.columns,
        F.when(
            docid.isNull(),
            F.raise_error(F.lit(
                f"dense rank: a row's {order_cols} key was not in the probed "
                "keys; the input is not deterministic"
            )),
        ).otherwise(docid).alias(docid_col),
    )
    return (out, len(kdf)) if with_count else out


def add_dense_docid(
    df: DataFrame,
    order_cols: list[str],
    num_partitions: int | None = None,
    docid_col: str = "docid",
    assume_sorted: bool = False,
    with_count: bool = False,
    driver_max_rows: int = RANK_DRIVER_MAX_ROWS,
):
    """Return ``df`` plus a dense 0..N-1 ``docid`` = rank of ``order_cols``.

    ``assume_sorted=True`` skips the range shuffle entirely: the caller
    asserts partitions are already key-ordered (partition i's keys all ≤
    partition i+1's, sorted within) — true for generators and for Iceberg
    tables with a matching sort order, where the shuffle would be pure waste.

    ``with_count=True`` returns ``(df, total_rows)`` — the total falls out of
    the per-partition counts job for free.

    Inputs whose ordering keys are primitive, unique, and at most
    ``driver_max_rows`` take a driver-side rank (one probing job + a
    broadcast join — see ``RANK_DRIVER_MAX_ROWS``); pass 0 to force the
    distributed path. The distributed result is persisted (MEMORY_AND_DISK);
    callers should ``release_rank_cache()`` it when downstream stages have
    materialized (a no-op for the driver path).
    """
    spark = df.sparkSession
    if not assume_sorted and driver_max_rows:
        got = _rank_driver_path(df, order_cols, docid_col, with_count, driver_max_rows)
        if got is not None:
            return got
    n = num_partitions or spark.sparkContext.defaultParallelism
    if assume_sorted:
        sdf = df
    else:
        sdf = df.repartitionByRange(n, *[F.col(c) for c in order_cols]).sortWithinPartitions(
            *order_cols
        )
    sdf = sdf.persist(StorageLevel.MEMORY_AND_DISK)

    # job 1: per-partition counts (numPartitions rows to the driver, not data)
    counts = (
        sdf.select(F.spark_partition_id().alias("_pid"))
        .groupBy("_pid")
        .count()
        .collect()
    )
    cmap = {int(r["_pid"]): int(r["count"]) for r in counts}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(cmap):
        offsets[pid] = acc
        acc += cmap[pid]
    bc = spark.sparkContext.broadcast(offsets)

    out_schema = T.StructType(
        list(sdf.schema.fields) + [T.StructField(docid_col, T.LongType(), False)]
    )

    # job 2: narrow pass — no shuffle, ordering within partitions preserved
    def assign(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = bc.value.get(pid, 0)
        seen = 0
        for pdf in iterator:
            pdf = pdf.copy()
            pdf[docid_col] = np.arange(base + seen, base + seen + len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield pdf

    out = sdf.mapInPandas(assign, out_schema)
    out._rank_persisted = sdf  # released via release_rank_cache
    return (out, acc) if with_count else out


class NotDenseWithinGroups(ValueError):
    """The grouped-rank precondition failed (idx not dense 0..n-1 per group)."""


def add_grouped_docid(
    df: DataFrame,
    group_col: str,
    idx_col: str,
    docid_col: str = "docid",
    max_driver_groups: int = 5_000_000,
    with_count: bool = False,
):
    """Two-level dense docid for GROUPED inputs: when ``idx_col`` is already
    dense 0..n-1 within each ``group_col`` (true for transcript turns), the
    global rank over (group, idx) is ``offset(group) + idx`` with offsets the
    exclusive prefix sum of group sizes in group order.

    This removes the wide-row range shuffle entirely — the only shuffled data
    is the skinny (group, size) table; the big frame takes a broadcast join
    and a narrow projection. Raises :class:`NotDenseWithinGroups` when the
    precondition fails (callers fall back to :func:`add_dense_docid`).

    Scale: ≤ ``max_driver_groups`` groups → offsets computed on the driver
    and broadcast. Above that, offsets come from the same two-phase pattern
    as :func:`add_dense_docid` run on the SIZES table (range shuffle of one
    skinny row per group), then a shuffle join back on ``group_col`` — on a
    real warehouse the input would be bucketed by ``group_col`` so even that
    join is co-located.
    """
    import pandas as pd

    spark = df.sparkSession
    sizes = df.groupBy(group_col).agg(
        F.count("*").alias("_n"),
        F.min(idx_col).alias("_lo"),
        F.max(idx_col).alias("_hi"),
        # count-distinct closes the duplicate-with-gap hole: idx [0,1,1,3]
        # satisfies (lo=0, hi=n-1) but is NOT dense — without _nd it would
        # silently assign duplicate docids and corrupt postings downstream
        F.count_distinct(F.col(idx_col)).alias("_nd"),
    )
    total = None
    # ONE probing job: collect up to the driver cap + 1 — if the limit bites,
    # take the distributed path; otherwise this IS the full sizes table
    probe = sizes.limit(max_driver_groups + 1).toPandas()
    n_groups = len(probe)
    ssz_persisted = None
    if n_groups == 0:
        # empty input: createDataFrame on an empty pandas frame can't infer a
        # schema — short-circuit to the trivially-correct empty result
        out = df.withColumn(docid_col, F.lit(0).cast("long"))
        return (out, 0) if with_count else out
    if n_groups <= max_driver_groups:
        # vectorized pandas/numpy on the driver — a constant on a real
        # cluster (the driver is its own node); kept minimal because the
        # local scaling emulation pins it onto the executor cores
        pdf = probe.sort_values(group_col).reset_index(drop=True)
        n = pdf["_n"].to_numpy(np.int64)
        bad = (
            (pdf["_lo"].to_numpy() != 0)
            | (pdf["_hi"].to_numpy() != n - 1)
            | (pdf["_nd"].to_numpy(np.int64) != n)
        )
        if bad.any():
            g = pdf.loc[np.flatnonzero(bad)[0]]
            raise NotDenseWithinGroups(
                f"group {g[group_col]!r}: idx range [{g['_lo']},{g['_hi']}] "
                f"with {g['_n']} rows ({g['_nd']} distinct) is not dense 0..n-1"
            )
        csum = n.cumsum()
        total = int(csum[-1]) if len(csum) else 0
        odf = spark.createDataFrame(
            pd.DataFrame({group_col: pdf[group_col], "_goff": csum - n})
        )
        joined = df.join(F.broadcast(odf), group_col)
    else:
        bad = sizes.where(
            (F.col("_lo") != 0)
            | (F.col("_hi") != F.col("_n") - 1)
            | (F.col("_nd") != F.col("_n"))
        )
        if bad.take(1):
            raise NotDenseWithinGroups("some groups are not dense 0..n-1")
        # distributed exclusive prefix sum of sizes in group order: the same
        # two-phase trick as add_dense_docid, accumulating _n instead of 1
        del probe
        n = spark.sparkContext.defaultParallelism
        ssz = sizes.repartitionByRange(n, F.col(group_col)).sortWithinPartitions(
            group_col
        )
        ssz = ssz_persisted = ssz.persist()
        psums = (
            ssz.groupBy(F.spark_partition_id().alias("_pid"))
            .agg(F.sum("_n").alias("_s"))
            .collect()
        )
        pmap = {int(r["_pid"]): int(r["_s"]) for r in psums}
        poff: dict[int, int] = {}
        acc = 0
        for pid in sorted(pmap):
            poff[pid] = acc
            acc += pmap[pid]
        total = acc
        bc = spark.sparkContext.broadcast(poff)

        def local_prefix(iterator):
            from pyspark import TaskContext

            base = bc.value.get(TaskContext.get().partitionId(), 0)
            seen = 0
            for pdf in iterator:
                pdf = pdf.copy()
                csum = pdf["_n"].to_numpy(np.int64).cumsum()
                pdf["_goff"] = base + seen + csum - pdf["_n"].to_numpy(np.int64)
                seen += int(csum[-1]) if len(csum) else 0
                yield pdf[[group_col, "_goff"]]

        gtype = df.schema[group_col].dataType.simpleString()
        odf = ssz.mapInPandas(local_prefix, f"{group_col} {gtype}, _goff long")
        joined = df.join(odf, group_col)
    out = joined.withColumn(
        docid_col, (F.col("_goff") + F.col(idx_col).cast("long")).cast("long")
    ).drop("_goff")
    if ssz_persisted is not None:
        out._rank_persisted = ssz_persisted  # released via release_rank_cache
    return (out, total) if with_count else out
