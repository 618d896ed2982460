"""The one postings encode stage (``build._encode_postings``) and the
writers every index source shares: term-ordered postings files, the
shard_sizes density check, and both sides of the term_stats row gate."""

import glob

import numpy as np
import pandas as pd
import pyarrow.parquet as papq
import pytest

from ciff_spark import build
from ciff_spark.build import BuildConfig, _dl_array, _write_shard_sizes, build_index
from ciff_spark.sources.jsonl_vectors import build_index_from_vector_rows
from ciff_spark.sources.transcripts import transcripts_df, transcripts_pdf
from ciff_spark.store import IndexStore


def _vector_rows(spark, n_docs=300, seed=3, vocab=200):
    rng = np.random.default_rng(seed)
    recs = [
        (str(d), d, f"v{int(t) % vocab}", float(rng.uniform(0.5, 9.0)))
        for d in range(n_docs)
        for t in rng.zipf(1.3, int(rng.integers(1, 20)))
    ]
    return spark.createDataFrame(
        pd.DataFrame(recs, columns=["ext_id", "pos", "term", "score"])
    )


def _assert_files_term_sorted(root):
    files = glob.glob(f"{root}/postings/pgroup=*/*.parquet")
    assert files
    for f in files:
        t = papq.read_table(f, columns=["term", "shard"])
        keys = list(zip(t["term"].to_pylist(), t["shard"].to_pylist()))
        assert keys == sorted(keys), f


@pytest.mark.parametrize("source", ["build", "vector", "compact"])
def test_postings_files_are_term_sorted(spark, tmp_path, source):
    """Every postings file holds its rows in (term, shard) order — the text
    build, the impact build and the rows concat compaction appends."""
    from ciff_spark.streaming.incremental import append_batch, compact_segments

    root = str(tmp_path / source)
    if source == "vector":
        build_index_from_vector_rows(
            spark, _vector_rows(spark), root, n_shards=4, n_pgroups=2, block_size=8
        )
    else:
        build_index(
            transcripts_df(spark, 30, seed=9, partitions=4), root,
            config=BuildConfig(n_shards=4, n_pgroups=2, block_size=16),
            resume=False,
        )
    if source == "compact":
        seg = transcripts_pdf(15, seed=10)
        seg["conv_id"] = "s_" + seg["conv_id"]
        append_batch(spark, IndexStore(root), spark.createDataFrame(seg), 0)
        compact_segments(spark, root)
        # the fold appended a second file to (at least) one pgroup dir
        assert len(glob.glob(f"{root}/postings/pgroup=*/*.parquet")) > 2
    _assert_files_term_sorted(root)


@pytest.mark.parametrize("source", ["build", "vector", "segment", "compact"])
def test_postings_row_groups_bounded(spark, tmp_path, source):
    """Every postings and segment postings file is a term lexicon in its
    footer: row groups of at most 1024 rows (so a file above that has
    several), no dictionary pages, and ascending, disjoint ``term`` ranges
    from group to group. One pgroup puts every row of a build in one file,
    so the files are large enough to need several groups."""
    from ciff_spark.streaming.incremental import append_batch, compact_segments

    root = str(tmp_path / source)
    if source == "vector":
        build_index_from_vector_rows(
            spark, _vector_rows(spark, 600, vocab=2000), root, n_shards=4, n_pgroups=1,
        )
    else:
        build_index(
            transcripts_df(spark, 30, seed=9, partitions=2), root,
            config=BuildConfig(n_shards=4, n_pgroups=1), resume=False,
        )
    if source in ("segment", "compact"):
        seg = transcripts_pdf(30, seed=10)
        seg["conv_id"] = "s_" + seg["conv_id"]
        append_batch(spark, IndexStore(root), spark.createDataFrame(seg), 0)
    if source == "compact":
        compact_segments(spark, root)
        assert len(glob.glob(f"{root}/postings/pgroup=*/*.parquet")) == 2
    table = "seg_postings/seg_*" if source == "segment" else "postings/pgroup=*"
    files = glob.glob(f"{root}/{table}/*.parquet")
    assert files
    sizes = []
    for f in files:
        md = papq.ParquetFile(f).metadata
        groups = [md.row_group(i) for i in range(md.num_row_groups)]
        sizes.append(md.num_rows)
        assert all(g.num_rows <= 1024 for g in groups), f
        assert md.num_rows <= 1024 or len(groups) > 1, f
        for g in groups:
            for j in range(g.num_columns):
                enc = g.column(j).encodings
                assert not any("DICTIONARY" in e for e in enc), (f, g.column(j).path_in_schema, enc)
        ranges = [(g.column(0).statistics.min, g.column(0).statistics.max) for g in groups]
        assert groups[0].column(0).path_in_schema == "term"
        assert all(lo <= hi for lo, hi in ranges), f
        # ascending and disjoint, except that one term's (term, shard) rows
        # may straddle a cut: then it is both one group's max and the next's min
        assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:])), (f, ranges)
    assert max(sizes) > 1024  # the fixture really spans several groups


def test_write_shard_sizes_rejects_docid_gap(spark, tmp_path):
    """shard_sizes packs one doclength run per shard; docids that are not
    exactly 0..N-1 must raise on the driver, not pack silently."""
    schema = "docid bigint, doclength int"
    cases = [
        ([0, 1, 3], 8),        # gap inside a shard
        ([0, 1, 3], 2),        # a shard that does not start at its boundary
        ([0, 1, 4, 5], 2),     # a whole shard missing
        ([0, 1, 2, 3, 5], 2),  # a short shard before the last
    ]
    for i, (dids, ssz) in enumerate(cases):
        docs = spark.createDataFrame([(d, 3) for d in dids], schema)
        with pytest.raises(ValueError, match="not dense"):
            _write_shard_sizes(IndexStore(str(tmp_path / f"bad{i}")), docs, ssz)
    store = IndexStore(str(tmp_path / "ok"))
    lens = [4, 0, 7, 2, 9]
    _write_shard_sizes(
        store, spark.createDataFrame(list(enumerate(lens)), schema), 2
    )
    np.testing.assert_array_equal(_dl_array(store, 5), lens)


@pytest.mark.parametrize("source", ["text", "jsonl"])
def test_term_stats_gate_both_sides_agree(spark, tmp_path, monkeypatch, source):
    """TERM_STATS_DRIVER_MAX_ROWS splits term_stats into a driver-side
    pyarrow aggregation and a distributed one: both must write the same
    (term, df, cf, pgroup) rows and the same meta.num_terms."""
    local_writes = []
    write_local = build._write_table_local

    def spy(store, table, tbl, **kw):
        local_writes.append(table)
        return write_local(store, table, tbl, **kw)

    monkeypatch.setattr(build, "_write_table_local", spy)
    out = {}
    for side, gate in (("driver", float("inf")), ("distributed", 0)):
        monkeypatch.setattr(build, "TERM_STATS_DRIVER_MAX_ROWS", gate)
        local_writes.clear()
        root = str(tmp_path / f"{source}_{side}")
        if source == "text":
            build_index(
                transcripts_df(spark, 20, seed=4, partitions=2), root,
                config=BuildConfig(n_shards=2, n_pgroups=4, block_size=16),
                resume=False,
            )
        else:
            build_index_from_vector_rows(
                spark, _vector_rows(spark, 120), root, quantize=True,
                n_shards=2, n_pgroups=4,
            )
        assert ("term_stats" in local_writes) == (side == "driver")
        t = papq.read_table(glob.glob(f"{root}/term_stats/*.parquet"))
        rows = sorted(zip(*(t[c].to_pylist() for c in ("term", "df", "cf", "pgroup"))))
        out[side] = (rows, IndexStore(root).meta_local()["num_terms"])
    assert out["driver"][0] and out["driver"] == out["distributed"]
    assert out["driver"][1] == len(out["driver"][0])
