"""jsonl2ciff-equivalent ingest: reference semantics on a hand-checkable
fixture — first-seen ids, repeated-id accumulation, tf≤0 drops, quantization,
the unique-terms doclength quirk."""

import json

import numpy as np
import pytest

from ciff_spark.sources.jsonl_vectors import build_index_from_doc_vectors
from oracle import decode_postings

DOCS = [
    {"id": "zebra", "vector": {"apple": 3.0, "pear": 1.0}},
    {"id": 7, "vector": {"apple": 2.0, "kiwi": 0.0}},          # int id; 0-score drop
    {"id": "zebra", "vector": {"plum": 2.0, "apple": 1.0}},    # repeat: accumulates
    {"id": "alpha", "vector": {"pear": -4.0, "kiwi": 5.0}},    # negative drop
]


@pytest.fixture(scope="module")
def jsonl(tmp_path_factory):
    p = tmp_path_factory.mktemp("jsonl") / "docs.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in DOCS) + "\n")
    return str(p)


def _postings(spark, store):
    out = {}
    for r in store.read(spark, "postings").orderBy("term", "shard").collect():
        d, tf = decode_postings([b.asDict() for b in r["blocks"]])
        pd_, pt = out.get(r["term"], (np.array([], np.int64), np.array([], np.int64)))
        out[r["term"]] = (np.concatenate([pd_, d]), np.concatenate([pt, tf]))
    return out


def test_jsonl_ingest_reference_semantics(spark, jsonl, tmp_path):
    store = build_index_from_doc_vectors(
        spark, jsonl, str(tmp_path / "idx"), quantize=False,
        doclength_mode="unique_terms", n_shards=2, n_pgroups=2,
    )
    docs = {r["ext_id"]: (r["docid"], r["doclength"])
            for r in store.read(spark, "docs").collect()}
    # first-seen order: zebra=0, 7=1, alpha=2
    assert docs == {"zebra": (0, 3), "7": (1, 1), "alpha": (2, 1)}
    # zebra's doclength: unique kept terms apple+pear+plum = 3 (the quirk),
    # NOT Σtf = 3+1+2+1 = 7
    post = _postings(spark, store)
    np.testing.assert_array_equal(post["apple"][0], [0, 1])
    np.testing.assert_array_equal(post["apple"][1], [4, 2])  # 3+1 accumulated
    np.testing.assert_array_equal(post["pear"][0], [0])
    np.testing.assert_array_equal(post["plum"][1], [2])
    np.testing.assert_array_equal(post["kiwi"][0], [2])
    np.testing.assert_array_equal(post["kiwi"][1], [5])
    assert set(post) == {"apple", "pear", "plum", "kiwi"}
    meta = store.meta(spark)
    assert meta["num_docs"] == 3 and meta["num_terms"] == 4
    assert meta["total_terms"] == 5  # Σ unique-term doclengths
    assert meta["avgdl"] == pytest.approx(5 / 3)


def test_jsonl_ingest_quantized(spark, jsonl, tmp_path):
    store = build_index_from_doc_vectors(
        spark, jsonl, str(tmp_path / "idxq"), quantize=True,
        n_shards=1, n_pgroups=2,
    )
    post = _postings(spark, store)
    # positive range is [1.0, 5.0]; q(v) = round((v-1)/4*254)+1
    q = lambda v: min(255, max(1, round((v - 1.0) / 4.0 * 254) + 1))
    np.testing.assert_array_equal(post["apple"][1], [q(3.0) + q(1.0), q(2.0)])
    np.testing.assert_array_equal(post["kiwi"][1], [q(5.0)])
    assert post["kiwi"][1][0] == 255


def test_jsonl_idmap_partition_invariant(spark, tmp_path):
    """The first-seen id rank is a two-phase dense rank (plans/rank.py), not
    a single-partition window: the assigned docids must not depend on input
    partitioning / shuffle parallelism."""
    docs = [{"id": f"d{i:04d}", "vector": {"t": float(i % 7 + 1)}} for i in range(300)]
    p = tmp_path / "many.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    maps = []
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    for shuffle_parts in (2, 16):
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_parts)
        try:
            store = build_index_from_doc_vectors(
                spark, str(p), str(tmp_path / f"idx{shuffle_parts}"),
                n_shards=3, n_pgroups=2,
            )
            maps.append(
                {r["ext_id"]: r["docid"] for r in store.read(spark, "docs").collect()}
            )
        finally:
            # restore, not unset: unset falls back to Spark's default of 200,
            # not the session's configured value
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert maps[0] == maps[1]
    # one file, ordered lines: first-seen == line order
    assert maps[0] == {f"d{i:04d}": i for i in range(300)}


def test_jsonl_sum_tf_mode(spark, jsonl, tmp_path):
    store = build_index_from_doc_vectors(
        spark, jsonl, str(tmp_path / "idxs"), doclength_mode="sum_tf",
        n_shards=1, n_pgroups=1,
    )
    docs = {r["ext_id"]: r["doclength"] for r in store.read(spark, "docs").collect()}
    assert docs == {"zebra": 7, "7": 2, "alpha": 5}
