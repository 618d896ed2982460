"""LocalSearcher: rank-identity with the oracle + latency sanity.

Multi-shard indexes are the interesting case — a term's list is assembled by
concatenating shard blocks whose first gaps were encoded from −1."""

import time

import numpy as np
import pytest

from ciff_spark.build import BuildConfig, build_index
from ciff_spark.serve import LocalSearcher
from ciff_spark.sources.transcripts import transcripts_df, transcripts_pdf
from oracle import OracleIndex

QUERIES = [
    "w000001",
    "w000000 w000123",
    "w000777 w000001 w004321",
    "zzzz absent",
    "w000002 w000003 w000004 w000005",
]


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("serve") / "idx")
    df = transcripts_df(spark, 35, seed=13, partitions=4)
    build_index(
        df, root,
        config=BuildConfig(n_shards=5, n_pgroups=4, block_size=16),
        resume=False,
    )
    oracle = OracleIndex.build(transcripts_pdf(35, seed=13))
    return LocalSearcher(root), oracle


def test_local_search_matches_oracle(served):
    searcher, oracle = served
    for q in QUERIES:
        got = searcher.search(q, k=10)
        exp = oracle.topk(q, 10)
        assert [d for d, _ in got] == [d for d, _ in exp], q
        assert np.allclose([s for _, s in got], [s for _, s in exp], atol=1e-9), q


def test_lazy_term_stats_identical(served, monkeypatch):
    """Huge-vocabulary shape: stats resolve per query (row-group-pruned reads
    of the sorted term_stats) instead of materializing the vocabulary —
    results must be identical to the eager path, absent terms cached."""
    searcher, _ = served
    monkeypatch.setattr(LocalSearcher, "EAGER_STATS_MAX_TERMS", 0)
    lazy = LocalSearcher(searcher.root)
    assert lazy._lazy_stats and lazy._df == {}
    for q in QUERIES:
        assert lazy.search(q, k=10) == searcher.search(q, k=10), q
    assert lazy._df.get("zzzz") == 0  # absent terms cached as df=0
    # repeat query: no growth in resolved map (cache hit)
    n = len(lazy._df)
    lazy.search(QUERIES[0], k=10)
    assert len(lazy._df) == n


def test_local_search_latency(served):
    searcher, _ = served
    searcher.search("w000001 w000002", k=10)  # warm
    t0 = time.time()
    n = 50
    for _ in range(n):
        searcher.search("w000001 w000777", k=10)
    per = (time.time() - t0) / n
    # no Spark job in the loop: must be interactive-grade
    assert per < 0.25, f"{per * 1000:.1f} ms per query"


def test_wand_serving_matches_exhaustive_engine(served):
    """Cross-engine rank identity on the SAME index artifact: LocalSearcher
    (Block-Max WAND kernel, prunes) vs FreshSearcher(prune=False) with no
    segments (the exhaustive scorer, decodes everything). Exact tuple
    equality including raw float scores and k-th-place docid tie-breaks —
    the A/B that caught the r4 inverted tie mask in the vectorized heap
    admission. The PRUNED fresh path (default) must agree with both."""
    from ciff_spark.serve import FreshSearcher

    searcher, _ = served
    fresh = FreshSearcher(searcher.root)
    for q in QUERIES + ["w000000 w000001 w000002", "w000010 w000200"]:
        exhaustive = fresh.search(q, k=7, prune=False)
        assert searcher.search(q, k=7) == exhaustive, q
        assert FreshSearcher(searcher.root).search(q, k=7) == exhaustive, q


def test_filtered_serving_matches_brute_filter(served):
    """Metadata-filtered WAND serving (allowed_docids) must equal filtering
    the exhaustive engine's complete score list and re-ranking — scores stay
    collection-level, pruning θ tracks the k-th best ALLOWED score."""
    from ciff_spark.serve import FreshSearcher

    searcher, _ = served
    allowed = np.arange(0, searcher.num_docs, 3)  # every 3rd doc
    allow_set = set(allowed.tolist())
    for q in QUERIES:
        got = LocalSearcher(searcher.root).search(q, k=7, allowed_docids=allowed)
        # brute force: exhaustive scores over ALL docs, filter, re-rank
        full = FreshSearcher(searcher.root).search(q, k=10**9, prune=False)
        want = [(d, s) for d, s in full if d in allow_set][:7]
        assert got == want, q


def test_search_batch_identical_to_per_query(served):
    """search_batch (one union-of-terms fetch, shared decode caches) must be
    result-identical to per-query search on a fresh searcher."""
    searcher, _ = served
    batch = QUERIES + ["w000010 w000200"]
    got = LocalSearcher(searcher.root).search_batch(batch, k=7)
    for q, rows in zip(batch, got):
        assert rows == searcher.search(q, k=7), q


def test_search_sums_in_sorted_term_order_warm_or_cold(served, monkeypatch):
    """A warm query must score exactly like the same query cold: after a
    later term is pre-warmed into the hot cache, the kernel still gets the
    lists in sorted-term order (a doc's contributions add in list order),
    and the results equal a cold searcher's tuple for tuple."""
    from ciff_spark import serve

    searcher, _ = served
    q = "w000002 w000003 w000004 w000005"
    terms = q.split()
    warm = LocalSearcher(searcher.root)
    warm.search(terms[-1], k=10)  # the LAST term in sorted order goes hot first
    seen = []
    real = serve.wand_topk

    def spy(lists, *a, **kw):
        seen.append([id(blocks) for _, blocks, _ in lists])
        return real(lists, *a, **kw)

    monkeypatch.setattr(serve, "wand_topk", spy)
    got = warm.search(q, k=10)
    assert seen == [[id(warm._hot[t][0]) for t in terms]]
    assert got == LocalSearcher(searcher.root).search(q, k=10)


@pytest.fixture(scope="module")
def segmented(spark, tmp_path_factory):
    """A 3-shard base index plus one committed ``append_batch`` segment."""
    from ciff_spark.store import IndexStore
    from ciff_spark.streaming.incremental import append_batch

    pdf = transcripts_pdf(40, seed=7).sort_values(["conv_id", "turn_idx"])
    convs = sorted(pdf["conv_id"].unique())
    base_pdf = pdf[pdf.conv_id.isin(convs[:30])]
    seg_pdf = pdf[pdf.conv_id.isin(convs[30:])]
    root = str(tmp_path_factory.mktemp("fresh_prune") / "idx")
    build_index(
        spark.createDataFrame(base_pdf), root,
        config=BuildConfig(n_shards=3, n_pgroups=4, block_size=16),
        resume=False,
    )
    append_batch(spark, IndexStore(root), spark.createDataFrame(seg_pdf), 0)
    return root


def test_fresh_pruned_equals_exhaustive_with_segments(segmented):
    """FreshSearcher's pruned path (one Block-Max WAND call over base ∪
    segment lists under FRESH stats) must return tuple-identical results to
    the exhaustive kernel on a segmented index — across base-only /
    segment-only / mixed-term queries, both with and without the
    rounded-rank contract, and it must actually skip blocks."""
    from ciff_spark.serve import FreshSearcher

    root = segmented
    queries = QUERIES + ["w000000 w000001 w000002", "w000010 w000200"]
    for q in queries:
        for rd in (None, 6):
            a = FreshSearcher(root).search(q, k=7, round_decimals=rd)
            b = FreshSearcher(root).search(q, k=7, round_decimals=rd, prune=False)
            assert a == b, (q, rd)
    # the pruned path must decode fewer blocks than exist (fresh instance
    # per query so caches don't masquerade as pruning)
    st: dict = {}
    for q in queries:
        FreshSearcher(root).search(q, k=3, stats=st)
    assert 0 < st["decoded_blocks"] < st["total_blocks"]
    # filtered fresh serving: allowed set spanning base AND segment docids,
    # pruned ≡ exhaustive under the same mask
    fs = FreshSearcher(root)
    allowed = np.arange(0, fs.num_docs, 2)
    assert allowed.max() >= LocalSearcher(root).num_docs  # really covers segment docids
    for q in queries[:4]:
        a = FreshSearcher(root).search(q, k=7, allowed_docids=allowed)
        b = FreshSearcher(root).search(q, k=7, prune=False, allowed_docids=allowed)
        assert a == b, q
        assert all(d % 2 == 0 for d, _ in a), q


def test_fresh_lazy_term_stats_identical(segmented, monkeypatch):
    """Lazy base term stats with segments present: results equal the eager
    searcher's for a segment-only term, a base-only term, a mixed query and
    an absent term — and the segment-only term resolves no pgroup."""
    import pyarrow.parquet as pq

    from ciff_spark.serve import FreshSearcher

    root = segmented
    eager = FreshSearcher(root)
    base_terms = set(pq.read_table(f"{root}/term_stats", columns=["term"])["term"].to_pylist())
    seg_terms = set(eager._seg_df)
    seg_only = min(seg_terms - base_terms)
    base_only = min(base_terms - seg_terms)
    both = min(base_terms & seg_terms)
    monkeypatch.setattr(LocalSearcher, "EAGER_STATS_MAX_TERMS", 0)
    lazy = FreshSearcher(root)
    assert lazy._lazy_stats and lazy._df == {}
    for q in (seg_only, base_only, f"{base_only} {both} {seg_only}", "zzzz absent"):
        for prune in (True, False):
            got = lazy.search(q, k=10, prune=prune)
            assert got == eager.search(q, k=10, prune=prune), q
    assert lazy.search(seg_only, k=10)
    assert lazy._df[seg_only] == 0 and seg_only not in lazy._pg
