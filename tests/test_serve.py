"""LocalSearcher: rank-identity with the oracle + latency sanity.

Multi-shard indexes are the interesting case — a term's list is assembled by
concatenating shard blocks whose first gaps were encoded from −1."""

import time

import numpy as np
import pytest

from ciff_spark.build import BuildConfig, build_index
from ciff_spark.serve import LocalSearcher
from ciff_spark.wand import PostingList
from ciff_spark.sources.transcripts import transcripts_df, transcripts_pdf
from oracle import OracleIndex, posting_list

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
        seen.append([id(plist) for _, plist in lists])
        return real(lists, *a, **kw)

    monkeypatch.setattr(serve, "wand_topk", spy)
    got = warm.search(q, k=10)
    assert seen == [[id(warm._hot[t]) for t in terms]]
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


def test_serving_decodes_only_through_the_batch_decoder(served, segmented, monkeypatch):
    """Serving decodes with ``codec.decode_blocks`` alone: the codec has no
    per-block decoder, and with the batch decoder spied on where the kernel
    looks it up, ``LocalSearcher`` and ``FreshSearcher`` searches, pruned
    and unpruned, call it and return exactly what they return unspied."""
    from ciff_spark import wand
    from ciff_spark.functions import codec
    from ciff_spark.serve import FreshSearcher

    assert not hasattr(codec, "decode_block") and not hasattr(codec, "decode_postings")
    queries = QUERIES + ["w000000 w000001 w000002", "w000010 w000200"]
    cases = [
        (cls, root, q, prune)
        for cls, root in ((LocalSearcher, served[0].root), (FreshSearcher, segmented))
        for q in queries
        for prune in (True, False)
    ]
    want = [cls(root).search(q, k=7, prune=prune) for cls, root, q, prune in cases]
    assert sum(map(bool, want)) > len(cases) // 2

    calls = []

    def spy(cols, sel):
        calls.append(len(sel))
        return codec.decode_blocks(cols, sel)

    monkeypatch.setattr(wand, "decode_blocks", spy)
    got = [cls(root).search(q, k=7, prune=prune) for cls, root, q, prune in cases]
    assert got == want
    assert calls and sum(calls) > 0


def test_hot_cache_charges_the_bytes_a_list_owns(segmented):
    """A hot-cache entry is charged exactly the bytes it holds. A term's
    ``PostingList``, once decoded and its geometry cached, owns every array
    it holds: its bins are copied out of the row-group read, so a term entry
    never keeps a 1024-row group alive uncharged. A resident row group is
    charged exactly its buffers, so ``CACHE_BYTES`` bounds memory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ciff_spark.serve import FreshSearcher

    for cls in (LocalSearcher, FreshSearcher):
        s = cls(segmented)
        for q in QUERIES + ["w000000 w000001 w000002", "w000010 w000200"]:
            s.search(q, k=7)
            s.search(q, k=7, prune=False)  # decodes every block: all arrays allocated
        lists = {t: v for t, v in s._hot.items() if isinstance(v, PostingList)}
        groups = {key: v for key, v in s._hot.items() if isinstance(v, pa.Table)}
        assert lists and groups and len(lists) + len(groups) == len(s._hot), cls.__name__
        for t, plist in lists.items():
            (lo, _hi, mtf), = plist._geom.values()  # hi is cols.max_docid
            arrays = [*plist.cols, plist.post_off, plist._done, plist._docs, plist._tfs, lo, mtf]
            assert all(a.base is None for a in arrays), (cls.__name__, t)
            assert s._hot_bytes[t] == plist.nbytes == sum(a.nbytes for a in arrays)
        for (f, i), tbl in groups.items():
            assert tbl.column_names == ["term", "blocks"]
            assert tbl.num_rows == pq.ParquetFile(f).metadata.row_group(i).num_rows
            buffers = [
                b for col in tbl.columns for chunk in col.chunks
                for b in chunk.buffers() if b is not None
            ]
            assert s._hot_bytes[(f, i)] == sum(b.size for b in buffers), (cls.__name__, f, i)
        assert s._hot_total == sum(s._hot_bytes.values())


# ---------------------------------------------------------------------------
# the footer lexicon: a cold query reads only the row groups of its terms
# ---------------------------------------------------------------------------

def _spy_row_group_reads(monkeypatch) -> list[tuple[object, list[int]]]:
    """Record (``ParquetFile``, groups read) per
    ``ParquetFile.read_row_groups`` call."""
    import pyarrow.parquet as pq

    calls = []
    read = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *args, **kwargs):
        calls.append((self, list(row_groups)))
        return read(self, row_groups, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    return calls


def _vocab_sample(root: str, n: int) -> list[str]:
    """``n`` terms spread evenly over the sorted base vocabulary."""
    import pyarrow.parquet as pq

    terms = sorted(pq.read_table(f"{root}/term_stats", columns=["term"])["term"].to_pylist())
    return [terms[i] for i in np.linspace(0, len(terms) - 1, n).astype(int)]


def _covering(searcher: LocalSearcher, term: str) -> set[tuple[str, int]]:
    """The (file, row group) pairs whose footer range covers ``term``: in
    its pgroup's files if it has base rows, in the segment files if it has
    segment rows."""
    keys = [None if searcher._pg is None else searcher._pg[term]] if searcher._df.get(term) else []
    keys += ["seg"] if searcher._seg_df.get(term) else []
    return {
        (f, i) for key in keys for f, _, ranges in searcher._lexicon(key)
        for i, r in enumerate(ranges) if r is None or r[0] <= term <= r[1]
    }


def _group_sharing_pairs(root: str, n: int) -> list[tuple[str, str]]:
    """``n`` pairs of distinct base terms covered by the same row groups,
    spread over the vocabulary."""
    probe = LocalSearcher(root)
    by_groups: dict[frozenset, list[str]] = {}
    for t in _vocab_sample(root, 200):
        by_groups.setdefault(frozenset(_covering(probe, t)), []).append(t)
    probe.close()
    pairs = [(ts[0], ts[-1]) for ts in by_groups.values() if len(ts) > 1]
    return [pairs[i] for i in np.linspace(0, len(pairs) - 1, n).astype(int)]


@pytest.fixture(scope="module")
def grouped(spark, tmp_path_factory):
    """An index whose postings files hold several 1024-row groups."""
    root = str(tmp_path_factory.mktemp("grouped") / "idx")
    build_index(
        transcripts_df(spark, 40, seed=21, partitions=2), root,
        config=BuildConfig(n_shards=4, n_pgroups=2, block_size=16), resume=False,
    )
    return root


def _exact_topk(spark, root: str, queries: list[str]) -> list[list[tuple[int, float]]]:
    """``IndexReader.topk(mode="exact")`` per query, ranked by (−score, docid)."""
    from ciff_spark.query import IndexReader

    exact: dict[int, list] = {}
    for r in IndexReader(spark, root).topk(list(enumerate(queries)), k=10, mode="exact").collect():
        exact.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    return [sorted(exact.get(i, []), key=lambda x: (-x[1], x[0])) for i in range(len(queries))]


def _assert_ranks_like(got: list, want: list, label) -> None:
    assert [d for d, _ in got] == [d for d, _ in want], label
    assert np.allclose([s for _, s in got], [s for _, s in want], rtol=1e-12), label


def test_one_term_query_reads_at_most_two_row_groups(spark, grouped, monkeypatch):
    """A cold one-term query reads at most the two row groups its rows can
    straddle in each file it touches, on files of several groups, and
    ranks exactly as the unpruned kernel and ``IndexReader`` exact."""
    from collections import Counter

    root = grouped
    terms = _vocab_sample(root, 12)
    exact = _exact_topk(spark, root, terms)
    calls = _spy_row_group_reads(monkeypatch)
    for t, want in zip(terms, exact):
        n = len(calls)
        got = LocalSearcher(root).search(t, k=10)
        per_file = Counter(id(pf) for pf, groups in calls[n:] for _ in groups)
        assert per_file and max(per_file.values()) <= 2, t
        assert got == LocalSearcher(root).search(t, k=10, prune=False), t
        _assert_ranks_like(got, want, t)
    assert max(pf.metadata.num_row_groups for pf, _ in calls) > 2


@pytest.mark.parametrize("fresh", [False, True], ids=["LocalSearcher", "FreshSearcher"])
def test_close_releases_lexicon_files_and_row_groups(request, monkeypatch, fresh):
    """``close`` releases the files the lexicon holds (FreshSearcher's
    segment files too) and the row groups read from them; a later miss
    reopens the files and reads the groups again."""
    from ciff_spark.serve import FreshSearcher

    cls = FreshSearcher if fresh else LocalSearcher
    root = request.getfixturevalue("segmented" if fresh else "grouped")
    calls = _spy_row_group_reads(monkeypatch)
    s = cls(root)
    if fresh:  # two terms with segment rows
        a, b = [t for t in _vocab_sample(root, 30) if s._seg_df.get(t)][:2]
    else:
        a, b = _group_sharing_pairs(root, 1)[0]
    first = s.search(a, k=10)
    held = [pf for lex in s._lex.values() for _, pf, _ in lex]
    assert any(isinstance(key, tuple) for key in s._hot)
    assert ("seg" in s._lex) == fresh
    s.close()
    assert held and all(pf.closed for pf in held) and s._lex == {}
    assert not any(isinstance(key, tuple) for key in s._hot)
    assert s._hot_total == sum(s._hot_bytes.values())
    st: dict = {}
    n = len(calls)
    got = s.search(b, k=10, stats=st)
    assert st["row_groups_read"] == len(calls) - n == len(_covering(s, b)) > 0
    assert st["row_groups_resident"] == 0
    assert not any(pf.closed for lex in s._lex.values() for _, pf, _ in lex)
    assert ("seg" in s._lex) == fresh
    assert got == cls(root).search(b, k=10)
    assert s.search(a, k=10) == first


def test_cold_terms_read_a_shared_row_group_once(spark, grouped, monkeypatch):
    """Two cold queries on one searcher whose terms lie in the same row
    groups: the second filters the groups the first read, issuing no read,
    and both rank exactly as a fresh searcher, the unpruned kernel and
    ``IndexReader`` exact."""
    root = grouped
    pairs = _group_sharing_pairs(root, 3)
    exact = _exact_topk(spark, root, [t for pair in pairs for t in pair])
    calls = _spy_row_group_reads(monkeypatch)
    for j, (a, b) in enumerate(pairs):
        s = LocalSearcher(root)
        cover = _covering(s, a)
        assert cover == _covering(s, b) and a != b
        for i, t in enumerate((a, b)):
            st: dict = {}
            n = len(calls)
            got = s.search(t, k=10, stats=st)
            if i == 0:  # cold: reads every covering group, one per read
                assert st["row_groups_read"] == len(calls) - n == len(cover), t
                assert st["row_groups_resident"] == 0, t
            else:  # the same groups are resident: no read at all
                assert calls[n:] == [] and st["row_groups_read"] == 0, t
                assert st["row_groups_resident"] == len(cover), t
            assert got == LocalSearcher(root).search(t, k=10), t
            assert got == LocalSearcher(root).search(t, k=10, prune=False), t
            assert got == s.search(t, k=10, prune=False), t
            _assert_ranks_like(got, exact[2 * j + i], t)


@pytest.mark.parametrize("budget,fresh", [
    pytest.param("bytes", False, id="bytes"),
    pytest.param("entries", False, id="entries"),
    pytest.param("bytes", True, id="fresh-bytes"),
    pytest.param("entries", True, id="fresh-entries"),
])
def test_hot_cache_budget_evicts_row_groups_soundly(request, monkeypatch, budget, fresh):
    """Under a budget smaller than one row group (or than a query's
    entries), every query still equals an unbounded searcher's, and right
    after open and after every fetch the LRU total is the sum of its
    charges and within the budget: no group stays resident under the byte
    budget, and later queries read evicted groups again. A
    ``FreshSearcher`` on a segmented index holds its segment groups under
    the same budget from the open on, and reads evicted ones again through
    the lexicon."""
    import pyarrow as pa

    from ciff_spark.serve import FreshSearcher

    cls = FreshSearcher if fresh else LocalSearcher
    root = request.getfixturevalue("segmented" if fresh else "grouped")
    terms = _vocab_sample(root, 24)
    queries = [" ".join(terms[i::5]) for i in range(5)] + terms[::2]
    unbounded = cls(root)
    want = [unbounded.search(q, k=10) for q in queries]
    sizes = [v.get_total_buffer_size() for v in unbounded._hot.values() if isinstance(v, pa.Table)]
    if budget == "bytes":
        monkeypatch.setattr(LocalSearcher, "CACHE_BYTES", min(sizes) - 1)
    else:
        monkeypatch.setattr(LocalSearcher, "CACHE_TERMS", 2)
    real = LocalSearcher._fetch_lists

    def within_budget(self):
        assert self._hot_bytes.keys() == self._hot.keys()
        assert self._hot_total == sum(self._hot_bytes.values())
        assert self._hot_total <= self.CACHE_BYTES and len(self._hot) <= self.CACHE_TERMS
        if budget == "bytes":
            assert not any(isinstance(v, pa.Table) for v in self._hot.values())

    def checked(self, *a, **kw):
        out = real(self, *a, **kw)
        within_budget(self)
        return out

    monkeypatch.setattr(LocalSearcher, "_fetch_lists", checked)
    calls = _spy_row_group_reads(monkeypatch)
    s = cls(root)
    within_budget(s)
    n = len(calls)
    st: dict = {}
    for _ in range(2):
        for q, w in zip(queries, want):
            assert s.search(q, k=10, stats=st) == w, q
    assert st["row_groups_read"] > len(sizes)  # evicted groups were read again
    if budget == "bytes":
        assert st["row_groups_resident"] == 0
    if fresh:  # segment groups among them, through the lexicon's files
        seg = {id(pf) for _, pf, _ in s._lex["seg"]}
        assert seg and any(id(pf) in seg for pf, _ in calls[n:])


def test_lexicon_serves_legacy_layouts_identically(segmented, tmp_path):
    """Indexes written before bounded row groups stay correct with no
    fallback path: postings rewritten as ONE shuffled row group per pgroup,
    one file without statistics, and segment postings rewritten as shuffled
    single groups without statistics, serve exactly as the original through
    ``LocalSearcher`` and ``FreshSearcher``, with the groups resident or
    read cold."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from ciff_spark.serve import FreshSearcher

    legacy = str(tmp_path / "legacy")
    shutil.copytree(segmented, legacy)
    rng = np.random.default_rng(5)
    dirs = sorted(glob.glob(f"{legacy}/postings/pgroup=*"))
    seg_dirs = sorted(glob.glob(f"{legacy}/seg_postings/seg_*"))
    assert seg_dirs
    for i, d in enumerate(dirs + seg_dirs):
        files = glob.glob(f"{d}/*.parquet")
        t = pq.read_table(files)
        t = t.take(rng.permutation(t.num_rows))
        for f in files:
            os.remove(f)
        stat_less = i == 0 or d in seg_dirs
        pq.write_table(t, f"{d}/part-0.parquet", row_group_size=t.num_rows,
                       write_statistics=not stat_less)
        md = pq.ParquetFile(f"{d}/part-0.parquet").metadata
        assert md.num_row_groups == 1
        assert (md.row_group(0).column(0).statistics is None) == stat_less
    terms = _vocab_sample(segmented, 30)
    queries = QUERIES + [" ".join(terms[i::7]) for i in range(7)] + terms[::3]
    for cls in (LocalSearcher, FreshSearcher):
        # ONE searcher per layout serves every query, so a later query's
        # cold terms are filtered out of a shuffled group already resident;
        # each result also equals a fresh legacy searcher's
        new, old = cls(segmented), cls(legacy)
        st: dict = {}
        for q in queries:
            for prune in (True, False):
                got = old.search(q, k=10, prune=prune, stats=st)
                assert got == new.search(q, k=10, prune=prune), (cls.__name__, q, prune)
                assert got == cls(legacy).search(q, k=10, prune=prune), (cls.__name__, q, prune)
        assert st["row_groups_read"] <= len(dirs) < st["row_groups_resident"], cls.__name__


def test_lexicon_orders_non_ascii_terms_like_str(spark, tmp_path, monkeypatch):
    """An impact index with non-ASCII terms: footer min/max (unsigned UTF-8
    byte order) agree with Python ``str`` order — including U+FF5A vs
    U+1F600, which UTF-16 order would swap — and every term fetches exactly
    its rows."""
    import glob

    import pandas as pd
    import pyarrow.parquet as pq

    from ciff_spark import serve
    from ciff_spark.sources.jsonl_vectors import build_index_from_vector_rows

    odd = ["é", "éa", "ÿ", "Ω", "日本", "ｚ", "\U0001f600", "z", "Z", "a b"]
    vocab = [f"v{i:04d}" for i in range(1200)] + odd
    rng = np.random.default_rng(11)
    recs = [
        (str(d), d, vocab[int(t)], float(rng.uniform(0.5, 9.0)))
        for d in range(400)
        for t in set(rng.integers(0, len(vocab), 12).tolist()) | {1200 + d % len(odd)}
    ]
    root = str(tmp_path / "impact")
    build_index_from_vector_rows(
        spark, spark.createDataFrame(pd.DataFrame(recs, columns=["ext_id", "pos", "term", "score"])),
        root, n_shards=2, n_pgroups=1, block_size=8,
    )
    (f,) = glob.glob(f"{root}/postings/pgroup=*/*.parquet")
    pf = pq.ParquetFile(f)
    assert pf.metadata.num_row_groups > 1
    prev_max = None
    for i in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(i).column(0).statistics
        got = pf.read_row_group(i, columns=["term"])["term"].to_pylist()
        assert (st.min, st.max) == (min(got), max(got)) and got == sorted(got)
        assert prev_max is None or prev_max <= st.min  # equal: a term's shards straddle the cut
        prev_max = st.max
    full = pq.read_table(f, columns=["term", "blocks"]).to_pylist()
    searcher = LocalSearcher(root)
    for t in odd + vocab[::97]:
        rows = sorted((r for r in full if r["term"] == t), key=lambda r: r["blocks"][0]["max_docid"])
        assert rows, t
        got = searcher._fetch_lists([t])[t].cols
        want = posting_list(*(r["blocks"] for r in rows)).cols
        assert all(np.array_equal(a, b, equal_nan=True) for a, b in zip(got, want)), t
    # the same terms through search (whitespace tokens, impact scoring)
    monkeypatch.setattr(serve, "tokenize_py", lambda q: q.split("|"))
    q = "|".join(odd)
    got = LocalSearcher(root).search(q, k=20, scoring="impact")
    assert got and got == searcher.search(q, k=20, scoring="impact", prune=False)
