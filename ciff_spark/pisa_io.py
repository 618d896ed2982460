"""PISA canonical uncompressed index interop — the reference's second data
model and its conversion target (SURVEY §1.2).

File family derived from one base path (≙ PisaPaths,
/root/reference/src/lib.rs:327-338):

  .docs       binary collection; FIRST sequence is the singleton [num_docs]
              (/root/reference/src/lib.rs:500), then one docid sequence per
              term in .terms order
  .freqs      one tf sequence per term, positionally aligned with .docs
  .sizes      one sequence of num_docs doclengths
  .terms      newline-delimited term strings (lexicographic)
  .documents  newline-delimited external doc ids
  .termlex /  payload-vector lexicons over .terms / .documents:
  .doclex     [u64 count][count+1 u64 offsets][concatenated payload bytes]
              (/root/reference/src/payload_vector.rs:36-61)

A *binary collection* is a series of sequences, each `[u32 len][len × u32]`
little-endian (/root/reference/src/binary_collection.rs:32-35). All encode/
decode here is NumPy-vectorized. These are local exchange files (like
ciff_io) — the distributed store remains the Parquet/Iceberg layout.
"""

from __future__ import annotations

import struct

import numpy as np

from ciff_spark.functions.codec import read_uvarint, uvarint


# ---------------------------------------------------------------------------
# binary collection
# ---------------------------------------------------------------------------

def encode_u32_sequence(values) -> bytes:
    v = np.ascontiguousarray(values, dtype="<u4")
    return struct.pack("<I", v.size) + v.tobytes()


def iter_binary_collection(buf: bytes):
    """Yield u32 arrays, one per length-prefixed sequence.

    Arbitrary (corrupt) bytes must fail with a clean ValueError, never an
    unbounded read — the same never-panic parse contract the reference
    quickchecks for BinarySequence::get
    (/root/reference/src/binary_collection.rs:427-437)."""
    mv = memoryview(buf)
    pos = 0
    n = len(buf)
    while pos < n:
        if n - pos < 4:
            raise ValueError(f"binary collection: truncated length prefix at byte {pos}")
        (ln,) = struct.unpack_from("<I", mv, pos)
        pos += 4
        if n - pos < 4 * ln:
            raise ValueError(
                f"binary collection: sequence at byte {pos - 4} claims {ln} "
                f"u32 values but only {(n - pos) // 4} remain"
            )
        yield np.frombuffer(mv, dtype="<u4", count=ln, offset=pos).copy()
        pos += 4 * ln


# ---------------------------------------------------------------------------
# payload vector (lexicon)
# ---------------------------------------------------------------------------

def build_lexicon(strings: list[str]) -> bytes:
    payloads = [s.encode() for s in strings]
    offsets = np.zeros(len(payloads) + 1, dtype="<u8")
    np.cumsum([len(p) for p in payloads], out=offsets[1:])
    return (
        struct.pack("<Q", len(payloads)) + offsets.tobytes() + b"".join(payloads)
    )


def read_lexicon(buf: bytes) -> list[str]:
    return list(LexiconView(buf))


class LexiconView:
    """O(1) random access over a payload-vector lexicon buffer without
    materializing the strings — the shape of the reference's
    ``PayloadSlice::get`` over an mmap (/root/reference/src/
    payload_vector.rs:196-206). Pass an ``mmap.mmap`` (or bytes) as ``buf``;
    only the offset table is loaded eagerly (8 bytes per entry), each
    ``[i]`` decodes just its own payload slice. ``index_of`` binary-searches
    a SORTED lexicon (terms are; titles need not be)."""

    def __init__(self, buf) -> None:
        (self._count,) = struct.unpack_from("<Q", buf, 0)
        self._offsets = np.frombuffer(
            buf, dtype="<u8", count=self._count + 1, offset=8
        )
        self._base = 8 + 8 * (self._count + 1)
        self._buf = buf

    def __len__(self) -> int:
        return self._count

    def __getitem__(self, i: int) -> str:
        if not 0 <= i < self._count:
            raise IndexError(i)
        lo = self._base + int(self._offsets[i])
        hi = self._base + int(self._offsets[i + 1])
        return bytes(self._buf[lo:hi]).decode()

    def __iter__(self):
        for i in range(self._count):
            yield self[i]

    def index_of(self, s: str) -> int | None:
        """Binary search (sorted lexicons only): index of ``s`` or None —
        O(log n) payload decodes, never a full materialization."""
        lo, hi = 0, self._count
        while lo < hi:
            mid = (lo + hi) // 2
            v = self[mid]
            if v < s:
                lo = mid + 1
            elif v > s:
                hi = mid
            else:
                return mid
        return None


def open_lexicon(path: str) -> LexiconView:
    """Memory-map a .termlex/.doclex file — the reference's access pattern
    (mmap + O(1) slice), no upfront string decode."""
    import mmap

    f = open(path, "rb")
    return LexiconView(mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ))


# ---------------------------------------------------------------------------
# front-coded lexicon (compressed term dictionary; ours, not a reference
# format — SURVEY §9(5): for vocabularies where the plain payload vector's
# 8-byte offset per term + full strings dominate; sorted term lists share
# long prefixes, so blocks store one full head + (lcp, suffix) deltas)
# ---------------------------------------------------------------------------

FC_MAGIC = b"FCLX"


def build_fc_lexicon(strings: list[str], block: int = 16) -> bytes:
    """Front-coded payload vector: ``[FCLX][u64 count][u32 block]``, a
    ``u64`` offset per block (+1 sentinel), then blocks of up to ``block``
    strings — head as ``[varint len][bytes]``, the rest as
    ``[varint lcp][varint suffix_len][suffix]``. Random access decodes one
    block (≤ ``block`` small ops); ``index_of`` binary-searches the O(1)
    block HEADS then scans one block — O(log n_blocks) + O(block)."""
    payloads = [s.encode() for s in strings]
    blocks: list[bytes] = []
    for i in range(0, len(payloads), block):
        chunk = payloads[i : i + block]
        out = bytearray(uvarint(len(chunk[0])))
        out += chunk[0]
        prev = chunk[0]
        for p in chunk[1:]:
            lcp = 0
            m = min(len(prev), len(p))
            while lcp < m and prev[lcp] == p[lcp]:
                lcp += 1
            out += uvarint(lcp) + uvarint(len(p) - lcp) + p[lcp:]
            prev = p
        blocks.append(bytes(out))
    offsets = np.zeros(len(blocks) + 1, dtype="<u8")
    np.cumsum([len(b) for b in blocks], out=offsets[1:])
    return (
        FC_MAGIC
        + struct.pack("<QI", len(payloads), block)
        + offsets.tobytes()
        + b"".join(blocks)
    )


class FcLexiconView:
    """Random access + sorted search over a front-coded lexicon buffer
    (bytes or mmap). Only the block offset table loads eagerly — 8 bytes per
    ``block`` strings vs the plain payload vector's 8 per string. A buffer
    shorter than its header, offset table or blocks raises ValueError at
    open; a corrupt block raises ValueError when read."""

    def __init__(self, buf) -> None:
        if len(buf) < 16 or bytes(buf[:4]) != FC_MAGIC:
            raise ValueError("not a front-coded lexicon (bad magic)")
        self._count, self._block = struct.unpack_from("<QI", buf, 4)
        if self._count and not self._block:
            raise ValueError("front-coded lexicon has block size 0")
        n_blocks = -(-self._count // self._block) if self._count else 0
        self._base = 16 + 8 * (n_blocks + 1)
        if self._base > len(buf):
            raise ValueError("front-coded lexicon is truncated (offset table)")
        self._offsets = np.frombuffer(buf, dtype="<u8", count=n_blocks + 1, offset=16)
        if self._offsets[0] or (self._offsets[1:] <= self._offsets[:-1]).any():
            raise ValueError("front-coded lexicon block offsets are not increasing")
        if self._base + int(self._offsets[-1]) > len(buf):
            raise ValueError("front-coded lexicon is truncated (blocks)")
        self._buf = buf

    def __len__(self) -> int:
        return self._count

    def _head(self, bi: int) -> bytes:
        return next(self._iter_block(bi))

    def _iter_block(self, bi: int):
        """The strings of block ``bi`` in order. A string running past its
        block, or a block holding other than its count of strings, raises
        ValueError."""
        blk = bytes(self._buf[self._base + int(self._offsets[bi]):
                              self._base + int(self._offsets[bi + 1])])
        want = min(self._block, self._count - bi * self._block)
        pos, cur = 0, b""
        for j in range(want):
            lcp = 0
            if j:
                lcp, pos = read_uvarint(blk, pos)
            ln, pos = read_uvarint(blk, pos)
            if lcp > len(cur) or pos + ln > len(blk):
                raise ValueError(f"front-coded block {bi} is corrupt")
            cur = cur[:lcp] + blk[pos : pos + ln]
            pos += ln
            yield cur
        if pos != len(blk):
            raise ValueError(f"front-coded block {bi} holds more than {want} strings")

    def __getitem__(self, i: int) -> str:
        if not 0 <= i < self._count:
            raise IndexError(i)
        bi, off = divmod(i, self._block)
        for j, p in enumerate(self._iter_block(bi)):
            if j == off:
                return p.decode()

    def __iter__(self):
        n_blocks = len(self._offsets) - 1
        for bi in range(n_blocks):
            for p in self._iter_block(bi):
                yield p.decode()

    def index_of(self, s: str) -> int | None:
        """SORTED lexicons: binary search over block heads, scan one block."""
        if not self._count:
            return None
        key = s.encode()
        lo, hi = 0, len(self._offsets) - 2  # last valid block index
        # rightmost block whose head <= key
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if self._head(mid) <= key:
                lo = mid
            else:
                hi = mid - 1
        if self._head(lo) > key:
            return None
        for j, p in enumerate(self._iter_block(lo)):
            if p == key:
                return lo * self._block + j
            if p > key:
                return None
        return None


def open_fc_lexicon(path: str) -> FcLexiconView:
    import mmap

    f = open(path, "rb")
    return FcLexiconView(mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ))


# ---------------------------------------------------------------------------
# whole-index write/read
# ---------------------------------------------------------------------------

def write_pisa(
    base: str,
    terms: list[str],
    postings: dict[str, tuple[np.ndarray, np.ndarray]],
    sizes: np.ndarray,
    titles: list[str],
    lexicons: bool = True,
    front_coded: bool = False,
) -> None:
    """Unsorted ``terms`` are permuted into lexicographic order before the
    write — matching the reference, which silently re-sorts via
    check_lines_sorted + reorder_pisa_index (src/lib.rs:556-558,340-372;
    golden-tested in tests/toy.rs:146-226). ``postings`` is keyed by term,
    so the permutation is just the write order."""
    if terms != sorted(terms):
        terms = sorted(terms)
    with open(f"{base}.docs", "wb") as fd, open(f"{base}.freqs", "wb") as ff:
        fd.write(encode_u32_sequence([len(sizes)]))  # singleton header seq
        for t in terms:
            d, tf = postings[t]
            fd.write(encode_u32_sequence(d))
            ff.write(encode_u32_sequence(tf))
    with open(f"{base}.sizes", "wb") as fs:
        fs.write(encode_u32_sequence(sizes))
    with open(f"{base}.terms", "w") as ft:
        ft.writelines(t + "\n" for t in terms)
    with open(f"{base}.documents", "w") as fdoc:
        fdoc.writelines(t + "\n" for t in titles)
    if lexicons:
        with open(f"{base}.termlex", "wb") as f:
            f.write(build_lexicon(terms))
        with open(f"{base}.doclex", "wb") as f:
            f.write(build_lexicon(titles))
    if front_coded:
        # ours, not a reference interop file: compressed term dictionary for
        # vocabularies where the plain payload vector dominates (SURVEY §9(5))
        with open(f"{base}.termlex.fc", "wb") as f:
            f.write(build_fc_lexicon(terms))


def read_pisa(base: str):
    """Returns (terms, postings {term: (docids, tfs)}, sizes, titles)."""
    docs_seqs = list(iter_binary_collection(open(f"{base}.docs", "rb").read()))
    freq_seqs = list(iter_binary_collection(open(f"{base}.freqs", "rb").read()))
    header, doc_seqs = docs_seqs[0], docs_seqs[1:]
    terms = open(f"{base}.terms").read().splitlines()
    titles = open(f"{base}.documents").read().splitlines()
    (sizes,) = iter_binary_collection(open(f"{base}.sizes", "rb").read())
    if header.size != 1 or int(header[0]) != sizes.size:
        raise ValueError(f".docs header {header} != num_docs {sizes.size}")
    if not (len(terms) == len(doc_seqs) == len(freq_seqs)):
        raise ValueError("terms/.docs/.freqs misaligned")
    postings = {
        t: (d.astype(np.int64), f.astype(np.int64))
        for t, d, f in zip(terms, doc_seqs, freq_seqs)
    }
    return terms, postings, sizes.astype(np.int64), titles


# ---------------------------------------------------------------------------
# conversions (≙ the reference's three binaries)
# ---------------------------------------------------------------------------

def ciff_file_to_pisa(ciff_path: str, base: str) -> None:
    """≙ ciff2pisa (/root/reference/src/ciff2pisa.rs): gap-decode postings,
    split into parallel .docs/.freqs columns, emit sizes/titles/lexicons."""
    from ciff_spark.ciff_io import read_ciff

    header, pls, recs = read_ciff(ciff_path)
    terms = [p.term for p in pls]
    if terms != sorted(terms):  # reference reorders; exchange path enforces
        order = sorted(range(len(terms)), key=lambda i: terms[i])
        pls = [pls[i] for i in order]
        terms = [p.term for p in pls]
    postings = {}
    for p in pls:
        gaps = np.array([g for g, _ in p.postings], np.int64)
        tfs = np.array([t for _, t in p.postings], np.int64)
        postings[p.term] = (np.cumsum(gaps), tfs)
    sizes = np.array([r.doclength for r in recs], np.int64)
    titles = [r.collection_docid for r in recs]
    write_pisa(base, terms, postings, sizes, titles)


def pisa_to_ciff_file(base: str, ciff_path: str, description: str = "") -> None:
    """≙ pisa2ciff (/root/reference/src/pisa2ciff.rs): re-gap docids, compute
    df/cf per list and header stats from sizes."""
    from ciff_spark.ciff_io import (
        CiffDocRecord,
        CiffHeader,
        CiffPostingsList,
        write_ciff,
    )

    terms, postings, sizes, titles = read_pisa(base)
    pls = []
    for t in terms:
        d, tf = postings[t]
        gaps = np.diff(np.concatenate(([0], d)))
        pls.append(
            CiffPostingsList(
                term=t, df=len(d), cf=int(tf.sum()),
                postings=list(zip(gaps.tolist(), tf.tolist())),
            )
        )
    total_terms = int(sizes.sum())
    header = CiffHeader(
        version=1,
        num_postings_lists=len(pls), num_docs=len(sizes),
        total_postings_lists=len(pls), total_docs=len(sizes),
        total_terms_in_collection=total_terms,
        average_doclength=total_terms / len(sizes) if len(sizes) else 0.0,
        description=description,
    )
    recs = [
        CiffDocRecord(docid=i, collection_docid=titles[i], doclength=int(sizes[i]))
        for i in range(len(sizes))
    ]
    write_ciff(ciff_path, header, pls, recs)


def export_index_to_pisa(
    spark,
    index_root: str,
    base: str,
    id_sep: str = "/",
    chunk_bytes: int = 32 << 20,
    n_parts: int | None = None,
    lexicons: bool = True,
) -> None:
    """Distributed index → PISA canonical files (terms lex-ordered, shards
    concatenated in shard order) — DISTRIBUTED, through the same chunk
    frames as :func:`ciff_spark.ciff_io.export_index_to_ciff`: executors
    u32-encode per-term ``.docs``/``.freqs`` sequences and per-docid-range
    ``.sizes``/``.documents`` runs as ordered chunks (repartitionByRange
    keeps the global term / docid order across partitions; postings chunks
    break only at term boundaries), and the driver concatenates the chunk
    payloads into each output file row-group-at-a-time — nothing
    index-sized materializes on the driver.

    The term/title LEXICONS are offset tables over the full string set; they
    are built by re-streaming the just-written ``.terms``/``.documents``
    text files on the driver (memory ∝ vocabulary / title bytes — the
    lexicon files themselves are that size, so a single-file lexicon is
    inherently driver-bounded; pass ``lexicons=False`` to skip)."""
    from ciff_spark.ciff_io import (
        _concat_chunks,
        _docs_chunks,
        _postings_chunks,
        _written_chunks,
    )
    from ciff_spark.store import IndexStore

    store = IndexStore(index_root)
    num_docs = int(store.meta(spark)["num_docs"])
    parts = n_parts or max(2, min(64, spark.sparkContext.defaultParallelism))

    def frame_lists(terms, _df, _cf, off, docids, tfs):
        # each term's [u32 len][len × u32] sequence: lengths in front of lists
        lens = np.diff(off)
        return (
            np.insert(docids.astype("<u4"), off[:-1], lens).tobytes(),
            np.insert(tfs.astype("<u4"), off[:-1], lens).tobytes(),
            "".join(t + "\n" for t in terms).encode(),
        )

    def frame_docs(_docids, doclengths, titles):
        return (
            np.ascontiguousarray(doclengths, "<u4").tobytes(),
            ("\n".join(titles) + "\n").encode(),
        )

    with _written_chunks(
        base,
        postings=_postings_chunks(
            spark, store, parts, int(chunk_bytes),
            ["docs_bin", "freqs_bin", "terms_txt"], frame_lists,
        ),
        docs=_docs_chunks(spark, store, parts, id_sep, ["sizes_bin", "titles_txt"], frame_docs),
    ) as order:
        p_order, d_order = order["postings"], order["docs"]
        with open(f"{base}.docs", "wb") as fd:
            fd.write(encode_u32_sequence([num_docs]))  # singleton header seq
            _concat_chunks(fd, p_order, "docs_bin")
        with open(f"{base}.freqs", "wb") as ff:
            _concat_chunks(ff, p_order, "freqs_bin")
        with open(f"{base}.terms", "wb") as ft:
            _concat_chunks(ft, p_order, "terms_txt")
        with open(f"{base}.sizes", "wb") as fs:
            fs.write(struct.pack("<I", num_docs))
            n_written = _concat_chunks(fs, d_order, "sizes_bin")
        if n_written != num_docs:
            raise ValueError(f"exported {n_written} doclengths, meta says {num_docs}")
        with open(f"{base}.documents", "wb") as fdoc:
            _concat_chunks(fdoc, d_order, "titles_txt")
    if lexicons:
        # the text files were written as raw UTF-8 with "\n" joins:
        # decode explicitly (locale-independent) and split on "\n" only
        # (splitlines() would also split on U+0085/U+2028 inside a title,
        # misaligning the lexicon with the positional .documents file)
        def _lines(path: str) -> list[str]:
            txt = open(path, "rb").read().decode("utf-8")
            return txt.split("\n")[:-1] if txt else []

        with open(f"{base}.termlex", "wb") as f:
            f.write(build_lexicon(_lines(f"{base}.terms")))
        with open(f"{base}.doclex", "wb") as f:
            f.write(build_lexicon(_lines(f"{base}.documents")))
