"""CIFF file interop: read/write the reference's exchange format directly.

A CIFF file is a sequence of varint-length-delimited proto3 messages — one
Header, ``num_postings_lists`` PostingsLists, ``num_docs`` DocRecords
(/root/reference/proto/common-index-format-v1.proto:3-7). Field numbers and
semantics are taken from that public .proto; the wire format is the public
protobuf spec. We hand-roll the codec (protobuf isn't a declared dependency)
— proto3 scalar/string/message fields over varint/fixed64 wire types are
~100 lines.

Semantics honored (cited from the reference implementation):
- posting docids are delta-gaps: first absolute, later ones gaps
  (/root/reference/src/lib.rs:664-672; prefix-sum decode at src/lib.rs:252-259);
- DocRecords must be dense 0..N-1 in order (/root/reference/src/lib.rs:545-547);
- posting lists in lexicographic term order (/root/reference/src/lib.rs:1067-1069).

This is an EXCHANGE path, not our store: export walks the distributed index
(shard-ordered concat per term) into one local file; import turns a CIFF file
into DataFrames suitable for ``IndexStore``. The write path streams
message-at-a-time; on the read side ``iter_ciff`` streams decoded messages
over an mmap (constant memory), while ``read_ciff`` is the materializing
convenience wrapper (lists in RAM — fine for exchange-file sizes, use
``iter_ciff`` for anything big).

Partial export (proto:16-21 — the load-bearing ``num_*`` < ``total_*``
distinction): ``export_index_to_ciff(..., terms=[...])`` writes only the
requested posting lists while the header keeps the COLLECTION-global
statistics (total vocabulary size, total docs, total terms, avgdl), so a
query-term-only file still scores BM25 identically to the full index.
"""

from __future__ import annotations

import io
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from ciff_spark.functions.codec import (
    block_columns,
    decode_blocks,
    read_uvarint,
    uvarint,
    varint_encode,
)


# ---------------------------------------------------------------------------
# minimal proto3 wire codec
# ---------------------------------------------------------------------------

def _signed32(v: int) -> int:
    v &= (1 << 64) - 1
    v &= (1 << 32) - 1
    return v - (1 << 32) if v >= (1 << 31) else v


def _signed64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def _emit_field(out: io.BytesIO, num: int, wire: int, payload) -> None:
    out.write(uvarint((num << 3) | wire))
    if wire == 0:
        out.write(uvarint(payload))
    elif wire == 1:  # fixed64
        out.write(payload)
    elif wire == 2:
        out.write(uvarint(len(payload)))
        out.write(payload)
    else:
        raise ValueError(f"wire {wire}")


def _framed(msg: bytes) -> bytes:
    """One varint-length-delimited message."""
    return uvarint(len(msg)) + msg


def _parse_fields(buf: bytes, wires: dict[int, int]):
    """Yield (field_number, value) over a message buffer: varint fields as
    ints, fixed64 and length-delimited ones as bytes. Fields not in
    ``wires`` (field number → wire type) are skipped; a known field of
    another wire type, or a field running past the buffer, raises
    ValueError."""
    pos = 0
    n = len(buf)
    while pos < n:
        tag, pos = read_uvarint(buf, pos)
        num, wire = tag >> 3, tag & 7
        if wire == 0:
            val, pos = read_uvarint(buf, pos)
        else:
            if wire == 2:
                ln, pos = read_uvarint(buf, pos)
            elif wire in (1, 5):
                ln = 8 if wire == 1 else 4
            else:
                raise ValueError(f"unsupported wire type {wire}")
            if pos + ln > n:
                raise ValueError(f"field {num} runs past the end of its message")
            val = buf[pos : pos + ln]
            pos += ln
        want = wires.get(num)
        if want is not None:
            if want != wire:
                raise ValueError(f"field {num} has wire type {wire}, not {want}")
            yield num, val


# ---------------------------------------------------------------------------
# CIFF messages
# ---------------------------------------------------------------------------

@dataclass
class CiffHeader:
    version: int = 1
    num_postings_lists: int = 0
    num_docs: int = 0
    total_postings_lists: int = 0
    total_docs: int = 0
    total_terms_in_collection: int = 0
    average_doclength: float = 0.0
    description: str = ""


@dataclass
class CiffPostingsList:
    term: str = ""
    df: int = 0
    cf: int = 0
    postings: list[tuple[int, int]] = field(default_factory=list)  # (docid_gap, tf)


@dataclass
class CiffDocRecord:
    docid: int = 0
    collection_docid: str = ""
    doclength: int = 0


def _enc_header(h: CiffHeader) -> bytes:
    import struct

    out = io.BytesIO()
    if h.version:
        _emit_field(out, 1, 0, h.version)
    if h.num_postings_lists:
        _emit_field(out, 2, 0, h.num_postings_lists)
    if h.num_docs:
        _emit_field(out, 3, 0, h.num_docs)
    if h.total_postings_lists:
        _emit_field(out, 4, 0, h.total_postings_lists)
    if h.total_docs:
        _emit_field(out, 5, 0, h.total_docs)
    if h.total_terms_in_collection:
        _emit_field(out, 6, 0, h.total_terms_in_collection)
    if h.average_doclength != 0.0:
        _emit_field(out, 7, 1, struct.pack("<d", h.average_doclength))
    if h.description:
        _emit_field(out, 8, 2, h.description.encode())
    return out.getvalue()


def _dec_header(buf: bytes) -> CiffHeader:
    import struct

    h = CiffHeader(version=0)
    wires = {1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0, 7: 1, 8: 2}
    for num, val in _parse_fields(buf, wires):
        if num == 1:
            h.version = _signed32(val)
        elif num == 2:
            h.num_postings_lists = _signed32(val)
        elif num == 3:
            h.num_docs = _signed32(val)
        elif num == 4:
            h.total_postings_lists = _signed32(val)
        elif num == 5:
            h.total_docs = _signed32(val)
        elif num == 6:
            h.total_terms_in_collection = _signed64(val)
        elif num == 7:
            h.average_doclength = struct.unpack("<d", val)[0]
        elif num == 8:
            h.description = val.decode()
    for name in ("num_postings_lists", "num_docs", "total_postings_lists", "total_docs"):
        if getattr(h, name) < 0:
            raise ValueError(f"negative header count {name}")  # ≙ lib.rs:168-179 fail-fast
    return h


def _enc_postings_lists(terms, df, cf, off, gaps, tfs) -> list[bytes]:
    """The PostingsList messages of consecutive terms, term ``i``'s
    postings at ``[off[i], off[i + 1])`` of ``gaps``/``tfs``. All postings
    are framed in ONE ``varint_encode`` call: a Posting is field 4 holding
    fields 1 (gap) and 2 (tf), i.e. the bytes ``0x22, len, [0x08, gap],
    [0x10, tf]``, and proto3 omits a zero field; so the postings are the
    varints of the interleaved values ``[0x22, len, 8, gap, 16, tf]`` with
    each zero field's (tag, value) pair masked out. Negative values are
    written as their 64-bit two's complement, as proto3 writes a negative
    int32."""
    gaps = np.asarray(gaps, np.int64).astype(np.uint64)
    tfs = np.asarray(tfs, np.int64).astype(np.uint64)
    has_gap, has_tf = gaps != 0, tfs != 0
    steps = np.uint64(1) << np.arange(7, 64, 7, dtype=np.uint64)

    def field_bytes(v, kept):  # tag + varint of each kept field
        return kept * (2 + np.searchsorted(steps, v, "right"))

    vals = np.empty((len(gaps), 6), np.uint64)
    vals[:, 0], vals[:, 2], vals[:, 4] = 0x22, 0x08, 0x10
    vals[:, 1] = size = field_bytes(gaps, has_gap) + field_bytes(tfs, has_tf)
    vals[:, 3], vals[:, 5] = gaps, tfs
    keep = np.stack([np.ones_like(has_gap), np.ones_like(has_gap),
                     has_gap, has_gap, has_tf, has_tf], axis=1)
    body = varint_encode(vals[keep])[0].tobytes()
    at = np.zeros(len(gaps) + 1, np.int64)
    np.cumsum(size + 2, out=at[1:])  # a posting's size fits its one-byte len
    at = at[np.asarray(off)].tolist()
    msgs = []
    for i, term in enumerate(terms):
        out = io.BytesIO()
        if term:
            _emit_field(out, 1, 2, term.encode())
        if df[i]:
            _emit_field(out, 2, 0, int(df[i]))
        if cf[i]:
            _emit_field(out, 3, 0, int(cf[i]))
        out.write(body[at[i] : at[i + 1]])
        msgs.append(out.getvalue())
    return msgs


def _dec_postings_list(buf: bytes) -> CiffPostingsList:
    pl = CiffPostingsList()
    for num, val in _parse_fields(buf, {1: 2, 2: 0, 3: 0, 4: 2}):
        if num == 1:
            pl.term = val.decode()
        elif num == 2:
            pl.df = _signed64(val)
        elif num == 3:
            pl.cf = _signed64(val)
        elif num == 4:
            gap = tf = 0
            for n2, v2 in _parse_fields(val, {1: 0, 2: 0}):
                if n2 == 1:
                    gap = _signed32(v2)
                elif n2 == 2:
                    tf = _signed32(v2)
            pl.postings.append((gap, tf))
    return pl


def _enc_doc_record(d: CiffDocRecord) -> bytes:
    out = io.BytesIO()
    if d.docid:
        _emit_field(out, 1, 0, d.docid)
    if d.collection_docid:
        _emit_field(out, 2, 2, d.collection_docid.encode())
    if d.doclength:
        _emit_field(out, 3, 0, d.doclength)
    return out.getvalue()


def _dec_doc_record(buf: bytes) -> CiffDocRecord:
    d = CiffDocRecord()
    for num, val in _parse_fields(buf, {1: 0, 2: 2, 3: 0}):
        if num == 1:
            d.docid = _signed32(val)
        elif num == 2:
            d.collection_docid = val.decode()
        elif num == 3:
            d.doclength = _signed32(val)
    return d


# ---------------------------------------------------------------------------
# file-level read/write (length-delimited stream)
# ---------------------------------------------------------------------------

def iter_ciff(path: str):
    """Stream decoded messages over an mmap: yields ``("header", CiffHeader)``
    once, then ``("postings", CiffPostingsList)`` × num_postings_lists, then
    ``("doc", CiffDocRecord)`` × num_docs. Constant memory beyond the page
    cache — the import analog of the reference's CodedInputStream loop
    (/root/reference/src/lib.rs:504-513)."""
    import mmap

    with open(path, "rb") as f, mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as mm:
        pos = 0

        def next_msg() -> bytes:
            # a copy of one message: no view into the mmap outlives a parse
            # error, so closing the map never fails
            nonlocal pos
            ln, p = read_uvarint(mm, pos)
            if p + ln > len(mm):
                raise ValueError(f"message at byte {pos} runs past the end of the file")
            pos = p + ln
            return mm[p:pos]

        header = _dec_header(next_msg())
        yield "header", header
        for _ in range(header.num_postings_lists):
            yield "postings", _dec_postings_list(next_msg())
        for i in range(header.num_docs):
            d = _dec_doc_record(next_msg())
            if d.docid != i:  # dense-order contract, ≙ lib.rs:545-547
                raise ValueError(f"doc records out of order: got {d.docid} at {i}")
            yield "doc", d


def read_ciff(path: str) -> tuple[CiffHeader, list[CiffPostingsList], list[CiffDocRecord]]:
    """Materializing wrapper over ``iter_ciff`` (whole file decoded into
    lists — convenience for tests/small exchange files)."""
    header = None
    pls: list[CiffPostingsList] = []
    docs: list[CiffDocRecord] = []
    for kind, msg in iter_ciff(path):
        if kind == "header":
            header = msg
        elif kind == "postings":
            pls.append(msg)
        else:
            docs.append(msg)
    return header, pls, docs


def write_ciff(
    path: str,
    header: CiffHeader,
    postings_lists,
    doc_records,
) -> None:
    """postings_lists / doc_records may be any iterables (streamed)."""
    with open(path, "wb") as f:
        f.write(_framed(_enc_header(header)))
        for pl in postings_lists:
            gaps, tfs = np.array(pl.postings, np.int64).reshape(-1, 2).T
            (msg,) = _enc_postings_lists([pl.term], [pl.df], [pl.cf], [0, len(gaps)], gaps, tfs)
            f.write(_framed(msg))
        for d in doc_records:
            f.write(_framed(_enc_doc_record(d)))


# ---------------------------------------------------------------------------
# index <-> CIFF bridges
# ---------------------------------------------------------------------------

def _term_postings(batches):
    """Whole terms, in order, over Arrow batches of ``(term, df, cf,
    blocks)`` postings rows sorted by (term, shard, first-block max_docid),
    so that a term's rows concatenate into one list in ascending docid
    order. Yields ``(terms, df, cf, off, docids, tfs)`` per batch: term
    ``i``'s list is ``docids[off[i]:off[i + 1]]`` (likewise ``tfs``). Each
    batch decodes in ONE ``block_columns`` + ``decode_blocks`` call; the
    rows of a batch's last term are held back and joined to the next
    batch, where that term may continue."""
    def whole_terms(rows, start, end):  # the terms of rows [0, end)
        terms, df, cf, n_post, docids, tfs = rows
        row_post = np.zeros(end + 1, np.int64)
        np.cumsum(n_post[:end], out=row_post[1:])
        off = row_post[np.r_[start, end]]
        return (terms[start].tolist(), np.add.reduceat(df[:end], start),
                np.add.reduceat(cf[:end], start), off, docids[: off[-1]], tfs[: off[-1]])

    held = None
    for batch in batches:
        if not batch.num_rows:
            continue
        cols = block_columns(batch.column("blocks"))
        post = np.zeros(len(cols.count) + 1, np.int64)
        np.cumsum(cols.count, out=post[1:])
        rows = [
            batch.column("term").to_numpy(zero_copy_only=False),
            batch.column("df").to_numpy(), batch.column("cf").to_numpy(),
            np.diff(post[cols.row_off]),  # postings per row
            *decode_blocks(cols, np.arange(len(cols.count))),
        ]
        if held is not None:
            rows = [np.concatenate(pair) for pair in zip(held, rows)]
        terms = rows[0]
        start = np.r_[0, np.flatnonzero(terms[1:] != terms[:-1]) + 1]
        last, p_last = start[-1], rows[3][: start[-1]].sum()
        held = [a[last:] for a in rows[:4]] + [a[p_last:] for a in rows[4:]]
        if last:
            yield whole_terms(rows, start[:-1], last)
    if held is not None:
        yield whole_terms(held, [0], len(held[0]))


def _chunk_schema(key_type: str, payloads: list[str]) -> str:
    return ", ".join([f"key {key_type}", "n_msgs long", *(f"{c} binary" for c in payloads)])


def _postings_chunks(spark, store, parts: int, chunk_bytes: int, payloads, frame, terms=None):
    """The postings chunk frame of an export: postings range-partitioned by
    term and sorted (term, shard, first-block max_docid) — compaction
    appends extra rows per (term, shard) that concatenate in ascending docid
    order — then ONE ``mapInArrow`` pass over ``_term_postings``.
    ``frame(terms, df, cf, off, docids, tfs)`` gives one yield's bytes for
    each ``payloads`` column; a chunk row gathers them until its first
    column holds ≥ ``chunk_bytes``, so chunks break only at term boundaries
    and range disjointness plus the in-partition sort order chunks by their
    first term (``key``). ``terms``: the term-pruned scan of a partial
    export, which never decodes unrequested lists."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    post = store.read(spark, "postings")
    if terms is not None:
        post = post.where(F.col("term").isin(sorted(set(terms))))
    rp = (
        post.select("term", "shard", "df", "cf", "blocks")
        .repartitionByRange(parts, "term")
        .sortWithinPartitions("term", "shard", F.expr("blocks[0].max_docid"))
    )
    names = ["key", "n_msgs", *payloads]

    def chunks(batches):
        def chunk():
            cols = [[first], [n], *([b"".join(buf)] for buf in bufs)]
            return pa.RecordBatch.from_pydict(dict(zip(names, cols)))

        first, n, size, bufs = None, 0, 0, [[] for _ in payloads]
        for group in _term_postings(batches):
            for buf, b in zip(bufs, frame(*group)):
                buf.append(b)
            first = group[0][0] if first is None else first
            n += len(group[0])
            size += len(bufs[0][-1])
            if size >= chunk_bytes:
                yield chunk()
                first, n, size, bufs = None, 0, 0, [[] for _ in payloads]
        if n:
            yield chunk()

    return rp.mapInArrow(chunks, _chunk_schema("string", payloads))


def _docs_chunks(spark, store, parts: int, id_sep: str, payloads, frame):
    """The docs chunk frame of an export: docs range-partitioned and sorted
    by docid, one chunk row per Arrow batch. ``frame(docids, doclengths,
    titles)`` gives the batch's bytes for each ``payloads`` column; a title
    is the doc's id columns joined by ``id_sep``. A docs table that is not
    dense in docid order raises."""
    import pandas as pd

    docs = store.read(spark, "docs")
    id_cols = [c for c in docs.columns if c not in ("docid", "doclength")]

    def chunks(iterator):
        for pdf in iterator:
            if not len(pdf):
                continue
            dids = pdf["docid"].to_numpy(np.int64)
            if (np.diff(dids) != 1).any():
                raise ValueError("docs table is not dense in docid order")
            # positional column access: itertuples would rename columns that
            # are not valid Python identifiers
            titles = (
                [id_sep.join(str(v) for v in row) for row in zip(*(pdf[c] for c in id_cols))]
                if id_cols else [""] * len(dids)
            )
            yield pd.DataFrame(
                [(int(dids[0]), len(dids), *frame(dids, pdf["doclength"].to_numpy(), titles))],
                columns=["key", "n_msgs", *payloads],
            )

    return (
        docs.repartitionByRange(parts, "docid").sortWithinPartitions("docid")
        .mapInPandas(chunks, _chunk_schema("bigint", payloads))
    )


@contextmanager
def _written_chunks(out_path: str, **frames):
    """Write each chunk frame to parquet in a scratch directory beside
    ``out_path`` and yield ``{name: (chunk files sorted by first key, Σ
    n_msgs)}`` — one metadata pass per frame, shared by every output file
    that streams its chunks. The directory is removed on exit."""
    import glob
    import shutil
    import uuid

    import pyarrow.parquet as papq

    tmp = f"{out_path}.__chunks_{uuid.uuid4().hex[:8]}"
    try:
        orders = {}
        for name, frame in frames.items():
            frame.write.mode("overwrite").parquet(f"{tmp}/{name}")
            keyed, total = [], 0
            for f in sorted(glob.glob(f"{tmp}/{name}/*.parquet")):
                t = papq.read_table(f, columns=["key", "n_msgs"])
                if t.num_rows:
                    keyed.append((t["key"][0].as_py(), f))
                    total += sum(t["n_msgs"].to_pylist())
            orders[name] = (sorted(keyed), total)
        yield orders
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _concat_chunks(fobj, order: tuple[list, int], payload_col: str) -> int:
    """Stream ordered chunk payloads into ``fobj``; returns Σ n_msgs.

    Range partitioning makes every file's key range disjoint, so ordering
    FILES by their first key and keeping row order within a file yields the
    global message order. Payloads stream row-group-at-a-time (pyarrow
    ``iter_batches``) — driver memory is bounded by one row group, never the
    index."""
    import pyarrow.parquet as papq

    keyed, total = order
    for _, f in keyed:
        for batch in papq.ParquetFile(f).iter_batches(columns=[payload_col]):
            for payload in batch[payload_col]:
                fobj.write(payload.as_py())
    return total


def export_index_to_ciff(
    spark,
    index_root: str,
    out_path: str,
    id_sep: str = "/",
    terms: list[str] | None = None,
    chunk_bytes: int = 32 << 20,
    n_parts: int | None = None,
) -> CiffHeader:
    """Export the distributed index into one CIFF file (terms lex-sorted,
    per-term shards concatenated in shard order, docids re-gapped) —
    DISTRIBUTED: executors protobuf-encode varint-framed message chunks in
    parallel (the reference's streaming single-pass writer,
    /root/reference/src/lib.rs:639-678, made parallel), and the driver only
    CONCATENATES the ordered chunks into the output file. Nothing index-sized
    ever materializes on the driver — peak driver memory is one parquet row
    group of framed bytes; peak executor memory is one Arrow batch of
    decoded postings plus the ~``chunk_bytes`` chunk under construction.

    Postings and DocRecords stream through the chunk frames shared with the
    PISA export (``_postings_chunks``/``_docs_chunks``): each term's list is
    framed by ``_enc_postings_lists``, keyed by its term; DocRecords are
    keyed by docid.

    ``terms``: PARTIAL export — write only these posting lists while keeping
    collection-global header statistics (``num_postings_lists`` <
    ``total_postings_lists``, proto:16-21): the file carries just a query
    set's lists yet any BM25 scorer reading it sees the full-collection N,
    avgdl and vocabulary size. DocRecords are always exported in full
    (doclengths are per-doc scorer state)."""
    from ciff_spark.store import IndexStore

    store = IndexStore(index_root)
    meta = store.meta(spark)
    parts = n_parts or max(2, min(64, spark.sparkContext.defaultParallelism))

    def frame_lists(terms, df, cf, off, docids, tfs):
        # first posting absolute, later ones gaps (lib.rs:664-672)
        gaps = np.diff(docids, prepend=0)
        first = off[:-1][off[:-1] < off[1:]]
        gaps[first] = docids[first]
        msgs = _enc_postings_lists(terms, df, cf, off, gaps, tfs)
        return (b"".join(_framed(m) for m in msgs),)

    def frame_docs(docids, doclengths, titles):
        return (b"".join(
            _framed(_enc_doc_record(CiffDocRecord(d, t, n)))
            for d, n, t in zip(docids.tolist(), doclengths.tolist(), titles)
        ),)

    with _written_chunks(
        out_path,
        postings=_postings_chunks(
            spark, store, parts, int(chunk_bytes), ["payload"], frame_lists, terms
        ),
        docs=_docs_chunks(spark, store, parts, id_sep, ["payload"], frame_docs),
    ) as order:
        header = CiffHeader(
            version=1,
            num_postings_lists=int(order["postings"][1]),
            num_docs=int(meta["num_docs"]),
            total_postings_lists=int(meta["num_terms"]),
            total_docs=int(meta["num_docs"]),
            total_terms_in_collection=int(meta["total_terms"]),
            average_doclength=float(meta["avgdl"]),
            description=str(meta["description"]),
        )
        with open(out_path, "wb") as f:
            f.write(_framed(_enc_header(header)))
            _concat_chunks(f, order["postings"], "payload")
            _concat_chunks(f, order["docs"], "payload")
    return header


def ciff_to_dataframes(spark, path: str):
    """Import a CIFF file → (meta dict, postings DF (term, docid, tf), docs DF)."""
    header, pls, recs = read_ciff(path)
    rows = []
    for pl in pls:
        absolute = 0
        for i, (gap, tf) in enumerate(pl.postings):
            absolute = gap if i == 0 else absolute + gap
            rows.append((pl.term, absolute, tf))
    postings = spark.createDataFrame(rows, "term string, docid bigint, tf bigint")
    docs = spark.createDataFrame(
        [(d.docid, d.collection_docid, d.doclength) for d in recs],
        "docid bigint, collection_docid string, doclength int",
    )
    meta = {
        "num_docs": header.num_docs,
        "num_terms": header.total_postings_lists,
        "total_terms": header.total_terms_in_collection,
        "avgdl": header.average_doclength,
        "description": header.description,
    }
    return meta, postings, docs
