"""Single-node reference oracle: pure Python/NumPy indexer + BM25 top-k.

Plays the role the golden toy CIFF file plays in the reference's tests
(/root/reference/tests/toy.rs:9-86): an independently-computed ground truth.
Shares ONLY the pinned semantic modules (tokenizer, scoring) with the engine —
all indexing/scoring logic here is a separate, trivially-auditable
implementation (dicts and loops, no Spark).

Semantics pinned here and mirrored by the engine:
- docid = rank of the document key (e.g. (conv_id, turn_idx)) ascending;
- doclength = total token count (Σtf), NOT the reference's jsonl2ciff
  unique-terms quirk (SURVEY §1.3);
- query terms are deduplicated; score accumulation iterates terms in
  lexicographic order (pins f64 summation order);
- top-k orders by (-score, docid).

It also keeps the one-at-a-time codec references the engine's batch paths
are tested against: the per-block decoders (``decode_block``,
``decode_postings``, built on the engine's array varint decoder) and the
per-posting CIFF PostingsList encoder (built on the engine's proto3 field
writer).
"""

from __future__ import annotations

import io
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa

from ciff_spark.ciff_io import _emit_field
from ciff_spark.functions.codec import varint_decode
from ciff_spark.functions.scoring import idf_np, tfnorm_np
from ciff_spark.functions.tokenizer import tokenize_py
from ciff_spark.wand import PostingList

#: Arrow type of one stored block (``codec.BLOCK_SCHEMA``)
BLOCK_TYPE = pa.struct([
    ("count", pa.int32()), ("min_docid", pa.int64()), ("max_docid", pa.int64()),
    ("max_tf", pa.int32()), ("max_tfnorm", pa.float64()),
    ("docs_bin", pa.binary()), ("tfs_bin", pa.binary()),
])


def block_rows(*rows: list[dict]) -> pa.ListArray:
    """``list<struct<BLOCK_SCHEMA>>`` rows from ``encode_postings`` outputs."""
    return pa.array(list(rows), pa.list_(BLOCK_TYPE))


def posting_list(*rows: list[dict]) -> PostingList:
    """A ``PostingList`` over ``encode_postings`` outputs, one stored row
    each (each row's first block decodes from −1), in docid order."""
    return PostingList(block_rows(*rows))


def decode_block(
    docs_bin: bytes,
    tfs_bin: bytes,
    count: int,
    prev_max_docid: int,
    max_docid: int | None = None,
    max_tf: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode one block given the previous block's max_docid (−1 for the
    first), one varint pass per bin — the per-block reference the batch
    decoder ``codec.decode_blocks`` is tested against. Implicit
    single-posting blocks (count 1, empty bins) come from
    ``max_docid``/``max_tf``."""
    if count == 1 and not docs_bin:
        if max_docid is None or max_tf is None:
            raise ValueError("implicit single-posting block needs max_docid/max_tf")
        return np.array([max_docid], np.int64), np.array([max_tf], np.int64)
    gaps = varint_decode(docs_bin, count).astype(np.int64)
    tfs = varint_decode(tfs_bin, count).astype(np.int64)
    return gaps.cumsum() + prev_max_docid, tfs


def decode_postings(blocks: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """A full posting list decoded from its block dicts, block by block."""
    if not blocks:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    doc_parts, tf_parts = [], []
    prev_max = -1
    for blk in blocks:
        d, t = decode_block(
            blk["docs_bin"], blk["tfs_bin"], blk["count"], prev_max,
            blk["max_docid"], blk["max_tf"],
        )
        doc_parts.append(d)
        tf_parts.append(t)
        prev_max = int(blk["max_docid"])
    return np.concatenate(doc_parts), np.concatenate(tf_parts)


def ciff_postings_list(term: str, df: int, cf: int, postings) -> bytes:
    """A CIFF PostingsList message written field by field, one
    ``_emit_field`` call per posting — the reference for the engine's
    one-call list framer ``ciff_io._enc_postings_list``."""
    def posting(gap: int, tf: int) -> bytes:
        out = io.BytesIO()
        if gap:
            _emit_field(out, 1, 0, gap)
        if tf:
            _emit_field(out, 2, 0, tf)
        return out.getvalue()

    out = io.BytesIO()
    if term:
        _emit_field(out, 1, 2, term.encode())
    if df:
        _emit_field(out, 2, 0, df)
    if cf:
        _emit_field(out, 3, 0, cf)
    for gap, tf in postings:
        _emit_field(out, 4, 2, posting(gap, tf))
    return out.getvalue()


class OracleIndex:
    def __init__(self) -> None:
        self.docs: pd.DataFrame | None = None  # docid + id cols + doclength
        self.postings: dict[str, list[tuple[int, int]]] = {}
        self.num_docs: int = 0
        self.total_terms: int = 0
        self.avgdl: float = 0.0

    @classmethod
    def build(
        cls,
        pdf: pd.DataFrame,
        id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
        text_col: str = "text",
    ) -> "OracleIndex":
        idx = cls()
        ordered = pdf.sort_values(list(id_cols), kind="mergesort").reset_index(drop=True)
        doclengths = []
        for docid, text in enumerate(ordered[text_col].tolist()):
            toks = tokenize_py(text)
            doclengths.append(len(toks))
            for term, tf in sorted(Counter(toks).items()):
                idx.postings.setdefault(term, []).append((docid, tf))
        idx.docs = ordered[list(id_cols)].copy()
        idx.docs.insert(0, "docid", np.arange(len(ordered), dtype=np.int64))
        idx.docs["doclength"] = np.array(doclengths, dtype=np.int64)
        idx.num_docs = len(ordered)
        idx.total_terms = int(sum(doclengths))
        idx.avgdl = idx.total_terms / idx.num_docs if idx.num_docs else 0.0
        return idx

    # -- statistics (≙ CIFF Header / PostingsList stats) ---------------------

    def term_stats(self) -> pd.DataFrame:
        rows = [
            (term, len(plist), int(sum(tf for _, tf in plist)))
            for term, plist in sorted(self.postings.items())
        ]
        return pd.DataFrame(rows, columns=["term", "df", "cf"])

    # -- query ----------------------------------------------------------------

    def topk(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        """BM25 top-k: list of (docid, score), score desc, docid asc."""
        terms = sorted(set(tokenize_py(query)))
        dl = self.docs["doclength"].to_numpy()
        scores: dict[int, float] = {}
        for term in terms:
            plist = self.postings.get(term)
            if not plist:
                continue
            idf = float(idf_np(len(plist), self.num_docs))
            docids = np.array([d for d, _ in plist], dtype=np.int64)
            tfs = np.array([t for _, t in plist], dtype=np.float64)
            contrib = idf * tfnorm_np(tfs, dl[docids], self.avgdl)
            for d, s in zip(docids.tolist(), contrib.tolist()):
                scores[d] = scores.get(d, 0.0) + s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]
