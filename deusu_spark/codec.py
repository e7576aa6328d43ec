"""Delta-gap + varbyte posting-list codec (vectorized numpy).

Byte-compatible with the reference's compressed RWI format
(rwi.pas:76-153 CompressKeyword encode, rwi.pas:47-70
ReadCompressedDocumentID decode):

per posting, first byte:
    bits 0-2 = location flags
    bits 3-6 = low 4 bits of the doc-id gap (gap = doc_id - prev_doc_id)
    bit  7   = continuation (more gap bits follow)
continuation bytes: 7 gap bits each (bits 0-6), bit 7 = more.

Unlike the reference (one blob per term), postings are stored in bounded
*segments* so a hot term with billions of postings never materializes a
single multi-GB cell and decodes in parallel across tasks. Each segment is
self-delimiting given the previous segment's last doc id (``prev_doc``); a
segment encoded with prev_doc=0 is byte-identical to the reference encoding
of the same postings.
"""

from __future__ import annotations

import numpy as np


def encode(doc_ids: np.ndarray, flags: np.ndarray, prev_doc: int = 0) -> bytes:
    """Encode ascending doc_ids (int64) + flags (0..7) into a varbyte blob.

    Mirrors rwi.pas:76-153. ``prev_doc`` is the doc id the first gap is
    relative to (0 for a self-contained / first segment): one segment of
    :func:`encode_segments`, shifted so that its head gap starts there.
    """
    shifted = np.asarray(doc_ids, dtype=np.int64) - np.int64(prev_doc)
    _, out = encode_segments(shifted, flags, np.zeros(1, dtype=np.int64))
    return out.tobytes()


def encode_segments(
    doc_ids: np.ndarray, flags: np.ndarray, seg_starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Encode MANY segments in one vectorized pass.

    ``seg_starts`` (sorted int64, ``seg_starts[0] == 0``) marks where each
    segment begins; segment *i* covers ``[seg_starts[i], seg_starts[i+1])``
    (the last runs to the end). Every segment is encoded with ``prev_doc=0``,
    byte-identical to calling :func:`encode` on each slice — the per-call
    numpy fixed cost (which dominates when most terms have tiny df) is paid
    once for the whole task instead of once per segment.

    Returns ``(seg_byte_offsets, out)``: ``out`` is the concatenated uint8
    byte stream and ``seg_byte_offsets`` (len ``n_segs + 1``) delimits each
    segment's blob, ready to view zero-copy as an Arrow binary column.
    """
    n = len(doc_ids)
    if n == 0:
        return np.zeros(1, dtype=np.int64), np.empty(0, dtype=np.uint8)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    flags = np.asarray(flags, dtype=np.int64)
    seg_starts = np.asarray(seg_starts, dtype=np.int64)

    prev = np.empty(n, dtype=np.int64)
    prev[0] = 0
    prev[1:] = doc_ids[:-1]
    prev[seg_starts] = 0  # each segment is self-contained (prev_doc=0)
    gaps = doc_ids - prev
    interior = np.ones(n, dtype=bool)
    interior[seg_starts] = False
    if (gaps[interior] <= 0).any() or (gaps[seg_starts] < 0).any():
        raise ValueError("doc_ids must be strictly ascending within a segment")

    first = (flags & 7) | ((gaps & 15) << 3)
    rest = gaps >> 4
    first = np.where(rest > 0, first | 128, first)

    nbytes = np.ones(n, dtype=np.int64)
    r = rest.copy()
    while True:
        m = r > 0
        if not m.any():
            break
        nbytes[m] += 1
        r >>= 7
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    out[offsets[:-1]] = first.astype(np.uint8)

    r = rest.copy()
    k = 0
    heads = offsets[:-1]
    while True:
        m = r > 0
        if not m.any():
            break
        k += 1
        chunk = r[m] & 127
        more = (r[m] >> 7) > 0
        out[heads[m] + k] = (chunk | np.where(more, 128, 0)).astype(np.uint8)
        r >>= 7

    seg_byte_offsets = np.empty(len(seg_starts) + 1, dtype=np.int64)
    seg_byte_offsets[:-1] = offsets[seg_starts]
    seg_byte_offsets[-1] = offsets[-1]
    return seg_byte_offsets, out


def decode(blob: bytes, prev_doc: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Decode a blob back to (doc_ids int64, flags int8).

    Mirrors rwi.pas:47-70 (ReadCompressedDocumentID) over the whole blob.
    """
    arr = np.frombuffer(blob, dtype=np.uint8).astype(np.int64)
    if arr.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int8)
    starts = np.empty(arr.size, dtype=bool)
    starts[0] = True
    np.not_equal(arr[:-1] & 128, 128, out=starts[1:])
    first_idx = np.flatnonzero(starts)
    n = first_idx.size
    pid = np.cumsum(starts) - 1
    rank = np.arange(arr.size, dtype=np.int64) - first_idx[pid]
    contrib = np.where(
        rank == 0,
        (arr >> 3) & 15,
        (arr & 127) << (4 + 7 * np.maximum(rank - 1, 0)),
    )
    gaps = np.zeros(n, dtype=np.int64)
    np.add.at(gaps, pid, contrib)
    gaps[0] += prev_doc
    doc_ids = np.cumsum(gaps)
    flags = (arr[first_idx] & 7).astype(np.int8)
    return doc_ids, flags


def rebase(blob: bytes, old_prev: int, new_prev: int) -> bytes:
    """Re-encode only the first posting's gap so the blob chains after a
    different predecessor doc id. Used when merging salted partial runs into
    ordered segments (SURVEY §7 hot-term skew): bodies concatenate verbatim,
    only the head gap changes.
    """
    if not blob:
        return blob
    arr = np.frombuffer(blob, dtype=np.uint8)
    # length of the first posting's byte group
    end = 1
    while arr[end - 1] & 128:
        end += 1
    head_docs, head_flags = decode(arr[:end].tobytes(), prev_doc=old_prev)
    new_head = encode(head_docs, head_flags, prev_doc=new_prev)
    return new_head + arr[end:].tobytes()


def remove_sorted(
    docs: np.ndarray, flags: np.ndarray, tomb: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Drop postings whose doc_id appears in the SORTED tombstone array —
    the query-side masking primitive for logical deletions (takedowns).
    Both engines apply it at decode time so every downstream decision
    (AND counts, WAND theta, two-pass rule) sees only surviving docs."""
    if len(tomb) == 0 or len(docs) == 0:
        return docs, flags
    pos = np.searchsorted(tomb, docs)
    ok = pos < len(tomb)
    hit = np.zeros(len(docs), dtype=bool)
    hit[ok] = tomb[pos[ok]] == docs[ok]
    if not hit.any():
        return docs, flags
    keep = ~hit
    return docs[keep], flags[keep]
