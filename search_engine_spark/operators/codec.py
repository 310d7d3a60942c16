"""Varbyte/delta posting-list codec + block-max headers (SURVEY.md §2.4 A2/A3).

Same compression idea as the reference (7-bit groups with a continuation
bit, deltas between sorted ids — Posts.hpp:105-242), re-designed for
vectorized execution: every encode/decode below is numpy array code (no
per-element Python loops over postings; the only loops are over the ≤10
bytes of a varbyte group), so it runs inside Arrow-batched pandas UDFs at
full speed.

Wire format (ours, not the reference's — the physical layout is engine-
private):
* varbyte: little-endian 7-bit groups, **terminator bit** — high bit set on
  the LAST byte of each value.  Terminator-style (vs continuation-style)
  makes decode a two-pass vectorized scan: flagnonzero(high bits) gives all
  value boundaries at once, then `np.add.reduceat` folds the groups.
* doc_ids: strictly increasing → deltas with first value absolute
  (gap_0 = docid_0, gap_i = docid_i − docid_{i−1}), each varbyte'd.
* tfs: varbyte of (tf − 1) (tf ≥ 1 always).
* pos / flags: per doc, varbyte(delta in-doc positions) and one style-flag
  byte per occurrence, tf values each, concatenated in doc order.
* block headers (replaces the reference's skip table, Posts.hpp:345-379):
  fixed BLOCK_SIZE-doc blocks, per block `(last_docid, max_weight)` where
  max_weight = max over the block of the BM25 tf/dl weight (idf excluded —
  it is a per-term constant applied at query time).  This is the exact
  per-block score bound block-max WAND needs; the reference's skip table
  only bounds positions, not scores.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


# ---------------------------------------------------------------------------
# varbyte
# ---------------------------------------------------------------------------

def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a non-negative int array."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value: smallest n with v < 2^(7n)
    nbytes = np.ones(v.shape, dtype=np.int64)
    limit = np.uint64(1 << 7)
    shifted = v >> np.uint64(7)
    while shifted.any():
        nbytes += (shifted > 0).astype(np.int64)
        shifted >>= np.uint64(7)
    del limit
    ends = np.cumsum(nbytes)
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    starts = ends - nbytes
    max_n = int(nbytes.max())
    rem = v.copy()
    for j in range(max_n):  # ≤10 iterations for uint64
        mask = nbytes > j
        idx = starts[mask] + j
        out[idx] = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        rem = rem >> np.uint64(7)
    out[ends - 1] |= 0x80  # terminator bit on each value's last byte
    return out.tobytes()


def varbyte_decode(buf: bytes | bytearray | memoryview | np.ndarray) -> np.ndarray:
    """Vectorized varbyte decode → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero(b & 0x80)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    # position of each byte within its value's group
    within = np.arange(b.size, dtype=np.int64) - np.repeat(starts, lens)
    payload = (b & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * within.astype(np.uint64)
    )
    return np.add.reduceat(payload, starts)


# ---------------------------------------------------------------------------
# posting payloads
# ---------------------------------------------------------------------------

def encode_docids(doc_ids: np.ndarray) -> bytes:
    """Strictly-increasing doc ids → varbyte(delta); first gap is absolute."""
    d = np.asarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return b""
    gaps = np.empty_like(d)
    gaps[0] = d[0]
    np.subtract(d[1:], d[:-1], out=gaps[1:])
    return varbyte_encode(gaps)


def decode_docids(buf: bytes) -> np.ndarray:
    gaps = varbyte_decode(buf).astype(np.int64)
    return np.cumsum(gaps)


def encode_tfs(tfs: np.ndarray) -> bytes:
    return varbyte_encode(np.asarray(tfs, dtype=np.int64) - 1)


def decode_tfs(buf: bytes) -> np.ndarray:
    return varbyte_decode(buf).astype(np.int64) + 1


def encode_positions_row(positions: np.ndarray) -> bytes:
    """ONE document's sorted in-doc positions → varbyte(delta), first value
    absolute — the per-doc unit of the packed ``pos`` stream.  Per-doc
    streams concatenate verbatim (each restarts absolute), and per-doc
    lengths are NOT stored: they equal tf, so the packed ``tfs`` stream
    already delimits the position runs (reference analogue: positions
    inline in every posting, Posts.hpp:30-46 — here they live in a separate
    column so BM25-only scans never read them, SURVEY §7.2)."""
    p = np.asarray(positions, dtype=np.int64)
    if p.size == 0:
        return b""
    gaps = np.empty_like(p)
    gaps[0] = p[0]
    np.subtract(p[1:], p[:-1], out=gaps[1:])
    return varbyte_encode(gaps)


def encode_position_lists(lists: list[np.ndarray]) -> list[bytes]:
    """Batch form of encode_positions_row: ONE vectorized varbyte pass over
    the whole Arrow batch (all rows' gaps concatenated, per-row first value
    absolute), then sliced back per row by byte length.  ~10× the per-row
    loop — this runs over every posting during the pack phase."""
    n = len(lists)
    if n == 0:
        return []
    lens = np.fromiter((len(p) for p in lists), dtype=np.int64, count=n)
    if (lens == 0).any():
        raise ValueError("empty positions list (tf >= 1 violated)")
    flat = np.concatenate(lists).astype(np.int64, copy=False)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    gaps = np.empty_like(flat)
    gaps[1:] = flat[1:] - flat[:-1]
    gaps[offs] = flat[offs]  # per-row reset: first value absolute
    buf = varbyte_encode(gaps)
    # per-value byte counts → per-row byte lengths → slice boundaries
    nb = np.ones(flat.size, dtype=np.int64)
    shifted = gaps.astype(np.uint64) >> np.uint64(7)
    while shifted.any():
        nb += (shifted > 0).astype(np.int64)
        shifted >>= np.uint64(7)
    ends = np.cumsum(np.add.reduceat(nb, offs))
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1]
    return [buf[a:b] for a, b in zip(starts, ends)]


def decode_position_stream(buf: bytes, lens: np.ndarray) -> np.ndarray:
    """Concatenated per-doc position streams → flat positions array
    (segmented cumsum; ``lens`` = per-doc position counts = decoded tfs).
    Segment boundaries reset the delta chain, so this is one vectorized
    cumsum minus a per-segment base — no per-doc Python loop."""
    vals = varbyte_decode(buf).astype(np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    if vals.size == 0:
        return vals
    cs = np.cumsum(vals)
    offs = np.empty_like(lens)
    offs[0] = 0
    np.cumsum(lens[:-1], out=offs[1:])
    base = np.repeat(cs[offs] - vals[offs], lens)
    return cs - base


def split_position_stream(buf: bytes, lens: np.ndarray) -> list[bytes]:
    """Concatenated per-doc position streams → the per-doc streams, cut at
    every ``lens``-th value end (a byte with the stop bit) — the inverse of
    concatenation, without decoding a value."""
    lens = np.asarray(lens, dtype=np.int64)
    if lens.size == 0:
        return []
    value_ends = np.flatnonzero(np.frombuffer(buf, dtype=np.uint8) & 0x80) + 1
    ends = value_ends[np.cumsum(lens) - 1]
    starts = np.concatenate(([0], ends[:-1]))
    return [buf[a:b] for a, b in zip(starts, ends)]


def encode_flag_lists(lists: list[np.ndarray]) -> list[bytes]:
    """Per-occurrence style flags (bold/heading bits, Posts.hpp:33) → one
    byte per occurrence, aligned with the posting's position stream; like
    the positions, a doc's run length is its tf, so streams concatenate
    without delimiters."""
    return [np.asarray(f, dtype=np.uint8).tobytes() for f in lists]


def decode_flag_stream(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.uint8).astype(np.int64)


def rebase_first_gap(buf: bytes, prev_last_docid: int) -> bytes:
    """Rewrite a delta stream's first value so the stream can be appended
    after a stream ending at ``prev_last_docid`` WITHOUT decoding the rest —
    the merge-pass primitive (SURVEY.md A6: 'concatenating delta streams
    with rebased first-gap').  Only the first varbyte group is re-encoded.
    """
    if not buf:
        return buf
    b = np.frombuffer(buf, dtype=np.uint8)
    first_end = int(np.flatnonzero(b & 0x80)[0])
    first_abs = int(varbyte_decode(b[: first_end + 1])[0])
    new_gap = first_abs - prev_last_docid
    if new_gap <= 0:
        raise ValueError(
            f"non-increasing doc ids across merge: {first_abs} after {prev_last_docid}"
        )
    head = varbyte_encode(np.array([new_gap], dtype=np.int64))
    return head + b[first_end + 1 :].tobytes()


# ---------------------------------------------------------------------------
# block-max headers
# ---------------------------------------------------------------------------

def block_headers(
    doc_ids: np.ndarray, weights: np.ndarray, block_size: int = BLOCK_SIZE
) -> tuple[np.ndarray, np.ndarray]:
    """Per-block (last_docid, max_weight) for block-max WAND.

    ``weights`` is the idf-free BM25 per-posting weight (tf/dl part) — the
    block bound is then exact: idf(term) * max_weight ≥ any score in block.
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    w = np.asarray(weights, dtype=np.float64)
    if d.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    n_blocks = (d.size + block_size - 1) // block_size
    last = d[np.minimum(np.arange(1, n_blocks + 1) * block_size, d.size) - 1]
    # reduceat over block starts gives per-block max
    starts = np.arange(n_blocks) * block_size
    maxw = np.maximum.reduceat(w, starts)
    return last, maxw
