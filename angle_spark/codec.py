"""Delta + varint posting-list codec (numpy-vectorized, no per-row Python).

The reference compresses stored state with 4/8-bit quantization
(reference angle_emb/angle.py:795-813); the lossless analog for an inverted
index is classic delta + LEB128 varint over docID-ascending postings.
Blocks are capped at BLOCK_SIZE docs so a stopword's posting list is many
small rows, never one giant cell — this is what bounds single-task memory
at 10^12 docs and what block-max WAND skips over.

Encode/decode are vectorized over the whole array (loop bound = max varint
byte width = 10, not the number of values).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # docs per posting block (power of two, WAND-friendly)

# Okapi BM25 constants (north rule: k1=1.2, b=0.75).
K1 = 1.2
B = 0.75


def encode_varints_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode an array; also return per-value byte lengths so a
    caller can slice the stream at value boundaries (block packing)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    lengths = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        lengths += tmp > 0
        tmp = tmp >> np.uint64(7)
    out = np.zeros(int(lengths.sum()), dtype=np.uint8)
    idx = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    cur = v.copy()
    remaining = lengths.copy()
    while True:
        active = remaining > 0
        if not active.any():
            break
        byte = (cur & np.uint64(0x7F)).astype(np.uint8)
        byte[active & (remaining > 1)] |= 0x80
        out[idx[active]] = byte[active]
        idx = idx + active
        cur = cur >> np.uint64(7)
        remaining = remaining - active
    return out.tobytes(), lengths


def encode_varints(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints to bytes."""
    return encode_varints_with_lengths(values)[0]


def decode_varints(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for i in range(int(lengths.max())):
        mask = lengths > i
        vals[mask] |= (b[starts[mask] + i].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(
            7 * i
        )
    return vals


def decode_varints_concat(bufs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY LEB128 streams in one vectorized pass.

    Returns (flat values, per-stream value counts). Value-for-value
    identical to calling :func:`decode_varints` per stream — a varint
    never spans a stream boundary, so the concatenated byte string
    decodes to the streams' values in order, and each stream's count is
    the number of terminator bytes (high bit clear) inside its extent.

    Why it exists: a posting block holds <= BLOCK_SIZE values, so block
    rows are tiny and per-call numpy overhead (~30us) dominated shard
    scoring (57% of task CPU at the 2M-doc scale bench). One pass over
    a term's whole block set amortizes that overhead across the term.
    """
    if not bufs:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    b = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    bounds = np.cumsum(np.fromiter((len(x) for x in bufs), dtype=np.int64, count=len(bufs)))
    return decode_varints_concat_bounds(b, bounds)


def decode_varints_concat_bounds(
    b: np.ndarray, byte_bounds: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`decode_varints_concat` over ONE pre-concatenated uint8
    array with cumulative per-stream END byte offsets — the exact shape
    of an Arrow binary column's (data buffer, offsets), so Arrow callers
    decode a whole column with zero per-stream ``bytes`` objects."""
    if byte_bounds.size == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(len(byte_bounds), dtype=np.int64)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for i in range(int(lengths.max())):
        mask = lengths > i
        vals[mask] |= (b[starts[mask] + i].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(
            7 * i
        )
    cum = np.searchsorted(ends, np.asarray(byte_bounds, dtype=np.int64) - 1, side="right")
    counts = np.diff(np.concatenate(([0], cum)))
    return vals, counts


def decode_doc_deltas_concat(bufs: list[bytes]) -> np.ndarray:
    """Delta-decode MANY doc-delta streams in one pass (each stream's
    first delta is absolute — see encode_doc_deltas). Equals
    np.concatenate([decode_doc_deltas(b) for b in bufs]) exactly."""
    b = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    bounds = np.cumsum(np.fromiter((len(x) for x in bufs), dtype=np.int64, count=len(bufs)))
    return decode_doc_deltas_concat_bounds(b, bounds)[0]


def decode_doc_deltas_concat_bounds(
    b: np.ndarray, byte_bounds: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`decode_doc_deltas_concat` over one pre-concatenated buffer
    (the shape of :func:`decode_varints_concat_bounds`) -> (flat docIDs,
    per-stream counts): a global cumsum over the flat deltas, minus the
    carry accumulated before each stream's start."""
    deltas, counts = decode_varints_concat_bounds(b, byte_bounds)
    cs = np.cumsum(deltas.astype(np.int64))
    if len(counts) > 1:
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        offsets = np.zeros(len(counts), dtype=np.int64)
        nz = starts > 0
        offsets[nz] = cs[starts[nz] - 1]
        return cs - np.repeat(offsets, counts), counts
    return cs, counts


def encode_doc_deltas(doc_ids: np.ndarray) -> bytes:
    """Delta-encode a strictly ascending docID array, then varint."""
    d = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.diff(d, prepend=np.int64(0))
    deltas[0] = d[0]  # first delta is the absolute first docID
    return encode_varints(deltas.astype(np.uint64))


def decode_doc_deltas(buf: bytes) -> np.ndarray:
    deltas = decode_varints(buf).astype(np.int64)
    return np.cumsum(deltas)


def encode_tfs(tfs: np.ndarray) -> bytes:
    """tf >= 1 always; store tf-1 to shave a byte off the common tf=1."""
    return encode_varints(np.asarray(tfs, dtype=np.uint64) - np.uint64(1))


def decode_tfs(buf: bytes) -> np.ndarray:
    return decode_varints(buf).astype(np.int64) + 1


def decode_positions(buf: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """pos_bin + the block's tf array (group lengths) -> (flat positions,
    group boundaries). flat[bounds[i]:bounds[i+1]] are posting i's token
    positions, ascending (deltas restart absolute at each posting)."""
    deltas = decode_varints(buf).astype(np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    bounds = np.concatenate(([0], np.cumsum(t)))
    cs = np.cumsum(deltas)
    # undo the cross-group carry: subtract the cumsum just before each
    # group start (group 0 needs none — its first delta is absolute)
    offsets = np.zeros(len(t), dtype=np.int64)
    if len(t) > 1:
        offsets[1:] = cs[bounds[1:-1] - 1]
    return cs - np.repeat(offsets, t), bounds


def impact_upper_bound(tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> float:
    """max over block of the idf-free BM25 term contribution:
    tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)).  Multiplied by idf(term) at
    query time this is the block-max WAND score bound."""
    tf = np.asarray(tfs, dtype=np.float64)
    dl = np.asarray(dls, dtype=np.float64)
    denom = tf + K1 * (1.0 - B + B * dl / float(avgdl))
    return float(np.max(tf * (K1 + 1.0) / denom))
