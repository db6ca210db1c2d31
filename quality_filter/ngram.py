"""Shared vectorized byte-trigram machinery for the langid and perplexity
scorers.

Replaces the reference's GPU model invocations
(``src/classifier_inference_pipeline.py:61-89``) with hashed byte-trigram
linear models evaluated in numpy over whole Arrow batches: the hashes are
read straight off a string array's UTF-8 data buffer, rolling trigram
hashes are computed with three shifted vector ops, and per-row sums come
from ``np.add.reduceat`` — no per-row Python in the scoring math.

Determinism: each row is read as if prefixed with two NUL pad bytes, so
every trigram (including the two pad-crossing ones) is a pure function of
that row's own bytes — results are independent of batch composition /
partitioning.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

DIM = 1 << 15  # hash buckets
_MASK = DIM - 1
_MUL = 65599  # classic sdbm-style rolling multiplier


def batch_hashes(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Compacted ``(trigram_hashes, context_bigram_hashes, offsets)`` of a
    pyarrow String/LargeString array (chunked or sliced; nulls read as "").
    Row i owns span ``[offsets[i], offsets[i+1])`` of both hash arrays;
    every row contributes exactly ``len(utf8_bytes)`` positions thanks to
    the 2-byte NUL prefix (position j's trigram covers bytes j-2..j, its
    context bigram bytes j-2..j-1).  Callers holding Python strings pass
    ``pa.array(texts, type=pa.string())``.

    No per-row Python: the UTF-8 bytes already sit concatenated in the
    Arrow data buffer, so the hashes are numpy ops over that buffer.  The
    global rolling hash uses each row's last-two-bytes context at the two
    positions that should see the NUL-pad context instead; those are
    fixed up by two vectorized scatter writes per batch (first and second
    position of every non-empty row)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    o_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    bufs = arr.buffers()
    n = len(arr)
    if n == 0 or bufs[1] is None:
        z = np.empty(0, dtype=np.int32)
        return z, z, np.zeros(n + 1, dtype=np.int64)
    off = np.frombuffer(bufs[1], dtype=o_dtype, count=n + 1 + arr.offset)[
        arr.offset:
    ].astype(np.int64)
    starts_abs, ends_abs = off[:-1], off[1:]
    lengths = ends_abs - starts_abs
    if arr.null_count:
        valid = pa.compute.is_valid(arr).to_numpy(zero_copy_only=False)
        lengths = np.where(valid, lengths, 0)
    offsets = np.empty(n + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(lengths, out=offsets[1:])
    total = int(offsets[-1])
    if total == 0:
        z = np.empty(0, dtype=np.int32)
        return z, z, offsets
    base = int(starts_abs.min())
    end = int(ends_abs.max())
    blob = np.frombuffer(bufs[2], dtype=np.uint8, count=end, offset=0)[
        base:end
    ].astype(np.int32)
    pb = np.empty(blob.shape[0] + 2, dtype=np.int32)
    pb[:2] = 0
    pb[2:] = blob
    # int32 end to end: masking commutes with the rolling multiply
    # (mod 2^15 is a ring hom, and 2^15 | 2^32 so even a WRAPPING int32
    # product preserves the low 15 bits — numpy integer overflow is
    # defined two's-complement wrap, and `& _MASK` reads exactly those
    # low bits), and halving the hash-stream width halves the scorers'
    # dominant memory traffic.  h3 reuses h2 as its prefix state.
    h2 = (pb[:-2] * _MUL + pb[1:-1]) & _MASK
    h3 = (h2 * _MUL + blob) & _MASK
    # per-row context fixups (see docstring): positions relative to base
    s = (starts_abs - base)[lengths >= 1]
    h2[s] = 0
    h3[s] = blob[s]
    s2 = (starts_abs - base)[lengths >= 2]
    h2[s2 + 1] = blob[s2]
    h3[s2 + 1] = (blob[s2] * _MUL + blob[s2 + 1]) & _MASK
    rel_starts = starts_abs - base
    if total == blob.shape[0] and bool(np.all(rel_starts == offsets[:-1])):
        # gapless, null-extent-free layout (the Spark-produced common
        # case): global position == compacted position
        return h3, h2, offsets
    # general layout (sliced arrays, null rows with extents, gaps):
    # gather each row's span
    pos = (
        np.arange(total, dtype=np.int64)
        - np.repeat(offsets[:-1], lengths)
        + np.repeat(rel_starts, lengths)
    )
    return h3[pos], h2[pos], offsets


def segment_sums(values: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Sum ``values`` over the row spans described by ``offsets`` along the
    last axis (empty spans → 0.0).  ``values`` may be 1-D (N,) or 2-D
    (L, N); result is (n_rows,) or (L, n_rows).

    Uses ``np.add.reduceat`` restricted to non-empty spans: each segment is
    summed sequentially left-to-right over only that row's values, so a
    row's result is bit-identical regardless of batch composition (a
    prefix-sum-difference scheme would not be).  Because spans are
    contiguous, dropping empty spans leaves start offsets that still end
    exactly at the next non-empty span's start.
    """
    n = offsets.shape[0] - 1
    lead_shape = values.shape[:-1]
    out = np.zeros(lead_shape + (n,), dtype=np.float64)
    nonempty = offsets[:-1] < offsets[1:]
    if values.shape[-1] == 0 or not nonempty.any():
        return out
    starts = offsets[:-1][nonempty]
    sums = np.add.reduceat(values, starts, axis=-1, dtype=np.float64)
    out[..., nonempty] = sums
    return out


def train_counts(corpus: list[str]) -> np.ndarray:
    """Hashed trigram counts of a corpus (float64[DIM])."""
    hashes, _, _ = batch_hashes(pa.array(corpus, type=pa.string()))
    return np.bincount(hashes, minlength=DIM).astype(np.float64)


def log_profile(counts: np.ndarray) -> np.ndarray:
    """Additive-smoothed (+0.5) log-probability profile over buckets."""
    total = counts.sum()
    return np.log((counts + 0.5) / (total + 0.5 * DIM))
