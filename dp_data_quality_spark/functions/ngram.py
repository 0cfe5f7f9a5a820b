"""Shared byte-n-gram hashing for the langid and perplexity scorers.

All texts in an Arrow batch are UTF-8 encoded into ONE contiguous byte
buffer with NUL separators; n-gram bucket indexes are then computed with
vectorized integer arithmetic and per-row aggregation uses
``np.add.reduceat``.  The kernels have no per-row Python loop, but
``encode_batch`` still has one: it turns each row into a Python ``str``,
encodes it and copies it into the buffer.  N-grams touching a NUL
separator are masked out, so no n-gram crosses a row boundary.
"""

from __future__ import annotations

import numpy as np

N_BUCKETS = 1 << 16  # 65536
_MULT = 31


def hash_ngrams(buf: np.ndarray, n: int) -> np.ndarray:
    """Bucket index for every length-``n`` window of ``buf`` (uint8).
    Returns int64 array of len(buf)-n+1 (empty if buf too short)."""
    if len(buf) < n:
        return np.empty(0, dtype=np.int64)
    acc = np.zeros(len(buf) - n + 1, dtype=np.int64)
    for k in range(n):
        acc = acc * _MULT + buf[k : len(buf) - n + 1 + k]
    return acc % N_BUCKETS


def encode_batch(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Encode a sequence of (possibly-None) strings into one NUL-separated
    byte buffer.  Returns (buffer uint8, start offsets int64, lengths int64).
    None → length 0."""
    encoded = [(t.encode("utf-8", "ignore") if isinstance(t, str) else b"") for t in texts]
    lengths = np.fromiter((len(b) for b in encoded), dtype=np.int64, count=len(encoded))
    # one NUL after each text (also terminates the last one)
    total = int(lengths.sum()) + len(encoded)
    buf = np.zeros(total, dtype=np.uint8)
    offsets = np.zeros(len(encoded), dtype=np.int64)
    pos = 0
    for i, b in enumerate(encoded):
        offsets[i] = pos
        if b:
            buf[pos : pos + len(b)] = np.frombuffer(b, dtype=np.uint8)
        pos += len(b) + 1
    return buf, offsets, lengths


_POW31 = None


def _pow31(max_len: int) -> np.ndarray:
    """31^i mod 2^32 lookup (word-position weights), grown on demand."""
    global _POW31
    if _POW31 is None or len(_POW31) < max_len:
        n = max(max_len, 1024)
        out = np.empty(n, dtype=np.int64)
        v = 1
        for i in range(n):
            out[i] = v
            v = (v * 31) & 0xFFFFFFFF
        _POW31 = out
    return _POW31


# ASCII whitespace = Java regex \s (the JVM splitter the heuristics
# formerly used): space, \t, \n, \x0b, \f, \r — plus NUL (row separator).
_WS_BYTES = (32, 9, 10, 11, 12, 13)


def rowwise_word_stats(
    buf: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(n_words, n_distinct_words) per row, fully vectorized.

    Words are maximal runs of non-whitespace bytes; "distinct" is by a
    32-bit positional polynomial hash (sum of byte·31^pos mod 2^32) —
    collision-tolerant by design and mirrored exactly by the test
    oracle.  One pass over the byte buffer: boundary mask → per-word
    reduceat for hashes → sort-free distinct via np.unique on
    (row, hash) keys.
    """
    rows = len(offsets)
    if len(buf) == 0:
        return np.zeros(rows, dtype=np.int64), np.zeros(rows, dtype=np.int64)

    sep = buf == 0
    for w in _WS_BYTES:
        sep |= buf == w
    token = ~sep
    prev_sep = np.empty_like(sep)
    prev_sep[0] = True
    prev_sep[1:] = sep[:-1]
    starts_mask = token & prev_sep

    # words per row
    bounded = np.minimum(offsets, len(buf) - 1)
    n_words = np.add.reduceat(starts_mask.astype(np.int64), bounded)
    seg_ends = np.append(bounded[1:], len(buf))
    empty = (seg_ends <= bounded) | (offsets >= len(buf))
    n_words[empty] = 0

    word_starts = np.flatnonzero(starts_mask)
    if word_starts.size == 0:
        return n_words, np.zeros(rows, dtype=np.int64)

    # position within word: i - start_of_current_word (sep positions junk, masked)
    idx = np.arange(len(buf), dtype=np.int64)
    start_marks = np.where(starts_mask, idx, -1)
    cur_start = np.maximum.accumulate(start_marks)
    pos = idx - cur_start
    pos[~token] = 0
    weights = (buf.astype(np.int64) * _pow31(int(pos.max()) + 1)[pos]) & 0xFFFFFFFF
    weights[~token] = 0
    hashes = np.add.reduceat(weights, word_starts) & 0xFFFFFFFF

    word_row = np.searchsorted(offsets, word_starts, side="right") - 1
    combined = (word_row.astype(np.int64) << 32) | hashes
    uniq = np.unique(combined)
    n_distinct = np.bincount((uniq >> 32).astype(np.int64), minlength=rows)
    return n_words, n_distinct.astype(np.int64)


def rowwise_ngram_stats(
    buf: np.ndarray,
    offsets: np.ndarray,
    n: int,
    logprob_table: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """For each row segment of ``buf``: (sum of table[bucket] over the row's
    n-grams, count of valid n-grams).

    ``logprob_table`` may be 1-D (n_buckets,) or 2-D **language-first**
    (n_langs, n_buckets); sums come back shaped (rows,) or
    (rows, n_langs).  Each language is gathered on its own: a
    contiguous fancy-index into one table row, which stays in cache.
    N-grams containing the NUL separator contribute zero (masked in
    place on each fresh gather).

    Sums accumulate in float64 whatever the table's dtype, so a row's
    result does not depend on the other rows in its batch: a float32
    ``reduceat`` rounds differently with the row's position in the
    buffer.  A float64 sum of float32 entries is exact, hence the same
    in any order, while it stays below 2^53 ulps of the smallest entry;
    for the hermetic tables (entries in [-11.4, -5.2], ulp ≥ 2^-21) that
    is any row under about 10^8 n-grams.  One float64 column at a time
    keeps the peak at one (W,) float64 array, not a (W, n_langs) one.
    """
    table = np.atleast_2d(logprob_table)
    rows = len(offsets)
    idx = hash_ngrams(buf, n)
    if idx.size == 0:
        sums, counts = np.zeros((rows, len(table))), np.zeros(rows, dtype=np.int64)
    else:
        valid = _valid_windows(buf, n)
        invalid = ~valid
        # reduceat boundaries in window space (window i starts at byte i);
        # boundaries must stay < idx.size, rows past the end are zeroed below.
        starts = np.minimum(offsets, idx.size - 1)
        counts = np.add.reduceat(valid.astype(np.int64), starts)
        sums = np.empty((rows, len(table)))
        for j, lang_row in enumerate(table):
            contrib = lang_row[idx].astype(np.float64, copy=False)
            contrib[invalid] = 0.0                    # in place on the fresh gather
            sums[:, j] = np.add.reduceat(contrib, starts)

        # np.add.reduceat quirk: for an empty segment (equal consecutive
        # boundaries) it returns the single element at the boundary instead
        # of 0 — zero those rows explicitly.
        seg_ends = np.append(starts[1:], idx.size)
        empty = (seg_ends <= starts) | (offsets >= idx.size)
        counts[empty] = 0
        sums[empty] = 0.0
    return (sums[:, 0] if logprob_table.ndim == 1 else sums), counts


def _valid_windows(buf: np.ndarray, n: int) -> np.ndarray:
    """Boolean mask over the len(buf)-n+1 windows: True where the
    window contains no NUL separator (no n-gram crosses a row
    boundary).  The single definition both the scorer and the
    distributed trainer mask with."""
    valid = np.ones(len(buf) - n + 1, dtype=bool)
    for k in range(n):
        valid &= buf[k : len(buf) - n + 1 + k] != 0
    return valid


def bucket_counts(buf: np.ndarray, n: int) -> np.ndarray:
    """Masked n-gram bucket histogram over a NUL-separated batch buffer:
    ``np.bincount`` of ``hash_ngrams`` restricted to valid windows.
    Returns an (N_BUCKETS,) int64 vector — the per-batch partial count
    a distributed LM trainer aggregates (functions/perplexity.py)."""
    idx = hash_ngrams(buf, n)
    if idx.size == 0:
        return np.zeros(N_BUCKETS, dtype=np.int64)
    return np.bincount(idx[_valid_windows(buf, n)], minlength=N_BUCKETS)
