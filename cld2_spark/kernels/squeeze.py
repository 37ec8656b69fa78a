"""CheapSqueeze: reference-exact trigger + 48-byte-chunk deletion (O8).

Reimplements (semantics, not a translation) the reference's cheap
byte-predictor squeeze machinery:

  - CountPredictedBytes (internal/compact_lang_det_impl.cc:541-581):
    a 4096-entry context-hash predictor over UTF-8 characters; bytes of
    correctly-predicted characters count as "predicted".
  - CountSpaces4 (:586-596): spaces counted in aligned 4-byte groups only.
  - CheapSqueezeTriggerTest (:952-971): on text longer than the test size,
    trigger when the FIRST 256 bytes are >=25% spaces OR >=67% predicted.
  - CheapSqueezeInplace (:785-865): delete 48-byte chunks (extended to a
    UTF-8 char boundary) that are >=25% spaces or >=40% predicted, with
    backscan/forwardscan-to-space at keep<->skip transitions (32-byte max
    scan, kMaxSpaceScan).

Everything is vectorized, including the predictor chain: the reference's
rolling hash `h = ((h << 4) ^ c) & 0xFFF` expires each char's bits after
three shifts, so h_i is a pure function of the previous THREE chars
(computable with three shifted XORs), and the value read from tbl[h_i]
is simply the previous char in the same-hash group (a stable argsort).
Per-row work is additionally bounded by the 160 KB text cap
(text.TEXT_LIMIT, applied in normalize_batch before any squeeze input is
built), so even an adversarially junk-heavy crawl cannot turn this into
an unbounded per-row tail.
"""

from __future__ import annotations

import numpy as np

SQUEEZE_TEST_LEN = 256         # kCheapSqueezeTestLen
SPACES_TRIGGER_PCT = 25        # kSpacesTriggerPercent
PREDICT_TRIGGER_PCT = 67       # kPredictTriggerPercent
CHUNKSIZE = 48                 # kChunksizeDefault
SPACES_THRESH_PCT = 25         # kSpacesThreshPercent
PREDICT_THRESH_PCT = 40        # kPredictThreshPercent
MAX_SPACE_SCAN = 32            # kMaxSpaceScan

# UTF-8 lead byte -> sequence length (continuation bytes -> 1-byte step)
_LEAD_LEN = np.ones(256, dtype=np.int8)
_LEAD_LEN[0xC0:0xE0] = 2
_LEAD_LEN[0xE0:0xF0] = 3
_LEAD_LEN[0xF0:] = 4


def _packed_chars(buf: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized UTF-8 walk: per character (start, packed value, byte len).

    Packing matches CountPredictedBytes exactly: 1-byte chars are the byte,
    2/3/4-byte chars shift successive bytes into one int. Bytes that are
    not character starts (stray continuations) are 1-byte steps.
    """
    n = len(buf)
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    if int(buf.max()) < 0x80:  # pure-ASCII fast path: every byte is a char
        return (np.arange(n, dtype=np.int64), buf.astype(np.int64),
                np.ones(n, dtype=np.int64))
    b = buf.astype(np.int64)
    # inputs come from Python strings, so the buffer is always valid UTF-8
    # (the reference also handles stray continuation bytes; moot here)
    start = (buf & 0xC0) != 0x80
    starts = np.flatnonzero(start)
    if len(starts) == 0:
        starts = np.arange(n, dtype=np.int64)
    incr = _LEAD_LEN[buf[starts]].astype(np.int64)
    # clip at the next start (malformed sequences) and the buffer end
    nxt = np.empty(len(starts), dtype=np.int64)
    nxt[:-1] = starts[1:]
    nxt[-1] = n
    incr = np.minimum(incr, nxt - starts)
    b2 = np.concatenate([b, np.zeros(3, dtype=np.int64)])
    c = b2[starts]
    for k, width in ((1, 2), (2, 3), (3, 4)):
        m = incr >= width
        if m.any():
            c = np.where(m, (c << 8) | b2[starts + k], c)
    return starts.astype(np.int64), c, incr.astype(np.int64)


def _count_spaces4(space_cum: np.ndarray, lo: int, hi: int) -> int:
    """CountSpaces4 over buf[lo:hi]: aligned groups of 4 from lo, tail
    bytes ignored (space_cum = prefix-sum of (byte == ' '))."""
    length = (hi - lo) & ~3
    return int(space_cum[lo + length] - space_cum[lo])


def _predicted_incr(c: np.ndarray, incr: np.ndarray) -> np.ndarray:
    """Vectorized CountPredictedBytes over one continuous char stream
    (zero-initialized table, h=0): per-char predicted byte counts.

    Equivalence to the reference's sequential loop
    (internal/compact_lang_det_impl.cc:541-581):
      - h_i = (c_{i-1} ^ (c_{i-2} << 4) ^ (c_{i-3} << 8)) & 0xFFF, because
        each `(h << 4) & 0xFFF` step expires a char's bits after 3 shifts.
      - tbl[h_i] at step i is the char written at the latest earlier step
        with the same hash (or 0, the table init): the previous element of
        i's hash group in chronological order, which a stable argsort on h
        exposes directly.
    """
    n = len(c)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    h = np.zeros(n, dtype=np.int64)
    h[1:] = c[:-1]
    h[2:] ^= c[:-2] << 4
    h[3:] ^= c[:-3] << 8
    h &= 0xFFF
    h = h.astype(np.uint16)  # 12-bit values: radix-sortable dtype
    order = np.argsort(h, kind="stable")
    hs = h[order]
    same = np.zeros(n, dtype=bool)
    same[1:] = hs[1:] == hs[:-1]
    prev_in_group = np.zeros(n, dtype=np.int64)
    prev_in_group[1:] = order[:-1]
    table_val = np.where(same, c[prev_in_group], 0)
    predicted = np.zeros(n, dtype=bool)
    predicted[order] = table_val == c[order]
    return np.where(predicted, incr, 0)


def squeeze_trigger_test(buf: bytes, testsize: int = SQUEEZE_TEST_LEN) -> bool:
    """CheapSqueezeTriggerTest: >=25% spaces or >=67% predicted in the
    first `testsize` bytes (false on shorter text)."""
    if len(buf) < testsize:
        return False
    arr = np.frombuffer(buf, dtype=np.uint8)
    space_cum = np.zeros(len(arr) + 1, dtype=np.int64)
    np.cumsum(arr == 0x20, out=space_cum[1:])
    if _count_spaces4(space_cum, 0, testsize) >= testsize * SPACES_TRIGGER_PCT // 100:
        return True
    starts, c, incr = _packed_chars(arr)
    sel = starts < testsize          # chars starting inside the test window
    pred = int(_predicted_incr(c[sel], incr[sel]).sum())
    return pred >= testsize * PREDICT_TRIGGER_PCT // 100


def cheap_squeeze(text: str, chunksize: int = CHUNKSIZE) -> str:
    """CheapSqueezeInplace: delete mostly-space / mostly-predicted 48-byte
    chunks, splicing at word boundaries. Input is expected to be a
    letters+single-spaces stream (the scriptspan form the reference
    squeezes); returns the squeezed string."""
    buf = text.encode("utf-8")
    n = len(buf)
    if n == 0:
        return text
    arr = np.frombuffer(buf, dtype=np.uint8)
    space_cum = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(arr == 0x20, out=space_cum[1:])
    starts, c, incr = _packed_chars(arr)
    space_thresh = chunksize * SPACES_THRESH_PCT // 100
    predict_thresh = chunksize * PREDICT_THRESH_PCT // 100

    # chunk boundaries depend only on content (char-boundary extension),
    # not on keep/skip decisions, so they precompute; the predictor state
    # carries across chunks in the reference loop, which is exactly one
    # continuous pass -- per-chunk counts come from a prefix sum.
    bounds = [0]
    src = 0
    while src < n:
        ln = min(chunksize, n - src)
        while src + ln < n and (buf[src + ln] & 0xC0) == 0x80:
            ln += 1
        src += ln
        bounds.append(src)
    bounds_a = np.asarray(bounds, dtype=np.int64)
    lo, hi = bounds_a[:-1], bounds_a[1:]
    pred_cum = np.zeros(len(c) + 1, dtype=np.int64)
    np.cumsum(_predicted_incr(c, incr), out=pred_cum[1:])
    cidx = np.searchsorted(starts, bounds_a)  # bounds align to char starts
    pred_n = pred_cum[cidx[1:]] - pred_cum[cidx[:-1]]
    len4 = (hi - lo) & ~np.int64(3)           # CountSpaces4: aligned groups
    space_n = space_cum[lo + len4] - space_cum[lo]
    drop = (space_n >= space_thresh) | (pred_n >= predict_thresh)

    # splice by RUNS of equal keep/drop decisions, not per chunk: within
    # a kept run the chunks are adjacent in buf (bounds are contiguous),
    # so the whole run appends as ONE slice; within a dropped run only
    # the FIRST chunk triggers the backscan (the skipping flag guarded
    # the rest anyway). Behavior-identical to the per-chunk loop --
    # transitions do exactly the same two scans -- but the Python-level
    # iteration count falls from #chunks (<=~3400 under the 160KB cap)
    # to #decision-runs (typically a handful; boilerplate clusters).
    edges = np.flatnonzero(np.diff(drop)) + 1
    run_bounds = np.concatenate(([0], edges, [len(lo)]))
    out = bytearray()
    skipping = False
    for a, b in zip(run_bounds[:-1], run_bounds[1:]):
        if drop[a]:
            if not skipping:
                # keep->skip transition: backscan the kept OUTPUT to a
                # space (BackscanToSpace scans the contiguous dst buffer,
                # up to kMaxSpaceScan bytes -- the scan may cross kept
                # chunk boundaries)
                window = min(MAX_SPACE_SCAN, len(out))
                p = out.rfind(b" ", len(out) - window) if window else -1
                if p >= 0:
                    del out[p + 1:]
                if not out:
                    out += b" "  # force a leading space (reference :820)
                skipping = True
        else:
            chunk = buf[int(lo[a]):int(hi[b - 1])]
            if skipping:
                # skip->keep transition: forwardscan to a space
                p = chunk.find(b" ", 0, MAX_SPACE_SCAN)
                chunk = chunk[p + 1:] if p >= 0 else chunk
                skipping = False
            out += chunk
    return bytes(out).decode("utf-8", errors="ignore")
