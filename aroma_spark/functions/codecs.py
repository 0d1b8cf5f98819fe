"""Gorilla XOR + delta-of-delta codecs — vectorized numpy bit-packing.

Algorithms from Facebook's Gorilla paper (Pelkonen et al., VLDB 2015):
timestamps are delta-of-delta encoded with variable-width buckets; floats
are XOR-ed against the previous value and the meaningful (non-zero) bits
stored. Nothing here derives from the reference repo (it has no codecs;
its nearest analog is float32 normalization at
src/aroma/datasets/breakfast.py:592-593) — this is the BASELINE.json
north_rule requirement.

One deliberate divergence from the paper, for scale: the paper's float
path reuses the *previous* value's leading/trailing-zero window when the
current XOR fits inside it — a sequentially dependent decision that
serializes encoding. We always emit an explicit (lz, siglen) header per
non-zero XOR ('1' + 6b lz + 6b siglen-1 + sig bits). That costs ~6% in
compression ratio and makes the encoder branch-free and fully
vectorizable: classification, zigzag, codeword assembly, and bitstream
scatter are all whole-array numpy ops (the bitstream is assembled with a
searchsorted owner map + packbits — no per-element Python).

Wire formats (big-endian bit streams, MSB first):

dod:      u32 n | i64 t0 | i64 d0 | per i>=2: bucket-coded zigzag(dod)
          buckets: '0'(dod=0) '10'+7b '110'+12b '1110'+20b '11110'+32b
                   '11111'+64b
gorilla:  u32 n | u64 v0 bits | per i>=1: '0' (xor=0) or
          '1' + 6b lz + 6b (siglen-1) + siglen bits of xor>>tz

Decoding is inherently sequential (variable-width fields); the decoder
reads 64-bit windows from the packed words — O(1) per field, a thin
Python loop per *group* inside an Arrow batch (groups are the unit of
parallelism across executors; see aroma_spark.operators.codec_ops).
"""

from __future__ import annotations

import struct

import numpy as np

# _CLZ8[b] = number of leading zero bits in the 8-bit value b
_CLZ8 = np.array([8 - int(b).bit_length() for b in range(256)], dtype=np.int64)


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (byte-table lookup)."""
    b = x.astype(">u8").view(np.uint8).reshape(-1, 8)
    nz = b != 0
    first = np.argmax(nz, axis=1)
    none = ~nz.any(axis=1)
    lz = first * 8 + _CLZ8[b[np.arange(len(x)), first]]
    lz[none] = 64
    return lz


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64."""
    b = x.astype("<u8").view(np.uint8).reshape(-1, 8)
    nz = b != 0
    first = np.argmax(nz, axis=1)
    none = ~nz.any(axis=1)
    lows = b[np.arange(len(x)), first].astype(np.int64)
    tz_in_byte = np.zeros(len(x), dtype=np.int64)
    nz_any = ~none
    # trailing zeros of a byte = clz8(reversed) — compute arithmetically:
    lsb = lows & (-lows)  # isolate lowest set bit
    tz_in_byte[nz_any] = np.log2(lsb[nz_any]).astype(np.int64)
    tz = first * 8 + tz_in_byte
    tz[none] = 64
    return tz


def _pack_stream(codes: np.ndarray, nbits: np.ndarray) -> bytes:
    """Assemble a MSB-first bitstream from (codeword, width) pairs.

    Fully vectorized: global bit position -> owning codeword via
    searchsorted, bit value via shift, bytes via packbits.
    """
    nbits = nbits.astype(np.int64)
    keep = nbits > 0  # zero-width entries would shift-by-64 (UB) below
    codes, nbits = codes[keep], nbits[keep]
    ends = np.cumsum(nbits)
    total = int(ends[-1]) if len(ends) else 0
    if total == 0:
        return b""
    starts = ends - nbits
    word = starts >> 6
    rem = 64 - (starts & 63) - nbits  # left-shift to align code at its offset
    neg = rem < 0
    part1 = np.where(
        neg, codes >> np.where(neg, -rem, 0).astype(np.uint64),
        codes << np.where(neg, 0, rem).astype(np.uint64),
    )
    part2 = np.where(
        neg, codes << np.where(neg, 64 + rem, 0).astype(np.uint64), np.uint64(0)
    )
    nwords = (total + 63) // 64 + 1
    words = np.zeros(nwords, dtype=np.uint64)
    np.bitwise_or.at(words, word, part1)
    spill = neg.nonzero()[0]
    np.bitwise_or.at(words, word[spill] + 1, part2[spill])
    return words.astype(">u8").tobytes()[: (total + 7) // 8]


class _BitReader:
    """Sequential reader over a packed big-endian bitstream.

    Reads ≤64-bit fields in O(1). Words are kept as a plain Python list
    — list indexing is ~5x faster than numpy scalar extraction in the
    per-value decode loops.
    """

    __slots__ = ("words", "pos", "nbits")

    def __init__(self, buf: bytes):
        pad = (-len(buf)) % 8
        b = buf + b"\x00" * (pad + 8)  # +8: safe second-word read at tail
        self.words = np.frombuffer(b, dtype=">u8").tolist()
        self.pos = 0
        self.nbits = len(buf) * 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        w, off = divmod(self.pos, 64)
        self.pos += n
        window = ((self.words[w] << 64) | self.words[w + 1]) >> (128 - off - n)
        return window & ((1 << n) - 1)

    def peek5(self) -> int:
        w, off = divmod(self.pos, 64)
        return (
            ((self.words[w] << 64) | self.words[w + 1]) >> (123 - off)
        ) & 31


def _zigzag(v: np.ndarray) -> np.ndarray:
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def _wrap64(x: int) -> int:
    """Wrap a Python int to int64 two's-complement — matches numpy's
    wrapping diff/cumsum so round trips stay exact even at the extremes."""
    return ((x + (1 << 63)) & ((1 << 64) - 1)) - (1 << 63)


_DOD_BUCKETS = (  # (zigzag upper bound exclusive, prefix, prefix_len, val_bits)
    (1 << 7, 0b10, 2, 7),
    (1 << 12, 0b110, 3, 12),
    (1 << 20, 0b1110, 4, 20),
    (1 << 32, 0b11110, 5, 32),
)


def encode_dod(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 array (e.g. microsecond timestamps)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    header = struct.pack(">Iq", n, int(ts[0]) if n else 0)
    if n <= 1:
        return header + struct.pack(">q", 0)
    d = np.diff(ts)
    header += struct.pack(">q", int(d[0]))
    if n == 2:
        return header
    dod = np.diff(d)
    z = _zigzag(dod)

    # classify into buckets -> per-element (prefix entry, value entry)
    prefix = np.full(len(z), 0b11111, dtype=np.uint64)
    plen = np.full(len(z), 5, dtype=np.int64)
    vbits = np.full(len(z), 64, dtype=np.int64)
    assigned = np.zeros(len(z), dtype=bool)
    zero = z == 0
    prefix[zero], plen[zero], vbits[zero] = 0, 1, 0
    assigned |= zero
    for ub, p, pl, vb in _DOD_BUCKETS:
        m = (~assigned) & (z < ub)
        prefix[m], plen[m], vbits[m] = p, pl, vb
        assigned |= m

    codes = np.empty(len(z) * 2, dtype=np.uint64)
    nbits = np.empty(len(z) * 2, dtype=np.int64)
    codes[0::2], nbits[0::2] = prefix, plen
    codes[1::2] = z
    nbits[1::2] = vbits
    return header + _pack_stream(codes, nbits)


def _pack_at(
    codes: np.ndarray, nbits: np.ndarray, starts: np.ndarray, total_bytes: int
) -> bytes:
    """Pack (codeword, width) entries at PRECOMPUTED global bit offsets.

    The segmented encoders compute per-entry positions so that every
    segment's sub-stream begins on its own byte boundary; packing then
    happens once for the whole batch instead of once per group. Same
    shift/spill math as :func:`_pack_stream`.
    """
    if total_bytes == 0:
        return b""
    nbits = nbits.astype(np.int64)
    keep = nbits > 0  # zero-width entries would shift-by-64 (UB) below
    codes, nbits, starts = codes[keep], nbits[keep], starts[keep]
    word = starts >> 6
    rem = 64 - (starts & 63) - nbits
    neg = rem < 0
    part1 = np.where(
        neg, codes >> np.where(neg, -rem, 0).astype(np.uint64),
        codes << np.where(neg, 0, rem).astype(np.uint64),
    )
    part2 = np.where(
        neg, codes << np.where(neg, 64 + rem, 0).astype(np.uint64), np.uint64(0)
    )
    nwords = (total_bytes * 8 + 63) // 64 + 1
    words = np.zeros(nwords, dtype=np.uint64)
    np.bitwise_or.at(words, word, part1)
    spill = neg.nonzero()[0]
    np.bitwise_or.at(words, word[spill] + 1, part2[spill])
    return words.astype(">u8").tobytes()[:total_bytes]


def _segment_layout(
    bits_per_elem: np.ndarray, elems_per_seg: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Byte-aligned stream layout for per-segment packing.

    Returns (bit_start_of_each_element, seg_stream_byte_starts[nseg+1],
    elem_segid). Each segment's sub-stream starts at a byte boundary so
    the blobs sliced out of the one packed buffer are independently
    decodable — identical bytes to packing each group alone (the pad
    bits are zero in both).
    """
    nseg = len(elems_per_seg)
    seg_ends = np.cumsum(elems_per_seg)
    seg_starts = seg_ends - elems_per_seg
    cumbits = np.concatenate(
        [np.zeros(1, dtype=np.int64), np.cumsum(bits_per_elem)]
    )
    seg_bits = cumbits[seg_ends] - cumbits[seg_starts]
    seg_bytes = (seg_bits + 7) >> 3
    seg_byte_starts = np.concatenate(
        [np.zeros(1, dtype=np.int64), np.cumsum(seg_bytes)]
    )
    segid = np.repeat(np.arange(nseg, dtype=np.int64), elems_per_seg)
    bit_start = (
        seg_byte_starts[segid] * 8
        + cumbits[: len(bits_per_elem)]
        - cumbits[seg_starts[segid]]
    )
    return bit_start, seg_byte_starts, segid


def _dod_classify(z: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Bucket-classify zigzag values -> (prefix, prefix_len, value_bits)."""
    prefix = np.full(len(z), 0b11111, dtype=np.uint64)
    plen = np.full(len(z), 5, dtype=np.int64)
    vbits = np.full(len(z), 64, dtype=np.int64)
    assigned = np.zeros(len(z), dtype=bool)
    zero = z == 0
    prefix[zero], plen[zero], vbits[zero] = 0, 1, 0
    assigned |= zero
    for ub, p, pl, vb in _DOD_BUCKETS:
        m = (~assigned) & (z < ub)
        prefix[m], plen[m], vbits[m] = p, pl, vb
        assigned |= m
    return prefix, plen, vbits


def encode_dod_segments(ts: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Encode every segment of a concatenated int64 array in one pass.

    ``starts[i]`` is the first index of segment i (segments are
    contiguous, non-empty, in order). Produces byte-identical blobs to
    calling :func:`encode_dod` per segment, but with whole-batch numpy
    ops: a millions-of-tiny-groups Arrow batch pays ~30 fixed-cost numpy
    dispatches TOTAL instead of ~30 per group (measured 5-10x on the
    codec branch of the flagship pipeline).
    """
    ts = np.asarray(ts, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    nseg = len(starts)
    if nseg == 0:
        return []
    ends = np.append(starts[1:], len(ts))
    seg_len = ends - starts

    # headers: u32 n | i64 t0 | i64 d0 (d0 = 0 when n <= 1 — same bytes
    # the scalar encoder emits for that case)
    t0 = ts[starts]
    idx1 = np.minimum(starts + 1, len(ts) - 1)
    d0 = np.where(seg_len >= 2, ts[idx1] - t0, 0)
    headers = np.empty((nseg, 20), dtype=np.uint8)
    headers[:, 0:4] = seg_len.astype(">u4").view(np.uint8).reshape(nseg, 4)
    headers[:, 4:12] = t0.astype(">i8").view(np.uint8).reshape(nseg, 8)
    headers[:, 12:20] = d0.astype(">i8").view(np.uint8).reshape(nseg, 8)

    # dod entries: elements at within-segment position >= 2.
    # ts[m]-2ts[m-1]+ts[m-2] wraps mod 2^64 exactly like the scalar
    # path's back-to-back np.diff.
    pos = np.arange(len(ts), dtype=np.int64) - np.repeat(starts, seg_len)
    m = (pos >= 2).nonzero()[0]
    dod = ts[m] - 2 * ts[m - 1] + ts[m - 2]
    z = _zigzag(dod)
    prefix, plen, vbits = _dod_classify(z)

    bit_start, seg_byte_starts, _ = _segment_layout(
        plen + vbits, np.maximum(seg_len - 2, 0)
    )
    # fuse prefix|value into ONE codeword per element when the combined
    # width fits 64 bits (everything but the 5+64-bit escape bucket) —
    # entry positions are explicit, so emission order is free and the
    # pack pays per-entry arithmetic once, not twice.
    fits = (plen + vbits <= 64).nonzero()[0]
    esc = (plen + vbits > 64).nonzero()[0]
    codes = np.concatenate(
        [
            (prefix[fits] << vbits[fits].astype(np.uint64)) | z[fits],
            prefix[esc],
            z[esc],
        ]
    )
    nbits = np.concatenate([plen[fits] + vbits[fits], plen[esc], vbits[esc]])
    entry_start = np.concatenate(
        [bit_start[fits], bit_start[esc], bit_start[esc] + plen[esc]]
    )
    stream = _pack_at(codes, nbits, entry_start, int(seg_byte_starts[-1]))

    hb = headers.tobytes()
    return [
        hb[i * 20 : i * 20 + 20]
        + stream[seg_byte_starts[i] : seg_byte_starts[i + 1]]
        for i in range(nseg)
    ]


def encode_gorilla_segments(
    values: np.ndarray, starts: np.ndarray
) -> list[bytes]:
    """Segmented :func:`encode_gorilla` — one numpy pass over all groups.

    Byte-identical to the per-segment encoder; see
    :func:`encode_dod_segments` for the batching rationale.
    """
    v = np.ascontiguousarray(np.asarray(values, dtype=np.float64)).view(
        np.uint64
    )
    starts = np.asarray(starts, dtype=np.int64)
    nseg = len(starts)
    if nseg == 0:
        return []
    ends = np.append(starts[1:], len(v))
    seg_len = ends - starts

    headers = np.empty((nseg, 12), dtype=np.uint8)
    headers[:, 0:4] = seg_len.astype(">u4").view(np.uint8).reshape(nseg, 4)
    headers[:, 4:12] = v[starts].astype(">u8").view(np.uint8).reshape(nseg, 8)

    pos = np.arange(len(v), dtype=np.int64) - np.repeat(starts, seg_len)
    m = (pos >= 1).nonzero()[0]
    x = v[m] ^ v[m - 1]
    nz = x != 0
    lz = np.minimum(_clz64(x), 63)
    tz = _ctz64(x)
    siglen = np.where(nz, 64 - lz - tz, 1).astype(np.int64)
    sig = np.where(nz, x >> np.where(nz, tz, 0).astype(np.uint64), np.uint64(0))

    sig_w = np.where(nz, siglen, 0)
    hdr_w = np.where(nz, 6, 0)
    bit_start, seg_byte_starts, _ = _segment_layout(
        1 + 2 * hdr_w + sig_w, seg_len - 1
    )
    # three entry classes, fused wherever '1'+6b lz+6b (siglen-1)+sig
    # fits one 64-bit codeword (siglen <= 51, the overwhelmingly common
    # case for smooth series): zero-XOR -> one 1-bit entry; fused ->
    # one (13+siglen)-bit entry; wide sig -> 13-bit header + sig entry.
    zr = (~nz).nonzero()[0]
    fu = (nz & (siglen <= 51)).nonzero()[0]
    wd = (nz & (siglen > 51)).nonzero()[0]
    sl_fu = siglen[fu].astype(np.uint64)
    hdr13 = lambda i: (  # noqa: E731 — '1' control | 6b lz | 6b siglen-1
        (np.uint64(1) << np.uint64(12))
        | (lz[i].astype(np.uint64) << np.uint64(6))
        | (siglen[i] - 1).astype(np.uint64)
    )
    codes = np.concatenate(
        [
            np.zeros(len(zr), dtype=np.uint64),
            (hdr13(fu) << sl_fu) | sig[fu],
            hdr13(wd),
            sig[wd],
        ]
    )
    nbits = np.concatenate(
        [
            np.ones(len(zr), dtype=np.int64),
            13 + siglen[fu],
            np.full(len(wd), 13, dtype=np.int64),
            siglen[wd],
        ]
    )
    entry_start = np.concatenate(
        [bit_start[zr], bit_start[fu], bit_start[wd], bit_start[wd] + 13]
    )
    stream = _pack_at(codes, nbits, entry_start, int(seg_byte_starts[-1]))

    hb = headers.tobytes()
    return [
        hb[i * 12 : i * 12 + 12]
        + stream[seg_byte_starts[i] : seg_byte_starts[i + 1]]
        for i in range(nseg)
    ]


def decode_dod(buf: bytes) -> np.ndarray:
    """Inverse of :func:`encode_dod` — exact round trip."""
    n, t0 = struct.unpack(">Iq", buf[:12])
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n == 1:
        return np.array([t0], dtype=np.int64)
    (d0,) = struct.unpack(">q", buf[12:20])
    vals = [0] * n
    vals[0], vals[1] = t0, _wrap64(t0 + d0)
    r = _BitReader(buf[20:])
    d = d0
    prev = vals[1]
    wrap = _wrap64
    for i in range(2, n):
        # peek the 5-bit prefix window once instead of bit-by-bit reads
        p = r.peek5()
        if p < 0b10000:  # '0' -> dod == 0
            r.pos += 1
        else:
            if p < 0b11000:  # '10' + 7
                r.pos += 2
                z = r.read(7)
            elif p < 0b11100:  # '110' + 12
                r.pos += 3
                z = r.read(12)
            elif p < 0b11110:  # '1110' + 20
                r.pos += 4
                z = r.read(20)
            elif p == 0b11110:  # '11110' + 32
                r.pos += 5
                z = r.read(32)
            else:  # '11111' + 64
                r.pos += 5
                z = r.read(64)
            d = wrap(d + ((z >> 1) ^ -(z & 1)))
        prev = wrap(prev + d)
        vals[i] = prev
    return np.array(vals, dtype=np.int64)


def _stream_words(
    blobs: list[bytes], header_bytes: int
) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate every blob's bitstream into one padded uint64 array.

    Returns (words, base) where blob i's stream occupies
    ``words[base[i]:]`` with ≥2 zero tail words, so any ≤64-bit field
    read inside the stream (plus the decoder's speculative 13-bit
    look-ahead) stays in bounds.
    """
    nb = len(blobs)
    lens = np.fromiter(
        (len(b) - header_bytes for b in blobs), dtype=np.int64, count=nb
    )
    nwords = ((lens + 7) >> 3) + 2
    base = np.concatenate(
        [np.zeros(1, dtype=np.int64), np.cumsum(nwords)]
    )
    buf = np.zeros(int(base[-1]) * 8, dtype=np.uint8)
    for i, b in enumerate(blobs):
        s = b[header_bytes:]
        buf[base[i] * 8 : base[i] * 8 + len(s)] = np.frombuffer(
            s, dtype=np.uint8
        )
    return buf.view(">u8").astype(np.uint64), base[:-1]


def _win64(
    words: np.ndarray, base: np.ndarray, pos: np.ndarray
) -> np.ndarray:
    """64-bit window starting at bit ``pos`` of each blob's stream."""
    w = base + (pos >> 6)
    off = (pos & 63).astype(np.uint64)
    hi, lo = words[w], words[w + 1]
    return (hi << off) | np.where(
        off > 0, lo >> ((np.uint64(64) - off) & np.uint64(63)), np.uint64(0)
    )


def decode_dod_many(blobs: list[bytes]) -> list[np.ndarray]:
    """Decode a batch of dod blobs in lockstep — vectorized across blobs.

    The per-blob decode is inherently sequential (variable-width
    fields), but independent blobs advance together: step t decodes
    value t of EVERY still-active blob with whole-array ops. Blobs are
    processed sorted by length descending so the active set is always a
    prefix — state updates are contiguous slices, not scatters. Exact
    inverse of encode_dod (same arrays as per-blob decode_dod).
    """
    nb = len(blobs)
    if nb == 0:
        return []
    hdr = np.empty((nb, 20), dtype=np.uint8)
    for i, b in enumerate(blobs):
        hdr[i] = np.frombuffer(b[:20], dtype=np.uint8)
    n = hdr[:, 0:4].copy().view(">u4").astype(np.int64).ravel()
    t0 = hdr[:, 4:12].copy().view(">i8").astype(np.int64).ravel()
    d0 = hdr[:, 12:20].copy().view(">i8").astype(np.int64).ravel()

    order = np.argsort(-n, kind="stable")
    n_s, t0_s, d0_s = n[order], t0[order], d0[order]
    words, base = _stream_words([blobs[i] for i in order], 20)

    out_off = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(n_s)])
    out = np.empty(int(out_off[-1]), dtype=np.int64)
    out[out_off[:-1][n_s >= 1]] = t0_s[n_s >= 1]
    two = n_s >= 2
    out[(out_off[:-1] + 1)[two]] = t0_s[two] + d0_s[two]

    # active count per step: blobs sorted desc, so it's a prefix length
    max_n = int(n_s[0]) if nb else 0
    n_asc = n_s[::-1]
    pos = np.zeros(nb, dtype=np.int64)
    d = d0_s.copy()
    prev = t0_s + d0_s
    start = out_off[:-1]
    u64 = np.uint64
    for t in range(2, max_n):
        k = nb - int(np.searchsorted(n_asc, t, side="right"))
        p, b = pos[:k], base[:k]
        win = _win64(words, b, p)
        pref = (win >> u64(59)).astype(np.int64)
        plen = np.select(
            [pref < 16, pref < 24, pref < 28, pref < 30], [1, 2, 3, 4], 5
        )
        vbits = np.select(
            [pref < 16, pref < 24, pref < 28, pref < 30, pref == 30],
            [0, 7, 12, 20, 32],
            64,
        )
        win2 = _win64(words, b, p + plen)
        z = np.where(
            vbits > 0,
            win2 >> ((u64(64) - vbits.astype(np.uint64)) & u64(63)),
            u64(0),
        )
        dod = (z >> u64(1)).astype(np.int64) ^ -(z & u64(1)).astype(np.int64)
        d[:k] += dod
        prev[:k] += d[:k]
        out[start[:k] + t] = prev[:k]
        pos[:k] = p + plen + vbits

    inv = np.empty(nb, dtype=np.int64)
    inv[order] = np.arange(nb)
    return [
        out[out_off[inv[i]] : out_off[inv[i]] + n[i]] for i in range(nb)
    ]


def decode_gorilla_many(blobs: list[bytes]) -> list[np.ndarray]:
    """Vectorized-across-blobs inverse of encode_gorilla — see
    :func:`decode_dod_many` for the lockstep strategy."""
    nb = len(blobs)
    if nb == 0:
        return []
    hdr = np.empty((nb, 12), dtype=np.uint8)
    for i, b in enumerate(blobs):
        hdr[i] = np.frombuffer(b[:12], dtype=np.uint8)
    n = hdr[:, 0:4].copy().view(">u4").astype(np.int64).ravel()
    v0 = hdr[:, 4:12].copy().view(">u8").astype(np.uint64).ravel()

    order = np.argsort(-n, kind="stable")
    n_s, v0_s = n[order], v0[order]
    words, base = _stream_words([blobs[i] for i in order], 12)

    out_off = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(n_s)])
    out = np.empty(int(out_off[-1]), dtype=np.uint64)
    out[out_off[:-1][n_s >= 1]] = v0_s[n_s >= 1]

    max_n = int(n_s[0]) if nb else 0
    n_asc = n_s[::-1]
    pos = np.zeros(nb, dtype=np.int64)
    prev = v0_s.copy()
    start = out_off[:-1]
    u64 = np.uint64
    for t in range(1, max_n):
        k = nb - int(np.searchsorted(n_asc, t, side="right"))
        p, b = pos[:k], base[:k]
        win = _win64(words, b, p)
        ctrl = win >> u64(63) != 0
        hdr12 = (win >> u64(51)) & u64(0xFFF)
        lz = (hdr12 >> u64(6)).astype(np.int64)
        sl = ((hdr12 & u64(63)) + u64(1)).astype(np.int64)
        win2 = _win64(words, b, p + 13)
        sig = win2 >> ((u64(64) - sl.astype(np.uint64)) & u64(63))
        # sl == 64 -> shift 0 (the full window IS the significand)
        shift_back = np.where(ctrl, 64 - lz - sl, 0).astype(np.uint64)
        xor = np.where(ctrl, sig << shift_back, u64(0))
        prev[:k] ^= xor
        out[start[:k] + t] = prev[:k]
        pos[:k] = p + np.where(ctrl, 13 + sl, 1)

    inv = np.empty(nb, dtype=np.int64)
    inv[order] = np.arange(nb)
    return [
        out[out_off[inv[i]] : out_off[inv[i]] + n[i]].view(np.float64)
        for i in range(nb)
    ]


def encode_gorilla(values: np.ndarray) -> bytes:
    """Gorilla-XOR encode a float64 array (NaN-safe: bit patterns kept)."""
    v = np.ascontiguousarray(np.asarray(values, dtype=np.float64)).view(np.uint64)
    n = len(v)
    header = struct.pack(">IQ", n, int(v[0]) if n else 0)
    if n <= 1:
        return header
    x = v[1:] ^ v[:-1]
    nz = x != 0
    lz = np.minimum(_clz64(x), 63)
    tz = _ctz64(x)
    siglen = np.where(nz, 64 - lz - tz, 1).astype(np.int64)
    tz_safe = np.where(nz, tz, 0).astype(np.uint64)
    sig = np.where(nz, x >> tz_safe, np.uint64(0))

    # entries per element: control(1b) | lz(6b) | siglen-1(6b) | sig(siglen)
    m = len(x)
    codes = np.zeros(m * 4, dtype=np.uint64)
    nbits = np.zeros(m * 4, dtype=np.int64)
    codes[0::4] = nz.astype(np.uint64)
    nbits[0::4] = 1
    codes[1::4] = lz.astype(np.uint64)
    nbits[1::4] = np.where(nz, 6, 0)
    codes[2::4] = (siglen - 1).astype(np.uint64)
    nbits[2::4] = np.where(nz, 6, 0)
    codes[3::4] = sig
    nbits[3::4] = np.where(nz, siglen, 0)
    return header + _pack_stream(codes, nbits)


def decode_gorilla(buf: bytes) -> np.ndarray:
    """Inverse of :func:`encode_gorilla` — bit-exact round trip (incl. NaN)."""
    n, v0 = struct.unpack(">IQ", buf[:12])
    if n == 0:
        return np.empty(0, dtype=np.float64)
    vals = [0] * n
    vals[0] = v0
    r = _BitReader(buf[12:])
    prev = v0
    for i in range(1, n):
        if r.read(1):
            hdr = r.read(12)  # 6b lz | 6b siglen-1, fused read
            siglen = (hdr & 63) + 1
            sig = r.read(siglen)
            prev ^= sig << (64 - (hdr >> 6) - siglen)
        vals[i] = prev
    return np.array(vals, dtype=np.uint64).view(np.float64)
