"""Gorilla time-series compression: XOR floats + delta-of-delta timestamps.

From the public Gorilla paper (Pelkonen et al., VLDB 2015 — "Gorilla: A
Fast, Scalable, In-Memory Time Series Database", §4.1) — the reference repo
has no codec; this is a north-rule addition (BASELINE.json north_star).

Timestamp encoding (§4.1.1, adapted to arbitrary first delta):
- header: first timestamp as raw 64 bits, first delta as raw 64 bits
- then per point, D = Δt − Δt_prev:
    D == 0                → '0'
    D ∈ [-63, 64]         → '10'  + 7 bits  (zigzag-free offset encoding)
    D ∈ [-255, 256]       → '110' + 9 bits
    D ∈ [-2047, 2048]     → '1110'+ 12 bits
    else                  → '1111'+ 64 bits raw two's-complement

Value encoding (§4.1.2):
- first value raw 64 bits; then X = bits(v) XOR bits(v_prev):
    X == 0                                  → '0'
    meaningful bits inside previous window  → '10' + meaningful bits
    else → '11' + 5 bits #leading-zeros + 6 bits length + meaningful bits

The Spark layer (``compress_chunks``) packs each (series, chunk) into one
BinaryType blob pair inside the harness's batched ``mapInPandas``. The
harness hands the encoder a whole body of complete series per Arrow batch;
a chunk starts at a series start or where the chunk bucket changes, and the
vectorized encoders build every chunk of the body in one segmented pass:
one segment table over all points, one bit-pack with each chunk padded to a
byte, and the packed buffer sliced per chunk. The bytes are those of
encoding each chunk on its own. ``decompress_chunks``
is narrow: chunk rows are self-contained (header, codec magic, point
count), so it is one ``mapInPandas`` over the chunk frame with no Exchange
and no Sort; each Arrow batch of chunks becomes output frames of about
``maxRecordsPerBatch`` points, so a frame's size does not grow with the
chunk length. The word-level ``_BitReader`` serves both the Gorilla and
the Chimp decoder. Round-trip losslessness is property-tested.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class _BitReader:
    """MSB-first bit reader: one ``int.from_bytes`` over the covering byte
    slice per read. Reading past the last byte raises IndexError, so a
    truncated blob fails instead of decoding to garbage."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.nbits = 8 * len(data)

    def read(self, bits: int) -> int:
        end = self.pos + bits
        if end > self.nbits:
            raise IndexError(f"bit stream exhausted: read to bit {end} of {self.nbits}")
        lo, hi = self.pos >> 3, (end + 7) >> 3
        self.pos = end
        return (int.from_bytes(self.data[lo:hi], "big") >> ((hi << 3) - end)) & ((1 << bits) - 1)


_TS_RANGES = ((-63, 64, 7, 0b10, 2), (-255, 256, 9, 0b110, 3), (-2047, 2048, 12, 0b1110, 4))


def encode_timestamps(ts: np.ndarray) -> bytes:
    """Delta-of-delta pack int64 timestamps (any unit; callers use seconds)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = ts.size
    w = _BitWriter()
    if n == 0:
        return b""
    w.write(int(ts[0]) & ((1 << 64) - 1), 64)
    if n == 1:
        return w.getvalue()
    first_delta = int(ts[1]) - int(ts[0])
    w.write(first_delta & ((1 << 64) - 1), 64)
    prev_delta = first_delta
    for i in range(2, n):
        delta = int(ts[i]) - int(ts[i - 1])
        d = delta - prev_delta
        prev_delta = delta
        if d == 0:
            w.write(0, 1)
            continue
        for lo, hi, bits, ctrl, ctrl_bits in _TS_RANGES:
            if lo <= d <= hi:
                w.write(ctrl, ctrl_bits)
                w.write(d - lo, bits)  # offset encoding, always non-negative
                break
        else:
            w.write(0b1111, 4)
            w.write(d & ((1 << 64) - 1), 64)
    return w.getvalue()


def decode_timestamps(blob: bytes, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    r = _BitReader(blob)

    def s64(u: int) -> int:
        return u - (1 << 64) if u >= (1 << 63) else u

    out[0] = s64(r.read(64))
    if n == 1:
        return out
    prev_delta = s64(r.read(64))
    out[1] = out[0] + prev_delta
    for i in range(2, n):
        if r.read(1) == 0:
            d = 0
        else:
            if r.read(1) == 0:
                lo, bits = -63, 7
            elif r.read(1) == 0:
                lo, bits = -255, 9
            elif r.read(1) == 0:
                lo, bits = -2047, 12
            else:
                d = s64(r.read(64))
                prev_delta += d
                out[i] = out[i - 1] + prev_delta
                continue
            d = r.read(bits) + lo
        prev_delta += d
        out[i] = out[i - 1] + prev_delta
    return out


_CLZ8 = np.array([8] + [7] + [6] * 2 + [5] * 4 + [4] * 8 + [3] * 16
                 + [2] * 32 + [1] * 64 + [0] * 128, dtype=np.int64)
_CTZ8 = np.zeros(256, dtype=np.int64)
_CTZ8[0] = 8
for _v in range(1, 256):
    _CTZ8[_v] = (_v & -_v).bit_length() - 1


def _chunk_heads(n: int, starts) -> tuple[np.ndarray, np.ndarray]:
    """(chunk start offsets, per-point "first point of its chunk" mask) for
    ``n`` points cut at ``starts`` (ascending, beginning with 0); ``None``
    is one chunk."""
    starts = np.zeros(1, dtype=np.int64) if starts is None else np.asarray(starts, dtype=np.int64)
    first = np.zeros(n, dtype=bool)
    first[starts] = True
    return starts, first


def _pack_segments(vals: np.ndarray, widths: np.ndarray, firsts: np.ndarray) -> list[bytes]:
    """Bit-pack variable-width big-endian segments, one blob per chunk.

    vals: uint64 segment values (only the low ``width`` bits used);
    widths: per-segment bit widths (1..64); firsts: index of each chunk's
    first segment (ascending, beginning with 0). Each chunk is MSB-first
    and padded with zero bits to a byte boundary — the layout _BitWriter
    emits — but all chunks go through one repeat/packbits pass and the
    buffer is sliced per chunk.
    """
    chunk_bits = np.add.reduceat(widths, firsts)
    chunk_bytes = (chunk_bits + 7) >> 3
    pad = 8 * chunk_bytes - chunk_bits
    seg_idx = np.repeat(np.arange(vals.size), widths)
    seg_end = np.cumsum(widths)
    # bit index within its segment, counted from the segment's last bit
    shift = (seg_end[seg_idx] - 1 - np.arange(seg_idx.size)).astype(np.uint64)
    stream = np.zeros(8 * int(chunk_bytes.sum()), dtype=np.uint8)
    dest = np.arange(seg_idx.size) + np.repeat(np.cumsum(pad) - pad, chunk_bits)
    stream[dest] = (vals[seg_idx] >> shift) & np.uint64(1)
    buf = np.packbits(stream).tobytes()
    ends = np.cumsum(chunk_bytes).tolist()
    return [buf[a:b] for a, b in zip([0, *ends[:-1]], ends)]


def _xor_lead_trail(bits: np.ndarray, first: np.ndarray):
    """XOR of each point with its predecessor (0 at a chunk's first point),
    the nonzero mask, and each XOR's leading/trailing zero-bit counts from
    byte lookup tables (meaningless where the XOR is 0)."""
    x = np.zeros(bits.size, dtype=np.uint64)
    np.bitwise_xor(bits[1:], bits[:-1], out=x[1:])
    x[first] = 0
    nz = x != 0
    xb = x.view(np.uint8).reshape(-1, 8)
    if np.little_endian:
        xb = xb[:, ::-1]  # big-endian byte order for lead/trail scan
    nonzero_byte = xb != 0
    first_nz = np.argmax(nonzero_byte, axis=1)
    last_nz = 7 - np.argmax(nonzero_byte[:, ::-1], axis=1)
    rows = np.arange(x.size)
    lead = 8 * first_nz + _CLZ8[xb[rows, first_nz]]
    trail = 8 * (7 - last_nz) + _CTZ8[xb[rows, last_nz]]
    return x, nz, lead, trail


def _pack_points(bits, first, starts, nz, head, head_w, payload, pay_w) -> list[bytes]:
    """Lay out one segment per point (the raw 64-bit value at a chunk's
    first point, else ``head``) plus a payload segment where ``nz``, in
    point order, and pack one blob per chunk."""
    counts = np.where(nz, 2, 1)
    seg_at = np.cumsum(counts) - counts
    seg_vals = np.empty(int(counts.sum()), dtype=np.uint64)
    seg_w = np.empty(seg_vals.size, dtype=np.int64)
    seg_vals[seg_at] = np.where(first, bits, head)
    seg_w[seg_at] = np.where(first, 64, head_w)
    seg_vals[seg_at[nz] + 1] = payload
    seg_w[seg_at[nz] + 1] = pay_w
    return _pack_segments(seg_vals, seg_w, seg_at[starts])


def encode_values_packed(values: np.ndarray, starts=None) -> list[bytes]:
    """Vectorized Gorilla XOR encoder (always-new-window profile — a
    conformant subset the streaming decoder reads unchanged): one blob per
    chunk of ``values`` cut at ``starts`` (``None``: one chunk), all chunks
    in one numpy pass.

    This is the encoder ``compress_chunks`` uses. Blobs are ~3-8% larger
    than the window-reuse loop encoder ('11' headers always carry lead/len).
    """
    v = np.asarray(values, dtype=np.float64)
    if v.size == 0:
        return [b""]
    starts, first = _chunk_heads(v.size, starts)
    bits = v.view(np.uint64)
    x, nz, lead, trail = _xor_lead_trail(bits, first)
    lead = np.minimum(lead, 31)          # 5-bit field cap (paper convention)
    sig = 64 - lead - trail
    # per point: '0' (1 bit), or '11' + lead(5) + sig-1(6) then sig payload bits
    header = ((np.uint64(0b11) << np.uint64(11))
              | (lead.astype(np.uint64) << np.uint64(6))
              | (sig - 1).astype(np.uint64))
    return _pack_points(
        bits, first, starts, nz,
        np.where(nz, header, np.uint64(0)), np.where(nz, 13, 1),
        x[nz] >> trail[nz].astype(np.uint64), sig[nz],
    )


def encode_values(values: np.ndarray) -> bytes:
    """Gorilla XOR float compression (lossless, NaN-preserving) — python
    bit-writer with window reuse (~3 µs/pt). Reference implementation for
    tests; ``compress_chunks`` writes with the vectorized
    ``encode_values_packed``, whose blobs this decoder reads unchanged."""
    v = np.asarray(values, dtype=np.float64)
    bits = v.view(np.uint64)
    n = v.size
    w = _BitWriter()
    if n == 0:
        return b""
    w.write(int(bits[0]), 64)
    prev = int(bits[0])
    prev_lead, prev_sig = 65, 0  # 65 = "no previous window"
    for i in range(1, n):
        cur = int(bits[i])
        x = cur ^ prev
        prev = cur
        if x == 0:
            w.write(0, 1)
            continue
        lead = 64 - x.bit_length()
        trail = (x & -x).bit_length() - 1
        if lead > 31:
            lead = 31  # 5-bit field cap (paper convention)
        sig = 64 - lead - trail
        if prev_lead <= 64 and lead >= prev_lead and (64 - prev_lead - prev_sig) <= trail:
            # fits in previous window → '10' + prev_sig bits
            w.write(0b10, 2)
            w.write(x >> (64 - prev_lead - prev_sig), prev_sig)
        else:
            w.write(0b11, 2)
            w.write(lead, 5)
            w.write(sig - 1, 6)  # store length-1 so 64 fits in 6 bits
            w.write(x >> trail, sig)
            prev_lead, prev_sig = lead, sig
    return w.getvalue()


def decode_values(blob: bytes, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    r = _BitReader(blob)
    prev = r.read(64)
    out[0] = prev
    lead, sig = 0, 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 1:
            lead = r.read(5)
            sig = r.read(6) + 1
        x = r.read(sig) << (64 - lead - sig)
        prev ^= x
        out[i] = prev
    return out.view(np.float64)


def encode_timestamps_packed(ts: np.ndarray, starts=None) -> list[bytes]:
    """Vectorized delta-of-delta encoder: per chunk of ``ts`` cut at
    ``starts`` (``None``: one chunk), the same bitstream as
    ``encode_timestamps`` (the scalar loop), built with np.select over the
    range table and one segment-pack pass for all chunks. On a regular grid
    every delta-of-delta is 0, so a chunk's payload collapses to (n−2) zero
    bits."""
    ts = np.asarray(ts, dtype=np.int64)
    if ts.size == 0:
        return [b""]
    starts, first = _chunk_heads(ts.size, starts)
    second = np.zeros(ts.size, dtype=bool)
    second[1:] = first[:-1] & ~first[1:]
    deltas = np.zeros(ts.size, dtype=np.int64)
    np.subtract(ts[1:], ts[:-1], out=deltas[1:])
    d = np.zeros(ts.size, dtype=np.int64)  # delta-of-delta from a chunk's third point
    np.subtract(deltas[1:], deltas[:-1], out=d[1:])
    # a chunk's first two points carry the raw timestamp and the raw delta
    raw = first | second
    zero = (d == 0) | raw
    conds = [zero] + [(lo <= d) & (d <= hi) for lo, hi, *_ in _TS_RANGES]
    # control values/widths per range; else-branch = '1111' + 64 raw
    ctrl_vals = np.select(conds, [0, *(c for *_, c, _ in _TS_RANGES)], 0b1111)
    ctrl_w = np.select(conds, [1, *(cb for *_, cb in _TS_RANGES)], 4)
    has_pay = ~zero
    dp = d[has_pay]
    pay_conds = [(lo <= dp) & (dp <= hi) for lo, hi, *_ in _TS_RANGES]
    pay_vals = np.select(pay_conds, [(dp - lo).view(np.uint64) for lo, *_ in _TS_RANGES],
                         dp.view(np.uint64))
    pay_w = np.select(pay_conds, [bits for *_, bits, _, _ in _TS_RANGES], 64)
    return _pack_points(
        np.where(first, ts, deltas).view(np.uint64), raw, starts, has_pay,
        ctrl_vals.astype(np.uint64), ctrl_w, pay_vals, pay_w,
    )


# ------------------------------------------------------------- Spark layer

#: on-disk chunk-blob header: magic + format version + timestamp unit.
#: r2 blobs had no header and µs timestamps were a silent format break from
#: r1's seconds (ADVICE r2); the header makes the unit self-describing so a
#: persisted blob can never decode under the wrong epoch scale again.
_BLOB_MAGIC = b"GORv"
#: value blobs written with codec="chimp" carry this magic instead; the
#: decoder dispatches on it, so mixed-codec chunk tables decode fine
_CHIMP_MAGIC = b"CHMv"
_UNIT_CODES = {"us": b"u", "s": b"s"}
_UNIT_NAMES = {v: k for k, v in _UNIT_CODES.items()}


def _wrap_blob(raw: bytes, unit: str = "us") -> bytes:
    return _BLOB_MAGIC + _UNIT_CODES[unit] + raw


def _unwrap_blob(blob: bytes) -> tuple[bytes, str]:
    """Strip and validate the header; reject pre-header (≤r2) blobs loudly
    rather than decoding them to epoch-1970 garbage. Returns (raw, unit);
    for codec dispatch use :func:`_blob_codec` on the intact blob first."""
    if len(blob) >= 5 and blob[:4] in (_BLOB_MAGIC, _CHIMP_MAGIC):
        unit = _UNIT_NAMES.get(blob[4:5])
        if unit is None:
            raise ValueError(f"unknown gorilla blob unit byte {blob[4:5]!r}")
        return blob[5:], unit
    raise ValueError(
        "gorilla blob lacks the GORv header: pre-r3 blobs are incompatible "
        "(r2 wrote µs, r1 wrote seconds, neither tagged) — re-compress"
    )


def _blob_codec(blob: bytes) -> str:
    return "chimp" if blob[:4] == _CHIMP_MAGIC else "gorilla"


def compress_chunks(
    df,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    chunk_freq: str = "7d",
    codec: str = "gorilla",
):
    """Per-(series, chunk) compressed blobs: one row per chunk.

    Output: (keys…, chunk_start: timestamp, n_points: int,
    ts_blob: binary, val_blob: binary). Chunking bounds both blob size and
    UDF memory; chunk_start comes from the same epoch-floor bucketing as the
    rollup tiers, so chunks align with tier partitions.

    ``codec``: "gorilla" (XOR, ref parity) or "chimp" (VLDB'22 successor,
    compression/chimp.py — typically ~8-10% smaller value blobs on count
    series, measured in tests). Value blobs are tagged (GORv/CHMv) so
    ``decompress_chunks`` dispatches per blob and mixed tables decode.
    Timestamps use delta-of-delta in both.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        StructField,
        StructType,
        TimestampType,
    )

    from anofox_forecast_spark.rollup.tiers import bucket_col

    keys_l = list(keys)
    key_fields = [df.schema[k] for k in keys_l]
    out_schema = StructType(
        [*key_fields,
         StructField("chunk_start", TimestampType()),
         StructField("n_points", IntegerType()),
         StructField("ts_blob", BinaryType()),
         StructField("val_blob", BinaryType())]
    )

    if codec == "chimp":
        from anofox_forecast_spark.compression.chimp import encode_values_chimp

        enc_values = encode_values_chimp
        val_magic = _CHIMP_MAGIC
    elif codec == "gorilla":
        enc_values = encode_values_packed
        val_magic = _BLOB_MAGIC
    else:
        raise ValueError(f"unknown codec {codec!r} (gorilla|chimp)")

    chunked = df.withColumn("__chunk", bucket_col(ts_col, chunk_freq))

    def encode_body(body: pd.DataFrame, starts: np.ndarray, out: dict) -> None:
        # a chunk starts with a series or where the chunk bucket changes;
        # every chunk of the body is encoded in one segmented pass
        chunks = body["__chunk"].to_numpy()
        first = np.zeros(len(body), dtype=bool)
        first[starts] = True
        first[1:] |= chunks[1:] != chunks[:-1]
        heads = np.flatnonzero(first)
        # native microsecond resolution — sub-second timestamps round-trip
        # losslessly (r1 silently truncated to whole seconds)
        ts = body[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
        vals = body[value_col].to_numpy(dtype=np.float64)
        for k in keys_l:
            out[k].append(body[k].to_numpy()[heads])
        out["chunk_start"].append(chunks[heads])
        out["n_points"].append(np.diff(heads, append=len(body)).astype(np.int32))
        out["ts_blob"].append([_wrap_blob(b) for b in encode_timestamps_packed(ts, heads)])
        prefix = val_magic + _UNIT_CODES["us"]
        out["val_blob"].append([prefix + b for b in enc_values(vals, heads)])

    from anofox_forecast_spark.models.harness import batched_series_apply

    return batched_series_apply(chunked, keys_l, ts_col, encode_body, out_schema)


def _decode_chunk(ts_blob: bytes, val_blob: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
    """One chunk row → (µs timestamps, values). Validates both headers and
    dispatches the value codec on the blob's own magic."""
    ts_raw, unit = _unwrap_blob(ts_blob)
    val_raw, _ = _unwrap_blob(val_blob)
    ts = decode_timestamps(ts_raw, n)
    if unit == "s":
        ts = ts * 1_000_000
    if _blob_codec(val_blob) == "chimp":
        from anofox_forecast_spark.compression.chimp import decode_values_chimp

        return ts, decode_values_chimp(val_raw, n)
    return ts, decode_values(val_raw, n)


def _decode_batches(batches, keys_l: list[str], cap: int):
    """Chunk-row frames → point frames. Rows are cut where the running
    point count passes a multiple of ``cap`` (no cut if ``cap`` <= 0), so an
    output frame holds fewer than ``cap`` points plus one chunk, however
    long the chunks are."""
    for pdf in batches:
        if not len(pdf):
            continue
        n = pdf["n_points"].to_numpy(dtype=np.int64)
        cuts = np.flatnonzero(np.diff((np.cumsum(n) - n) // cap)) + 1 if cap > 0 else []
        for lo, hi in zip([0, *cuts], [*cuts, len(pdf)]):
            part = pdf.iloc[lo:hi]
            ts, vals = zip(*(
                _decode_chunk(bytes(tb), bytes(vb), int(k))
                for tb, vb, k in zip(part["ts_blob"], part["val_blob"], n[lo:hi])
            ))
            rows = np.repeat(np.arange(hi - lo), n[lo:hi])
            out = {k: part[k].iloc[rows].reset_index(drop=True) for k in keys_l}
            out["ts"] = np.concatenate(ts).astype("datetime64[us]")
            out["value"] = np.concatenate(vals)
            yield pd.DataFrame(out)


def decompress_chunks(df, keys: Sequence[str]):
    """Inverse of ``compress_chunks``: explode blobs back to points.

    Output: (keys…, ts: timestamp, value: double).

    Every chunk row decodes on its own, so this is one narrow
    ``mapInPandas`` over the chunk frame — no Exchange, no Sort. Each Arrow
    batch of chunk rows becomes output frames of about
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` points: keys repeat by
    row index, timestamps and values concatenate across the chunks.
    """
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
        TimestampType,
    )

    keys_l = list(keys)
    key_fields = [df.schema[k] for k in keys_l]
    out_schema = StructType(
        [*key_fields,
         StructField("ts", TimestampType()),
         StructField("value", DoubleType())]
    )

    cap = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def decode(batches):
        return _decode_batches(batches, keys_l, cap)

    return df.select(*keys_l, "n_points", "ts_blob", "val_blob").mapInPandas(
        decode, schema=out_schema)
