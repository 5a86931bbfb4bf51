"""Chimp float compression — the published successor to Gorilla's XOR
codec (Liakos, Papakonstantinopoulou & Kotidis, "Chimp: Efficient
Lossless Floating Point Compression for Time Series Databases", VLDB
2022; see PAPERS.md). Beyond-reference operator: the Rust reference only
ships Gorilla; Chimp typically compresses real-world doubles 20-50%
smaller because IEEE doubles rarely have the long trailing-zero runs
Gorilla's header layout is optimized for.

Stream layout (this engine's profile — semantics from the paper, layout
documented here; there is no wire-format reference to match):

  [first value: raw 64] then per point a 2-bit flag:
    00                      -> XOR == 0 (repeat previous value)
    01 + lead(3) + sig(6)   -> trailing zeros > 6: payload = sig bits of
                               the XOR with its trailing zeros dropped
                               (trail reconstructed as 64 - lead - sig)
    10                      -> payload (64 - prev_lead) bits, reusing the
                               previous leading-zero count
    11 + lead(3)            -> payload (64 - lead) bits (includes the
                               trailing zeros)
  lead(3) indexes the paper's rounding table {0,8,12,16,18,20,22,24}.

The vectorized encoder emits the conformant always-'11' subset (never
'10') so every chunk of a body builds in one numpy pass — the same
segmented layout as gorilla.encode_values_packed; the decoder reads
all four flags. Lossless for every bit pattern including NaN/Inf/-0.0
(property-tested).
"""

from __future__ import annotations

import numpy as np

from anofox_forecast_spark.compression.gorilla import (
    _BitReader,
    _chunk_heads,
    _pack_points,
    _xor_lead_trail,
)

# paper's leading-zero rounding table (3-bit index)
_LEAD_TABLE = np.array([0, 8, 12, 16, 18, 20, 22, 24], dtype=np.int64)


def encode_values_chimp(values: np.ndarray, starts=None) -> list[bytes]:
    """Vectorized Chimp encoder (always-'11' profile, see module doc): one
    blob per chunk of ``values`` cut at ``starts`` (``None``: one chunk),
    all chunks in one numpy pass."""
    v = np.asarray(values, dtype=np.float64)
    if v.size == 0:
        return [b""]
    starts, first = _chunk_heads(v.size, starts)
    bits = v.view(np.uint64)
    x, nz, lead_true, trail = _xor_lead_trail(bits, first)
    # round lead DOWN onto the table (never overstate leading zeros)
    lead_idx = np.searchsorted(_LEAD_TABLE, np.minimum(lead_true, 24), side="right") - 1
    lead = _LEAD_TABLE[lead_idx]

    center = nz & (trail > 6)          # '01' case
    sig = 64 - lead - trail            # significant bits for the '01' case
    # per point: '00' (2 bits), '01' + lead(3) + sig(6), or '11' + lead(3)
    header = np.where(
        center,
        (np.uint64(0b01) << np.uint64(9))
        | (lead_idx.astype(np.uint64) << np.uint64(6))
        | sig.astype(np.uint64),
        (np.uint64(0b11) << np.uint64(3)) | lead_idx.astype(np.uint64),
    )
    c, xs = center[nz], x[nz]
    return _pack_points(
        bits, first, starts, nz,
        np.where(nz, header, np.uint64(0)), np.where(center, 11, np.where(nz, 5, 2)),
        np.where(c, xs >> trail[nz].astype(np.uint64), xs),
        np.where(c, sig[nz], 64 - lead[nz]),
    )


def decode_values_chimp(blob: bytes, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    r = _BitReader(blob)
    prev = r.read(64)
    out[0] = prev
    lead = 0
    for i in range(1, n):
        flag = r.read(2)
        if flag == 0b00:
            out[i] = prev
            continue
        if flag == 0b01:
            lead = int(_LEAD_TABLE[r.read(3)])
            sig = r.read(6)
            trail = 64 - lead - sig
            x = r.read(sig) << trail
        elif flag == 0b10:
            x = r.read(64 - lead)
        else:  # 0b11
            lead = int(_LEAD_TABLE[r.read(3)])
            x = r.read(64 - lead)
        prev ^= x
        out[i] = prev
    return out.view(np.float64)
