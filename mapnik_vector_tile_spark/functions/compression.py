"""Compressed tile I/O (S7) — src/vector_tile_compression.hpp:18-72,
.ipp:15-89: magic-byte sniffing for zlib/gzip, inflate either, deflate
to zlib (or gzip on request). One call per tile payload, never per-row.
"""

from __future__ import annotations

import gzip
import struct
import zlib


def is_zlib_compressed(data: bytes) -> bool:
    return len(data) > 1 and data[0] == 0x78 and data[1] in (0x01, 0x5E, 0x9C, 0xDA)


def is_gzip_compressed(data: bytes) -> bool:
    return len(data) > 1 and data[0] == 0x1F and data[1] == 0x8B


# Most bytes one tile may inflate to. A hostile row (a zlib bomb) fails
# here instead of growing a Python worker without bound. The largest tile
# the engine's own benchmarks read inflates to ~245 MB (bench.py's
# 3M-feature hot_tile_sf1 anchor).
INFLATE_CAP = 1 << 29
# deflate's densest block (a 258-byte match per 2 bits) expands 1032:1,
# so an input this much smaller than the cap cannot pass it
_DEFLATE_MAX_RATIO = 1032


def _inflate(data: bytes, wbits: int, cap: int) -> bytes:
    """Inflate a zlib (wbits 15) or gzip (wbits 31, every member) stream
    to at most ``cap`` bytes."""
    out: list[bytes] = []
    n = 0
    while True:
        d = zlib.decompressobj(wbits)
        chunk = d.decompress(data, cap - n + 1)
        n += len(chunk)
        if n > cap:
            raise ValueError(f"tile inflates past the {cap}-byte inflate cap")
        if not d.eof:
            raise zlib.error("incomplete or truncated stream")
        out.append(chunk)
        # gzip.decompress' rule: zero padding may follow the last member
        data = d.unused_data.lstrip(b"\x00") if wbits == 31 else b""
        if not data:
            return b"".join(out)


def decompress(data: bytes) -> bytes:
    """Inflate a zlib or gzip tile (or pass a raw one through), raising
    ValueError past INFLATE_CAP output bytes."""
    if is_gzip_compressed(data):
        return _inflate(data, 31, INFLATE_CAP)
    if is_zlib_compressed(data):
        if len(data) * _DEFLATE_MAX_RATIO <= INFLATE_CAP:
            return zlib.decompress(data)
        return _inflate(data, 15, INFLATE_CAP)
    return data


_ADLER_BASE = 65521


def adler32_combine(ad1: int, ad2: int, len2: int) -> int:
    """zlib's adler32_combine: checksum of A+B from adler32(A),
    adler32(B), len(B) — lets independently-checksummed segments form
    one valid zlib stream without re-reading the bytes (zlib_join)."""
    rem = len2 % _ADLER_BASE
    sum1 = ad1 & 0xFFFF
    sum2 = (rem * sum1) % _ADLER_BASE
    sum1 += (ad2 & 0xFFFF) + _ADLER_BASE - 1
    sum2 += ((ad1 >> 16) & 0xFFFF) + ((ad2 >> 16) & 0xFFFF) + _ADLER_BASE - rem
    if sum1 >= _ADLER_BASE:
        sum1 -= _ADLER_BASE
    if sum1 >= _ADLER_BASE:
        sum1 -= _ADLER_BASE
    if sum2 >= 2 * _ADLER_BASE:
        sum2 -= 2 * _ADLER_BASE
    if sum2 >= _ADLER_BASE:
        sum2 -= _ADLER_BASE
    return sum1 | (sum2 << 16)


def deflate_segment(data: bytes, level: int = 6) -> bytes:
    """Raw-deflate ``data`` as a NON-final segment (Z_FULL_FLUSH): the
    output byte-aligns on a block boundary with the dictionary reset, so
    independently-produced segments concatenate into one valid deflate
    stream (terminated by deflate_stream_tail)."""
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    return co.compress(data) + co.flush(zlib.Z_FULL_FLUSH)


def deflate_stream_tail() -> bytes:
    """The final (BFINAL=1) empty block closing a segmented stream."""
    co = zlib.compressobj(1, zlib.DEFLATED, -15)
    return co.compress(b"") + co.flush(zlib.Z_FINISH)


def deflate_piece(data: bytes, level: int = 6) -> tuple[bytes, int, int]:
    """One piece of a segmented zlib stream: (deflate_segment(data),
    adler32(data), len(data)) — what zlib_join needs of it, so the
    uncompressed bytes can be dropped right away."""
    return deflate_segment(data, level), zlib.adler32(data), len(data)


def zlib_join(pieces) -> bytes:
    """One valid zlib stream from deflate_piece outputs, in order: the
    header, the segments, the final empty block and the payload's adler32
    combined from the pieces' checksums (a hot tile's segments,
    operators/encode.py)."""
    out = [b"\x78\x9c"]
    ad = 1  # adler32 of no bytes
    for seg, adl, n in pieces:
        out.append(seg)
        ad = adler32_combine(ad, adl, n)
    out.append(deflate_stream_tail())
    out.append(struct.pack(">I", ad))
    return b"".join(out)


def compress(data: bytes, level: int = 6, use_gzip: bool = False) -> bytes:
    if use_gzip:
        return gzip.compress(data, compresslevel=level, mtime=0)
    if len(data) <= 2048:
        # tiny payloads (the typical per-tile pbf): zlib.compress spends
        # ~40us per call allocating the default memLevel-8 hash state —
        # measured at 54% of the whole 695k-tile encode kernel. memLevel
        # 2 allocates a fraction of that and sets up ~4x faster. The
        # contract is decoded equality, not byte identity with
        # zlib.compress: zlib.decompress returns the input, and the
        # stream keeps the 0x78 (wbits-15) header the sniffers (ours and
        # the reference's) key on (test_compress_contract).
        co = zlib.compressobj(level, zlib.DEFLATED, 15, 2)
        return co.compress(data) + co.flush()
    return zlib.compress(data, level)
