"""Compression round-trips (test/unit/compression/compression.cpp:6-460
semantics) + tile I/O sniffing."""

from __future__ import annotations

import gzip

import numpy as np
import pytest

from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import pbf


@pytest.mark.parametrize("payload", [b"", b"x", b"hello world" * 100, bytes(range(256)) * 50])
def test_zlib_roundtrip_and_sniff(payload):
    z = Z.compress(payload)
    assert Z.is_zlib_compressed(z) and not Z.is_gzip_compressed(z)
    assert Z.decompress(z) == payload


@pytest.mark.parametrize("size", [0, 1, 2047, 2048, 2049, 4096])
@pytest.mark.parametrize("kind", ["random", "repetitive"])
def test_compress_contract(size, kind):
    """compress's contract on both sides of its 2 KB memLevel switch:
    zlib.decompress gives the input back, and the stream starts with
    the 0x78 zlib header byte."""
    import zlib

    if kind == "random":
        x = np.random.default_rng(size).integers(0, 256, size=size, dtype=np.uint8).tobytes()
    else:
        x = (b"feature-tag-" * (size // 12 + 1))[:size]
    z = Z.compress(x)
    assert zlib.decompress(z) == x
    assert z[0] == 0x78


@pytest.mark.parametrize("payload", [b"", b"tile data" * 123])
def test_gzip_roundtrip_and_sniff(payload):
    g = Z.compress(payload, use_gzip=True)
    assert Z.is_gzip_compressed(g) and not Z.is_zlib_compressed(g)
    assert Z.decompress(g) == payload


def test_uncompressed_passthrough():
    raw = pbf.encode_tile([pbf.encode_layer("l", [], ["k"], [], version=2)])
    assert Z.decompress(raw) == raw  # merge_from_compressed_buffer sniff path


def test_compression_levels_all_decode():
    payload = b"abcdef" * 1000
    for level in range(1, 10):
        assert Z.decompress(Z.compress(payload, level=level)) == payload


def test_varint_stream_truncation_detected():
    buf = bytearray()
    pbf.write_varint(buf, 300)
    with pytest.raises(ValueError):
        pbf.decode_varints_vec(bytes(buf[:-1]) + b"\x80")  # ends mid-varint


def test_varint_matrix_roundtrip_random():
    rng = np.random.default_rng(9)
    vals = rng.integers(0, 2**62, 5000, dtype=np.int64).astype(np.uint64)
    m, l = pbf.varint_matrix(vals)
    flat = m[np.arange(m.shape[1])[None, :] < l[:, None]].tobytes()
    back = pbf.decode_varints_vec(flat)
    np.testing.assert_array_equal(back, vals)


# --- batched layer-header parse (pbf.parse_layers_batch) --------------------

def test_parse_layers_batch_matrix():
    import numpy as np

    from mapnik_vector_tile_spark.functions import pbf

    # packed layout (extent/version BEFORE features)
    import mapnik_vector_tile_spark.functions.commands as Cmd
    zz = Cmd.zigzag32(np.array([5, 7], dtype=np.int64))
    blob = pbf.encode_point_features_packed(
        np.array([[0, 0]]), zz.reshape(1, 2), None
    )
    packed = pbf.encode_layer_packed(
        "pk", blob, ["k"], [pbf.encode_value("v")], extent=512, version=2
    )
    # generic layout (extent/version AFTER features)
    feat = pbf.encode_feature(1, [0, 0], 1, [9, 2, 2])
    generic = pbf.encode_layer("gn", [feat], ["k"], [pbf.encode_value(3)], version=1)
    # value fields BEFORE keys (reordered but valid protobuf)
    buf = bytearray()
    pbf.add_len_field(buf, 1, b"re")
    pbf.add_len_field(buf, 4, pbf.encode_value("first"))
    pbf.add_len_field(buf, 3, b"kk")
    pbf.add_varint_field(buf, 5, 4096)
    pbf.add_varint_field(buf, 15, 2)
    pbf.add_len_field(buf, 2, feat)
    reordered = bytes(buf)

    meta = pbf.parse_layers_batch([packed, generic, reordered])
    assert list(meta["name"]) == ["pk", "gn", "re"]
    assert list(meta["version"]) == [2, 1, 2]
    assert list(meta["extent"]) == [512, 4096, 4096]
    # the GENERIC layout (extent/version AFTER features) is not trusted
    # by the early-stopping walk — it routes to the per-layer fallback
    assert list(meta["ok"]) == [True, False, True]
    # keys/values attribute to the right layers in order
    assert list(meta["keys"][meta["key_layer"] == 0]) == ["k"]
    assert list(meta["keys"][meta["key_layer"] == 2]) == ["kk"]
    assert list(meta["values"][meta["val_layer"] == 0]) == ["v"]
    assert list(meta["values"][meta["val_layer"] == 1]) == [3]
    assert list(meta["values"][meta["val_layer"] == 2]) == ["first"]
    # feature regions: packed layer's region is the layer suffix
    assert meta["feat_start"][0] >= 0
    # malformed layer drops to fallback (ok=False), others unaffected
    meta2 = pbf.parse_layers_batch([packed, b"\xff\xff\xff", reordered])
    assert meta2["ok"][0] and not meta2["ok"][1] and meta2["ok"][2]


def test_parse_layers_batch_long_header_hop():
    """A layer with a long value run outlasts the masked walk's step
    budget and finishes on the header hop; its records merge with the
    masked walk's in layer order."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import commands as Cmd
    from mapnik_vector_tile_spark.functions import pbf

    n = 300
    zz = Cmd.zigzag32(np.arange(2 * n, dtype=np.int64).reshape(n, 2))
    tags = np.stack([np.zeros(n, dtype=np.int64), np.arange(n, dtype=np.int64)], axis=1)
    blob = pbf.encode_point_features_packed(tags, zz.astype(np.uint32), None)
    big_layer = pbf.encode_layer_packed(
        "big", blob, ["k"], [pbf.encode_value(f"v{i}") for i in range(n)]
    )
    small = pbf.encode_layer_packed(
        "small",
        pbf.encode_point_features_packed(
            np.array([[0, 0]]), Cmd.zigzag32(np.array([1, 1], dtype=np.int64)).reshape(1, 2), None
        ),
        ["k"], [pbf.encode_value("s")],
    )
    meta = pbf.parse_layers_batch([big_layer, small])
    assert meta["ok"].all()
    assert list(meta["name"]) == ["big", "small"]
    vals_big = list(meta["values"][meta["val_layer"] == 0])
    assert vals_big == [f"v{i}" for i in range(n)]
    assert list(meta["values"][meta["val_layer"] == 1]) == ["s"]
    assert meta["feat_start"][0] >= 0 and meta["feat_start"][1] >= 0


def test_parse_layers_batch_dense_header_hop():
    """Layers whose header frame chain is longer than the masked walk's
    step budget (dense tiles, bench/readme.md:24-30 shape) finish on the
    header hop and must parse IDENTICALLY to the strict decode_layer —
    names, keys, values, extent, version, and a feature region that is
    exactly decode_layer's Feature frames."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import commands as Cmd
    from mapnik_vector_tile_spark.functions import pbf as P

    rng = np.random.default_rng(3)
    layers = []
    for li, n in enumerate([1, 5, 40, 200, 1000, 6800]):
        pxy = rng.integers(0, 4096, size=(n, 2)).astype(np.int64)
        zz = np.column_stack([Cmd.zigzag32(pxy[:, 0]), Cmd.zigzag32(pxy[:, 1])])
        tags = np.empty((n, 6), dtype=np.int64)
        tags[:, 0] = 0
        tags[:, 1] = np.arange(n) * 2
        tags[:, 2] = 1
        tags[:, 3] = np.arange(n) * 2 + 1
        tags[:, 4] = 2
        tags[:, 5] = 2 * n
        blob = P.encode_point_features_packed(tags, zz, None)
        values = []
        for i in range(n):
            values.append(P.encode_value(f"im-{li}-{i:07d}"))
            # adversarial captions: payload bytes that mimic frame tags
            # (x, (, quotes, control chars) must never be read as frames
            values.append(P.encode_value(f'x(x" tile {li} caption\x12\x1a\x22 {i} xx(('))
        values.append(P.encode_value("png"))
        layers.append(
            P.encode_layer_packed(f"layer{li}", blob, ["image_id", "caption", "fmt"], values)
        )
    meta = P.parse_layers_batch(layers)
    assert meta["ok"].all(), meta["ok"]
    for li, blob in enumerate(layers):
        ref = P.decode_layer(blob)
        region = bytearray()
        for f in ref["features"]:
            P.add_len_field(region, 2, f)
        assert meta["name"][li] == ref["name"]
        assert meta["version"][li] == ref["version"]
        assert meta["extent"][li] == ref["extent"]
        got_keys = list(meta["keys"][meta["key_layer"] == li])
        assert got_keys == ref["keys"]
        got_vals = list(meta["values"][meta["val_layer"] == li])
        assert got_vals == ref["values"]
        fs, fe = meta["feat_start"][li], meta["feat_end"][li]
        got_region = meta["buf"][fs:fe].tobytes()
        assert got_region == region


def test_adler32_combine_matches_zlib():
    import random
    import zlib

    from mapnik_vector_tile_spark.functions import compression as Z

    rng = random.Random(11)
    for _ in range(100):
        a = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 3000)))
        b = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 70000)))
        got = Z.adler32_combine(zlib.adler32(a), zlib.adler32(b), len(b))
        assert got == zlib.adler32(a + b)


def test_segmented_deflate_stream_roundtrip():
    """The salted-encode assemble's framing: independently-deflated
    segments + combined adler32 form one valid zlib stream that the
    standard inflater (and our sniffer) accepts."""
    import random
    import struct
    import zlib

    from mapnik_vector_tile_spark.functions import compression as Z

    rng = random.Random(5)
    for _ in range(20):
        parts = [
            bytes(rng.randrange(256) for _ in range(rng.randrange(0, 100000)))
            for _ in range(rng.randrange(1, 6))
        ]
        stream = (
            b"\x78\x9c"
            + b"".join(Z.deflate_segment(p, level=rng.choice([1, 6])) for p in parts)
            + Z.deflate_stream_tail()
        )
        ad = 1
        for p in parts:
            ad = Z.adler32_combine(ad, zlib.adler32(p), len(p))
        stream += struct.pack(">I", ad)
        assert Z.is_zlib_compressed(stream)
        assert zlib.decompress(stream) == b"".join(parts)
        assert Z.decompress(stream) == b"".join(parts)


def _inflate_exactly(n: int, gz: bool = False, members: int = 1) -> tuple[bytes, bytes]:
    """(payload, stream): `members` gzip members (or one zlib stream) that
    inflate to n bytes in all."""
    import zlib

    payload = (b"feature-tag-" * (n // 12 + 1))[:n]
    if not gz:
        return payload, zlib.compress(payload, 9)
    cut = np.linspace(0, n, members + 1).astype(int)
    stream = b"".join(
        gzip.compress(payload[a:b], mtime=0) for a, b in zip(cut, cut[1:]))
    return payload, stream


@pytest.mark.parametrize("gz,members", [(False, 1), (True, 1), (True, 3)])
def test_inflate_cap_boundary(monkeypatch, gz, members):
    """A stream that inflates to exactly INFLATE_CAP bytes decodes (gzip
    members joined); one byte more raises a ValueError naming the cap.
    The cap is lowered below the zlib fast-path ratio so both lanes run."""
    cap = 1 << 16
    monkeypatch.setattr(Z, "INFLATE_CAP", cap)
    payload, stream = _inflate_exactly(cap, gz, members)
    assert len(stream) * 1032 > cap  # the capped inflate, not the fast path
    assert Z.decompress(stream) == payload
    _, over = _inflate_exactly(cap + 1, gz, members)
    with pytest.raises(ValueError, match=f"{cap}-byte inflate cap"):
        Z.decompress(over)
    # far under the ratio: plain zlib.decompress (no cap check needed)
    small, s = _inflate_exactly(100, gz)
    assert Z.decompress(s) == small


def test_gzip_padding_and_truncation_match_gzip_module():
    """The capped gzip inflate keeps gzip.decompress' rules: members
    join, trailing zero padding is ignored, and a truncated or corrupt
    stream raises instead of returning a prefix."""
    import zlib

    payload, stream = _inflate_exactly(5000, gz=True, members=2)
    assert Z.decompress(stream + b"\x00" * 7) == gzip.decompress(stream + b"\x00" * 7) == payload
    for bad in (stream[:-3], stream[:40]):
        with pytest.raises((zlib.error, EOFError)):
            gzip.decompress(bad)
        with pytest.raises(zlib.error):
            Z.decompress(bad)
    flipped = bytearray(stream)
    flipped[-6] ^= 0xFF  # the last member's CRC32
    with pytest.raises(zlib.error):
        Z.decompress(bytes(flipped))
    zs = zlib.compress(payload)
    with pytest.raises(zlib.error):
        Z.decompress(zs[:-5])
