"""Foreign / malformed wire-format matrix (r2 VERDICT item 4).

Ports the behavioral expectations of the reference's hostile-input
tests — truncated buffers at every byte, garbage buffers, the four
valid-but-unhandled PBF shapes (test/vector_tile_pbf.cpp:302-385,
:541+, test/data/tile_with_*.mvt), and foreign layers that interleave
keys/values between features (vector_tile_layer.ipp:84-126 ordering) —
against THIS engine's decode contract:

* truncated / garbage wire bytes raise (or decode to a consistent
  prefix when the chop lands on a message boundary — the reference's
  "lucky bites");
* unknown layer/feature fields are SKIPPED (documented deviation:
  protobuf-forward-compatible, where mapnik's tile_datasource_pbf
  throws — at 100TB scale a foreign producer's extension field must
  not kill a job);
* unknown Value variants decode to null, unknown geometry types raise;
* the batched header walk (parse_layers_batch) NEVER trusts a layout
  it cannot prove — every foreign/corrupt layer either parses
  identically to the strict per-layer parser or falls back to it.

The fixtures are synthesized with the engine's own writer plus raw
field splicing — byte-equivalent shapes to the reference's .mvt
fixtures, built clean-room.
"""

from __future__ import annotations

import os
import numpy as np
import pytest

from mapnik_vector_tile_spark.functions import commands as Cmd
from mapnik_vector_tile_spark.functions import pbf as P

DECODE_ERRORS = (ValueError, Cmd.DecodeError, IndexError)


def _simple_layer(name="layer", nfeat=1, version=2):
    feats = []
    for i in range(nfeat):
        feats.append(
            P.encode_feature(i + 1, [0, i], Cmd.POINT, [9, P_ZZ(10 + i), P_ZZ(20 + i)])
        )
    values = [P.encode_value(f"v{i}") for i in range(nfeat)]
    return P.encode_layer(name, feats, ["k"], values, version=version)


def P_ZZ(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1


def _long_header_layer(nvals=150, nfeat=4):
    """This engine's packed layout (extent/version before the feature
    suffix) with more header frames than parse_layers_batch's 96-step
    masked walk: the tail of its header is parsed by the header hop.
    Values mix strings, ints and floats. Returns (layer, byte offset of
    the first Feature frame)."""
    values = [P.encode_value(v) for i in range(nvals) for v in (f"v{i}", i, 0.5 * i)]
    values = values[:nvals]
    tags = np.array([[0, i, 1, nvals - 1 - i] for i in range(nfeat)], dtype=np.int64)
    zz = np.array([[P_ZZ(10 + i), P_ZZ(20 + i)] for i in range(nfeat)], dtype=np.uint32)
    blob = P.encode_point_features_packed(tags, zz)
    layer = P.encode_layer_packed("long", blob, ["a", "b"], values)
    return layer, len(layer) - len(blob)


def _framed(features):
    """Feature messages -> their Feature frames, concatenated."""
    buf = bytearray()
    for f in features:
        P.add_len_field(buf, 2, f)
    return bytes(buf)


def _tile(layers):
    return P.encode_tile(layers)


def _decode_rows(tile_bytes):
    from mapnik_vector_tile_spark.operators.decode import decode_tile_rows

    return decode_tile_rows(0, 0, 0, tile_bytes)


# ---------------------------------------------------------------------------
# empty / garbage / truncated (test/vector_tile_pbf.cpp:302-385)
# ---------------------------------------------------------------------------

def test_empty_buffer():
    assert P.decode_tile(b"") == []
    assert _decode_rows(b"") == []


def test_garbage_buffer_raises():
    garbage = b"daufyglwi3h7fseuhfas8w3h,dksufasdf"
    with pytest.raises(DECODE_ERRORS):
        for layer_bytes in P.decode_tile(garbage):
            _ = P.decode_layer(bytes(layer_bytes))


def test_truncated_at_every_byte():
    """Truncating a valid tile at every length: decode raises, or (on
    lucky message boundaries) yields a consistent prefix — never more
    rows than the full tile, never a crash."""
    tile = _tile([_simple_layer(nfeat=3)])
    full = _decode_rows(tile)
    assert len(full) == 3
    for i in range(1, len(tile)):
        try:
            rows = _decode_rows(tile[:i])
        except DECODE_ERRORS:
            continue
        assert len(rows) <= len(full)
        for r in rows:
            # a lucky chop may cut a feature's trailing type field
            # (defaults to UNKNOWN=0) — still a consistent prefix
            assert r[3] == "layer" and r[5] in (0, Cmd.POINT)


def test_truncated_batch_parse_never_lies():
    """parse_layers_batch on truncated layer messages: any layer it
    reports ok must parse identically to the strict per-layer parser.
    The long-header layer is truncated inside the part of its header
    the header hop walks. An intact layer follows the truncated one in
    the batch, so a frame read past the truncation meets real bytes."""
    long_layer, feat0 = _long_header_layer()
    for layer, cuts in (
        (_simple_layer(nfeat=5), None),
        (long_layer, range(len(long_layer) // 3, feat0 + 3)),
    ):
        for i in cuts or range(1, len(layer)):
            blob = layer[:i]
            meta = P.parse_layers_batch([blob, layer])
            if not meta["ok"][0]:
                continue
            try:
                ref = P.decode_layer(blob)
            except Exception:
                pytest.fail(f"batch ok at truncation {i} but strict parser raises")
            assert meta["name"][0] == ref["name"], i
            assert list(meta["keys"][meta["key_layer"] == 0]) == ref["keys"], i
            assert list(meta["values"][meta["val_layer"] == 0]) == ref["values"], i


# ---------------------------------------------------------------------------
# the four valid-but-unhandled shapes (test/vector_tile_pbf.cpp:541+)
# ---------------------------------------------------------------------------

def test_tile_with_extra_feature_field():
    """Analogue of tile_with_extra_feature_field.mvt: a Feature message
    carrying an unknown field. Deviation from the reference (which
    throws): unknown fields are skipped, the feature still decodes."""
    feat = bytearray(P.encode_feature(1, [0, 0], Cmd.POINT, [9, 20, 40]))
    P.add_varint_field(feat, 8, 99)  # unknown Feature field 8
    layer = P.encode_layer("layer", [bytes(feat)], ["k"], [P.encode_value("v")])
    rows = _decode_rows(_tile([layer]))
    assert len(rows) == 1
    assert rows[0][4] == 1 and rows[0][7] == {"k": "v"}


def test_tile_with_extra_layer_fields():
    """Analogue of tile_with_extra_layer_fields.mvt: unknown Layer
    fields (varint + len-framed) are skipped."""
    layer = bytearray(_simple_layer(nfeat=1))
    P.add_varint_field(layer, 13, 7)
    P.add_len_field(layer, 14, b"extension-payload")
    rows = _decode_rows(_tile([bytes(layer)]))
    assert len(rows) == 1
    # and the batched walk either agrees or falls back — never lies
    meta = P.parse_layers_batch([bytes(layer)])
    if meta["ok"][0]:
        ref = P.decode_layer(bytes(layer))
        assert meta["name"][0] == ref["name"]


def test_tile_with_invalid_layer_value_type():
    """Analogue of tile_with_invalid_layer_value_type.mvt: a Value
    message whose variant field is unknown decodes to null (the
    reference throws; nulls keep foreign tiles readable)."""
    bogus = bytearray()
    P.write_varint(bogus, P.tag(9, P.WT_I32))
    bogus.extend(b"\x01\x02\x03\x04")
    feat = P.encode_feature(1, [0, 0], Cmd.POINT, [9, 20, 40])
    layer = P.encode_layer("layer", [feat], ["k"], [bytes(bogus)])
    rows = _decode_rows(_tile([layer]))
    assert len(rows) == 1
    assert rows[0][7] == {"k": None}


def test_tile_with_unexpected_geomtype():
    """Analogue of tile_with_unexpected_geomtype.mvt: geometry type
    outside {POINT, LINESTRING, POLYGON} decodes to an EMPTY geometry —
    the reference's geometry decoder rule ('unknown according to v2 of
    spec can simply be ignored', decoder.ipp:820-826); the throw in the
    reference's test lives in its datasource wrapper, not the decoder."""
    feat = P.encode_feature(1, [0, 0], 7, [9, 20, 40])
    layer = P.encode_layer("layer", [feat], ["k"], [P.encode_value("v")])
    rows = _decode_rows(_tile([layer]))
    assert len(rows) == 1
    assert rows[0][5] == 7 and rows[0][6] is None  # geom_type kept, no WKT


# ---------------------------------------------------------------------------
# foreign field ordering (vector_tile_layer.ipp:84-126)
# ---------------------------------------------------------------------------

def _interleaved_layer(version=2):
    """keys/values written BETWEEN features, extent/version at the end —
    a layout a streaming foreign encoder produces."""
    buf = bytearray()
    P.add_len_field(buf, 1, b"layer")
    f0 = P.encode_feature(1, [0, 0], Cmd.POINT, [9, 20, 40])
    P.add_len_field(buf, 2, f0)
    P.add_len_field(buf, 3, b"k")
    P.add_len_field(buf, 4, P.encode_value("a"))
    f1 = P.encode_feature(2, [0, 1], Cmd.POINT, [9, 22, 44])
    P.add_len_field(buf, 2, f1)
    P.add_len_field(buf, 4, P.encode_value("b"))
    P.add_varint_field(buf, 5, 4096)
    P.add_varint_field(buf, 15, version)
    return bytes(buf)


def test_interleaved_foreign_layer_strict_parser():
    layer = _interleaved_layer()
    rows = _decode_rows(_tile([layer]))
    assert [(r[4], r[7]) for r in rows] == [(1, {"k": "a"}), (2, {"k": "b"})]


def test_interleaved_foreign_layer_batch_falls_back():
    """The batched walk stops at the first Feature frame; extent and
    version have NOT been declared at that point, so the early-stop
    trust rule must reject the layer (ok=False) rather than guess —
    the columnar kernel then routes it through the strict parser."""
    layer = _interleaved_layer()
    meta = P.parse_layers_batch([layer])
    assert not meta["ok"][0]


def test_interleaved_through_columnar_kernel(spark):
    """End-to-end: a tile whose layer interleaves keys/values between
    features decodes through decode_tiles (generic path) with rows
    identical to the strict parser."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import compression as Z
    from mapnik_vector_tile_spark.operators import decode as D

    tile = Z.compress(_tile([_interleaved_layer()]))
    df = spark.createDataFrame(
        pd.DataFrame({"z": [0], "x": [0], "y": [0], "tile": [tile]})
    )
    got = D.decode_tiles(df).toPandas().sort_values("feature_id")
    assert list(got["feature_id"]) == [1, 2]
    assert [p["k"] for p in got["props"]] == ["a", "b"]


def test_decode_error_names_its_tile(spark):
    """A tile whose value dictionary holds invalid UTF-8 fails both the
    columnar and the packed scan with its original exception type, and
    the message names the tile (z/x/y) and the layer that failed."""
    import pandas as pd

    from mapnik_vector_tile_spark.functions import compression as Z
    from mapnik_vector_tile_spark.operators import decode as D

    zz = np.array([[P_ZZ(10), P_ZZ(20)]], dtype=np.uint32)
    good = P.encode_layer_packed(
        "ok", P.encode_point_features_packed(np.array([[0, 0]]), zz), ["k"],
        [P.encode_value("v")],
    )
    bad = P.encode_layer_packed(
        "bad", P.encode_point_features_packed(np.array([[0, 0]]), zz), ["k"],
        [b"\x0a\x02\xff\xfe"],  # Value{string_value = invalid UTF-8}
    )
    df = spark.createDataFrame(pd.DataFrame({
        "z": [9, 9], "x": [301, 302], "y": [171, 172],
        "tile": [Z.compress(_tile([good])), Z.compress(_tile([good, bad]))],
    }))
    for scan in (lambda: D.decode_tiles_columnar(df, ["k"]), lambda: D.decode_tiles_packed(df)):
        with pytest.raises(Exception) as info:
            scan().collect()
        msg = str(info.value)
        assert "UnicodeDecodeError" in msg
        assert "tile z/x/y 9/302/172, layer 1" in msg
        assert "9/301/171" not in msg


# ---------------------------------------------------------------------------
# random corruption fuzz: batch parse must agree with the strict parser
# or fall back — never return different values for an ok layer
# ---------------------------------------------------------------------------

def _mutations(rng, base, lo, hi, trials=300):
    """Seeded byte mutations of `base` at positions in [lo, hi): flip a
    byte, truncate, or splice in 1-5 random bytes (cycling)."""
    for trial in range(trials):
        b = bytearray(base)
        mode = trial % 3
        if mode == 0:  # flip a byte
            i = int(rng.integers(lo, hi))
            b[i] = int(rng.integers(0, 256))
        elif mode == 1:  # truncate
            b = b[: int(rng.integers(max(lo, 1), hi))]
        else:  # splice random bytes
            i = int(rng.integers(lo, hi))
            ins = bytes(rng.integers(0, 256, size=int(rng.integers(1, 6))).tolist())
            b = b[:i] + ins + b[i:]
        yield trial, bytes(b)


def test_corruption_fuzz_batch_vs_strict():
    """The simple layer is mutated anywhere. The long-header layer (past
    the masked walk's step budget, so the header hop parses its tail) is
    mutated only in the header's last two thirds — its feature suffix is
    proven downstream by pbf.uniform_point_columns, not by the header
    parse — and parsed with the intact layer after it, so a frame read
    past its end meets real bytes."""
    rng = np.random.default_rng(42)
    simple = _simple_layer(nfeat=8)
    long_layer, feat0 = _long_header_layer()
    cases = [
        ((), _mutations(rng, simple, 0, len(simple))),
        ((long_layer,), _mutations(
            np.random.default_rng(43), long_layer, len(long_layer) // 3, feat0)),
    ]
    for trial, blob, tail in ((*t, tail) for tail, case in cases for t in case):
        try:
            meta = P.parse_layers_batch([blob, *tail])
        except Exception:
            continue  # batch-global rejection: callers route to strict
        if meta["ok"][0]:
            # an ok layer must parse identically to the strict parser
            try:
                ref = P.decode_layer(blob)
            except Exception:
                pytest.fail(f"batch ok but decode_layer raises (trial {trial})")
            assert meta["name"][0] == ref["name"], trial
            assert list(meta["keys"][meta["key_layer"] == 0]) == ref["keys"], trial
            assert list(meta["values"][meta["val_layer"] == 0]) == ref["values"], trial
            assert meta["extent"][0] == ref["extent"], trial
            assert meta["version"][0] == ref["version"], trial
            if meta["feat_start"][0] >= 0:
                # claimed feature region: exactly the strict parser's
                # Feature frames
                fs, fe = meta["feat_start"][0], meta["feat_end"][0]
                assert meta["buf"][fs:fe].tobytes() == _framed(ref["features"]), trial


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/bench"), reason="reference not mounted"
)
@pytest.mark.parametrize("seed", [20260817, 41221303, 77130896])
def test_mutation_fuzz_real_tiles_total(seed):
    """Byte-mutation fuzz over REAL foreign tiles (the reference's own
    bench/test fixtures): every mutated buffer must either decode or
    fail with a clean ValueError/DecodeError — per-layer totality, no
    hangs, no unexpected exception types, for both the row scan and the
    batched layer parser. Two independent seeds; the corpus covers the
    Mapbox water tile, both 0.0.0 merge fixtures, the v2 raster-feature
    tile, and the 1M-value bench tile."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import commands as Cmd
    from mapnik_vector_tile_spark.functions import compression as Z2
    from mapnik_vector_tile_spark.operators import decode as D

    fixtures = [
        ("/root/reference/test/data/0.0.0.vector.mvt", 60),
        ("/root/reference/test/data/0.0.0.vector-b.mvt", 30),
        ("/root/reference/test/data/image.mvt", 30),  # Feature.raster path
        # the 1M-value tile decodes ~150ms even when mutated mid-stream;
        # fewer trials keep the fuzz pass under ~30s
        ("/root/reference/bench/multi_line_13_1310_3166.vector.mvt", 12),
        # the ~676k-point enf z14 tile: the uniform-point fast lane's
        # targeted-column decoder and its full-decode fallback both face
        # the mutations (boundary-arithmetic length checks must reject,
        # never mis-gather)
        ("/root/reference/bench/enf.t5yd5cdi_14_13089_8506.vector.mvt", 8),
    ]
    rng = np.random.default_rng(seed)
    for path, n_trials in fixtures:
        raw = Z2.decompress(open(path, "rb").read())
        buf = np.frombuffer(raw, dtype=np.uint8).copy()
        for trial in range(n_trials):
            m = buf.copy()
            mode = trial % 3
            if mode == 0:  # flip random bytes
                idx = rng.integers(0, len(m), size=rng.integers(1, 8))
                m[idx] = rng.integers(0, 256, size=len(idx))
            elif mode == 1:  # truncate
                m = m[: rng.integers(1, len(m))]
            else:  # splice a random chunk elsewhere
                a, b = sorted(rng.integers(0, len(m), size=2))
                m = np.concatenate([m[:a], m[b:], m[a:b]])
            data = m.tobytes()
            try:
                rows = D.decode_tile_rows(0, 0, 0, data)
                assert isinstance(rows, list)
            except (ValueError, Cmd.DecodeError):
                pass
            # the packed geometry decoder must be equally total
            try:
                for lb in P.decode_tile(Z2.decompress(data)):
                    lay = P.decode_layer(lb)
                    for fm in lay["features"][:50]:
                        f = P.decode_feature(fm)
                        if not len(f["geometry"]):
                            continue
                        g = Cmd.decode_geometry_vec_batch(
                            [f["geometry"]], [f["type"]], version=lay["version"],
                        )[0]
                        if g is None:
                            Cmd.decode_geometry(
                                f["geometry"], f["type"], version=lay["version"]
                            )
            except (ValueError, Cmd.DecodeError):
                pass
            # batched parser path must be total as well
            try:
                layers = P.decode_tile(data)
            except ValueError:
                continue
            try:
                meta = P.parse_layers_batch(layers)
                assert len(meta["ok"]) == len(layers)
            except ValueError:
                pass


# ---------------------------------------------------------------------------
# the reference's OWN not-handled fixture files (round 4):
# test/vector_tile_pbf.cpp:541-571 feeds test/data/tile_with_*.mvt into
# tile_datasource_pbf and REQUIRES a throw. This engine's distributed
# scan instead skips-and-reports (a foreign producer's extension field
# must not kill a 100TB job — documented deviation), so the pins here
# are: no crash, exact decode outcome, the validity checker carrying
# the reference's throw as findings, and batch/strict walk agreement.
# ---------------------------------------------------------------------------

REF_DATA = "/root/reference/test/data"

_NOTHANDLED_EXPECT = {
    # file -> (decoded rows, required validity finding codes)
    "tile_with_extra_field": (0, {"TILE_HAS_UNKNOWN_TAG"}),
    "tile_with_extra_layer_fields": (0, {"LAYER_HAS_UNKNOWN_TAG"}),
    "tile_with_invalid_layer_value_type": (0, {"VALUE_HAS_UNKNOWN_TAG"}),
    "tile_with_extra_feature_field": (1, {"FEATURE_HAS_UNKNOWN_TAG"}),
    "tile_with_unexpected_geomtype": (2, {"FEATURE_HAS_INVALID_GEOM_TYPE"}),
}


@pytest.mark.parametrize("name", sorted(_NOTHANDLED_EXPECT))
def test_reference_nothandled_fixture_files(name):
    path = os.path.join(REF_DATA, f"{name}.mvt")
    if not os.path.exists(path):
        pytest.skip("reference checkout not mounted")
    buf = open(path, "rb").read()
    want_rows, want_codes = _NOTHANDLED_EXPECT[name]
    rows = _decode_rows(buf)
    assert len(rows) == want_rows
    # no row carries geometry (these fixtures have none decodable)
    assert all(r[6] is None for r in rows)
    from mapnik_vector_tile_spark.operators import validity as V

    findings, _stats = V.validate_tile(0, 0, 0, buf)
    codes = {f[5] for f in findings}
    assert want_codes <= codes, (codes, want_codes)


def test_reference_nothandled_batch_agrees_with_strict():
    """parse_layers_batch must never 'succeed differently' on the
    foreign shapes: each fixture layer either parses identically to
    decode_layer or is flagged ok=False (strict fallback)."""
    from mapnik_vector_tile_spark.operators.decode import decode_layer_rows

    for name in sorted(_NOTHANDLED_EXPECT):
        path = os.path.join(REF_DATA, f"{name}.mvt")
        if not os.path.exists(path):
            pytest.skip("reference checkout not mounted")
        buf = open(path, "rb").read()
        layers = P.decode_tile(buf)
        if not layers:
            continue
        meta = P.parse_layers_batch(layers)
        for i, lb in enumerate(layers):
            strict = decode_layer_rows(0, 0, 0, lb,
                                       bounds=(-20037508.34, -20037508.34,
                                               20037508.34, 20037508.34))
            if meta["ok"][i]:
                # a trusted batch walk must agree on the layer header
                lay = P.decode_layer(lb)
                assert meta["name"][i] == lay["name"]
                assert meta["version"][i] == lay["version"]
                assert meta["extent"][i] == lay["extent"]
            # either way the strict parse is total (no crash)
            assert isinstance(strict, list)
