"""Generated-tile parity for every tile-decode scan.

Each scan — WKT rows (decode_tile_rows / decode_tiles), the packed
layer walk (iter_layer_packed / decode_tiles_packed), the gpack scan
and the columnar kernel's fallback lane — is checked feature by feature
against the scalar command walk (Cmd.decode_geometry), rendered with
to_wkt, _pack_from_parts or gpack_from_packed.

The tiles are built by the engine's own writer and cover both lanes of
the layer decoder:
  * many small features — 4-vertex polygons, short lines, points, a
    holed polygon, a multipolygon, non-canonical streams that the batch
    decoder declines, raster-only and geometry-less features;
  * few big features — the shapes of the reference's decode bench
    tiles (bench.py decode_real_tile_anchor): an enf-z14-like layer of
    34 multipoints and a multi_line-z13-like feature of two-point
    segments, scaled down but still over 2048 bytes per feature.
Both are checked under v1 and v2, with and without a bbox.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
import pytest

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import commands as Cmd
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.operators import decode as D

# the reference's bench tile coordinates: enf z14 and multi_line z13
TILES = {1: (14, 13089, 8506), 2: (13, 1310, 3166)}
PROP_KEYS = ["kind", "n"]


def _geom(geom):
    return Cmd.encode_geometry(geom)


def _small_layer(version: int) -> bytes:
    """Many small features: the batch (lockstep wire walk) lane."""
    rng = np.random.default_rng(100 + version)
    feats = []
    fid = 1

    def add(gt, cmds, tags=(0, 0, 1, 1), raster=None):
        nonlocal fid
        feats.append(pbf.encode_feature(fid, list(tags), gt, cmds, raster=raster))
        fid += 1

    for i in range(400):
        x0, y0 = (int(v) for v in rng.integers(0, 4000, size=2))
        s = int(rng.integers(5, 60))
        r = i % 4
        if r == 0:  # 4-vertex polygon
            ring = np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]])
            add(*_geom(("polygon", [ring])), tags=(0, 0, 1, i % 5 + 1))
        elif r == 1:  # short line
            n = int(rng.integers(2, 5))
            line = np.column_stack([x0 + np.arange(n) * s, y0 + rng.integers(-30, 30, n)])
            add(*_geom(("linestring", line)), tags=(0, 6, 1, i % 5 + 1))
        elif r == 2:  # single point
            add(*_geom(("point", np.array([x0, y0]))), tags=(0, 7, 1, i % 5 + 1))
        else:  # small multipoint
            add(*_geom(("multipoint", rng.integers(0, 4096, size=(3, 2)))))
    # multi-part shapes
    outer = np.array([[100, 100], [900, 100], [900, 900], [100, 900]])
    hole = np.array([[300, 300], [300, 600], [600, 600], [600, 300]])
    add(*_geom(("polygon", [outer, hole])))
    add(*_geom(("multipolygon", [[outer], [outer + 2000]])))
    add(*_geom(("multilinestring", [outer[:3], outer[1:] + 1500])))
    # zero LineTo deltas and split LineTo runs (the batch keeps them)
    add(Cmd.LINESTRING, [9, 20, 20, 18, 0, 0, 4, 4])
    add(Cmd.POLYGON, [9, 20, 20, 34, 80, 0, 0, 0, 0, 80, 79, 0, 15])
    add(Cmd.POLYGON, [9, 20, 20, 10, 80, 0, 18, 0, 80, 79, 0, 15])
    # streams the batch declines: a long line (per-feature vectorized
    # decode) and coordinates past 2^25 (scalar decode)
    line = np.column_stack([np.arange(300) * 3, np.arange(300) % 7])
    add(*_geom(("linestring", line)))
    far = int(Cmd._zz32(1 << 26))
    add(Cmd.LINESTRING, [9, far, 20, 10, 4, 4])
    add(Cmd.POINT, [9, far, 20])
    # no geometry: raster-only, bare, raster plus geometry
    add(0, [], raster=b"\x89PNG-raster-only")
    add(0, [])
    add(*_geom(("point", np.array([2048, 2048]))), raster=b"raster+point")
    # out-of-range tag indices are skipped
    add(*_geom(("point", np.array([10, 4000]))), tags=(0, 99, 9, 0))
    values = [pbf.encode_value(v) for v in
              ("building", 1, 2, 3, 4, 5, "road", "poi", 2.5, True)]
    return pbf.encode_layer("small", feats, PROP_KEYS, values, version=version)


def _enf_layer(version: int) -> bytes:
    """34 big multipoints (enf z14 shape, ~676k points there)."""
    rng = np.random.default_rng(200 + version)
    feats = []
    for i in range(34):
        pts = rng.integers(0, 4096, size=(700, 2))
        feats.append(pbf.encode_feature(i + 1, [0, i % 3], *_geom(("multipoint", pts))))
    values = [pbf.encode_value(v) for v in ("a", "b", "c")]
    return pbf.encode_layer("enf", feats, ["kind"], values, version=version)


def _multi_line_layer(version: int) -> bytes:
    """One feature of two-point segments (multi_line z13 shape, 168k
    segments there)."""
    rng = np.random.default_rng(300 + version)
    a = rng.integers(0, 4096, size=(600, 2))
    b = a + rng.integers(-40, 40, size=(600, 2))
    segs = [np.vstack([p, q]) for p, q in zip(a, b) if (p != q).any()]
    feats = [pbf.encode_feature(7, [0, 0], *_geom(("multilinestring", segs)))]
    return pbf.encode_layer("multi_line", feats, ["kind"], [pbf.encode_value("line")],
                            version=version)


def _layers(version: int) -> list[bytes]:
    return [_small_layer(version), _enf_layer(version), _multi_line_layer(version)]


def _tile(version: int) -> bytes:
    return zlib.compress(pbf.encode_tile(_layers(version)))


def _bbox(version: int, use_bbox: bool):
    if not use_bbox:
        return None
    z, x, y = TILES[version]
    minx, miny, maxx, maxy = (float(v) for v in tilemath.tile_mercator_bbox_np(x, y, z))
    w, h = maxx - minx, maxy - miny
    return (minx + 0.25 * w, miny + 0.2 * h, minx + 0.7 * w, miny + 0.75 * h)


def _scalar_layer(z: int, x: int, y: int, layer_bytes: bytes, bbox,
                  typed: bool = False) -> list[dict]:
    """Every feature of a layer through the scalar reference walk."""
    minx, _miny, maxx, maxy = tilemath.tile_mercator_bbox_np(x, y, z)
    lay = pbf.decode_layer(layer_bytes)
    if not D._layer_ok(lay):
        return []
    scale = lay["extent"] / (float(maxx) - float(minx))
    kw = dict(version=lay["version"], tile_x=float(minx), tile_y=float(maxy),
              scale_x=scale, scale_y=-scale, bbox=bbox)
    vals = lay["values"] if typed else [None if v is None else str(v) for v in lay["values"]]
    out = []
    for m in lay["features"]:
        f = pbf.decode_feature(m)
        g = ("empty", None)
        if len(f["geometry"]):
            g = Cmd.decode_geometry(list(f["geometry"]), f["type"], **kw)
        tags = f["tags"]
        props = {}
        for i in range(0, len(tags) - 1, 2):
            if tags[i] < len(lay["keys"]) and tags[i + 1] < len(vals):
                props[lay["keys"][tags[i]]] = vals[tags[i + 1]]
        pk = None if g[0] == "empty" else D._pack_from_parts(g)[1]
        out.append(dict(
            name=lay["name"], id=f["id"], type=f["type"], geom=g, packed=pk,
            props=props, raster=f["raster"],
        ))
    return out


def _expected(version: int, layer_bytes: bytes, bbox) -> list[dict]:
    return _scalar_layer(*TILES[version], layer_bytes, bbox)


def _expected_tile(version: int, bbox) -> list[list[dict]]:
    return [_expected(version, lb, bbox) for lb in _layers(version)]


def _wkt(e) -> str | None:
    return None if e["geom"][0] == "empty" else G.to_wkt(e["geom"])


def _gpack(pk):
    return G.gpack_from_packed(pk["kind"], pk["xs"], pk["ys"], pk["offsets"],
                               pk.get("exterior"))


def _assert_packed(got: dict, want: dict):
    assert got["kind"] == want["kind"]
    assert np.array_equal(np.asarray(got["xs"]), want["xs"])
    assert np.array_equal(np.asarray(got["ys"]), want["ys"])
    assert np.array_equal(np.asarray(got["offsets"]), want["offsets"])
    if want["kind"] == "multipolygon":
        assert np.array_equal(np.asarray(got["exterior"]), want["exterior"])


def _kept(layer: list[dict]) -> list[dict]:
    """The packed scans' filter: features with geometry or a raster."""
    return [e for e in layer if e["packed"] is not None or e["raster"] is not None]


def test_generated_tiles_cover_both_layer_lanes():
    for version in (1, 2):
        small, enf, multi_line = _layers(version)
        for lb, few_big in ((small, False), (enf, True), (multi_line, True)):
            msgs = pbf.decode_layer(lb)["features"]
            avg = sum(len(m) for m in msgs) / len(msgs)
            assert (avg > 2048) == few_big, (version, avg)


@pytest.mark.parametrize("version", [1, 2])
@pytest.mark.parametrize("use_bbox", [False, True])
def test_wkt_rows_match_scalar(version, use_bbox):
    z, x, y = TILES[version]
    bbox = _bbox(version, use_bbox)
    rows = D.decode_tile_rows(z, x, y, _tile(version), bbox=bbox)
    want = [
        (z, x, y, e["name"], e["id"], e["type"], _wkt(e), e["props"], e["raster"])
        for layer in _expected_tile(version, bbox) for e in layer
    ]
    assert len(rows) == len(want)
    for got, exp in zip(rows, want):
        assert got == exp
    # the bbox case must actually drop geometry in both lanes
    n_none = sum(r[6] is None for r in rows)
    assert (n_none > 10) == use_bbox


@pytest.mark.parametrize("version", [1, 2])
@pytest.mark.parametrize("use_bbox", [False, True])
def test_packed_and_gpack_match_scalar(version, use_bbox):
    z, x, y = TILES[version]
    bbox = _bbox(version, use_bbox)
    bounds = tilemath.tile_mercator_bbox_np(x, y, z)
    for lb, layer in zip(_layers(version), _expected_tile(version, bbox)):
        got = D.iter_layer_packed(lb, bounds, bbox=bbox)
        want = _kept(layer)
        assert len(got) == len(want)
        for (name, fid, gt, pk, props, raster), e in zip(got, want):
            assert (name, fid, gt, props, raster) == (
                e["name"], e["id"], e["type"], e["props"], e["raster"])
            if e["packed"] is None:
                assert pk is None
                continue
            _assert_packed(pk, e["packed"])
            gpk, env = _gpack(pk)
            wpk, wenv = _gpack(e["packed"])
            assert bytes(gpk) == bytes(wpk) and env == wenv


@pytest.mark.parametrize("version", [1, 2])
def test_columnar_fallback_matches_scalar(version):
    """The generated layers are not this engine's uniform point framing,
    so the columnar kernel decodes every feature through its fallback:
    one row per feature, single points carry their coordinates, every
    other feature carries NaN."""
    z, x, y = TILES[version]
    pdf = pd.DataFrame({"z": [z], "x": [x], "y": [y], "tile": [_tile(version)]})
    out = pd.concat(list(D.columnar_kernel(PROP_KEYS)(iter([pdf]))), ignore_index=True)
    for layer in _expected_tile(version, None):
        got = out[out["layer"] == layer[0]["name"]]
        assert len(got) == len(layer)
        for (_, r), e in zip(got.iterrows(), layer):
            assert (r["z"], r["x"], r["y"]) == (z, x, y)
            assert [r[k] for k in PROP_KEYS] == [e["props"].get(k) for k in PROP_KEYS]
            if e["geom"][0] == "point":
                assert "POINT(%.10g %.10g)" % (r["mx"], r["my"]) == _wkt(e)
            else:
                assert np.isnan(r["mx"]) and np.isnan(r["my"])


def _by_layer(rows, key):
    out: dict = {}
    for r in rows:
        out.setdefault((r["z"], r["x"], r["y"], r["layer"]), []).append(key(r))
    return out


@pytest.mark.parametrize("use_bbox", [False, True])
def test_spark_scans_match_scalar(spark, use_bbox):
    """decode_tiles, decode_tiles_packed and decode_tiles_gpack over a
    two-tile frame (one v1 tile, one v2 tile)."""
    if use_bbox:
        # one query box for both tiles: the union of their inner boxes
        b1, b2 = _bbox(1, True), _bbox(2, True)
        bbox = (min(b1[0], b2[0]), min(b1[1], b2[1]),
                max(b1[2], b2[2]), max(b1[3], b2[3]))
    else:
        bbox = None
    tiles = spark.createDataFrame(
        [(*TILES[v], bytearray(_tile(v))) for v in (1, 2)],
        "z int, x long, y long, tile binary",
    )
    wkt = _by_layer(D.decode_tiles(tiles, bbox=bbox).collect(),
                    lambda r: (r["feature_id"], r["geom_wkt"], dict(r["props"])))
    packed = _by_layer(D.decode_tiles_packed(tiles, bbox=bbox).collect(), lambda r: r)
    gp = _by_layer(D.decode_tiles_gpack(tiles, bbox=bbox, ordinals=True).collect(),
                   lambda r: r)
    for v in (1, 2):
        z, x, y = TILES[v]
        for li, layer in enumerate(_expected_tile(v, bbox)):
            key = (z, x, y, layer[0]["name"])
            assert wkt[key] == [(e["id"], _wkt(e), e["props"]) for e in layer]
            want = _kept(layer)
            assert len(packed[key]) == len(want)
            for r, e in zip(packed[key], want):
                assert r["feature_id"] == e["id"] and r["geom_type"] == e["type"]
                assert r["raster"] == (None if e["raster"] is None else bytearray(e["raster"]))
                if e["packed"] is None:
                    assert r["kind"] is None
                else:
                    _assert_packed(r.asDict(), e["packed"])
            want = [e for e in want if e["packed"] is not None]
            assert len(gp.get(key, [])) == len(want)
            for fi, (r, e) in enumerate(zip(gp.get(key, []), want)):
                gpk, env = _gpack(e["packed"])
                assert (r["layer_idx"], r["feat_idx"], r["feature_id"]) == (li, fi, e["id"])
                assert bytes(r["_gpk"]) == bytes(gpk)
                assert (r["env_minx"], r["env_miny"], r["env_maxx"], r["env_maxy"]) == env
                assert dict(r["props"]) == e["props"]


def test_columnar_fallback_points_match_fast_lane():
    """The same 50 z14 points decoded through the columnar fast lane
    (encode_layer_packed: features are a pure suffix) and through its
    fallback (encode_layer writes extent and version after the features,
    so the batch header walk rejects the layer) give bit-identical
    mercator coordinates."""
    z, x, y = 14, 13089, 8506
    rng = np.random.default_rng(50)
    n = 50
    pxy = rng.integers(0, 4096, size=(n, 2)).astype(np.int64)
    zz = np.column_stack([Cmd.zigzag32(pxy[:, 0]), Cmd.zigzag32(pxy[:, 1])]).astype(np.uint32)
    tags = np.zeros((n, 2), dtype=np.int64)
    tags[:, 1] = np.arange(n)
    values = [pbf.encode_value(f"p{i}") for i in range(n)]
    fast = pbf.encode_layer_packed(
        "pts", pbf.encode_point_features_packed(tags, zz), ["id"], values)
    feats = [
        pbf.encode_feature(None, [0, i], Cmd.POINT, [9, int(zz[i, 0]), int(zz[i, 1])])
        for i in range(n)
    ]
    slow = pbf.encode_layer("pts", feats, ["id"], values)
    assert pbf.parse_layers_batch([fast])["ok"].all()
    assert not pbf.parse_layers_batch([slow])["ok"].any()

    def run(layer):
        pdf = pd.DataFrame({"z": [z], "x": [x], "y": [y],
                            "tile": [pbf.encode_tile([layer])]})
        return pd.concat(list(D.columnar_kernel(["id"])(iter([pdf]))), ignore_index=True)

    a, b = run(fast), run(slow)
    assert list(a["id"]) == list(b["id"]) == [f"p{i}" for i in range(n)]
    assert np.array_equal(a["mx"].to_numpy(), b["mx"].to_numpy())
    assert np.array_equal(a["my"].to_numpy(), b["my"].to_numpy())


# ---------------------------------------------------------------------------
# one kernel call over a batch that mixes every lane
# ---------------------------------------------------------------------------

def _header_first(name, feats, keys, values, version=2, tail=b"") -> bytes:
    """A layer in this engine's header-first layout (extent and version
    before the features), so the batch header parse takes it; `tail`
    is appended after the Feature frames."""
    blob = bytearray()
    for f in feats:
        pbf.add_len_field(blob, 2, f)
    return pbf.encode_layer_packed(name, bytes(blob) + tail, keys, values,
                                   version=version)


def _odd_features() -> list[bytes]:
    """Small features of every shape, a raster-only one, and two the
    batch feature parse declines: an unknown field and a repeated tags
    field (the last one wins, as in decode_feature)."""
    rng = np.random.default_rng(9)
    out = []
    for i in range(30):
        x0, y0 = (int(v) for v in rng.integers(0, 4000, size=2))
        ring = np.array([[x0, y0], [x0 + 9, y0], [x0 + 9, y0 + 9], [x0, y0 + 9]])
        shape = [("polygon", [ring]), ("linestring", ring[:3]), ("point", ring[0])][i % 3]
        out.append(pbf.encode_feature(i, [0, i % 4, 1, 1], *_geom(shape)))
    out.append(pbf.encode_feature(100, [1, 2], 0, [], raster=b"raster-only"))
    unknown = bytearray(pbf.encode_feature(101, [0, 1], *_geom(("point", np.array([5, 5])))))
    pbf.add_varint_field(unknown, 9, 7)
    out.append(bytes(unknown))
    repeated = bytearray(pbf.encode_feature(102, [0, 0], *_geom(("point", np.array([6, 6])))))
    pbf.add_len_field(repeated, 2, pbf.pack_varints([1, 3]))
    out.append(bytes(repeated))
    out.append(pbf.encode_feature(103, [0, 2], *_geom(("point", np.array([7, 7]))),
                                  raster=b"raster+point"))
    return out


MIXED_KEYS = ["kind", "n"]
MIXED_VALUES = [pbf.encode_value(v) for v in ("a", 1, 2.5, True)]


def _mixed_batch() -> pd.DataFrame:
    """Five tiles, one Arrow batch: header-first v2 and v1 layers (batch
    header lane), the generated v1/v2 layers (extent after the features:
    strict header lane, with few-big layers), a layer whose suffix ends
    in a key frame (strict header lane), an unknown-version layer and a
    v2 layer without an extent (no features), and an empty tile."""
    odd = _odd_features()
    tail = bytearray()
    pbf.add_len_field(tail, 3, b"late_key")
    no_extent = bytearray()
    pbf.add_len_field(no_extent, 1, b"no_extent")
    pbf.add_varint_field(no_extent, 15, 2)
    pbf.add_len_field(no_extent, 2, odd[0])
    tiles = [
        [_header_first("hf2", odd, MIXED_KEYS, MIXED_VALUES), *_layers(2)],
        [],
        [*_layers(1), _header_first("hf1", odd, MIXED_KEYS, MIXED_VALUES, version=1)],
        [_header_first("v3", odd, MIXED_KEYS, MIXED_VALUES, version=3), bytes(no_extent),
         _header_first("tail", odd, MIXED_KEYS, MIXED_VALUES, tail=bytes(tail))],
        [_header_first("hf2b", odd[::-1], MIXED_KEYS, MIXED_VALUES)],
    ]
    keys = [(14, 13089, 8506), (14, 13090, 8506), (13, 1310, 3166), (12, 600, 700),
            (12, 601, 700)]
    return pd.DataFrame({
        "z": np.array([k[0] for k in keys], dtype=np.int32),
        "x": np.array([k[1] for k in keys], dtype=np.int64),
        "y": np.array([k[2] for k in keys], dtype=np.int64),
        "tile": [zlib.compress(pbf.encode_tile(t)) if t else b"" for t in tiles],
    })


def _scalar_tile(z, x, y, tile: bytes, bbox, typed) -> list[tuple]:
    """The per-tile scalar reference: (layer index, feature) pairs."""
    if not tile:
        return []
    layers = pbf.decode_tile(zlib.decompress(tile))
    return [(li, e) for li, lb in enumerate(layers)
            for e in _scalar_layer(z, x, y, lb, bbox, typed)]


def _typed_props(props: dict) -> dict:
    return {k: (type(v), v) for k, v in props.items()}


@pytest.mark.parametrize("use_bbox", [False, True])
@pytest.mark.parametrize("typed", [False, True])
def test_one_batch_mixes_every_lane(use_bbox, typed):
    """One kernel call over the mixed batch, row for row and in order,
    against the per-tile scalar reference."""
    pdf = _mixed_batch()
    bbox = _bbox(2, use_bbox)
    f = D._decode_tiles(D._keys(pdf), pdf["tile"].to_numpy(), bbox=bbox, typed=typed)
    want = [
        (t, *row)
        for t, (z, x, y, tile) in enumerate(zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile"]))
        for row in _scalar_tile(int(z), int(x), int(y), tile, bbox, typed)
    ]
    assert len(f.ids) == len(want) > 1000
    lanes = {(int(f.tile[j]), f.name[j]) for j in range(len(want))}
    assert {(0, "hf2"), (0, "enf"), (2, "small"), (2, "hf1"), (3, "tail"), (4, "hf2b")} <= lanes
    assert not any(t in (1,) or n in ("v3", "no_extent") for t, n in lanes)
    n_geom = 0
    for j, (t, li, e) in enumerate(want):
        assert (f.tile[j], f.li[j], f.name[j], f.ids[j], f.types[j]) == (
            t, li, e["name"], e["id"], e["type"]), j
        assert f.raster[j] == e["raster"], j
        if typed:
            assert _typed_props(f.props[j]) == _typed_props(e["props"]), j
        else:
            assert f.props[j] == e["props"], j
        if e["packed"] is None:
            assert f.geom[j] is None, j
        else:
            _assert_packed(f.geom[j], e["packed"])
            n_geom += 1
    assert 0 < n_geom < len(want)


def _counting(monkeypatch, module, name) -> list:
    calls = []
    real = getattr(module, name)

    def wrapper(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(module, name, wrapper)
    return calls


def test_one_parse_and_one_geometry_decode_per_batch(monkeypatch):
    """Each Arrow batch makes one header parse, one feature parse and
    one geometry decode, whatever lanes its layers take."""
    counts = {name: _counting(monkeypatch, mod, name) for mod, name in (
        (pbf, "parse_layers_batch"), (pbf, "decode_features_batch"),
        (Cmd, "decode_geometry_vec_batch_global"))}
    strict = _counting(monkeypatch, pbf, "decode_layer")
    single = _counting(monkeypatch, pbf, "decode_feature")
    replay = _counting(monkeypatch, Cmd, "decode_geometry")
    pdf = _mixed_batch()
    f = D._decode_tiles(D._keys(pdf), pdf["tile"].to_numpy())
    assert len(f.ids) > 1000
    assert {k: len(v) for k, v in counts.items()} == dict.fromkeys(counts, 1)
    # strict headers: the six generated layers, "no_extent" and "tail";
    # features alone: the 70 few-big ones, and the unknown-field and
    # repeated-field feature of the four layers holding them
    assert (len(strict), len(single)) == (8, 70 + 2 * 4)
    # scalar geometry replays: only the two streams past 2^25 of each
    # generated small layer; every canonical stream decodes vectorized,
    # each with its own tile's transform
    assert len(replay) == 4
    # the columnar kernel: two Arrow batches, two calls of each
    out = list(D.columnar_kernel(MIXED_KEYS)(iter([pdf, pdf.iloc[::-1]])))
    assert len(out) == 2 and len(out[0]) == len(f.ids)
    assert {k: len(v) for k, v in counts.items()} == dict.fromkeys(counts, 3)
    # a batch with no stream past 2^25 replays nothing
    tile = zlib.compress(pbf.encode_tile(
        [_header_first("hf", _odd_features(), MIXED_KEYS, MIXED_VALUES)]))
    keys = (np.full(3, 12), np.arange(3) + 600, np.full(3, 700))
    replay.clear()
    assert len(D._decode_tiles(keys, [tile] * 3).ids) == 3 * 34
    assert replay == []


def test_one_bad_layer_makes_one_strict_layer(monkeypatch):
    """Invalid UTF-8 in one layer's value dictionary rejects that layer
    alone from the batch header parse: 200 good tiles and 1 bad one make
    one strict decode_layer call, and the error names the bad tile."""
    zz = np.array([[Cmd._zz32(10), Cmd._zz32(20)]], dtype=np.uint32)

    def layer(value: bytes) -> bytes:
        return pbf.encode_layer_packed(
            "pts", pbf.encode_point_features_packed(np.array([[0, 0]]), zz), ["k"], [value])

    good = zlib.compress(pbf.encode_tile([layer(pbf.encode_value("v"))]))
    bad = zlib.compress(pbf.encode_tile([layer(b"\x0a\x02\xff\xfe")]))
    pdf = pd.DataFrame({
        "z": np.full(201, 9, dtype=np.int32), "x": np.arange(201, dtype=np.int64),
        "y": np.full(201, 7, dtype=np.int64), "tile": [good] * 200 + [bad],
    })
    calls = _counting(monkeypatch, pbf, "decode_layer")
    for run in (
        lambda: D._decode_tiles(D._keys(pdf), pdf["tile"].to_numpy()),
        lambda: list(D.columnar_kernel(["k"])(iter([pdf]))),
    ):
        calls.clear()
        with pytest.raises(UnicodeDecodeError) as info:
            run()
        assert len(calls) == 1
        assert "tile z/x/y 9/200/7, layer 0" in str(info.value.__notes__)


def test_columnar_dangling_value_reference():
    """A uniform point feature whose tag value index is past its layer's
    value dictionary gets no property (the reference featureset skips
    the pair), in the fast lane as in the kernel — not the value of the
    next layer of the batch."""
    zz = np.array([[Cmd._zz32(10), Cmd._zz32(20)]], dtype=np.uint32)

    def tile(vidx: int, value: str) -> bytes:
        layer = pbf.encode_layer_packed(
            "pts", pbf.encode_point_features_packed(np.array([[0, vidx]]), zz), ["k"],
            [pbf.encode_value(value)])
        return zlib.compress(pbf.encode_tile([layer]))

    pdf = pd.DataFrame({"z": np.full(2, 9, dtype=np.int32), "x": np.arange(2, dtype=np.int64),
                        "y": np.full(2, 7, dtype=np.int64), "tile": [tile(1, "a"), tile(0, "b")]})
    out = pd.concat(list(D.columnar_kernel(["k"])(iter([pdf]))), ignore_index=True)
    got = dict(zip(out["x"], out["k"]))
    assert got == {0: None, 1: "b"}
    want = [e["props"].get("k") for t in pdf["tile"]
            for lb in pbf.decode_tile(zlib.decompress(t))
            for e in _scalar_layer(9, 0, 7, lb, None)]
    assert want == [None, "b"]


@pytest.mark.parametrize("per_feature", [False, True])
def test_vectorized_decode_declines_coordinates_past_reach(per_feature):
    """A stream whose cursor passes 2^25 is declined to the scalar walk
    (exact int area math), with scalar and with per-feature transforms;
    its canonical neighbour still decodes vectorized."""
    far = int(Cmd._zz32(1 << 26))
    ring = np.array([[0, 0], [20, 0], [20, 20], [0, 20]])
    gt, cmds = _geom(("polygon", [ring]))
    kw = dict(tile_x=1.0, tile_y=2.0, scale_x=3.0, scale_y=-3.0)
    if per_feature:
        kw = {k: np.array([v, v + 1.0]) for k, v in kw.items()}
    got = Cmd.decode_geometry_vec_batch(
        [[9, far, 20, 10, 4, 4], cmds], [Cmd.LINESTRING, gt], **kw)
    assert got[0] is None and isinstance(got[1], dict)
    want = Cmd.decode_geometry(cmds, gt, **{k: (v[1] if per_feature else v)
                                            for k, v in kw.items()})
    _assert_packed(got[1], D._pack_from_parts(want)[1])


@pytest.mark.parametrize("wbits", [15, 31], ids=["zlib", "gzip"])
def test_inflate_bomb_names_its_tile(monkeypatch, wbits):
    """A stored tile that inflates past compression.INFLATE_CAP (a zlib
    or gzip bomb: one unknown field holding cap zero bytes, which a tile
    parse would skip) fails decode_tiles_columnar's kernel with a
    ValueError naming the cap and the tile, after good tiles of the same
    batch. The cap is lowered to 1 MiB; the kernel reads it in-process."""
    from mapnik_vector_tile_spark.functions import compression as Z

    cap = 1 << 20
    monkeypatch.setattr(Z, "INFLATE_CAP", cap)
    co = zlib.compressobj(9, zlib.DEFLATED, wbits)
    head = bytearray(b"\x7a")  # field 15, length-delimited
    pbf.write_varint(head, cap)
    zeros = bytes(1 << 16)
    bomb = co.compress(bytes(head)) + b"".join(co.compress(zeros) for _ in range(cap >> 16))
    bomb += co.flush()
    assert len(bomb) * 1032 > cap  # small enough to build, big enough to be capped
    zz = np.array([[Cmd._zz32(10), Cmd._zz32(20)]], dtype=np.uint32)
    good = zlib.compress(pbf.encode_tile([pbf.encode_layer_packed(
        "pts", pbf.encode_point_features_packed(np.array([[0, 0]]), zz), ["k"],
        [pbf.encode_value("v")])]))
    pdf = pd.DataFrame({
        "z": np.full(3, 9, dtype=np.int32), "x": np.arange(3, dtype=np.int64),
        "y": np.full(3, 7, dtype=np.int64), "tile": [good, good, bomb],
    })
    assert len(list(D.columnar_kernel(["k"])(iter([pdf.iloc[:2]])))[0]) == 2
    for run in (
        lambda: list(D.columnar_kernel(["k"])(iter([pdf]))),
        lambda: D._decode_tiles(D._keys(pdf), pdf["tile"].to_numpy()),
    ):
        with pytest.raises(ValueError, match=f"{cap}-byte inflate cap") as info:
            run()
        assert info.value.__notes__ == ["while decoding tile z/x/y 9/2/7"]
