"""Vectorized geometry decode: bit-exact parity with the scalar walk.

decode_geometry_vec_batch / _batch_global replace the per-point cursor
with one unzigzag+cumsum pass over every feature's canonical command
stream, emitting the packed form and declining anything else (None) to
decode_geometry. Parity matters feature-by-feature: part structure,
exterior flags and every coordinate must equal the scalar result packed
by _pack_from_parts — including the v1 leniency behaviors (degenerate
parts dropped, repeated MOVETO), while v2 degeneracy and a v2
clockwise first ring decline so the scalar path raises.

Streams reach the shared back half through one of two header walks,
picked by stream length (commands._FRONTIER_MAX): the frontier walk
for short streams and the periodic-run walk for long ones. `_decode`
runs every parity check at the default cutoff, again with every stream
forced through the periodic walk, and once more with the cursor pass
cut into 5-point slices (commands._SLICE) so each check crosses slice
boundaries; all runs must give identical output. The reference's own bench tiles (34-multipoint enf z14,
168k-segment multi_line z13 — both v1, from a foreign encoder) are the
end-to-end fixtures."""

from __future__ import annotations

import os

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import commands as Cmd
from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.operators.decode import _pack_from_parts

BENCH = "/root/reference/bench"


def _assert_packed_equal(a, b):
    if not isinstance(a, dict) or not isinstance(b, dict):
        assert a == b, (a, b)
        return
    assert a["kind"] == b["kind"], (a["kind"], b["kind"])
    for k in ("xs", "ys", "offsets"):
        assert np.array_equal(a[k], b[k]), k
    if a["kind"] == "multipolygon":
        assert np.array_equal(a["exterior"], b["exterior"])


def _assert_same(got, gs):
    """A batch entry (packed dict or EMPTY) vs a scalar decode result."""
    _assert_packed_equal(got, _pack_from_parts(gs)[1] if gs[0] != "empty" else Cmd.EMPTY)


def _decode(geoms, gtypes, **kw):
    """decode_geometry_vec_batch as is, with every stream forced through
    the periodic-run walk, and with 5-point cursor slices; all runs must
    agree entry by entry (declines included)."""
    a = Cmd.decode_geometry_vec_batch(geoms, gtypes, **kw)
    for name in ("_FRONTIER_MAX", "_SLICE"):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(Cmd, name, 0 if name == "_FRONTIER_MAX" else 5)
            b = Cmd.decode_geometry_vec_batch(geoms, gtypes, **kw)
        assert len(a) == len(b)
        for ga, gb in zip(a, b):
            _assert_packed_equal(ga, gb)
    return a


def _decode1(cmds, gtype, **kw):
    return _decode([cmds], [gtype], **kw)[0]


def _both(cmds, gtype, **kw):
    """Run vec + scalar; vec must NOT decline; outputs must match."""
    gv = _decode1(cmds, gtype, **kw)
    gs = Cmd.decode_geometry(cmds, gtype, **kw)
    assert gv is not None
    _assert_same(gv, gs)
    return gv


def test_parity_simple_shapes():
    z = Cmd._zz32
    # multipoint
    _both([(3 << 3) | 1, z(5), z(5), z(-3), z(4), z(0), z(0)], 1)
    # two-part linestring
    _both(
        [9, z(2), z(2), (2 << 3) | 2, z(5), z(0), z(0), z(5),
         9, z(10), z(10), (1 << 3) | 2, z(-4), z(1)],
        2,
    )
    # polygon with hole (CCW exterior in y-up terms)
    _both(
        [9, z(0), z(0), (3 << 3) | 2, z(10), z(0), z(0), z(10), z(-10), z(0), 15,
         9, z(3), z(-7), (3 << 3) | 2, z(4), z(0), z(0), z(4), z(-4), z(0), 15],
        3,
    )


def test_parity_zero_delta_skip():
    z = Cmd._zz32
    # zero LineTo deltas are skipped in both paths
    _both([9, z(1), z(1), (3 << 3) | 2, z(0), z(0), z(5), z(5), z(0), z(0)], 2)


def test_v1_degenerate_segment_dropped():
    z = Cmd._zz32
    # (MT, LT(zero)) part in v1 drops silently; next part survives
    cmds = [9, z(1), z(1), (1 << 3) | 2, z(0), z(0),
            9, z(4), z(4), (1 << 3) | 2, z(3), z(3)]
    gv = _both(cmds, 2, version=1)
    assert gv["kind"] == "multilinestring" and gv["offsets"].tolist() == [0, 2]
    # v2: the vec path declines and the scalar raises
    assert _decode1(cmds, 2, version=2) is None
    with pytest.raises(Cmd.DecodeError):
        Cmd.decode_geometry(cmds, 2, version=2)


def test_v2_first_ring_clockwise_raises_in_both():
    z = Cmd._zz32
    cw = [9, z(0), z(0), (3 << 3) | 2, z(0), z(10), z(10), z(0), z(0), z(-10), 15]
    # v2: the vec path declines, so the production decode replays the
    # feature through the scalar walk, which raises
    assert _decode1(cw, 3, version=2) is None
    with pytest.raises(Cmd.DecodeError):
        Cmd.decode_geometry(cw, 3, version=2)
    # v1 accepts it
    _both(cw, 3, version=1)


def test_parity_scaled_and_bbox():
    z = Cmd._zz32
    cmds = [(4 << 3) | 1] + [z(v) for pair in
            [(100, 100), (2000, 2000), (-1500, 300), (50, -900)] for v in pair]
    kw = dict(tile_x=-20037508.34, tile_y=20037508.34,
              scale_x=0.1022, scale_y=-0.1022)
    _both(cmds, 1, **kw)
    bbox = (-20037508.34, 20037000.0, -20030000.0, 20037508.34)
    _both(cmds, 1, bbox=bbox, **kw)


def test_parity_hole_after_dropped_exterior():
    """bbox drops whole rings, and a hole goes with its exterior: a hole
    inside the box whose exterior is outside it is dropped too."""
    z = Cmd._zz32
    cur = [0, 0]

    def ring(x0, y0, s, hole=False):  # square at (x0, y0): CCW, or CW if hole
        pts = [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s)]
        if hole:
            pts = pts[:1] + pts[:0:-1]
        out = []
        for i, (x, y) in enumerate(pts):
            out += ([9] if i == 0 else [(3 << 3) | 2] if i == 1 else [])
            out += [z(x - cur[0]), z(y - cur[1])]
            cur[:] = [x, y]
        return out + [15]

    # an exterior out of the box with a hole in it, then an exterior and
    # its hole both in the box
    cmds = (ring(5000, 5000, 100) + ring(10, 10, 20, hole=True)
            + ring(100, 100, 500) + ring(200, 200, 50, hole=True))
    got = _both(cmds, 3, version=1, bbox=(0.0, 0.0, 1000.0, 1000.0))
    assert got["exterior"].tolist() == [True, False]
    assert got["offsets"].tolist() == [0, 5, 10]


coord = st.integers(min_value=-4200, max_value=4200)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(st.tuples(coord, coord), min_size=2, max_size=12),
                min_size=1, max_size=5), st.booleans())
def test_parity_random_lines(parts, use_bbox):
    enc = []
    cursor = [0, 0]
    for pts in parts:
        gt, cmds = Cmd.encode_geometry(("linestring", np.asarray(pts, dtype=np.int64)), cursor)
        if gt is not None:
            enc.extend(cmds)
    if not enc:
        return
    bbox = (-100.0, -100.0, 2000.0, 2000.0) if use_bbox else None
    gv = _decode1(enc, 2, bbox=bbox)
    gs = Cmd.decode_geometry(enc, 2, bbox=bbox)
    if gv is not None:
        _assert_same(gv, gs)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(st.tuples(coord, coord), min_size=3, max_size=10),
                min_size=1, max_size=4))
def test_parity_random_polygons(rings):
    enc = []
    cursor = [0, 0]
    arrs = []
    for pts in rings:
        arr = np.asarray(pts + pts[:1], dtype=np.int64)
        arrs.append(arr)
    gt, cmds = Cmd.encode_geometry(("polygon", arrs), cursor)
    if gt is None:
        return
    for version in (1, 2):
        try:
            gs = Cmd.decode_geometry(cmds, 3, version=version)
            err = None
        except Cmd.DecodeError as e:
            gs, err = None, e
        gv = _decode1(cmds, 3, version=version)
        if err is not None:
            assert gv is None  # declined: the scalar walk raises
        elif gv is not None:
            _assert_same(gv, gs)


@pytest.mark.skipif(not os.path.isdir(BENCH), reason="reference bench not mounted")
@pytest.mark.parametrize(
    "name,z,x,y",
    [("enf.t5yd5cdi_14_13089_8506.vector.mvt", 14, 13089, 8506),
     ("multi_line_13_1310_3166.vector.mvt", 13, 1310, 3166)],
)
def test_parity_reference_bench_tiles(name, z, x, y):
    """Every feature of the reference's own bench tiles decodes through
    the vectorized path (no declines) with coordinates identical to the
    scalar walk."""
    buf = open(f"{BENCH}/{name}", "rb").read()
    data = Z.decompress(buf)
    minx, _miny, maxx, maxy = tilemath.tile_mercator_bbox_np(x, y, z)
    n_vec = 0
    for lb in pbf.decode_tile(data):
        lay = pbf.decode_layer(lb)
        scale = lay["extent"] / (float(maxx) - float(minx))
        for fm in lay["features"]:
            f = pbf.decode_feature(fm)
            if not len(f["geometry"]):
                continue
            kw = dict(version=lay["version"], tile_x=float(minx),
                      tile_y=float(maxy), scale_x=scale, scale_y=-scale)
            gv = _decode1(f["geometry"], f["type"], **kw)
            assert gv is not None, "vec path declined a real-world feature"
            _assert_same(gv, Cmd.decode_geometry(f["geometry"], f["type"], **kw))
            n_vec += 1
    assert n_vec > 0


def test_decode_feature_long_geometry_vectorized():
    """A geometry field of >= 128 bytes decodes in one vectorized pass
    (a uint64 ndarray) to the same values as the per-varint walk that
    shorter fields take (a list); a truncated long field still raises."""
    z = Cmd._zz32
    geom = [(50 << 3) | 1] + [z((i * 37) % 4096) for i in range(100)]
    feat = pbf.encode_feature(7, [0, 1], 1, geom)
    a = pbf.decode_feature(feat)
    assert isinstance(a["geometry"], np.ndarray)
    assert a["id"] == 7 and a["tags"] == [0, 1] and a["type"] == 1
    assert [int(v) for v in a["geometry"]] == geom
    short = pbf.decode_feature(pbf.encode_feature(7, [0, 1], 1, geom[:9]))
    assert short["geometry"] == geom[:9]
    with pytest.raises(ValueError):
        pbf.decode_feature(feat[:-3])


def _flat(gm):
    """Scalar decode result -> list of (n,2) part arrays."""
    k, v = gm
    if k == "empty":
        return []
    if k in ("point", "multipoint", "linestring"):
        return [np.atleast_2d(v)]
    if k == "multilinestring":
        return [np.asarray(p) for p in v]
    if k == "polygon":
        return [np.asarray(r) for r in v]
    return [np.asarray(r) for p in v for r in p]  # multipolygon


def _unpack(d):
    """packed dict -> list of (n,2) part arrays (+exterior flags)."""
    offs = d["offsets"]
    parts = [
        np.column_stack([d["xs"][offs[i] : offs[i + 1]], d["ys"][offs[i] : offs[i + 1]]])
        for i in range(len(offs) - 1)
    ]
    return parts, d.get("exterior")


@pytest.mark.skipif(not os.path.isdir(BENCH), reason="reference bench not mounted")
@pytest.mark.parametrize(
    "name,z,x,y",
    [("enf.t5yd5cdi_14_13089_8506.vector.mvt", 14, 13089, 8506),
     ("multi_line_13_1310_3166.vector.mvt", 13, 1310, 3166)],
)
def test_packed_matches_list_api_reference_tiles(name, z, x, y):
    """The packed parts of every bench-tile feature are the scalar
    decoder's list-form parts, in order."""
    buf = open(f"{BENCH}/{name}", "rb").read()
    data = Z.decompress(buf)
    minx, _miny, maxx, maxy = tilemath.tile_mercator_bbox_np(x, y, z)
    for lb in pbf.decode_tile(data):
        lay = pbf.decode_layer(lb)
        scale = lay["extent"] / (float(maxx) - float(minx))
        for fm in lay["features"]:
            f = pbf.decode_feature(fm)
            if not len(f["geometry"]):
                continue
            kw = dict(version=lay["version"], tile_x=float(minx),
                      tile_y=float(maxy), scale_x=scale, scale_y=-scale)
            pk = _decode1(f["geometry"], f["type"], **kw)
            gl = Cmd.decode_geometry(f["geometry"], f["type"], **kw)
            assert pk is not None
            parts, _ = _unpack(pk)
            flat_parts = _flat(gl)
            assert len(parts) == len(flat_parts)
            for a, b in zip(parts, flat_parts):
                assert np.array_equal(a, b)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.tuples(coord, coord), min_size=3, max_size=10),
                min_size=1, max_size=4))
def test_packed_matches_list_api_random_polygons(rings):
    """Packed polygons vs the scalar decoder's list form: same rings in
    order, and the exterior flags regroup them into the same polygons."""
    arrs = [np.asarray(pts + pts[:1], dtype=np.int64) for pts in rings]
    gt, cmds = Cmd.encode_geometry(("polygon", arrs), [0, 0])
    if gt is None:
        return
    pk = _decode1(cmds, 3, version=2)
    try:
        gl = Cmd.decode_geometry(cmds, 3, version=2)
    except Cmd.DecodeError:
        assert pk is None
        return
    if pk is None:
        return
    if gl[0] == "empty":
        assert pk == Cmd.EMPTY
        return
    parts, ext = _unpack(pk)
    flat_parts = _flat(gl)
    assert len(parts) == len(flat_parts)
    for a, b in zip(parts, flat_parts):
        assert np.array_equal(a, b)
    # exterior flags regroup into the same polygon structure
    if gl[0] == "multipolygon":
        sizes = [len(p) for p in gl[1]]
    else:
        sizes = [len(gl[1])]
    grp = np.cumsum(ext) - 1
    got_sizes = np.bincount(grp).tolist()
    assert got_sizes == sizes


def test_decode_tiles_packed_spark(spark):
    """decode_tiles_packed carries the same features as decode_tiles."""
    from mapnik_vector_tile_spark.operators import decode as D, geom_tiles
    from pyspark.sql import functions as F

    h = tilemath.HALF_OF_EQUATOR
    q = h / 4.0
    rows = [
        ("ln", f"LINESTRING(-{2.5*q} 1000,{2.5*q} 1000)"),
        ("pg", f"POLYGON(({q*0.1} {q*0.1},{q*0.9} {q*0.1},{q*0.9} {q*0.9},{q*0.1} {q*0.9},{q*0.1} {q*0.1}))"),
        ("pt", f"POINT({q*1.5} -{q*1.5})"),
    ]
    geoms = spark.createDataFrame(rows, "gid string, geom_wkt string")
    tiles = geom_tiles.build_geom_tiles(geoms, ["gid"], z=3, id_col="gid").cache()
    packed = D.decode_tiles_packed(tiles).toPandas()
    listed = D.decode_tiles(tiles).toPandas()
    assert len(packed) == len(listed)
    got = packed.sort_values(["z", "x", "y"]).reset_index(drop=True)
    for _, r in got.iterrows():
        offs = np.asarray(r["offsets"])
        assert offs[0] == 0 and (np.diff(offs) > 0).all()
        assert len(r["xs"]) == offs[-1] == len(r["ys"])


@settings(max_examples=50, deadline=None)
@given(st.lists(
    st.tuples(
        st.sampled_from([1, 2, 3]),
        st.lists(st.lists(st.tuples(coord, coord), min_size=3, max_size=8),
                 min_size=1, max_size=3),
    ),
    min_size=1, max_size=12,
), st.sampled_from([1, 2]))
def test_batch_decode_matches_per_feature(specs, version):
    """decode_geometry_vec_batch vs per-feature decode on a mixed batch
    of random small features: a batch entry is either None (feature
    falls back) or identical to the per-feature result."""
    geoms, gtypes = [], []
    cursor = [0, 0]
    for gt_kind, rings in specs:
        if gt_kind == 1:
            pts = np.asarray(rings[0], dtype=np.int64)
            g = ("multipoint", pts)
        elif gt_kind == 2:
            g = ("linestring", np.asarray(rings[0], dtype=np.int64))
        else:
            g = ("polygon", [np.asarray(r + r[:1], dtype=np.int64) for r in rings])
        gt, cmds = Cmd.encode_geometry(g, cursor)
        cursor = [0, 0]  # per-feature cursor reset, like real layers
        if gt is None:
            continue
        geoms.append(cmds)
        gtypes.append(gt)
    if not geoms:
        return
    kw = dict(version=version, tile_x=-100.0, tile_y=100.0,
              scale_x=0.25, scale_y=-0.25)
    batched = _decode(geoms, gtypes, **kw)
    for fi, b in enumerate(batched):
        try:
            ref = Cmd.decode_geometry(geoms[fi], gtypes[fi], **kw)
            err = False
        except Cmd.DecodeError:
            ref, err = None, True
        if b is None:
            continue  # fallback owns the comparison (incl. errors)
        assert not err, "batch produced output where scalar raises"
        _assert_same(b, ref)


def test_batch_decode_buildings_tile():
    """6,800 small tagged polygons decode batch == per-feature."""
    rng = np.random.default_rng(3)
    geoms, gtypes = [], []
    cursor = [0, 0]
    for i in range(2000):
        x0, y0 = rng.integers(0, 4000, size=2)
        s = int(rng.integers(5, 40))
        ring = np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]],
                        dtype=np.int64)
        gt, cmds = Cmd.encode_geometry(("polygon", [ring]), cursor)
        geoms.append(np.asarray(cmds, dtype=np.uint64))
        gtypes.append(gt)
    kw = dict(version=2, tile_x=0.0, tile_y=4096.0, scale_x=1.0, scale_y=-1.0)
    batched = _decode(geoms, gtypes, **kw)
    assert all(b is not None for b in batched)
    for fi, b in enumerate(batched):
        _assert_same(b, Cmd.decode_geometry(geoms[fi], gtypes[fi], **kw))


def test_batch_decode_v1_degenerates_and_v2_fallback():
    z = Cmd._zz32
    degen = [9, z(1), z(1), (1 << 3) | 2, z(0), z(0)]   # MT + zero LT
    good = [9, z(4), z(4), (1 << 3) | 2, z(3), z(3)]
    # v1: degenerate feature decodes empty, good feature decodes
    b1 = _decode([degen, good], [2, 2], version=1)
    assert b1[0] == Cmd.EMPTY
    _assert_same(b1[1], Cmd.decode_geometry(good, 2, version=1))
    # v2: degenerate feature falls back (None) so scalar can raise
    b2 = _decode([degen, good], [2, 2], version=2)
    assert b2[0] is None
    assert b2[1] is not None


# ---------------------------------------------------------------------------
# global-array batch walk + segmented output (round 4)
# ---------------------------------------------------------------------------

def _random_feature_corpus(rng, n=400):
    """Mixed small features (points/lines/polygons incl. holes), plus a
    few malformed streams the walks must decline identically."""
    geoms, gtypes = [], []
    for i in range(n):
        kind = i % 4
        if kind == 0:
            pts = rng.integers(0, 4096, size=(int(rng.integers(1, 5)), 2))
            g = ("multipoint", pts.astype(np.int64))
        elif kind == 1:
            pts = rng.integers(0, 4096, size=(int(rng.integers(2, 8)), 2))
            g = ("linestring", pts.astype(np.int64))
        elif kind == 2:
            x0, y0 = rng.integers(0, 4000, size=2)
            s = int(rng.integers(5, 40))
            ring = np.array(
                [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]],
                dtype=np.int64,
            )
            hole = np.array(
                [[x0 + 2, y0 + 2], [x0 + 2, y0 + 4], [x0 + 4, y0 + 4]],
                dtype=np.int64,
            )
            g = ("polygon", [ring] if i % 8 else [ring, hole])
        else:
            x0, y0 = rng.integers(0, 4000, size=2)
            g = ("multilinestring", [
                np.array([[x0, y0], [x0 + 3, y0 + 3]], dtype=np.int64),
                np.array([[x0 + 9, y0], [x0 + 9, y0 + 7]], dtype=np.int64),
            ])
        gt, cmds = Cmd.encode_geometry(g, [0, 0])
        if gt is None:
            continue
        geoms.append(np.asarray(cmds, dtype=np.uint64))
        gtypes.append(gt)
    # malformed: bad command id, zero-count MoveTo, truncated stream
    z = Cmd._zz32
    for bad in ([(1 << 3) | 5, z(1), z(1)], [(0 << 3) | 1], [9, z(1)]):
        geoms.append(np.asarray(bad, dtype=np.uint64))
        gtypes.append(2)
    return geoms, gtypes


@pytest.mark.parametrize("version", [1, 2])
def test_batch_global_matches_list_batch(version):
    """The list entry (default walk cutoff) and the global-array entry
    with every stream forced through the periodic-run walk agree entry
    by entry — same declines, same geometry."""
    rng = np.random.default_rng(11)
    geoms, gtypes = _random_feature_corpus(rng)
    kw = dict(version=version, tile_x=-5.0, tile_y=5.0, scale_x=0.5, scale_y=-0.5)
    a = Cmd.decode_geometry_vec_batch(geoms, gtypes, **kw)
    gvals = np.concatenate(geoms)
    goff = np.concatenate([[0], np.cumsum([len(g) for g in geoms])])
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Cmd, "_FRONTIER_MAX", 0)
        b = Cmd.decode_geometry_vec_batch_global(gvals, goff, gtypes, **kw)
    assert len(a) == len(b)
    for ga, gb in zip(a, b):
        _assert_packed_equal(ga, gb)


@pytest.mark.parametrize("version", [1, 2])
@pytest.mark.parametrize("use_bbox", [False, True])
def test_batch_matches_scalar_corpus(version, use_bbox):
    """Every feature of a mixed corpus: the batch's packed dict equals
    the scalar result through _pack_from_parts, and the WKT written from
    it equals to_wkt of the scalar result. Only the malformed streams
    decline."""
    rng = np.random.default_rng(7)
    geoms, gtypes = _random_feature_corpus(rng)
    kw = dict(version=version, tile_x=0.0, tile_y=4096.0, scale_x=1.0, scale_y=-1.0)
    if use_bbox:
        kw["bbox"] = (500.0, 500.0, 3000.0, 3000.0)
    batched = _decode(geoms, gtypes, **kw)
    n_packed = 0
    for fi, b in enumerate(batched):
        if b is None:
            with pytest.raises(Cmd.DecodeError):
                Cmd.decode_geometry(geoms[fi], gtypes[fi], **kw)
            continue
        gs = Cmd.decode_geometry(geoms[fi], gtypes[fi], **kw)
        _assert_same(b, gs)
        if isinstance(b, dict):
            n_packed += 1
            assert G.wkt_from_packed([b])[0] == G.to_wkt(gs)
    assert sum(b is None for b in batched) == 3  # the malformed streams
    assert n_packed > 100


def _stream(blocks):
    """Block list [(cmd, count, values)] -> one command stream."""
    out = []
    for c, k, vals in blocks:
        out.append((k << 3) | c)
        out.extend(vals)
    return out


# MoveTo / LineTo / Close plus two unknown command ids; count 0 and a
# cut-off tail make malformed streams
_block = st.tuples(
    st.sampled_from([Cmd.MOVE_TO, Cmd.LINE_TO, Cmd.CLOSE, 3, 0]),
    st.integers(min_value=0, max_value=3),
).map(lambda ck: (*ck, list(range(2 * ck[1])) if ck[0] in (Cmd.MOVE_TO, Cmd.LINE_TO) else []))


@settings(max_examples=80, deadline=None)
@given(st.lists(
    st.tuples(
        st.lists(_block, min_size=1, max_size=3),   # repeated pattern
        st.integers(min_value=1, max_value=12),      # repetitions
        st.lists(_block, max_size=3),                # tail
        st.integers(min_value=0, max_value=2),       # values cut off the end
    ),
    min_size=1, max_size=5,
))
def test_walks_fill_identical_block_tables(specs):
    """The frontier walk and the periodic-run walk turn the same streams
    into the same block table (command, count, value start, feature)
    and decline the same malformed streams."""
    streams = []
    for pattern, reps, tail, cut in specs:
        s = _stream(pattern * reps + tail)
        s = s[: max(1, len(s) - cut)]
        streams.append(s)
    G_all = np.concatenate([np.asarray(s, dtype=np.uint32) for s in streams])
    off = np.concatenate([[0], np.cumsum([len(s) for s in streams])]).astype(np.int64)
    ok_f = np.ones(len(streams), dtype=bool)
    frontier = Cmd._frontier_walk(G_all, off, np.arange(len(streams)), ok_f)
    ok_p = np.ones(len(streams), dtype=bool)
    periodic = []
    for fi in range(len(streams)):
        t = Cmd._periodic_walk(G_all, int(off[fi]), int(off[fi + 1]))
        if t is None:
            ok_p[fi] = False
        else:
            periodic.append((*t, np.full(len(t[0]), fi, dtype=np.int64)))
    assert ok_f.tolist() == ok_p.tolist()
    want = [np.concatenate(c) for c in zip(*periodic)] if periodic else [[]] * 4
    for got, exp in zip(frontier, want):
        assert np.asarray(got).tolist() == np.asarray(exp).tolist()


def test_to_wkt_batch_matches_scalar():
    rng = np.random.default_rng(3)
    geoms = [
        ("empty", None),
        ("point", np.array([1.5, -2.25])),
        ("multipoint", rng.uniform(-1e7, 1e7, size=(4, 2))),
        ("linestring", rng.uniform(-1e7, 1e7, size=(5, 2))),
        ("multilinestring", [rng.uniform(-10, 10, size=(3, 2)) for _ in range(2)]),
        ("polygon", [rng.uniform(-10, 10, size=(4, 2))]),
        ("multipolygon", [[rng.uniform(-10, 10, size=(4, 2))] for _ in range(2)]),
    ]
    assert G.to_wkt_batch(geoms) == [G.to_wkt(g) for g in geoms]


def test_gpack_from_packed_roundtrip():
    """gpack bytes built straight from the packed arrays must gunpack to
    the same rings/part structure the tuple form carries."""
    rng = np.random.default_rng(5)
    cases = [
        ("multipoint", rng.uniform(-100, 100, size=(3, 2))),
        ("multilinestring", [rng.uniform(-100, 100, size=(4, 2)) for _ in range(3)]),
        ("multipolygon", [
            [rng.uniform(-100, 100, size=(5, 2)), rng.uniform(-1, 1, size=(4, 2))],
            [rng.uniform(-100, 100, size=(4, 2))],
        ]),
    ]
    for kind, val in cases:
        pk = _pack_from_parts((kind, val))[1]
        gpk, env = G.gpack_from_packed(
            pk["kind"], pk["xs"], pk["ys"], pk["offsets"], pk.get("exterior")
        )
        k2, v2 = G.gunpack(gpk)
        assert k2 == kind
        flat = np.concatenate([
            np.atleast_2d(r) for r in (
                [v2] if kind == "multipoint"
                else v2 if kind == "multilinestring"
                else [r for poly in v2 for r in poly]
            )
        ])
        assert np.allclose(flat[:, 0], pk["xs"]) and np.allclose(flat[:, 1], pk["ys"])
        assert env == (
            float(pk["xs"].min()), float(pk["ys"].min()),
            float(pk["xs"].max()), float(pk["ys"].max()),
        )


def _packed_region(n, c, seed=11, feature_ids=None):
    from mapnik_vector_tile_spark.functions import commands as Cmd
    from mapnik_vector_tile_spark.functions import pbf as P

    rng = np.random.default_rng(seed)
    pxy = rng.integers(0, 4096, size=(n, 2)).astype(np.int64)
    zz = np.column_stack(
        [Cmd.zigzag32(pxy[:, 0]), Cmd.zigzag32(pxy[:, 1])]
    ).astype(np.uint32)
    tags = np.empty((n, 2 * c), dtype=np.int64)
    for j in range(c):
        tags[:, 2 * j] = j
        tags[:, 2 * j + 1] = rng.integers(0, 3 * n, size=n)
    blob = P.encode_point_features_packed(tags, zz, feature_ids)
    return bytes(blob), tags, zz


def test_uniform_point_columns_matches_full_decode():
    """The targeted-column lane must return exactly the columns the full
    decode_varints_vec + _packed_rows_ok path produced (it replaced that
    path in the splitter and the columnar kernel)."""
    from mapnik_vector_tile_spark.functions import pbf as P
    from mapnik_vector_tile_spark.operators.decode import _packed_rows_ok

    for c in (1, 3, 7):
        region, tags, zz = _packed_region(257, c, seed=c)
        res = P.uniform_point_columns(region, c)
        assert res is not None
        vidx, zz_out, row_ok = res
        assert row_ok.all()
        assert np.array_equal(vidx.astype(np.int64), tags[:, 1::2])
        assert np.array_equal(zz_out, zz)
        # reference implementation agrees row for row
        vals, vlens = P.decode_varints_vec(region, return_lengths=True)
        w = 11 + 2 * c
        m, ml = vals.reshape(-1, w), vlens.reshape(-1, w)
        assert np.array_equal(row_ok, _packed_rows_ok(m, ml, c))


def test_uniform_point_columns_rejects_mutations():
    """Byte mutations must be flagged per row (or the region rejected),
    exactly like the full-decode verification: no silent garbage rows."""
    from mapnik_vector_tile_spark.functions import pbf as P
    from mapnik_vector_tile_spark.operators.decode import _packed_rows_ok

    c = 3
    region, _tags, _zz = _packed_region(64, c, seed=9)
    w = 11 + 2 * c
    rng = np.random.default_rng(41)
    n_checked = 0
    for _ in range(200):
        buf = bytearray(region)
        i = int(rng.integers(0, len(buf)))
        buf[i] ^= int(rng.integers(1, 256))
        mut = bytes(buf)
        res = P.uniform_point_columns(mut, c)
        try:
            vals, vlens = P.decode_varints_vec(mut, return_lengths=True)
            full_frames = None
            if len(vals) and len(vals) % w == 0:
                full_frames = _packed_rows_ok(
                    vals.reshape(-1, w), vlens.reshape(-1, w), c
                )
        except ValueError:
            full_frames = None
        if res is None:
            # the targeted lane rejects exactly when the stream cannot
            # frame (truncated varint / count not divisible by w) — the
            # same conditions that make the full path bail
            assert full_frames is None
            continue
        vidx, zz_out, row_ok = res
        if full_frames is not None:
            assert np.array_equal(row_ok, full_frames)
            n_checked += 1
    assert n_checked > 50  # most single-byte flips keep the frame count


def test_decode_varints_known_length_classes():
    """Direct unit for the length-class decoder: every byte length 1-10
    (uint32 fast lane and uint64 lane), plus the >10-byte hostile class
    (ok=False), against values encoded by the scalar writer."""
    from mapnik_vector_tile_spark.functions import pbf as P

    vals = [0, 1, 127, 128, 300, 2**14 - 1, 2**21 - 1, 2**28 - 1,
            2**28, 2**35 - 1, 2**42 + 5, 2**49 + 9, 2**56 + 3, 2**63,
            2**64 - 1]
    blob = bytearray()
    pos, lns = [], []
    for v in vals:
        pos.append(len(blob))
        before = len(blob)
        P.write_varint(blob, v)
        lns.append(len(blob) - before)
    buf = np.frombuffer(bytes(blob), dtype=np.uint8)
    out, ok = P.decode_varints_known(
        buf, np.array(pos, dtype=np.int64), np.array(lns, dtype=np.int64)
    )
    assert ok.all()
    assert [int(v) for v in out] == vals
    # hostile: an 11-byte pseudo-varint must flag ok=False, decode 0
    hostile = np.frombuffer(b"\x80" * 11 + b"\x01", dtype=np.uint8)
    out2, ok2 = P.decode_varints_known(
        hostile, np.array([0], dtype=np.int64), np.array([12], dtype=np.int64)
    )
    assert not ok2[0] and int(out2[0]) == 0
