"""Generated-batch parity for the one encode core.

Every tile the encoders write — the point kernel (point_tile_kernel),
the geometry kernel (geom_tile_kernel) and the one-tile geometry call
(encode_geom_layer) — is decoded and checked feature by feature against
the scalar reference: encode._scalar_geom_feature (transform, simplify,
clip, Cmd.encode_geometry) per row, with the row's non-null properties,
its id and its raster. Layer keys, feature order, ids, commands, Value
types, key presence and raster bytes are compared.

The batches hold nulls in every property type (nullable int, double,
bool, string), an all-null column, rasters (with raster-only rows),
geometry collections, polygons that need the fill resolver and polygons
over its vertex budget, and tiles that straddle Arrow frames; the
geometry cases run under each wagyu knob.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.operators import assign as A
from mapnik_vector_tile_spark.operators import decode as D
from mapnik_vector_tile_spark.operators import encode as E
from mapnik_vector_tile_spark.operators import geom_tiles as GT

PROPS = ["rank", "score", "flag", "name", "nothing"]
EXTENT = 4096
KNOBS = {
    "default": {},
    "multi_polygon_union": {"multi_polygon_union": True},
    "process_all_rings": {"process_all_rings": True},
}


def _props(i: int) -> dict:
    """Row i's properties, a null in every type: nullable int (as an
    object column of ints, the form the builders hand the kernels),
    double (narrowable or not), bool, string, and an all-null column."""
    return {
        "rank": None if i % 4 == 1 else int(i % 9),
        "score": np.nan if i % 5 == 2 else (i % 7) * (0.5 if i % 2 else 0.1),
        "flag": None if i % 6 == 3 else bool(i % 2),
        "name": None if i % 7 == 4 else f"n{i % 11}",
        "nothing": None,
    }


def _frame(rows: list[dict]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows)
    for c in ("rank", "flag", "name", "nothing"):
        pdf[c] = pd.Series([r[c] for r in rows], dtype=object)
    return pdf


def _frames(pdf: pd.DataFrame, size: int) -> list[pd.DataFrame]:
    return [pdf.iloc[i : i + size].reset_index(drop=True) for i in range(0, len(pdf), size)]


def _view(z: int, x: int, y: int):
    minx, miny, maxx, maxy = (float(v) for v in tilemath.tile_mercator_bbox_np(x, y, z))
    return G.ViewTransform(minx, miny, maxx, maxy, EXTENT, EXTENT)


def _expected(row: dict, geom, vt, buffer_px: int = 0, simplify: float = 0.0,
              fid=None, stats: dict | None = None, **kw) -> list[tuple]:
    """The scalar reference features of one row: (id, typed non-null
    props, type, commands, raster); a raster row with no geometry left
    is one geometry-less feature."""
    feats = E._scalar_geom_feature(
        geom, vt, tilemath.buffered_tile_px_box(EXTENT, buffer_px), simplify,
        0.1, {} if stats is None else stats, **kw,
    )
    props = {
        k: (pbf.value_type_tag(v), v)
        for k in PROPS
        if (v := row[k]) is not None and not (isinstance(v, float) and np.isnan(v))
    }
    raster = row.get("raster")
    fid = 0 if fid is None else int(fid)
    if not feats:
        return [(fid, props, 0, [], raster)] if raster is not None else []
    return [
        (fid, props, gt, [int(c) for c in cmds], raster if m == 0 else None)
        for m, (gt, cmds) in enumerate(feats)
    ]


def _decoded_layer(layer: bytes) -> list[tuple]:
    meta = pbf.decode_layer(layer)
    assert meta["keys"] == PROPS and meta["extent"] == EXTENT
    out = []
    for f in meta["features"]:
        d = pbf.decode_feature(f)
        t = d["tags"]
        props = {}
        for i in range(0, len(t), 2):
            v = meta["values"][t[i + 1]]
            props[meta["keys"][t[i]]] = (pbf.value_type_tag(v), v)
        raster = None if d["raster"] is None else bytes(d["raster"])
        # decode_feature returns a >= 128-byte geometry as an ndarray
        geom = [int(c) for c in d["geometry"]]
        out.append((d["id"], props, d["type"], geom, raster))
    return out


def _decoded_tile(tile: bytes) -> list[tuple]:
    layers = pbf.decode_tile(zlib.decompress(tile))
    assert len(layers) == 1
    return _decoded_layer(layers[0])


# ---------------------------------------------------------------------------
# points
# ---------------------------------------------------------------------------

def _point_batch(with_raster: bool) -> pd.DataFrame:
    """Sorted point rows of five z9 tiles (one of 130 rows, one of 1);
    every 8th row lies outside its tile's buffer and is dropped."""
    rng = np.random.default_rng(11)
    rows, i = [], 0
    for (x, y), n in [((100, 200), 40), ((100, 201), 3), ((101, 7), 130),
                      ((300, 5), 1), ((300, 6), 25)]:
        minx, miny, maxx, maxy = (float(v) for v in tilemath.tile_mercator_bbox_np(x, y, 9))
        for _ in range(n):
            u, v = rng.uniform(0.01, 0.99, 2)
            if i % 8 == 7:
                u += 1.5
            row = {"z": 9, "x": x, "y": y, **_props(i),
                   "mx": minx + (maxx - minx) * u, "my": miny + (maxy - miny) * v}
            if with_raster:
                row["raster"] = None if i % 3 else f"r{i}".encode() * (1 + i % 4)
            rows.append(row)
            i += 1
    return _frame(rows)


def _point_reference(pdf: pd.DataFrame) -> dict:
    """(z, x, y) -> reference features; a point outside its tile's
    buffer (P4) is dropped with its raster."""
    out: dict = {}
    for row in pdf.to_dict("records"):
        key = (int(row["z"]), int(row["x"]), int(row["y"]))
        vt = _view(*key)
        if vt.minx <= row["mx"] <= vt.maxx:
            geom = ("point", np.array([row["mx"], row["my"]]))
            out.setdefault(key, []).extend(_expected(row, geom, vt))
    return out


@pytest.mark.parametrize("frame_rows", [13, 10_000])
@pytest.mark.parametrize("with_raster", [False, True])
def test_point_kernel_matches_scalar(with_raster, frame_rows):
    """Every point tile, straddling frames or whole in one, decodes to
    the scalar reference: null values dropped with their key, ints
    stay ints, rasters attach to their own feature."""
    pdf = _point_batch(with_raster)
    kernel = E.point_tile_kernel(
        PROPS, raster_col="raster" if with_raster else None, hot_threshold=0,
    )
    got = pd.concat(list(kernel(iter(_frames(pdf, frame_rows)))), ignore_index=True)
    assert got[["z", "x", "y"]].duplicated().sum() == 0
    want = _point_reference(pdf)
    assert {(r.z, r.x, r.y) for r in got.itertuples()} == set(want)
    for r in got.itertuples():
        feats = _decoded_tile(r.tile)
        assert feats == want[(r.z, r.x, r.y)]
        assert r.n_features == len(feats) and r.painted and r.n_layers == 1


# ---------------------------------------------------------------------------
# geometries
# ---------------------------------------------------------------------------

def _ring(cx, cy, r, n=24, turns=1.0, zigzag=0.0):
    t = np.linspace(0.0, 2.0 * np.pi * turns, n, endpoint=False)
    rr = r * (1.0 + zigzag * (-1.0) ** np.arange(n))  # survives simplify
    ring = np.stack([cx + rr * np.cos(t), cy + rr * np.sin(t)], axis=1)
    return np.vstack([ring, ring[:1]])


def _shapes(minx, miny, maxx, maxy, rng) -> list:
    """One tile's geometries in mercator: inside and crossing shapes of
    every kind, a holed polygon, a bowtie and a double-wound ring (the
    fill resolver), a 300-vertex double-wound ring (over the lowered
    resolver budget), collections, and an empty geometry."""
    w, h = maxx - minx, maxy - miny

    def at(u, v):
        return np.array([minx + w * u, miny + h * v])

    out = []
    for k in range(14):
        c = at(*rng.uniform(0.1, 0.9, 2))
        s = w * rng.uniform(0.02, 0.2)
        kind = k % 7
        if kind == 0:
            out.append(("point", c))
        elif kind == 1:
            out.append(("multipoint", c + rng.uniform(-s, s, (4, 2))))
        elif kind == 2:
            out.append(("linestring", c + np.cumsum(rng.uniform(-s, s, (6, 2)), axis=0)))
        elif kind == 3:
            out.append(("polygon", [_ring(*c, s), _ring(*c, s / 3)[::-1]]))
        elif kind == 4:
            out.append(("multipolygon", [[_ring(*c, s, 5)], [_ring(*(c + 3 * s), s, 7)]]))
        elif kind == 5:  # crossing the tile edge
            out.append(("linestring", np.array([c, at(1.3, rng.uniform(0, 1))])))
        else:
            out.append(("polygon", [_ring(*at(0.95, 0.5), w * 0.2, 9)]))
    c = at(0.5, 0.5)
    s = w * 0.1
    out += [
        ("polygon", [np.array([c, c + [s, s], c + [s, 0], c + [0, s], c])]),  # bowtie
        ("polygon", [_ring(*c, s, 20, turns=2.0)]),  # double-wound
        ("polygon", [_ring(*c, s * 2, 300, turns=2.0, zigzag=0.03)]),  # over budget
        ("geometrycollection", [("point", c), ("linestring", np.array([c, c + s]))]),
        ("geometrycollection", [("point", at(5.0, 5.0))]),  # nothing survives
        ("empty", None),
    ]
    return out


def _geom_batch(with_ids: bool = False, with_raster: bool = False):
    """Sorted geometry rows of three z10 tiles."""
    rng = np.random.default_rng(5)
    rows, i = [], 0
    for x, y in [(300, 400), (300, 401), (301, 400)]:
        bbox = (float(v) for v in tilemath.tile_mercator_bbox_np(x, y, 10))
        for k, g in enumerate(_shapes(*bbox, rng)):
            row = {"z": 10, "x": x, "y": y, "_gpk": G.gpack(g), **_props(i)}
            if with_ids:
                row["fid"] = 1000 + i
            if with_raster:
                # every 4th row, the collection, and the two rows whose
                # geometry does not survive
                row["raster"] = f"g{i}".encode() if k % 4 == 0 or k >= 17 else None
            rows.append(row)
            i += 1
    return _frame(rows)


def _geom_reference(pdf, key, buffer_px=0, simplify=0.0, **kw) -> tuple[list, int]:
    """Tile ``key``'s reference features and its count of fill-resolver
    budget fallbacks."""
    out: list = []
    stats: dict = {}
    for row in pdf.to_dict("records"):
        if (row["z"], row["x"], row["y"]) == key:
            out += _expected(row, G.gunpack(row["_gpk"]), _view(*key), buffer_px,
                             simplify, fid=row.get("fid"), stats=stats, **kw)
    return out, stats.get("budget_exceeded", 0)


@pytest.fixture
def low_budget(monkeypatch):
    """Fill-resolver budget lowered so the 300-vertex ring exceeds it."""
    monkeypatch.setattr(G, "RESOLVE_VERTEX_BUDGET", 200)


@pytest.mark.parametrize("knob", list(KNOBS))
def test_geom_kernel_matches_scalar(low_budget, knob):
    """Every geometry tile, straddling 7-row frames, decodes to the
    scalar reference; n_unresolved counts the over-budget polygons."""
    pdf = _geom_batch()
    kernel = GT.geom_tile_kernel(PROPS, buffer_px=64, simplify_distance=1.0, **KNOBS[knob])
    got = pd.concat(list(kernel(iter(_frames(pdf, 7)))), ignore_index=True)
    assert len(got) == 3
    for r in got.itertuples():
        want, unresolved = _geom_reference(pdf, (r.z, r.x, r.y), 64, 1.0, **KNOBS[knob])
        assert _decoded_tile(r.tile) == want
        assert r.n_features == len(want)
        assert r.n_unresolved == unresolved >= 1


@pytest.mark.parametrize("knob", list(KNOBS))
def test_geom_layer_ids_rasters_match_scalar(low_budget, knob):
    """encode_geom_layer (the one-tile call): ids, rasters on geometry
    rows and on rows whose geometry does not survive, every knob."""
    pdf = _geom_batch(with_ids=True, with_raster=True)
    key = (10, 300, 401)
    one = pdf[(pdf["x"] == key[1]) & (pdf["y"] == key[2])].reset_index(drop=True)
    stats: dict = {}
    layer, nf = E.encode_geom_layer(
        one, *key, "layer", PROPS, geom_col="_gpk", id_col="fid", stats=stats,
        raster_col="raster", **KNOBS[knob],
    )
    want, unresolved = _geom_reference(pdf, key, **KNOBS[knob])
    assert any(f[2] == 0 for f in want)  # a raster-only feature is covered
    assert _decoded_layer(layer) == want and nf == len(want)
    assert stats["budget_exceeded"] == unresolved >= 1


def test_geom_layer_empty_when_nothing_survives():
    far = np.array([[1e7, 1e7], [1.1e7, 1e7]])
    pdf = _frame([{"_gpk": G.gpack(("linestring", far)), **_props(0)}])
    assert E.encode_geom_layer(pdf, 10, 300, 400, "layer", PROPS, geom_col="_gpk") == (b"", 0)


# ---------------------------------------------------------------------------
# the declared integer type through Spark
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("hot_threshold,prechunk_hot", [
    (120_000, False),  # the whole tile in one batch call
    (1, False),  # hot pieces joined into one tile
    (1, True),  # hot pieces as standalone tile rows
])
def test_build_point_tiles_keeps_nullable_int_type(spark, hot_threshold, prechunk_hot):
    """Arrow hands the kernel a nullable int column as float64 when the
    batch holds a null; the written Values stay ints on every lane. Two
    rows per Arrow batch: the tile straddles a float64 frame (7, null)
    and an int64 frame (9), which the hot lanes concatenate."""
    lon = [13.40, 13.41, 13.42]
    lat = [52.52, 52.53, 52.54]
    x, y = tilemath.lonlat_to_tile_np(np.array(lon), np.array(lat), 5)
    assert len(set(zip(x, y))) == 1  # one z5 tile
    df = spark.createDataFrame(
        list(zip(["a", "b", "c"], [7, None, 9], lon, lat)),
        "image_id string, rank int, lon double, lat double",
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        tiles = E.build_point_tiles(
            A.assign_tiles(df, 5), prop_cols=["image_id", "rank"], order_col="image_id",
            hot_threshold=hot_threshold, prechunk_hot=prechunk_hot,
        )
        rows = tiles.where(F.col("painted")).collect()
        props = [dict(p) for p in D.decode_tiles(tiles).toPandas()["props"]]
    finally:
        spark.conf.set(conf, saved)
    assert len(rows) == (3 if prechunk_hot else 1)
    ranks = []
    for row in sorted(rows, key=lambda r: bytes(r["tile"])):
        meta = pbf.decode_layer(pbf.decode_tile(zlib.decompress(bytes(row["tile"])))[0])
        ranks += [
            meta["values"][t[3]]
            for t in (pbf.decode_feature(f)["tags"] for f in meta["features"])
            if len(t) == 4
        ]
    assert sorted((pbf.value_type_tag(v), v) for v in ranks) == [("int", 7), ("int", 9)]
    assert sorted("rank" in p for p in props) == [False, True, True]
    assert sorted(p["rank"] for p in props if "rank" in p) == ["7", "9"]
