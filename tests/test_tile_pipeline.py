"""End-to-end Spark tile pipeline: images fixture -> assignment ->
per-tile pbf encode -> decode round-trip -> invariants.

Mirrors the reference's system tests (processor_and_datasource.cpp,
encode_and_datasource_decode.cpp): every encoded feature decodes back
with identical membership, properties, and quantization-accurate
location.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.operators import assign, composite, decode, encode
from mapnik_vector_tile_spark.sources import images as IMG

Z_TEST = 13


@pytest.fixture(scope="module")
def located(images_small):
    return IMG.with_location(images_small)


@pytest.fixture(scope="module")
def tiles(located):
    assigned = assign.assign_tiles(located, Z_TEST)
    return encode.build_point_tiles(
        assigned,
        prop_cols=["image_id", "caption", "fmt"],
        order_col="image_id",
    ).cache()


def test_assignment_matches_numpy_oracle(located):
    pdf = located.select("image_id", "phash", "lon", "lat").toPandas()
    lon_e, lat_e = IMG.location_np(pdf["image_id"].to_numpy(), pdf["phash"].to_numpy())
    np.testing.assert_allclose(pdf["lon"], lon_e, atol=1e-12)
    np.testing.assert_allclose(pdf["lat"], lat_e, atol=1e-12)
    assigned = assign.assign_tiles(located, Z_TEST).select("image_id", "x", "y").toPandas()
    xe, ye = tilemath.lonlat_to_tile_np(lon_e, lat_e, Z_TEST)
    merged = assigned.sort_values("image_id").reset_index(drop=True)
    order = np.argsort(pdf["image_id"].to_numpy())
    np.testing.assert_array_equal(merged["x"].to_numpy(), xe[order])
    np.testing.assert_array_equal(merged["y"].to_numpy(), ye[order])


def test_hotspot_skew_exists(located):
    """FIXTURES skew clause: ~30% of rows in one z13 tile."""
    counts = (
        assign.assign_tiles(located, Z_TEST).groupBy("x", "y").count().orderBy(F.desc("count"))
    )
    top = counts.first()
    assert top["count"] >= 0.25 * 2000


def test_tiles_roundtrip_membership_and_props(tiles, located):
    n_in = located.count()
    decoded = decode.decode_tiles(tiles)
    out = decoded.toPandas()
    assert len(out) == n_in  # every image row lands in exactly one tile
    # props carried through dictionaries
    src = located.select("image_id", "caption", "fmt", "lon", "lat").toPandas()
    src = src.set_index(src["image_id"])
    got_ids = sorted(m["image_id"] for m in out["props"])
    assert got_ids == sorted(src["image_id"])
    for _, row in out.sample(50, random_state=1).iterrows():
        p = row["props"]
        assert p["caption"] == src.loc[p["image_id"], "caption"]
        assert p["fmt"] == src.loc[p["image_id"], "fmt"]


def test_roundtrip_location_within_quantization(tiles, located):
    """Decoded mercator position within one tile-pixel of the source
    (extent 4096 quantization)."""
    decoded = decode.decode_tiles(tiles).toPandas()
    src = located.select("image_id", "lon", "lat").toPandas()
    mx, my = tilemath.mercator_np(src["lon"].to_numpy(), src["lat"].to_numpy())
    src_pos = {i: (a, b) for i, a, b in zip(src["image_id"], mx, my)}
    from mapnik_vector_tile_spark.functions import geometry as G

    ts = tilemath.EARTH_CIRCUMFERENCE / 2**Z_TEST
    px_size = ts / 4096.0
    for _, row in decoded.sample(100, random_state=2).iterrows():
        kind, val = G.from_wkt(row["geom_wkt"])
        assert kind == "point"
        ex, ey = src_pos[row["props"]["image_id"]]
        assert abs(val[0] - ex) <= px_size
        assert abs(val[1] - ey) <= px_size


def test_tile_binary_is_zlib_and_valid_pbf(tiles):
    row = tiles.where(F.col("painted")).first()
    raw = bytes(row["tile"])
    assert Z.is_zlib_compressed(raw)
    layers = pbf.decode_tile(Z.decompress(raw))
    assert len(layers) == row["n_layers"] == 1
    meta = pbf.decode_layer(layers[0])
    assert meta["version"] == 2 and meta["extent"] == 4096
    assert meta["keys"] == ["image_id", "caption", "fmt"]
    assert len(meta["features"]) == row["n_features"]


def test_value_dictionary_type_qualified():
    """int 1, bool True, float 1.0 are distinct dictionary entries
    (vector_tile_layer.hpp:54-69), whether they sit in three columns or
    mix in one object column (as a re-encoded foreign layer gives)."""
    pk = G.gpack(("point", np.array([1000.0, 1000.0])))
    pdf = pd.DataFrame({
        "_gpk": [pk] * 3,
        "a": [1, 1, 1], "b": [True] * 3, "c": [1.0] * 3,
        "k": pd.Series([1, True, 1.0], dtype=object),
    })
    layer, nf = encode.encode_geom_layer(
        pdf, 0, 0, 0, "layer", ["a", "b", "c", "k"], geom_col="_gpk"
    )
    meta = pbf.decode_layer(layer)
    assert nf == 3 and meta["keys"] == ["a", "b", "c", "k"]
    tags = [pbf.decode_feature(f)["tags"] for f in meta["features"]]
    typed = [
        [(meta["keys"][t[i]], pbf.value_type_tag(meta["values"][t[i + 1]]))
         for i in range(0, len(t), 2)]
        for t in tags
    ]
    assert typed[0] == [("a", "int"), ("b", "bool"), ("c", "float"), ("k", "int")]
    assert [row[3] for row in typed] == [("k", "int"), ("k", "bool"), ("k", "float")]
    k_slots = [t[7] for t in tags]
    assert len(set(k_slots)) == 3  # not collapsed into one value


def test_value_float_narrowing():
    """double->FLOAT iff losslessly narrowable (vector_tile_layer.ipp:29-62)."""
    assert pbf.value_type_tag(0.5) == "float"
    assert pbf.value_type_tag(0.1) == "double"
    v = pbf.decode_value(pbf.encode_value(0.5))
    assert v == 0.5
    v = pbf.decode_value(pbf.encode_value(0.1))
    assert v == 0.1


def test_composite_fast_path_first_wins(spark, tiles):
    """Merging a tile set with itself keeps one layer per name
    (composite.hpp:56-63)."""
    t1 = tiles.withColumn("source", F.lit(1))
    t2 = tiles.withColumn("source", F.lit(2))
    merged = composite.merge_tiles_fast(t1.unionByName(t2))
    a = tiles.selectExpr("z", "x", "y", "n_features as nf").toPandas()
    b = merged.selectExpr("z", "x", "y", "n_features as nf").toPandas()
    a = a.sort_values(["z", "x", "y"]).reset_index(drop=True)
    b = b.sort_values(["z", "x", "y"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_composite_merges_distinct_layers(spark, images_small):
    """Two sources with different layer names both land in the tile."""
    located = IMG.with_location(images_small).limit(200)
    assigned = assign.assign_tiles(located, 3)
    t1 = encode.build_point_tiles(assigned, ["caption"], layer_name="a", order_col="image_id")
    t2 = encode.build_point_tiles(assigned, ["caption"], layer_name="b", order_col="image_id")
    merged = composite.merge_tiles_fast(
        t1.withColumn("source", F.lit(1)).unionByName(t2.withColumn("source", F.lit(2)))
    )
    row = merged.where(F.col("n_layers") == 2).first()
    assert row is not None
    names = [pbf.decode_layer(l)["name"] for l in pbf.decode_tile(Z.decompress(bytes(row["tile"])))]
    assert names == ["a", "b"]


def test_features_at_point(tiles, located):
    """S4 point lookup: pick one source row, query its location."""
    src = located.select("image_id", "lon", "lat").first()
    ts = tilemath.EARTH_CIRCUMFERENCE / 2**Z_TEST
    hits = decode.features_at_point(
        tiles, src["lon"], src["lat"], tol_merc=ts / 4096.0 * 2
    ).toPandas()
    assert any(m["image_id"] == src["image_id"] for m in hits["props"])


def test_features_at_point_packed(tiles, located):
    """S4 packed form (r4): same hits as the WKT lookup, geometry as
    ragged arrays; the query bbox is pushed into the decoder, so every
    returned geometry intersects the tolerance box."""
    src = located.select("image_id", "lon", "lat").first()
    ts = tilemath.EARTH_CIRCUMFERENCE / 2**Z_TEST
    tol = ts / 4096.0 * 2
    wkt_hits = decode.features_at_point(
        tiles, src["lon"], src["lat"], tol_merc=tol, packed=False
    )
    pk_hits = decode.features_at_point(  # packed is the default (r4 verdict)
        tiles, src["lon"], src["lat"], tol_merc=tol
    ).toPandas()
    assert any(m["image_id"] == src["image_id"] for m in pk_hits["props"])
    # same feature ids with geometry as the WKT path
    wp = wkt_hits.toPandas()
    want = sorted(wp[wp["geom_wkt"].notna()]["feature_id"])
    got = sorted(pk_hits[pk_hits["kind"].notna()]["feature_id"])
    assert got == want
    import numpy as np

    from mapnik_vector_tile_spark import tilemath as TM

    mx, my = TM.mercator_np(src["lon"], src["lat"])
    for _, r in pk_hits.iterrows():
        if r["kind"] is None:
            continue
        xs, ys = np.asarray(r["xs"]), np.asarray(r["ys"])
        assert (
            (xs >= float(mx) - tol).any() and (xs <= float(mx) + tol).any()
            and (ys >= float(my) - tol).any() and (ys <= float(my) + tol).any()
        )


def test_hot_path_salted_equals_cold_path(spark, located):
    """Two-phase salted encode (skew path) decodes to the same features
    and properties as the single-phase dense-dictionary path."""
    from mapnik_vector_tile_spark.operators import assign as A, decode as D, encode as E

    assigned = A.assign_tiles(located, Z_TEST)
    cold = E.build_point_tiles(
        assigned, prop_cols=["image_id", "caption"], order_col="image_id",
        hot_threshold=10**9,
    )
    hot = E.build_point_tiles(
        assigned, prop_cols=["image_id", "caption"], order_col="image_id",
        hot_threshold=50,  # forces hotspot tiles through the salted path
    )
    dc = D.decode_tiles(cold).toPandas()
    dh = D.decode_tiles(hot).toPandas()
    assert len(dc) == len(dh) == 2000

    def norm(df):
        out = pd.DataFrame({
            "image_id": [m["image_id"] for m in df["props"]],
            "caption": [m["caption"] for m in df["props"]],
            "z": df["z"], "x": df["x"], "y": df["y"], "wkt": df["geom_wkt"],
        })
        return out.sort_values("image_id").reset_index(drop=True)

    pd.testing.assert_frame_equal(norm(dc), norm(dh))


def test_columnar_decode_matches_generic(tiles, located):
    """Vectorized columnar decode returns the same ids/props/positions
    as the generic per-feature walk."""
    from mapnik_vector_tile_spark.operators import decode as D

    col = D.decode_tiles_columnar(tiles, ["image_id", "caption", "fmt"]).toPandas()
    gen = D.decode_tiles(tiles).toPandas()
    assert len(col) == len(gen) == 2000
    gsrc = pd.DataFrame(
        {
            "image_id": [m["image_id"] for m in gen["props"]],
            "caption": [m["caption"] for m in gen["props"]],
            "fmt": [m["fmt"] for m in gen["props"]],
        }
    ).sort_values("image_id").reset_index(drop=True)
    csrc = col[["image_id", "caption", "fmt"]].sort_values("image_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(csrc, gsrc)
    # positions finite and inside each tile bbox
    assert np.isfinite(col["mx"]).all() and np.isfinite(col["my"]).all()


def _handmade_layer(name, fid, px, py, prop_keys):
    """Layer via the generic builders (extent/version after features →
    always routed to the columnar decoder's fallback path)."""
    tags = [v for j in range(len(prop_keys)) for v in (j, j)]
    feat = pbf.encode_feature(fid, tags, 1, [9, 2 * px, 2 * py])
    vals = [pbf.encode_value(v) for v in (f"im-{fid}", f"cap-{fid}", "png")]
    return pbf.encode_layer(name, [feat], prop_keys, vals, version=2)


def test_columnar_decode_multilayer_no_duplicates(spark):
    """Regression (r1 ADVICE): a tile with multiple fallback layers must
    emit each feature exactly once (the old code re-decoded the WHOLE
    tile per non-uniform layer), and fallback point rows must carry real
    mx/my recovered from the decoded geometry, not NaN."""
    import zlib

    pk = ["image_id", "caption", "fmt"]
    la = _handmade_layer("a", 1, 100, 200, pk)
    lb = _handmade_layer("b", 2, 300, 400, pk)
    tile2 = zlib.compress(pbf.encode_tile([la, lb]))
    tiles2 = spark.createDataFrame(
        [(3, 1, 3, tile2)], "z int, x long, y long, tile binary"
    )
    col = decode.decode_tiles_columnar(tiles2, pk).toPandas()
    assert sorted(col["image_id"]) == ["im-1", "im-2"]  # exactly once each
    assert np.isfinite(col["mx"]).all() and np.isfinite(col["my"]).all()
    # fallback coordinates are the generic decoder's, bit for bit
    gen = decode.decode_tiles_packed(tiles2).toPandas()
    gxy = {
        m["image_id"]: (xs[0], ys[0])
        for m, xs, ys in zip(gen["props"], gen["xs"], gen["ys"])
    }
    for _, r in col.iterrows():
        assert (r["mx"], r["my"]) == gxy[r["image_id"]]


def test_columnar_decode_mixed_uniform_and_fallback(spark, tiles):
    """Regression (r1 ADVICE): a tile mixing a vectorized-path (packed)
    layer with a fallback layer must not emit the packed layer's rows
    twice."""
    import zlib

    pk = ["image_id", "caption", "fmt"]
    row = tiles.where(F.col("n_features") == 1).first()
    packed_layers = pbf.decode_tile(Z.decompress(bytes(row["tile"])))
    extra = _handmade_layer("extra", 999, 10, 20, pk)
    mixed = zlib.compress(pbf.encode_tile(list(packed_layers) + [extra]))
    tiles_m = spark.createDataFrame(
        [(int(row["z"]), int(row["x"]), int(row["y"]), mixed)],
        "z int, x long, y long, tile binary",
    )
    col = decode.decode_tiles_columnar(tiles_m, pk).toPandas()
    assert len(col) == 2  # 1 packed + 1 fallback, no duplicates
    assert (col["image_id"] == "im-999").sum() == 1
    assert np.isfinite(col["mx"]).all() and np.isfinite(col["my"]).all()


def test_columnar_decode_salted_hot_tiles(spark, located):
    """Columnar decode handles salted hot-path tiles (huge value runs →
    the batch header walk finishes them on the header hop) identically
    to the generic decoder."""
    from mapnik_vector_tile_spark.operators import assign as A
    from mapnik_vector_tile_spark.operators import decode as D
    from mapnik_vector_tile_spark.operators import encode as E

    assigned = A.assign_tiles(located, Z_TEST)
    hot = E.build_point_tiles(
        assigned, prop_cols=["image_id", "caption", "fmt"], order_col="image_id",
        hot_threshold=50,
    )
    col = D.decode_tiles_columnar(hot, ["image_id", "caption", "fmt"]).toPandas()
    assert len(col) == 2000
    assert sorted(col["image_id"]) == sorted(
        located.select("image_id").toPandas()["image_id"]
    )
    assert np.isfinite(col["mx"]).all() and np.isfinite(col["my"]).all()


def test_composite_reencode_upgrades_v1_to_v2(spark):
    """Slow-path merge re-encodes v1 tiles as v2 (the merge_from_buffer
    upgrade, src/vector_tile_load_tile.hpp:53-137)."""
    import zlib

    # hand-build a v1 tile: one point feature at tile px (2048, 2048) of
    # z3 (1,3) with a caption property
    feat = pbf.encode_feature(1, [0, 0], 1, [9, 2 * 2048, 2 * 2048])
    layer_v1 = pbf.encode_layer(
        "layer", [feat], ["caption"], [pbf.encode_value("cap-1")], version=1
    )
    tile_v1 = zlib.compress(pbf.encode_tile([layer_v1]))
    tiles = spark.createDataFrame(
        [(3, 1, 3, tile_v1, 1, 1, True)],
        "z int, x long, y long, tile binary, n_features long, n_layers int, painted boolean",
    ).withColumn("source", F.lit(0))
    upgraded = composite.merge_tiles_reencode_geom(tiles)
    row = upgraded.where(F.col("painted")).first()
    layers = pbf.decode_tile(Z.decompress(bytes(row["tile"])))
    meta = pbf.decode_layer(layers[0])
    assert meta["version"] == 2
    assert meta["keys"] == ["caption"] and meta["values"] == ["cap-1"]
    decoded = decode.decode_tile_rows(3, 1, 3, row["tile"])
    assert len(decoded) == 1 and decoded[0][7]["caption"] == "cap-1"


def test_retile_point_tiles_pyramid(spark, images_small):
    """Pyramid re-tiling: z3 tiles re-tiled to z5 conserve every feature
    exactly once, and points land in the SAME z5 cell as direct
    assignment whenever they sit clear of cell boundaries (re-tiled
    coordinates carry z3 quantization: half a z3 px in mercator)."""
    import numpy as np

    from mapnik_vector_tile_spark import tilemath
    from mapnik_vector_tile_spark.operators import assign, composite, decode, encode
    from mapnik_vector_tile_spark.sources import images as IMG

    located = IMG.with_location(images_small.limit(500)).cache()
    z3 = encode.build_point_tiles(
        assign.assign_tiles(located, 3), ["image_id"], order_col="image_id"
    )
    z5 = composite.retile_point_tiles(z3, 5, ["image_id"])
    dec = decode.decode_tiles_columnar(z5, ["image_id"]).toPandas()
    assert len(dec) == 500
    assert dec["image_id"].nunique() == 500
    assert (dec["z"] == 5).all()

    # direct z5 assignment for comparison
    direct = assign.assign_tiles(located, 5).select("image_id", "x", "y").toPandas()
    merged = dec.merge(direct, on="image_id", suffixes=("_re", "_direct"))
    # boundary-safe subset: mercator distance to the nearest z5 cell edge
    # must exceed the z3 quantization step
    ts5 = tilemath.EARTH_CIRCUMFERENCE / 2**5
    q3 = (tilemath.EARTH_CIRCUMFERENCE / 2**3) / 4096.0
    h = tilemath.HALF_OF_EQUATOR
    fx = ((merged["mx"].to_numpy() + h) / ts5) % 1.0
    fy = ((h - merged["my"].to_numpy()) / ts5) % 1.0
    margin = q3 / ts5 * 2.0
    safe = (
        (fx > margin) & (fx < 1 - margin) & (fy > margin) & (fy < 1 - margin)
    )
    assert safe.sum() > 300  # the fixture is not boundary-degenerate
    same = (merged["x_re"] == merged["x_direct"]) & (merged["y_re"] == merged["y_direct"])
    assert same[safe].all()


def test_retile_geom_tiles_overzoom(spark):
    """General-geometry overzoom: z3 line/polygon tiles re-tiled to z5
    keep every geometry covered, clipped into the child cells, with
    validity findings empty."""
    from mapnik_vector_tile_spark import tilemath
    from mapnik_vector_tile_spark.operators import composite, decode, geom_tiles, validity
    from pyspark.sql import functions as F

    h = tilemath.HALF_OF_EQUATOR
    q = h / 4.0
    rows = [
        ("ln", f"LINESTRING(-{2.5*q} 1000,{2.5*q} 1000)"),
        ("pg", f"POLYGON(({q*0.1} {q*0.1},{q*0.9} {q*0.1},{q*0.9} {q*0.9},{q*0.1} {q*0.9},{q*0.1} {q*0.1}))"),
    ]
    geoms = spark.createDataFrame(rows, "gid string, geom_wkt string")
    z3 = geom_tiles.build_geom_tiles(geoms, ["gid"], z=3, id_col="gid")
    z5 = composite.retile_geom_tiles(z3, 5, ["gid"])
    t5 = z5.where(F.col("painted")).cache()
    assert t5.count() > z3.where(F.col("painted")).count()  # overzoom splits
    dec = decode.decode_tiles(t5).toPandas()
    assert {r["props"]["gid"] for _, r in dec.iterrows()} == {"ln", "pg"}
    assert (dec["z"] == 5).all()
    findings, _ = validity.validate_tiles(t5)
    assert findings.count() == 0
