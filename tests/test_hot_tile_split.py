"""Hot-tile span split (operators.decode.explode_hot_tiles): a
monolithic layer's feature frames cut into standalone mini-tiles that
decode in parallel tasks, with the decoded row set preserved exactly.

Reference grounding: feature messages are independently framed after the
layer header (vector_tile.proto Layer.features, repeated field 2), so a
slice of them plus a repeated header is itself a valid layer — the
decode counterpart of the salted encode path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.operators import decode, encode


def _dense_point_layer(n: int, seed: int = 7) -> bytes:
    """One uncompressed layer with n tagged point features."""
    rng = np.random.default_rng(seed)
    feats = []
    keys = ["name", "rank"]
    values: list[bytes] = []
    vidx: dict = {}

    def vi(v):
        if v not in vidx:
            vidx[v] = len(values)
            values.append(pbf.encode_value(v))
        return vidx[v]

    for i in range(n):
        px, py = int(rng.integers(0, 4096)), int(rng.integers(0, 4096))
        feats.append(
            pbf.encode_feature(
                i,
                [0, vi(f"p{i % 97}"), 1, vi(i % 13)],
                1,
                [9, (px << 1) ^ (px >> 31), (py << 1) ^ (py >> 31)],
            )
        )
    return pbf.encode_layer("pts", feats, keys, values, extent=4096, version=2)


def test_feature_frame_breaks_cut_on_boundaries():
    layer = _dense_point_layer(500)
    d = pbf.decode_layer(layer)
    frames = []
    for m in d["features"]:
        buf = bytearray()
        pbf.add_len_field(buf, 2, m)
        frames.append(bytes(buf))
    region = b"".join(frames)
    breaks = pbf.feature_frame_breaks(region, 256)
    assert breaks[0] == 0 and breaks[-1] == len(region)
    assert len(breaks) > 3
    # every break lands on a Feature frame tag
    for b in breaks[:-1]:
        assert region[b] == 0x12


def test_split_layer_chunks_roundtrip():
    layer = _dense_point_layer(1000)
    chunks = pbf.split_layer_chunks(layer, 1024)
    assert len(chunks) > 2
    orig = pbf.decode_layer(layer)
    got_ids, got_tags = [], []
    for ch in chunks:
        d = pbf.decode_layer(ch)
        # full header repeated on every chunk
        assert d["name"] == orig["name"]
        assert d["version"] == orig["version"]
        assert d["extent"] == orig["extent"]
        assert d["keys"] == orig["keys"]
        assert d["values"] == orig["values"]
        for m in d["features"]:
            f = pbf.decode_feature(m)
            got_ids.append(f["id"])
            got_tags.append(tuple(f["tags"]))
    want = [pbf.decode_feature(m) for m in orig["features"]]
    assert got_ids == [f["id"] for f in want]  # order preserved
    assert got_tags == [tuple(f["tags"]) for f in want]


def test_split_layer_chunks_small_layer_passthrough():
    layer = _dense_point_layer(3)
    assert pbf.split_layer_chunks(layer, 1 << 20) == [bytes(layer)]


def test_split_tile_chunks_multi_layer():
    la, lb = _dense_point_layer(400, seed=1), _dense_point_layer(5, seed=2)
    tile = pbf.encode_tile([la, lb])
    chunks = decode.split_tile_chunks_smart(tile, 1024)
    assert len(chunks) > 2
    names = []
    n_feats = 0
    for ch in chunks:
        layers = pbf.decode_tile(ch)
        assert len(layers) == 1  # one mini-layer per chunk tile
        d = pbf.decode_layer(layers[0])
        names.append(d["name"])
        n_feats += len(d["features"])
    assert n_feats == 405
    assert set(names) == {"pts"}


def test_split_tile_chunks_hostile_framing_passthrough():
    """ADVICE r5: truncated/hostile feature framing inside an oversized
    layer must ship the layer whole (decode owns error semantics), not
    raise out of decode.split_tile_chunks_smart."""
    layer = bytearray(_dense_point_layer(400, seed=3))
    # truncate mid-feature: the frame walk would overrun the region end
    layer = bytes(layer[:-7])
    tile = pbf.encode_tile([layer])
    chunks = decode.split_tile_chunks_smart(tile, 1024)
    assert len(chunks) == 1
    assert pbf.decode_tile(chunks[0]) == [layer]


def _sorted_packed(df) -> pd.DataFrame:
    pdf = df.toPandas()
    # full-coordinate key: quantized first vertices can collide at
    # coarse zooms, so the first x alone under-sorts
    pdf["xs0"] = [
        None if v is None else tuple(round(float(c), 6) for c in v)
        for v in pdf["xs"]
    ]
    pdf["pkey"] = [None if p is None else str(sorted(p.items())) for p in pdf["props"]]
    pdf = pdf.sort_values(
        ["z", "x", "y", "layer", "feature_id", "pkey", "xs0"]
    ).reset_index(drop=True)
    return pdf


@pytest.fixture(scope="module")
def point_tiles(spark):
    """One deliberately hot z0 tile (every point in one cell) + normal
    z2 tiles from the same rows."""
    rng = np.random.default_rng(11)
    n = 4000
    rows = [
        (
            f"d{i:05d}",
            float(rng.uniform(-170, 170)),
            float(rng.uniform(-75, 75)),
        )
        for i in range(n)
    ]
    from mapnik_vector_tile_spark.operators import assign

    df = spark.createDataFrame(rows, "gid string, lon double, lat double")
    hot = encode.build_point_tiles(
        assign.assign_tiles(df, 0), ["gid"], layer_name="pts", order_col="gid"
    )
    spread = encode.build_point_tiles(
        assign.assign_tiles(df, 2), ["gid"], layer_name="pts", order_col="gid"
    )
    return hot.unionByName(spread).cache()


def test_explode_hot_tiles_packed_parity(spark, point_tiles):
    base = _sorted_packed(decode.decode_tiles_packed(point_tiles))
    split = decode.explode_hot_tiles(point_tiles, chunk_bytes=4096, hot_bytes=2048)
    # the hot z0 tile actually split into multiple chunk rows
    assert split.count() > point_tiles.count()
    got = _sorted_packed(decode.decode_tiles_packed(split))
    assert len(base) == len(got)
    assert (base["feature_id"].to_numpy() == got["feature_id"].to_numpy()).all()
    assert (base["z"].to_numpy() == got["z"].to_numpy()).all()
    for a, b in zip(base["props"], got["props"]):
        assert a == b
    for a, b in zip(base["xs"], got["xs"]):
        np.testing.assert_allclose(np.asarray(a), np.asarray(b))


def test_explode_hot_tiles_columnar_parity(spark, point_tiles):
    cols = ["gid"]
    base = (
        decode.decode_tiles_columnar(point_tiles, cols)
        .toPandas()
        .sort_values(["z", "x", "y", "gid"])
        .reset_index(drop=True)
    )
    split = decode.explode_hot_tiles(point_tiles, chunk_bytes=4096, hot_bytes=2048)
    got = (
        decode.decode_tiles_columnar(split, cols)
        .toPandas()
        .sort_values(["z", "x", "y", "gid"])
        .reset_index(drop=True)
    )
    assert len(base) == len(got)
    assert (base["gid"].to_numpy() == got["gid"].to_numpy()).all()
    np.testing.assert_allclose(base["mx"].to_numpy(), got["mx"].to_numpy())
    np.testing.assert_allclose(base["my"].to_numpy(), got["my"].to_numpy())


def test_explode_hot_tiles_cold_passthrough(spark, point_tiles):
    """With a huge hot threshold nothing splits and bytes are untouched."""
    out = decode.explode_hot_tiles(point_tiles, hot_bytes=1 << 30)
    a = point_tiles.select("z", "x", "y", "tile").toPandas()
    b = out.toPandas()
    assert len(a) == len(b)
    ka = sorted((r.z, r.x, r.y, bytes(r.tile)) for r in a.itertuples())
    kb = sorted((r.z, r.x, r.y, bytes(r.tile)) for r in b.itertuples())
    assert ka == kb


def test_uniform_point_split_slices_dictionary(spark, point_tiles):
    """The engine's own hot point tile (per-occurrence value dictionary)
    must take the dictionary-slicing lane: chunk bytes stay ~linear in
    the chunk's features instead of repeating the full dictionary."""
    hot = point_tiles.where("z = 0").toPandas()
    assert len(hot) == 1
    data = Z.decompress(bytes(hot["tile"].iloc[0]))
    layers = pbf.decode_tile(data)
    assert len(layers) == 1
    layer = bytes(layers[0])
    chunk_bytes = max(4096, len(layer) // 8)
    chunks = decode._split_uniform_point_layer(layer, chunk_bytes)
    assert chunks is not None and len(chunks) > 2
    # no dictionary repetition: total chunk bytes ~= original layer bytes
    assert sum(len(ch) for ch in chunks) < 1.3 * len(layer)
    orig = pbf.decode_layer(layer)
    okeys = orig["keys"]
    ovals = orig["values"]
    want = []
    for mfeat in orig["features"]:
        f = pbf.decode_feature(mfeat)
        props = {okeys[f["tags"][i]]: ovals[f["tags"][i + 1]]
                 for i in range(0, len(f["tags"]), 2)}
        want.append((props["gid"], tuple(f["geometry"])))
    got = []
    for ch in chunks:
        d = pbf.decode_layer(ch)
        assert d["name"] == orig["name"]
        assert d["keys"] == okeys
        assert d["extent"] == orig["extent"]
        assert d["version"] == orig["version"]
        for mfeat in d["features"]:
            f = pbf.decode_feature(mfeat)
            props = {d["keys"][f["tags"][i]]: d["values"][f["tags"][i + 1]]
                     for i in range(0, len(f["tags"]), 2)}
            got.append((props["gid"], tuple(f["geometry"])))
    assert got == want  # order AND values preserved across chunks


def test_uniform_split_declines_non_uniform():
    """A layer with feature ids is not the uniform framing — the smart
    splitter must hand it to the generic path, not corrupt it."""
    layer = _dense_point_layer(200)  # has feature ids -> non-uniform
    assert decode._split_uniform_point_layer(layer, 512) is None
    chunks = decode.split_tile_chunks_smart(pbf.encode_tile([layer]), 512)
    n = sum(len(pbf.decode_layer(pbf.decode_tile(ch)[0])["features"]) for ch in chunks)
    assert n == 200


def test_uniform_split_header_routing():
    """The dictionary-slicing lane takes this engine's uniform point
    layer (header read by pbf.layer_header_hop) and reproduces its
    features exactly; the same features with extent/version written
    after them, or with an unknown header field, go to the generic
    split, which still preserves every feature."""
    from mapnik_vector_tile_spark.functions import commands as Cmd

    n = 400
    rng = np.random.default_rng(11)
    pxy = rng.integers(0, 4096, size=(n, 2)).astype(np.int64)
    zz = np.column_stack([Cmd.zigzag32(pxy[:, 0]), Cmd.zigzag32(pxy[:, 1])])
    tags = np.stack([np.zeros(n, dtype=np.int64), np.arange(n) % 20], axis=1)
    blob = pbf.encode_point_features_packed(tags, zz)
    values = [pbf.encode_value(f"value-{i:05d}") for i in range(20)]
    packed = pbf.encode_layer_packed("pts", blob, ["id"], values)
    trailing = bytearray()
    pbf.add_len_field(trailing, 1, b"pts")
    pbf.add_len_field(trailing, 3, b"id")
    for v in values:
        pbf.add_len_field(trailing, 4, v)
    trailing += blob
    pbf.add_varint_field(trailing, 5, 4096)
    pbf.add_varint_field(trailing, 15, 2)
    unknown = bytearray()
    pbf.add_len_field(unknown, 14, b"ext")
    unknown = bytes(unknown) + packed

    def rows(layer_msgs):
        out = []
        for lm in layer_msgs:
            d = pbf.decode_layer(lm)
            for m in d["features"]:
                f = pbf.decode_feature(m)
                out.append((d["values"][f["tags"][1]], tuple(f["geometry"])))
        return out

    want = rows([packed])
    assert len(decode._split_uniform_point_layer(packed, 2048)) > 2
    for layer in (bytes(trailing), unknown):
        assert rows([layer]) == want
        assert decode._split_uniform_point_layer(layer, 2048) is None
    for layer in (packed, bytes(trailing), unknown):
        chunks = decode.split_tile_chunks_smart(pbf.encode_tile([layer]), 2048)
        assert len(chunks) > 2
        assert rows(pbf.decode_tile(ch)[0] for ch in chunks) == want


def test_explode_hot_tiles_geom_layers(spark):
    """Line/polygon features (multi-frame geometries) survive the
    generic split. The layer carries one shared property (a tiny
    dictionary, the realistic geometry-layer shape — the split guard
    grows chunks so a repeated header stays a bounded fraction)."""
    from mapnik_vector_tile_spark.operators import geom_tiles as GT

    rng = np.random.default_rng(3)
    rows = []
    for i in range(300):
        x0 = float(rng.uniform(-1.5e7, 1.5e7))
        y0 = float(rng.uniform(-1.5e7, 1.5e7))
        s = float(rng.uniform(1e4, 1e6))
        if i % 2:
            rows.append((i, "road",
                         f"LINESTRING({x0} {y0},{x0 + s} {y0 + s},{x0} {y0 + 2 * s})"))
        else:
            rows.append((i, "park",
                         f"POLYGON(({x0} {y0},{x0 + s} {y0},{x0 + s} {y0 + s},{x0} {y0}))"))
    df = spark.createDataFrame(rows, "fid long, kind string, geom_wkt string")
    tiles = GT.build_geom_tiles(df, ["kind"], z=0, id_col="fid").cache()
    base = _sorted_packed(decode.decode_tiles_packed(tiles))
    split = decode.explode_hot_tiles(tiles, chunk_bytes=2048, hot_bytes=1024)
    assert split.count() > 1
    got = _sorted_packed(decode.decode_tiles_packed(split))
    assert len(base) == len(got) > 0
    assert (base["feature_id"].to_numpy() == got["feature_id"].to_numpy()).all()
    for a, b in zip(base["xs"], got["xs"]):
        np.testing.assert_allclose(np.asarray(a), np.asarray(b))
