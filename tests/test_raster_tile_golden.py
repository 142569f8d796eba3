"""Raster-tile pixel goldens against the reference's own fixtures.

Ports test/raster_tile.cpp:31-290 ("raster tile output 1"/"2"): the
reference warps test/data/natural_earth.tif into a z1 raster tile and
pins the encoded image against test/fixtures/expected-2.jpeg, then
overzooms a z0 raster tile to z2 (0,1) against expected-3.png. Those
goldens were produced by mapnik+gdal+libjpeg, so they are a fully
independent cross-implementation oracle for the GeoTIFF reader + the
bilinear warp + the JPEG codec: pixel-exactness is impossible across
codecs/resamplers, PSNR against the golden is the match criterion
(wrong geometry lands near ~10 dB, agreement sits 30+ dB)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import compression as C
from mapnik_vector_tile_spark.functions import jpeg as J
from mapnik_vector_tile_spark.functions import pbf, raster as R
from mapnik_vector_tile_spark.sources import geotiff as GT

DATA = "/root/reference/test/data"
FIXT = "/root/reference/test/fixtures"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(DATA), reason="reference test data not mounted"
)

HALF = tilemath.HALF_OF_EQUATOR


def _layers_of_tile(tile_bytes: bytes) -> list[dict]:
    """tile bytes -> [{name, features: [feature dicts]}] (decompressing
    if the sink compressed)."""
    body = C.decompress(tile_bytes)
    out = []
    for lb in pbf.decode_tile(body):
        lay = pbf.decode_layer(lb)
        lay["features"] = [pbf.decode_feature(fb) for fb in lay["features"]]
        out.append(lay)
    return out


@pytest.fixture(scope="module")
def natural_earth():
    data = open(f"{DATA}/natural_earth.tif", "rb").read()
    return GT.read_geotiff(data)


def test_geotiff_reader(natural_earth):
    img, transform, epsg = natural_earth
    assert img.shape == (1048, 1048, 3)
    assert epsg == 3857
    ox, oy, sx, sy = transform
    assert ox == pytest.approx(-HALF, rel=1e-9)  # west edge of the world
    assert sx > 0 and sy > 0


def test_raster_tile_output_1(natural_earth):
    """z1 (0,0) @512: warp + encode + tile structure + golden PSNR."""
    img, transform, _ = natural_earth
    warped = GT.warp_to_tile(img, transform, 1, 0, 0, 512)
    golden = J.decode(open(f"{FIXT}/expected-2.jpeg", "rb").read())
    assert golden.shape == (512, 512, 3)
    assert R.psnr(warped, golden) >= 30.0  # cross-codec/resampler bound

    # encode the raster feature exactly like the reference tile shape:
    # one layer "layer", one feature id=1, raster set, geometry empty
    ras = J.encode(warped, quality=95)
    feat = pbf.encode_feature(1, [], 0, [], raster=ras)
    layer = pbf.encode_layer("layer", [feat], [], [])
    tile = pbf.encode_tile([layer])
    layers = _layers_of_tile(tile)
    assert len(layers) == 1
    name, feats = layers[0]["name"], layers[0]["features"]
    assert name == "layer" and len(feats) == 1
    f = feats[0]
    assert f["id"] == 1 and not f["geometry"] and f["raster"]
    # round-trip: the raster bytes survive the tile verbatim and decode
    back = J.decode(f["raster"])
    assert R.psnr(back, warped) >= 40.0


def test_raster_tile_output_2_overzoom():
    """z0 raster tile overzoomed to z2 (0,1) vs expected-3.png."""
    src = R.png_decode(open(f"{DATA}/256x256.png", "rb").read())
    world = (-HALF, HALF, 2 * HALF / 256, 2 * HALF / 256)
    z0 = GT.warp_to_tile(src, world, 0, 0, 0, 256)
    assert np.array_equal(z0, src)  # identity warp is exact
    ras = J.encode(z0, quality=95)
    # through the tile: encode feature -> decode raster bytes -> overzoom
    feat = pbf.encode_feature(1, [], 0, [], raster=ras)
    tile = pbf.encode_tile([pbf.encode_layer("layer", [feat], [], [])])
    f = _layers_of_tile(tile)[0]["features"][0]
    dec = J.decode(f["raster"])
    over = GT.warp_to_tile(dec, world, 2, 0, 1, 256)
    golden = R.png_decode(open(f"{FIXT}/expected-3.png", "rb").read())
    assert R.psnr(over, golden[..., :3]) >= 45.0


def test_geotiff_spark_source(spark):
    """Distributed scan path: binaryFile -> decode task per file."""
    df = GT.read_geotiff_spark(spark, f"{DATA}/natural_earth.tif")
    row = df.collect()[0]
    assert (row["w"], row["h"], row["bands"]) == (1048, 1048, 3)
    assert row["epsg"] == 3857
    px = np.frombuffer(row["px"], dtype=np.uint8).reshape(1048, 1048, 3)
    img, _, _ = GT.read_geotiff(open(f"{DATA}/natural_earth.tif", "rb").read())
    assert np.array_equal(px, img)


def test_raster_tiles_operator_carries_webp(spark, images_small):
    """S6 sink smoke over the fixture (now png/webp/jpeg rotating):
    every image's bytes survive its tile verbatim."""
    from mapnik_vector_tile_spark.operators import raster_assoc
    from mapnik_vector_tile_spark.sources import images as IMG

    located = IMG.with_location(images_small.limit(60))
    tiles = raster_assoc.raster_tiles(located, 3, prop_cols=["fmt"])
    n_rasters = 0
    for trow in tiles.collect():
        for lay in _layers_of_tile(bytes(trow["tile"])):
            for f in lay["features"]:
                if f["raster"]:
                    n_rasters += 1
                    R.decode_image(bytes(f["raster"]))  # sniffs+decodes all 3 fmts
    assert n_rasters == 60


def test_raster_tile_output_3_alpha_roundtrip():
    """Port of 'raster tile output 3 -- should be able to round trip
    image with alpha' (test/raster_tile.cpp:277-430): the reference's
    alpha-white-2.png rides Feature.raster through encode -> decode ->
    same-size re-render with ZERO pixel diff at every hop (its
    expected-4.png golden equals the input for the same-size path)."""
    import numpy as np

    from mapnik_vector_tile_spark.functions import compression as Z
    from mapnik_vector_tile_spark.functions import pbf as P
    from mapnik_vector_tile_spark.operators import decode as D

    src_bytes = open("/root/reference/test/fixtures/alpha-white-2.png", "rb").read()
    src = R.png_decode_raw(src_bytes)
    assert src.shape == (256, 256, 4)
    assert (src[..., 3] < 255).any()  # real alpha content

    # hop 1: Feature.raster carries the bytes through a z0 tile
    feat = P.encode_feature(1, [], 0, [], raster=src_bytes)
    layer = P.encode_layer("layer", [feat], [], [])
    tile = Z.compress(P.encode_tile([layer]))
    rows = D.decode_tile_rows(0, 0, 0, tile)
    assert len(rows) == 1 and rows[0][8] is not None
    back = R.png_decode_raw(bytes(rows[0][8]))
    assert np.array_equal(back, src)  # diff == 0, like compare_images

    # hop 2: same-size re-render (the raster_clipper passthrough path)
    rerendered = R.resize_any(back, 256, 256)
    assert np.array_equal(rerendered, src)
    reenc = R.png_encode_rgba(rerendered)
    assert np.array_equal(R.png_decode_raw(reenc), src)

    # the premultiply -> scale -> demultiply path keeps alpha exact on
    # the identity-scale case for every scaling method
    for method in ("near", "bilinear", "bicubic"):
        out = R.resize_any(back, 256, 256, method=method)
        assert np.array_equal(out, src), method


def test_warp_scaling_methods(natural_earth):
    """warp_to_tile carries the scaling_method surface: near picks the
    exact nearest source pixel; bicubic/lanczos track bilinear on the
    natural-earth raster (smooth content) within a few dB while
    producing genuinely different pixels."""
    import hashlib

    import numpy as np

    from mapnik_vector_tile_spark.sources import geotiff as GT

    img, transform, _epsg = natural_earth
    outs = {}
    for method in ("near", "bilinear", "bicubic", "lanczos"):
        out = GT.warp_to_tile(img, transform, 0, 0, 0, out_size=256, method=method)
        assert out.shape[:2] == (256, 256) and out.dtype == np.uint8
        outs[method] = out
    # near == exact nearest-pixel gather
    ox, oy, sx, sy = transform
    from mapnik_vector_tile_spark import tilemath

    minx, miny, maxx, maxy = tilemath.tile_mercator_bbox_np(0, 0, 0)
    tx = minx + (np.arange(256) + 0.5) * (maxx - minx) / 256
    ty = maxy - (np.arange(256) + 0.5) * (maxy - miny) / 256
    ui = np.clip(np.floor((tx - ox) / sx).astype(np.int64), 0, img.shape[1] - 1)
    vi = np.clip(np.floor((oy - ty) / sy).astype(np.int64), 0, img.shape[0] - 1)
    assert np.array_equal(outs["near"], img[np.ix_(vi, ui)])
    # methods differ but agree closely on smooth content
    digests = {m: hashlib.md5(o.tobytes()).hexdigest() for m, o in outs.items()}
    assert len(set(digests.values())) == 4
    for m in ("near", "bicubic", "lanczos"):
        assert R.psnr(outs[m], outs["bilinear"]) >= 25.0, m
