"""Composite / merge: N source tiles -> 1 target tile (J3,
src/vector_tile_composite.hpp:22-98 + vector_tile_load_tile.hpp:53-137).

Fast path (same extent, no re-encode): raw layer buffers appended,
first-wins on duplicate layer names (composite.hpp:48-76,
tile::append_layer_buffer tile.ipp:51-69).

Slow path (extent mismatch or reencode requested): decode each source
layer, re-run the encode pipeline into the target extent — expressed as
unionByName of decoded rows + groupBy(z,x,y) re-encode.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.operators.encode import TILE_SCHEMA


def _px_geom(cmds: list[int], gtype: int):
    """v1 command stream -> px-space geom tuple (y-down tile ints, no
    coordinate transform, no ring classification — the upgrade is a
    wire-level rewrite, so orientation/area semantics stay untouched)."""
    from mapnik_vector_tile_spark.functions import commands as Cmd

    cur = Cmd._Cursor(cmds)
    if gtype == 1:
        pts = []
        while True:
            op, x, y = cur.point_next()
            if op == "end":
                break
            pts.append((x, y))
        if not pts:
            return None
        if len(pts) == 1:
            return ("point", np.asarray(pts[0], dtype=np.int64))
        return ("multipoint", np.asarray(pts, dtype=np.int64))
    paths: list[list] = []
    path: list = []
    if gtype == 2:
        while True:
            op, x, y = cur.line_next(True)
            if op == "end":
                break
            if op == "move_to":
                if len(path) > 1:
                    paths.append(path)
                path = [(x, y)]
            else:
                path.append((x, y))
        if len(path) > 1:
            paths.append(path)
        if not paths:
            return None
        arrs = [np.asarray(p, dtype=np.int64) for p in paths]
        return ("linestring", arrs[0]) if len(arrs) == 1 else ("multilinestring", arrs)
    if gtype == 3:
        while True:
            op, x, y = cur.ring_next(True)
            if op == "end":
                break
            if op == "move_to":
                if len(path) > 2:
                    paths.append(path)
                path = [(x, y)]
            elif op == "close":
                path.append((x, y))
                if len(path) > 3:
                    paths.append(path)
                path = []
            else:
                path.append((x, y))
        if not paths:
            return None
        arrs = [np.asarray(p, dtype=np.int64) for p in paths]
        return ("polygon", arrs)
    return None


def retile_point_tiles(
    tiles: DataFrame,
    to_z: int,
    prop_keys: list[str],
    layer_name: str = "layer",
) -> DataFrame:
    """Pyramid re-tiling: decode point tiles built at any zoom and
    rebuild them at ``to_z`` — overzoom split (to_z > from) or merge
    (to_z < from). This is the tile_datasource_pbf-feeding-processor
    composition (test/raster_tile.cpp:246-266 overzooms a z0 tile to
    z2 the same way), expressed as decode scan -> one cell shuffle ->
    encode; coordinates carry the source zoom's quantization, exactly
    like re-tiling from encoded tiles does in the reference."""
    import math

    from mapnik_vector_tile_spark import tilemath
    from mapnik_vector_tile_spark.operators import decode as D
    from mapnik_vector_tile_spark.operators.assign import assign_tiles
    from mapnik_vector_tile_spark.operators.encode import build_point_tiles

    dec = D.decode_tiles_columnar(tiles, prop_keys)
    r = float(tilemath.EARTH_RADIUS)
    lon = F.degrees(F.col("mx") / F.lit(r))
    lat = F.degrees(
        F.lit(2.0) * F.atan(F.exp(F.col("my") / F.lit(r))) - F.lit(math.pi / 2.0)
    )
    pts = dec.select(*prop_keys, lon.alias("lon"), lat.alias("lat"))
    return build_point_tiles(
        assign_tiles(pts, to_z), prop_keys,
        layer_name=layer_name, order_col=prop_keys[0],
    )


def retile_geom_tiles(
    tiles: DataFrame,
    to_z: int,
    prop_cols: list[str],
    layer_name: str = "layer",
    **build_kwargs,
) -> DataFrame:
    """General-geometry pyramid re-tiling: decode line/polygon tiles to
    packed mercator geometry (gpack + envelope, never WKT) and rebuild
    at ``to_z`` (the overzoom path re-clips each piece into the child
    tiles, like the reference's tile_datasource -> processor overzoom).
    Pieces stay clipped at the source zoom's boundaries — identical to
    what re-tiling encoded tiles yields in the reference."""
    from mapnik_vector_tile_spark.operators import decode as D
    from mapnik_vector_tile_spark.operators import geom_tiles as GT

    dec = D.decode_tiles_gpack(tiles)
    rows = dec.select(
        *[F.col("props").getItem(c).alias(c) for c in prop_cols],
        "_gpk", "env_minx", "env_miny", "env_maxx", "env_maxy",
    )
    return GT.build_geom_tiles(
        rows, prop_cols, z=to_z, layer_name=layer_name,
        id_col=prop_cols[0] if prop_cols else None, **build_kwargs,
    )


def upgrade_layer_v1_to_v2(layer_bytes: bytes) -> bytes:
    """v1 layer -> v2 (merge_from_buffer's upgrade leg,
    src/vector_tile_load_tile.hpp:93-137): geometry command streams
    re-emitted under v2 rules (repeated points dropped, degenerate
    paths rolled back) at the same extent, values re-encoded, version
    stamped 2."""
    from mapnik_vector_tile_spark.functions import commands as Cmd

    lay = pbf.decode_layer(bytes(layer_bytes))
    feats_out: list[bytes] = []
    for fmsg in lay["features"]:
        f = pbf.decode_feature(fmsg)
        if len(f["geometry"]):
            g = _px_geom(f["geometry"], f["type"])
            if g is None:
                continue
            gtype, cmds = Cmd.encode_geometry(g)
            if gtype is None:
                continue
            feats_out.append(
                pbf.encode_feature(f["id"] or None, f["tags"], gtype, cmds)
            )
        elif f["raster"] is not None:
            feats_out.append(
                pbf.encode_feature(f["id"] or None, f["tags"], 0, [], raster=f["raster"])
            )
    values = [pbf.encode_value(v) for v in lay["values"]]
    return pbf.encode_layer(
        lay["name"], feats_out, lay["keys"], values,
        extent=lay["extent"], version=2,
    )


def merge_from_compressed_buffer(
    layers: list[tuple[str, bytes]],
    buf: bytes,
    validate: bool = False,
    upgrade: bool = False,
) -> list[tuple[str, bytes]]:
    """Append one (possibly compressed) tile buffer's layers into an
    ordered (name, layer_bytes) list — merge_from_compressed_buffer
    semantics (src/vector_tile_load_tile.hpp:53-150): duplicate names
    are silently skipped (first-wins), unless `validate`, which raises
    on duplicates / unsupported versions / any layer validity error;
    `upgrade` re-encodes v1 layers as v2."""
    from mapnik_vector_tile_spark.operators import validity as V

    data = Z.decompress(bytes(buf))
    existing = {n for n, _ in layers}
    for layer_bytes in pbf.decode_tile(data):
        errors, meta = V._layer_walk(layer_bytes)
        name = meta["name"] or ""
        if validate:
            errs = set(errors)
            if name in existing:
                errs.add("TILE_REPEATED_LAYER_NAMES")
            if errs:
                raise ValueError(", ".join(sorted(errs)))
        elif not name or name in existing:
            continue
        if upgrade and meta["version"] == 1:
            layer_bytes = upgrade_layer_v1_to_v2(layer_bytes)
        layers.append((name, layer_bytes))
        existing.add(name)
    return layers


def merge_tiles_fast(tiles: DataFrame, source_order_col: str = "source") -> DataFrame:
    """Byte-append merge per (z,x,y): layers concatenated in source
    order; duplicate layer names keep the first occurrence."""

    def kernel(key, pdf):
        z, x, y = int(key[0]), int(key[1]), int(key[2])
        pdf = pdf.sort_values(source_order_col, kind="mergesort")
        seen: set[str] = set()
        layers: list[bytes] = []
        n_feats = 0
        for tile in pdf["tile"]:
            if not tile:
                continue
            data = Z.decompress(bytes(tile))
            for layer_bytes in pbf.decode_tile(data):
                meta = pbf.decode_layer(layer_bytes)
                if meta["name"] in seen:  # first-wins (composite.hpp:56-63)
                    continue
                seen.add(meta["name"])
                layers.append(layer_bytes)
                n_feats += len(meta["features"])
        tile_out = Z.compress(pbf.encode_tile(layers)) if layers else b""
        return pd.DataFrame(
            [(z, x, y, tile_out, n_feats, len(layers), bool(layers))],
            columns=["z", "x", "y", "tile", "n_features", "n_layers", "painted"],
        )

    return tiles.groupBy("z", "x", "y").applyInPandas(kernel, schema=TILE_SCHEMA)


def merge_tiles_reencode_geom(
    tiles: DataFrame,
    source_order_col: str = "source",
    extent: int = 4096,
    buffer_px: int = 0,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.1,
    fill_type: str = "even_odd",
    strictly_simple: bool = False,
    compress_tiles: bool = True,
) -> DataFrame:
    """General-geometry slow-path merge — the reference's composite
    re-encode leg (src/vector_tile_composite.hpp:78-97: every source
    layer becomes a datasource and the processor re-renders it into the
    target tile), for ALL geometry types.

    Per (z, x, y): the winning source for each layer NAME is the first
    in ``source_order_col`` order (tile::add_layer first-wins,
    src/vector_tile_tile.ipp:19-43); its features are decoded to packed
    mercator geometry (decode_tiles_gpack — no WKT) and re-encoded into
    the target extent through the same fused kernel build_geom_tiles
    uses, preserving layer order (source order, then wire order within
    the source), per-layer key dictionaries, feature order, feature ids
    (when any feature of the layer carries one), Value variant types,
    and Feature.raster bytes (raster-only features re-encode as
    geometry-less UNKNOWN-type features, raster_to_feature semantics).

    One decode pass -> ONE hash shuffle on (z, x, y) -> per-tile
    re-encode (first-wins resolves INSIDE the per-tile kernel — a
    window on (z, x, y, layer name) would cost a second full shuffle of
    the feature stream): the same plan shape as the gpack re-tiling
    pipeline, so it holds at scale."""
    from mapnik_vector_tile_spark.operators import decode as D
    from mapnik_vector_tile_spark.operators.encode import encode_geom_layer

    first = D.decode_tiles_gpack(
        tiles, keep_cols=[source_order_col], ordinals=True, typed=True,
        with_raster=True,
    )
    cols = ["z", "x", "y", "tile", "n_features", "n_layers", "painted"]

    def kernel(key, pdf):
        gz, gx, gy = (int(v) for v in key)
        pdf = pdf.sort_values(
            [source_order_col, "layer_idx", "feat_idx"], kind="mergesort"
        )
        layers_out: list[bytes] = []
        n_feats = 0
        for lname, grp in pdf.groupby("layer", sort=False):
            # first-wins per layer NAME: the minimum source carrying the
            # layer owns it (tile::add_layer, vector_tile_tile.ipp:19-43);
            # the sort above makes that the group's leading source
            win = grp[source_order_col].iloc[0]
            grp = grp[grp[source_order_col] == win].reset_index(drop=True)
            # per-layer key dictionary: first-appearance order across
            # features (row-major), like layer_builder_pbf::add_feature
            keys: dict[str, None] = {}
            for p in grp["props"]:
                keys.update(dict.fromkeys(p))
            key_list = list(keys)
            data = {
                k: pd.Series(
                    [
                        D.parse_tagged_value(p.get(k), t.get(k, "s"))
                        for p, t in zip(grp["props"], grp["ptype"])
                    ],
                    dtype=object,  # pandas would re-infer [None, 0] as float
                )
                for k in key_list
            }
            enc = pd.DataFrame({"_gpk": grp["_gpk"], **data})
            id_col = None
            if (grp["feature_id"].to_numpy() != 0).any():
                enc["feature_id"] = grp["feature_id"].to_numpy()
                id_col = "feature_id"
            raster_col = None
            if grp["raster"].notna().any():
                enc["raster"] = [
                    None if r is None else bytes(r) for r in grp["raster"]
                ]
                raster_col = "raster"
            layer_bytes, nf = encode_geom_layer(
                enc, gz, gx, gy, lname, key_list,
                geom_col="_gpk", extent=extent, buffer_px=buffer_px,
                simplify_distance=simplify_distance,
                area_threshold=area_threshold,
                id_col=id_col,
                fill_type=fill_type,
                strictly_simple=strictly_simple,
                raster_col=raster_col,
            )
            if nf:
                layers_out.append(layer_bytes)
                n_feats += nf
        tile_out = b""
        if layers_out:
            tile_out = pbf.encode_tile(layers_out)
            if compress_tiles:
                tile_out = Z.compress(tile_out)
        return pd.DataFrame(
            [(gz, gx, gy, tile_out, n_feats, len(layers_out), bool(layers_out))],
            columns=cols,
        )

    return first.groupBy("z", "x", "y").applyInPandas(kernel, schema=TILE_SCHEMA)
