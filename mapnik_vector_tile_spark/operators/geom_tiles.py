"""General-geometry tile pipeline: WKT rows -> tiles (the full
create_geom_layer path of the reference, src/vector_tile_processor.ipp:41-177,
distributed).

Unlike the point fast path (operators.encode), each feature runs the
fused geometry kernel: transform+quantize -> optional Douglas-Peucker
-> box clip (functions.geometry) -> command-stream encode
(functions.commands). Multi-tile membership comes from the geometry's
envelope: a feature enters every tile whose buffered extent its bbox
intersects (the reference's per-tile bbox query, vector_tile_layer.hpp:283-311,
inverted into an explode over the covering cell range).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.operators import encode as E

TILE_SCHEMA = (
    "z int, x long, y long, tile binary, n_features long, n_layers int, "
    "painted boolean, n_unresolved int"
)


def reproject_geoms(
    df: DataFrame,
    src_srs: str,
    dst_srs: str = "+init=epsg:3857",
    wkt_col: str = "geom_wkt",
    emit: str = "wkt",
) -> DataFrame:
    """P3: arbitrary-SRS reprojection of a geometry column (the
    reference's vector_tile_strategy_proj, strategy.hpp:69-104) —
    supported CRSs per functions.proj. The geometry parses ONCE (WKT or
    an existing _gpk column) and every coordinate of an Arrow batch goes
    through proj in a single vectorized call.

    emit="gpack" (the pipeline form) outputs `_gpk` + envelope columns
    that build_geom_tiles consumes directly — reproject -> tile never
    formats or re-parses WKT. emit="wkt" keeps the text column for
    interop."""
    from mapnik_vector_tile_spark.functions import proj as PJ

    src = PJ.parse_proj4(src_srs)
    dst = PJ.parse_proj4(dst_srs)
    kernel = reproject_kernel(src, dst, wkt_col, emit)
    if emit == "gpack":
        # env_* is recomputed from the reprojected coords — exclude any
        # incoming envelope columns (decode_tiles_gpack output, a prior
        # gpack reprojection) so the declared schema lists each once
        drop = {wkt_col, "_gpk", "env_minx", "env_miny", "env_maxx", "env_maxy"}
        keep = [f for f in df.schema if f.name not in drop]
        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep)
        if schema:
            schema += ", "
        schema += ("_gpk binary, env_minx double, env_miny double, "
                   "env_maxx double, env_maxy double")
    else:
        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    return df.mapInPandas(kernel, schema=schema)


def reproject_kernel(src, dst, wkt_col: str, emit: str):
    """The mapInPandas kernel of reproject_geoms, exposed for the bench
    anchor. Parses each geometry ONCE into the gpack layout, transforms
    EVERY coordinate of the batch in a single proj call, and patches the
    transformed coords back behind the header bytes — no per-ring
    Python and (in gpack mode) no WKT text at all."""
    from mapnik_vector_tile_spark.functions import proj as PJ

    def tx(coords: np.ndarray) -> np.ndarray:
        x, y = PJ.transform(src, dst, coords[..., 0], coords[..., 1])
        return np.stack([x, y], axis=-1)

    def kernel(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            if "_gpk" in pdf.columns:
                packs = [bytes(p) for p in pdf["_gpk"]]
                out_packs, envs = _patch_packs(packs, tx)
            else:
                # WKT lane: ONE C-level numeric parse for the batch,
                # transform the shared coord array IN PLACE (every tuple
                # is a view), envelopes by reduceat — no pack-then-patch
                out_packs, envs = _tx_wkt_rows(list(pdf[wkt_col]), tx)
            if emit == "gpack":
                stale = (wkt_col, "_gpk", "env_minx", "env_miny", "env_maxx", "env_maxy")
                yield pdf.drop(
                    columns=[c for c in stale if c in pdf.columns]
                ).assign(
                    _gpk=out_packs,
                    env_minx=envs[:, 0], env_miny=envs[:, 1],
                    env_maxx=envs[:, 2], env_maxy=envs[:, 3],
                )
            else:
                wkts = G.to_wkt_batch([G.gunpack(p) for p in out_packs])
                yield pdf.assign(**{wkt_col: wkts})

    return kernel


def _patch_packs(packs: list, tx):
    """gpack-input reprojection: ONE tx call over the concatenated tail
    coords of every pack, patched back behind the header bytes."""
    metas: list[tuple] = []
    coord_parts: list[np.ndarray] = []
    for pk in packs:
        if pk[0] == 0:
            metas.append((pk, 1, 0))
            continue
        if pk[0] == G._GP_COLLECTION:  # coords at tail, like simple
            hlen = int.from_bytes(pk[5:9], "little")
        else:
            nr = int.from_bytes(pk[1:5], "little")
            hlen = 5 + 8 * nr
        c = np.frombuffer(pk, dtype=np.float64, offset=hlen).reshape(-1, 2)
        metas.append((pk, hlen, len(c)))
        coord_parts.append(c)
    if coord_parts:
        flat = coord_parts[0] if len(coord_parts) == 1 else np.vstack(coord_parts)
        new = tx(flat)
    pos = 0
    out_packs: list = []
    envs = np.full((len(packs), 4), np.nan)
    for i, (pk, hlen, npts) in enumerate(metas):
        if npts == 0:
            out_packs.append(pk)
            continue
        seg = new[pos : pos + npts]
        pos += npts
        out_packs.append(pk[:hlen] + seg.tobytes())
        envs[i] = (
            seg[:, 0].min(), seg[:, 1].min(), seg[:, 0].max(), seg[:, 1].max()
        )
    return out_packs, envs


def _tx_geom_tree(geom, tx):
    """Recursive transform of a geometry-collection tuple (rare path —
    simple geoms ride the in-place batch array instead)."""
    kind, val = geom
    if kind == "empty":
        return geom
    if kind == "point":
        return (kind, tx(np.asarray(val, dtype=np.float64)[None, :])[0])
    if kind in ("multipoint", "linestring"):
        return (kind, tx(np.asarray(val, dtype=np.float64)))
    if kind in ("multilinestring", "polygon"):
        return (kind, [tx(np.asarray(r, dtype=np.float64)) for r in val])
    if kind == "multipolygon":
        return (kind, [[tx(np.asarray(r, dtype=np.float64)) for r in p] for p in val])
    return (kind, [_tx_geom_tree(m, tx) for m in val])


def _batch_envelopes(geoms, flat, spans, packs=None) -> np.ndarray:
    """Per-row envelopes over the shared batch coord array in ONE
    reduceat pass (spans are contiguous/ordered by construction);
    collection rows (not in the array) read their pack's coord tail."""
    n = len(geoms)
    envs = np.full((n, 4), np.nan)
    vrows = np.flatnonzero(spans[:, 1] > spans[:, 0])
    if len(vrows):
        starts = spans[vrows, 0]
        rmin = np.minimum.reduceat(flat, starts, axis=0)
        rmax = np.maximum.reduceat(flat, starts, axis=0)
        envs[vrows, 0] = rmin[:, 0]
        envs[vrows, 1] = rmin[:, 1]
        envs[vrows, 2] = rmax[:, 0]
        envs[vrows, 3] = rmax[:, 1]
    if packs is not None:
        for i, g in enumerate(geoms):
            if g is not None and g[0] == "geometrycollection":
                pk = packs[i]
                coff = int.from_bytes(pk[5:9], "little")
                c = np.frombuffer(pk, dtype=np.float64, offset=coff).reshape(-1, 2)
                if len(c):
                    envs[i] = (
                        c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max()
                    )
    return envs


def _tx_wkt_rows(wkts: list, tx):
    """WKT-input reprojection: batch parse (views into one array),
    transform the array in place, pack each row once. Collections take
    the recursive scalar transform before packing."""
    geoms, flat, spans = G.from_wkt_batch(wkts, return_flat=True)
    if len(flat):
        flat[:] = tx(flat)
    packs: list = []
    for g in geoms:
        if g[0] == "empty":
            packs.append(bytes([0]))
        elif g[0] == "geometrycollection":
            packs.append(G.gpack(_tx_geom_tree(g, tx)))
        else:
            packs.append(G.gpack(g))
    envs = _batch_envelopes(geoms, flat, spans, packs)
    return packs, envs


def with_envelope(df: DataFrame, wkt_col: str = "geom_wkt") -> DataFrame:
    """Add mercator envelope columns + the compact packed geometry
    (geometry.gpack) so the WKT regex parse runs exactly ONCE per row —
    downstream encode stages read the pack, never the text."""

    def kernel(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            geoms, flat, spans = G.from_wkt_batch(list(pdf[wkt_col]), return_flat=True)
            packs = [
                bytes([0]) if g[0] == "empty" else G.gpack(g) for g in geoms
            ]
            envs = _batch_envelopes(geoms, flat, spans, packs)
            yield pdf.assign(
                env_minx=envs[:, 0], env_miny=envs[:, 1],
                env_maxx=envs[:, 2], env_maxy=envs[:, 3],
                _gpk=packs,
            )

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    schema += ", env_minx double, env_miny double, env_maxx double, env_maxy double, _gpk binary"
    return df.mapInPandas(kernel, schema=schema)


def assign_tiles_by_envelope(
    df: DataFrame, z: int, buffer_px: int = 0, extent: int = 4096
) -> DataFrame:
    """Explode each geometry row into every (z,x,y) whose buffered
    mercator extent intersects its envelope (pure Column math +
    sequence explode — no UDF)."""
    n = 2**z
    ts = tilemath.EARTH_CIRCUMFERENCE / float(n)
    buf_m = buffer_px / float(extent) * ts
    half = tilemath.HALF_OF_EQUATOR

    def cell_x(col):
        return F.floor((col + F.lit(half)) / F.lit(ts))

    def cell_y(col):
        return F.floor((F.lit(half) - col) / F.lit(ts))

    x0 = F.greatest(F.lit(0), F.least(F.lit(n - 1), cell_x(F.col("env_minx") - F.lit(buf_m))))
    x1 = F.greatest(F.lit(0), F.least(F.lit(n - 1), cell_x(F.col("env_maxx") + F.lit(buf_m))))
    y0 = F.greatest(F.lit(0), F.least(F.lit(n - 1), cell_y(F.col("env_maxy") + F.lit(buf_m))))
    y1 = F.greatest(F.lit(0), F.least(F.lit(n - 1), cell_y(F.col("env_miny") - F.lit(buf_m))))
    return (
        df.withColumn("x", F.explode(F.sequence(x0.cast("long"), x1.cast("long"))))
        .withColumn("y", F.explode(F.sequence(y0.cast("long"), y1.cast("long"))))
        .withColumn("z", F.lit(z))
    )


def build_geom_tiles(
    geoms: DataFrame,
    prop_cols: list[str],
    z: int,
    layer_name: str = "layer",
    extent: int = 4096,
    buffer_px: int = 0,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.1,
    wkt_col: str = "geom_wkt",
    id_col: str | None = None,
    compress_tiles: bool = True,
    fill_type: str = "even_odd",
    strictly_simple: bool = False,
    multi_polygon_union: bool = False,
    process_all_rings: bool = False,
) -> DataFrame:
    """geoms: rows with a mercator-WKT geometry column + props.
    One tile row per painted (z,x,y).

    Rows that already carry the packed geometry (_gpk) AND its envelope
    (env_minx..env_maxy) — e.g. the decode_tiles_gpack scan or a
    gpack-emitting reprojection — skip the WKT parse stage entirely:
    the text boundary is paid at most once per pipeline.

    Property columns named 'z'/'x'/'y'/'tile' are legal (the reference's
    linestrings_and_point fixture carries x/y properties) — they are
    renamed internally so the tile-coordinate columns cannot clobber
    them, and written to the layer key dictionary under their original
    names."""
    reserved = {"z", "x", "y", "tile"}
    key_names: list[str] | None = None
    clash = [c for c in dict.fromkeys([*prop_cols, *( [id_col] if id_col else [] )])
             if c in reserved]
    if clash:
        ren = {c: f"_prop_{c}" for c in clash}
        geoms = geoms.select(
            *[F.col(c).alias(ren.get(c, c)) for c in geoms.columns]
        )
        key_names = list(prop_cols)
        prop_cols = [ren.get(c, c) for c in prop_cols]
        if id_col:
            id_col = ren.get(id_col, id_col)

    # any OTHER input column named z/x/y/tile (a passthrough not listed
    # in prop_cols/id_col) would still be silently clobbered by the
    # tile-key columns — refuse loudly, like assign._guard_cell_columns
    stray = [c for c in geoms.columns if c in reserved]
    if stray:
        raise ValueError(
            f"input column(s) {stray} collide with the tile-key columns: "
            "list them in prop_cols/id_col (they are then aliased "
            "internally) or rename them before build_geom_tiles"
        )

    have = set(geoms.columns)
    if {"_gpk", "env_minx", "env_miny", "env_maxx", "env_maxy"} <= have:
        enveloped = geoms
    else:
        enveloped = with_envelope(geoms, wkt_col)
    assigned = assign_tiles_by_envelope(enveloped, z, buffer_px=buffer_px, extent=extent)
    slim_cols = ["z", "x", "y", "_gpk", *prop_cols]
    if id_col:
        slim_cols.append(id_col)
    slim = assigned.select(*dict.fromkeys(slim_cols))
    kernel = geom_tile_kernel(
        prop_cols, layer_name, extent, buffer_px, simplify_distance,
        area_threshold, compress_tiles, fill_type, strictly_simple,
        multi_polygon_union, process_all_rings, key_names,
    )
    npart = int(slim.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    clustered = slim.repartition(npart, "z", "x", "y").sortWithinPartitions(
        "z", "x", "y", *([id_col] if id_col else [])
    )
    return clustered.mapInPandas(
        E._with_declared_ints(kernel, slim, prop_cols), schema=TILE_SCHEMA
    )


def geom_tile_kernel(
    prop_cols: list[str],
    layer_name: str = "layer",
    extent: int = 4096,
    buffer_px: int = 0,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.1,
    compress_tiles: bool = True,
    fill_type: str = "even_odd",
    strictly_simple: bool = False,
    multi_polygon_union: bool = False,
    process_all_rings: bool = False,
    key_names: list[str] | None = None,
):
    """The mapInPandas kernel of build_geom_tiles, exposed so tests can
    drive it single-core. Frames in: z, x, y, _gpk and the property
    columns, sorted by (z, x, y, feature order); frames out: TILE_SCHEMA
    rows through encode.tile_stream (tiles straddling Arrow batches
    carry into the next batch, as on the point path), each complete run
    of tiles through one call of the geometry core
    (encode._encode_geom_groups). n_unresolved counts a tile's
    fill-resolver budget fallbacks, so wrong-fill outputs are detectable
    downstream."""
    cols = ["z", "x", "y", "tile", "n_features", "n_layers", "painted", "n_unresolved"]

    def encode(pdf: pd.DataFrame) -> list[tuple]:
        groups = E._groups(pdf)
        layers, unresolved = E._encode_geom_groups(
            pdf, groups, layer_name, prop_cols, extent, buffer_px,
            simplify_distance, area_threshold, fill_type=fill_type,
            strictly_simple=strictly_simple,
            multi_polygon_union=multi_polygon_union,
            process_all_rings=process_all_rings, key_names=key_names,
        )
        rows = E._tile_rows(groups[0], layers, compress_tiles)
        return [(*r, int(u)) for r, u in zip(rows, unresolved)]

    def kernel(iterator):
        return E.tile_stream(iterator, encode, cols)

    return kernel
