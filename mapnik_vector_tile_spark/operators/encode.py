"""Tile encode — one clustered exchange + batch kernels (SURVEY.md §2.10).

Replaces the reference's per-tile pull pipeline
(processor::create_tile -> layer_builder_pbf, src/vector_tile_processor.ipp
+ src/vector_tile_layer.ipp:84-126) with:

  assigned rows --one (z,x,y) hash exchange + a (z,x,y,order) sort
  within partitions--> one mapInPandas kernel (point_tile_kernel), many
  tiles per Arrow batch. Tiles straddling Arrow batches carry (as a
  frame list, no quadratic copy).

  COLD (size <= hot_threshold): batch-wide vectorized quantize
  (std::round semantics, per-row tile origin), segmented per-group
  first-seen dictionaries (batch-global factorize + first-occurrence
  ranking, insertion-order parity with vector_tile_layer.ipp:92-124),
  whole-batch packed feature stream, per-tile assembly = two byte
  slices + zlib.

  HOT (skewed city-scale tiles — north rule): one task encodes the tile,
  as the reference does, in pieces of hot_threshold rows as the rows
  arrive, so its memory stays bounded. A piece is its own tile row
  (prechunk_hot), or it is packed with per-occurrence dictionary slots
  (no dictionary shared between pieces) and deflated as segments that
  join into one zlib stream at tile close (compression.zlib_join).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import commands as Cmd
from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.functions import ragged as RG
from mapnik_vector_tile_spark.operators.decode import HOT_BYTES

TILE_SCHEMA = "z int, x long, y long, tile binary, n_features long, n_layers int, painted boolean"


# ---------------------------------------------------------------------------
# dictionaries (A1/A2)
# ---------------------------------------------------------------------------

def build_value_dicts(pdf: pd.DataFrame, prop_cols: list[str],
                      key_names: list[str] | None = None):
    """First-seen (row-major, column-within-row) key/value dictionaries —
    order parity with layer_builder_pbf::add_feature
    (vector_tile_layer.ipp:84-126). Returns (keys, value_list, tags_array)
    where tags_array is (n_rows, 2*n_cols) int64 (key_idx, val_idx pairs),
    with -1 marking dropped nulls. key_names overrides the written key
    dictionary when the DATA columns were renamed to dodge the tile
    coordinate columns (a feature property named 'x'/'y'/'z' is legal
    wire-wise — the reference's linestrings_and_point fixture has one)."""
    n = len(pdf)
    ncols = len(prop_cols)
    keys = list(key_names or prop_cols)  # key dict = column order (fixed schema)
    val_index: dict[tuple, int] = {}
    values: list = []
    tags = np.full((n, 2 * ncols), -1, dtype=np.int64)
    col_codes = []
    col_uniques = []
    for c in prop_cols:
        codes, uniques = pd.factorize(pdf[c], use_na_sentinel=True)
        col_codes.append(codes)
        col_uniques.append(list(uniques))
    # first occurrence rank of each (col, code): row*ncols + col (vectorized)
    order = []
    for j in range(ncols):
        codes = col_codes[j]
        valid = codes >= 0
        uniq, first_idx = np.unique(codes[valid], return_index=True)
        rows_idx = np.nonzero(valid)[0][first_idx]
        order.extend(zip((rows_idx * ncols + j).tolist(), [j] * len(uniq), uniq.tolist()))
    order.sort()
    slot_of: dict[tuple[int, int], int] = {}
    for _rank, j, code in order:
        v = col_uniques[j][code]
        tagged = (pbf.value_type_tag(v), v)
        if tagged not in val_index:
            val_index[tagged] = len(values)
            values.append(v)
        slot_of[(j, code)] = val_index[tagged]
    for j in range(ncols):
        codes = col_codes[j]
        valid = codes >= 0
        tags[valid, 2 * j] = j
        tags[valid, 2 * j + 1] = [slot_of[(j, c)] for c in codes[valid]]
    return keys, values, tags


# ---------------------------------------------------------------------------
# batch-wide vectorized quantization
# ---------------------------------------------------------------------------

def _quantize_batch(pdf: pd.DataFrame, extent: int, buffer_px: int):
    """mercator (mx,my) -> per-row tile px ints + keep mask, vectorized
    across heterogeneous (z,x,y). std::round + hiRange guard (P2) and the
    transform_visitor buffered-envelope check (P4)."""
    z = pdf["z"].to_numpy(dtype=np.float64)
    x = pdf["x"].to_numpy(dtype=np.float64)
    y = pdf["y"].to_numpy(dtype=np.float64)
    mx = pdf["mx"].to_numpy(dtype=np.float64)
    my = pdf["my"].to_numpy(dtype=np.float64)
    ts = tilemath.EARTH_CIRCUMFERENCE / np.power(2.0, z)
    ox = -tilemath.HALF_OF_EQUATOR + x * ts
    oy = tilemath.HALF_OF_EQUATOR - y * ts  # top edge (y down)
    px = G.round_half_away((mx - ox) / ts * extent)
    py = G.round_half_away((oy - my) / ts * extent)
    ok = (
        (px > G.COORD_MIN) & (px < G.COORD_MAX) & (py > G.COORD_MIN) & (py < G.COORD_MAX)
        & (px >= -buffer_px) & (px <= extent + buffer_px)
        & (py >= -buffer_px) & (py <= extent + buffer_px)
    )
    return px.astype(np.int64), py.astype(np.int64), ok


# ---------------------------------------------------------------------------
# group lane
# ---------------------------------------------------------------------------

def _encode_group_prequantized(
    pdf: pd.DataFrame,
    layer_name: str,
    prop_cols: list[str],
    extent: int,
    version: int,
    raster_col: str | None,
) -> tuple[bytes, int]:
    keys, values, tags = build_value_dicts(pdf, prop_cols)
    vals = [pbf.encode_value(v) for v in values]
    zz = np.column_stack(
        [Cmd.zigzag32(pdf["_px"].to_numpy()), Cmd.zigzag32(pdf["_py"].to_numpy())]
    )
    rasters = pdf[raster_col] if raster_col else None
    if rasters is None and (tags >= 0).all():
        blob = pbf.encode_point_features_packed(tags, zz)
        layer = pbf.encode_layer_packed(
            layer_name, blob, keys, vals, extent=extent, version=version
        )
        return layer, len(pdf)
    feats = []
    for i in range(len(pdf)):
        trow = tags[i]
        tag_list = [int(t) for t in trow[trow >= 0]]
        r = rasters.iloc[i] if rasters is not None else None
        feats.append(
            pbf.encode_feature(
                None, tag_list, Cmd.POINT,
                [9, int(zz[i, 0]), int(zz[i, 1])],
                raster=bytes(r) if r is not None else None,
            )
        )
    layer = pbf.encode_layer(layer_name, feats, keys, vals, extent=extent, version=version)
    return layer, len(feats)


def _value_field_bytes(v) -> bytes:
    enc = pbf.encode_value(v)
    head = bytearray()
    pbf.write_varint(head, pbf.tag(4, pbf.WT_LEN))
    pbf.write_varint(head, len(enc))
    return bytes(head) + enc


def _value_fields(values):
    """Layer.values fields of ``values`` as (buf uint8, offsets, lengths),
    one segment per value: the vectorized string writer, or the scalar
    value encoding for a non-string column."""
    try:
        return pbf.encode_string_value_fields(values)
    except pa.ArrowException:
        pieces = [_value_field_bytes(v) for v in values]
        b = np.frombuffer(b"".join(pieces), dtype=np.uint8)
        l = np.array([len(p) for p in pieces], dtype=np.int64)
        return b, np.cumsum(l) - l, l


# ---------------------------------------------------------------------------
# segmented vectorized lane: all tiles of a batch at once
# ---------------------------------------------------------------------------

def _segmented_value_dicts(pdf, prop_cols, gid, local_row, n_groups):
    """Per-GROUP first-seen value dictionaries for a whole sorted batch
    (batch-global factorize + segmented first-occurrence ranking —
    insertion-order parity with vector_tile_layer.ipp:92-124).

    Returns None when any property value is null (callers fall back to
    the per-group lane), else (tags (n,2c) int64, gathered_bytes,
    gat_off, dict_off): group g's values blob is
    gathered_bytes[gat_off[dict_off[g]] : gat_off[dict_off[g+1]]].

    NOTE (documented deviation): identical values appearing in
    *different columns* each get their own dictionary slot here —
    decoded properties are identical, the tile is just a few bytes
    larger in that rare case. Within a column dedup is exact."""
    n = len(pdf)
    c = len(prop_cols)
    col_codes = []
    col_base = []
    bufs: list[np.ndarray] = []
    offs: list[np.ndarray] = []
    lens: list[np.ndarray] = []
    base = 0
    buf_bytes = 0
    for col in prop_cols:
        codes, uniques = pd.factorize(pdf[col], use_na_sentinel=True)
        if (codes < 0).any():
            return None
        uniques = list(uniques)
        b, o, l = _value_fields(uniques)
        col_codes.append(codes)
        col_base.append(base)
        bufs.append(b)
        offs.append(o + buf_bytes)
        lens.append(l)
        base += len(uniques)
        buf_bytes += len(b)
    val_buf = np.concatenate(bufs) if bufs else np.empty(0, np.uint8)
    val_off = np.concatenate(offs) if offs else np.empty(0, np.int64)
    val_len = np.concatenate(lens) if lens else np.empty(0, np.int64)

    U = max(base, 1)
    # entry stream: (gid, gvid, stream_pos) for every row x column
    ent_gid = np.tile(gid, c)
    ent_gvid = np.concatenate([col_base[j] + col_codes[j] for j in range(c)]) \
        if c else np.empty(0, np.int64)
    ent_stream = np.concatenate([local_row * c + j for j in range(c)]) \
        if c else np.empty(0, np.int64)

    # first occurrence of each (gid, gvid): sort by (gid, gvid, stream)
    order1 = np.lexsort((ent_stream, ent_gvid, ent_gid))
    sg, sv, ss = ent_gid[order1], ent_gvid[order1], ent_stream[order1]
    first = np.empty(len(sg), dtype=bool)
    if len(sg):
        first[0] = True
        first[1:] = (sg[1:] != sg[:-1]) | (sv[1:] != sv[:-1])
    dict_gid, dict_gvid, dict_stream = sg[first], sv[first], ss[first]
    # slots: rank by stream within group
    order2 = np.lexsort((dict_stream, dict_gid))
    dg, dv = dict_gid[order2], dict_gvid[order2]
    grp_change = np.empty(len(dg), dtype=bool)
    if len(dg):
        grp_change[0] = True
        grp_change[1:] = dg[1:] != dg[:-1]
    slot_rank = np.arange(len(dg)) - np.maximum.accumulate(
        np.where(grp_change, np.arange(len(dg)), 0)
    )
    # lookup (gid, gvid) -> slot via sorted combined key
    key_sorted = dg.astype(np.int64) * U + dv
    key_order = np.argsort(key_sorted, kind="stable")
    key_sorted_sorted = key_sorted[key_order]
    slot_sorted = slot_rank[key_order]
    ent_key = ent_gid.astype(np.int64) * U + ent_gvid
    pos = np.searchsorted(key_sorted_sorted, ent_key)
    ent_slot = slot_sorted[pos]

    tags = np.empty((n, 2 * c), dtype=np.int64)
    for j in range(c):
        tags[:, 2 * j] = j
        tags[:, 2 * j + 1] = ent_slot[j * n : (j + 1) * n]

    # per-group values blob: dict entries (dg, dv) are sorted by
    # (group, slot) — exactly layer insertion order
    dict_counts = np.bincount(dg, minlength=n_groups)
    dict_off = np.concatenate([[0], np.cumsum(dict_counts)])
    gathered, gat_off = pbf.ragged_gather(val_buf, val_off, val_len, dv)
    return tags, gathered.tobytes(), gat_off, dict_off


def _encode_tiles_segmented(
    pdf: pd.DataFrame,
    layer_name: str,
    prop_cols: list[str],
    extent: int,
    version: int,
    compress_tiles: bool,
) -> list[tuple]:
    """Encode every (z,x,y) group of a sorted batch without per-group
    pandas work. Per-group first-seen dictionaries are computed with
    batch-global factorize + a segmented first-occurrence ranking, the
    feature stream is packed once for the whole batch, and per-group
    assembly is a couple of byte slices + zlib.

    Requires: rows sorted by (z,x,y); columns _px/_py present; no raster.
    Null property values fall back to the caller's group lane.
    """
    n = len(pdf)
    c = len(prop_cols)
    # group ids over the sorted batch
    zxy = np.column_stack(
        [pdf["z"].to_numpy(np.int64), pdf["x"].to_numpy(np.int64), pdf["y"].to_numpy(np.int64)]
    )
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (zxy[1:] != zxy[:-1]).any(axis=1)
    gid = np.cumsum(change) - 1
    n_groups = int(gid[-1]) + 1
    group_start = np.flatnonzero(change)
    group_rows = np.diff(np.append(group_start, n))
    local_row = np.arange(n) - group_start[gid]

    dicts = _segmented_value_dicts(pdf, prop_cols, gid, local_row, n_groups)
    if dicts is None:
        return []  # caller falls back to the group lane
    tags, gathered_b, gat_off, dict_off = dicts

    zz = np.column_stack(
        [Cmd.zigzag32(pdf["_px"].to_numpy()), Cmd.zigzag32(pdf["_py"].to_numpy())]
    )
    blob, flens = pbf.encode_point_features_packed(tags, zz, return_lengths=True)
    feat_off = np.concatenate([[0], np.cumsum(flens)])

    # constant layer pieces
    prefix = bytearray()
    pbf.add_len_field(prefix, 1, layer_name.encode("utf-8"))
    for k in prop_cols:
        pbf.add_len_field(prefix, 3, k.encode("utf-8"))
    prefix = bytes(prefix)
    suffix = bytearray()
    pbf.add_varint_field(suffix, 5, extent)
    pbf.add_varint_field(suffix, 15, version)
    suffix = bytes(suffix)

    zs = zxy[group_start, 0]
    xs = zxy[group_start, 1]
    ys = zxy[group_start, 2]
    fs = feat_off[group_start]
    fe = feat_off[np.append(group_start[1:], n)]
    out: list[tuple] = []
    compress = Z.compress  # small-payload fast path (functions.compression)
    for g in range(n_groups):
        vals = gathered_b[gat_off[dict_off[g]] : gat_off[dict_off[g + 1]]]
        layer = prefix + vals + suffix + blob[fs[g] : fe[g]]
        head = bytearray()
        pbf.write_varint(head, pbf.tag(3, pbf.WT_LEN))
        pbf.write_varint(head, len(layer))
        tile = bytes(head) + layer
        if compress_tiles:
            tile = compress(tile, 6)
        out.append(
            (int(zs[g]), int(xs[g]), int(ys[g]), tile, int(group_rows[g]), 1, True)
        )
    return out


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def _scalar_geom_feature(geom, vt, clip_box, simplify_distance,
                          area_threshold, stats,
                          fill_type="even_odd", strictly_simple=False,
                          multi_polygon_union=False, process_all_rings=False):
    """One feature through the scalar pipeline (the eject lane):
    transform -> simplify -> clip -> encode. Returns a LIST of
    (gtype, cmds): a geometry collection expands into one entry per
    member — the reference writes each collection member as its own
    wire feature with the row's tags/id
    (vector_tile_geometry_feature.hpp:70-76 visitor recursion; the
    geometry encoder itself refuses collections,
    vector_tile_geometry_encoder_pbf.ipp:62-65)."""
    tg0 = G.transform_geom(geom, vt)
    if tg0[0] == "empty":
        return []
    bbox = G._geom_px_bbox(tg0)
    if simplify_distance > 0:
        tg0 = G.simplify_geom(tg0, simplify_distance)
        if tg0[0] == "empty":
            return []
    cx0, cy0, cx1, cy1 = clip_box
    inside = (
        bbox is not None
        and bbox[0] >= cx0 and bbox[1] >= cy0
        and bbox[2] <= cx1 and bbox[3] <= cy1
        and tg0[0] != "geometrycollection"
    )
    kw = dict(area_threshold=area_threshold, stats=stats,
              fill_type=fill_type, strictly_simple=strictly_simple,
              multi_polygon_union=multi_polygon_union,
              process_all_rings=process_all_rings)
    if inside:
        tg = G.clip_geom_inside(tg0, **kw)
    else:
        tg = G.clip_geom(tg0, clip_box, **kw)
    out: list[tuple] = []

    def emit(g):
        if g[0] == "geometrycollection":
            for m in g[1]:
                emit(m)
        elif g[0] != "empty":
            gtype, cmds = Cmd.encode_geometry(g)
            if gtype is not None:
                out.append((gtype, cmds))

    emit(tg)
    return out


def _encode_geom_tiles_segmented(
    pdf: pd.DataFrame,
    layer_name: str,
    prop_cols: list[str],
    extent: int,
    buffer_px: int,
    simplify_distance: float,
    area_threshold: float,
    geom_col: str,
    compress_tiles: bool,
    version: int = 2,
    fill_type: str = "even_odd",
    strictly_simple: bool = False,
    key_names: list[str] | None = None,
) -> list[tuple] | None:
    """Encode every (z,x,y) geometry group of a sorted batch through ONE
    ragged kernel invocation (functions/ragged.py) — the geometry
    sibling of _encode_tiles_segmented. Per-feature tile transforms feed
    the batch quantize; per-group assembly is dictionary-blob + feature
    byte-range slices + zlib. Returns rows
    (z, x, y, tile, n_features, n_layers, painted, n_unresolved),
    or None when a property value is null (per-group fallback)."""
    n = len(pdf)
    if n == 0:
        return []
    zxy = np.column_stack(
        [pdf["z"].to_numpy(np.int64), pdf["x"].to_numpy(np.int64), pdf["y"].to_numpy(np.int64)]
    )
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (zxy[1:] != zxy[:-1]).any(axis=1)
    gid = np.cumsum(change) - 1
    n_groups = int(gid[-1]) + 1
    group_start = np.flatnonzero(change)
    local_row = np.arange(n) - group_start[gid]

    dicts = _segmented_value_dicts(pdf, prop_cols, gid, local_row, n_groups)
    if dicts is None:
        return None
    tags, gathered_b, gat_off, dict_off = dicts

    # per-group view transforms (exact tile_mercator_bbox_np math so the
    # quantization is bit-identical to the per-tile lane)
    gz, gx, gy = zxy[group_start, 0], zxy[group_start, 1], zxy[group_start, 2]
    minxg, minyg, maxxg, maxyg = tilemath.tile_mercator_bbox_np(gx, gy, gz)
    sxg = extent / (maxxg - minxg)
    syg = extent / (maxyg - minyg)
    clip_box = tilemath.buffered_tile_px_box(extent, buffer_px)

    blobs = pdf[geom_col].to_numpy()
    stats: dict = {}
    feat_rows, gtypes_v, cmds_flat, clens, ejects = RG.encode_batch_gpack(
        blobs, (minxg[gid], maxyg[gid], sxg[gid], syg[gid]), clip_box,
        simplify_distance, area_threshold, stats,
        force_resolve=strictly_simple,
    )
    if ejects:
        s_rows: list[int] = []
        s_gtypes: list[int] = []
        s_cmds: list[np.ndarray] = []
        for i in ejects:
            g = gid[i]
            vt_i = G.ViewTransform(
                float(minxg[g]), float(minyg[g]), float(maxxg[g]),
                float(maxyg[g]), extent, extent,
            )
            st_i: dict = {}
            encoded = _scalar_geom_feature(
                G.gunpack(bytes(blobs[i])), vt_i, clip_box,
                simplify_distance, area_threshold, st_i,
                fill_type=fill_type, strictly_simple=strictly_simple,
            )
            ov = st_i.get("budget_exceeded", 0)
            if ov:
                stats["budget_exceeded"] = stats.get("budget_exceeded", 0) + ov
                stats.setdefault("budget_exceeded_feats", []).extend([i] * ov)
            for gtype, cmds in encoded:  # collections: one feature/member
                s_rows.append(i)
                s_gtypes.append(gtype)
                s_cmds.append(np.asarray(cmds, dtype=np.uint64))
        if s_rows:
            pieces = np.split(cmds_flat, np.cumsum(clens)[:-1]) if len(clens) else []
            rows_all = np.concatenate([feat_rows, np.asarray(s_rows, dtype=np.int64)])
            order = np.argsort(rows_all, kind="stable")
            all_cmds = pieces + s_cmds
            all_gtypes = np.concatenate(
                [gtypes_v, np.asarray(s_gtypes, dtype=np.int64)]
            )
            feat_rows = rows_all[order]
            gtypes_v = all_gtypes[order]
            cmd_list = [all_cmds[j] for j in order]
            cmds_flat = np.concatenate(cmd_list)
            clens = np.array([len(c) for c in cmd_list], dtype=np.int64)

    unresolved = np.zeros(n_groups, dtype=np.int64)
    for f in stats.get("budget_exceeded_feats", []):
        unresolved[gid[f]] += 1

    # feature framing for the whole batch; per-group = byte-range slice
    if len(feat_rows):
        kt = tags[feat_rows]
        blob, flens = pbf.encode_features_packed_ragged(
            gtypes_v, cmds_flat, clens,
            kt.reshape(-1), np.full(len(feat_rows), kt.shape[1], dtype=np.int64),
            None, return_lengths=True,
        )
        feat_gid = gid[feat_rows]
        fo = np.concatenate([[0], np.cumsum(flens)])
        g_lo = np.searchsorted(feat_gid, np.arange(n_groups), side="left")
        g_hi = np.searchsorted(feat_gid, np.arange(n_groups), side="right")
    else:
        blob = b""
        fo = np.zeros(1, dtype=np.int64)
        g_lo = g_hi = np.zeros(n_groups, dtype=np.int64)

    prefix, suffix = _layer_prefix_suffix(
        layer_name, key_names or prop_cols, extent, version
    )
    out: list[tuple] = []
    compress = Z.compress
    for g in range(n_groups):
        nf = int(g_hi[g] - g_lo[g])
        if nf == 0:
            out.append((int(gz[g]), int(gx[g]), int(gy[g]), b"", 0, 0, False,
                        int(unresolved[g])))
            continue
        vals = gathered_b[gat_off[dict_off[g]] : gat_off[dict_off[g + 1]]]
        layer = prefix + vals + suffix + blob[fo[g_lo[g]] : fo[g_hi[g]]]
        tile = pbf.encode_tile([layer])
        if compress_tiles:
            tile = compress(tile)
        out.append((int(gz[g]), int(gx[g]), int(gy[g]), tile, nf, 1, True,
                    int(unresolved[g])))
    return out


def encode_geom_layer(
    pdf: pd.DataFrame,
    z: int,
    x: int,
    y: int,
    layer_name: str,
    prop_cols: list[str],
    wkt_col: str = "geom_wkt",
    extent: int = 4096,
    buffer_px: int = 0,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.1,
    id_col: str | None = None,
    version: int = 2,
    geom_col: str | None = None,
    stats: dict | None = None,
    fill_type: str = "even_odd",
    strictly_simple: bool = False,
    multi_polygon_union: bool = False,
    process_all_rings: bool = False,
    key_names: list[str] | None = None,
    raster_col: str | None = None,
) -> tuple[bytes, int]:
    """General-geometry layer through the fused transform/simplify/clip
    kernel, then ONE ragged batch command-stream + feature framing pass
    (pbf.encode_features_packed_ragged) — no per-feature pbf writer.
    geom_col: compact packed geometry (geometry.gpack) — preferred; the
    WKT column is parsed only when no packed column is present.
    stats: optional dict accumulating fill-resolver budget_exceeded.
    raster_col: Feature.raster bytes per row (the re-encode merge path,
    raster_to_feature semantics — vector_tile_geometry_feature.hpp:23-34):
    raster-bearing rows keep their geometry AND raster; rows with
    raster but no surviving geometry are written as geometry-less
    raster features (type UNKNOWN), like the reference's raster
    features."""
    minx, miny, maxx, maxy = tilemath.tile_mercator_bbox_np(x, y, z)
    vt = G.ViewTransform(float(minx), float(miny), float(maxx), float(maxy), extent, extent)
    clip_box = tilemath.buffered_tile_px_box(extent, buffer_px)
    keys, values, tags = build_value_dicts(pdf, prop_cols, key_names)
    ids = pdf[id_col].to_numpy() if id_col else None
    rasters = None
    if raster_col and raster_col in pdf.columns:
        rl = list(pdf[raster_col])
        if any(r is not None for r in rl):
            rasters = rl
    geoms = (
        [G.gunpack(bytes(b)) for b in pdf[geom_col]]
        if geom_col
        else G.from_wkt_batch(list(pdf[wkt_col]))
    )
    # the WHOLE simplify/clip/assemble/encode pass runs as flat numpy
    # over every feature at once (functions/ragged.py — the fused
    # vectorized twin of the reference's per-feature visitor chain,
    # src/vector_tile_processor.ipp:82-174); rare complex features
    # (geometry collections, fill-resolver polygons) come back as ejects
    # and go through the scalar pipeline below
    if multi_polygon_union or process_all_rings:
        # non-default wagyu knobs (processor.set_multi_polygon_union /
        # set_process_all_rings): the ragged lane models the default
        # semantics, so every feature takes the scalar pipeline
        feat_rows = np.empty(0, dtype=np.int64)
        gtypes_v = np.empty(0, dtype=np.int64)
        cmds_flat = np.empty(0, dtype=np.uint64)
        clens = np.empty(0, dtype=np.int64)
        ejects = list(range(len(geoms)))
    else:
        feat_rows, gtypes_v, cmds_flat, clens, ejects = RG.encode_batch(
            geoms, vt, clip_box, simplify_distance, area_threshold, stats,
            force_resolve=strictly_simple,
        )
    if ejects:
        s_rows: list[int] = []
        s_gtypes: list[int] = []
        s_cmds: list[np.ndarray] = []
        for i in ejects:
            for gtype, cmds in _scalar_geom_feature(
                geoms[i], vt, clip_box, simplify_distance, area_threshold,
                stats, fill_type=fill_type, strictly_simple=strictly_simple,
                multi_polygon_union=multi_polygon_union,
                process_all_rings=process_all_rings,
            ):  # collections: one wire feature per member
                s_rows.append(i)
                s_gtypes.append(gtype)
                s_cmds.append(np.asarray(cmds, dtype=np.uint64))
        if s_rows:
            # merge scalar features back in original feature order
            pieces = np.split(cmds_flat, np.cumsum(clens)[:-1]) if len(clens) else []
            rows_all = np.concatenate([feat_rows, np.asarray(s_rows, dtype=np.int64)])
            order = np.argsort(rows_all, kind="stable")
            all_cmds = pieces + s_cmds
            all_gtypes = np.concatenate([gtypes_v, np.asarray(s_gtypes, dtype=np.int64)])
            feat_rows = rows_all[order]
            gtypes_v = all_gtypes[order]
            cmd_list = [all_cmds[j] for j in order]
            cmds_flat = np.concatenate(cmd_list) if cmd_list else cmds_flat
            clens = np.array([len(c) for c in cmd_list], dtype=np.int64)
    if len(feat_rows) == 0 and rasters is None:
        return b"", 0
    keep_idx = feat_rows
    kept_tags = tags[keep_idx]
    tmask = kept_tags >= 0
    ragged_args = (
        gtypes_v,
        cmds_flat,
        clens,
        kept_tags[tmask].astype(np.int64),
        tmask.sum(axis=1).astype(np.int64),
        ids[keep_idx].astype(np.int64) if ids is not None else None,
    )
    if rasters is None:
        blob = pbf.encode_features_packed_ragged(*ragged_args)
        n_out = len(feat_rows)
    else:
        blob, n_out = _splice_raster_frames(
            ragged_args, feat_rows, gtypes_v, cmds_flat, clens,
            tags, ids, rasters,
        )
        if n_out == 0:
            return b"", 0
    vals = [pbf.encode_value(v) for v in values]
    layer = pbf.encode_layer_packed(
        layer_name, blob, keys, vals, extent=extent, version=version
    )
    return layer, n_out


def _splice_raster_frames(ragged_args, feat_rows, gtypes_v, cmds_flat,
                          clens, tags, ids, rasters):
    """Weave Feature.raster bytes into the batch-framed blob: frames of
    raster-bearing rows are rebuilt by the scalar writer (field order
    id, tags, type, geometry, raster — matching encode_feature and the
    reference's raster_to_feature), raster-only rows (no surviving
    geometry) are inserted at their original row position as
    geometry-less UNKNOWN-type features. A collection row's raster
    attaches to its FIRST member feature only."""
    blob_b, flens = pbf.encode_features_packed_ragged(
        *ragged_args, return_lengths=True
    )
    frame_off = np.concatenate([[0], np.cumsum(flens)]).astype(np.int64)
    cmd_pieces = (
        np.split(cmds_flat, np.cumsum(clens)[:-1]) if len(clens) else []
    )
    geom_rows = set(int(r) for r in feat_rows)
    extra = [
        i for i, r in enumerate(rasters)
        if r is not None and i not in geom_rows
    ]

    def raster_frame(row: int, gtype: int, cmds) -> bytes:
        trow = tags[row]
        tm = trow >= 0
        msg = pbf.encode_feature(
            int(ids[row]) if ids is not None else None,
            [int(t) for t in trow[tm]],
            gtype,
            [int(c) for c in cmds],
            raster=bytes(rasters[row]),
        )
        framed = bytearray()
        pbf.add_len_field(framed, 2, msg)  # Layer.features framing
        return bytes(framed)

    pieces: list[bytes] = []
    gi = ei = 0
    prev_row = -1
    while gi < len(feat_rows) or ei < len(extra):
        take_extra = gi >= len(feat_rows) or (
            ei < len(extra) and extra[ei] < int(feat_rows[gi])
        )
        if take_extra:
            pieces.append(raster_frame(extra[ei], 0, []))
            ei += 1
            continue
        row = int(feat_rows[gi])
        if rasters[row] is not None and row != prev_row:
            pieces.append(raster_frame(row, int(gtypes_v[gi]), cmd_pieces[gi]))
        else:
            pieces.append(bytes(blob_b[frame_off[gi] : frame_off[gi + 1]]))
        prev_row = row
        gi += 1
    return b"".join(pieces), len(pieces)


def _layer_prefix_suffix(layer_name: str, prop_cols: list[str], extent: int, version: int):
    prefix = bytearray()
    pbf.add_len_field(prefix, 1, layer_name.encode("utf-8"))
    for k in prop_cols:
        pbf.add_len_field(prefix, 3, k.encode("utf-8"))
    suffix = bytearray()
    pbf.add_varint_field(suffix, 5, extent)
    pbf.add_varint_field(suffix, 15, version)
    return bytes(prefix), bytes(suffix)


# ---------------------------------------------------------------------------
# point tiles: one clustered exchange + a streaming kernel
# ---------------------------------------------------------------------------

def _hot_piece(pdf: pd.DataFrame, prop_cols: list[str], vbase: int):
    """Features and values of one piece of a hot tile (quantized rows,
    _px/_py set). Dictionary slots are per occurrence: the k-th non-null
    (row, column) entry in row-major order gets slot vbase + k, so the
    pieces of a tile share no dictionary. Null properties are dropped,
    as in the cold lane and the reference (vector_tile_layer.ipp:90-91).
    Returns (features blob, values blob, number of values)."""
    n = len(pdf)
    valid = np.column_stack([pdf[col].notna().to_numpy() for col in prop_cols]) \
        if prop_cols else np.zeros((n, 0), dtype=bool)
    bufs, offs, lens = [], [], []
    base = 0
    for j, col in enumerate(prop_cols):
        b, o, l = _value_fields(pdf[col][valid[:, j]])
        bufs.append(b)
        offs.append(o + base)
        lens.append(l)
        base += len(b)
    # entry (i, j) -> its value's index in the column-major segment list
    col_start = np.concatenate([[0], np.cumsum(valid.sum(axis=0))[:-1]]).astype(np.int64)
    seg_idx = np.cumsum(valid, axis=0) - 1 + col_start
    order = seg_idx[valid]  # boolean indexing walks row-major
    nv = len(order)
    gathered, _ = pbf.ragged_gather(
        np.concatenate(bufs) if bufs else np.empty(0, np.uint8),
        np.concatenate(offs) if offs else np.empty(0, np.int64),
        np.concatenate(lens) if lens else np.empty(0, np.int64),
        order,
    )
    tags = np.column_stack([np.nonzero(valid)[1], vbase + np.arange(nv)]).reshape(-1)
    cmds = np.column_stack([
        np.full(n, 9, dtype=np.uint64),
        Cmd.zigzag32(pdf["_px"].to_numpy()).astype(np.uint64),
        Cmd.zigzag32(pdf["_py"].to_numpy()).astype(np.uint64),
    ]).reshape(-1)
    fblob = pbf.encode_features_packed_ragged(
        np.full(n, Cmd.POINT, dtype=np.int64), cmds, np.full(n, 3, dtype=np.int64),
        tags, 2 * valid.sum(axis=1),
    )
    return fblob, gathered.tobytes(), nv


def point_tile_kernel(
    prop_cols: list[str],
    layer_name: str = "layer",
    extent: int = 4096,
    buffer_px: int = 0,
    raster_col: str | None = None,
    compress_tiles: bool = True,
    hot_threshold: int = 120_000,
    prechunk_hot: bool = False,
):
    """The mapInPandas kernel of build_point_tiles, exposed so tests and
    benches can drive it single-core. Frames in: z, x, y, the property
    columns, mx, my (and raster_col), sorted by (z, x, y, feature order);
    frames out: TILE_SCHEMA rows.

    A tile's rows are gathered across Arrow batches (a list of frames,
    concatenated once per close or piece). A tile of at most
    ``hot_threshold`` rows goes to the cold lane whole. Past that, pieces
    of ``hot_threshold`` rows are encoded as they arrive — each its own
    tile row (prechunk_hot; cut in halves while it would reach
    decode.HOT_BYTES), or a pair of deflated segments (values, features)
    of one layer that are joined into one zlib stream when the tile
    closes — so the task holds at most ``hot_threshold`` rows plus
    one batch, plus the hot tile's compressed bytes. hot_threshold <= 0,
    or a raster column (group lane), never splits a tile."""
    split = hot_threshold if raster_col is None and hot_threshold > 0 else 0
    prefix, suffix = _layer_prefix_suffix(layer_name, prop_cols, extent, 2)
    cols = ["z", "x", "y", "tile", "n_features", "n_layers", "painted"]

    def quantized(pdf: pd.DataFrame) -> pd.DataFrame:
        px, py, ok = _quantize_batch(pdf, extent, buffer_px)
        pdf = pdf.loc[ok].reset_index(drop=True)
        pdf["_px"], pdf["_py"] = px[ok], py[ok]
        return pdf

    def cold(pdf: pd.DataFrame) -> list[tuple]:
        """Whole tiles of a sorted frame, dense dictionaries."""
        pdf = quantized(pdf)
        if len(pdf) == 0:
            return []
        if raster_col is None:
            out = _encode_tiles_segmented(
                pdf, layer_name, prop_cols, extent, 2, compress_tiles
            )
            if out:  # [] means nulls present -> group lane
                return out
        out = []
        for (z, x, y), grp in pdf.groupby(["z", "x", "y"], sort=False):
            layer, nf = _encode_group_prequantized(
                grp, layer_name, prop_cols, extent, 2, raster_col
            )
            tile = pbf.encode_tile([layer])
            if compress_tiles:
                tile = Z.compress(tile)
            out.append((int(z), int(x), int(y), tile, nf, 1, True))
        return out

    def standalone(pdf: pd.DataFrame) -> list[tuple]:
        """A prechunk piece as its own tile row, cut in halves while the
        row would reach HOT_BYTES, so explode_hot_tiles passes every
        piece through untouched."""
        out = cold(pdf)
        if len(pdf) > 1 and out and len(out[0][3]) >= HOT_BYTES:
            h = len(pdf) // 2
            return standalone(pdf.iloc[:h]) + standalone(pdf.iloc[h:])
        return out

    def segment(blob: bytes):
        if not compress_tiles:
            return blob
        return Z.deflate_piece(blob, 6 if len(blob) < (4 << 20) else 1)

    class Run:
        """One tile's rows as they arrive."""

        def __init__(self, key: tuple):
            self.key = key
            self.frames: list[pd.DataFrame] = []
            self.n = 0
            self.hot = False
            self.n_feat = self.n_vals = self.n_bytes = 0
            self.vals: list = []
            self.feats: list = []

        def rows(self) -> pd.DataFrame:
            if len(self.frames) == 1:
                return self.frames[0]
            return pd.concat(self.frames, ignore_index=True)

        def add(self, frame: pd.DataFrame) -> list[tuple]:
            self.frames.append(frame)
            self.n += len(frame)
            if not split or self.n <= split:
                return []
            rows = self.rows()
            k = (self.n - 1) // split  # whole pieces; 1..split rows stay
            out = []
            for i in range(k):
                out += self.piece(rows.iloc[i * split : (i + 1) * split])
            self.frames, self.n = [rows.iloc[k * split :]], self.n - k * split
            return out

        def piece(self, pdf: pd.DataFrame) -> list[tuple]:
            self.hot = True
            if prechunk_hot:
                return standalone(pdf)
            pdf = quantized(pdf)
            fblob, vblob, nv = _hot_piece(pdf, prop_cols, self.n_vals)
            self.n_feat += len(pdf)
            self.n_vals += nv
            self.n_bytes += len(fblob) + len(vblob)
            self.vals.append(segment(vblob))
            self.feats.append(segment(fblob))
            return []

        def close(self) -> list[tuple]:
            if not self.hot:
                return cold(self.rows())
            out = self.piece(self.rows())
            if prechunk_hot:
                return out
            head = bytearray()
            pbf.write_varint(head, pbf.tag(3, pbf.WT_LEN))
            pbf.write_varint(head, len(prefix) + len(suffix) + self.n_bytes)
            lead = bytes(head) + prefix
            if compress_tiles:
                tile = Z.zlib_join(
                    [Z.deflate_piece(lead), *self.vals, Z.deflate_piece(suffix), *self.feats]
                )
            else:
                tile = b"".join([lead, *self.vals, suffix, *self.feats])
            n = self.n_feat
            return [(*self.key, tile, n, 1 if n else 0, n > 0)]

    def whole(pdf: pd.DataFrame, bounds: np.ndarray, keys: np.ndarray,
              g0: int, g1: int) -> list[tuple]:
        """Groups g0..g1-1 of a batch, each complete: runs of cold groups
        in one cold call, every group past the threshold in pieces."""
        sizes = np.diff(bounds[g0 : g1 + 1])
        big = (g0 + np.flatnonzero(sizes > split)).tolist() if split else []
        out: list[tuple] = []
        lo = g0
        for g in big + [g1]:
            if lo < g:
                out += cold(pdf.iloc[bounds[lo] : bounds[g]])
            if g < g1:
                run = Run(tuple(int(v) for v in keys[g]))
                out += run.add(pdf.iloc[bounds[g] : bounds[g + 1]])
                out += run.close()
            lo = g + 1
        return out

    def kernel(iterator):
        run = None  # the tile the stream ends in so far
        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            zxy = np.column_stack(
                [pdf[c].to_numpy(np.int64) for c in ("z", "x", "y")]
            )
            change = np.ones(n, dtype=bool)
            change[1:] = (zxy[1:] != zxy[:-1]).any(axis=1)
            starts = np.flatnonzero(change)
            bounds = np.append(starts, n)
            keys = zxy[starts]
            out: list[tuple] = []
            first = 0
            if run is not None:
                if tuple(int(v) for v in keys[0]) == run.key:
                    out += run.add(pdf.iloc[: bounds[1]])
                    first = 1
                if first < len(starts):
                    out += run.close()
                    run = None
            if run is None:
                last = len(starts) - 1  # may go on in the next batch
                out += whole(pdf, bounds, keys, first, last)
                run = Run(tuple(int(v) for v in keys[last]))
                out += run.add(pdf.iloc[bounds[last] :])
            if out:
                yield pd.DataFrame(out, columns=cols)
        if run is not None:
            out = run.close()
            if out:
                yield pd.DataFrame(out, columns=cols)

    return kernel


def build_point_tiles(
    assigned: DataFrame,
    prop_cols: list[str],
    layer_name: str = "layer",
    extent: int = 4096,
    buffer_px: int = 0,
    id_col: str | None = None,
    raster_col: str | None = None,
    compress_tiles: bool = True,
    order_col: str | None = None,
    hot_threshold: int = 120_000,
    prechunk_hot: bool = False,
) -> DataFrame:
    """assigned: DataFrame with z,x,y + lon/lat + prop columns.
    One output row per tile: zlib'd Tile pbf + painted stats (A4).

    Plan: exactly one clustered exchange — repartition by (z, x, y),
    sort within partitions by (z, x, y, order_col or id_col), then
    point_tile_kernel. Calling this launches no Spark job and persists
    nothing.

    Skew handling (north rule): a tile of more than ``hot_threshold``
    rows is encoded by one task, as the reference builds a tile in one
    pass, but in pieces of at most ``hot_threshold`` rows as the rows
    arrive, so that task's memory stays bounded. Trade-off: the hot
    tile's encode is serial in that task — 5-7 µs per row on one core
    of a 4-core x86 host (three string properties), and that task also
    holds its hash share of the cold tiles, so at high parallelism it
    is the stage's straggler. bench.py's 8M-row tile_pipeline (a
    2.4M-row hotspot tile, shuffle partitions = cores) measured on that
    host, two runs each: local[1] 80-84 s against 121-138 s for the
    routed, salted two-plan encoder this replaced, local[4] 46-47 s
    against 45-48 s, so the N->4N efficiency fell from 0.70-0.74 to
    0.49-0.51 with no slower wall at either level. Spreading one tile over several
    tasks needs its row count before the exchange (a probe job) or a
    second exchange to join its pieces; this plan has neither.
    By default each piece is packed with per-occurrence dictionary slots
    (no dictionary shared between pieces; decoded properties are the
    same, the layer is larger when values repeat) and deflated as its
    own segment; the segments form one zlib stream at tile close.
    Feature order is (z, x, y, order) throughout. Tiles at or under the
    threshold take the dense-dictionary kernel. hot_threshold <= 0
    never splits; a raster_col keeps every tile on the group lane.

    prechunk_hot=True stores each hot tile as MULTIPLE rows, one valid
    standalone tile per piece — the 100x-scale storage contract: no
    single row ever holds a city-hotspot tile. A piece is at most
    ``hot_threshold`` rows and, cut in halves while needed, under
    decode.HOT_BYTES stored bytes, so explode_hot_tiles passes every
    piece through without its split pass. The pieces of one tile leave
    the kernel in the partition of the task that encoded them: a scan
    over that partition decodes them in one task unless the stored
    rows are repartitioned.
    Decoded feature multiset is identical; sinks that need one blob per
    (z,x,y) merge rows via operators.composite.merge_tiles. Contract
    note (r6 advisor): a hot tile whose features are ALL clipped away
    emits ZERO rows in prechunk mode, whereas the monolithic path emits
    one empty tile row — sinks keyed on tile presence must not rely on
    empty hot tiles existing."""
    from mapnik_vector_tile_spark.operators.assign import _mercator_cols

    mx, my = _mercator_cols("lon", "lat")
    slim_cols = ["z", "x", "y", *prop_cols]
    if raster_col:
        slim_cols.append(raster_col)
    if order_col and order_col not in slim_cols:
        slim_cols.append(order_col)
    slim = assigned.withColumn("mx", mx).withColumn("my", my).select(*slim_cols, "mx", "my")
    sort_col = order_col or id_col
    npart = int(slim.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    clustered = slim.repartition(npart, "z", "x", "y").sortWithinPartitions(
        "z", "x", "y", *([sort_col] if sort_col else [])
    )
    kernel = point_tile_kernel(
        prop_cols, layer_name, extent, buffer_px, raster_col, compress_tiles,
        hot_threshold, prechunk_hot,
    )
    return clustered.mapInPandas(kernel, schema=TILE_SCHEMA)
