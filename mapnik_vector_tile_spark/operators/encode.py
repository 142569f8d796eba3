"""Tile encode — shuffle-to-tile + batch kernel (SURVEY.md §2.10).

Replaces the reference's per-tile pull pipeline
(processor::create_tile -> layer_builder_pbf, src/vector_tile_processor.ipp
+ src/vector_tile_layer.ipp:84-126) with:

  assigned rows --one window shuffle (per-tile counts + row numbers +
  (z,x,y)-clustered sort)--> cold/hot routing:

  COLD (size <= hot_threshold): mapInPandas kernel, many tiles per
  Arrow batch — batch-wide vectorized quantize (std::round semantics,
  per-row tile origin), segmented per-group first-seen dictionaries
  (batch-global factorize + first-occurrence ranking, insertion-order
  parity with vector_tile_layer.ipp:92-124), whole-batch packed feature
  stream, per-tile assembly = two byte slices + zlib. Tiles straddling
  Arrow batches carry (as a frame list, no quadratic copy).

  HOT (skewed city-scale tiles — north rule): salted two-phase encode.
  Phase 1 packs contiguous row-number chunks of a hot tile in parallel
  tasks (per-occurrence dictionary slots = global stream index, so no
  cross-chunk dictionary merge); phase 2 concatenates chunk blobs into
  the layer and compresses (adaptive deflate level for huge layers —
  the single zlib stream is the only serial stage).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import commands as Cmd
from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf
from mapnik_vector_tile_spark.functions import ragged as RG

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
        try:
            b, o, l = pbf.encode_string_value_fields(uniques)
        except Exception:  # non-string column -> scalar value encoding
            pieces = [_value_field_bytes(v) for v in uniques]
            b = np.frombuffer(b"".join(pieces), dtype=np.uint8)
            l = np.array([len(p) for p in pieces], dtype=np.int64)
            o = np.concatenate([[0], np.cumsum(l)[:-1]]).astype(np.int64)
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

    prechunk_hot=True stores each hot tile as MULTIPLE rows (one valid
    standalone tile per salt bucket) instead of one monolithic blob —
    the 100x-scale storage contract: no single row ever holds a
    city-hotspot tile, the salted path loses its only serial stage
    (per-tile concat + one zlib stream), and the decode side gets
    hot-tile parallelism for free (no explode_hot_tiles split pass).
    Decoded feature multiset is identical; sinks that need one blob per
    (z,x,y) merge rows via operators.composite.merge_tiles. Contract
    note (r6 advisor): a hot tile whose features are ALL clipped away
    emits ZERO rows in prechunk mode, whereas the monolithic path emits
    one empty tile row — sinks keyed on tile presence must not rely on
    empty hot tiles existing.

    Skew handling (north rule): tiles with more than ``hot_threshold``
    rows take the *salted* two-phase path — contiguous row-number chunks
    of a hot tile pack their feature/value blobs in parallel tasks
    (per-occurrence dictionary slots need no cross-chunk coordination),
    and a per-tile second phase just concatenates chunk blobs into the
    layer. Cold tiles take the dense-dictionary single-phase kernel."""
    from mapnik_vector_tile_spark.operators.assign import _mercator_cols

    mx, my = _mercator_cols("lon", "lat")
    slim_cols = ["z", "x", "y", *prop_cols]
    if raster_col:
        slim_cols.append(raster_col)
    if order_col and order_col not in slim_cols:
        slim_cols.append(order_col)
    slim = assigned.withColumn("mx", mx).withColumn("my", my).select(*slim_cols, "mx", "my")
    sort_col = order_col or id_col
    cols = ["z", "x", "y", "tile", "n_features", "n_layers", "painted"]

    def encode_group(z: int, x: int, y: int, grp: pd.DataFrame):
        if sort_col:  # deterministic feature order (SURVEY.md §2.5)
            grp = grp.sort_values(sort_col, kind="mergesort").reset_index(drop=True)
        layer, nf = _encode_group_prequantized(
            grp, layer_name, prop_cols, extent, 2, raster_col
        )
        if nf == 0:
            return (z, x, y, b"", 0, 0, False)
        tile = pbf.encode_tile([layer])
        if compress_tiles:
            tile = Z.compress(tile)
        return (z, x, y, tile, nf, 1, True)

    def process_chunk(pdf: pd.DataFrame) -> list[tuple]:
        px, py, ok = _quantize_batch(pdf, extent, buffer_px)
        pdf = pdf.loc[ok].reset_index(drop=True)
        if len(pdf) == 0:
            return []
        pdf["_px"], pdf["_py"] = px[ok], py[ok]
        if raster_col is None:
            out = _encode_tiles_segmented(
                pdf, layer_name, prop_cols, extent, 2, compress_tiles
            )
            if out:  # [] means nulls present -> group lane fallback
                return out
        out = []
        for (gz, gx, gy), grp in pdf.groupby(["z", "x", "y"], sort=False):
            out.append(encode_group(int(gz), int(gx), int(gy), grp))
        return out

    def kernel(iterator):
        """Tiles straddling Arrow batches carry into the next batch
        (list of frames, concat only at group close — no quadratic copy)."""
        carry: list[pd.DataFrame] = []
        carry_key = None

        def keys_of(pdf, i):
            return (pdf["z"].iloc[i], pdf["x"].iloc[i], pdf["y"].iloc[i])

        for pdf in iterator:
            if len(pdf) == 0:
                continue
            if carry:
                if keys_of(pdf, 0) == carry_key:
                    same = (
                        (pdf["z"] == carry_key[0])
                        & (pdf["x"] == carry_key[1])
                        & (pdf["y"] == carry_key[2])
                    ).to_numpy()
                    split = int(np.argmin(same)) if not same.all() else len(pdf)
                    carry.append(pdf.iloc[:split])
                    if split == len(pdf):
                        continue  # whole batch belongs to the carried group
                    full = pd.concat(carry, ignore_index=True)
                    carry, carry_key = [], None
                    rows = process_chunk(full)
                    if rows:
                        yield pd.DataFrame(rows, columns=cols)
                    pdf = pdf.iloc[split:].reset_index(drop=True)
                else:
                    full = pd.concat(carry, ignore_index=True)
                    carry, carry_key = [], None
                    rows = process_chunk(full)
                    if rows:
                        yield pd.DataFrame(rows, columns=cols)
            lk = keys_of(pdf, len(pdf) - 1)
            tail_mask = (
                (pdf["z"] == lk[0]) & (pdf["x"] == lk[1]) & (pdf["y"] == lk[2])
            ).to_numpy()
            n_tail = int(tail_mask[::-1].argmin()) if not tail_mask.all() else len(pdf)
            carry = [pdf.iloc[len(pdf) - n_tail :]]
            carry_key = lk
            body = pdf.iloc[: len(pdf) - n_tail]
            if len(body):
                rows = process_chunk(body)
                if rows:
                    yield pd.DataFrame(rows, columns=cols)
        if carry:
            full = pd.concat(carry, ignore_index=True)
            rows = process_chunk(full)
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    from pyspark.sql import Window, functions as F

    npart = int(slim.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if raster_col is not None or hot_threshold <= 0:
        clustered = slim.repartition(npart, "z", "x", "y").sortWithinPartitions(
            "z", "x", "y", *([sort_col] if sort_col else [])
        )
        return clustered.mapInPandas(kernel, schema=TILE_SCHEMA)

    # hot/cold routing: map-side-combined counts identify skewed tiles;
    # the hot list is tiny and broadcasts. The routed projection feeds
    # three consumers (counts, cold branch, hot branch) — persist it so
    # the scan + location math run once (spills to disk at scale;
    # ContextCleaner reclaims it when the plan is GC'd).
    from pyspark import StorageLevel

    slim = slim.persist(StorageLevel.MEMORY_AND_DISK)
    # ONE eager counts pass (r7): the lazy form re-built this full
    # groupBy subtree under every broadcast that consumed it — the cold
    # anti-join, the hot semi-join AND the bucket-offset table each
    # re-aggregated the whole input (3 extra scans + 2 extra 695k-group
    # shuffles on the bench shape). The hot list is bounded by
    # n_rows / hot_threshold, so the checkpoint is tiny.
    hot_list_df = (
        slim.groupBy("z", "x", "y").agg(F.count("*").alias("_cnt"))
        .where(F.col("_cnt") > hot_threshold)
        .select("z", "x", "y")
        .localCheckpoint(eager=True)
    )
    if hot_list_df.isEmpty():
        # no skewed tile anywhere: the routing joins would be no-ops —
        # take the single clustered shuffle directly (the common case
        # for every query at oracle scale)
        clustered = slim.repartition(npart, "z", "x", "y").sortWithinPartitions(
            "z", "x", "y", *([sort_col] if sort_col else [])
        )
        return clustered.mapInPandas(kernel, schema=TILE_SCHEMA)
    hot_list = F.broadcast(hot_list_df)
    cold = slim.join(hot_list, ["z", "x", "y"], "left_anti")
    cold_tiles = (
        cold.repartition(npart, "z", "x", "y")
        .sortWithinPartitions("z", "x", "y", *([sort_col] if sort_col else []))
        .mapInPandas(kernel, schema=TILE_SCHEMA)
    )

    hot = slim.join(hot_list, ["z", "x", "y"], "left_semi")
    hot_tiles = _build_hot_tiles(
        hot, prop_cols, layer_name, extent, buffer_px, compress_tiles, npart,
        sort_col=sort_col, prechunk=prechunk_hot,
    )
    return cold_tiles.unionByName(hot_tiles)


def _build_hot_tiles(
    hot: DataFrame,
    prop_cols: list[str],
    layer_name: str,
    extent: int,
    buffer_px: int,
    compress_tiles: bool,
    npart: int,
    sort_col: str | None = None,
    salt_buckets: int = 64,
    prechunk: bool = False,
) -> DataFrame:
    """Salted two-phase encode for skewed tiles (north rule).

    Salt = hash(sort key) % buckets, so even the per-bucket row
    numbering (window) parallelizes — no single-task stage touches a
    whole hot tile except the final byte concat + deflate.

    Phase 1 (parallel over (z,x,y,salt)): pack the bucket's features
    with per-occurrence dictionary slots (slot = global stream index =
    (bucket offset + row-in-bucket) * ncols + col — needs no cross-
    bucket dictionary merge; decoded properties are identical, the
    uncompressed layer is a little larger when values repeat) plus the
    bucket's values blob. Bucket offsets come from a tiny per-bucket
    count table (broadcast).

    Phase 2 (per tile, #buckets rows): concatenate bucket blobs in salt
    order -> layer -> tile pbf -> zlib. Feature order = (salt, sort
    key): deterministic, though not globally sorted by the sort key.

    prechunk=True is the store-time pre-chunking mode: every salt
    bucket ships as its OWN standalone single-layer tile row (local
    per-occurrence dictionary slots need no bucket offsets), so phase 2
    — the per-tile byte concat + single zlib stream, the only serial
    stage of this path — disappears entirely, and the decode side never
    sees a monolithic hot tile to split. Multiple rows per hot (z,x,y);
    decoded feature multiset identical to the monolithic tile.
    """
    from pyspark.sql import Window, functions as F

    c = len(prop_cols)
    prefix, suffix = _layer_prefix_suffix(layer_name, prop_cols, extent, 2)
    salt_src = sort_col if sort_col else "mx"
    hot = hot.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(salt_buckets)))
    if prechunk:
        # bucket-local dictionary slots: no offset table, no broadcast
        hot = hot.withColumn("_boff", F.lit(0)).withColumn("_chunk", F.col("_salt"))
    else:
        # bucket offsets: one narrow map-side-combined agg + a window over
        # the tiny per-bucket count table (broadcast back) — no window over
        # the data itself; row numbers are assigned inside the pack kernel
        bucket_counts = hot.groupBy("z", "x", "y", "_salt").agg(F.count("*").alias("_bcnt"))
        woff = (
            Window.partitionBy("z", "x", "y")
            .orderBy("_salt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = bucket_counts.withColumn(
            "_boff", F.coalesce(F.sum("_bcnt").over(woff), F.lit(0))
        ).select("z", "x", "y", "_salt", "_boff")
        hot = hot.join(F.broadcast(offsets), ["z", "x", "y", "_salt"], "inner").withColumn(
            "_chunk", F.col("_salt")
        )
    part_schema = (
        "z int, x long, y long, chunk long, seq long, n long, "
        "fblob binary, vblob binary"
    )
    # r7: with compression on, phase 1 ships DEFLATED segments plus
    # (uncompressed length, adler32) per blob, and phase 2 concatenates
    # segments and combines checksums into one valid zlib stream —
    # phase 2's single zlib pass over the whole hot layer (the salted
    # path's only serial stage) disappears, and the per-tile exchange
    # carries compressed bytes (~3x fewer). Decoded bytes identical;
    # the stored stream differs only in block boundaries.
    part_schema_seg = (
        "z int, x long, y long, chunk long, seq long, n long, "
        "fseg binary, vseg binary, fulen long, vulen long, "
        "fadler long, vadler long"
    )

    def pack_chunk(iterator):
        seen: dict[tuple, int] = {}  # rows already packed per bucket (batch straddle)
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            out = []
            for (gz, gx, gy, gchunk), grp in pdf.groupby(
                ["z", "x", "y", "_chunk"], sort=False
            ):
                grp = grp.reset_index(drop=True)
                gkey = (gz, gx, gy, gchunk)
                start = seen.get(gkey, 0)
                seen[gkey] = start + len(grp)
                if prechunk:
                    # each emitted piece is a self-contained mini-tile:
                    # slots are local to THIS group (a bucket straddling
                    # Arrow batches just ships as two mini-tiles)
                    rn_base = np.int64(0)
                else:
                    rn_base = grp["_boff"].to_numpy(dtype=np.int64) + start
                grp = grp.assign(_rn=rn_base + np.arange(len(grp)))
                px, py, ok = _quantize_batch(grp, extent, buffer_px)
                kept = grp.loc[ok].reset_index(drop=True)
                rn = kept["_rn"].to_numpy(dtype=np.int64)
                n = len(kept)
                if n:
                    tags = np.empty((n, 2 * c), dtype=np.int64)
                    for j in range(c):
                        tags[:, 2 * j] = j
                        # slot = global stream index over ALL tile rows
                        tags[:, 2 * j + 1] = rn * c + j
                    zz = np.column_stack(
                        [Cmd.zigzag32(px[ok]), Cmd.zigzag32(py[ok])]
                    )
                    fblob = pbf.encode_point_features_packed(tags, zz)
                else:
                    fblob = b""
                # values blob covers every (pre-mask) row so global slot
                # positions stay aligned across chunks even when the
                # buffer mask drops a feature
                bufs, offs, lens = [], [], []
                bbase = 0
                n_all = len(grp)
                for col in prop_cols:
                    vals = list(grp[col])
                    try:
                        b, o, l = pbf.encode_string_value_fields(vals)
                    except Exception:
                        pieces = [_value_field_bytes(v) for v in vals]
                        b = np.frombuffer(b"".join(pieces), dtype=np.uint8)
                        l = np.array([len(p) for p in pieces], dtype=np.int64)
                        o = np.concatenate([[0], np.cumsum(l)[:-1]]).astype(np.int64)
                    bufs.append(b)
                    offs.append(o + bbase)
                    lens.append(l)
                    bbase += len(b)
                vbuf = np.concatenate(bufs)
                voff = np.concatenate(offs)
                vlen = np.concatenate(lens)
                order = (np.arange(n_all * c) % c) * n_all + (np.arange(n_all * c) // c)
                gathered, _ = pbf.ragged_gather(vbuf, voff, vlen, order)
                if prechunk:
                    if n == 0:
                        continue  # sibling buckets carry the tile's rows
                    layer = prefix + gathered.tobytes() + suffix + fblob
                    head = bytearray()
                    pbf.write_varint(head, pbf.tag(3, pbf.WT_LEN))
                    pbf.write_varint(head, len(layer))
                    tile = bytes(head) + layer
                    if compress_tiles:
                        tile = Z.compress(tile)
                    out.append((int(gz), int(gx), int(gy), tile, n, 1, True))
                elif compress_tiles:
                    vblob = gathered.tobytes()
                    lf = 6 if len(fblob) < (4 << 20) else 1
                    lv = 6 if len(vblob) < (4 << 20) else 1
                    out.append(
                        (int(gz), int(gx), int(gy), int(gchunk), start, n,
                         Z.deflate_segment(fblob, lf),
                         Z.deflate_segment(vblob, lv),
                         len(fblob), len(vblob),
                         zlib.adler32(fblob), zlib.adler32(vblob))
                    )
                else:
                    out.append(
                        (int(gz), int(gx), int(gy), int(gchunk), start, n,
                         fblob, gathered.tobytes())
                    )
            if out:
                if prechunk:
                    cols_out = ["z", "x", "y", "tile", "n_features", "n_layers", "painted"]
                elif compress_tiles:
                    cols_out = ["z", "x", "y", "chunk", "seq", "n",
                                "fseg", "vseg", "fulen", "vulen", "fadler", "vadler"]
                else:
                    cols_out = ["z", "x", "y", "chunk", "seq", "n", "fblob", "vblob"]
                yield pd.DataFrame(out, columns=cols_out)

    packed = (
        hot.repartition(npart, "z", "x", "y", "_chunk")
        .sortWithinPartitions(
            "z", "x", "y", "_chunk", *([sort_col] if sort_col else ["mx"])
        )
        .mapInPandas(
            pack_chunk,
            schema=TILE_SCHEMA if prechunk
            else (part_schema_seg if compress_tiles else part_schema),
        )
    )
    if prechunk:
        return packed

    def assemble(key, pdf):
        z, x, y = int(key[0]), int(key[1]), int(key[2])
        pdf = pdf.sort_values(["chunk", "seq"], kind="mergesort")
        values = b"".join(bytes(b) for b in pdf["vblob"])
        feats = b"".join(bytes(b) for b in pdf["fblob"])
        layer = prefix + values + suffix + feats
        head = bytearray()
        pbf.write_varint(head, pbf.tag(3, pbf.WT_LEN))
        pbf.write_varint(head, len(layer))
        tile = bytes(head) + layer
        n = int(pdf["n"].sum())
        return pd.DataFrame(
            [(z, x, y, tile, n, 1 if n else 0, bool(n))],
            columns=["z", "x", "y", "tile", "n_features", "n_layers", "painted"],
        )

    def assemble_seg(key, pdf):
        """Concatenate pre-deflated bucket segments into one zlib
        stream: header + deflate(head+prefix) + value segments +
        deflate(suffix) + feature segments + final block + combined
        adler32. No pass over the uncompressed layer — the former
        single-stream deflate was the salted path's only serial stage."""
        import struct

        z, x, y = int(key[0]), int(key[1]), int(key[2])
        pdf = pdf.sort_values(["chunk", "seq"], kind="mergesort")
        layer_len = (
            len(prefix) + int(pdf["vulen"].sum())
            + len(suffix) + int(pdf["fulen"].sum())
        )
        head = bytearray()
        pbf.write_varint(head, pbf.tag(3, pbf.WT_LEN))
        pbf.write_varint(head, layer_len)
        lead = bytes(head) + prefix
        pieces = [b"\x78\x9c", Z.deflate_segment(lead)]
        ad = zlib.adler32(lead)
        for seg, adl, ulen in zip(pdf["vseg"], pdf["vadler"], pdf["vulen"]):
            pieces.append(bytes(seg))
            ad = Z.adler32_combine(ad, int(adl), int(ulen))
        pieces.append(Z.deflate_segment(suffix))
        ad = zlib.adler32(suffix, ad)
        for seg, adl, ulen in zip(pdf["fseg"], pdf["fadler"], pdf["fulen"]):
            pieces.append(bytes(seg))
            ad = Z.adler32_combine(ad, int(adl), int(ulen))
        pieces.append(Z.deflate_stream_tail())
        pieces.append(struct.pack(">I", ad))
        tile = b"".join(pieces)
        n = int(pdf["n"].sum())
        return pd.DataFrame(
            [(z, x, y, tile, n, 1 if n else 0, bool(n))],
            columns=["z", "x", "y", "tile", "n_features", "n_layers", "painted"],
        )

    return packed.groupBy("z", "x", "y").applyInPandas(
        assemble_seg if compress_tiles else assemble, schema=TILE_SCHEMA
    )
