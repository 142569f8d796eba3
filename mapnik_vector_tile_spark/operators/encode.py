"""Tile encode — one clustered exchange + batch kernels (SURVEY.md §2.10).

Replaces the reference's per-tile pull pipeline
(processor::create_tile -> layer_builder_pbf, src/vector_tile_processor.ipp
+ src/vector_tile_layer.ipp:84-126) with:

  assigned rows --one (z,x,y) hash exchange + a (z,x,y,order) sort
  within partitions--> one mapInPandas kernel, many tiles per Arrow
  batch: tile_stream, the loop of both tile builders (points here,
  geometries in geom_tiles). Tiles straddling Arrow batches carry (as a
  frame list, no quadratic copy).

  ONE encode core for every tile of a batch at once: per-tile first-seen
  dictionaries (batch-global factorize + segmented first-occurrence
  ranking, insertion-order parity with vector_tile_layer.ipp:92-124;
  nulls get no tag), one feature stream for the whole batch (ids and
  rasters included), per-tile assembly = two byte slices + zlib. Points
  quantize batch-wide (std::round semantics, per-row tile origin);
  geometries run the ragged kernel and replay its ejects through the
  scalar pipeline. encode_geom_layer is its one-tile call.

  HOT points (skewed city-scale tiles — north rule): one task encodes the
  tile, as the reference does, in pieces of hot_threshold rows as the
  rows arrive, so its memory stays bounded. A piece is its own tile row
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

def _factorize(col: pd.Series):
    """(codes, uniques) of one property column, a null coded -1. An
    object column of mixed Python types is factorized on its encoded
    Value, so int 1, bool true and float 1.0 stay three values, as the
    reference keys its value map by type (vector_tile_layer.hpp:54-69);
    pd.factorize alone merges values that compare equal."""
    if col.dtype == object and pd.api.types.infer_dtype(col, skipna=True).startswith("mixed"):
        na = col.isna().to_numpy()
        codes, _ = pd.factorize(
            pd.Series([None if m else pbf.encode_value(v) for v, m in zip(col, na)],
                      dtype=object),
            use_na_sentinel=True,
        )
        valid = np.flatnonzero(codes >= 0)
        _, first = np.unique(codes[valid], return_index=True)  # codes are first-seen
        return codes, list(col.iloc[valid[first]])
    codes, uniques = pd.factorize(col, use_na_sentinel=True)
    return codes, list(uniques)


def _value_fields(values):
    """Layer.values fields of ``values`` as (buf uint8, offsets, lengths),
    one segment per value: the vectorized string writer, or the scalar
    value encoding for a non-string column."""
    try:
        return pbf.encode_string_value_fields(values)
    except pa.ArrowException:
        pieces = []
        for v in values:
            field = bytearray()
            pbf.add_len_field(field, 4, pbf.encode_value(v))
            pieces.append(bytes(field))
        b = np.frombuffer(b"".join(pieces), dtype=np.uint8)
        l = np.array([len(p) for p in pieces], dtype=np.int64)
        return b, np.cumsum(l) - l, l


def _cat(parts: list, dtype) -> np.ndarray:
    return np.concatenate(parts) if parts else np.empty(0, dtype=dtype)


def _segmented_value_dicts(pdf, prop_cols, gid, local_row, n_groups):
    """The dictionary builder of every encoder: per-GROUP first-seen
    value dictionaries for a whole sorted batch (batch-global factorize +
    segmented first-occurrence ranking — insertion-order parity with
    vector_tile_layer.ipp:92-124). A null value gets no tag and no
    dictionary entry (vector_tile_layer.ipp:90-91).

    Returns (tags, values): tags (n, 2c) int64 (key, value slot) pairs,
    -1 marking a dropped null; values = (gathered_bytes, gat_off,
    dict_off), group g's values blob being
    gathered_bytes[gat_off[dict_off[g]] : gat_off[dict_off[g+1]]].

    Dictionary policy (a documented deviation): values are deduplicated
    within a column, and each column has its own slots. The reference
    also merges one value that appears in two columns; here it takes a
    slot per column. Decoded properties are identical, the tile is a few
    bytes larger in that case."""
    n = len(pdf)
    c = len(prop_cols)
    sel: list = []
    ent_gid: list[np.ndarray] = []
    ent_gvid: list[np.ndarray] = []
    ent_stream: list[np.ndarray] = []
    bufs: list[np.ndarray] = []
    offs: list[np.ndarray] = []
    lens: list[np.ndarray] = []
    base = 0
    buf_bytes = 0
    for j, col in enumerate(prop_cols):
        codes, uniques = _factorize(pdf[col])
        b, o, l = _value_fields(uniques)
        bufs.append(b)
        offs.append(o + buf_bytes)
        lens.append(l)
        # entries (row, column) of the non-null values only
        r = slice(None) if (codes >= 0).all() else codes >= 0
        sel.append(r)
        ent_gid.append(gid[r])
        ent_gvid.append(base + codes[r])
        ent_stream.append(local_row[r] * c + j)
        base += len(uniques)
        buf_bytes += len(b)
    counts = [len(e) for e in ent_gid]
    val_buf = _cat(bufs, np.uint8)
    val_off = _cat(offs, np.int64)
    val_len = _cat(lens, np.int64)
    ent_gid = _cat(ent_gid, np.int64)
    ent_gvid = _cat(ent_gvid, np.int64)
    ent_stream = _cat(ent_stream, np.int64)

    # first occurrence of each (gid, gvid): sort by (gid, gvid, stream);
    # run = the dictionary entry of each sorted entry
    order1 = np.lexsort((ent_stream, ent_gvid, ent_gid))
    sg, sv, ss = ent_gid[order1], ent_gvid[order1], ent_stream[order1]
    first = np.ones(len(sg), dtype=bool)
    first[1:] = (sg[1:] != sg[:-1]) | (sv[1:] != sv[:-1])
    run = np.cumsum(first) - 1
    # slots: dictionary entries ranked by first occurrence within a group
    order2 = np.lexsort((ss[first], sg[first]))
    dg, dv = sg[first][order2], sv[first][order2]
    slot = np.empty(len(dg), dtype=np.int64)
    slot[order2] = np.arange(len(dg)) - np.searchsorted(dg, dg)
    ent_slot = np.empty(len(sg), dtype=np.int64)
    ent_slot[order1] = slot[run]

    tags = np.full((n, 2 * c), -1, dtype=np.int64)
    e0 = 0
    for j, r in enumerate(sel):
        tags[r, 2 * j] = j
        tags[r, 2 * j + 1] = ent_slot[e0 : e0 + counts[j]]
        e0 += counts[j]

    # per-group values blob: dict entries (dg, dv) are sorted by
    # (group, slot) — exactly layer insertion order
    dict_counts = np.bincount(dg, minlength=n_groups)
    dict_off = np.concatenate([[0], np.cumsum(dict_counts)])
    gathered, gat_off = pbf.ragged_gather(val_buf, val_off, val_len, dv)
    return tags, (gathered.tobytes(), gat_off, dict_off)


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
# the batch encode core: groups, feature frames, per-tile assembly
# ---------------------------------------------------------------------------

def _groups(pdf: pd.DataFrame):
    """Tile groups of a (z, x, y)-sorted batch: (keys (G, 3) int64,
    group id per row, first row of each group)."""
    zxy = np.column_stack([pdf[c].to_numpy(np.int64) for c in ("z", "x", "y")])
    change = np.ones(len(zxy), dtype=bool)
    change[1:] = (zxy[1:] != zxy[:-1]).any(axis=1)
    starts = np.flatnonzero(change)
    return zxy[starts], np.cumsum(change) - 1, starts


def _rasters(pdf: pd.DataFrame, raster_col: str | None):
    """Feature.raster bytes per row (None for none), or None when no row
    of the batch carries one."""
    if not raster_col or raster_col not in pdf.columns:
        return None
    rl = list(pdf[raster_col])
    return rl if any(r is not None for r in rl) else None


def _feature_frames(tags, rows, gtypes, cmds, clens, ids=None, rasters=None):
    """Layer.features frames of a batch's features in row order, in one
    numpy pass (pbf.encode_features_packed_ragged): feature k is row
    rows[k]'s gtypes[k] and clens[k] commands, with the row's non-null
    tags and id. Returns (blob, frame lengths, frame rows).

    rasters (per row, None for none) follow raster_to_feature
    (vector_tile_geometry_feature.hpp:23-34): a raster row's FIRST
    feature is rewritten by the scalar writer with its raster (field
    order id, tags, type, geometry, raster), and a raster row with no
    feature left becomes a geometry-less UNKNOWN-type feature."""
    kt = tags[rows]
    tm = kt >= 0
    blob, flens = pbf.encode_features_packed_ragged(
        gtypes, cmds, clens, kt[tm], tm.sum(axis=1),
        None if ids is None else ids[rows].astype(np.int64),
        return_lengths=True,
    )
    if rasters is None:
        return blob, flens, rows

    def raster_frame(row: int, gtype: int, geom) -> bytes:
        trow = tags[row]
        msg = pbf.encode_feature(
            int(ids[row]) if ids is not None else None,
            [int(t) for t in trow[trow >= 0]],
            gtype,
            [int(c) for c in geom],
            raster=bytes(rasters[row]),
        )
        framed = bytearray()
        pbf.add_len_field(framed, 2, msg)  # Layer.features framing
        return bytes(framed)

    fo = np.concatenate([[0], np.cumsum(flens)])
    co = np.concatenate([[0], np.cumsum(clens)])
    frames = [blob[fo[k] : fo[k + 1]] for k in range(len(rows))]
    lead = np.ones(len(rows), dtype=bool)  # a row's first feature
    lead[1:] = rows[1:] != rows[:-1]
    for k in np.flatnonzero(lead):
        if rasters[rows[k]] is not None:
            frames[k] = raster_frame(int(rows[k]), int(gtypes[k]), cmds[co[k] : co[k + 1]])
    have = set(rows.tolist())
    extra = [i for i, r in enumerate(rasters) if r is not None and i not in have]
    frames += [raster_frame(i, 0, []) for i in extra]
    all_rows = np.concatenate([rows, np.asarray(extra, dtype=np.int64)])
    order = np.argsort(all_rows, kind="stable")
    frames = [frames[k] for k in order]
    return (
        b"".join(frames),
        np.array([len(f) for f in frames], dtype=np.int64),
        all_rows[order],
    )


def _layer_prefix_suffix(layer_name: str, prop_cols: list[str], extent: int, version: int):
    prefix = bytearray()
    pbf.add_len_field(prefix, 1, layer_name.encode("utf-8"))
    for k in prop_cols:
        pbf.add_len_field(prefix, 3, k.encode("utf-8"))
    suffix = bytearray()
    pbf.add_varint_field(suffix, 5, extent)
    pbf.add_varint_field(suffix, 15, version)
    return bytes(prefix), bytes(suffix)


def _group_layers(n_groups, frame_gid, blob, flens, values, prefix, suffix):
    """(layer bytes, feature count) per tile group of a batch: the
    group's values blob and its feature frames (contiguous, frames being
    in row order) sliced out of the batch buffers, in the
    encode_layer_packed layout. A group with no feature gives (b"", 0)."""
    gathered, gat_off, dict_off = values
    fo = np.concatenate([[0], np.cumsum(flens)])
    bounds = np.searchsorted(frame_gid, np.arange(n_groups + 1))
    out: list[tuple[bytes, int]] = []
    for g in range(n_groups):
        lo, hi = bounds[g], bounds[g + 1]
        if lo == hi:
            out.append((b"", 0))
            continue
        vals = gathered[gat_off[dict_off[g]] : gat_off[dict_off[g + 1]]]
        out.append((prefix + vals + suffix + blob[fo[lo] : fo[hi]], int(hi - lo)))
    return out


def _tile_rows(keys: np.ndarray, layers: list, compress_tiles: bool) -> list[tuple]:
    """TILE_SCHEMA rows of one-layer tiles; a layer with no feature
    gives an unpainted empty tile."""
    out: list[tuple] = []
    for (z, x, y), (layer, nf) in zip(keys.tolist(), layers):
        if nf == 0:
            out.append((z, x, y, b"", 0, 0, False))
            continue
        head = bytearray(b"\x1a")  # Tile.layers: field 3, length-delimited
        pbf.write_varint(head, len(layer))
        tile = bytes(head) + layer  # pbf.encode_tile([layer]), minus its copies
        if compress_tiles:
            tile = Z.compress(tile)
        out.append((z, x, y, tile, nf, 1, True))
    return out


# ---------------------------------------------------------------------------
# points
# ---------------------------------------------------------------------------

def _point_frames(pdf: pd.DataFrame, tags: np.ndarray, rasters=None):
    """_feature_frames of a quantized point batch (_px/_py set): one
    POINT feature per row, its tags row (-1 = dropped) and raster."""
    n = len(pdf)
    cmds = np.column_stack([
        np.full(n, 9, dtype=np.uint64),  # MoveTo(1)
        Cmd.zigzag32(pdf["_px"].to_numpy()).astype(np.uint64),
        Cmd.zigzag32(pdf["_py"].to_numpy()).astype(np.uint64),
    ]).reshape(-1)
    return _feature_frames(
        tags, np.arange(n), np.full(n, Cmd.POINT, dtype=np.int64), cmds,
        np.full(n, 3, dtype=np.int64), rasters=rasters,
    )


def _encode_tiles_segmented(
    pdf: pd.DataFrame,
    layer_name: str,
    prop_cols: list[str],
    extent: int,
    compress_tiles: bool,
    raster_col: str | None = None,
) -> list[tuple]:
    """Encode every (z,x,y) group of a sorted batch without per-group
    pandas work: the batch's dictionaries (_segmented_value_dicts), the
    feature stream packed once for the whole batch, and per-group
    assembly = a couple of byte slices + zlib.

    Requires: rows sorted by (z,x,y); columns _px/_py present."""
    n = len(pdf)
    keys, gid, starts = _groups(pdf)
    tags, values = _segmented_value_dicts(
        pdf, prop_cols, gid, np.arange(n) - starts[gid], len(keys)
    )
    blob, flens, rows = _point_frames(pdf, tags, _rasters(pdf, raster_col))
    prefix, suffix = _layer_prefix_suffix(layer_name, prop_cols, extent, 2)
    layers = _group_layers(len(keys), gid[rows], blob, flens, values, prefix, suffix)
    return _tile_rows(keys, layers, compress_tiles)


# ---------------------------------------------------------------------------
# geometries
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

def _encode_geom_groups(
    pdf: pd.DataFrame,
    groups: tuple,
    layer_name: str,
    prop_cols: list[str],
    extent: int = 4096,
    buffer_px: int = 0,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.1,
    geom_col: str = "_gpk",
    id_col: str | None = None,
    version: int = 2,
    fill_type: str = "even_odd",
    strictly_simple: bool = False,
    multi_polygon_union: bool = False,
    process_all_rings: bool = False,
    key_names: list[str] | None = None,
    raster_col: str | None = None,
):
    """The general-geometry pipeline for every tile group of a sorted
    batch — the geometry sibling of _encode_tiles_segmented. groups is
    _groups(pdf) (keys, gid, starts). Per-feature tile transforms feed
    ONE ragged kernel call (functions/ragged.py, the fused vectorized
    twin of the reference's per-feature visitor chain,
    src/vector_tile_processor.ipp:82-174); its ejects (geometry
    collections, fill-resolver polygons) replay through the scalar
    pipeline and merge back in feature order. Either non-default wagyu
    knob (processor.set_multi_polygon_union / set_process_all_rings)
    ejects every feature: the ragged lane models the default semantics.

    geom_col: compact packed geometry (geometry.gpack). id_col: Feature.id
    per row. raster_col: Feature.raster bytes per row; a raster row whose
    geometry does not survive is written as a geometry-less raster
    feature (_feature_frames), as the re-encode merge path needs.
    key_names overrides the written key dictionary when the data columns
    were renamed to dodge the tile coordinate columns.

    Returns (layers, unresolved): (layer bytes, feature count) per group
    ((b"", 0) for a group with no feature), and the count of
    fill-resolver budget fallbacks per group."""
    keys, gid, starts = groups
    n = len(pdf)
    n_groups = len(keys)
    tags, values = _segmented_value_dicts(
        pdf, prop_cols, gid, np.arange(n) - starts[gid], n_groups
    )
    # per-group view transforms (exact tile_mercator_bbox_np math, as
    # G.ViewTransform computes it, so the ragged and scalar lanes
    # quantize bit-identically)
    minx, miny, maxx, maxy = tilemath.tile_mercator_bbox_np(keys[:, 1], keys[:, 2], keys[:, 0])
    sx = extent / (maxx - minx)
    sy = extent / (maxy - miny)
    clip_box = tilemath.buffered_tile_px_box(extent, buffer_px)

    blobs = pdf[geom_col].to_numpy()
    stats: dict = {}
    if multi_polygon_union or process_all_rings:
        rows = gtypes = clens = np.empty(0, dtype=np.int64)
        cmds = np.empty(0, dtype=np.uint64)
        ejects = range(n)
    else:
        rows, gtypes, cmds, clens, ejects = RG.encode_batch_gpack(
            blobs, (minx[gid], maxy[gid], sx[gid], sy[gid]), clip_box,
            simplify_distance, area_threshold, stats,
            force_resolve=strictly_simple,
        )
    over = list(stats.get("budget_exceeded_feats", []))
    s_rows: list[int] = []
    s_gtypes: list[int] = []
    s_cmds: list[np.ndarray] = []
    for i in ejects:
        g = gid[i]
        vt = G.ViewTransform(
            float(minx[g]), float(miny[g]), float(maxx[g]), float(maxy[g]), extent, extent,
        )
        st: dict = {}
        for gtype, c in _scalar_geom_feature(
            G.gunpack(bytes(blobs[i])), vt, clip_box, simplify_distance,
            area_threshold, st, fill_type=fill_type,
            strictly_simple=strictly_simple,
            multi_polygon_union=multi_polygon_union,
            process_all_rings=process_all_rings,
        ):  # collections: one wire feature per member
            s_rows.append(i)
            s_gtypes.append(gtype)
            s_cmds.append(np.asarray(c, dtype=np.uint64))
        over += [i] * st.get("budget_exceeded", 0)
    if s_rows:
        # merge the replayed features back in feature order
        pieces = np.split(cmds, np.cumsum(clens)[:-1]) if len(clens) else []
        all_rows = np.concatenate([rows, np.asarray(s_rows, dtype=np.int64)])
        order = np.argsort(all_rows, kind="stable")
        all_cmds = pieces + s_cmds
        rows = all_rows[order]
        gtypes = np.concatenate([gtypes, np.asarray(s_gtypes, dtype=np.int64)])[order]
        cmd_list = [all_cmds[j] for j in order]
        cmds = np.concatenate(cmd_list)
        clens = np.array([len(c) for c in cmd_list], dtype=np.int64)
    unresolved = np.bincount(gid[np.asarray(over, dtype=np.int64)], minlength=n_groups)

    blob, flens, frame_rows = _feature_frames(
        tags, rows, gtypes, cmds, clens,
        pdf[id_col].to_numpy() if id_col else None, _rasters(pdf, raster_col),
    )
    prefix, suffix = _layer_prefix_suffix(layer_name, key_names or prop_cols, extent, version)
    layers = _group_layers(n_groups, gid[frame_rows], blob, flens, values, prefix, suffix)
    return layers, unresolved


def encode_geom_layer(
    pdf: pd.DataFrame,
    z: int,
    x: int,
    y: int,
    layer_name: str,
    prop_cols: list[str],
    extent: int = 4096,
    buffer_px: int = 0,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.1,
    id_col: str | None = None,
    version: int = 2,
    geom_col: str = "_gpk",
    stats: dict | None = None,
    fill_type: str = "even_odd",
    strictly_simple: bool = False,
    multi_polygon_union: bool = False,
    process_all_rings: bool = False,
    key_names: list[str] | None = None,
    raster_col: str | None = None,
) -> tuple[bytes, int]:
    """One general-geometry layer of tile (z, x, y): the one-group call
    of _encode_geom_groups (see there for geom_col, id_col, raster_col
    and key_names). Returns (layer bytes, feature count), (b"", 0) when
    no feature survives. stats: optional dict accumulating the
    fill-resolver budget_exceeded count."""
    groups = (
        np.array([[z, x, y]], dtype=np.int64),
        np.zeros(len(pdf), dtype=np.int64),
        np.zeros(1, dtype=np.int64),
    )
    layers, unresolved = _encode_geom_groups(
        pdf, groups, layer_name, prop_cols, extent, buffer_px,
        simplify_distance, area_threshold, geom_col=geom_col, id_col=id_col,
        version=version, fill_type=fill_type, strictly_simple=strictly_simple,
        multi_polygon_union=multi_polygon_union,
        process_all_rings=process_all_rings, key_names=key_names,
        raster_col=raster_col,
    )
    if stats is not None and unresolved[0]:
        stats["budget_exceeded"] = stats.get("budget_exceeded", 0) + int(unresolved[0])
    return layers[0]


# ---------------------------------------------------------------------------
# the tile stream: one clustered exchange, then this loop in the kernel
# ---------------------------------------------------------------------------

def _with_declared_ints(kernel, df: DataFrame, prop_cols: list[str]):
    """``kernel`` fed frames whose integer property columns hold ints
    again. Arrow hands pandas an integer column as float64 when the
    frame holds a null, which would retype its Values (int 10 -> double
    10.0); the declared Spark types of ``df`` say which columns to turn
    back (an object column of ints and None)."""
    ints = [
        f.name for f in df.schema
        if f.name in prop_cols
        and f.dataType.simpleString() in ("tinyint", "smallint", "int", "bigint")
    ]
    if not ints:
        return kernel

    def coerce(frames):
        for pdf in frames:
            for c in ints:
                if pdf[c].dtype.kind == "f":
                    v = pdf[c].to_numpy()
                    na = np.isnan(v)
                    obj = np.where(na, 0, v).astype(np.int64).astype(object)
                    obj[na] = None
                    # dtype=object is load-bearing: pandas re-infers
                    # [None, 0] as float64 otherwise
                    pdf = pdf.assign(**{c: pd.Series(obj, index=pdf.index, dtype=object)})
            yield pdf

    return lambda frames: kernel(coerce(frames))


def tile_stream(frames, whole, cols: list[str], split: int = 0, hot=None):
    """Tile rows (DataFrames of ``cols``) of a (z, x, y)-sorted frame
    stream — the kernel loop of both tile builders. A tile's rows are
    gathered across frames (concatenated once per close or piece); runs
    of complete tiles go to one ``whole(pdf)`` call. With ``split`` > 0,
    a tile past ``split`` rows goes to ``hot(key)`` in pieces of
    ``split`` rows as they arrive (``.piece(pdf)``), the last 1..split
    rows at its close (then ``.close()``), so the task holds at most
    ``split`` rows of it plus one frame."""

    class Run:
        """One tile's rows as they arrive."""

        def __init__(self, key: tuple):
            self.key = key
            self.frames: list[pd.DataFrame] = []
            self.n = 0
            self.hot = None

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
            if self.hot is None:
                self.hot = hot(self.key)
            out = []
            for i in range(k):
                out += self.hot.piece(rows.iloc[i * split : (i + 1) * split])
            self.frames, self.n = [rows.iloc[k * split :]], self.n - k * split
            return out

        def close(self) -> list[tuple]:
            if self.hot is None:
                return whole(self.rows())
            return self.hot.piece(self.rows()) + self.hot.close()

    def complete(pdf: pd.DataFrame, bounds: np.ndarray, keys: np.ndarray,
                 g0: int, g1: int) -> list[tuple]:
        """Groups g0..g1-1 of a frame, each complete: runs of small
        groups in one whole() call, every group past split in pieces."""
        sizes = np.diff(bounds[g0 : g1 + 1])
        big = (g0 + np.flatnonzero(sizes > split)).tolist() if split else []
        out: list[tuple] = []
        lo = g0
        for g in big + [g1]:
            if lo < g:
                out += whole(pdf.iloc[bounds[lo] : bounds[g]])
            if g < g1:
                run = Run(tuple(keys[g].tolist()))
                out += run.add(pdf.iloc[bounds[g] : bounds[g + 1]])
                out += run.close()
            lo = g + 1
        return out

    run = None  # the tile the stream ends in so far
    for pdf in frames:
        n = len(pdf)
        if n == 0:
            continue
        keys, _, starts = _groups(pdf)
        bounds = np.append(starts, n)
        out: list[tuple] = []
        first = 0
        if run is not None:
            if tuple(keys[0].tolist()) == run.key:
                out += run.add(pdf.iloc[: bounds[1]])
                first = 1
            if first < len(starts):
                out += run.close()
                run = None
        if run is None:
            last = len(starts) - 1  # may go on in the next frame
            out += complete(pdf, bounds, keys, first, last)
            run = Run(tuple(keys[last].tolist()))
            out += run.add(pdf.iloc[bounds[last] :])
        if out:
            yield pd.DataFrame(out, columns=cols)
    if run is not None:
        out = run.close()
        if out:
            yield pd.DataFrame(out, columns=cols)


# ---------------------------------------------------------------------------
# point tiles
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
    c = len(prop_cols)
    tags = np.full((n, 2 * c), -1, dtype=np.int64)
    tags[:, 0::2] = np.where(valid, np.arange(c), -1)
    tags[:, 1::2] = np.where(valid, vbase + (np.cumsum(valid.ravel()) - 1).reshape(n, c), -1)
    fblob, _, _ = _point_frames(pdf, tags)
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
    frames out: TILE_SCHEMA rows, through tile_stream.

    A tile of at most ``hot_threshold`` rows goes to the batch encoder
    (_encode_tiles_segmented) whole. Past that, pieces of
    ``hot_threshold`` rows are encoded as they arrive — each its own
    tile row (prechunk_hot; cut in halves while it would reach
    decode.HOT_BYTES), or a pair of deflated segments (values, features)
    of one layer that are joined into one zlib stream when the tile
    closes — so the task holds at most ``hot_threshold`` rows plus one
    batch, plus the hot tile's compressed bytes. hot_threshold <= 0, or
    a raster column (the hot pieces carry no raster), never splits a
    tile."""
    split = hot_threshold if raster_col is None and hot_threshold > 0 else 0
    prefix, suffix = _layer_prefix_suffix(layer_name, prop_cols, extent, 2)
    cols = ["z", "x", "y", "tile", "n_features", "n_layers", "painted"]

    def quantized(pdf: pd.DataFrame) -> pd.DataFrame:
        px, py, ok = _quantize_batch(pdf, extent, buffer_px)
        pdf = pdf.loc[ok].reset_index(drop=True)
        pdf["_px"], pdf["_py"] = px[ok], py[ok]
        return pdf

    def cold(pdf: pd.DataFrame) -> list[tuple]:
        """Whole tiles of a sorted frame through the batch encoder."""
        pdf = quantized(pdf)
        if len(pdf) == 0:
            return []
        return _encode_tiles_segmented(
            pdf, layer_name, prop_cols, extent, compress_tiles, raster_col
        )

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

    class HotTile:
        """The pieces of one tile past the threshold."""

        def __init__(self, key: tuple):
            self.key = key
            self.n_feat = self.n_vals = self.n_bytes = 0
            self.vals: list = []
            self.feats: list = []

        def piece(self, pdf: pd.DataFrame) -> list[tuple]:
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
            if prechunk_hot:
                return []
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

    def kernel(iterator):
        return tile_stream(iterator, cold, cols, split, HotTile)

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
    threshold take the batch encoder whole. hot_threshold <= 0, or a
    raster_col, never splits a tile. An integer property column keeps
    its int Values in a batch that holds a null (_with_declared_ints).

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
    slim = assigned.select(*slim_cols, mx.alias("mx"), my.alias("my"))
    sort_col = order_col or id_col
    npart = int(slim.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    clustered = slim.repartition(npart, "z", "x", "y").sortWithinPartitions(
        "z", "x", "y", *([sort_col] if sort_col else [])
    )
    kernel = point_tile_kernel(
        prop_cols, layer_name, extent, buffer_px, raster_col, compress_tiles,
        hot_threshold, prechunk_hot,
    )
    return clustered.mapInPandas(
        _with_declared_ints(kernel, assigned, prop_cols), schema=TILE_SCHEMA
    )

