"""Tile decode — mapInPandas inverse of operators.encode (S2/S3, K6/K7).

The reference decodes through one feature iterator,
tile_featureset_pbf::next (src/vector_tile_datasource_pbf.ipp:35-194,
src/vector_tile_featureset_pbf.ipp:113-325). Here that iterator is one
kernel that runs once per Arrow batch of tiles:

  1. split: decompress every tile and cut it into layer messages;
  2. header parse: one pbf.parse_layers_batch over every layer. A layer
     it rejects, or whose feature suffix holds a non-Feature frame,
     parses its header (only) through the strict pbf.decode_layer;
  3. feature parse: one pbf.decode_features_batch over every feature
     message. A feature it declines, and every feature of a few-big
     layer, parses alone through pbf.decode_feature;
  4. geometry decode: one commands.decode_geometry_vec_batch_global
     over every geometry, each with its own layer's transform
     (scale = extent / tile_mercator_size(z); coord = tile_origin +
     px / scale, datasource_pbf.ipp:150-170). A geometry it declines
     replays through the scalar decode_geometry, which owns the exact
     v1/v2 error matrix.

The kernel yields per-feature columns (tile row, layer, name, id, type,
packed geometry {kind, xs, ys, offsets[, exterior]} in mercator
coordinates, props, raster) and every scan projects them: WKT rows
(decode_layer_rows / decode_tile_rows / decode_tiles), packed and gpack
rows (iter_layer_packed / decode_tiles_packed / decode_tiles_gpack,
which drop features with no geometry and no raster, like the
reference's next() skip), and the columnar kernel, which decodes this
engine's uniform point framing straight from the header parse and
sends every other layer through the kernel. Errors name the tile (and
layer) that raised them.
"""

from __future__ import annotations

from itertools import chain
from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.functions import commands as Cmd
from mapnik_vector_tile_spark.functions import compression as Z
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import pbf

DECODED_SCHEMA = (
    "z int, x long, y long, layer string, feature_id long, geom_type int, "
    "geom_wkt string, props map<string,string>, raster binary"
)

# a layer whose features average more bytes than this parses them one by
# one: the lockstep walk costs ~3x the scalar parse on ~40KB features
# (the reference's enf / multi_line bench tiles)
FEW_BIG_BYTES = 2048


def _layer_ok(layer: dict) -> bool:
    """datasource_pbf construction semantics (test/unit/datasource-pbf/
    from_layer.cpp): an unknown layer version yields no features but
    processing continues with subsequent layers; a v2 layer without a
    declared extent is rejected (the reference throws — the scan skips
    it so one hostile layer cannot fail a distributed decode; the
    validity checker carries the LAYER_HAS_NO_EXTENT finding)."""
    if layer["version"] not in (1, 2):
        return False
    if layer["version"] == 2 and not layer["has_extent"]:
        return False
    return True


def _where(z: int, x: int, y: int, li: int | None = None) -> str:
    """The note a decode error carries: which tile (and layer) failed."""
    return f"while decoding tile z/x/y {z}/{x}/{y}" + ("" if li is None else f", layer {li}")


def _u64(values) -> np.ndarray:
    """Python varints, wrapped to 64 bits, -> uint64 (a decode_feature
    geometry may already be a uint64 ndarray)."""
    if isinstance(values, np.ndarray):
        return values
    return np.array([v & 0xFFFFFFFFFFFFFFFF for v in values], dtype=np.uint64)


def _i64(values: list) -> np.ndarray:
    """Python varints -> int64, wrapped like the batch parse's uint64."""
    return _u64(values).view(np.int64)


def _split(keys, tiles):
    """Kernel step 1: every tile of a batch -> its layer messages, with
    each layer's tile row and its index within that tile."""
    blobs: list[bytes] = []
    ltile: list[int] = []
    lli: list[int] = []
    for t, tile in enumerate(tiles):
        if not tile:
            continue
        try:
            layers = pbf.decode_tile(Z.decompress(bytes(tile)))
        except Exception as exc:
            exc.add_note(_where(*(k[t] for k in keys)))
            raise
        for li, layer in enumerate(layers):
            blobs.append(layer)
            ltile.append(t)
            lli.append(li)
    return blobs, np.asarray(ltile, dtype=np.int64), np.asarray(lli, dtype=np.int64)


def _decode_layers(blobs, ltile, lli, bounds, keys=None, bbox=None, typed=False,
                   meta=None, todo=None):
    """Kernel steps 2-4: blobs[i] is layer lli[i] of tile row ltile[i];
    bounds are the tiles' (minx, miny, maxx, maxy) mercator arrays and
    keys their (z, x, y) arrays, which error notes name. meta is the
    batch header parse (made here when absent); todo masks the layers
    to decode. typed=True keeps property values as their decoded python
    variants (int/float/bool/str) instead of strings — the re-encode
    merge path needs the Value types back (vector_tile_load_tile.hpp:
    93-137).

    Returns per-feature columns in tile, layer and wire order: tile
    (row), layer (index into blobs), li, name, ids, types, geom (packed
    dict or None), props and raster."""
    n_lay = len(blobs)
    if meta is None:
        meta = pbf.parse_layers_batch(blobs)
    minx, _miny, maxx, maxy = bounds

    def note(exc, i):
        if keys is not None and i >= 0:
            exc.add_note(_where(*(k[ltile[i]] for k in keys), lli[i]))

    # --- step 2: headers; a strict layer appends its dictionaries ---
    ok = meta["ok"]
    names, version = meta["name"].copy(), meta["version"].copy()
    extent = meta["extent"].astype(np.float64)
    kcnt = np.bincount(meta["key_layer"], minlength=n_lay)
    vcnt = np.bincount(meta["val_layer"], minlength=n_lay)
    koff, voff = np.cumsum(kcnt) - kcnt, np.cumsum(vcnt) - vcnt
    keys_x: list = []
    vals_x: list = []
    feats: list = [()] * n_lay
    i = -1
    try:
        for i in range(n_lay) if todo is None else np.flatnonzero(todo).tolist():
            blob = blobs[i]
            if ok[i]:
                fs = int(meta["feat_start"][i] - meta["layer_start"][i])
                if fs < 0 or version[i] not in (1, 2):
                    continue
                msgs: list = []
                if pbf.feature_run(blob, fs, msgs) >= len(blob):
                    feats[i] = msgs
                    continue
            layer = pbf.decode_layer(bytes(blob))
            if _layer_ok(layer):
                names[i], version[i], extent[i] = layer["name"], layer["version"], layer["extent"]
                koff[i], kcnt[i] = len(meta["keys"]) + len(keys_x), len(layer["keys"])
                voff[i], vcnt[i] = len(meta["values"]) + len(vals_x), len(layer["values"])
                keys_x += layer["keys"]
                vals_x += layer["values"]
                feats[i] = layer["features"]
    except Exception as exc:
        note(exc, i)
        raise
    nf = np.fromiter(map(len, feats), dtype=np.int64, count=n_lay)
    layer = np.repeat(np.arange(n_lay), nf)
    msgs = list(chain.from_iterable(feats))
    n = len(msgs)

    # --- step 3: one batch feature parse; a few-big layer's features
    # (handed over empty) and the declined ones parse alone, appended
    # after the batch in parse order ---
    few_big = np.fromiter((sum(map(len, f)) > FEW_BIG_BYTES * len(f) for f in feats),
                          dtype=bool, count=n_lay)[layer]
    fb = pbf.decode_features_batch([b"" if a else m for m, a in zip(msgs, few_big.tolist())])
    alone = np.flatnonzero(few_big | ~fb["ok"]).tolist()
    parsed = []
    try:
        for j in alone:
            parsed.append(pbf.decode_feature(msgs[j]))
    except Exception as exc:
        note(exc, int(layer[j]))
        raise
    ids, types = fb["ids"], fb["types"]
    ids[alone] = _i64([f["id"] for f in parsed])
    types[alone] = _i64([f["type"] for f in parsed])
    layer_p = np.concatenate([layer, layer[alone]])
    types_p = np.concatenate([types, types[alone]])
    glen = np.concatenate([np.diff(fb["geom_off"]),
                           np.array([len(f["geometry"]) for f in parsed], dtype=np.int64)])
    geom_off = np.concatenate([[0], np.cumsum(glen)])
    # uint32, the cursor's & 0xFFFFFFFF
    geom_vals = np.concatenate([fb["geom_vals"], *(_u64(f["geometry"]) for f in parsed)],
                               dtype=np.uint32, casting="unsafe")

    # --- step 4: one geometry decode, per-feature transforms ---
    t_p, ver_p = ltile[layer_p], version[layer_p]
    tx, ty = minx[t_p], maxy[t_p]
    scale = extent[layer_p] / (maxx[t_p] - minx[t_p])
    geoms = Cmd.decode_geometry_vec_batch_global(
        geom_vals, geom_off, types_p, version=ver_p, tile_x=tx, tile_y=ty,
        scale_x=scale, scale_y=-scale, bbox=bbox,
    )
    j = -1
    try:
        for j in np.flatnonzero(glen > 0).tolist():
            if geoms[j] is None:
                geoms[j] = _pack_from_parts(Cmd.decode_geometry(
                    geom_vals[geom_off[j] : geom_off[j + 1]], int(types_p[j]),
                    version=int(ver_p[j]), tile_x=float(tx[j]), tile_y=float(ty[j]),
                    scale_x=float(scale[j]), scale_y=-float(scale[j]), bbox=bbox,
                ))[1]
    except Exception as exc:
        note(exc, int(layer_p[j]))
        raise
    geoms = [g if isinstance(g, dict) else None for g in geoms]

    # --- props: out-of-range indices are silently skipped, like the
    # reference featureset (vector_tile_featureset_pbf.ipp:147-148) ---
    all_keys = np.concatenate([meta["keys"], np.array(keys_x, dtype=object)])
    all_vals = np.concatenate([meta["values"], np.array(vals_x, dtype=object)])
    if not typed:
        all_vals = np.array([None if v is None else str(v) for v in all_vals], dtype=object)
    tags = np.concatenate([fb["tag_vals"], _i64([t for f in parsed for t in f["tags"]])])
    tcnt = np.concatenate([np.diff(fb["tag_off"]),
                           np.array([len(f["tags"]) for f in parsed], dtype=np.int64)])
    npair = tcnt // 2
    pf = np.repeat(np.arange(len(tcnt)), npair)
    ki = np.repeat(np.cumsum(tcnt) - tcnt - 2 * (np.cumsum(npair) - npair), npair)
    ki += 2 * np.arange(len(pf))
    ki, vi, pl = tags[ki], tags[ki + 1], layer_p[pf]
    good = (ki >= 0) & (ki < kcnt[pl]) & (vi >= 0) & (vi < vcnt[pl])
    kl = all_keys[(koff[pl] + ki)[good]].tolist()
    vl = all_vals[(voff[pl] + vi)[good]].tolist()
    pend = np.cumsum(np.bincount(pf[good], minlength=len(tcnt))).tolist()
    props = [dict(zip(kl[a:b], vl[a:b])) for a, b in zip([0, *pend[:-1]], pend)]

    rasters = [None] * n
    for j in np.flatnonzero(fb["rast_s"] >= 0).tolist():
        s = fb["rast_s"][j]
        rasters[j] = fb["buf"][s : s + fb["rast_l"][j]].tobytes()
    for k, j in enumerate(alone):  # parse order -> wire order
        geoms[j], props[j], rasters[j] = geoms[n + k], props[n + k], parsed[k]["raster"]
    return SimpleNamespace(
        tile=ltile[layer], layer=layer, li=lli[layer], name=names[layer], ids=ids,
        types=types, geom=geoms[:n], props=props[:n], raster=rasters,
    )


def _decode_tiles(keys, tiles, bbox=None, typed=False):
    """The decode kernel over one batch of tiles: keys = (z, x, y)
    arrays, one entry per tile."""
    blobs, ltile, lli = _split(keys, tiles)
    bounds = tilemath.tile_mercator_bbox_np(keys[1], keys[2], keys[0])
    return _decode_layers(blobs, ltile, lli, bounds, keys, bbox, typed)


def _one_layer(layer_bytes: bytes, bounds, keys=None, bbox=None, typed=False):
    """The decode kernel over one layer message of a tile with these
    mercator bounds."""
    zero = np.zeros(1, dtype=np.int64)
    return _decode_layers([bytes(layer_bytes)], zero, zero,
                          [np.full(1, float(v)) for v in bounds], keys, bbox, typed)


def _keys(pdf: pd.DataFrame):
    return pdf["z"].to_numpy(), pdf["x"].to_numpy(), pdf["y"].to_numpy()


def _project(tiles: DataFrame, schema: str, project, bbox=None, typed=False, keep=()):
    """A decode scan: one decode kernel call per Arrow batch, then
    project(pdf, features) -> the scan's frame."""

    def kernel(iterator):
        for pdf in iterator:
            out = project(pdf, _decode_tiles(_keys(pdf), pdf["tile"].to_numpy(), bbox, typed))
            if len(out):
                yield out

    return tiles.select("z", "x", "y", "tile", *keep).mapInPandas(kernel, schema=schema)


def _head(pdf, f, k) -> dict:
    """The key columns of features k of a scan's frame."""
    t = f.tile[k]
    z, x, y = _keys(pdf)
    return {"z": z[t], "x": x[t], "y": y[t], "layer": f.name[k],
            "feature_id": f.ids[k], "geom_type": f.types[k]}


def _kept(f) -> np.ndarray:
    """The packed scans' filter: features with no geometry and no raster
    are dropped, like the reference featureset's next() skip."""
    return np.flatnonzero([g is not None or r is not None for g, r in zip(f.geom, f.raster)])


def _wkt_rows(z: int, x: int, y: int, f) -> list[tuple]:
    n = len(f.ids)
    return list(zip([z] * n, [x] * n, [y] * n, f.name.tolist(), f.ids.tolist(),
                    f.types.tolist(), G.wkt_from_packed(f.geom), f.props, f.raster))


def decode_layer_rows(
    z: int, x: int, y: int, layer_bytes: bytes, bbox=None, bounds=None
) -> list[tuple]:
    """One layer message -> decoded feature rows (mercator coordinates,
    WKT geometry). `bounds` is the tile mercator bbox (computed from
    z/x/y if absent)."""
    if bounds is None:
        bounds = tilemath.tile_mercator_bbox_np(x, y, z)
    return _wkt_rows(z, x, y, _one_layer(layer_bytes, bounds, ([z], [x], [y]), bbox))


def decode_tile_rows(z: int, x: int, y: int, tile: bytes, bbox=None) -> list[tuple]:
    """One tile -> decoded feature rows (mercator coordinates)."""
    keys = (np.asarray([z]), np.asarray([x]), np.asarray([y]))
    return _wkt_rows(z, x, y, _decode_tiles(keys, [tile], bbox))


def _split_uniform_point_layer(layer_bytes: bytes, chunk_bytes: int):
    """Dictionary-slicing split for this engine's uniform point framing
    (the hot-tile encoder's output — operators/encode.py — whose
    per-occurrence dictionary makes values ~70% of a hot tile's bytes):
    each chunk re-encodes its features with tag value indices SHIFTED so
    it carries only the value-dictionary entries its features actually
    reference — no dictionary repetition across chunks. The header comes
    from pbf.layer_header_hop; a chunk's header is the layer's bytes
    before the value run plus those between the run's end and the first
    Feature frame. Returns list[bytes] or None (caller falls back to the
    generic full-header split) when the hop declines the header, the
    values are not one contiguous run, extent/version are not declared
    before the features, or the feature suffix is not uniform."""
    data = bytes(layer_bytes)
    hop = pbf.layer_header_hop(data)
    if hop is None:
        return None
    _name, keys, vals, extent, version, feat = hop
    c = len(keys)
    if c == 0 or not vals or feat < 0 or extent < 0 or version < 0:
        return None
    region = data[feat:]
    res = pbf.uniform_point_columns(region, c)
    if res is None:
        return None
    vidx, zz, row_ok = res
    if not row_ok.all():
        return None
    buf = np.frombuffer(data, dtype=np.uint8)
    # value spans: frame starts + one shared end, once the run is proven
    # contiguous (each frame ends where the next begins)
    vs = np.empty(len(vals) + 1, dtype=np.int64)
    vs[:-1] = vals
    vlen, vll = pbf.read_varints_at(buf, vs[:-1] + 1)
    vends = vs[:-1] + 1 + vll + vlen.astype(np.int64)
    if (vends[:-1] != vs[1:-1]).any():
        return None
    vs[-1] = vends[-1]
    if int(vidx.max()) >= len(vals):
        return None  # dangling value reference: keep the layer whole
    vend = int(vs[-1])
    misc = data[: vals[0]] + data[vend:feat]
    n = len(vidx)
    n_chunks = max(1, -(-(len(region) + (vend - vals[0])) // chunk_bytes))
    if n_chunks <= 1:
        return None
    rows_per = -(-n // n_chunks)
    # exact referenced-value gather + compact index remap per chunk: a
    # chunk carries ONLY the dictionary entries its features use (a
    # range slice degenerates when a shared value sits at the far end of
    # the dictionary — the whole dict would ride every chunk). The tag
    # streams of ALL chunks re-encode in ONE vectorized pass; the blob
    # is then cut at per-feature frame boundaries.
    bounds = list(range(0, n, rows_per)) + [n]
    dicts: list[bytes] = []
    new_tags = np.empty((n, 2 * c), dtype=np.int64)
    new_tags[:, 0::2] = np.arange(c, dtype=np.int64)  # key ordinals (verified)
    for r0, r1 in zip(bounds, bounds[1:]):
        uniq, inv = np.unique(vidx[r0:r1], return_inverse=True)
        big, _offs = pbf.ragged_gather(
            buf, vs[uniq], vs[uniq + 1] - vs[uniq], np.arange(len(uniq))
        )
        dicts.append(big.tobytes())
        new_tags[r0:r1, 1::2] = inv.reshape(r1 - r0, c)
    blob, flens = pbf.encode_point_features_packed(new_tags, zz, return_lengths=True)
    frame_off = np.concatenate([[0], np.cumsum(flens)]).astype(np.int64)
    return [
        misc + dicts[i] + blob[frame_off[r0] : frame_off[r1]]
        for i, (r0, r1) in enumerate(zip(bounds, bounds[1:]))
    ]


def split_tile_chunks_smart(tile_data: bytes, chunk_bytes: int) -> list[bytes]:
    """One UNCOMPRESSED tile message -> >=1 standalone tile messages,
    each carrying exactly one (mini-)layer. Small layers pass through
    whole; a layer larger than chunk_bytes is cut on feature boundaries:
    this engine's uniform point layers by the dictionary-slicing lane,
    any other layer shape by the generic feature-frame split
    (pbf.split_layer_chunks) with the full header repeated. The union of
    the chunks' decoded rows equals the original tile's."""
    out: list[bytes] = []
    for layer_bytes in pbf.decode_tile(tile_data):
        if len(layer_bytes) <= chunk_bytes:
            parts = [layer_bytes]
        else:
            parts = _split_uniform_point_layer(layer_bytes, chunk_bytes)
            if parts is None:
                try:
                    parts = pbf.split_layer_chunks(layer_bytes, chunk_bytes)
                except (IndexError, ValueError):
                    # hostile/truncated framing: ship the layer whole —
                    # the decode stage owns the error semantics
                    parts = [layer_bytes]
        for p in parts:
            buf = bytearray()
            pbf.add_len_field(buf, 3, p)
            out.append(bytes(buf))
    return out if out else [tile_data]


HOT_BYTES = 1 << 21  # explode_hot_tiles' default: a stored row this big is split


def explode_hot_tiles(
    tiles: DataFrame,
    chunk_bytes: int = 1 << 20,
    hot_bytes: int = HOT_BYTES,
    shuffle: bool = True,
) -> DataFrame:
    """Scale pre-stage for every decode scan: a monolithic tile (one
    row = one task = the decode wall floor at 100x data — r4 BENCH.md's
    300k-feature z13 straggler) is split on feature-frame boundaries
    into standalone mini-tiles of ~chunk_bytes each, which then decode
    in PARALLEL tasks. Output schema is (z, x, y, tile) — the chunks are
    valid uncompressed tile messages, so the decode kernel behind
    decode_tiles / decode_tiles_packed / decode_tiles_gpack and the
    columnar kernel consumes them unchanged (decompress passes raw pbf
    through). A chunk is a layer cut on feature-frame boundaries, so the
    kernel decodes it exactly as it decodes the whole layer.

    Only rows whose stored payload is >= hot_bytes pay the split + the
    round-robin shuffle that spreads their chunks across tasks; cold
    tiles stream through untouched on their original partitioning. The
    per-tile decoded row set is preserved exactly (feature order within
    a layer is preserved across its chunk sequence); a tile's features
    merely arrive from several tasks — the same contract as any
    distributed scan. Counterpart of the encoder's hot-tile pieces
    (operators/encode.py, prechunk_hot) on the decode side."""
    from pyspark.sql import functions as F

    src = tiles.select("z", "x", "y", "tile")
    cold = src.where(F.length("tile") < hot_bytes)
    hot = src.where(F.length("tile") >= hot_bytes)
    # r7: prechunked storage (build_point_tiles(prechunk_hot=True)) never
    # stores a row >= HOT_BYTES (a piece that would is cut in halves), yet
    # the split machinery still cost a second full scan, a union and an
    # (empty) round-robin exchange (+0.7s on the 695k-tile bench
    # decode). One bounded probe decides:
    # when no stored row is hot, the cold filter IS the whole input.
    if hot.isEmpty():
        return cold

    def kernel(iterator):
        for pdf in iterator:
            out_z, out_x, out_y, out_t = [], [], [], []
            for z, x, y, tile in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile"]):
                if not tile:
                    continue
                try:
                    data = Z.decompress(bytes(tile))
                except Exception as exc:
                    exc.add_note(_where(z, x, y))
                    raise
                for chunk in split_tile_chunks_smart(data, chunk_bytes):
                    out_z.append(z)
                    out_x.append(x)
                    out_y.append(y)
                    out_t.append(chunk)
            if out_t:
                yield pd.DataFrame(
                    {"z": out_z, "x": out_x, "y": out_y, "tile": out_t}
                )

    chunks = hot.mapInPandas(kernel, schema="z int, x long, y long, tile binary")
    if shuffle:
        npart = int(tiles.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        chunks = chunks.repartition(npart)
    return cold.unionByName(chunks)


def decode_tiles(tiles: DataFrame, bbox=None) -> DataFrame:
    """tiles: (z, x, y, tile binary, ...) -> decoded feature rows (WKT
    text out — the compat/interop scan; pipelines ride the packed/gpack
    forms). `bbox` pushes a mercator query box into the decoder."""

    def project(pdf, f):
        return pd.DataFrame({**_head(pdf, f, slice(None)), "geom_wkt": G.wkt_from_packed(f.geom),
                             "props": f.props, "raster": f.raster})

    return _project(tiles, DECODED_SCHEMA, project, bbox)


PACKED_SCHEMA = (
    "z int, x long, y long, layer string, feature_id long, geom_type int, "
    "kind string, xs array<double>, ys array<double>, offsets array<long>, "
    "exterior array<boolean>, props map<string,string>, raster binary"
)


def iter_layer_packed(layer_bytes: bytes, bounds, bbox=None, typed: bool = False) -> list[tuple]:
    """One layer message -> (name, feature_id, geom_type, pk_dict, props,
    raster) tuples, where pk_dict is the packed ragged geometry
    {kind, xs, ys, offsets[, exterior]} or None (raster-only feature):
    the kernel with empty/bbox-filtered geometry features without
    raster dropped, like the reference featureset's next() skip
    (src/vector_tile_featureset_pbf.ipp:113-180). typed as in
    _decode_layers."""
    f = _one_layer(layer_bytes, bounds, bbox=bbox, typed=typed)
    return [(f.name[j], int(f.ids[j]), int(f.types[j]), f.geom[j], f.props[j], f.raster[j])
            for j in _kept(f).tolist()]


def decode_tiles_packed(tiles: DataFrame, bbox=None) -> DataFrame:
    """Decode scan with RAGGED geometry output: flat xs/ys + part
    offsets per feature (Arrow list columns), never a per-part Python
    object or a WKT string. This is the scale form of S2/S3 — a feature
    with 168k line parts (the reference's multi_line bench tile) is
    three arrays here, and downstream Spark ops explode/aggregate the
    list columns JVM-side. `bbox` pushes a mercator query box INTO the
    geometry decoder (the reference's filter_at_point/bbox query,
    src/vector_tile_datasource_pbf.ipp:196-216)."""

    def project(pdf, f):
        k = _kept(f).tolist()
        pks = [f.geom[j] for j in k]
        return pd.DataFrame({
            **_head(pdf, f, k),
            **{c: [None if pk is None else pk.get(c) for pk in pks]
               for c in ("kind", "xs", "ys", "offsets", "exterior")},
            "props": [f.props[j] for j in k], "raster": [f.raster[j] for j in k],
        })

    return _project(tiles, PACKED_SCHEMA, project, bbox)


GPACK_SCHEMA = (
    "z int, x long, y long, layer string, feature_id long, geom_type int, "
    "_gpk binary, env_minx double, env_miny double, env_maxx double, "
    "env_maxy double, props map<string,string>"
)


def decode_tiles_gpack(
    tiles: DataFrame,
    bbox=None,
    keep_cols: list[str] | None = None,
    ordinals: bool = False,
    typed: bool = False,
    with_raster: bool = False,
) -> DataFrame:
    """Decode scan emitting the compact gpack geometry + its mercator
    envelope — the exact input shape build_geom_tiles' encode stages
    read. The decode->re-encode pipelines (pyramid re-tiling, composite
    slow path) ride this: geometry crosses the boundary as one binary
    column, no WKT text and no per-part Python objects, and the
    envelope stage of the encoder is already paid here.

    keep_cols: input columns carried through per decoded row (e.g. a
    source-order column for the composite merge). ordinals adds
    layer_idx (wire order of the layer within its tile) and feat_idx
    (wire order of the kept feature within its layer). typed adds a
    ptype map (key -> one of s/i/f/b) so the stringified props can be
    restored to their Value variant types at re-encode. with_raster adds
    the Feature.raster bytes and KEEPS raster-only features (as
    empty-geometry rows, _gpk = the empty pack) so the re-encode merge
    can carry them; the default scan stays geometry-only."""
    keep = list(keep_cols or [])
    schema = GPACK_SCHEMA
    if ordinals:
        schema += ", layer_idx int, feat_idx long"
    if typed:
        schema += ", ptype map<string,string>"
    if with_raster:
        schema += ", raster binary"
    by_name = {f.name: f for f in tiles.schema}
    for c in keep:
        schema += f", {c} {by_name[c].dataType.simpleString()}"
    no_geom = (bytes([0]), (float("nan"),) * 4)

    def project(pdf, f):
        # the default scan drops raster-only features: nothing to re-tile
        k = _kept(f) if with_raster else np.flatnonzero([g is not None for g in f.geom])
        gpk, env = [], []
        for pk in (f.geom[j] for j in k.tolist()):
            g, e = no_geom if pk is None else G.gpack_from_packed(
                pk["kind"], pk["xs"], pk["ys"], pk["offsets"], pk.get("exterior"),
            )
            gpk.append(g)
            env.append(e)
        env = np.asarray(env, dtype=np.float64).reshape(-1, 4)
        props = [f.props[j] for j in k.tolist()]
        cols = {**_head(pdf, f, k), "_gpk": gpk, "env_minx": env[:, 0], "env_miny": env[:, 1],
                "env_maxx": env[:, 2], "env_maxy": env[:, 3], "props": props}
        if typed:
            cols["props"] = [{c: None if v is None else str(v) for c, v in p.items()}
                             for p in props]
        if ordinals:
            lay = f.layer[k]
            run = np.flatnonzero(np.r_[True, lay[1:] != lay[:-1]]) if len(k) else k
            cols["layer_idx"] = f.li[k]
            cols["feat_idx"] = np.arange(len(k)) - np.repeat(run, np.diff(np.r_[run, len(k)]))
        if typed:
            cols["ptype"] = [{c: _vtag(v) for c, v in p.items()} for p in props]
        if with_raster:
            cols["raster"] = [f.raster[j] for j in k.tolist()]
        for c in keep:
            cols[c] = pdf[c].to_numpy()[f.tile[k]]
        return pd.DataFrame(cols)

    return _project(tiles, schema, project, bbox, typed, keep)


def _vtag(v) -> str:
    """Value-variant tag for the typed gpack scan: b(ool) before i(nt) —
    bool is an int subclass."""
    if isinstance(v, bool):
        return "b"
    if isinstance(v, int):
        return "i"
    if isinstance(v, float):
        return "f"
    return "s"


def parse_tagged_value(v, tag: str):
    """Inverse of the typed gpack scan's stringification: restore the
    python variant so the re-encoder writes the same Value type family
    (ints stay ints — the r4 nullable-int bug class)."""
    if v is None:
        return None
    if tag == "i":
        return int(v)
    if tag == "f":
        return float(v)
    if tag == "b":
        return v == "True"
    return v


def _pack_from_parts(geom) -> tuple:
    """Scalar-decoder output -> the packed dict form."""
    kind, val = geom
    if kind == "empty":
        return ("empty", None)
    if kind in ("point", "multipoint"):
        parts, out_kind, ext = [np.atleast_2d(val)], "multipoint", None
    elif kind == "linestring":
        parts, out_kind, ext = [np.asarray(val)], "multilinestring", None
    elif kind == "multilinestring":
        parts, out_kind, ext = [np.asarray(p) for p in val], "multilinestring", None
    elif kind == "polygon":
        parts = [np.asarray(r) for r in val]
        out_kind = "multipolygon"
        ext = np.array([True] + [False] * (len(parts) - 1), dtype=bool)
    else:  # multipolygon
        parts = [np.asarray(r) for p in val for r in p]
        out_kind = "multipolygon"
        ext = np.concatenate(
            [[True] + [False] * (len(p) - 1) for p in val]
        ).astype(bool)
    lens = np.asarray([len(p) for p in parts], dtype=np.int64)
    flat = parts[0] if len(parts) == 1 else np.vstack(parts)
    return ("packed", {
        "kind": out_kind, "xs": flat[:, 0].astype(np.float64),
        "ys": flat[:, 1].astype(np.float64),
        "offsets": np.concatenate([[0], np.cumsum(lens)]).astype(np.int64),
        "exterior": ext,
    })


def features_at_point(
    tiles: DataFrame, lon: float, lat: float, tol_merc: float = 0.0,
    packed: bool = True,
) -> DataFrame:
    """S4: point-lookup scan over encoded tiles — decode with a tiny bbox
    pushed *into* the decoder (the reference's filter_at_point,
    src/vector_tile_datasource_pbf.ipp:196-216).

    Cell pruning happens BEFORE any decode: only tiles whose mercator
    bbox (grown by the tolerance) contains the query point survive the
    Column filter, so a z-keyed/partitioned tile store prunes to O(1)
    tiles per zoom instead of scanning the world. The default return is
    the ragged array form (PACKED_SCHEMA) — the scale path when hits
    feed further relational stages; `packed=False` yields WKT rows for
    interop (the compat boundary, via decode_tiles)."""
    from pyspark.sql import functions as F

    mx, my = tilemath.mercator_np(lon, lat)
    bbox = (float(mx) - tol_merc, float(my) - tol_merc, float(mx) + tol_merc, float(my) + tol_merc)

    minx, miny, maxx, maxy = tilemath.tile_bbox_cols(
        F.col("z"), F.col("x"), F.col("y")
    )
    tiles = tiles.where(
        (F.lit(bbox[2]) >= minx) & (F.lit(bbox[0]) < maxx)
        & (F.lit(bbox[3]) >= miny) & (F.lit(bbox[1]) < maxy)
    )
    if packed:
        return decode_tiles_packed(tiles, bbox=bbox)
    return decode_tiles(tiles, bbox=bbox)


# ---------------------------------------------------------------------------
# vectorized point-layer decode (matches the reference's decode-throughput
# benchmark direction, bench/readme.md:24-30)
# ---------------------------------------------------------------------------

def _packed_rows_ok(m: np.ndarray, ml: np.ndarray, c: int) -> np.ndarray:
    """Per-row structural verification of the packed point framing.

    Beyond the constant frame bytes, every declared length (feature,
    tags, geometry) is checked against the actual varint byte lengths,
    and tag key indices must equal their column position — so a foreign
    layer whose byte stream merely *parses* as varints cannot slip
    through the reshape. The batch header parse stops at the first
    Feature frame and takes the rest of the layer as its feature suffix;
    this check proves that suffix. It is the test reference of
    pbf.uniform_point_columns, which runs the same checks in
    production."""
    mi = m.astype(np.int64, copy=False)
    ok = (
        (mi[:, 0] == 0x12)
        & (mi[:, 2] == 0x12)
        & (mi[:, 4 + 2 * c] == 0x18)
        & (mi[:, 5 + 2 * c] == Cmd.POINT)
        & (mi[:, 6 + 2 * c] == 0x22)
        & (mi[:, 8 + 2 * c] == 0x09)
        # declared feature length == bytes of everything after its varint
        & (mi[:, 1] == ml[:, 2:].sum(axis=1))
        # declared tags length == bytes of the 2c tag varints
        & (mi[:, 3] == ml[:, 4 : 4 + 2 * c].sum(axis=1))
        # declared geometry length == MoveTo byte + zigzag coord bytes
        & (mi[:, 7 + 2 * c] == 1 + ml[:, 9 + 2 * c] + ml[:, 10 + 2 * c])
    )
    for j in range(c):
        ok &= mi[:, 4 + 2 * j] == j
    return ok


def decode_tiles_columnar(tiles: DataFrame, prop_keys: list[str]) -> DataFrame:
    """Scale-path decode: point tiles -> columnar rows (one column per
    property key). The per-tile varint streams of a whole Arrow batch
    concatenate into ONE vectorized decode + reshape (tiny tiles cost
    ~zlib only); every other layer goes through the decode kernel."""
    out_schema = (
        "z int, x long, y long, layer string, mx double, my double, "
        + ", ".join(f"`{k}` string" for k in prop_keys)
    )
    kernel = columnar_kernel(prop_keys)
    return tiles.select("z", "x", "y", "tile").mapInPandas(kernel, schema=out_schema)


def columnar_kernel(prop_keys: list[str]):
    """The mapInPandas kernel of decode_tiles_columnar, exposed so the
    bench harness can drive the exact distributed stages single-core
    (the dense-tile decode anchor)."""

    def kernel(iterator):
        for pdf in iterator:
            keys = _keys(pdf)
            blobs, ltile, lli = _split(keys, pdf["tile"].to_numpy())
            if not blobs:
                continue
            # one vectorized header walk for the whole batch (the
            # per-layer Python walk was ~75% of worst-case decode)
            meta = pbf.parse_layers_batch(blobs)
            frame, rest = _uniform_points(meta, keys, ltile, prop_keys)
            frames = [] if frame is None else [frame]
            if rest.any():
                f = _decode_layers(
                    blobs, ltile, lli, tilemath.tile_mercator_bbox_np(keys[1], keys[2], keys[0]),
                    keys, meta=meta, todo=rest)
                # single-point features carry their exact decoded
                # coordinates; every other feature carries NaN
                xy = np.array([(pk["xs"][0], pk["ys"][0]) if pk is not None
                               and pk["kind"] == "multipoint" and len(pk["xs"]) == 1
                               else (np.nan, np.nan) for pk in f.geom]).reshape(-1, 2)
                head = _head(pdf, f, slice(None))
                frames.append(pd.DataFrame({
                    **{c: head[c] for c in ("z", "x", "y", "layer")},
                    "mx": xy[:, 0], "my": xy[:, 1],
                    **{k: [p.get(k) for p in f.props] for k in prop_keys},
                }))
            out = pd.concat(frames, ignore_index=True) if frames else ()
            if len(out):
                yield out

    return kernel


def _uniform_points(meta: dict, keys, ltile, prop_keys: list[str]):
    """The columnar kernel's fast lane: layers in this engine's uniform
    point framing (pbf.uniform_point_columns) with exactly prop_keys as
    keys decode straight from the batch header parse. Returns (frame or
    None, mask of the layers it did not take)."""
    c_expected = len(prop_keys)
    w = 11 + 2 * c_expected
    nlay = len(meta["ok"])
    rest = np.ones(nlay, dtype=bool)
    buf = meta["buf"]
    key_counts = np.bincount(meta["key_layer"], minlength=nlay)
    koff = np.concatenate([[0], np.cumsum(key_counts)[:-1]])
    cand = np.flatnonzero(
        meta["ok"]
        & (key_counts == c_expected)
        & (meta["feat_start"] >= 0)
        & (meta["feat_end"] > meta["feat_start"])
    )
    for j, kname in enumerate(prop_keys):
        if len(cand) == 0:
            break
        cand = cand[meta["keys"][koff[cand] + j] == kname]
    if len(cand) == 0:
        return None, rest
    # varint count per candidate region: segmented terminator sums via
    # reduceat (a full-buffer cumsum was the batch's single most
    # expensive numpy op); one zero pad: a region ending exactly at the
    # buffer end would otherwise be an out-of-bounds reduceat index
    term = np.concatenate([((buf & 0x80) == 0).astype(np.int32), np.zeros(1, np.int32)])
    bounds = np.stack([meta["feat_start"][cand], meta["feat_end"][cand]], axis=1).reshape(-1)
    nvals = np.add.reduceat(term, bounds)[::2].astype(np.int64)
    keep_c = nvals % w == 0
    cand, nvals = cand[keep_c], nvals[keep_c]
    if len(cand) == 0:
        return None, rest
    flen = meta["feat_end"][cand] - meta["feat_start"][cand]
    big, _offs = pbf.ragged_gather(buf, meta["feat_start"][cand], flen, np.arange(len(cand)))
    # targeted-column decode: boundaries once, then only the value-index
    # + coord columns gather-decode; constants and declared lengths
    # verify per row (the full-stream decode_varints_vec was ~8
    # whole-buffer passes)
    res = pbf.uniform_point_columns(big, c_expected)
    if res is None:  # the stream does not frame at all (hostile)
        return None, rest
    vidx, zz_m, row_ok = res
    rep = np.repeat(np.arange(len(cand)), nvals // w)
    vcnt = np.bincount(meta["val_layer"], minlength=nlay)
    vidx = vidx.astype(np.int64)
    # a dangling value reference leaves the fast lane too: the kernel
    # skips it, like the reference featureset
    row_ok &= ((vidx >= 0) & (vidx < vcnt[cand][rep][:, None])).all(axis=1)
    if not row_ok.all():
        # exotic framing: only the offending layers leave the fast lane
        bad = np.zeros(len(cand), dtype=bool)
        np.logical_or.at(bad, rep, ~row_ok)
        keep = ~bad[rep]
        vidx, zz_m, rep = vidx[keep], zz_m[keep], rep[keep]
        rest[cand[~bad]] = False
    else:
        rest[cand] = False
    if len(rep) == 0:
        return None, rest
    lt = ltile[cand][rep]
    tz, tx, ty = (k[lt] for k in keys)
    names = meta["name"][cand][rep]
    extents = meta["extent"][cand].astype(np.float64)[rep]
    minx, miny, maxx, maxy = tilemath.tile_mercator_bbox_np(tx, ty, tz)
    scale = extents / (maxx - minx)
    px = Cmd.unzigzag32(zz_m[:, 0]).astype(np.float64)
    py = Cmd.unzigzag32(zz_m[:, 1]).astype(np.float64)
    mx = minx + px / scale
    my = maxy - py / scale
    # tag value indices -> the batch parse's flat value dictionary
    vidx += (np.cumsum(vcnt) - vcnt)[cand][rep][:, None]
    cols = {k: meta["values"][vidx[:, j]] for j, k in enumerate(prop_keys)}
    frame = pd.DataFrame({"z": tz.astype(np.int32), "x": tx, "y": ty,
                          "layer": names, "mx": mx, "my": my, **cols})
    return frame, rest
