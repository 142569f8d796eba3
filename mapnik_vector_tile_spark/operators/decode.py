"""Tile decode — mapInPandas inverse of operators.encode (S2/S3, K6/K7).

The reference decodes through one feature iterator,
tile_featureset_pbf::next (src/vector_tile_datasource_pbf.ipp:35-194,
src/vector_tile_featureset_pbf.ipp:113-325). Here that iterator is
`_layer_features`: the only code that turns a layer message into
features. It yields EVERY feature as (name, feature_id, geom_type,
packed-or-None, props, raster), the geometry in the packed ragged form
{kind, xs, ys, offsets[, exterior]} in mercator coordinates. One tile
loop (`_tile_layers`: decompress, tile bounds, layer split) feeds it,
and every scan is a projection of that walk:

  * WKT rows (decode_layer_rows / decode_tile_rows / decode_tiles)
    render the packed form with geometry.wkt_from_packed;
  * the packed and gpack scans (iter_layer_packed / decode_tiles_packed
    / decode_tiles_gpack) drop features with no geometry and no raster,
    like the reference's next() skip;
  * the columnar kernel's fallback lane takes mx/my from single-point
    features (NaN for every other feature). Its fast lane
    (pbf.parse_layers_batch -> pbf.uniform_point_columns) decodes this
    engine's uniform point framing without the walk; a layer the batch
    header parse does not prove (foreign layout, unknown field, corrupt
    frame) takes the fallback lane.

Layer headers have two parsers: the strict pbf.decode_layer, and the
batch parse (a masked numpy walk whose long layers finish on the scalar
pbf.layer_header_hop). The hop also feeds the hot-tile split's
dictionary-slicing lane; any other layer shape splits through the
generic pbf.split_layer_chunks.

Decode applies tile_x/tile_y/scale like the reference:
scale = extent / tile_mercator_size(z); decoded coord =
tile_origin + px / scale (datasource_pbf.ipp:150-170).
"""

from __future__ import annotations

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


class _LayerBatch:
    """Per-layer decode state of _layer_features: feature fields as
    GLOBAL flat arrays when the lockstep wire walk holds
    (pbf.decode_features_batch); on few big features and exotic wire
    shapes, each feature message parses alone through the strict
    pbf.decode_feature (whose long geometries decode vectorized). Either
    way every geometry goes through ONE vectorized decode
    (commands.decode_geometry_vec_batch_global, or its list entry
    decode_geometry_vec_batch), and `batched` holds its per-feature
    output: a packed dict, the EMPTY marker, or None (declined)."""

    __slots__ = ("n", "ids", "types", "tags", "tag_off", "glen",
                 "batched", "_feats", "_fb")

    def __init__(self, layer: dict, dec_args: dict):
        msgs = layer["features"]
        # shape heuristic: the lockstep walk + ragged gathers win on
        # MANY SMALL features (the dense-tile shape) but cost ~3x the
        # per-feature parse on a few huge ones (the reference's enf /
        # multi_line bench tiles, ~40KB/feature) — those take the
        # per-feature lane, whose geometry decode is vectorized anyway
        few_big = len(msgs) > 0 and sum(len(m) for m in msgs) > 2048 * len(msgs)
        fb = (
            None if few_big
            else pbf.decode_features_batch(msgs)
        )
        self._fb = fb
        if fb is not None:
            self._feats = None
            self.n = fb["n"]
            self.ids = fb["ids"].tolist()
            self.types = fb["types"].tolist()
            self.tags = fb["tag_vals"].tolist()
            self.tag_off = fb["tag_off"].tolist()
            self.glen = np.diff(fb["geom_off"]).tolist()
            self.batched = Cmd.decode_geometry_vec_batch_global(
                fb["geom_vals"], fb["geom_off"], fb["types"], **dec_args,
            )
        else:  # exotic wire shapes: parse each feature alone
            feats = [pbf.decode_feature(m) for m in layer["features"]]
            self._feats = feats
            self.n = len(feats)
            self.ids = [f["id"] for f in feats]
            self.types = [f["type"] for f in feats]
            tags: list[int] = []
            tag_off = [0]
            for f in feats:
                tags.extend(f["tags"])
                tag_off.append(len(tags))
            self.tags, self.tag_off = tags, tag_off
            self.glen = [len(f["geometry"]) for f in feats]
            self.batched = Cmd.decode_geometry_vec_batch(
                [f["geometry"] for f in feats], self.types, **dec_args,
            )

    def geom(self, fi: int):
        if self._feats is not None:
            return self._feats[fi]["geometry"]
        fb = self._fb
        return fb["geom_vals"][fb["geom_off"][fi] : fb["geom_off"][fi + 1]]

    def raster(self, fi: int):
        if self._feats is not None:
            return self._feats[fi]["raster"]
        fb = self._fb
        s = fb["rast_s"][fi]
        return fb["buf"][s : s + fb["rast_l"][fi]].tobytes() if s >= 0 else None

    def props_of(self, fi: int, keys: list, vals_str: list) -> dict:
        # out-of-range indices are silently skipped, like the reference
        # featureset (vector_tile_featureset_pbf.ipp:147-148)
        props = {}
        tags, n_keys, n_vals = self.tags, len(keys), len(vals_str)
        for i in range(self.tag_off[fi], self.tag_off[fi + 1] - 1, 2):
            ki, vi = tags[i], tags[i + 1]
            if ki >= n_keys or vi >= n_vals:
                continue
            props[keys[ki]] = vals_str[vi]
        return props


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


def _layer_dec_args(layer: dict, bounds, bbox) -> dict:
    minx, miny, maxx, maxy = bounds
    # decode transform: px -> mercator (datasource_pbf scale semantics)
    scale = layer["extent"] / (float(maxx) - float(minx))
    return dict(
        version=layer["version"],
        tile_x=float(minx),
        tile_y=float(maxy),
        scale_x=scale,
        scale_y=-scale,  # y down in tile space
        bbox=bbox,
    )


def _layer_features(layer_bytes: bytes, bounds, bbox=None, typed: bool = False) -> list[tuple]:
    """One layer message -> one (name, feature_id, geom_type, packed,
    props, raster) tuple per feature, in wire order — the engine's only
    layer decode. packed is the ragged geometry {kind, xs, ys,
    offsets[, exterior]} or None (no geometry, or all of it outside
    `bbox`). Features the vectorized decoder declines replay through the
    scalar decode_geometry, which owns the exact v1/v2 error matrix.
    typed=True keeps property values as their decoded python variants
    (int/float/bool/str) instead of stringifying — the re-encode merge
    path needs the Value types back (vector_tile_load_tile.hpp:93-137)."""
    layer = pbf.decode_layer(bytes(layer_bytes))
    if not _layer_ok(layer):
        return []
    kw = _layer_dec_args(layer, bounds, bbox)
    lb = _LayerBatch(layer, kw)
    keys = layer["keys"]
    if typed:
        vals = list(layer["values"])
    else:
        vals = [None if v is None else str(v) for v in layer["values"]]
    name = layer["name"]
    out = []
    for fi in range(lb.n):
        pk = None
        if lb.glen[fi]:
            g = lb.batched[fi]
            if g is None:
                g = _pack_from_parts(Cmd.decode_geometry(lb.geom(fi), lb.types[fi], **kw))[1]
            pk = g if isinstance(g, dict) else None
        out.append(
            (name, lb.ids[fi], lb.types[fi], pk, lb.props_of(fi, keys, vals), lb.raster(fi))
        )
    return out


def _tile_layers(z: int, x: int, y: int, tile: bytes, bbox=None, typed: bool = False):
    """The tile loop of every walk-based scan: decompress, the tile's
    mercator bounds once, then each layer through _layer_features.
    Yields one feature list per layer, in wire order."""
    if not tile:
        return
    try:
        layers = pbf.decode_tile(Z.decompress(bytes(tile)))
    except Exception as exc:
        exc.add_note(_where(z, x, y))
        raise
    bounds = tilemath.tile_mercator_bbox_np(x, y, z)
    for li, layer_bytes in enumerate(layers):
        try:
            feats = _layer_features(layer_bytes, bounds, bbox=bbox, typed=typed)
        except Exception as exc:
            exc.add_note(_where(z, x, y, li))
            raise
        yield feats


def _where(z: int, x: int, y: int, li: int | None = None) -> str:
    """The note a decode error carries: which tile (and layer) failed."""
    return f"while decoding tile z/x/y {z}/{x}/{y}" + ("" if li is None else f", layer {li}")


def _wkt_rows(z: int, x: int, y: int, feats: list[tuple]) -> list[tuple]:
    wkts = G.wkt_from_packed([f[3] for f in feats])
    return [
        (z, x, y, name, fid, gt, wkt, props, raster)
        for (name, fid, gt, _pk, props, raster), wkt in zip(feats, wkts)
    ]


def _kept(feats: list[tuple]) -> list[tuple]:
    """The packed scans' filter: features with no geometry and no raster
    are dropped, like the reference featureset's next() skip."""
    return [f for f in feats if f[3] is not None or f[5] is not None]


def decode_layer_rows(
    z: int, x: int, y: int, layer_bytes: bytes, bbox=None, bounds=None
) -> list[tuple]:
    """One layer message -> decoded feature rows (mercator coordinates,
    WKT geometry). `bounds` is the tile mercator bbox (computed from
    z/x/y if absent) — passing it lets callers amortize it across a
    tile's layers."""
    if bounds is None:
        bounds = tilemath.tile_mercator_bbox_np(x, y, z)
    return _wkt_rows(z, x, y, _layer_features(layer_bytes, bounds, bbox=bbox))


def decode_tile_rows(z: int, x: int, y: int, tile: bytes, bbox=None) -> list[tuple]:
    """One tile -> decoded feature rows (mercator coordinates)."""
    rows = []
    for feats in _tile_layers(z, x, y, tile, bbox=bbox):
        rows.extend(_wkt_rows(z, x, y, feats))
    return rows


def _scan(tiles: DataFrame, schema: str, columns: list[str], rows_of, keep=()) -> DataFrame:
    """mapInPandas scaffold of the walk-based scans: rows_of(z, x, y,
    tile, extras) -> output rows of one tile, where extras are the
    tile's values of the `keep` columns."""

    def kernel(iterator):
        for pdf in iterator:
            out = []
            for z, x, y, tile, *extras in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["tile"], *(pdf[c] for c in keep)
            ):
                out.extend(rows_of(int(z), int(x), int(y), tile, tuple(extras)))
            if out:
                yield pd.DataFrame(out, columns=columns)

    return tiles.select("z", "x", "y", "tile", *keep).mapInPandas(kernel, schema=schema)


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
    valid uncompressed tile messages, so the shared tile loop of
    decode_tiles / decode_tiles_packed / decode_tiles_gpack and the
    columnar kernel consume them unchanged (decompress passes raw pbf
    through). A chunk is a layer cut on feature-frame boundaries, so the
    one layer walk decodes it exactly as it decodes the whole layer.

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
                data = Z.decompress(bytes(tile))
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
    return _scan(
        tiles, DECODED_SCHEMA,
        ["z", "x", "y", "layer", "feature_id", "geom_type", "geom_wkt", "props", "raster"],
        lambda z, x, y, tile, _extras: decode_tile_rows(z, x, y, tile, bbox=bbox),
    )


PACKED_SCHEMA = (
    "z int, x long, y long, layer string, feature_id long, geom_type int, "
    "kind string, xs array<double>, ys array<double>, offsets array<long>, "
    "exterior array<boolean>, props map<string,string>, raster binary"
)


def iter_layer_packed(layer_bytes: bytes, bounds, bbox=None, typed: bool = False) -> list[tuple]:
    """One layer message -> (name, feature_id, geom_type, pk_dict, props,
    raster) tuples, where pk_dict is the packed ragged geometry
    {kind, xs, ys, offsets[, exterior]} or None (raster-only feature):
    the layer walk with empty/bbox-filtered geometry features without
    raster dropped, like the reference featureset's next() skip
    (src/vector_tile_featureset_pbf.ipp:113-180). typed as in
    _layer_features."""
    return _kept(_layer_features(layer_bytes, bounds, bbox=bbox, typed=typed))


def decode_tiles_packed(tiles: DataFrame, bbox=None) -> DataFrame:
    """Decode scan with RAGGED geometry output: flat xs/ys + part
    offsets per feature (Arrow list columns), never a per-part Python
    object or a WKT string. This is the scale form of S2/S3 — a feature
    with 168k line parts (the reference's multi_line bench tile) is
    three arrays here, and downstream Spark ops explode/aggregate the
    list columns JVM-side. `bbox` pushes a mercator query box INTO the
    geometry decoder (the reference's filter_at_point/bbox query,
    src/vector_tile_datasource_pbf.ipp:196-216)."""
    no_geom = (None,) * 5

    def rows_of(z, x, y, tile, _extras):
        return [
            (z, x, y, name, fid, gt,
             *(no_geom if pk is None else
               (pk["kind"], pk["xs"], pk["ys"], pk["offsets"], pk.get("exterior"))),
             props, raster)
            for feats in _tile_layers(z, x, y, tile, bbox=bbox)
            for name, fid, gt, pk, props, raster in _kept(feats)
        ]

    return _scan(
        tiles, PACKED_SCHEMA,
        ["z", "x", "y", "layer", "feature_id", "geom_type", "kind", "xs", "ys",
         "offsets", "exterior", "props", "raster"],
        rows_of,
    )


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
    out_cols = [
        "z", "x", "y", "layer", "feature_id", "geom_type",
        "_gpk", "env_minx", "env_miny", "env_maxx", "env_maxy", "props",
    ]
    if ordinals:
        out_cols += ["layer_idx", "feat_idx"]
    if typed:
        out_cols += ["ptype"]
    if with_raster:
        out_cols += ["raster"]
    out_cols += keep
    no_geom = (bytes([0]), (float("nan"),) * 4)

    def rows_of(z, x, y, tile, extras):
        out = []
        for li, feats in enumerate(_tile_layers(z, x, y, tile, bbox=bbox, typed=typed)):
            # the default scan drops raster-only features: nothing to re-tile
            kept = _kept(feats) if with_raster else [f for f in feats if f[3] is not None]
            for fi, (name, fid, gt, pk, props, raster) in enumerate(kept):
                gpk, env = no_geom if pk is None else G.gpack_from_packed(
                    pk["kind"], pk["xs"], pk["ys"], pk["offsets"], pk.get("exterior"),
                )
                rec = [z, x, y, name, fid, gt, gpk, env[0], env[1], env[2], env[3]]
                if typed:
                    rec.append({k: None if v is None else str(v) for k, v in props.items()})
                else:
                    rec.append(props)
                if ordinals:
                    rec += [li, fi]
                if typed:
                    rec.append({k: _vtag(v) for k, v in props.items()})
                if with_raster:
                    rec.append(raster)
                out.append((*rec, *extras))
        return out

    return _scan(tiles, schema, out_cols, rows_of, keep=keep)


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
    if kind == "point":
        parts, out_kind, ext = [np.atleast_2d(val)], "multipoint", None
    elif kind == "multipoint":
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

def _fallback_rows(z: int, x: int, y: int, layer_bytes: bytes, li: int) -> list[tuple]:
    """Columnar-kernel fallback: every feature of a layer the fast lane
    cannot take (layer `li` of its tile), as (z, x, y, layer, mx, my,
    props). Single-point features carry their exact decoded coordinates;
    every other feature carries NaN by design."""
    bounds = tilemath.tile_mercator_bbox_np(x, y, z)
    try:
        feats = _layer_features(layer_bytes, bounds)
    except Exception as exc:
        exc.add_note(_where(z, x, y, li))
        raise
    rows = []
    for name, _fid, _gt, pk, props, _raster in feats:
        mx = my = float("nan")
        if pk is not None and pk["kind"] == "multipoint" and len(pk["xs"]) == 1:
            mx, my = float(pk["xs"][0]), float(pk["ys"][0])
        rows.append((z, x, y, name, mx, my, props))
    return rows


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
    ~zlib only); non-uniform layers fall back to the generic walk."""
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
    c_expected = len(prop_keys)
    w = 11 + 2 * c_expected

    def kernel(iterator):
        for pdf in iterator:
            n_tiles = len(pdf)
            if n_tiles == 0:
                continue
            zs = pdf["z"].to_numpy()
            xs = pdf["x"].to_numpy()
            ys = pdf["y"].to_numpy()
            tiles_col = pdf["tile"].to_numpy()
            blob_tile: list[int] = []
            blob_li: list[int] = []
            blobs: list[bytes] = []
            fallback_rows: list[tuple] = []
            for t in range(n_tiles):
                tile = tiles_col[t]
                if not tile:
                    continue
                data = Z.decompress(bytes(tile))
                for li, layer_bytes in enumerate(pbf.decode_tile(data)):
                    blobs.append(layer_bytes)  # already a bytes slice
                    blob_tile.append(t)
                    blob_li.append(li)

            def fallback(i):  # layer i of the batch -> the strict lane
                t = blob_tile[i]
                fallback_rows.extend(_fallback_rows(
                    int(zs[t]), int(xs[t]), int(ys[t]), blobs[i], blob_li[i]))

            frames = []
            nlay = len(blobs)
            if nlay:
                # one vectorized header walk for the whole batch (the
                # per-layer Python walk was ~75% of worst-case decode);
                # a batch-global parse failure (hostile bytes) routes
                # every layer through the strict per-layer parser
                try:
                    meta = pbf.parse_layers_batch(blobs)
                except Exception:
                    meta = None
            if nlay and meta is None:
                for i in range(nlay):
                    fallback(i)
                nlay = 0
            if nlay:
                buf = meta["buf"]
                ltile = np.asarray(blob_tile, dtype=np.int64)

                key_counts = np.bincount(
                    meta["key_layer"], minlength=nlay
                ) if len(meta["key_layer"]) else np.zeros(nlay, dtype=np.int64)
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
                # varint count per candidate region: segmented terminator
                # sums via reduceat (a full-buffer cumsum was the batch's
                # single most expensive numpy op)
                nvals = np.empty(0, dtype=np.int64)
                if len(cand):
                    # one zero pad: a region ending exactly at the buffer
                    # end would otherwise be an out-of-bounds reduceat index
                    term = np.concatenate(
                        [((buf & 0x80) == 0).astype(np.int32), np.zeros(1, np.int32)]
                    )
                    bounds = np.stack(
                        [meta["feat_start"][cand], meta["feat_end"][cand]], axis=1
                    ).reshape(-1)
                    nvals = np.add.reduceat(term, bounds)[::2].astype(np.int64)
                    keep_c = nvals % w == 0
                    cand, nvals = cand[keep_c], nvals[keep_c]

                uniform = np.zeros(nlay, dtype=bool)
                uniform[cand] = True
                for i in np.flatnonzero(~uniform):
                    fallback(i)

            if nlay and len(cand):
                flen = meta["feat_end"][cand] - meta["feat_start"][cand]
                big, _offs = pbf.ragged_gather(
                    buf, meta["feat_start"][cand], flen, np.arange(len(cand))
                )
                # targeted-column decode: boundaries once, then only the
                # value-index + coord columns gather-decode; constants
                # and declared lengths verify per row (the full-stream
                # decode_varints_vec was ~8 whole-buffer passes)
                res = pbf.uniform_point_columns(big, c_expected)
                feat_counts = nvals // w
                rep = np.repeat(np.arange(len(cand)), feat_counts)
                if res is None:
                    # stream does not frame at all (hostile): per-layer
                    # strict fallback for every candidate layer
                    vidx_m = np.empty((0, c_expected), dtype=np.uint64)
                    zz_m = np.empty((0, 2), dtype=np.uint32)
                    row_ok = np.zeros(len(rep), dtype=bool)
                else:
                    vidx_m, zz_m, row_ok = res
                if not row_ok.all():
                    # exotic framing: fall back ONLY the offending layers
                    bad_meta = np.zeros(len(cand), dtype=bool)
                    np.logical_or.at(bad_meta, rep, ~row_ok)
                    for ci in np.flatnonzero(bad_meta):
                        fallback(cand[ci])
                    keep = ~bad_meta[rep]
                    if res is not None:
                        vidx_m, zz_m = vidx_m[keep], zz_m[keep]
                    rep = rep[keep]
                if len(rep):
                    tz = zs[ltile[cand]][rep]
                    tx = xs[ltile[cand]][rep]
                    ty = ys[ltile[cand]][rep]
                    names = meta["name"][cand][rep]
                    extents = meta["extent"][cand].astype(np.float64)[rep]
                    minx, miny, maxx, maxy = tilemath.tile_mercator_bbox_np(tx, ty, tz)
                    scale = extents / (maxx - minx)
                    px = Cmd.unzigzag32(zz_m[:, 0]).astype(np.float64)
                    py = Cmd.unzigzag32(zz_m[:, 1]).astype(np.float64)
                    mx = minx + px / scale
                    my = maxy - py / scale
                    # global value dictionary: concat per-layer dicts (flat
                    # from the batch parse), shift tag indices per layer
                    all_counts = np.bincount(
                        meta["val_layer"], minlength=nlay
                    ) if len(meta["val_layer"]) else np.zeros(nlay, dtype=np.int64)
                    gl_off = np.concatenate([[0], np.cumsum(all_counts)[:-1]])
                    vc = all_counts[cand]
                    local_off = np.concatenate([[0], np.cumsum(vc)[:-1]])
                    take = (
                        np.repeat(gl_off[cand], vc)
                        + np.arange(int(vc.sum()))
                        - np.repeat(local_off, vc)
                    )
                    all_vals = meta["values"][take]
                    shift = local_off[rep]
                    cols = {}
                    for j, k in enumerate(prop_keys):
                        idx = vidx_m[:, j].astype(np.int64) + shift
                        cols[k] = all_vals[idx] if len(all_vals) else np.array([], dtype=object)
                    frames.append(
                        pd.DataFrame(
                            {"z": tz.astype(np.int32), "x": tx, "y": ty,
                             "layer": names, "mx": mx, "my": my, **cols}
                        )
                    )
            if fallback_rows:
                fz, fx, fy, fname, fmx, fmy, fprops = zip(*fallback_rows)
                frames.append(
                    pd.DataFrame(
                        {
                            "z": fz, "x": fx, "y": fy, "layer": fname,
                            "mx": np.array(fmx, dtype=np.float64),
                            "my": np.array(fmy, dtype=np.float64),
                            **{k: [p.get(k) for p in fprops] for k in prop_keys},
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return kernel
