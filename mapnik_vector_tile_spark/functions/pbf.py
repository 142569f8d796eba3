"""Minimal protobuf wire format + the vector_tile.proto message layer.

Hand-rolled varint/field writer-reader (protozero's role) — enough to
emit and parse Tile/Layer/Feature/Value messages exactly as
proto/vector_tile.proto defines them:

    Tile:    layers = 3 (len-delimited)
    Layer:   version=15 (varint, required), name=1 (string),
             features=2 (msg), keys=3 (string), values=4 (msg),
             extent=5 (varint, default 4096)
    Feature: id=1 (varint), tags=2 (packed u32), type=3 (enum),
             geometry=4 (packed u32), raster=5 (bytes)
    Value:   one of string=1 float=2 double=3 int=4 uint=5 sint=6 bool=7

Value encoding rules are the reference's (src/vector_tile_layer.ipp:23-66):
int -> INT, bool -> BOOL, double -> FLOAT iff losslessly narrowable else
DOUBLE, str -> STRING, None -> dropped. Dictionary identity is
type-qualified (src/vector_tile_layer.hpp:54-69): int 1 != bool True.
"""

from __future__ import annotations

import struct

import numpy as np

WT_VARINT, WT_I64, WT_LEN, WT_I32 = 0, 1, 2, 5


# --- varint ------------------------------------------------------------------

def write_varint(buf: bytearray, v: int) -> None:
    v &= 0xFFFFFFFFFFFFFFFF
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def pack_varints(values) -> bytes:
    """Vectorized-ish packed varint encoding for uint32 arrays."""
    arr = np.asarray(values, dtype=np.uint64)
    buf = bytearray()
    for v in arr:
        write_varint(buf, int(v))
    return bytes(buf)


def read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    n = len(data)
    while True:
        if pos >= n:
            raise ValueError("truncated varint (buffer end mid-value)")
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


# --- field writers -----------------------------------------------------------

def tag(field: int, wire: int) -> int:
    return (field << 3) | wire


def add_varint_field(buf: bytearray, field: int, v: int) -> None:
    write_varint(buf, tag(field, WT_VARINT))
    write_varint(buf, v)


def add_len_field(buf: bytearray, field: int, payload: bytes) -> None:
    write_varint(buf, tag(field, WT_LEN))
    write_varint(buf, len(payload))
    buf.extend(payload)


def add_float_field(buf: bytearray, field: int, v: float) -> None:
    write_varint(buf, tag(field, WT_I32))
    buf.extend(struct.pack("<f", v))


def add_double_field(buf: bytearray, field: int, v: float) -> None:
    write_varint(buf, tag(field, WT_I64))
    buf.extend(struct.pack("<d", v))


# --- Value variant (K9) --------------------------------------------------------

def encode_value(v) -> bytes:
    """to_tile_value_pbf (vector_tile_layer.ipp:23-66)."""
    buf = bytearray()
    if isinstance(v, bool):  # check before int: bool is int in Python
        add_varint_field(buf, 7, 1 if v else 0)
    elif isinstance(v, (int, np.integer)):
        # mapnik value_integer -> INT (sint64 field uses zigzag? no:
        # Value.int_value field 4 is int64 (plain varint, two's complement)
        write_varint(buf, tag(4, WT_VARINT))
        write_varint(buf, int(v))
    elif isinstance(v, (float, np.floating)):
        fv = struct.unpack("<f", struct.pack("<f", float(v)))[0]
        if fv == float(v):
            add_float_field(buf, 2, float(v))
        else:
            add_double_field(buf, 3, float(v))
    elif isinstance(v, str):
        add_len_field(buf, 1, v.encode("utf-8"))
    elif v is None:
        pass  # nulls dropped (vector_tile_layer.ipp:90-91)
    else:
        raise TypeError(f"unsupported property type {type(v)}")
    return bytes(buf)


def value_type_tag(v) -> str:
    """Type-qualified dictionary identity (vector_tile_layer.hpp:36-69)."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        fv = struct.unpack("<f", struct.pack("<f", float(v)))[0]
        return "float" if fv == float(v) else "double"
    if isinstance(v, str):
        return "string"
    return "null"


def decode_value(data: bytes):
    pos = 0
    out = None
    while pos < len(data):
        t, pos = read_varint(data, pos)
        field, wire = t >> 3, t & 0x7
        if field == 1 and wire == WT_LEN:
            ln, pos = read_varint(data, pos)
            out = data[pos : pos + ln].decode("utf-8")
            pos += ln
        elif field == 2 and wire == WT_I32:
            out = float(struct.unpack_from("<f", data, pos)[0])
            pos += 4
        elif field == 3 and wire == WT_I64:
            out = float(struct.unpack_from("<d", data, pos)[0])
            pos += 8
        elif field in (4, 5) and wire == WT_VARINT:
            v, pos = read_varint(data, pos)
            if field == 4 and v >= 1 << 63:
                v -= 1 << 64  # int64 two's complement
            out = int(v)
        elif field == 6 and wire == WT_VARINT:
            v, pos = read_varint(data, pos)
            out = (v >> 1) ^ -(v & 1)  # sint64 zigzag
        elif field == 7 and wire == WT_VARINT:
            v, pos = read_varint(data, pos)
            out = bool(v)
        else:
            pos = skip_field(data, pos, wire)
    return out


def skip_field(data: bytes, pos: int, wire: int) -> int:
    if wire == WT_VARINT:
        _, pos = read_varint(data, pos)
    elif wire == WT_I64:
        pos += 8
    elif wire == WT_LEN:
        ln, pos = read_varint(data, pos)
        pos += ln
    elif wire == WT_I32:
        pos += 4
    else:
        raise ValueError(f"bad wire type {wire}")
    return pos


# --- Feature / Layer / Tile ----------------------------------------------------

def encode_feature(
    feature_id: int | None,
    tags: list[int],
    geom_type: int,
    geometry: list[int],
    raster: bytes | None = None,
) -> bytes:
    buf = bytearray()
    if feature_id is not None:
        add_varint_field(buf, 1, int(feature_id))
    if tags:
        add_len_field(buf, 2, pack_varints(tags))
    if geom_type:
        add_varint_field(buf, 3, int(geom_type))
    if geometry:
        add_len_field(buf, 4, pack_varints(geometry))
    if raster is not None:
        add_len_field(buf, 5, raster)
    return bytes(buf)


def encode_layer(
    name: str,
    features: list[bytes],
    keys: list[str],
    values: list[bytes],
    extent: int = 4096,
    version: int = 2,
) -> bytes:
    """Field order mirrors the builder: keys/values interleave before
    features in the reference's buffer, but protobuf readers are
    order-independent; we write name, keys, values, features, extent,
    version (tile_impl tests read semantically)."""
    buf = bytearray()
    add_len_field(buf, 1, name.encode("utf-8"))
    for k in keys:
        add_len_field(buf, 3, k.encode("utf-8"))
    for v in values:
        add_len_field(buf, 4, v)
    for f in features:
        add_len_field(buf, 2, f)
    add_varint_field(buf, 5, extent)
    add_varint_field(buf, 15, version)
    return bytes(buf)


def encode_tile(layers: list[bytes]) -> bytes:
    buf = bytearray()
    for layer in layers:
        add_len_field(buf, 3, layer)
    return bytes(buf)


def decode_tile(data: bytes) -> list[bytes]:
    # inline fast path for the dominant single-layer short-tile shape
    # (tag 0x1A + 1-2 byte length covering the whole remainder)
    n = len(data)
    if n > 2 and data[0] == 0x1A:
        b0 = data[1]
        if b0 < 0x80 and 2 + b0 == n:
            return [data[2:]]
        if b0 >= 0x80 and n > 3:
            ln = (b0 & 0x7F) | (data[2] << 7)
            if data[2] < 0x80 and 3 + ln == n:
                return [data[3:]]
    pos = 0
    layers = []
    while pos < n:
        t, pos = read_varint(data, pos)
        field, wire = t >> 3, t & 0x7
        if field == 3 and wire == WT_LEN:
            ln, pos = read_varint(data, pos)
            layers.append(data[pos : pos + ln])
            pos += ln
        else:
            pos = skip_field(data, pos, wire)
    return layers


def decode_layer(data: bytes) -> dict:
    """Single-pass layer parse (tile_datasource_pbf ctor semantics,
    src/vector_tile_datasource_pbf.ipp:35-170): name, version, extent,
    keys, values, raw feature messages."""
    pos = 0
    n_data = len(data)
    out = {
        "name": None, "version": 1, "extent": 4096, "keys": [], "values": [],
        "features": [], "has_extent": False,
    }
    while pos < n_data:
        if data[pos] == 0x12:
            pos = feature_run(data, pos, out["features"])
            continue
        t, pos = read_varint(data, pos)
        field, wire = t >> 3, t & 0x7
        if field == 1 and wire == WT_LEN:
            ln, pos = read_varint(data, pos)
            out["name"] = data[pos : pos + ln].decode("utf-8")
            pos += ln
        elif field == 15 and wire == WT_VARINT:
            out["version"], pos = read_varint(data, pos)
        elif field == 5 and wire == WT_VARINT:
            out["extent"], pos = read_varint(data, pos)
            out["has_extent"] = True
        elif field == 3 and wire == WT_LEN:
            ln, pos = read_varint(data, pos)
            out["keys"].append(data[pos : pos + ln].decode("utf-8"))
            pos += ln
        elif field == 4 and wire == WT_LEN:
            ln, pos = read_varint(data, pos)
            out["values"].append(decode_value(data[pos : pos + ln]))
            pos += ln
        elif field == 2 and wire == WT_LEN:  # a Feature with a long tag
            ln, pos = read_varint(data, pos)
            out["features"].append(data[pos : pos + ln])
            pos += ln
        else:
            pos = skip_field(data, pos, wire)
    if out["name"] is None:
        raise ValueError("layer missing required name (v2 check)")
    return out


def feature_run(data: bytes, pos: int, out: list) -> int:
    """Append the payloads of the run of Feature frames (tag 0x12) that
    starts at `pos` to `out`; returns the position after the run (the
    first non-Feature frame, or the end). decode_layer's Feature walk,
    and the batch decode's walk of a layer's feature suffix. A frame cut
    by the layer's end keeps what is left of it, as in decode_layer."""
    n = len(data)
    append = out.append
    while pos < n and data[pos] == 0x12:
        # 1-2 byte lengths inline: a dense layer is thousands of frames
        # and the generic read_varint call costs more than the slicing
        b0 = data[pos + 1] if pos + 1 < n else 0x80
        if b0 < 0x80:
            ln, pos = b0, pos + 2
        else:
            b1 = data[pos + 2] if pos + 2 < n else 0x80
            if b1 < 0x80:
                ln, pos = (b0 & 0x7F) | (b1 << 7), pos + 3
            else:
                ln, pos = read_varint(data, pos + 1)
        append(data[pos : pos + ln])
        pos += ln
    return pos


def decode_feature(data: bytes) -> dict:
    """Strict scalar Feature parse (the test reference of
    decode_features_batch). A geometry field of >= 128 bytes decodes in
    one decode_varints_vec pass and comes back as a uint64 ndarray (the
    reference's bench tiles carry ~1.3 MB of geometry varints in a
    handful of features, where a per-varint loop costs seconds);
    shorter ones stay a list. Callers test len(), not truthiness."""
    pos = 0
    out = {"id": 0, "tags": [], "type": 0, "geometry": [], "raster": None}
    while pos < len(data):
        t, pos = read_varint(data, pos)
        field, wire = t >> 3, t & 0x7
        if field == 1 and wire == WT_VARINT:
            out["id"], pos = read_varint(data, pos)
        elif field == 2 and wire == WT_LEN:
            ln, pos = read_varint(data, pos)
            end = pos + ln
            tags = []
            while pos < end:
                v, pos = read_varint(data, pos)
                tags.append(v)
            out["tags"] = tags
        elif field == 3 and wire == WT_VARINT:
            out["type"], pos = read_varint(data, pos)
        elif field == 4 and wire == WT_LEN:
            ln, pos = read_varint(data, pos)
            if ln >= 128:
                if pos + ln > len(data):
                    raise ValueError("truncated geometry field")
                out["geometry"] = decode_varints_vec(data[pos : pos + ln])
                pos += ln
                continue
            end = pos + ln
            geom = []
            while pos < end:
                v, pos = read_varint(data, pos)
                geom.append(v)
            out["geometry"] = geom
        elif field == 5 and wire == WT_LEN:
            ln, pos = read_varint(data, pos)
            out["raster"] = data[pos : pos + ln]
            pos += ln
        else:
            pos = skip_field(data, pos, wire)
    return out


def decode_features_batch(feature_msgs: list[bytes]):
    """Batch feature-message parse: the field walk of EVERY feature runs
    as a masked vectorized cursor (a feature has <=6 frames, so the walk
    is ~6 read_varints_at steps however many features there are), and
    all geometry/tags payloads decode through ONE decode_varints_vec
    pass each. The per-feature Python message walk (decode_feature, the
    strict reference) costs more than the actual geometry decode on
    dense small-feature tiles — this removes it.

    Returns one dict of flat arrays — no per-feature objects: ids,
    types, the global geometry and tag value arrays with their
    per-feature offsets (geom_off / tag_off), raster spans into buf, and
    ok. A feature whose wire shape defeats the lockstep walk (repeated
    fields, unknown tags, >12 frames, a payload that ends mid-varint)
    is declined alone: ok=False, no geometry, tags or raster, and the
    caller parses it with decode_feature. Callers pair it with
    commands.decode_geometry_vec_batch_global, which walks the global
    geometry array directly via geom_off (the frontier walk for short
    streams, the periodic-run walk for long ones)."""
    n = len(feature_msgs)
    lens = np.fromiter((len(m) for m in feature_msgs), dtype=np.int64, count=n)
    ends = np.cumsum(lens)
    starts = ends - lens
    buf = np.frombuffer(b"".join(feature_msgs), dtype=np.uint8)

    ids = np.zeros(n, dtype=np.int64)
    types = np.zeros(n, dtype=np.int64)
    geom_s = np.full(n, -1, dtype=np.int64)
    geom_l = np.zeros(n, dtype=np.int64)
    tags_s = np.full(n, -1, dtype=np.int64)
    tags_l = np.zeros(n, dtype=np.int64)
    rast_s = np.full(n, -1, dtype=np.int64)
    rast_l = np.zeros(n, dtype=np.int64)
    ok = np.ones(n, dtype=bool)

    pos = starts.copy()
    active = np.flatnonzero(lens > 0)
    for _step in range(12):
        if len(active) == 0:
            break
        p = pos[active]
        tags_v, tl = read_varints_at(buf, p)
        field = (tags_v >> np.uint64(3)).astype(np.int64)
        wire = (tags_v & np.uint64(7)).astype(np.int64)
        vv, vl = read_varints_at(buf, p + tl)
        is_var = wire == WT_VARINT
        is_len = wire == WT_LEN
        payload_s = p + tl + vl
        nxt = np.where(is_len, payload_s + vv.astype(np.int64), payload_s)
        f1 = is_var & (field == 1)
        f3 = is_var & (field == 3)
        f2 = is_len & (field == 2)
        f4 = is_len & (field == 4)
        f5 = is_len & (field == 5)
        bad = (
            (tl == 0) | (vl == 0) | ~(f1 | f3 | f2 | f4 | f5)
            | (nxt > ends[active]) | (nxt < payload_s)
            # repeated fields defeat the lockstep walk
            | (f2 & (tags_s[active] >= 0)) | (f4 & (geom_s[active] >= 0))
        )
        if bad.any():
            ok[active[bad]] = False
            good = ~bad
            active, vv, payload_s, nxt = active[good], vv[good], payload_s[good], nxt[good]
            f1, f2, f3, f4, f5 = f1[good], f2[good], f3[good], f4[good], f5[good]
        ids[active[f1]] = vv[f1].astype(np.int64)
        types[active[f3]] = vv[f3].astype(np.int64)
        tags_s[active[f2]] = payload_s[f2]
        tags_l[active[f2]] = vv[f2].astype(np.int64)
        geom_s[active[f4]] = payload_s[f4]
        geom_l[active[f4]] = vv[f4].astype(np.int64)
        rast_s[active[f5]] = payload_s[f5]
        rast_l[active[f5]] = vv[f5].astype(np.int64)
        pos[active] = nxt
        active = active[nxt < ends[active]]
    ok[active] = False  # >12 frames

    def _ragged_varints(s_arr, l_arr):
        """regions -> (global uint64 values, per-feature value counts).
        A region that ends mid-varint or holds a varint past 10 bytes
        declines its feature."""
        while True:
            lens_r = np.where(ok & (s_arr >= 0), l_arr, 0)
            region_ends = np.cumsum(lens_r)
            gathered = ragged_gather(buf, np.maximum(s_arr, 0), lens_r, np.arange(n))[0]
            is_end = gathered < 0x80
            cut = np.zeros(n, dtype=bool)
            has = lens_r > 0
            cut[has] = ~is_end[region_ends[has] - 1]
            end_pos = np.flatnonzero(is_end)
            long = end_pos[np.diff(end_pos, prepend=-1) > 10]
            if len(long):
                cut[np.searchsorted(region_ends, long, side="right")] = True
            if not cut.any():
                break
            ok[cut] = False
        # values per region = count of varint-terminator bytes in it
        cum = np.concatenate([[0], np.cumsum(is_end)])
        return decode_varints_vec(gathered), cum[region_ends] - cum[region_ends - lens_r]

    # tags first: a feature the geometry pass declines keeps no geometry
    tag_vals, tag_counts = _ragged_varints(tags_s, tags_l)
    geom_vals, geom_counts = _ragged_varints(geom_s, geom_l)
    rast_s[~ok] = -1
    return {
        "ok": ok,
        "ids": ids,
        "types": types,
        "geom_vals": geom_vals,
        "geom_off": np.concatenate([[0], np.cumsum(geom_counts)]),
        "tag_vals": tag_vals.astype(np.int64),
        "tag_off": np.concatenate([[0], np.cumsum(tag_counts)]),
        "rast_s": rast_s,
        "rast_l": rast_l,
        "buf": buf,
    }


# --- vectorized packing (hot path for point layers) ---------------------------

def varint_matrix(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint64 array -> ((N,W) uint8 matrix, (N,) byte lengths), with W
    sized to the batch maximum (varints are <=2 bytes for tile deltas —
    no point carrying (N,10)).

    Row-major flatten of matrix[i, :lengths[i]] is the varint encoding.
    """
    a = np.asarray(vals, dtype=np.uint64)
    m = int(a.max()) if len(a) else 0
    width = 1
    while m >= (1 << (7 * width)):
        width += 1
    shifts = (np.uint64(7) * np.arange(width, dtype=np.uint64))[None, :]
    chunks = ((a[:, None] >> shifts) & np.uint64(0x7F)).astype(np.uint8)
    lengths = np.ones(len(a), dtype=np.int64)
    for t in range(1, width):
        lengths += (a >= (np.uint64(1) << np.uint64(7 * t))).astype(np.int64)
    cont_mask = np.arange(width)[None, :] < (lengths - 1)[:, None]
    chunks |= cont_mask.astype(np.uint8) << 7
    return chunks, lengths


def _flatten_segments(segments: list[tuple[np.ndarray, np.ndarray]]) -> bytes:
    """segments: [(matrix (N,k), lengths (N,)), ...] laid out per row in
    order -> packed bytes (row-major, masked flatten)."""
    mats = []
    masks = []
    for mat, lens in segments:
        mats.append(mat)
        masks.append(np.arange(mat.shape[1])[None, :] < lens[:, None])
    big = np.concatenate(mats, axis=1)
    mask = np.concatenate(masks, axis=1)
    return big[mask].tobytes()


def const_segment(n: int, *byte_vals: int) -> tuple[np.ndarray, np.ndarray]:
    k = len(byte_vals)
    mat = np.tile(np.array(byte_vals, dtype=np.uint8), (n, 1))
    return mat, np.full(n, k, dtype=np.int64)


def encode_point_features_packed(
    tags: np.ndarray,
    zz: np.ndarray,
    feature_ids: np.ndarray | None = None,
    return_lengths: bool = False,
):
    """All point features of a layer in one numpy pass, each framed as a
    Layer.features (field 2) submessage.

    tags: (N, 2c) int64, no negatives (fixed schema, no nulls)
    zz:   (N, 2) uint32 zigzag deltas of the single MoveTo
    """
    n = len(tags)
    if n == 0:
        return b""
    segs_data: list[tuple[np.ndarray, np.ndarray]] = []

    # geometry varints: 9, zzx, zzy
    gx_m, gx_l = varint_matrix(zz[:, 0].astype(np.uint64))
    gy_m, gy_l = varint_matrix(zz[:, 1].astype(np.uint64))
    geom_len = 1 + gx_l + gy_l  # the '9' + deltas
    glen_m, glen_l = varint_matrix(geom_len.astype(np.uint64))

    # tags varints
    tag_mats = []
    tag_lens = np.zeros(n, dtype=np.int64)
    for j in range(tags.shape[1]):
        m, l = varint_matrix(tags[:, j].astype(np.uint64))
        tag_mats.append((m, l))
        tag_lens += l
    tlen_m, tlen_l = varint_matrix(tag_lens.astype(np.uint64))

    if feature_ids is not None:
        fid_m, fid_l = varint_matrix(np.asarray(feature_ids, dtype=np.uint64))
        id_total = 1 + fid_l
    else:
        id_total = np.zeros(n, dtype=np.int64)

    # feature message length = id + tags + type(2) + geometry framing
    feat_len = (
        id_total
        + 1 + tlen_l + tag_lens       # 0x12, len, tags
        + 2                            # 0x18 0x01
        + 1 + glen_l + geom_len        # 0x22, len, geometry
    )
    flen_m, flen_l = varint_matrix(feat_len.astype(np.uint64))

    # layer field-2 frame: 0x12, feat_len varint
    segs_data.append(const_segment(n, 0x12))
    segs_data.append((flen_m, flen_l))
    if feature_ids is not None:
        segs_data.append(const_segment(n, 0x08))
        segs_data.append((fid_m, fid_l))
    segs_data.append(const_segment(n, 0x12))
    segs_data.append((tlen_m, tlen_l))
    for m, l in tag_mats:
        segs_data.append((m, l))
    segs_data.append(const_segment(n, 0x18, 0x01))
    segs_data.append(const_segment(n, 0x22))
    segs_data.append((glen_m, glen_l))
    segs_data.append(const_segment(n, 0x09))
    segs_data.append((gx_m, gx_l))
    segs_data.append((gy_m, gy_l))
    blob = _flatten_segments(segs_data)
    if return_lengths:
        return blob, (1 + flen_l + feat_len)
    return blob


def varints_bytes(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint64 array -> (flat uint8 byte stream, per-value byte lengths)."""
    m, l = varint_matrix(np.asarray(vals, dtype=np.uint64))
    mask = np.arange(m.shape[1])[None, :] < l[:, None]
    return m[mask], l


def _segment_sums(per_item: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Sum per_item over consecutive segments of the given lengths."""
    c = np.concatenate([[0], np.cumsum(per_item)])
    ends = np.cumsum(counts)
    starts = ends - counts
    return c[ends] - c[starts]


def encode_features_packed_ragged(
    gtypes: np.ndarray,
    cmds_flat: np.ndarray,
    cmd_counts: np.ndarray,
    tags_flat: np.ndarray,
    tag_counts: np.ndarray,
    feature_ids: np.ndarray | None = None,
    return_lengths: bool = False,
):
    """Arbitrary-geometry feature framing in one numpy pass (the general
    sibling of encode_point_features_packed — closes the r1 VERDICT
    finding that lines/polygons went through per-feature Python).

    gtypes (N,), cmds_flat = concatenated uint32 command streams with
    per-feature cmd_counts, tags_flat/tag_counts likewise. Returns the
    features blob with Layer.features (field 2) framing included.
    """
    n = len(gtypes)
    if n == 0:
        return (b"", np.empty(0, dtype=np.int64)) if return_lengths else b""
    gb, gl = varints_bytes(cmds_flat)
    geom_len = _segment_sums(gl, cmd_counts)
    tb, tl = varints_bytes(tags_flat.astype(np.uint64))
    tags_len = _segment_sums(tl, tag_counts)

    glen_m, glen_l = varint_matrix(geom_len.astype(np.uint64))
    tlen_m, tlen_l = varint_matrix(tags_len.astype(np.uint64))
    if feature_ids is not None:
        fid_m, fid_l = varint_matrix(np.asarray(feature_ids, dtype=np.uint64))
        id_total = 1 + fid_l
    else:
        id_total = np.zeros(n, dtype=np.int64)

    feat_len = (
        id_total
        + 1 + tlen_l + tags_len      # 0x12, len, tags
        + 2                           # 0x18, type
        + 1 + glen_l + geom_len       # 0x22, len, geometry
    )
    flen_m, flen_l = varint_matrix(feat_len.astype(np.uint64))

    # header 1: [0x12 flen (0x08 id) 0x12 tlen]  — then tag bytes
    segs1: list[tuple[np.ndarray, np.ndarray]] = [
        const_segment(n, 0x12), (flen_m, flen_l),
    ]
    if feature_ids is not None:
        segs1.append(const_segment(n, 0x08))
        segs1.append((fid_m, fid_l))
    segs1.append(const_segment(n, 0x12))
    segs1.append((tlen_m, tlen_l))
    h1 = np.frombuffer(_flatten_segments(segs1), dtype=np.uint8)
    h1_len = 2 + flen_l + tlen_l + id_total

    # header 2: [0x18 gtype 0x22 glen] — then geometry bytes
    gt_m = np.asarray(gtypes, dtype=np.uint8)[:, None]
    segs2 = [
        const_segment(n, 0x18),
        (gt_m, np.ones(n, dtype=np.int64)),
        const_segment(n, 0x22),
        (glen_m, glen_l),
    ]
    h2 = np.frombuffer(_flatten_segments(segs2), dtype=np.uint8)
    h2_len = 3 + glen_l

    total_len = h1_len + tags_len + h2_len + geom_len
    out_end = np.cumsum(total_len)
    out_start = out_end - total_len
    out = np.empty(int(out_end[-1]), dtype=np.uint8)

    def scatter(blob: np.ndarray, seg_len: np.ndarray, dst_start: np.ndarray):
        if len(blob) == 0:
            return
        src_start = np.concatenate([[0], np.cumsum(seg_len)[:-1]])
        pos = np.arange(len(blob), dtype=np.int64)
        out[pos + np.repeat(dst_start - src_start, seg_len)] = blob

    scatter(h1, h1_len, out_start)
    scatter(tb, tags_len, out_start + h1_len)
    scatter(h2, h2_len, out_start + h1_len + tags_len)
    scatter(gb, geom_len, out_start + h1_len + tags_len + h2_len)
    if return_lengths:
        return out.tobytes(), total_len
    return out.tobytes()


def encode_layer_packed(
    name: str,
    features_blob: bytes,
    keys: list[str],
    values: list[bytes],
    extent: int = 4096,
    version: int = 2,
) -> bytes:
    """Layer whose features are already framed (field-2 headers included)
    by encode_point_features_packed."""
    buf = bytearray()
    add_len_field(buf, 1, name.encode("utf-8"))
    for k in keys:
        add_len_field(buf, 3, k.encode("utf-8"))
    for v in values:
        add_len_field(buf, 4, v)
    # extent/version precede features so the features region is a pure
    # suffix -> the vectorized decoder needs no per-feature frame walk
    add_varint_field(buf, 5, extent)
    add_varint_field(buf, 15, version)
    buf.extend(features_blob)
    return bytes(buf)


def ragged_gather(buf: np.ndarray, offs: np.ndarray, lens: np.ndarray, order: np.ndarray):
    """Gather variable-length byte segments in `order` into one buffer.
    Returns (out uint8 array, segment offsets incl. end)."""
    lens_o = lens[order]
    offs_o = offs[order]
    ends = np.cumsum(lens_o)
    total = int(ends[-1]) if len(ends) else 0
    starts = ends - lens_o
    if total == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(len(order) + 1, dtype=np.int64)
    pos = np.arange(total, dtype=np.int64) + np.repeat(offs_o - starts, lens_o)
    return buf[pos], np.concatenate([[0], ends])


def encode_string_value_fields(strings) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized Layer.values fields for string values.

    Per value: 0x22 <varint inner_len> 0x0A <varint str_len> <utf8>.
    Returns (buf uint8, offsets, lengths) — one segment per input string.
    Uses pyarrow's string buffer layout to avoid per-string Python.
    """
    import pyarrow as pa

    arr = pa.array(strings, type=pa.string())
    if arr.null_count:
        raise ValueError("nulls not allowed here")
    bufs = arr.buffers()
    soff = np.frombuffer(bufs[1], dtype=np.int32)[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    payload = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    slen = np.diff(soff)
    sl_m, sl_l = varint_matrix(slen.astype(np.uint64))
    inner_len = 1 + sl_l + slen  # 0x0A + len varint + utf8
    il_m, il_l = varint_matrix(inner_len.astype(np.uint64))
    head_segs = [
        const_segment(len(slen), 0x22),
        (il_m, il_l),
        const_segment(len(slen), 0x0A),
        (sl_m, sl_l),
    ]
    header = np.frombuffer(_flatten_segments(head_segs), dtype=np.uint8)
    hlen = 2 + il_l + sl_l
    hoff = np.concatenate([[0], np.cumsum(hlen)[:-1]])
    total_len = hlen + slen
    out_end = np.cumsum(total_len)
    out_start = out_end - total_len
    out = np.empty(int(out_end[-1]) if len(out_end) else 0, dtype=np.uint8)
    # scatter headers (single-repeat base-shift trick)
    hstart = np.concatenate([[0], np.cumsum(hlen)[:-1]])
    out[np.arange(int(np.sum(hlen)), dtype=np.int64) + np.repeat(out_start - hstart, hlen)] = header
    # scatter payloads
    if len(payload):
        pstart = np.concatenate([[0], np.cumsum(slen)[:-1]])
        ppos = np.arange(int(np.sum(slen)), dtype=np.int64)
        out[ppos + np.repeat(out_start + hlen - pstart, slen)] = payload[
            ppos + np.repeat(soff[:-1] - pstart, slen)
        ]
    return out, out_start.astype(np.int64), total_len.astype(np.int64)


# value of a k-byte varint = 28-bit window & ((1 << 7k) - 1)
_VARINT_MASK_LUT = np.array(
    [0, 0x7F, 0x3FFF, 0x1FFFFF, 0x0FFFFFFF], dtype=np.uint32
)


def decode_varints_vec(data: bytes, return_lengths: bool = False):
    """Decode a pure varint stream to uint64 values, fully vectorized
    (<= 10 masked passes over byte positions — no per-value Python).
    Raises ValueError if the buffer ends mid-varint.
    With return_lengths, also returns the per-value encoded byte length
    (used by the columnar decoder to verify declared frame lengths).
    Accepts bytes or a uint8 ndarray."""
    buf = data if isinstance(data, np.ndarray) else np.frombuffer(data, dtype=np.uint8)
    if len(buf) == 0:
        empty = np.empty(0, dtype=np.uint64)
        return (empty, np.empty(0, dtype=np.int64)) if return_lengths else empty
    cont = (buf & 0x80) != 0
    if cont[-1]:
        raise ValueError("truncated varint stream")
    end_pos = np.flatnonzero(~cont)
    starts = np.concatenate([[0], end_pos[:-1] + 1])
    lengths = end_pos - starts + 1
    max_len = int(lengths.max())
    if max_len > 10:
        raise ValueError("varint too long")
    if max_len <= 4:
        # fast lane (the overwhelmingly common <=28-bit case): build
        # arr[i] = 28-bit little-endian-7 window starting at byte i with
        # max_len-1 shift-or passes, gather at starts, then mask each
        # value down to its true length via a 5-entry LUT gather — no
        # np.where pass, half the memory traffic of the generic lane.
        payload = (buf & 0x7F).astype(np.uint32)
        arr = payload.copy()
        tmp = np.empty(len(payload), dtype=np.uint32)
        for m in range(1, max_len):
            t = tmp[: len(payload) - m]
            np.left_shift(payload[m:], np.uint32(7 * m), out=t)
            np.bitwise_or(arr[:-m], t, out=arr[:-m])
        vals32 = arr[starts]
        vals32 &= _VARINT_MASK_LUT[lengths]
        vals = vals32.astype(np.uint64)
        if return_lengths:
            return vals, lengths.astype(np.int64)
        return vals
    payload = (buf & 0x7F).astype(np.uint64)
    acc = payload
    sh = np.empty_like(payload)
    seven = np.uint64(7)
    for _ in range(max_len - 1):
        sh[:-1] = acc[1:]
        sh[-1] = 0
        acc = np.where(cont, payload | (sh << seven), payload)
    vals = acc[starts].astype(np.uint64)
    if return_lengths:
        return vals, lengths.astype(np.int64)
    return vals


# ---------------------------------------------------------------------------
# hot-layer span split (J3/S2 scale path): feature messages are
# independently framed after the layer header, so a monolithic layer can
# be cut on frame boundaries into standalone mini-layers that decode in
# parallel tasks (r4 verdict: one 300k-feature tile = one task = the
# decode wall floor). Each chunk repeats the layer header (name/version/
# extent/keys/values) so every existing decode path accepts it verbatim.
# ---------------------------------------------------------------------------

def feature_frame_breaks(region: bytes, target: int) -> list[int]:
    """Byte offsets (first 0, last len(region)) cutting a contiguous run
    of Feature frames (tag 0x12) into ~target-byte chunks on frame
    boundaries. Walks ONLY the frame lengths — payload bytes are never
    touched. Raises ValueError if the run is not all Feature frames."""
    breaks = [0]
    pos = 0
    n = len(region)
    nxt = target
    while pos < n:
        if region[pos] != 0x12 or pos + 1 >= n:
            raise ValueError("not a Feature frame at offset %d" % pos)
        b0 = region[pos + 1]
        if b0 < 0x80:
            pos = pos + 2 + b0
        else:
            b1 = region[pos + 2]
            if b1 < 0x80:
                pos = pos + 3 + ((b0 & 0x7F) | (b1 << 7))
            else:
                b2 = region[pos + 3]
                if b2 < 0x80:
                    pos = pos + 4 + ((b0 & 0x7F) | ((b1 & 0x7F) << 7) | (b2 << 14))
                else:
                    ln, p2 = read_varint(region, pos + 1)
                    pos = p2 + ln
        if pos >= nxt:
            breaks.append(min(pos, n))
            nxt = pos + target
    if pos != n:
        raise ValueError("Feature frame overruns the region end")
    if breaks[-1] != n:
        breaks.append(n)
    return breaks


def split_layer_chunks(layer_bytes: bytes, chunk_bytes: int) -> list[bytes]:
    """One layer message -> >=1 standalone layer messages, each carrying
    the full header (every non-Feature field, order preserved) plus a
    ~chunk_bytes slice of its Feature frames. Decoding the chunks
    independently yields exactly the rows of the original layer (feature
    order preserved across the chunk sequence)."""
    data = bytes(layer_bytes)
    n = len(data)
    pos = 0
    header = bytearray()
    runs: list[tuple[int, int]] = []  # contiguous Feature-frame spans
    while pos < n:
        start = pos
        if data[pos] == 0x12:  # tag(2, WT_LEN) — a Feature frame
            b0 = data[pos + 1] if pos + 1 < n else 0x80
            if b0 < 0x80:
                pos = pos + 2 + b0
            else:
                ln, p2 = read_varint(data, pos + 1)
                pos = p2 + ln
            if runs and runs[-1][1] == start:
                runs[-1] = (runs[-1][0], pos)
            else:
                runs.append((start, pos))
            continue
        t, pos = read_varint(data, pos)
        wire = t & 0x7
        if wire == WT_LEN:
            ln, pos = read_varint(data, pos)
            pos += ln
        else:
            pos = skip_field(data, pos, wire)
        header += data[start:pos]
    if not runs:
        return [data]
    hdr = bytes(header)
    if len(runs) == 1:
        region = data[runs[0][0] : runs[0][1]]
    else:  # exotic interleaving: coalesce once, then cut
        region = b"".join(data[a:b] for a, b in runs)
    # the header (incl. any key/value dictionaries) repeats per chunk:
    # for dictionary-heavy foreign layers, grow the chunk target so the
    # repeated header stays <= ~25% of each chunk (bounds total output
    # at ~1.33x the input instead of header_count x)
    target = max(chunk_bytes, 4 * len(hdr))
    breaks = feature_frame_breaks(region, target)
    if len(breaks) <= 2:
        return [data]
    return [hdr + region[a:b] for a, b in zip(breaks, breaks[1:])]


# ---------------------------------------------------------------------------
# batched layer-header parse: the per-tile Python frame walk was ~75% of the
# worst-case decode cost (r1 VERDICT: 2.1x off the reference's 481k feats/s
# per core, bench/readme.md:24-30). This walks the headers of a WHOLE batch
# of layers with masked numpy cursors — cost per step is O(active layers),
# and steps = max frame count, not sum. A layer still walking after the
# step budget (a dense layer's long value run) finishes on
# layer_header_hop; a layer with an unknown field drops out to the caller's
# strict decode_layer lane.
# ---------------------------------------------------------------------------

def read_varints_at(buf: np.ndarray, pos: np.ndarray):
    """Vectorized varint reads at arbitrary byte positions.
    Returns (values uint64, byte lengths int64). Positions past the
    buffer end yield value 0 / length 0 (caller treats as malformed)."""
    n = len(pos)
    vals = np.zeros(n, dtype=np.uint64)
    lens = np.zeros(n, dtype=np.int64)
    more = pos < len(buf)
    shift = np.uint64(0)
    p = pos.copy()
    for _ in range(10):
        if not more.any():
            break
        b = buf[p[more]].astype(np.uint64)
        vals[more] |= (b & np.uint64(0x7F)) << shift
        lens[more] += 1
        cont = np.zeros(n, dtype=bool)
        cont[more] = (b & np.uint64(0x80)) != 0
        p[more] += 1
        more = cont & (p < len(buf))
        # a continuation bit that runs off the buffer = malformed
        lens[cont & (p >= len(buf))] = 0
        shift += np.uint64(7)
    # a continuation bit still set after 10 bytes = malformed (>64-bit
    # varint); mirror the buffer-overrun handling so callers fall back to
    # the strict per-layer parser instead of a misaligned walk
    lens[more] = 0
    return vals, lens


def decode_varints_known(buf: np.ndarray, pos: np.ndarray, ln: np.ndarray):
    """Decode varints at ``pos`` whose byte lengths ``ln`` are already
    known (terminator-mask boundary parsing hands them out for free):
    length-class masked gathers, no continuation scanning — each extra
    byte class touches only the values that actually have one.
    Returns (values uint64, ok bool); lengths > 10 (not a valid 64-bit
    varint) decode to 0 with ok=False."""
    n = len(pos)
    if n == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=bool)
    maxl = int(ln.max())
    if maxl <= 4:  # fits uint32 intermediates: half the memory traffic
        v = (buf[pos] & np.uint8(0x7F)).astype(np.uint32)
        for k in range(1, maxl):
            mk = ln > k
            v[mk] |= (buf[pos[mk] + k].astype(np.uint32) & np.uint32(0x7F)) << np.uint32(7 * k)
        return v.astype(np.uint64), np.ones(n, dtype=bool)
    ok = ln <= 10
    v = np.where(ok, buf[pos] & np.uint8(0x7F), 0).astype(np.uint64)
    for k in range(1, min(maxl, 10)):
        mk = (ln > k) & ok
        v[mk] |= (buf[pos[mk] + k].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * k)
    return v, ok


def uniform_point_columns(data, c: int):
    """Targeted decode of an exactly-uniform packed point-frame stream
    (the layout encode_point_features_packed writes): per feature

        [0x12 flen 0x12 tlen (key value)*c 0x18 0x01 0x22 glen 0x09 zzx zzy]

    i.e. w = 11 + 2c varints. The split/decode hot loops are memory
    bound, and ~two-thirds of that stream is constant bytes — so instead
    of decoding all w columns (decode_varints_vec over the whole region,
    ~8 full-buffer passes), this finds varint boundaries once from the
    continuation mask and decodes ONLY the columns consumers need, with
    position-gather reads (read_varints_at): the three declared lengths
    for verification, the c value indices, and the two zigzag coords.
    The remaining 6 + c columns are verified as constant single bytes by
    direct gather (a byte < 0x80 at a varint start IS that single-byte
    varint, so equality alone pins both value and length), and every
    declared length is checked against varint-boundary arithmetic — the
    verification is exactly _packed_rows_ok's, column for column.

    Returns (vidx (n,c) uint64, zz (n,2) uint32, row_ok (n,) bool) or
    None when the stream does not even frame as n*w varints (the
    columnar kernel then sends its layers to the strict decode_layer
    lane, the hot-tile split to pbf.split_layer_chunks). row_ok flags
    rows whose constant bytes or declared lengths fail — callers keep
    their per-layer fallback semantics for concatenated multi-layer
    regions."""
    buf = data if isinstance(data, np.ndarray) else np.frombuffer(data, dtype=np.uint8)
    if len(buf) == 0 or c < 0 or c > 127:
        return None
    if buf[-1] & 0x80:
        return None  # ends mid-varint
    end_pos = np.flatnonzero(buf < 0x80)  # one fused pass, one bool temp
    w = 11 + 2 * c
    nv = len(end_pos)
    if nv == 0 or nv % w:
        return None
    n = nv // w
    # everything below derives from STRIDED VIEWS of end_pos — the full
    # per-varint starts/lengths arrays (2 x 8 bytes x nv) were the
    # dominant memory traffic at 10M-feature scale
    em = end_pos.reshape(n, w)  # view — no copy

    def col_start(k):
        if k == 0:
            s = np.empty(n, dtype=np.int64)
            s[0] = 0
            s[1:] = em[:-1, w - 1] + 1
            return s
        return em[:, k - 1] + 1

    row_ok = np.ones(n, dtype=bool)
    for k, v in (
        (0, 0x12), (2, 0x12), (4 + 2 * c, 0x18), (5 + 2 * c, 0x01),
        (6 + 2 * c, 0x22), (8 + 2 * c, 0x09),
    ):
        row_ok &= buf[col_start(k)] == v
    for j in range(c):
        row_ok &= buf[col_start(4 + 2 * j)] == j
    frame_end = em[:, w - 1] + 1

    def col(k):
        # >10-byte varints decode to 0 with ok=False (where
        # decode_varints_vec raised for the whole region) — folded
        # into row_ok so hostile frames still fall back per row
        s = col_start(k)
        return decode_varints_known(buf, s, em[:, k] - s + 1)

    flen, ok1 = col(1)
    tlen, ok3 = col(3)
    glen, ok7 = col(7 + 2 * c)
    row_ok &= ok1 & ok3 & ok7
    row_ok &= flen.astype(np.int64) == frame_end - (em[:, 1] + 1)
    row_ok &= tlen.astype(np.int64) == em[:, 3 + 2 * c] - em[:, 3]
    row_ok &= glen.astype(np.int64) == frame_end - (em[:, 7 + 2 * c] + 1)
    vidx = np.empty((n, c), dtype=np.uint64)
    for j in range(c):
        v, okj = col(5 + 2 * j)
        vidx[:, j] = v
        row_ok &= okj
    zz = np.empty((n, 2), dtype=np.uint32)
    for i, k in enumerate((9 + 2 * c, 10 + 2 * c)):
        v, okk = col(k)
        zz[:, i] = v.astype(np.uint32)
        row_ok &= okk
    return vidx, zz, row_ok


def layer_header_hop(data: bytes, pos: int = 0):
    """Scalar hop over one layer message's header frames, from byte
    `pos` up to the first Feature frame: decode_layer's walk with the
    payloads left unread (callers read every frame's span afterwards in
    one vectorized pass, read_varints_at at frame start + 1). A run of
    Value frames — the bulk of a dense header — costs two byte reads
    per frame.

    Returns (name, keys, values, extent, version, feat): the start of
    the last name frame (-1: none), the key and value frame starts, the
    extent and version declared before the features (-1: not declared)
    and the first Feature frame's start (-1: no feature). Returns None
    on any frame outside this engine's layer fields (an unknown field,
    a multi-byte tag, a varint past 63 bits) and on a frame that runs
    past the layer's end — the caller then takes the strict lane."""
    n = len(data)
    name = extent = version = feat = -1
    keys: list[int] = []
    vals: list[int] = []
    append_v = vals.append
    try:
        while pos < n:
            b = data[pos]
            if b == 0x22:  # Value frames: hop the whole run
                while True:
                    append_v(pos)
                    b0 = data[pos + 1]
                    if b0 < 0x80:
                        pos += 2 + b0
                    else:
                        b1 = data[pos + 2]
                        if b1 < 0x80:
                            pos += 3 + ((b0 & 0x7F) | (b1 << 7))
                        else:
                            ln, p = read_varint(data, pos + 1)
                            pos = p + ln
                    if pos >= n or data[pos] != 0x22:
                        break
            elif b == 0x28 or b == 0x78:  # extent / version
                v, pos = read_varint(data, pos + 1)
                if v >> 63:
                    return None
                if b == 0x28:
                    extent = v
                else:
                    version = v
            elif b == 0x0A or b == 0x12 or b == 0x1A:  # name / feature / key
                ln, p = read_varint(data, pos + 1)
                if p + ln > n:
                    return None
                if b == 0x12:
                    feat = pos
                    break
                if b == 0x0A:
                    name = pos
                else:
                    keys.append(pos)
                pos = p + ln
            else:
                return None
    except (IndexError, ValueError):  # a varint cut by the layer's end
        return None
    if pos > n:
        return None
    return name, keys, vals, extent, version, feat


def parse_layers_batch(layer_blobs: list[bytes]) -> dict:
    """Header walk over many layer messages at once.

    Expects this engine's layout (name, keys, values, extent, version —
    then Feature frames as a pure suffix). The masked walk takes every
    layer's first 96 header frames in lockstep; a layer still walking
    after that finishes on layer_header_hop, and the spans of the frames
    it found are read in one vectorized pass. Any layer that deviates
    (unknown field, overrun, extent/version not declared before the
    features) is flagged ``ok=False`` and the caller parses it with
    decode_layer.

    Returns flat arrays:
      ok (bool per layer), name (object per layer), version, extent,
      key_layer/keys (flat, layer-ordered), val_layer/values (flat),
      feat_start/feat_end (byte offsets into ``buf``), buf (uint8).
    """
    n = len(layer_blobs)
    blob_lens = np.fromiter((len(b) for b in layer_blobs), dtype=np.int64, count=n)
    ends = np.cumsum(blob_lens)
    starts = ends - blob_lens
    buf = np.frombuffer(b"".join(layer_blobs), dtype=np.uint8)

    pos = starts.copy()
    ok = np.ones(n, dtype=bool)
    feat_start = np.full(n, -1, dtype=np.int64)
    version = np.ones(n, dtype=np.int64)
    extent = np.full(n, 4096, dtype=np.int64)
    seen_ext = np.zeros(n, dtype=bool)
    seen_ver = np.zeros(n, dtype=bool)
    name_s = np.full(n, -1, dtype=np.int64)
    name_l = np.zeros(n, dtype=np.int64)
    rec_layer: list[np.ndarray] = []   # len-framed field records
    rec_field: list[np.ndarray] = []
    rec_ps: list[np.ndarray] = []
    rec_pl: list[np.ndarray] = []

    active_idx = np.arange(n)
    # long-tail escape: the masked walk costs O(active) per FRAME step,
    # so a single huge layer (e.g. a monolithic hot tile with 10^5 value
    # frames) would dominate; after max_steps the stragglers finish on
    # the scalar hop below
    max_steps = 96
    for _step in range(max_steps):
        if len(active_idx) == 0:
            break
        p = pos[active_idx]
        tags, tl = read_varints_at(buf, p)
        bad = tl == 0
        field = (tags >> np.uint64(3)).astype(np.int64)
        wire = (tags & np.uint64(7)).astype(np.int64)
        is_len = (wire == WT_LEN) & ~bad
        is_var = (wire == WT_VARINT) & ~bad
        bad |= ~is_len & ~is_var  # fixed32/64 never appear in our layers

        ln = np.zeros(len(p), dtype=np.int64)
        ll = np.zeros(len(p), dtype=np.int64)
        if is_len.any():
            lv, lls = read_varints_at(buf, p[is_len] + tl[is_len])
            ln[is_len] = lv.astype(np.int64)
            ll[is_len] = lls
            bad[is_len] |= lls == 0
        vv = np.zeros(len(p), dtype=np.int64)
        if is_var.any():
            vvs, vls = read_varints_at(buf, p[is_var] + tl[is_var])
            vv[is_var] = vvs.astype(np.int64)
            ll[is_var] = vls
            bad[is_var] |= vls == 0

        nxt = p + tl + ll + np.where(is_len, ln, 0)
        bad |= nxt > ends[active_idx]

        # classify
        feat = is_len & (field == 2) & ~bad
        name_f = is_len & (field == 1) & ~bad
        key_f = is_len & (field == 3) & ~bad
        val_f = is_len & (field == 4) & ~bad
        ext_f = is_var & (field == 5) & ~bad
        ver_f = is_var & (field == 15) & ~bad
        bad |= ~(feat | name_f | key_f | val_f | ext_f | ver_f)

        li = active_idx
        if name_f.any():
            name_s[li[name_f]] = p[name_f] + tl[name_f] + ll[name_f]
            name_l[li[name_f]] = ln[name_f]
        if ext_f.any():
            extent[li[ext_f]] = vv[ext_f]
            seen_ext[li[ext_f]] = True
        if ver_f.any():
            version[li[ver_f]] = vv[ver_f]
            seen_ver[li[ver_f]] = True
        kv = key_f | val_f
        if kv.any():
            rec_layer.append(li[kv])
            rec_field.append(np.where(key_f[kv], 3, 4))
            rec_ps.append(p[kv] + tl[kv] + ll[kv])
            rec_pl.append(ln[kv])
        if feat.any():
            # features are the layer suffix in this engine's layout; the
            # packed-framing verifier downstream proves (or refutes) it
            feat_start[li[feat]] = p[feat]
        if bad.any():
            ok[li[bad]] = False

        pos[active_idx] = nxt
        keep = ~bad & ~feat & (nxt < ends[active_idx])
        active_idx = active_idx[keep]

    hop_parts: list[tuple[int, int, np.ndarray]] = []  # (layer, field, starts)
    for i in active_idx.tolist():
        s0 = int(starts[i])
        hop = layer_header_hop(layer_blobs[i], int(pos[i]) - s0)
        if hop is None:
            ok[i] = False
            continue
        nm, ks, vs, ext, ver, feat = hop
        if ext >= 0:
            extent[i], seen_ext[i] = ext, True
        if ver >= 0:
            version[i], seen_ver[i] = ver, True
        if feat >= 0:
            feat_start[i] = s0 + feat
        for f, fs in ((1, [nm] if nm >= 0 else ()), (3, ks), (4, vs)):
            if len(fs):
                hop_parts.append((i, f, s0 + np.asarray(fs, dtype=np.int64)))
    if hop_parts:
        h_start = np.concatenate([a for _i, _f, a in hop_parts])
        h_layer = np.concatenate([np.full(len(a), i) for i, _f, a in hop_parts])
        h_field = np.concatenate([np.full(len(a), f) for _i, f, a in hop_parts])
        h_len, h_ll = read_varints_at(buf, h_start + 1)
        h_ps = h_start + 1 + h_ll
        h_pl = h_len.astype(np.int64)
        nm_m = h_field == 1  # one name per layer at most: the last one
        name_s[h_layer[nm_m]] = h_ps[nm_m]
        name_l[h_layer[nm_m]] = h_pl[nm_m]
        kv = ~nm_m
        rec_layer.append(h_layer[kv])
        rec_field.append(h_field[kv])
        rec_ps.append(h_ps[kv])
        rec_pl.append(h_pl[kv])

    ok &= name_s >= 0
    # a walk that stopped at the first Feature frame never saw anything
    # written AFTER the features (the generic layout puts extent/version
    # there) — trust the early stop only when both were declared first,
    # like this engine's packed writer does; anything else falls back
    ok &= (feat_start < 0) | (seen_ext & seen_ver)

    # bulk utf8: gather payload bytes once, split via pyarrow offsets
    import pyarrow as pa  # noqa: F811 — kept local-name for clarity

    def _strings(ps: np.ndarray, pl: np.ndarray, owner: np.ndarray):
        if len(ps) == 0:
            return np.empty(0, dtype=object)
        gathered, offs = ragged_gather(buf, ps, pl, np.arange(len(ps)))
        raw = gathered.tobytes()
        arr = pa.StringArray.from_buffers(
            len(ps), pa.py_buffer(offs.astype(np.int32).tobytes()), pa.py_buffer(raw)
        )
        try:
            return arr.to_numpy(zero_copy_only=False)
        except pa.ArrowException:
            # invalid UTF-8 somewhere: reject only the layers that own a
            # bad string (the strict parser raises the error for them)
            out = np.full(len(ps), None, dtype=object)
            for i, (a, b) in enumerate(zip(offs[:-1].tolist(), offs[1:].tolist())):
                try:
                    out[i] = raw[a:b].decode("utf-8")
                except UnicodeDecodeError:
                    ok[owner[i]] = False
            return out

    name_vals = np.full(n, None, dtype=object)
    has_name = np.flatnonzero(name_s >= 0)
    name_vals[has_name] = _strings(name_s[has_name], name_l[has_name], has_name)

    if rec_layer:
        r_layer = np.concatenate(rec_layer)
        r_field = np.concatenate(rec_field)
        r_ps = np.concatenate(rec_ps)
        r_pl = np.concatenate(rec_pl)
        order = np.lexsort((r_ps, r_layer))
        r_layer, r_field, r_ps, r_pl = (
            r_layer[order], r_field[order], r_ps[order], r_pl[order]
        )
    else:
        r_layer = r_field = r_ps = r_pl = np.empty(0, dtype=np.int64)

    keys_m = r_field == 3
    key_layer, key_ps, key_pl = r_layer[keys_m], r_ps[keys_m], r_pl[keys_m]
    keys = _strings(key_ps, key_pl, key_layer)

    vals_m = r_field == 4
    val_layer, val_ps, val_pl = r_layer[vals_m], r_ps[vals_m], r_pl[vals_m]
    # Value message fast path: string values [0x0A slen utf8]
    values = np.full(len(val_ps), None, dtype=object)
    if len(val_ps):
        first = np.where(val_pl > 0, buf[np.minimum(val_ps, len(buf) - 1)], 0)
        slen, sll = read_varints_at(buf, val_ps + 1)
        is_str = (
            (first == 0x0A)
            & (sll > 0)
            & (1 + sll + slen.astype(np.int64) == val_pl)
        )
        values[is_str] = _strings(
            (val_ps + 1 + sll)[is_str], slen.astype(np.int64)[is_str], val_layer[is_str]
        )
        slow = np.flatnonzero(~is_str)
        raw = buf.tobytes() if len(slow) else b""
        for i in slow:
            try:
                values[i] = decode_value(raw[val_ps[i] : val_ps[i] + val_pl[i]])
            except Exception:
                # corrupt Value payload: reject the OWNING layer (it
                # falls back to the strict parser) instead of failing
                # the whole batch
                ok[val_layer[i]] = False

    return {
        "ok": ok,
        "name": name_vals,
        "version": version,
        "extent": extent,
        "key_layer": key_layer,
        "keys": keys,
        "val_layer": val_layer,
        "values": values,
        "feat_start": feat_start,
        "feat_end": ends,
        "layer_start": starts,
        "buf": buf,
    }
