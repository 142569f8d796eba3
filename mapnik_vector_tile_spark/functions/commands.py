"""Vector-tile geometry command streams (K5/K6/K7/K8).

Encode: src/vector_tile_geometry_encoder_pbf.ipp — MoveTo(1)/LineTo(2)/
ClosePath(7), (len<<3)|cmd headers, zigzag int32 deltas, consecutive
repeated points skipped, ring closing dup dropped, degenerate parts
(line <2 pts after dedup, ring <3) rejected with per-part rollback.

Decode: src/vector_tile_geometry_decoder.ipp — stateful cursor with the
full v1-lenient / v2-strict error matrix, zero-delta LineTo skipping,
ring winding classification (first ring defines exterior orientation,
v2 rejects CW first ring), negative-scale ring reversal. Two decoders:
the scalar cursor `decode_geometry` (the error matrix and the test
reference) and the vectorized `decode_geometry_vec_batch_global` (plus
its list entry). The vectorized decoder takes the canonical streams of
a whole Arrow batch of tiles in one call, each feature with its own
layer's version and tile transform (scalars or per-feature arrays), and
declines everything else to the cursor.
"""

from __future__ import annotations

import math

import numpy as np

MOVE_TO, LINE_TO, CLOSE = 1, 2, 7
POINT, LINESTRING, POLYGON = 1, 2, 3


def zigzag32(d: np.ndarray) -> np.ndarray:
    d = np.asarray(d, dtype=np.int64).astype(np.int32)
    return ((d.astype(np.int64) << 1) ^ (d >> 31)).astype(np.uint32)


def unzigzag32(u: np.ndarray) -> np.ndarray:
    u = np.asarray(u, dtype=np.uint32)
    return ((u >> 1).astype(np.int32)) ^ (-(u & 1).astype(np.int32))


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------

def _zz32(d: int) -> int:
    """Exact int32-wrap zigzag for scalar paths."""
    d &= 0xFFFFFFFF
    if d >= 0x80000000:
        d -= 0x100000000
    return ((d << 1) ^ (d >> 31)) & 0xFFFFFFFF


def _emit_path(pts: np.ndarray, cursor: list[int], out: list[int], is_ring: bool) -> bool:
    """encode_linestring / encode_linearring
    (vector_tile_geometry_encoder_pbf.ipp:73-179)."""
    pts = np.asarray(pts, dtype=np.int64)
    n = len(pts)
    if n <= 12:  # fully-scalar small path: tiny tile features dominate
        rows = pts.tolist()
        kx, ky = [], []
        for x, y in rows:
            if not kx or x != kx[-1] or y != ky[-1]:
                kx.append(x)
                ky.append(y)
        if is_ring and len(kx) > 1 and kx[0] == kx[-1] and ky[0] == ky[-1]:
            kx.pop()
            ky.pop()
        if (is_ring and len(kx) < 3) or (not is_ring and len(kx) < 2) or not kx:
            return False
        out.append(9)  # MoveTo | 1<<3
        out.append(_zz32(kx[0] - cursor[0]))
        out.append(_zz32(ky[0] - cursor[1]))
        out.append(((len(kx) - 1) << 3) | LINE_TO)
        for i in range(1, len(kx)):
            out.append(_zz32(kx[i] - kx[i - 1]))
            out.append(_zz32(ky[i] - ky[i - 1]))
        if is_ring:
            out.append(15)  # ClosePath | 1<<3
        cursor[0], cursor[1] = kx[-1], ky[-1]
        return True
    # One canonicalization shared with the scalar path above: dedup
    # consecutive points FIRST, then strip a closing point equal to the
    # start. (The reference's encode_linearring declares line_to_length
    # from size-minus-repeats but can still emit an extra pair when the
    # closing vertex is doubled — a header/payload mismatch we do not
    # reproduce; we compare at decoded-semantic level.)
    keep = np.ones(n, dtype=bool)
    keep[1:] = (pts[1:] != pts[:-1]).any(axis=1)
    b = pts[keep]
    if is_ring and len(b) > 1 and b[0, 0] == b[-1, 0] and b[0, 1] == b[-1, 1]:
        b = b[:-1]
    if (is_ring and len(b) < 3) or (not is_ring and len(b) < 2):
        return False
    line_to_len = len(b) - 1
    d0 = b[0] - np.asarray(cursor, dtype=np.int64)
    zz = zigzag32(np.concatenate([d0[None, :], np.diff(b, axis=0)], axis=0))
    out.append(9)  # MoveTo | 1<<3
    out.append(int(zz[0, 0]))
    out.append(int(zz[0, 1]))
    out.append((line_to_len << 3) | LINE_TO)
    out.extend(zz[1:].reshape(-1).tolist())
    if is_ring:
        out.append(15)  # ClosePath | 1<<3
    cursor[0], cursor[1] = int(b[-1, 0]), int(b[-1, 1])
    return True


def encode_geometry(geom, cursor: list[int] | None = None):
    """-> (geom_type, [uint32 commands]) or (None, []) on failure.

    cursor carries (start_x, start_y) across features of a layer, like
    the encoder's int32& start_x/start_y threading."""
    if cursor is None:
        cursor = [0, 0]
    kind, val = geom
    out: list[int] = []
    if kind == "empty":
        return None, []
    if kind == "geometrycollection":
        # parity with encoder_visitor (vector_tile_geometry_encoder_pbf.ipp:62-65)
        raise ValueError(
            "Geometry collections can not be encoded as they may contain "
            "different geometry types"
        )
    if kind == "point":
        pts = np.asarray(val, dtype=np.int64).reshape(1, 2)
        out.append(9)
        out.append(int(zigzag32(np.array(pts[0, 0] - cursor[0]))))
        out.append(int(zigzag32(np.array(pts[0, 1] - cursor[1]))))
        cursor[0], cursor[1] = int(pts[0, 0]), int(pts[0, 1])
        return POINT, out
    if kind == "multipoint":
        pts = np.asarray(val, dtype=np.int64)
        if len(pts) == 0:
            return None, []
        out.append((len(pts) << 3) | MOVE_TO)
        seq = np.concatenate([np.asarray(cursor, dtype=np.int64)[None, :], pts], axis=0)
        out.extend(zigzag32(np.diff(seq, axis=0)).reshape(-1).tolist())
        cursor[0], cursor[1] = int(pts[-1, 0]), int(pts[-1, 1])
        return POINT, out
    if kind == "linestring":
        ok = _emit_path(val, cursor, out, is_ring=False)
        return (LINESTRING, out) if ok else (None, [])
    if kind == "multilinestring":
        any_ok = False
        for line in val:
            saved = list(out)
            saved_cur = list(cursor)
            if _emit_path(line, cursor, out, is_ring=False):
                any_ok = True
            else:  # rollback (geometry_feature.hpp:46-68 analogue)
                out[:] = saved
                cursor[0], cursor[1] = saved_cur
        return (LINESTRING, out) if any_ok else (None, [])
    if kind == "polygon":
        # first ring must encode, others best-effort (encoder_pbf.ipp:156-179)
        if not val:
            return None, []
        if not _emit_path(val[0], cursor, out, is_ring=True):
            return None, []
        for ring in val[1:]:
            saved = list(out)
            saved_cur = list(cursor)
            if not _emit_path(ring, cursor, out, is_ring=True):
                out[:] = saved
                cursor[0], cursor[1] = saved_cur
        return POLYGON, out
    if kind == "multipolygon":
        any_ok = False
        for poly in val:
            if not poly:
                continue
            saved = list(out)
            saved_cur = list(cursor)
            if _emit_path(poly[0], cursor, out, is_ring=True):
                any_ok = True
                for ring in poly[1:]:
                    saved2 = list(out)
                    saved_cur2 = list(cursor)
                    if not _emit_path(ring, cursor, out, is_ring=True):
                        out[:] = saved2
                        cursor[0], cursor[1] = saved_cur2
            else:
                out[:] = saved
                cursor[0], cursor[1] = saved_cur
        return (POLYGON, out) if any_ok else (None, [])
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# Decode — cursor (GeometryPBF, decoder.ipp:570-788)
# ---------------------------------------------------------------------------

class DecodeError(RuntimeError):
    pass


class _Cursor:
    __slots__ = ("g", "i", "n", "x", "y", "ox", "oy", "length", "cmd")

    def __init__(self, commands):
        self.g = [int(c) & 0xFFFFFFFF for c in commands]
        self.i = 0
        self.n = len(self.g)
        self.x = self.y = self.ox = self.oy = 0
        self.length = 0
        self.cmd = MOVE_TO

    def _take_delta(self):
        if self.i + 1 >= self.n + 1 and self.i >= self.n:
            raise DecodeError("end of buffer exception")
        try:
            # pure-int zigzag (uint32 domain): numpy scalar ufuncs cost
            # ~8 us/value, which dominated dense small-feature tiles
            u = self.g[self.i] & 0xFFFFFFFF
            v = self.g[self.i + 1] & 0xFFFFFFFF
        except IndexError as exc:
            raise DecodeError("end of buffer exception") from exc
        self.i += 2
        return (u >> 1) ^ -(u & 1), (v >> 1) ^ -(v & 1)

    def point_next(self):
        if self.length == 0:
            if self.i < self.n:
                cl = self.g[self.i]
                self.i += 1
                self.cmd = cl & 0x7
                self.length = cl >> 3
                if self.cmd == MOVE_TO:
                    if self.length == 0:
                        raise DecodeError(
                            "POINT geometry with a MOVETO command count of zero"
                        )
                elif self.cmd == LINE_TO:
                    raise DecodeError("POINT geometry with a LINETO command")
                elif self.cmd == CLOSE:
                    raise DecodeError("POINT geometry with a CLOSE command")
                else:
                    raise DecodeError("POINT geometry with an unknown command")
            else:
                return "end", 0, 0
        self.length -= 1
        dx, dy = self._take_delta()
        self.x += dx
        self.y += dy
        return "move_to", self.x, self.y

    def line_next(self, skip_zero):
        if self.length == 0:
            if self.i < self.n:
                cl = self.g[self.i]
                self.i += 1
                self.cmd = cl & 0x7
                self.length = cl >> 3
                if self.cmd == MOVE_TO:
                    if self.length != 1:
                        raise DecodeError("LINESTRING MOVETO with bad parameter count")
                    self.length -= 1
                    dx, dy = self._take_delta()
                    self.x += dx
                    self.y += dy
                    return "move_to", self.x, self.y
                elif self.cmd == LINE_TO:
                    if self.length == 0:
                        raise DecodeError("LINETO with no parameters")
                elif self.cmd == CLOSE:
                    raise DecodeError("LINESTRING geometry with a CLOSE command")
                else:
                    raise DecodeError("LINESTRING geometry with an unknown command")
            else:
                return "end", 0, 0
        self.length -= 1
        dx, dy = self._take_delta()
        if skip_zero and dx == 0 and dy == 0:
            return self.line_next(True)
        self.x += dx
        self.y += dy
        return "line_to", self.x, self.y

    def ring_next(self, skip_zero):
        if self.length == 0:
            if self.i < self.n:
                cl = self.g[self.i]
                self.i += 1
                self.cmd = cl & 0x7
                self.length = cl >> 3
                if self.cmd == MOVE_TO:
                    if self.length != 1:
                        raise DecodeError("POLYGON MOVETO with bad parameter count")
                    self.length -= 1
                    dx, dy = self._take_delta()
                    self.x += dx
                    self.y += dy
                    self.ox, self.oy = self.x, self.y
                    return "move_to", self.x, self.y
                elif self.cmd == LINE_TO:
                    if self.length == 0:
                        raise DecodeError("LINETO with no parameters")
                elif self.cmd == CLOSE:
                    self.length = 0
                    return "close", self.ox, self.oy
                else:
                    raise DecodeError("POLYGON geometry with an unknown command")
            else:
                return "end", 0, 0
        self.length -= 1
        dx, dy = self._take_delta()
        if skip_zero and dx == 0 and dy == 0:
            return self.ring_next(True)
        self.x += dx
        self.y += dy
        return "line_to", self.x, self.y


def _scale_pt(x, y, tile_x, tile_y, scale_x, scale_y):
    return tile_x + x / scale_x, tile_y + y / scale_y


_scale_pt_active = None  # set per decode_geometry call


def _scale_pt_int(x, y, tile_x, tile_y, scale_x, scale_y):
    """int64 decode specialization (decoder.ipp:49-56): per-coordinate
    std::round of val/scale, added to the integer tile origin."""
    def r(v):
        return math.floor(abs(v) + 0.5) * (1 if v >= 0 else -1)

    return tile_x + r(x / scale_x), tile_y + r(y / scale_y)


# decode assembly (decoder.ipp:74-566)

def decode_geometry(
    commands,
    geom_type: int,
    version: int = 2,
    tile_x: float = 0.0,
    tile_y: float = 0.0,
    scale_x: float = 1.0,
    scale_y: float = 1.0,
    bbox=None,
    value_type: str = "double",
):
    """-> geometry in decoded space (("kind", arrays)); raises DecodeError
    per the v1/v2 matrix. bbox (minx,miny,maxx,maxy) filters parts like
    the decoder's part-level envelope check. value_type="int64" applies
    the integer decode rounding (get_point_value<int64>, decoder.ipp:49-56)."""
    global _scale_pt_active
    _scale_pt_active = _scale_pt_int if value_type == "int64" else _scale_pt
    cur = _Cursor(commands)
    if geom_type == POINT:
        return _decode_point(cur, tile_x, tile_y, scale_x, scale_y, bbox)
    if geom_type == LINESTRING:
        return _decode_linestring(cur, tile_x, tile_y, scale_x, scale_y, bbox, version)
    if geom_type == POLYGON:
        return _decode_polygon(cur, tile_x, tile_y, scale_x, scale_y, bbox, version)
    return ("empty", None)  # UNKNOWN ignored (decoder.ipp:826-833)


# Streams shorter than this many varints take the frontier header walk;
# longer ones the periodic-run walk. Both fill the same block table.
_FRONTIER_MAX = 512

EMPTY = ("empty", None)


def decode_geometry_vec_batch(geoms: list, gtypes, **kw):
    """List entry of the vectorized decoder: the command streams are
    concatenated and decoded as one global array by
    decode_geometry_vec_batch_global (same keywords, same output)."""
    if not len(geoms):
        return []
    off = np.zeros(len(geoms) + 1, dtype=np.int64)
    np.cumsum([len(g) for g in geoms], out=off[1:])
    vals = np.concatenate([np.asarray(g, dtype=np.uint64) for g in geoms],
                          dtype=np.uint32, casting="unsafe")
    return decode_geometry_vec_batch_global(vals, off, gtypes, **kw)


def decode_geometry_vec_batch_global(
    geom_vals,
    geom_off,
    gtypes,
    version: int = 2,
    tile_x: float = 0.0,
    tile_y: float = 0.0,
    scale_x: float = 1.0,
    scale_y: float = 1.0,
    bbox=None,
):
    """Vectorized decode of a batch of geometries for CANONICAL command
    streams — the shapes every conformant encoder emits (POINT: MoveTo
    blocks only; LINESTRING: [MoveTo(1), LineTo(k>=1)+]*; POLYGON:
    [MoveTo(1), LineTo(k>=2)+, Close]*). Feature fi's stream is
    geom_vals[geom_off[fi]:geom_off[fi+1]] (as pbf.decode_features_batch
    returns it).

    A header walk turns the streams into one block table (command,
    count, value start, feature) — the frontier walk for short streams,
    the periodic-run walk for long ones — and _batch_decode_core then
    runs the per-point work (unzigzag, segmented cursor cumsum, scaling,
    shoelace) once over every feature. A z14 buildings tile (6,800
    four-vertex polygons) pays ~9 array ops for its whole header walk;
    the reference's multi_line bench feature (168k (MoveTo(1),
    LineTo(1)) pairs) pays a handful of strided compares.

    version, tile_x, tile_y, scale_x and scale_y are scalars or
    per-feature ndarrays (each feature with its own layer's transform).

    Returns one entry per feature: the packed dict {kind, xs, ys,
    offsets[, exterior]} (kind multipoint / multilinestring /
    multipolygon; arrays are views into per-batch arrays), EMPTY when
    nothing survives (degenerate parts, bbox), or None to DECLINE — any
    structural deviation, v2 degeneracy, v2 clockwise first ring or
    coordinate overflow. Declined features go to decode_geometry's
    per-point state machine, which owns the exact v1/v2 error matrix.
    Raises nothing itself."""
    geom_off = np.asarray(geom_off, dtype=np.int64)
    n_feats = len(geom_off) - 1
    out: list = [None] * n_feats
    if n_feats <= 0 or len(geom_vals) == 0:
        return out
    gtypes = np.asarray(gtypes, dtype=np.int64)
    G_all = np.asarray(geom_vals)
    if G_all.dtype != np.uint32:  # the scalar cursor's & 0xFFFFFFFF
        G_all = np.asarray(geom_vals, dtype=np.uint64).astype(np.uint32)
    # one transform for every feature (a one-layer batch) stays scalar
    version, tile_x, tile_y, scale_x, scale_y = (
        a[0] if isinstance(a, np.ndarray) and len(a) and (a == a[0]).all() else a
        for a in (version, tile_x, tile_y, scale_x, scale_y)
    )
    mlen = np.diff(geom_off)
    feat_ok = (mlen > 0) & ((gtypes == POINT) | (gtypes == LINESTRING) | (gtypes == POLYGON))
    short = feat_ok & (mlen < _FRONTIER_MAX)
    tables = [_frontier_walk(G_all, geom_off, np.flatnonzero(short), feat_ok)]
    for fi in np.flatnonzero(feat_ok & ~short).tolist():
        t = _periodic_walk(G_all, int(geom_off[fi]), int(geom_off[fi + 1]))
        if t is None:
            feat_ok[fi] = False
        else:
            tables.append((*t, np.full(len(t[0]), fi, dtype=np.int64)))
    table = tables[0]
    if len(tables) > 1:
        table = [np.concatenate(c) for c in zip(*tables)]
        if len(tables[0][0]):  # restore feature-major order
            order = np.argsort(table[3], kind="stable")
            table = [c[order] for c in table]
    if len(table[0]):
        _batch_decode_core(out, G_all, mlen, *table, feat_ok, gtypes, version,
                           tile_x, tile_y, scale_x, scale_y, bbox)
    return out


def _at(a, idx):
    """A scalar-or-per-feature argument at feature indices idx."""
    return a[idx] if isinstance(a, np.ndarray) else a


def _frontier_walk(G, geom_off, feats, feat_ok):
    """Header walk over many short streams at once: one
    read-classify-advance numpy step per block DEPTH (a buildings tile
    has depth 3 — MoveTo/LineTo/Close). Clears feat_ok for malformed
    streams and returns their survivors' block table (cmds, cnts,
    vstarts, bfeat), feature-major."""
    p = geom_off[:-1].copy()
    ends = geom_off[1:]
    active = feats
    parts = []
    while len(active):
        h = G[p[active]].astype(np.int64)
        c = h & 7
        k = h >> 3
        is_mtlt = (c == MOVE_TO) | (c == LINE_TO)
        is_cl = c == CLOSE
        nxt = p[active] + np.where(is_mtlt, 1 + 2 * k, 1)
        bad = ~(is_mtlt | is_cl) | (is_mtlt & (k == 0)) | (nxt > ends[active])
        if bad.any():
            feat_ok[active[bad]] = False
            good = ~bad
            active, c, k, nxt, is_cl = active[good], c[good], k[good], nxt[good], is_cl[good]
        parts.append((c, np.where(is_cl, 0, k), p[active] + 1, active))
        p[active] = nxt
        active = active[nxt < ends[active]]
    if not parts:
        return tuple(np.zeros(0, dtype=np.int64) for _ in range(4))
    cmds, cnts, vstarts, bfeat = (np.concatenate(c) for c in zip(*parts))
    # drop blocks of streams that went bad after contributing blocks;
    # the stable sort keeps each stream's blocks in stream order
    keep = np.flatnonzero(feat_ok[bfeat])
    order = keep[np.argsort(bfeat[keep], kind="stable")]
    return cmds[order], cnts[order], vstarts[order], bfeat[order]


def _periodic_walk(G, lo: int, hi: int):
    """Header walk over ONE long stream G[lo:hi]: Python per unique
    block shape, vectorized over periodic runs (real tiles repeat one
    header pattern, so the walk closes whole runs with one strided
    compare). -> (cmds, cnts, vstarts) or None for a malformed stream."""
    g = G[lo:hi]
    n = hi - lo
    seg_cmd: list[np.ndarray] = []
    seg_cnt: list[np.ndarray] = []
    seg_vst: list[np.ndarray] = []
    p = 0
    while p < n:
        # probe up to 3 consecutive headers from p
        probe = []  # (pos, header, cmd, count, next_pos)
        q = p
        for _ in range(3):
            if q >= n:
                break
            h = int(g[q])
            c = h & 7
            k = h >> 3
            if c == MOVE_TO or c == LINE_TO:
                if k == 0:
                    return None
                nq = q + 1 + 2 * k
            elif c == CLOSE:
                k = 0
                nq = q + 1
            else:
                return None
            if nq > n:
                return None
            probe.append((q, h, c, k, nq))
            q = nq
        run = None
        for L in (1, 2, 3):
            if len(probe) < L:
                break
            period = probe[L - 1][4] - p
            max_r = (n - p) // period
            if max_r < 8:
                continue
            reps = max_r
            for j in range(L):
                lane = g[probe[j][0] : probe[j][0] + period * max_r : period]
                neq = np.flatnonzero(lane != probe[j][1])
                if len(neq):
                    reps = min(reps, int(neq[0]))
            if reps >= 8:
                run = (L, period, reps)
                break
        if run:
            L, period, reps = run
            lane_off = np.asarray([probe[j][0] - p + 1 for j in range(L)], dtype=np.int64)
            rep_idx = np.repeat(np.arange(reps, dtype=np.int64), L)
            seg_cmd.append(np.tile(np.asarray([probe[j][2] for j in range(L)]), reps))
            seg_cnt.append(np.tile(np.asarray([probe[j][3] for j in range(L)]), reps))
            seg_vst.append(lo + p + rep_idx * period + np.tile(lane_off, reps))
            p += period * reps
        else:
            q0, _h, c, k, nq = probe[0]
            seg_cmd.append(np.asarray([c]))
            seg_cnt.append(np.asarray([k]))
            seg_vst.append(np.asarray([lo + q0 + 1]))
            p = nq
    return tuple(
        (np.concatenate(s) if len(s) > 1 else s[0]).astype(np.int64)
        for s in (seg_cmd, seg_cnt, seg_vst)
    )


def _run_starts(a: np.ndarray) -> np.ndarray:
    """True where a value differs from the one before it (and at 0)."""
    m = np.empty(len(a), dtype=bool)
    m[:1] = True
    np.not_equal(a[1:], a[:-1], out=m[1:])
    return m


def _shift(a: np.ndarray, fill) -> np.ndarray:
    """a[i+1] at position i; `fill` past the end."""
    s = np.empty_like(a)
    s[:-1] = a[1:]
    s[-1] = fill
    return s


def _batch_decode_core(out, G_all, mlen, cmds, cnts, vstarts, bfeat, feat_ok, gtypes,
                       version, tile_x, tile_y, scale_x, scale_y, bbox):
    """Back half of the vectorized decoder, whichever walk filled the
    block table: canonical structure checks, global delta decode with a
    per-feature segmented cumsum, and the per-type assembly into packed
    dicts. Features it cannot decode exactly keep out[fi] = None."""
    is_mt = cmds == MOVE_TO
    is_lt = cmds == LINE_TO
    is_cl = cmds == CLOSE
    present = [gt for gt in (POINT, LINESTRING, POLYGON) if (gtypes[feat_ok] == gt).any()]
    mixed = len(present) > 1  # else no per-type selection is needed
    ft_of_blk = gtypes[bfeat] if mixed else None

    # --- canonical structure checks, feature-vectorized ---
    new_feat = _run_starts(bfeat)
    last = _shift(new_feat, True)  # last block of its feature
    nxt_lt = _shift(is_lt, False) & ~last
    nxt_mt = _shift(is_mt, False) & ~last
    bad = np.zeros(len(cmds), dtype=bool)
    for gt in present:
        if gt == POINT:
            rule = ~is_mt
        else:
            # both start with MT(1), and every MT is followed by a LineTo
            # (LINESTRING v1 tolerates repeated and trailing MoveTos)
            rule = (new_feat & ~is_mt) | (is_mt & (cnts != 1))
            rule |= is_mt & ~nxt_lt & ((gt == POLYGON) | (_at(version, bfeat) != 1))
            if gt == LINESTRING:
                rule |= is_cl
            else:  # strict (MT(1), LT+, CLOSE)* grouping
                rule |= (last & ~is_cl) | (is_lt & nxt_mt) | (is_cl & ~last & ~nxt_mt)
        bad |= rule & (ft_of_blk == gt) if mixed else rule
    if bad.any():
        feat_ok[bfeat[bad]] = False
        keep = feat_ok[bfeat]
        cmds, cnts, vstarts, bfeat, is_cl = (
            cmds[keep], cnts[keep], vstarts[keep], bfeat[keep], is_cl[keep]
        )
        if len(cmds) == 0:
            return

    # --- global delta decode + per-feature segmented cumsum ---
    # the walks tile each stream exactly, so the values are every
    # position of a decoded feature's stream that is not a block header
    vmask = np.repeat(feat_ok, mlen)
    vmask[vstarts - 1] = False
    if is_cl.any():
        mtlt = ~is_cl
        vstarts, cnts, cmds, bfeat = vstarts[mtlt], cnts[mtlt], cmds[mtlt], bfeat[mtlt]
    pts, X, Y, over = _cursor_pass(G_all, vmask, vstarts, cnts, bfeat,
                                   tile_x, tile_y, scale_x, scale_y)
    px, py = pts[:, 0], pts[:, 1]
    if over is not None:
        # keep the int area math exact; the scalar walk handles extremes
        pt_feat = np.repeat(bfeat, cnts)
        feat_ok[pt_feat[over]] = False
        kp, kb = feat_ok[pt_feat], feat_ok[bfeat]
        px, py, X, Y = px[kp], py[kp], X[kp], Y[kp]
        cmds, cnts, bfeat = cmds[kb], cnts[kb], bfeat[kb]
        if len(px) == 0:
            return

    # --- per-type assembly ---
    for gt in present:
        t = (X, Y, px, py, cmds, cnts, bfeat)
        if mixed:
            bsel = gtypes[bfeat] == gt
            if not bsel.any():
                continue
            psel = np.repeat(bsel, cnts)
            t = (*(a[psel] for a in t[:4]), *(a[bsel] for a in t[4:]))
        if gt == POINT:
            _assemble_points(out, t[0], t[1], *t[5:], bbox)
        else:
            _assemble_paths(out, feat_ok, gt, version, *t, scale_x * scale_y < 0, bbox)
        for fi in np.flatnonzero(feat_ok & (gtypes == gt)).tolist():
            if out[fi] is None:
                out[fi] = EMPTY


# points per slice of _cursor_pass: a slice's temporaries stay in cache
_SLICE = 1 << 15
# largest |cursor coordinate| decoded here: int32 storage and exact
# int64 ring areas; features reaching past it go to the scalar walk
_REACH = 1 << 25


def _cursor_pass(G_all, vmask, vstarts, cnts, bfeat, tile_x, tile_y, scale_x, scale_y):
    """The MoveTo/LineTo blocks' zigzag values (G_all where vmask) ->
    cursor positions (n, 2) as int32, with the cursor reset to (0, 0) at
    each feature's first point, their scaled X and Y, and a mask of the
    points past _REACH (None when there are none). Runs over slices of
    whole blocks holding ~_SLICE points (a bigger block is a slice of
    its own): each slice's gather, unzigzag and int64 cumsum stay in
    cache, and a carried cursor joins the slices."""
    blk_pt0 = np.cumsum(cnts) - cnts
    n = int(blk_pt0[-1] + cnts[-1])
    f_pt0 = blk_pt0[_run_starts(bfeat)]
    first = np.flatnonzero(_run_starts(blk_pt0 // _SLICE))
    last = np.append(first[1:], len(cnts)) - 1
    p_lo, p_hi = blk_pt0[first], blk_pt0[last] + cnts[last]
    g_lo, g_hi = vstarts[first], vstarts[last] + 2 * cnts[last]
    pts = np.empty((n, 2), dtype=np.int32)
    X = np.empty(n)
    Y = np.empty(n)
    buf = np.empty((int((p_hi - p_lo).max()), 2), dtype=np.int64)
    carry = np.zeros(2, dtype=np.int64)
    over = None
    pt_feat = None
    if any(isinstance(a, np.ndarray) for a in (tile_x, tile_y, scale_x, scale_y)):
        pt_feat = np.repeat(bfeat, cnts)
    for a, b, ga, gb in zip(p_lo.tolist(), p_hi.tolist(), g_lo.tolist(), g_hi.tolist()):
        vs = G_all[ga:gb][vmask[ga:gb]]
        d = (vs >> 1).view(np.int32)  # unzigzag32, in 4-byte lanes
        sign = (vs & 1).view(np.int32)
        d ^= np.negative(sign, out=sign)
        seg = buf[: b - a]
        seg[...] = d.reshape(-1, 2)
        fs = f_pt0[np.searchsorted(f_pt0, a) : np.searchsorted(f_pt0, b)] - a
        if not len(fs) or fs[0]:
            seg[0] += carry  # a feature runs on from the previous slice
            fs = np.insert(fs, 0, 0)
        if len(fs) > 1:
            # each feature's first delta also takes back the delta sum
            # of the run before it
            seg[fs[1:]] -= np.add.reduceat(seg, fs, axis=0)[:-1]
        np.cumsum(seg, axis=0, out=seg)
        carry = seg[-1].copy()
        if max(int(seg.max()), -int(seg.min())) > _REACH:
            if over is None:
                over = np.zeros(n, dtype=bool)
            over[a:b] = (np.abs(seg) > _REACH).any(axis=1)
        pts[a:b] = seg
        pf = None if pt_feat is None else pt_feat[a:b]
        np.divide(seg[:, 0], _at(scale_x, pf), out=X[a:b])
        X[a:b] += _at(tile_x, pf)
        np.divide(seg[:, 1], _at(scale_y, pf), out=Y[a:b])
        Y[a:b] += _at(tile_y, pf)
    return pts, X, Y, over


def _emit_packed(out, kind, xs, ys, lens, part_feat, exterior=None):
    """Flat part arrays (feature-major) -> one packed dict per feature in
    out. Per feature this is array VIEWS into xs/ys and into one shared
    offsets array — no per-part objects, no per-feature arithmetic."""
    if len(lens) == 0:
        return
    roff = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=roff[1:])
    first = _run_starts(part_feat)
    fb = np.flatnonzero(first)
    fe = np.append(fb[1:], len(lens))
    # every feature's offsets [0, part ends relative to its first point]
    # laid out back to back: feature k's run starts at fb[k] + k
    ford = np.cumsum(first) - 1
    local = np.zeros(len(lens) + len(fb), dtype=np.int64)
    local[np.arange(len(lens)) + ford + 1] = roff[1:] - roff[fb][ford]
    for k, (a, b, s, e, fid) in enumerate(zip(
        fb.tolist(), fe.tolist(), roff[fb].tolist(), roff[fe].tolist(),
        part_feat[fb].tolist(),
    )):
        d = {"kind": kind, "xs": xs[s:e], "ys": ys[s:e], "offsets": local[a + k : b + k + 1]}
        if exterior is not None:
            d["exterior"] = exterior[a:b]
        out[fid] = d


def _part_envelopes(X, Y, starts):
    """Per-part (minx, miny, maxx, maxy) of contiguous parts."""
    return (np.minimum.reduceat(X, starts), np.minimum.reduceat(Y, starts),
            np.maximum.reduceat(X, starts), np.maximum.reduceat(Y, starts))


def _in_box(env, bbox):
    mnx, mny, mxx, mxy = env
    return ~((mxx < bbox[0]) | (mnx > bbox[2]) | (mxy < bbox[1]) | (mny > bbox[3]))


def _assemble_points(out, X, Y, cnts, bfeat, bbox):
    """Every point of a feature is one multipoint part; bbox filters
    points one by one."""
    fb = np.flatnonzero(_run_starts(bfeat))
    lens = np.add.reduceat(cnts, fb)
    if bbox is not None:
        m = (bbox[0] <= X) & (X <= bbox[2]) & (bbox[1] <= Y) & (Y <= bbox[3])
        lens = np.add.reduceat(m, np.cumsum(lens) - lens, dtype=np.int64)
        X, Y = X[m], Y[m]
    has = lens > 0
    _emit_packed(out, "multipoint", X, Y, lens[has], bfeat[fb][has])


def _assemble_paths(out, feat_ok, gt, version, X, Y, px, py, cmds, cnts, bfeat,
                    reverse_sign, bbox):
    """LINESTRING / POLYGON assembly: part (MoveTo group) bookkeeping,
    ring areas and the winding / hole / bbox rules, all vectorized over
    the batch. Features whose parts degenerate under v2 are declined so
    the scalar path raises the exact error."""
    is_mt_blk = cmds == MOVE_TO
    # part id: cumsum of MoveTo blocks; every part starts with exactly
    # one MT(1), so part -> feature is the MT blocks' feature ids
    grp_of_blk = np.cumsum(is_mt_blk) - 1
    gfeat = bfeat[is_mt_blk]
    grp = np.repeat(grp_of_blk, cnts)
    # skip-zero: zero LineTo deltas never append a vertex (line_next /
    # ring_next with skip_zero=True); MoveTo deltas always do
    zero = np.empty(len(px), dtype=bool)
    zero[0] = False
    zero[1:] = (px[1:] == px[:-1]) & (py[1:] == py[:-1])
    zero[(np.cumsum(cnts) - cnts)[is_mt_blk]] = False
    if zero.any():
        keep = ~zero
        px, py, X, Y, grp = px[keep], py[keep], X[keep], Y[keep], grp[keep]
    counts = np.bincount(grp, minlength=len(gfeat))
    # a part needs its MoveTo plus >=1 (line) or >=2 (ring) LineTos
    bad_grp = counts <= (1 if gt == LINESTRING else 2)
    if bad_grp.any():
        # v2: per-FEATURE decline; the scalar walk replays the exact error
        feat_ok[gfeat[bad_grp & (_at(version, gfeat) != 1)]] = False
        bad_grp |= ~feat_ok[gfeat]
        # v1 leniency (the cursor's "move_to"/"close" resets): a part
        # whose LineTos all collapsed is silently dropped; its deltas
        # already advanced the shared cursor via the cumsum
        dm = ~bad_grp[grp]
        px, py, X, Y, grp = px[dm], py[dm], X[dm], Y[dm], grp[dm]
        counts[bad_grp] = 0
        if len(grp) == 0:
            return
    gi = np.flatnonzero(counts)
    lens = counts[gi]
    starts = np.cumsum(lens) - lens  # parts of gi are contiguous in X/Y

    if gt == LINESTRING:
        if bbox is not None:
            inb = _in_box(_part_envelopes(X, Y, starts), bbox)
            if not inb.all():  # gather the kept parts
                gi, lens = gi[inb], lens[inb]
                src = np.repeat(starts[inb] - (np.cumsum(lens) - lens), lens)
                src += np.arange(len(src))
                X, Y = X[src], Y[src]
        _emit_packed(out, "multilinestring", X, Y, lens, gfeat[gi])
        return

    # POLYGON — per-ring int64 shoelace (exact: |coord| <= _REACH),
    # closing point appended when the last point differs from the first
    px, py = px.astype(np.int64), py.astype(np.int64)
    cross = px[:-1] * py[1:] - py[:-1] * px[1:]
    same = grp[:-1] == grp[1:]
    areas = np.bincount(grp[:-1][same], weights=cross[same].astype(np.float64),
                        minlength=len(gfeat))[gi]
    last = starts + lens - 1
    need = (X[starts] != X[last]) | (Y[starts] != Y[last])
    areas[need] += (
        px[last] * py[starts] - py[last] * px[starts]
    )[need].astype(np.float64)
    out_len = lens + need

    # ring classification (decoder.ipp:656-788): a feature's first valid
    # ring fixes the exterior winding (v2 rejects clockwise); a hole is
    # kept only when its exterior was kept; bbox drops whole rings
    vi = np.flatnonzero(out_len > 3)
    if len(vi) == 0:
        return
    vfeat = gfeat[gi[vi]]
    ffirst = _run_starts(vfeat)
    ford = np.cumsum(ffirst) - 1
    cw = areas[vi] < 0.0
    first_cw = cw[ffirst]
    if first_cw.any():  # v2 rejects a clockwise first ring
        reject = first_cw & (_at(version, vfeat[ffirst]) != 1)
        feat_ok[vfeat[ffirst][reject]] = False
    ext = cw == first_cw[ford]
    in_box = (np.ones(len(vi), dtype=bool) if bbox is None
              else _in_box(_part_envelopes(X, Y, starts), bbox)[vi])
    # the latest exterior at or before each ring (a feature's first
    # valid ring is exterior, so it never reaches into another feature)
    owner = np.maximum.accumulate(np.where(ext, np.arange(len(vi)), 0))
    keep = in_box & in_box[owner] & feat_ok[vfeat]
    ri = vi[keep]
    rev = (_at(reverse_sign, vfeat) != first_cw[ford])[keep]
    lens_o = out_len[ri]
    if len(ri) == len(out_len) and not need.any() and not rev.any():
        xs, ys = X, Y  # nothing dropped, closed, or reversed
    else:
        q = np.arange(int(lens_o.sum()), dtype=np.int64) - np.repeat(
            np.cumsum(lens_o) - lens_o, lens_o)
        if rev.any():
            flip = np.repeat(lens_o - 1, lens_o) - q
            q = flip if rev.all() else np.where(np.repeat(rev, lens_o), flip, q)
        # position lens[r] is the appended closing point: the ring start
        q[q == np.repeat(lens[ri], lens_o)] = 0
        src = np.repeat(starts[ri], lens_o) + q
        xs, ys = X[src], Y[src]
    _emit_packed(out, "multipolygon", xs, ys, lens_o, vfeat[keep], ext[keep])


def _bbox_pt(bbox, x, y):
    return bbox is None or (bbox[0] <= x <= bbox[2] and bbox[1] <= y <= bbox[3])


def _bbox_env(bbox, env):
    if bbox is None:
        return True
    return not (env[2] < bbox[0] or env[0] > bbox[2] or env[3] < bbox[1] or env[1] > bbox[3])


def _decode_point(cur, tx, ty, sx, sy, bbox):
    pts = []
    while True:
        cmd, x, y = cur.point_next()
        if cmd == "end":
            break
        px, py = _scale_pt_active(x, y, tx, ty, sx, sy)
        if _bbox_pt(bbox, px, py):
            pts.append((px, py))
    if not pts:
        return ("empty", None)
    arr = np.array(pts, dtype=np.float64)
    return ("point", arr[0]) if len(arr) == 1 else ("multipoint", arr)


def _decode_linestring(cur, tx, ty, sx, sy, bbox, version):
    lines = []
    cmd, x0, y0 = cur.line_next(False)
    if cmd == "end":
        return ("empty", None)
    if cmd != "move_to":
        raise DecodeError("LINESTRING first command not MOVETO")
    while True:
        cmd, x1, y1 = cur.line_next(True)
        if cmd != "line_to":
            if cmd == "move_to":
                if version == 1:
                    x0, y0 = x1, y1
                    continue
                raise DecodeError("LINESTRING with repeated MOVETO")
            else:  # end
                if version == 1:
                    break
                raise DecodeError("LINESTRING MOVETO with no LINETO following")
        line = [_scale_pt_active(x0, y0, tx, ty, sx, sy), _scale_pt_active(x1, y1, tx, ty, sx, sy)]
        while True:
            cmd, x1, y1 = cur.line_next(True)
            if cmd != "line_to":
                break
            line.append(_scale_pt_active(x1, y1, tx, ty, sx, sy))
        arr = np.array(line, dtype=np.float64)
        env = (arr[:, 0].min(), arr[:, 1].min(), arr[:, 0].max(), arr[:, 1].max())
        if _bbox_env(bbox, env):
            lines.append(arr)
        if cmd == "end":
            break
        x0, y0 = x1, y1
    if not lines:
        return ("empty", None)
    if len(lines) == 1:
        return ("linestring", lines[0]) if len(lines[0]) > 1 else ("empty", None)
    return ("multilinestring", lines)


def _seg_area(x0, y0, x1, y1):
    return float(x0) * float(y1) - float(y0) * float(x1)


def _decode_polygon(cur, tx, ty, sx, sy, bbox, version):
    rings: list[np.ndarray] = []
    rings_exterior: list[bool] = []
    first_ring = True
    first_ring_is_clockwise = False
    last_exterior_not_included = False

    cmd, x0, y0 = cur.ring_next(False)
    if cmd == "end":
        return ("empty", None)
    if cmd != "move_to":
        raise DecodeError("POLYGON first command not MOVETO")

    while True:
        ring_area_acc = 0.0
        cmd, x1, y1 = cur.ring_next(True)
        if cmd != "line_to":
            if cmd == "close" and version == 1:
                cmd, x0, y0 = cur.ring_next(False)
                if cmd == "end":
                    break
                if cmd == "move_to":
                    continue
                if cmd == "close":
                    raise DecodeError("POLYGON CLOSE followed by CLOSE")
                raise DecodeError("POLYGON CLOSE followed by LINETO")
            raise DecodeError("POLYGON MOVETO without two LINETOs and CLOSE")
        cmd, x2, y2 = cur.ring_next(True)
        if cmd != "line_to":
            if cmd == "close" and version == 1:
                cmd, x0, y0 = cur.ring_next(False)
                if cmd == "end":
                    break
                if cmd == "move_to":
                    continue
                if cmd == "close":
                    raise DecodeError("POLYGON CLOSE followed by CLOSE")
                raise DecodeError("POLYGON CLOSE followed by LINETO")
            raise DecodeError("POLYGON MOVETO without two LINETOs and CLOSE")

        ring = [
            _scale_pt_active(x0, y0, tx, ty, sx, sy),
            _scale_pt_active(x1, y1, tx, ty, sx, sy),
            _scale_pt_active(x2, y2, tx, ty, sx, sy),
        ]
        ring_area_acc += _seg_area(x0, y0, x1, y1)
        ring_area_acc += _seg_area(x1, y1, x2, y2)
        xp, yp = x2, y2
        while True:
            cmd, x2, y2 = cur.ring_next(True)
            if cmd != "line_to":
                break
            ring.append(_scale_pt_active(x2, y2, tx, ty, sx, sy))
            ring_area_acc += _seg_area(xp, yp, x2, y2)
            xp, yp = x2, y2
        if cmd != "close":
            raise DecodeError("POLYGON ring not closed by CLOSE")
        first_pt = _scale_pt_active(x0, y0, tx, ty, sx, sy)
        if ring[-1] != first_pt:
            ring.append(first_pt)
            ring_area_acc += _seg_area(xp, yp, x0, y0)
        arr = np.array(ring, dtype=np.float64)
        if len(arr) > 3:
            area_cw = ring_area_acc < 0.0
            if first_ring:
                first_ring_is_clockwise = area_cw
                if version != 1 and first_ring_is_clockwise:
                    raise DecodeError("POLYGON first ring clockwise (invalid in v2)")
                first_ring = False
            is_exterior = first_ring_is_clockwise == area_cw
            env = (arr[:, 0].min(), arr[:, 1].min(), arr[:, 0].max(), arr[:, 1].max())
            if (not is_exterior and last_exterior_not_included) or not _bbox_env(bbox, env):
                if is_exterior:
                    last_exterior_not_included = True
            else:
                if is_exterior:
                    last_exterior_not_included = False
                rings.append(arr)
                rings_exterior.append(is_exterior)
        cmd, x0, y0 = cur.ring_next(False)
        if cmd == "end":
            break
        if cmd != "move_to":
            if cmd == "close":
                raise DecodeError("POLYGON CLOSE followed by CLOSE")
            raise DecodeError("POLYGON CLOSE followed by LINETO")

    if not rings:
        return ("empty", None)
    reverse_rings = ((sx * sy) < 0) != first_ring_is_clockwise
    polys: list[list[np.ndarray]] = []
    for ring, is_ext in zip(rings, rings_exterior):
        r = ring[::-1].copy() if reverse_rings else ring
        if is_ext:
            polys.append([r])
        elif polys:
            polys[-1].append(r)
    if len(polys) == 1:
        return ("polygon", polys[0])
    return ("multipolygon", polys)
