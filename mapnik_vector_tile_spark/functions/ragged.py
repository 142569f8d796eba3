"""Ragged (struct-of-arrays) geometry kernel: the whole per-feature
simplify/clip/assemble/encode pass of a tile batch runs as flat numpy
over ALL features' coordinates at once.

This is the vectorized twin of the scalar pipeline
(geometry.transform_geom -> simplify_geom -> clip_geom[_inside] ->
commands.encode_geometry), fusing the role of the reference's
per-feature visitor chain (src/vector_tile_processor.ipp:82-174:
transform -> simplifier -> clipper -> encoder) into segmented array
passes. Byte-for-byte parity with the scalar path is asserted by
tests/test_ragged_parity.py over a fuzz corpus; features the vector
path cannot express (geometry collections, polygons whose rings
self-intersect and need the boolean fill resolver —
src/vector_tile_geometry_clipper.hpp:226-231) are EJECTED back to the
scalar pipeline per feature.

Representation: one (P,2) int64 coordinate array + per-path metadata
(length, feature row, path type, polygon id, first-ring flag), paths
always sorted by (feature, path order). Every stage is expressed with
np.repeat/cumsum index construction and np.{add,maximum,minimum}.reduceat
segmentation — no per-feature Python in the hot loop.
"""

from __future__ import annotations

import numpy as np

from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions.booleans import rings_cross
from mapnik_vector_tile_spark.functions.commands import zigzag32

# path types
PT_POINT, PT_MPOINT, PT_LINE, PT_RING = 0, 1, 2, 3
# feature kinds (gtype mapping: point/mpoint -> 1, line -> 2, poly -> 3)
FK_EMPTY, FK_POINT, FK_MPOINT, FK_LINE, FK_POLY = 0, 1, 2, 3, 4

_EMPTY_I = np.empty(0, dtype=np.int64)
_EMPTY_B = np.empty(0, dtype=bool)
_EMPTY_PTS = np.empty((0, 2), dtype=np.int64)


def _starts_of(lens: np.ndarray) -> np.ndarray:
    off = np.empty(len(lens), dtype=np.int64)
    if len(lens):
        off[0] = 0
        np.cumsum(lens[:-1], out=off[1:])
    return off


class Batch:
    """Struct-of-arrays over all paths of a feature batch."""

    __slots__ = ("pts", "plen", "pfeat", "ptype", "ppoly", "pfirst")

    def __init__(self, pts, plen, pfeat, ptype, ppoly, pfirst):
        self.pts = pts          # (P,2) int64 quantized tile coords
        self.plen = plen        # (R,) int64 >= 1
        self.pfeat = pfeat      # (R,) int64 feature row (nondecreasing)
        self.ptype = ptype      # (R,) int8 PT_*
        self.ppoly = ppoly      # (R,) int64 global polygon id (rings), -1
        self.pfirst = pfirst    # (R,) bool first ring of its polygon

    def starts(self) -> np.ndarray:
        return _starts_of(self.plen)

    def pids(self) -> np.ndarray:
        return np.repeat(np.arange(len(self.plen)), self.plen)


def _segment_counts(values_bool: np.ndarray, starts: np.ndarray) -> np.ndarray:
    if len(values_bool) == 0 or len(starts) == 0:
        return np.zeros(len(starts), dtype=np.int64)
    return np.add.reduceat(values_bool.astype(np.int64), starts)


def _apply_point_keep(b: Batch, keep: np.ndarray) -> Batch:
    """Drop masked points; paths shrinking to 0 are removed."""
    starts = b.starts()
    newlen = _segment_counts(keep, starts)
    alive = newlen > 0
    return Batch(
        b.pts[keep], newlen[alive], b.pfeat[alive],
        b.ptype[alive], b.ppoly[alive], b.pfirst[alive],
    )


def _apply_path_keep(b: Batch, alive: np.ndarray) -> Batch:
    keep_pts = np.repeat(alive, b.plen)
    return Batch(
        b.pts[keep_pts], b.plen[alive], b.pfeat[alive],
        b.ptype[alive], b.ppoly[alive], b.pfirst[alive],
    )


def _splice(
    b: Batch,
    keep_old: np.ndarray,
    new_feat: np.ndarray,
    new_sub: np.ndarray,
    new_lens: np.ndarray,
    new_pool: np.ndarray,
    new_ptype: np.ndarray,
    new_ppoly: np.ndarray,
    new_pfirst: np.ndarray,
) -> Batch:
    """Replace/insert paths, fully vectorized. The merged batch is
    ordered by (feature, token): kept old paths keep their relative
    order, inserted paths order by new_sub. Callers guarantee a feature
    never mixes kept-old and inserted paths (clip stages select whole
    features), so the interleave order within a feature is never
    ambiguous. All new_lens must be >= 1."""
    old_rows = np.flatnonzero(keep_old)
    n_old, n_new = len(old_rows), len(new_feat)
    if n_new == 0:
        return _apply_path_keep(b, keep_old)
    pool_starts = _starts_of(new_lens)
    feats = np.concatenate([b.pfeat[old_rows], new_feat])
    token = np.concatenate([old_rows, new_sub.astype(np.int64)])
    is_new = np.concatenate([
        np.zeros(n_old, dtype=np.int8), np.ones(n_new, dtype=np.int8)
    ])
    src_start = np.concatenate([
        b.starts()[old_rows], len(b.pts) + pool_starts
    ])
    lens = np.concatenate([b.plen[old_rows], new_lens])
    types = np.concatenate([b.ptype[old_rows], new_ptype])
    polys = np.concatenate([b.ppoly[old_rows], new_ppoly])
    firsts = np.concatenate([b.pfirst[old_rows], new_pfirst])
    order = np.lexsort((token, is_new, feats))
    lens_o = lens[order]
    pool = np.concatenate([b.pts, new_pool]) if len(new_pool) else b.pts
    opid = np.repeat(np.arange(len(order)), lens_o)
    ostarts = _starts_of(lens_o)
    local = np.arange(int(lens_o.sum())) - ostarts[opid]
    gather = src_start[order][opid] + local
    return Batch(
        pool[gather], lens_o, feats[order], types[order],
        polys[order], firsts[order],
    )


def _revalidate_after_pointdrop(b: Batch, fkind: np.ndarray) -> Batch:
    """transform_geom validity rules after out-of-range point drops:
    lines < 2 pts die; a polygon whose FIRST ring fell below 3 dies
    with all its rings; features with no surviving paths go empty."""
    alive = np.ones(len(b.plen), dtype=bool)
    alive &= ~((b.ptype == PT_LINE) & (b.plen < 2))
    bad_first = (b.ptype == PT_RING) & b.pfirst & (b.plen < 3)
    if bad_first.any():
        alive &= ~np.isin(b.ppoly, b.ppoly[bad_first])
    b2 = _apply_path_keep(b, alive)
    present = np.zeros(len(fkind), dtype=bool)
    present[b2.pfeat] = True
    was_built = fkind != FK_EMPTY
    fkind[was_built & ~present] = FK_EMPTY
    return b2


def feature_inside(b: Batch, n_features: int, clip_box) -> np.ndarray:
    """(F,) bool: every kept point of the feature lies inside clip_box
    (the clip-skip fast-path test of operators/encode.py)."""
    inside = np.zeros(n_features, dtype=bool)
    if len(b.plen) == 0:
        return inside
    cx0, cy0, cx1, cy1 = clip_box
    starts = b.starts()
    rmin = np.minimum.reduceat(b.pts, starts, axis=0)
    rmax = np.maximum.reduceat(b.pts, starts, axis=0)
    fb = np.concatenate([[0], np.flatnonzero(np.diff(b.pfeat)) + 1])
    frows = b.pfeat[fb]
    flo = np.minimum.reduceat(rmin, fb, axis=0)
    fhi = np.maximum.reduceat(rmax, fb, axis=0)
    inside[frows] = (
        (flo[:, 0] >= cx0) & (flo[:, 1] >= cy0)
        & (fhi[:, 0] <= cx1) & (fhi[:, 1] <= cy1)
    )
    return inside


# ---------------------------------------------------------------------------
# Douglas-Peucker over ragged paths (K1/K2 — douglas_peucker.hpp:292-324)
# ---------------------------------------------------------------------------

def dp_keep_mask(pts: np.ndarray, b_idx: np.ndarray, e_idx: np.ndarray,
                 max_sqrd: float, keep: np.ndarray) -> None:
    """Level-parallel DP worklist over many (begin, end) GLOBAL index
    ranges at once. Sets keep[i]=True for retained interior points.
    Exact scalar parity (geometry.douglas_peucker): endpoint-clamped
    squared segment distance, candidate kept only when STRICTLY greater
    than max_sqrd, first-of-ties wins."""
    ptsf = pts.astype(np.float64)
    xb = ptsf[:, 0]
    yb = ptsf[:, 1]
    b, e = b_idx, e_idx
    while len(b):
        m = e - b - 1  # interior counts, >= 1 by construction
        tot = int(m.sum())
        off = _starts_of(m)
        ar = np.arange(tot)
        rid = np.repeat(np.arange(len(b)), m)
        gi = ar - off[rid] + b[rid] + 1
        bb, ee = b[rid], e[rid]
        vx = xb[ee] - xb[bb]
        vy = yb[ee] - yb[bb]
        wx = xb[gi] - xb[bb]
        wy = yb[gi] - yb[bb]
        c1 = wx * vx + wy * vy
        c2 = vx * vx + vy * vy
        d_begin = wx * wx + wy * wy
        ux = xb[gi] - xb[ee]
        uy = yb[gi] - yb[ee]
        d_last = ux * ux + uy * uy
        with np.errstate(divide="ignore", invalid="ignore"):
            f = np.where(c2 > 0.0, c1 / c2, 0.0)
        px_ = wx - f * vx
        py_ = wy - f * vy
        d_perp = px_ * px_ + py_ * py_
        dist = np.where(c1 <= 0.0, d_begin, np.where(c2 <= c1, d_last, d_perp))
        mx = np.maximum.reduceat(dist, off)
        hitpos = np.where(dist >= mx[rid], ar, tot)
        firstpos = np.minimum.reduceat(hitpos, off)
        cand = gi[firstpos]
        sel = mx > max_sqrd
        csel = cand[sel]
        keep[csel] = True
        bl, el = b[sel], csel
        br, er = csel, e[sel]
        wl = (el - bl) >= 2
        wr = (er - br) >= 2
        b = np.concatenate([bl[wl], br[wr]])
        e = np.concatenate([el[wl], er[wr]])


def simplify(b: Batch, simplify_distance: float) -> Batch:
    """geometry_simplifier dispatch over the batch
    (vector_tile_geometry_simplifier.hpp): lines <= 2 pts and rings
    <= 4 pts pass through; points untouched."""
    if simplify_distance <= 0 or len(b.plen) == 0:
        return b
    dp = ((b.ptype == PT_LINE) & (b.plen > 2)) | (
        (b.ptype == PT_RING) & (b.plen > 4)
    )
    if not dp.any():
        return b
    starts = b.starts()
    pid = b.pids()
    pos = np.arange(len(b.pts)) - starts[pid]
    keep = np.ones(len(b.pts), dtype=bool)
    interior = dp[pid] & (pos > 0) & (pos < (b.plen[pid] - 1))
    keep[interior] = False
    dpi = np.flatnonzero(dp)
    dp_keep_mask(
        b.pts, starts[dpi], starts[dpi] + b.plen[dpi] - 1,
        float(simplify_distance) ** 2, keep,
    )
    return _apply_point_keep(b, keep)


# ---------------------------------------------------------------------------
# Dedup / ring canonicalization (U3 + closing-strip semantics)
# ---------------------------------------------------------------------------

def _dedup_strip_arrays(pts: np.ndarray, plen: np.ndarray,
                        strip: np.ndarray):
    """Consecutive-dup removal over ragged paths (all of them); paths
    flagged in `strip` also drop a final kept point equal to the first
    (the strip->dedup->strip canonicalization of _clip_polygon_rings —
    equality transitivity makes one dedup + one strip equivalent).
    Returns (keep mask, new lens)."""
    P = len(pts)
    if P == 0:
        return _EMPTY_B, plen.copy()
    starts = _starts_of(plen)
    first = np.zeros(P, dtype=bool)
    first[starts] = True
    keep = np.ones(P, dtype=bool)
    dup = np.zeros(P, dtype=bool)
    dup[1:] = (pts[1:] == pts[:-1]).all(axis=1)
    keep[~first & dup] = False
    kcnt = _segment_counts(keep, starts)
    if strip.any():
        gpos = np.arange(P)
        lastpos = np.maximum.reduceat(np.where(keep, gpos, -1), starts)
        ri = np.flatnonzero(strip & (kcnt > 1))
        if len(ri):
            same = (pts[starts[ri]] == pts[lastpos[ri]]).all(axis=1)
            hit = ri[same]
            keep[lastpos[hit]] = False
            kcnt[hit] -= 1
    return keep, kcnt


def dedup_paths(b: Batch, sel: np.ndarray, strip_rings: bool) -> Batch:
    """Dedup selected paths in place (others untouched)."""
    if len(b.pts) == 0 or not sel.any():
        return b
    pid = b.pids()
    keep_all, _ = _dedup_strip_arrays(
        b.pts, b.plen,
        sel & (b.ptype == PT_RING) if strip_rings else np.zeros(len(b.plen), bool),
    )
    keep = np.where(sel[pid], keep_all, True)
    return _apply_point_keep(b, keep)


# ---------------------------------------------------------------------------
# Ring areas / winding (A3/T1 — clipper.hpp:27-45, 172-238)
# ---------------------------------------------------------------------------

def ring_areas(b: Batch) -> np.ndarray:
    """Shoelace with wrap, per path (float64; same accumulation order as
    geometry.ring_area: the (last->first) contribution first). Exact for
    tile-scale integer coordinates."""
    if len(b.pts) == 0:
        return np.empty(0, dtype=np.float64)
    starts = b.starts()
    prev = np.arange(len(b.pts)) - 1
    prev[starts] = starts + b.plen - 1
    x = b.pts[:, 0].astype(np.float64)
    y = b.pts[:, 1].astype(np.float64)
    contrib = (x[prev] + x) * (y[prev] - y)
    return -0.5 * np.add.reduceat(contrib, starts)


def reverse_paths(b: Batch, rev: np.ndarray) -> None:
    """In-place point-order reversal of selected paths."""
    if not rev.any():
        return
    starts = b.starts()
    pid = b.pids()
    gpos = np.arange(len(b.pts))
    local = gpos - starts[pid]
    src = np.where(rev[pid], starts[pid] + b.plen[pid] - 1 - local, gpos)
    b.pts = b.pts[src]


# ---------------------------------------------------------------------------
# Liang-Barsky line/box clip (K3 — clip_line / clipper.hpp:130-148 role)
# ---------------------------------------------------------------------------

def clip_lines(b: Batch, line_sel: np.ndarray, box) -> Batch:
    """Box-clip selected line paths (already deduped). Each becomes
    0..k piece paths; semantics match geometry.clip_line exactly
    (sequential Liang-Barsky edge tests, piece restart on t0>0 or after
    a gap, duplicate-endpoint skip, pieces < 2 points dropped)."""
    if not line_sel.any():
        return b
    minx, miny, maxx, maxy = (float(v) for v in box)
    starts = b.starts()
    li = np.flatnonzero(line_sel & (b.plen >= 2))
    drop_only = line_sel & (b.plen < 2)
    seg_cnt = b.plen[li] - 1
    S = int(seg_cnt.sum())
    if S == 0:
        return _apply_path_keep(b, ~line_sel)
    soff = _starts_of(seg_cnt)
    srid = np.repeat(np.arange(len(li)), seg_cnt)
    s_local = np.arange(S) - soff[srid]
    p0i = starts[li][srid] + s_local
    x0 = b.pts[p0i, 0].astype(np.float64)
    y0 = b.pts[p0i, 1].astype(np.float64)
    x1 = b.pts[p0i + 1, 0].astype(np.float64)
    y1 = b.pts[p0i + 1, 1].astype(np.float64)
    dx = x1 - x0
    dy = y1 - y0
    t0 = np.zeros(S)
    t1 = np.ones(S)
    reject = np.zeros(S, dtype=bool)
    # sequential edge order matters: each test uses the running t0/t1
    for p, q in (
        (-dx, x0 - minx), (dx, maxx - x0), (-dy, y0 - miny), (dy, maxy - y0),
    ):
        zero = p == 0.0
        reject |= zero & (q < 0.0)
        with np.errstate(divide="ignore", invalid="ignore"):
            r = q / p
        neg = ~zero & (p < 0.0)
        pos = ~zero & (p > 0.0)
        reject |= (neg & (r > t1)) | (pos & (r < t0))
        t0 = np.where(neg & ~reject & (r > t0), r, t0)
        t1 = np.where(pos & ~reject & (r < t1), r, t1)
    survive = ~reject
    q0 = G.round_half_away(
        np.stack([x0 + t0 * dx, y0 + t0 * dy], axis=1)).astype(np.int64)
    q1 = G.round_half_away(
        np.stack([x0 + t1 * dx, y0 + t1 * dy], axis=1)).astype(np.int64)
    path_first = s_local == 0
    prev_surv = np.zeros(S, dtype=bool)
    prev_surv[1:] = survive[:-1]
    prev_t1 = np.ones(S)
    prev_t1[1:] = t1[:-1]
    cur_empty = path_first | ~prev_surv | (prev_t1 < 1.0)
    newpiece = survive & ((t0 > 0.0) | cur_empty)
    prev_q1 = np.empty_like(q1)
    prev_q1[1:] = q1[:-1]
    prev_q1[0] = 0
    ref = np.where(newpiece[:, None], q0, prev_q1)
    emit_q1 = survive & (q1 != ref).any(axis=1)
    n_pieces = int(newpiece.sum())
    if n_pieces == 0:
        return _apply_path_keep(b, ~line_sel)
    piece_id = np.cumsum(newpiece) - 1
    piece_len = np.ones(n_pieces, dtype=np.int64)
    np.add.at(piece_len, piece_id[emit_q1], 1)
    # gather piece points: q0 of piece-start segments + emitted q1s,
    # ordered by (segment, q0-before-q1)
    q0_rows = np.flatnonzero(newpiece)
    q1_rows = np.flatnonzero(emit_q1)
    seg_rep = np.concatenate([q0_rows, q1_rows])
    kind_rep = np.concatenate([
        np.zeros(len(q0_rows), dtype=np.int8), np.ones(len(q1_rows), dtype=np.int8),
    ])
    order = np.lexsort((kind_rep, seg_rep))
    seg_s = seg_rep[order]
    pool = np.where((kind_rep[order] == 0)[:, None], q0[seg_s], q1[seg_s])
    keep_piece = piece_len >= 2
    piece_feat = b.pfeat[li[srid[q0_rows]]]
    kp = np.flatnonzero(keep_piece)
    if len(kp) == 0:
        return _apply_path_keep(b, ~line_sel)
    # pool is piece-contiguous in piece_id order (points sorted by
    # segment): kept-piece point mask is a plain repeat
    pool_kept = pool[np.repeat(keep_piece, piece_len)]
    return _splice(
        b,
        keep_old=~(line_sel | drop_only),
        new_feat=piece_feat[kp],
        new_sub=np.arange(n_pieces, dtype=np.int64)[kp],
        new_lens=piece_len[kp],
        new_pool=pool_kept,
        new_ptype=np.full(len(kp), PT_LINE, dtype=np.int8),
        new_ppoly=np.full(len(kp), -1, dtype=np.int64),
        new_pfirst=np.zeros(len(kp), dtype=bool),
    )


# ---------------------------------------------------------------------------
# Sutherland-Hodgman ring/box clip (K4 — quick_clip_ring role,
# clipper.hpp:199-222)
# ---------------------------------------------------------------------------

def _sh_pass(ptsf: np.ndarray, plen: np.ndarray, axis: int, bound: float,
             keep_ge: bool):
    """One SH half-plane pass over float64 ragged rings (wrap-closed).
    Zero-length paths stay zero. Returns (new ptsf, new plen)."""
    nz = plen > 0
    if not nz.any():
        return ptsf, plen
    lens = plen[nz]
    starts = _starts_of(lens)
    P = len(ptsf)
    pid = np.repeat(np.arange(len(lens)), lens)
    gpos = np.arange(P)
    prev = gpos - 1
    prev[starts] = starts + lens - 1
    v = ptsf[:, axis]
    inside = (v >= bound) if keep_ge else (v <= bound)
    prev_in = inside[prev]
    emit_ix = inside != prev_in
    emit_p = inside
    cnt = emit_ix.astype(np.int64) + emit_p.astype(np.int64)
    new_sub = np.add.reduceat(cnt, starts)
    out_total = int(cnt.sum())
    new_len = np.zeros(len(plen), dtype=np.int64)
    new_len[nz] = new_sub
    if out_total == 0:
        return np.empty((0, 2)), new_len
    off = np.cumsum(cnt) - cnt
    out = np.empty((out_total, 2), dtype=np.float64)
    ix_rows = np.flatnonzero(emit_ix)
    if len(ix_rows):
        a = ptsf[prev[ix_rows]]
        c = ptsf[ix_rows]
        if axis == 0:
            t = (bound - a[:, 0]) / (c[:, 0] - a[:, 0])
            ix = np.stack(
                [np.full(len(ix_rows), bound), a[:, 1] + t * (c[:, 1] - a[:, 1])],
                axis=1,
            )
        else:
            t = (bound - a[:, 1]) / (c[:, 1] - a[:, 1])
            ix = np.stack(
                [a[:, 0] + t * (c[:, 0] - a[:, 0]), np.full(len(ix_rows), bound)],
                axis=1,
            )
        out[off[ix_rows]] = ix
    p_rows = np.flatnonzero(emit_p)
    out[off[p_rows] + emit_ix[p_rows]] = ptsf[p_rows]
    return out, new_len


def clip_rings_sh(pts: np.ndarray, plen: np.ndarray, box):
    """4-pass SH clip of int64 ragged OPEN rings (closing dup already
    stripped) against a box, matching geometry.quick_clip_ring: float64
    passes, half-away rounding, dedup, closing strip, < 3 -> empty.
    Returns (int64 pts, plen) with zero lens for dead rings."""
    minx, miny, maxx, maxy = (float(v) for v in box)
    ptsf = pts.astype(np.float64)
    for axis, bound, ge in (
        (0, minx, True), (0, maxx, False), (1, miny, True), (1, maxy, False),
    ):
        ptsf, plen = _sh_pass(ptsf, plen, axis, bound, ge)
    # < 3 raw points -> empty (before rounding, like the scalar)
    small = (plen > 0) & (plen < 3)
    if small.any():
        nzm = plen > 0
        ptsf = ptsf[np.repeat((plen >= 3)[nzm], plen[nzm])]
        plen = np.where(small, 0, plen)
    if len(ptsf) == 0:
        return _EMPTY_PTS, np.zeros(len(plen), dtype=np.int64)
    ipts = G.round_half_away(ptsf).astype(np.int64)
    nz = plen > 0
    keep, kcnt = _dedup_strip_arrays(ipts, plen[nz], np.ones(int(nz.sum()), bool))
    ipts = ipts[keep]
    newlen = np.zeros(len(plen), dtype=np.int64)
    newlen[nz] = kcnt
    # post-dedup < 3 -> empty
    small2 = (newlen > 0) & (newlen < 3)
    if small2.any():
        nz2 = newlen > 0
        keep2 = np.repeat((newlen >= 3)[nz2], newlen[nz2])
        ipts = ipts[keep2]
        newlen = np.where(newlen < 3, 0, newlen)
    return ipts, newlen


# ---------------------------------------------------------------------------
# Polygon stage: winding/area/dedup (+SH when crossing), fill-check,
# assembly order (clipper.hpp:172-238 + _assemble_polygons)
# ---------------------------------------------------------------------------

def process_polygons(b: Batch, fkind: np.ndarray, finside: np.ndarray,
                     clip_box, area_threshold: float,
                     stats: dict | None, force_resolve: bool = False):
    """Returns (new batch, eject_feature_rows). Ring survival mirrors
    _clip_polygon_rings[_inside] with process_all_rings=False; polygons
    whose surviving rings need the boolean fill resolver are ejected to
    the scalar pipeline per feature."""
    rings = b.ptype == PT_RING
    if not rings.any():
        return b, []
    R = len(b.plen)
    ring_alive = rings.copy()
    poly_fail: set = set()

    # (a) < 3 points (post-simplify): first ring -> polygon fails
    short = rings & (b.plen < 3)
    if short.any():
        for pg in np.unique(b.ppoly[short & b.pfirst]):
            poly_fail.add(int(pg))
        ring_alive &= ~short

    # (b) area threshold + winding normalization on pre-clip points
    areas = ring_areas(b)
    small = rings & (np.abs(areas) < float(area_threshold))
    if (small & b.pfirst & ring_alive).any():
        for pg in np.unique(b.ppoly[small & b.pfirst & ring_alive]):
            poly_fail.add(int(pg))
    ring_alive &= ~small
    rev = ring_alive & ((b.pfirst & (areas < 0)) | (~b.pfirst & (areas > 0)))
    reverse_paths(b, rev)

    # (c) canonicalize: inside rings dedup+strip; crossing rings strip
    # closing dup then SH clip then dedup+strip
    inside_ring = ring_alive & finside[b.pfeat]
    crossing_ring = ring_alive & ~finside[b.pfeat]

    pid = b.pids()
    keep_pts = np.ones(len(b.pts), dtype=bool)
    new_plen = b.plen.copy()

    if inside_ring.any():
        keep_i, kcnt_i = _dedup_strip_arrays(
            b.pts, b.plen, np.ones(R, dtype=bool)
        )
        m = inside_ring[pid]
        keep_pts[m] = keep_i[m]
        new_plen[inside_ring] = kcnt_i[inside_ring]

    cross_rows = np.flatnonzero(crossing_ring)
    cross_pool = _EMPTY_PTS
    cross_lens = _EMPTY_I
    if len(cross_rows):
        starts = b.starts()
        # extract crossing ring points
        cmask = crossing_ring[pid]
        cpts = b.pts[cmask]
        clens = b.plen[cross_rows]
        # strip closing dup (pre-SH, quick_clip_ring:871-872)
        cstarts = _starts_of(clens)
        closed = (clens > 1) & (
            cpts[cstarts] == cpts[cstarts + clens - 1]
        ).all(axis=1)
        if closed.any():
            drop = np.zeros(len(cpts), dtype=bool)
            drop[(cstarts + clens - 1)[closed]] = True
            cpts = cpts[~drop]
            clens = clens - closed.astype(np.int64)
        cross_pool, cross_lens = clip_rings_sh(cpts, clens, clip_box)

    # apply inside-ring point keeps; remove crossing rings (re-inserted
    # from the SH pool) and rings already dead (short / small-area)
    keep_path = ~crossing_ring & (ring_alive | ~rings)
    b1 = Batch(
        b.pts[keep_pts & keep_path[pid]],
        new_plen[keep_path],
        b.pfeat[keep_path], b.ptype[keep_path],
        b.ppoly[keep_path], b.pfirst[keep_path],
    )
    # re-insert surviving crossing rings (a crossing FEATURE has all its
    # rings here, so _splice's no-mixing invariant holds)
    if len(cross_rows):
        ok_cross = cross_lens >= 3
        # polygon-fail when a FIRST ring died in SH (clip_geom: empty
        # first ring -> return None, clipper.hpp:199-222 + 172-238)
        dead_first = ~ok_cross & b.pfirst[cross_rows]
        for pg in np.unique(b.ppoly[cross_rows[dead_first]]):
            poly_fail.add(int(pg))
        kp = np.flatnonzero(ok_cross)
        if len(kp):
            # pool holds surviving (len>0) rings' pts in cross order
            nzrows = np.flatnonzero(cross_lens > 0)
            sel = np.repeat(np.isin(nzrows, kp), cross_lens[nzrows])
            b1 = _splice(
                b1,
                keep_old=np.ones(len(b1.plen), dtype=bool),
                new_feat=b.pfeat[cross_rows[kp]],
                new_sub=np.arange(len(cross_rows), dtype=np.int64)[kp],
                new_lens=cross_lens[kp],
                new_pool=cross_pool[sel],
                new_ptype=np.full(len(kp), PT_RING, dtype=np.int8),
                new_ppoly=b.ppoly[cross_rows[kp]],
                new_pfirst=b.pfirst[cross_rows[kp]],
            )

    # (d) post-canonicalization < 3 rule on inside rings
    short2 = (b1.ptype == PT_RING) & (b1.plen < 3)
    if short2.any():
        for pg in np.unique(b1.ppoly[short2 & b1.pfirst]):
            poly_fail.add(int(pg))
        b1 = _apply_path_keep(b1, ~short2)

    # (e) polygon failure propagation: failed polys lose all rings
    if poly_fail:
        failed = np.isin(b1.ppoly, np.fromiter(poly_fail, dtype=np.int64))
        b1 = _apply_path_keep(b1, ~(failed & (b1.ptype == PT_RING)))

    # assembly invariant check: int rings with no surviving ext in their
    # poly are dropped (first-ring death w/o poly-fail cannot happen with
    # process_all_rings=False, but keep the guard cheap)
    ring_rows = np.flatnonzero(b1.ptype == PT_RING)
    if len(ring_rows):
        has_first = np.zeros(int(b1.ppoly.max()) + 2, dtype=bool)
        firsts = b1.ppoly[ring_rows[b1.pfirst[ring_rows]]]
        has_first[firsts] = True
        orphan = ring_rows[~has_first[b1.ppoly[ring_rows]]]
        if len(orphan):
            alive = np.ones(len(b1.plen), dtype=bool)
            alive[orphan] = False
            b1 = _apply_path_keep(b1, alive)
        ring_rows = np.flatnonzero(b1.ptype == PT_RING)

    # (f) fill-resolution routing per polygon -> eject whole features
    ejects: list[int] = []
    if len(ring_rows):
        if force_resolve:
            # strictly_simple: every under-budget polygon takes the
            # resolver (the reference processor's default routes all
            # rings through wagyu, processor.hpp:61) — no predicate run
            polys, _ppos, over = _poly_budget(b1, ring_rows)
            needs = ~over
        else:
            polys, needs, over = needs_fill_resolution_batch(b1, ring_rows)
        ejected_feats = np.empty(0, dtype=np.int64)
        if needs.any():
            bad_polys = polys[needs]
            ejected_feats = np.unique(
                b1.pfeat[np.isin(b1.ppoly, bad_polys) & (b1.ptype == PT_RING)]
            )
            ejects = [int(f) for f in ejected_feats]
        if over.any() and stats is not None:
            # attribute over-budget counts, but not for ejected features
            # (their scalar rerun counts them again); also record the
            # feature row of each over-budget poly so multi-tile callers
            # can attribute counts per tile
            over_polys = polys[over]
            rr = np.flatnonzero(
                (b1.ptype == PT_RING) & np.isin(b1.ppoly, over_polys)
            )
            if len(ejected_feats):
                rr = rr[~np.isin(b1.pfeat[rr], ejected_feats)]
            op, oi = np.unique(b1.ppoly[rr], return_index=True)
            n_over = len(op)
            if n_over:
                stats["budget_exceeded"] = stats.get("budget_exceeded", 0) + n_over
                stats.setdefault("budget_exceeded_feats", []).extend(
                    int(f) for f in b1.pfeat[rr[oi]]
                )
        if len(ejected_feats):
            b1 = _apply_path_keep(b1, ~np.isin(b1.pfeat, ejected_feats))
    return b1, ejects


# ---------------------------------------------------------------------------
# Polygon fill-resolution check (clipper.hpp:226-231 routing decision)
# ---------------------------------------------------------------------------

def _poly_budget(b: Batch, poly_rows: np.ndarray):
    """The distinct ppoly among poly_rows (surviving ring paths), each
    ring row's index into them, and which polygons are over
    RESOLVE_VERTEX_BUDGET -> (polys, ppos, over)."""
    polys = np.unique(b.ppoly[poly_rows])
    ppos = np.searchsorted(polys, b.ppoly[poly_rows])
    totals = np.zeros(len(polys), dtype=np.int64)
    np.add.at(totals, ppos, b.plen[poly_rows])
    return polys, ppos, totals > G.RESOLVE_VERTEX_BUDGET


def needs_fill_resolution_batch(b: Batch, poly_rows: np.ndarray):
    """For each distinct ppoly among poly_rows (surviving ring paths):
    does the polygon need the boolean fill resolver? Every under-budget
    polygon goes through booleans.rings_cross in one call (one group
    per polygon); polygons over RESOLVE_VERTEX_BUDGET stay on the fast
    path. Returns (polys, needs, over_budget) — the caller attributes
    over_budget to stats, skipping ejected features (whose scalar rerun
    re-counts them)."""
    polys, ppos, over = _poly_budget(b, poly_rows)
    if len(polys) == 0:
        return polys, over, over
    keep = np.flatnonzero(~over[ppos])
    sel = keep[np.argsort(ppos[keep], kind="stable")]  # rings grouped by polygon
    slen = b.plen[poly_rows[sel]]
    starts = b.starts()[poly_rows[sel]]
    # the rings back to back: point k of ring r is b.pts[starts[r] + k]
    seg_ring = np.repeat(np.arange(len(sel)), slen)
    gather = starts[seg_ring] + np.arange(int(slen.sum())) - (np.cumsum(slen) - slen)[seg_ring]
    needs = rings_cross(b.pts[gather], slen, ppos[sel], len(polys))
    return polys, needs, over


# ---------------------------------------------------------------------------
# Command-stream emission (K5/K8 — encoder_pbf.ipp:73-179)
# ---------------------------------------------------------------------------

def emit_commands(b: Batch, fkind: np.ndarray):
    """Final canonical batch -> (feat_rows, gtypes, flat_cmds uint64,
    feat_cmd_lens). Requires: point paths len 1; mpoint >= 1; line >= 2
    deduped; ring >= 3 deduped open. Cursor resets per FEATURE (MVT
    spec; encode_geometry is called with a fresh cursor per feature)."""
    R = len(b.plen)
    if R == 0:
        return (_EMPTY_I, _EMPTY_I, np.empty(0, dtype=np.uint64), _EMPTY_I)
    L = b.plen
    is_mp = b.ptype == PT_MPOINT
    is_pt = b.ptype == PT_POINT
    is_lr = (b.ptype == PT_LINE) | (b.ptype == PT_RING)
    is_ring = b.ptype == PT_RING
    cmd_len = np.empty(R, dtype=np.int64)
    cmd_len[is_pt] = 3
    cmd_len[is_mp] = 1 + 2 * L[is_mp]
    cmd_len[is_lr] = 2 * L[is_lr] + 2 + is_ring[is_lr]
    out_off = np.cumsum(cmd_len) - cmd_len
    out = np.zeros(int(cmd_len.sum()), dtype=np.uint64)
    # headers
    mp_rows = np.flatnonzero(is_mp)
    out[out_off[mp_rows]] = ((L[mp_rows] << 3) | 1).astype(np.uint64)
    out[out_off[~is_mp]] = 9
    lr_rows = np.flatnonzero(is_lr)
    out[out_off[lr_rows] + 3] = (((L[lr_rows] - 1) << 3) | 2).astype(np.uint64)
    ring_rows = np.flatnonzero(is_ring)
    out[out_off[ring_rows] + cmd_len[ring_rows] - 1] = 15
    # deltas: chained within feature, reset at feature starts
    pid = b.pids()
    starts = b.starts()
    local = np.arange(len(b.pts)) - starts[pid]
    feat_first_path = np.zeros(R, dtype=bool)
    feat_first_path[0] = True
    feat_first_path[1:] = b.pfeat[1:] != b.pfeat[:-1]
    prev_pts = np.empty_like(b.pts)
    prev_pts[1:] = b.pts[:-1]
    prev_pts[0] = 0
    prev_pts[starts[feat_first_path]] = 0
    deltas = b.pts - prev_pts
    zz = zigzag32(deltas.reshape(-1)).reshape(-1, 2).astype(np.uint64)
    slot = out_off[pid] + 1 + 2 * local + (is_lr[pid] & (local > 0))
    out[slot] = zz[:, 0]
    out[slot + 1] = zz[:, 1]
    fb = np.flatnonzero(feat_first_path)
    feat_rows = b.pfeat[fb]
    feat_cmd_lens = np.add.reduceat(cmd_len, fb)
    fk = fkind[feat_rows]
    gt = np.where(fk == FK_POLY, 3, np.where(fk == FK_LINE, 2, 1))
    return feat_rows, gt.astype(np.int64), out, feat_cmd_lens


# ---------------------------------------------------------------------------
# Orchestrator
# ---------------------------------------------------------------------------

def encode_batch(
    geoms: list,
    vt: "G.ViewTransform",
    clip_box,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.1,
    stats: dict | None = None,
    force_resolve: bool = False,
):
    """encode_batch_gpack over (kind, val) world geometries (gunpack
    output), packed first. Returns (feat_rows, gtypes, flat_cmds,
    feat_cmd_lens, eject_rows): eject_rows (sorted, unique) are features
    the caller must run through the scalar pipeline (geometry
    collections + fill-resolver polygons)."""
    return encode_batch_gpack(
        [G.gpack(g) for g in geoms], vt, clip_box, simplify_distance,
        area_threshold, stats, force_resolve,
    )


def encode_batch_gpack(
    blobs,
    vt,
    clip_box,
    simplify_distance: float = 0.0,
    area_threshold: float = 0.1,
    stats: dict | None = None,
    force_resolve: bool = False,
):
    """Full vectorized transform->simplify->clip->encode for a batch of
    geometry.gpack blobs, parsed straight into the ragged arrays by
    build_gpack. Returns (feat_rows, gtypes, flat_cmds, feat_cmd_lens,
    eject_rows): eject_rows (sorted, unique) are features the caller
    must run through the scalar pipeline (geometry collections +
    fill-resolver polygons)."""
    b, fkind, ejects, F = build_gpack(blobs, vt)
    return _encode_batch_core(
        b, fkind, ejects, F, clip_box, simplify_distance,
        area_threshold, stats, force_resolve,
    )


def _encode_batch_core(
    b: Batch,
    fkind: np.ndarray,
    ejects: list,
    n_features: int,
    clip_box,
    simplify_distance: float,
    area_threshold: float,
    stats: dict | None,
    force_resolve: bool = False,
):
    finside = feature_inside(b, n_features, clip_box)
    b = simplify(b, simplify_distance)
    # multipoints and lines: consecutive dedup (clip_geom[_inside] and
    # clip_line both dedup first)
    b = dedup_paths(
        b, (b.ptype == PT_MPOINT) | (b.ptype == PT_LINE), strip_rings=False
    )
    # lines < 2 after dedup die (both inside and crossing semantics)
    b = _apply_path_keep(b, ~((b.ptype == PT_LINE) & (b.plen < 2)))
    # crossing lines: Liang-Barsky box clip
    crossing_line = (b.ptype == PT_LINE) & ~finside[b.pfeat]
    b = clip_lines(b, crossing_line, clip_box)
    # polygons
    b, fill_ejects = process_polygons(
        b, fkind, finside, clip_box, area_threshold, stats,
        force_resolve=force_resolve,
    )
    ejects = sorted(set(ejects) | set(fill_ejects))
    feat_rows, gtypes, cmds, clens = emit_commands(b, fkind)
    return feat_rows, gtypes, cmds, clens, ejects


# ---------------------------------------------------------------------------
# Direct gpack-wire -> ragged construction (skips gunpack tuples)
# ---------------------------------------------------------------------------

# gpack codes (geometry._GP_KINDS order)
_GPC_EMPTY, _GPC_POINT, _GPC_MPOINT, _GPC_LINE, _GPC_MLINE = 0, 1, 2, 3, 4
_GPC_POLY, _GPC_MPOLY = 5, 6


def build_gpack(blobs, vt):
    """Parse a column of geometry.gpack blobs into a quantized Batch.

    Wire format (geometry.gpack): [code u8][nr u32le][ring point counts
    u32le * nr][ring->part ids u32le * nr][coords f64le]. Single-ring
    features (the dominant tile shape) parse fully vectorized; nr>1
    features take a small per-feature lane and are spliced back in
    feature order.

    Quantizes every coordinate in one pass (transform_visitor semantics,
    src/vector_tile_strategy.hpp:44-56: out-of-range points dropped) and
    applies the per-kind validity rules of geometry.transform_geom.
    vt: a G.ViewTransform (one tile), OR a (ox, oy, sx, sy) tuple of
    per-FEATURE float64 arrays — the multi-tile form used by the
    segmented batch encoder (px=(x-ox)*sx, py=(oy-y)*sy, then
    std::round + hiRange mask, bit-identical to ViewTransform.forward
    when ox=minx, oy=maxy, sx=sy=extent/tile_size).

    Returns (batch, fkind, ejects, n_features): ejects are the geometry
    collection rows, which keep the scalar pipeline."""
    F = len(blobs)
    fkind = np.zeros(F, dtype=np.int8)
    if F == 0:
        return (
            Batch(_EMPTY_PTS, _EMPTY_I, _EMPTY_I,
                  np.empty(0, np.int8), _EMPTY_I, _EMPTY_B),
            fkind, [], 0,
        )
    blob_list = [bytes(x) for x in blobs]
    lens = np.fromiter((len(x) for x in blob_list), dtype=np.int64, count=F)
    buf = np.frombuffer(b"".join(blob_list), dtype=np.uint8)
    boffs = np.cumsum(lens) - lens
    codes = buf[boffs].astype(np.int64)
    # geometry collections (gpack code 8, nested tree header) keep the
    # scalar pipeline
    coll = codes == G._GP_COLLECTION
    gc_ejects = np.flatnonzero(coll).tolist()
    present = (codes != _GPC_EMPTY) & ~coll
    nr = np.zeros(F, dtype=np.int64)
    pr = np.flatnonzero(present)
    if len(pr):
        o = boffs[pr]
        nr[pr] = (
            buf[o + 1].astype(np.int64)
            | (buf[o + 2].astype(np.int64) << 8)
            | (buf[o + 3].astype(np.int64) << 16)
            | (buf[o + 4].astype(np.int64) << 24)
        )
    single = present & (nr == 1)
    multi = present & (nr > 1)

    # --- vectorized single-ring lane -------------------------------------
    srows = np.flatnonzero(single)
    npts = (lens[srows] - 13) // 16
    # transform_geom's validity rules: lines need >=2 pts, rings >=3,
    # any >=1
    c = codes[srows]
    keep = np.where(
        (c == _GPC_LINE) | (c == _GPC_MLINE), npts >= 2,
        np.where((c == _GPC_POLY) | (c == _GPC_MPOLY), npts >= 3, npts >= 1),
    )
    srows, npts, c = srows[keep], npts[keep], c[keep]
    R1 = len(srows)
    ptype1 = np.where(
        c == _GPC_POINT, PT_POINT,
        np.where(c == _GPC_MPOINT, PT_MPOINT,
                 np.where((c == _GPC_LINE) | (c == _GPC_MLINE), PT_LINE, PT_RING)),
    ).astype(np.int8)
    pfirst1 = ptype1 == PT_RING
    # coords byte gather: f64 pairs start at blob+13
    nbytes = npts * 16
    bstart = boffs[srows] + 13
    tot_b = int(nbytes.sum())
    gpid = np.repeat(np.arange(R1), nbytes)
    glocal = np.arange(tot_b) - (np.cumsum(nbytes) - nbytes)[gpid]
    coord_bytes = buf[bstart[gpid] + glocal]
    coords1 = np.frombuffer(coord_bytes.tobytes(), dtype="<f8").reshape(-1, 2)
    fk1 = np.where(
        c == _GPC_POINT, FK_POINT,
        np.where(c == _GPC_MPOINT, FK_MPOINT,
                 np.where((c == _GPC_LINE) | (c == _GPC_MLINE), FK_LINE, FK_POLY)),
    ).astype(np.int8)
    fkind[srows] = fk1

    b1 = Batch(
        coords1, npts.copy(), srows.copy(), ptype1,
        np.where(pfirst1, np.arange(R1), -1).astype(np.int64), pfirst1,
    )

    # --- per-feature multi-ring lane (rare shapes) ------------------------
    if multi.any():
        mrows = np.flatnonzero(multi)
        m_pool: list[np.ndarray] = []
        m_len: list[int] = []
        m_feat: list[int] = []
        m_sub: list[int] = []
        m_type: list[int] = []
        m_poly: list[int] = []
        m_first: list[bool] = []
        polyctr = R1  # continue unique poly ids past the single lane
        data = b"".join(blob_list)
        for i in mrows:
            o = int(boffs[i])
            k = int(codes[i])
            n_r = int(nr[i])
            counts = np.frombuffer(data, dtype="<u4", count=n_r, offset=o + 5).astype(np.int64)
            parts = np.frombuffer(data, dtype="<u4", count=n_r, offset=o + 5 + 4 * n_r)
            coords = np.frombuffer(
                data, dtype="<f8", count=int(counts.sum()) * 2, offset=o + 5 + 8 * n_r
            ).reshape(-1, 2)
            offs = np.cumsum(counts) - counts
            sub = 0
            if k == _GPC_MLINE:
                ok_any = False
                for j in range(n_r):
                    if counts[j] < 2:
                        continue
                    m_pool.append(coords[offs[j]: offs[j] + counts[j]])
                    m_len.append(int(counts[j])); m_feat.append(int(i))
                    m_sub.append(sub); sub += 1
                    m_type.append(PT_LINE); m_poly.append(-1); m_first.append(False)
                    ok_any = True
                if ok_any:
                    fkind[i] = FK_LINE
            elif k in (_GPC_POLY, _GPC_MPOLY):
                # split rings into polygons by part id runs (gpack used
                # all-zero parts for single polygons)
                added = False
                jj = 0
                while jj < n_r:
                    pe = jj + 1
                    while pe < n_r and parts[pe] == parts[jj]:
                        pe += 1
                    if counts[jj] >= 3:
                        first = True
                        for j in range(jj, pe):
                            if not first and counts[j] < 3:
                                continue
                            m_pool.append(coords[offs[j]: offs[j] + counts[j]])
                            m_len.append(int(counts[j])); m_feat.append(int(i))
                            m_sub.append(sub); sub += 1
                            m_type.append(PT_RING); m_poly.append(polyctr)
                            m_first.append(first)
                            first = False
                        polyctr += 1
                        added = True
                    jj = pe
                if added:
                    fkind[i] = FK_POLY
            else:
                raise ValueError(f"unexpected multi-ring gpack code {k}")
        if m_feat:
            b1 = _splice(
                b1,
                keep_old=np.ones(len(b1.plen), dtype=bool),
                new_feat=np.asarray(m_feat, dtype=np.int64),
                new_sub=np.asarray(m_sub, dtype=np.int64),
                new_lens=np.asarray(m_len, dtype=np.int64),
                new_pool=np.concatenate(m_pool) if m_pool else np.empty((0, 2)),
                new_ptype=np.asarray(m_type, dtype=np.int8),
                new_ppoly=np.asarray(m_poly, dtype=np.int64),
                new_pfirst=np.asarray(m_first, dtype=bool),
            )

    # --- quantize ---------------------------------------------------------
    coords = b1.pts
    if len(coords):
        if isinstance(vt, G.ViewTransform):
            px, ok = G.quantize(coords, vt)
        else:
            ox, oy, sx, sy = vt
            fpt = np.repeat(b1.pfeat, b1.plen)
            fx = (coords[:, 0] - ox[fpt]) * sx[fpt]
            fy = (oy[fpt] - coords[:, 1]) * sy[fpt]
            pxf = G.round_half_away(np.stack([fx, fy], axis=1))
            ok = (
                (pxf[:, 0] > G.COORD_MIN) & (pxf[:, 0] < G.COORD_MAX)
                & (pxf[:, 1] > G.COORD_MIN) & (pxf[:, 1] < G.COORD_MAX)
            )
            px = np.clip(pxf, G.COORD_MIN, G.COORD_MAX).astype(np.int64)
    else:
        px, ok = _EMPTY_PTS, _EMPTY_B
    b2 = Batch(px, b1.plen, b1.pfeat, b1.ptype, b1.ppoly, b1.pfirst)
    if len(ok) and not ok.all():
        b2 = _apply_point_keep(b2, ok)
        b2 = _revalidate_after_pointdrop(b2, fkind)
    return b2, fkind, gc_ejects, F
