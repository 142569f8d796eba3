"""Polygon fill-rule resolution (U1/U2 — the role of Wagyu's union,
src/vector_tile_geometry_clipper.hpp:47-63,226-231).

Given a batch of closed rings (already box-clipped, int64 tile space)
and a fill rule (even_odd / non_zero / positive / negative), produce
the resolved polygon set:

  1. split every segment at its intersections with every other segment
     (snap-rounded to the integer grid, like Wagyu);
  2. classify each resulting edge by the fill-rule state of the region
     on each side (winding / crossing counts of a point slightly off
     the edge midpoint, measured against the ORIGINAL rings);
  3. keep edges whose sides differ (boundary of the filled set),
     oriented so the filled region lies to the LEFT;
  4. walk faces (most-clockwise-turn successor) to reassemble rings;
     ring orientation then distinguishes exteriors (CCW, positive
     area) from holes.

Step 1 and the clipper's routing predicate (rings_cross: do any two
segments of a polygon meet?) share one pair enumerator,
candidate_pairs, so both cost ~O(E) on real rings; the clipper still
gates the resolver behind a vertex budget and falls back to the
winding-normalization fast path above it.
"""

from __future__ import annotations

import numpy as np


def _segments(rings: list[np.ndarray]):
    """rings -> (P0, P1) segment endpoint arrays, zero-length dropped."""
    p0s, p1s = [], []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) >= 2 and not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[0]])
        if len(r) < 2:
            continue
        a, b = r[:-1], r[1:]
        keep = (a != b).any(axis=1)
        p0s.append(a[keep])
        p1s.append(b[keep])
    if not p0s:
        return np.empty((0, 2)), np.empty((0, 2))
    return np.concatenate(p0s), np.concatenate(p1s)


def candidate_pairs(P0: np.ndarray, P1: np.ndarray, group: np.ndarray | None = None):
    """Grid-binned candidate segment pairs (I < J): every genuinely
    intersecting or overlapping pair shares at least one covered grid
    cell (cell coverage = all cells touching the segment bbox), so the
    exact tests downstream see every real hit while skipping the
    quadratic bulk. Long segments covering > 64 cells are tested against
    everything in their group (rare; keeps the expansion bounded).

    group (optional, non-decreasing per segment) keeps pairs within a
    group: each group gets its own grid over its own bbox, about four
    segments per cell, so a 4-segment ring is one cell (all pairs)."""
    E = len(P0)
    if E < 2:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    gstart = np.zeros(1, np.int64)
    if group is not None:
        gstart = np.concatenate([gstart, np.flatnonzero(group[1:] != group[:-1]) + 1])
    gsize = np.concatenate([gstart[1:], [E]]) - gstart
    seg_g = np.repeat(np.arange(len(gstart)), gsize)
    mins = np.minimum(P0, P1)
    maxs = np.maximum(P0, P1)
    lo = np.minimum.reduceat(mins, gstart, axis=0)[seg_g]
    hi = np.maximum.reduceat(maxs, gstart, axis=0)[seg_g]
    gn = np.maximum(1, np.ceil(np.sqrt(gsize / 4.0)).astype(np.int64))
    g = gn[seg_g][:, None]
    cw = np.maximum(hi - lo, 1e-9) / g
    # mins, maxs >= lo: only the top edge needs clamping
    c0 = np.minimum(((mins - lo) / cw).astype(np.int64), g - 1)
    c1 = np.minimum(((maxs - lo) / cw).astype(np.int64), g - 1)
    ncell = (c1[:, 0] - c0[:, 0] + 1) * (c1[:, 1] - c0[:, 1] + 1)
    big = ncell > 64
    small = np.flatnonzero(~big)
    bigs = np.flatnonzero(big)
    pairs_i: list[np.ndarray] = []
    pairs_j: list[np.ndarray] = []
    if len(small):
        nc = ncell[small]
        segs = np.repeat(small, nc)
        # enumerate covered cells row-major within each segment's rect;
        # cell ids of group k start after the cells of groups < k
        off = np.cumsum(nc) - nc
        loc = np.arange(int(nc.sum())) - off[np.repeat(np.arange(len(small)), nc)]
        w = (c1[small, 0] - c0[small, 0] + 1)
        wrep = np.repeat(w, nc)
        cx = c0[segs, 0] + loc % wrep
        cy = c0[segs, 1] + loc // wrep
        cell_base = np.cumsum(gn * gn) - gn * gn
        cell = cell_base[seg_g[segs]] + cy * g[segs, 0] + cx
        order = np.argsort(cell, kind="stable")
        cell_s = cell[order]
        seg_s = segs[order]
        # within-cell pairs (i < j by position; map to segment ids)
        bound = np.flatnonzero(np.diff(cell_s)) + 1
        block_start = np.concatenate([[0], bound])
        block_len = np.diff(np.append(block_start, len(cell_s)))
        blk = np.repeat(np.arange(len(block_start)), block_len)
        posg = np.arange(len(cell_s))
        cnt = (block_start[blk] + block_len[blk] - 1) - posg
        T = int(cnt.sum())
        if T:
            I0 = np.repeat(posg, cnt)
            coff = np.cumsum(cnt) - cnt
            J0 = np.arange(T) - coff[I0] + I0 + 1
            a = seg_s[I0]
            b = seg_s[J0]
            ii = np.minimum(a, b)
            jj = np.maximum(a, b)
            keep = ii != jj
            pairs_i.append(ii[keep])
            pairs_j.append(jj[keep])
    if len(bigs):
        # big segments vs everything in their group
        n = gsize[seg_g[bigs]]
        bi = np.repeat(bigs, n)
        boff = np.cumsum(n) - n
        bj = np.repeat(gstart[seg_g[bigs]] - boff, n) + np.arange(int(n.sum()))
        ii = np.minimum(bi, bj)
        jj = np.maximum(bi, bj)
        keep = ii != jj
        pairs_i.append(ii[keep])
        pairs_j.append(jj[keep])
    if not pairs_i:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    I = np.concatenate(pairs_i)
    J = np.concatenate(pairs_j)
    key = I * E + J
    uk = np.unique(key)
    return (uk // E).astype(np.int64), (uk % E).astype(np.int64)


# candidate pairs per exact-test block: the pair-side temporaries take
# ~200 bytes a pair, so a block stays near 200 MB whatever the input
_PAIR_BLOCK = 1 << 20


def rings_cross(pts: np.ndarray, ring_len: np.ndarray, ring_group: np.ndarray,
                ngroups: int) -> np.ndarray:
    """The fill-resolution predicate (the clipper.hpp:226-231 routing
    decision) for many polygons in one call: per group (polygon), do any
    two of its segments properly cross or overlap collinearly?

    pts holds the open rings back to back (ring_len each); ring_group
    (non-decreasing) names each ring's polygon. Segments i < j of one
    polygon meet when the sign test says they cross, or when j lies on
    i's line with an interior parameter overlap; adjacent segments of
    one ring (wrap-around pair included) never count. Same answers as
    geometry._needs_fill_resolution_scalar, its test reference."""
    out = np.zeros(ngroups, dtype=bool)
    E = len(pts)
    if E < 2:
        return out
    ring_len = np.asarray(ring_len, dtype=np.int64)
    seg_ring = np.repeat(np.arange(len(ring_len)), ring_len)
    soff = np.cumsum(ring_len) - ring_len
    six = np.arange(E) - soff[seg_ring]
    nring = ring_len[seg_ring]
    P0 = np.asarray(pts, dtype=np.float64)
    P1 = P0[np.where(six + 1 < nring, np.arange(E) + 1, soff[seg_ring])]
    seg_group = np.asarray(ring_group)[seg_ring]
    I, J = candidate_pairs(P0, P1, seg_group)
    for s in range(0, len(I), _PAIR_BLOCK):
        Ii, Jj = I[s:s + _PAIR_BLOCK], J[s:s + _PAIR_BLOCK]
        a0, a1 = P0[Ii], P1[Ii]
        b0, b1 = P0[Jj], P1[Jj]
        ra = a1 - a0
        rb = b1 - b0
        d1 = rb[:, 0] * (a0[:, 1] - b0[:, 1]) - rb[:, 1] * (a0[:, 0] - b0[:, 0])
        d2 = rb[:, 0] * (a1[:, 1] - b0[:, 1]) - rb[:, 1] * (a1[:, 0] - b0[:, 0])
        d3 = ra[:, 0] * (b0[:, 1] - a0[:, 1]) - ra[:, 1] * (b0[:, 0] - a0[:, 0])
        d4 = ra[:, 0] * (b1[:, 1] - a0[:, 1]) - ra[:, 1] * (b1[:, 0] - a0[:, 0])
        hit = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
        # collinear interior overlap (e.g. the coincident bridge pair of
        # a double-wound ring): j on i's line, parameter ranges overlap
        rr = (ra * ra).sum(axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            tb0 = ((b0 - a0) * ra).sum(axis=1) / rr
            tb1 = ((b1 - a0) * ra).sum(axis=1) / rr
        col = ((rr > 0) & (d3 == 0.0) & (d4 == 0.0)
               & (np.maximum(tb0, tb1) > 0.0) & (np.minimum(tb0, tb1) < 1.0))
        di = np.abs(six[Ii] - six[Jj])
        adjacent = (seg_ring[Ii] == seg_ring[Jj]) & ((di <= 1) | (di == nring[Ii] - 1))
        out[seg_group[Ii[(hit | col) & ~adjacent]]] = True
    return out


def _split_params(P0: np.ndarray, P1: np.ndarray) -> list[np.ndarray]:
    """Per segment i: sorted split parameters in [0, 1] — proper
    crossings at interior parameters, collinear overlaps at the other
    segment's interior endpoints — over the grid-binned candidate pairs
    (the r1 resolver did this with a Python double loop, which capped
    the vertex budget at 512)."""
    E = len(P0)
    r = P1 - P0
    rr = (r * r).sum(axis=1)
    out: list[list[float]] = [[] for _ in range(E)]
    I, J = candidate_pairs(P0, P1)
    if len(I) == 0:
        return [np.array([0.0, 1.0]) for _ in range(E)]
    for s in range(0, len(I), _PAIR_BLOCK):
        Ii, Jj = I[s:s + _PAIR_BLOCK], J[s:s + _PAIR_BLOCK]
        a0 = P0[Ii]
        ra = r[Ii]
        q = P0[Jj] - a0
        sb = r[Jj]
        denom = ra[:, 0] * sb[:, 1] - ra[:, 1] * sb[:, 0]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (q[:, 0] * sb[:, 1] - q[:, 1] * sb[:, 0]) / denom
            u = (q[:, 0] * ra[:, 1] - q[:, 1] * ra[:, 0]) / denom
        nz = denom != 0.0
        ti = nz & (t > 0.0) & (t < 1.0) & (u >= 0.0) & (u <= 1.0)
        uj = nz & (u > 0.0) & (u < 1.0) & (t >= 0.0) & (t <= 1.0)
        for k in np.flatnonzero(ti):
            out[Ii[k]].append(float(t[k]))
        for k in np.flatnonzero(uj):
            out[Jj[k]].append(float(u[k]))
        crossq = q[:, 0] * ra[:, 1] - q[:, 1] * ra[:, 0]
        col = (denom == 0.0) & (crossq == 0.0) & (rr[Ii] > 0) & (rr[Jj] > 0)
        for k in np.flatnonzero(col):
            i, j = int(Ii[k]), int(Jj[k])
            for pnt in (P0[j], P1[j]):
                tv = float((pnt - P0[i]) @ r[i]) / rr[i]
                if 0.0 < tv < 1.0:
                    out[i].append(tv)
            for pnt in (P0[i], P1[i]):
                tv = float((pnt - P0[j]) @ r[j]) / rr[j]
                if 0.0 < tv < 1.0:
                    out[j].append(tv)
    return [np.array(sorted(set([0.0, 1.0] + ts))) for ts in out]


def _slab_winding_crossings(pts: np.ndarray, P0: np.ndarray, P1: np.ndarray):
    """y-slab accelerated ray-cast winding/crossings: each probe only
    meets segments whose y-span touches its slab. Exact same per-pair
    arithmetic as the dense path."""
    M = len(pts)
    wn = np.zeros(M, dtype=np.int64)
    cr = np.zeros(M, dtype=np.int64)
    E = len(P0)
    if E == 0 or M == 0:
        return wn, cr
    ymin = np.minimum(P0[:, 1], P1[:, 1])
    ymax = np.maximum(P0[:, 1], P1[:, 1])
    lo = min(float(ymin.min()), float(pts[:, 1].min()))
    hi = max(float(ymax.max()), float(pts[:, 1].max()))
    g = max(1, int(np.ceil(np.sqrt(E))))
    h = max((hi - lo) / g, 1e-9)
    s0 = np.clip(((ymin - lo) / h).astype(np.int64), 0, g - 1)
    s1 = np.clip(((ymax - lo) / h).astype(np.int64), 0, g - 1)
    nsl = s1 - s0 + 1
    segrep = np.repeat(np.arange(E), nsl)
    off = np.cumsum(nsl) - nsl
    slab_of_seg = s0[segrep] + (np.arange(int(nsl.sum())) - off[segrep])
    order = np.argsort(slab_of_seg, kind="stable")
    slab_s = slab_of_seg[order]
    seg_s = segrep[order]
    slab_start = np.searchsorted(slab_s, np.arange(g))
    slab_end = np.searchsorted(slab_s, np.arange(g), side="right")
    p_slab = np.clip(((pts[:, 1] - lo) / h).astype(np.int64), 0, g - 1)
    cnt = slab_end[p_slab] - slab_start[p_slab]
    T = int(cnt.sum())
    if T == 0:
        return wn, cr
    prow = np.repeat(np.arange(M), cnt)
    poff = np.cumsum(cnt) - cnt
    sidx = seg_s[slab_start[p_slab][prow] + (np.arange(T) - poff[prow])]
    x0 = P0[sidx, 0]
    y0 = P0[sidx, 1]
    x1 = P1[sidx, 0]
    y1 = P1[sidx, 1]
    px = pts[prow, 0]
    py = pts[prow, 1]
    upward = (y0 <= py) & (y1 > py)
    downward = (y0 > py) & (y1 <= py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    hit = xint > px
    np.add.at(wn, prow[upward & hit], 1)
    np.add.at(wn, prow[downward & hit], -1)
    np.add.at(cr, prow[(upward | downward) & hit], 1)
    return wn, cr


def _winding_crossings_many(pts: np.ndarray, rings: list[np.ndarray]):
    """Vectorized (winding numbers, crossing counts) of many points."""
    P0, P1 = _segments(rings)
    M = len(pts)
    wn = np.zeros(M, dtype=np.int64)
    cr = np.zeros(M, dtype=np.int64)
    if len(P0) == 0 or M == 0:
        return wn, cr
    if len(P0) * M > 16_000_000:
        return _slab_winding_crossings(pts, P0, P1)
    x0, y0 = P0[:, 0][None, :], P0[:, 1][None, :]
    x1, y1 = P1[:, 0][None, :], P1[:, 1][None, :]
    block = max(1, min(M, 8_000_000 // max(len(P0), 1)))
    for s in range(0, M, block):
        e = min(M, s + block)
        px, py = pts[s:e, 0][:, None], pts[s:e, 1][:, None]
        upward = (y0 <= py) & (y1 > py)
        downward = (y0 > py) & (y1 <= py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        hit = xint > px
        wn[s:e] = (upward & hit).sum(axis=1) - (downward & hit).sum(axis=1)
        cr[s:e] = ((upward | downward) & hit).sum(axis=1)
    return wn, cr


def _winding_and_crossings(pt, rings):
    """(winding number, crossing count) of pt w.r.t. rings (ray to +x)."""
    wn = 0
    cross = 0
    px, py = float(pt[0]), float(pt[1])
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) >= 2 and not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[0]])
        x0, y0 = r[:-1, 0], r[:-1, 1]
        x1, y1 = r[1:, 0], r[1:, 1]
        upward = (y0 <= py) & (y1 > py)
        downward = (y0 > py) & (y1 <= py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        hit = xint > px
        wn += int(np.sum(upward & hit)) - int(np.sum(downward & hit))
        cross += int(np.sum((upward | downward) & hit))
    return wn, cross


def _filled_many(wn: np.ndarray, cross: np.ndarray, fill_type: str) -> np.ndarray:
    if fill_type == "even_odd":
        return cross % 2 == 1
    if fill_type == "non_zero":
        return wn != 0
    if fill_type == "positive":
        return wn > 0
    if fill_type == "negative":
        return wn < 0
    raise ValueError(fill_type)


def resolve_fill(rings: list[np.ndarray], fill_type: str = "even_odd"):
    """-> list of polygons, each [exterior CCW(+area), holes CW...] in
    int64 coords; [] if nothing is filled."""
    P0, P1 = _segments(rings)
    if len(P0) == 0:
        return []
    # 1. split at intersections (grid-binned candidate pairs)
    ts_per_seg = _split_params(P0, P1)
    pieces = []
    for i, ts in enumerate(ts_per_seg):
        a0, a1 = P0[i], P1[i]
        for t0, t1 in zip(ts[:-1], ts[1:]):
            p = a0 + t0 * (a1 - a0)
            q = a0 + t1 * (a1 - a0)
            pi = np.rint(p).astype(np.int64)
            qi = np.rint(q).astype(np.int64)
            if not np.array_equal(pi, qi):
                pieces.append((pi, qi))

    # dedupe identical undirected pieces (overlapping collinear edges
    # collapse; their sidedness is evaluated against the original rings)
    seen = set()
    uniq = []
    for p, q in pieces:
        key = (tuple(p), tuple(q)) if tuple(p) <= tuple(q) else (tuple(q), tuple(p))
        if key in seen:
            continue
        seen.add(key)
        uniq.append((p.astype(np.float64), q.astype(np.float64)))

    # 2./3. boundary edges, filled side on the left (batched probes)
    boundary = []
    if uniq:
        ps = np.array([p for p, _q in uniq])
        qs = np.array([q for _p, q in uniq])
        mids = (ps + qs) / 2.0
        d = qs - ps
        ln = np.hypot(d[:, 0], d[:, 1])
        ok = ln > 0.0
        nrm = np.zeros_like(d)
        nrm[ok] = np.stack([-d[ok, 1], d[ok, 0]], axis=1) / ln[ok, None]
        eps = 0.25
        wl, cl = _winding_crossings_many(mids + nrm * eps, rings)
        wr, cr_ = _winding_crossings_many(mids - nrm * eps, rings)
        fl = _filled_many(wl, cl, fill_type)
        fr = _filled_many(wr, cr_, fill_type)
        for i in np.flatnonzero(ok & (fl != fr)):
            p, q = ps[i], qs[i]
            a = tuple(np.rint(p).astype(np.int64))
            b = tuple(np.rint(q).astype(np.int64))
            boundary.append((a, b) if fl[i] else (b, a))

    if not boundary:
        return []

    # 4. face walk: at each head vertex choose the most clockwise
    # outgoing edge relative to the incoming direction (keeps the filled
    # region, which is on the left, maximally enclosed)
    out_edges: dict[tuple, list[tuple]] = {}
    for a, b in boundary:
        out_edges.setdefault(a, []).append(b)
    unused = set(boundary)
    rings_out: list[np.ndarray] = []
    import math

    while unused:
        start = next(iter(unused))
        path = [start[0], start[1]]
        unused.discard(start)
        cur = start
        while True:
            a, b = cur
            in_dir = math.atan2(b[1] - a[1], b[0] - a[0])
            best = None
            best_turn = None
            for c in out_edges.get(b, ()):  # candidate successors
                if (b, c) not in unused and (b, c) != start:
                    continue
                out_dir = math.atan2(c[1] - b[1], c[0] - b[0])
                # turn angle in (-pi, pi], measured CCW from incoming
                turn = (out_dir - in_dir + math.pi) % (2 * math.pi) - math.pi
                if turn == -math.pi:  # exclude pure reversal
                    continue
                # most counterclockwise turn hugs the left (filled) face
                if best_turn is None or turn > best_turn:
                    best_turn = turn
                    best = c
            if best is None:
                break
            nxt = (b, best)
            if nxt == start:
                break
            unused.discard(nxt)
            path.append(best)
            cur = nxt
        if len(path) >= 4 and path[0] == path[-1]:
            rings_out.append(np.array(path, dtype=np.int64))
        elif len(path) >= 3 and path[0] != path[-1]:
            # open walk that returned to start implicitly
            if path[0] == path[-1]:
                rings_out.append(np.array(path, dtype=np.int64))

    # orientation classifies exterior/hole; holes attach to the first
    # exterior that contains them
    from mapnik_vector_tile_spark.functions.geometry import ring_area

    exteriors = []
    holes = []
    for r in rings_out:
        (exteriors if ring_area(r) > 0 else holes).append(r)
    polys = [[e] for e in exteriors]
    for h in holes:
        mid = h[0].astype(np.float64) + 0.3  # a point just off a vertex
        placed = False
        for poly in polys:
            wn, cross = _winding_and_crossings(mid, [poly[0]])
            if cross % 2 == 1:
                poly.append(h)
                placed = True
                break
        if not placed and polys:
            polys[0].append(h)
    return polys
