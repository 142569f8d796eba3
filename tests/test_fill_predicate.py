"""Generated-batch parity for the one fill-resolution predicate.

booleans.rings_cross answers "do this polygon's rings cross?" for many
polygons in one call (one candidate-pair grid per polygon). Both
production lanes use it: ragged.needs_fill_resolution_batch with every
polygon of a batch, and geometry._needs_fill_resolution with one. Each
per-polygon answer is checked against geometry._needs_fill_resolution_scalar,
the pure-float reference, on seeded batches of convex and tangled
rings, holes that cross or touch their exterior, double-wound bridges,
T-junction vertex touches and rings with a repeated vertex, from 4 to
~600 vertices. Simple polygons that overlap in space share one batch
and must not flag each other.
"""

from __future__ import annotations

import numpy as np
import pytest

from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import ragged as R
from mapnik_vector_tile_spark.functions.booleans import rings_cross


def _convex(rng, n, cx=0.0, cy=0.0, r=None, cw=False):
    """Simple n-gon on integer coordinates (jittered regular polygon)."""
    r = max(200.0, 4.0 * n) if r is None else r
    a = (np.arange(n) + rng.uniform(0.0, 0.5, n)) * (2.0 * np.pi / n)
    ring = np.rint(np.c_[cx + r * np.cos(a), cy + r * np.sin(a)])
    return ring[::-1].copy() if cw else ring


def _tangled(rng, n):
    return _convex(rng, n)[rng.permutation(n)]


def _hole_polygon(rng, kind):
    n = int(rng.integers(4, 80))
    ext = _convex(rng, n, r=1000.0)
    if kind == "inside":
        return [ext, _convex(rng, int(rng.integers(3, 40)), 50.0, -30.0, 300.0, cw=True)]
    if kind == "crossing":
        return [ext, _convex(rng, int(rng.integers(3, 40)), 900.0, 0.0, 300.0, cw=True)]
    # a hole with an edge on the exterior's edge (collinear overlap)
    # or one vertex on it (a T-junction touch)
    sq = np.array([[0, 0], [1000, 0], [1000, 1000], [0, 1000]], float)
    if kind == "shared_edge":
        return [sq, np.array([[0, 200], [0, 600], [300, 600], [300, 200]], float)]
    return [sq, np.array([[0, 500], [300, 700], [300, 300]], float)]


def _bridge():
    """Keyhole: outer square, inner square wound the other way, joined
    by a bridge walked in both directions (coincident segments)."""
    return [np.array([
        [0, 0], [100, 0], [100, 100], [0, 100], [0, 50], [30, 50],
        [30, 70], [70, 70], [70, 30], [30, 30], [30, 50], [0, 50],
    ], float)]


def _t_junction():
    """One vertex of the ring touches a non-adjacent edge's interior."""
    return [np.array([[0, 0], [100, 0], [100, 100], [50, 0], [0, 100]], float)]


def _repeated_vertex(rng):
    ring = _convex(rng, int(rng.integers(5, 40)))
    return [np.insert(ring, 2, ring[2], axis=0)]


def _generated(seed):
    """Seeded list of polygons (each a list of rings), some needing
    resolution and some not, in shuffled order."""
    rng = np.random.default_rng(seed)
    polys = []
    for _ in range(12):
        polys.append([_convex(rng, int(rng.integers(4, 600)))])
        polys.append([_tangled(rng, int(rng.integers(4, 600)))])
    for n in (4, 5, 8, 16, 17, 60):
        polys.append([_convex(rng, n)])
        polys.append([_tangled(rng, n)])
    for kind in ("inside", "crossing", "shared_edge", "touch") * 2:
        polys.append(_hole_polygon(rng, kind))
    polys += [_bridge(), _t_junction()]
    polys += [_repeated_vertex(rng) for _ in range(4)]
    return [polys[i] for i in rng.permutation(len(polys))]


def _batch_answers(polys):
    pts = np.concatenate([r for p in polys for r in p])
    lens = [len(r) for p in polys for r in p]
    group = np.repeat(np.arange(len(polys)), [len(p) for p in polys])
    return rings_cross(pts, lens, group, len(polys))


def _ragged_answers(polys):
    """needs_fill_resolution_batch over a Batch holding every polygon,
    one feature each, with a leading line path that is not a ring."""
    paths = [np.array([[0, 0], [5, 5]], float)]
    ptype, ppoly, pfeat, pfirst = [R.PT_LINE], [-1], [0], [False]
    for pi, p in enumerate(polys):
        for k, ring in enumerate(p):
            paths.append(ring)
            ptype.append(R.PT_RING)
            ppoly.append(10 * pi + 3)
            pfeat.append(pi + 1)
            pfirst.append(k == 0)
    b = R.Batch(
        np.concatenate(paths).astype(np.int64),
        np.array([len(x) for x in paths], dtype=np.int64),
        np.array(pfeat, dtype=np.int64),
        np.array(ptype, dtype=np.int8),
        np.array(ppoly, dtype=np.int64),
        np.array(pfirst, dtype=bool),
    )
    ids, needs, over = R.needs_fill_resolution_batch(b, np.flatnonzero(b.ptype == R.PT_RING))
    assert list(ids) == [10 * pi + 3 for pi in range(len(polys))]
    assert not over.any()
    return needs


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_one_predicate_matches_scalar_reference(seed):
    polys = _generated(seed)
    ref = np.array([G._needs_fill_resolution_scalar(p) for p in polys])
    assert 0 < ref.sum() < len(ref)
    assert (_batch_answers(polys) == ref).all()
    assert (_ragged_answers(polys) == ref).all()
    single = [G._needs_fill_resolution([("ext", r) for r in p]) for p in polys]
    assert single == list(ref)


def test_fixed_cases():
    rng = np.random.default_rng(0)
    cases = {
        "bridge": (_bridge(), True),
        "shared_edge": (_hole_polygon(rng, "shared_edge"), True),
        "crossing_hole": (_hole_polygon(rng, "crossing"), True),
        "inside_hole": (_hole_polygon(rng, "inside"), False),
        "convex_600": ([_convex(rng, 600)], False),
    }
    for name, (p, want) in cases.items():
        assert G._needs_fill_resolution_scalar(p) is want, name
        assert bool(_batch_answers([p])[0]) is want, name
    # the sign test is conservative at a T-junction: whatever the
    # reference says, the predicate says the same
    t = _t_junction()
    assert bool(_batch_answers([t])[0]) == G._needs_fill_resolution_scalar(t)


def test_overlapping_simple_polygons_do_not_flag_each_other():
    """Simple polygons stacked on one spot (rings of one polygon cross
    rings of the others everywhere) with one bowtie among them: only
    the bowtie needs resolution."""
    rng = np.random.default_rng(7)
    polys = []
    for _ in range(40):
        n = int(rng.integers(4, 300))
        polys.append([_convex(rng, n, cx=rng.uniform(-50, 50), cy=rng.uniform(-50, 50),
                              r=float(rng.uniform(300, 1500)))])
    polys.append([_convex(rng, 120, r=1000.0), _convex(rng, 30, r=400.0, cw=True)])
    bowtie = [np.array([[0, 0], [800, 800], [800, 0], [0, 800]], float)]
    polys.insert(17, bowtie)
    want = np.zeros(len(polys), dtype=bool)
    want[17] = True
    assert (np.array([G._needs_fill_resolution_scalar(p) for p in polys]) == want).all()
    assert (_batch_answers(polys) == want).all()
    assert (_ragged_answers(polys) == want).all()


def test_force_resolve_skips_the_predicate(monkeypatch):
    """Under strictly_simple (force_resolve) every under-budget polygon
    takes the resolver whatever the predicate would say, so the batch
    does not run it; without force_resolve it runs once per batch."""
    rng = np.random.default_rng(5)
    vt = G.ViewTransform(0.0, 0.0, 4096.0, 4096.0, 4096, 4096)
    box = (-8, -8, 4104, 4104)
    rings = [_convex(rng, n, cx=2048.0, cy=2048.0, r=1000.0) for n in (5, 40, 300)]
    rings.append(_tangled(rng, 60) + 2048.0)
    blobs = [G.gpack(("polygon", [r])) for r in rings]
    calls = []
    real = R.rings_cross

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(R, "rings_cross", counting)
    *_, ejects = R.encode_batch_gpack(blobs, vt, box, force_resolve=True)
    assert calls == []
    assert list(ejects) == [0, 1, 2, 3]
    *_, ejects = R.encode_batch_gpack(blobs, vt, box)
    assert len(calls) == 1
    assert list(ejects) == [3]
