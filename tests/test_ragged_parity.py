"""Ragged vectorized kernel (functions/ragged.py) vs the scalar
pipeline (transform_geom -> simplify_geom -> clip_geom[_inside] ->
encode_geometry): per-feature byte parity over a fuzz corpus.

The scalar twin below makes the calls of the production eject lane,
encode._scalar_geom_feature (operators/encode.py) — the behavior the
vector path must reproduce exactly."""

from __future__ import annotations

import numpy as np
import pytest

from mapnik_vector_tile_spark.functions import commands as Cmd
from mapnik_vector_tile_spark.functions import geometry as G
from mapnik_vector_tile_spark.functions import ragged as RG


def scalar_pipeline(geoms, vt, clip_box, simplify_distance, area_threshold,
                    stats=None):
    """encode._scalar_geom_feature per feature, verbatim semantics."""
    cx0, cy0, cx1, cy1 = clip_box
    out = {}
    for i, geom in enumerate(geoms):
        tg0 = G.transform_geom(geom, vt)
        if tg0[0] == "empty":
            continue
        bbox = G._geom_px_bbox(tg0)
        if simplify_distance > 0:
            tg0 = G.simplify_geom(tg0, simplify_distance)
            if tg0[0] == "empty":
                continue
        inside = (
            bbox is not None
            and bbox[0] >= cx0 and bbox[1] >= cy0
            and bbox[2] <= cx1 and bbox[3] <= cy1
            and tg0[0] != "geometrycollection"
        )
        if inside:
            tg = G.clip_geom_inside(tg0, area_threshold=area_threshold, stats=stats)
        else:
            tg = G.clip_geom(tg0, clip_box, area_threshold=area_threshold, stats=stats)
        gtype, cmds = Cmd.encode_geometry(tg)
        if gtype is None:
            continue
        out[i] = (gtype, list(cmds))
    return out


def ragged_pipeline(geoms, vt, clip_box, simplify_distance, area_threshold,
                    stats=None):
    feat_rows, gtypes, cmds, clens, ejects = RG.encode_batch(
        geoms, vt, clip_box, simplify_distance, area_threshold, stats
    )
    out = {}
    off = 0
    for r, gt, ln in zip(feat_rows, gtypes, clens):
        out[int(r)] = (int(gt), [int(v) for v in cmds[off : off + ln]])
        off += ln
    return out, set(ejects)


def compare(geoms, vt, clip_box, simplify_distance=0.0, area_threshold=0.1):
    s_stats: dict = {}
    r_stats: dict = {}
    scalar = scalar_pipeline(
        geoms, vt, clip_box, simplify_distance, area_threshold, s_stats
    )
    vec, ejects = ragged_pipeline(
        geoms, vt, clip_box, simplify_distance, area_threshold, r_stats
    )
    for i in sorted(set(scalar) | set(vec)):
        if i in ejects:
            assert i not in vec
            continue  # ejected features rerun the scalar path by design
        assert (i in scalar) == (i in vec), (
            f"feature {i}: scalar={'present' if i in scalar else 'absent'} "
            f"vec={'present' if i in vec else 'absent'} geom={geoms[i]}"
        )
        if i in scalar:
            sg, sc = scalar[i]
            vg, vc = vec[i]
            assert sg == vg, (i, sg, vg, geoms[i])
            assert sc == vc, (i, sc, vc, geoms[i])
    return ejects


EXTENT = 4096
VT = G.ViewTransform(0.0, 0.0, 4096.0, 4096.0, EXTENT, EXTENT)  # identity-ish
CLIP = (-8, -8, EXTENT + 8, EXTENT + 8)


def _rand_line(rng, n, lo=-500, hi=4600):
    return rng.integers(lo, hi, size=(n, 2)).astype(np.float64)


def _rand_ring(rng, n, cx, cy, r):
    ang = np.sort(rng.random(n)) * 2 * np.pi
    pts = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    pts = np.round(pts)
    return np.vstack([pts, pts[:1]])  # closed


def _square(cx, cy, s):
    return np.array(
        [[cx, cy], [cx + s, cy], [cx + s, cy + s], [cx, cy + s], [cx, cy]],
        dtype=np.float64,
    )


def test_points_and_multipoints():
    rng = np.random.default_rng(0)
    geoms = []
    for _ in range(50):
        geoms.append(("point", rng.integers(-500, 4600, size=2).astype(np.float64)))
        geoms.append(("multipoint", _rand_line(rng, int(rng.integers(1, 8)))))
    # duplicate-heavy multipoint
    geoms.append(("multipoint", np.array([[5, 5], [5, 5], [9, 9], [5, 5]], dtype=float)))
    compare(geoms, VT, CLIP)


def test_linestrings_inside_and_crossing():
    rng = np.random.default_rng(1)
    geoms = []
    for _ in range(120):
        n = int(rng.integers(2, 25))
        if rng.random() < 0.5:
            geoms.append(("linestring", _rand_line(rng, n, 10, 4000)))  # inside
        else:
            geoms.append(("linestring", _rand_line(rng, n, -3000, 8000)))  # crossing
    # dup-heavy + degenerate
    geoms.append(("linestring", np.array([[7, 7], [7, 7]], dtype=float)))
    geoms.append(("linestring", np.array([[7, 7], [7, 7], [9, 9]], dtype=float)))
    geoms.append(("multilinestring", [
        _rand_line(rng, 5, 10, 4000),
        np.array([[3, 3], [3, 3]], dtype=float),
        _rand_line(rng, 3, -3000, 8000),
    ]))
    compare(geoms, VT, CLIP)
    compare(geoms, VT, CLIP, simplify_distance=4.0)


def test_polygons_inside_and_crossing():
    rng = np.random.default_rng(2)
    geoms = []
    for _ in range(120):
        n = int(rng.integers(3, 20))
        if rng.random() < 0.5:
            cx, cy, r = rng.integers(600, 3500), rng.integers(600, 3500), rng.integers(3, 400)
        else:
            cx, cy, r = rng.integers(-800, 5000), rng.integers(-800, 5000), rng.integers(50, 3000)
        ring = _rand_ring(rng, n, float(cx), float(cy), float(r))
        if rng.random() < 0.3:
            hole = _rand_ring(rng, max(3, n // 2), float(cx), float(cy), float(r) * 0.3)
            geoms.append(("polygon", [ring, hole]))
        else:
            geoms.append(("polygon", [ring]))
    # tiny-area / degenerate / reversed-winding cases
    geoms.append(("polygon", [_square(100, 100, 0)]))           # zero area
    geoms.append(("polygon", [_square(100, 100, 1)]))
    geoms.append(("polygon", [_square(100, 100, 50)[::-1]]))    # CW exterior
    geoms.append(("polygon", [np.array([[0, 0], [5, 5], [10, 10], [0, 0]], dtype=float)]))  # collinear
    compare(geoms, VT, CLIP)
    compare(geoms, VT, CLIP, simplify_distance=3.0)


def test_multipolygons_and_mixed():
    rng = np.random.default_rng(3)
    geoms = []
    for _ in range(60):
        polys = []
        for _p in range(int(rng.integers(1, 4))):
            cx, cy = rng.integers(-500, 4600, size=2)
            r = int(rng.integers(4, 900))
            ring = _rand_ring(rng, int(rng.integers(3, 12)), float(cx), float(cy), float(r))
            if rng.random() < 0.3:
                polys.append([ring, _rand_ring(rng, 4, float(cx), float(cy), r * 0.3)])
            else:
                polys.append([ring])
        geoms.append(("multipolygon", polys))
        geoms.append(("point", rng.integers(0, 4096, size=2).astype(np.float64)))
        geoms.append(("linestring", _rand_line(rng, int(rng.integers(2, 9)))))
    compare(geoms, VT, CLIP, simplify_distance=2.0)


def test_bowtie_ejects_to_scalar():
    # asymmetric bowtie: self-intersecting with NONZERO area (a symmetric
    # one has area 0 and dies at the threshold before the fill check)
    bow = np.array([[0, 0], [100, 100], [100, 0], [0, 80], [0, 0]], dtype=float)
    geoms = [
        ("polygon", [bow + 500]),                 # self-intersecting -> eject
        ("polygon", [_square(1000, 1000, 100)]),  # simple -> vectorized
    ]
    ejects = compare(geoms, VT, CLIP)
    assert 0 in ejects and 1 not in ejects


def test_geometrycollection_ejects():
    # the line member clips away entirely -> the collection collapses to
    # its point member (collections that STAY collections raise in
    # encode_geometry, reference encoder_visitor parity — both paths)
    geoms = [
        ("geometrycollection", [
            ("point", np.array([10.0, 10.0])),
            ("linestring", np.array([[-9000.0, -9000.0], [-8000.0, -8000.0]])),
        ]),
        ("point", np.array([99.0, 99.0])),
    ]
    ejects = compare(geoms, VT, CLIP)
    assert 0 in ejects


def test_budget_exceeded_stats_parity(monkeypatch):
    rng = np.random.default_rng(4)
    # double-wound big ring exceeding the (lowered backstop) resolve
    # budget -> stats, no eject; parity between scalar and ragged paths
    monkeypatch.setattr(G, "RESOLVE_VERTEX_BUDGET", 4096)
    n = G.RESOLVE_VERTEX_BUDGET + 64
    ang = np.linspace(0, 4 * np.pi, n, endpoint=False)
    ring = np.stack([2000 + 900 * np.cos(ang), 2000 + 900 * np.sin(ang)], axis=1)
    ring = np.round(np.vstack([ring, ring[:1]]))
    geoms = [("polygon", [ring])]
    s_stats: dict = {}
    r_stats: dict = {}
    scalar_pipeline(geoms, VT, CLIP, 0.0, 0.1, s_stats)
    ragged_pipeline(geoms, VT, CLIP, 0.0, 0.1, r_stats)
    assert s_stats.get("budget_exceeded", 0) == r_stats.get("budget_exceeded", 0) == 1


def test_out_of_range_coordinate_drops():
    big = float(2**40)
    geoms = [
        ("linestring", np.array([[10.0, 10.0], [big, big], [50.0, 50.0]])),
        ("point", np.array([big, big])),
        ("multipoint", np.array([[big, big], [7.0, 7.0]])),
        ("polygon", [np.array([[0, 0], [big, 0], [100, 100], [0, 100], [0, 0]], dtype=float)]),
    ]
    compare(geoms, VT, CLIP)


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_mixed_everything(seed):
    rng = np.random.default_rng(100 + seed)
    geoms = []
    for _ in range(150):
        k = rng.integers(0, 7)
        if k == 0:
            geoms.append(("point", rng.integers(-2000, 7000, size=2).astype(float)))
        elif k == 1:
            geoms.append(("multipoint", _rand_line(rng, int(rng.integers(1, 6)), -2000, 7000)))
        elif k == 2:
            geoms.append(("linestring", _rand_line(rng, int(rng.integers(2, 40)), -2000, 7000)))
        elif k == 3:
            geoms.append(("multilinestring", [
                _rand_line(rng, int(rng.integers(2, 15)), -2000, 7000)
                for _ in range(int(rng.integers(1, 4)))
            ]))
        elif k == 4:
            cx, cy = rng.integers(-1500, 6500, size=2)
            r = int(rng.integers(2, 2500))
            geoms.append(("polygon", [
                _rand_ring(rng, int(rng.integers(3, 25)), float(cx), float(cy), float(r))
            ]))
        elif k == 5:
            polys = []
            for _p in range(int(rng.integers(1, 3))):
                cx, cy = rng.integers(-1500, 6500, size=2)
                r = int(rng.integers(2, 1200))
                rings = [_rand_ring(rng, int(rng.integers(3, 15)), float(cx), float(cy), float(r))]
                if rng.random() < 0.4:
                    rings.append(_rand_ring(rng, 5, float(cx), float(cy), r * 0.4))
                polys.append(rings)
            geoms.append(("multipolygon", polys))
        else:
            geoms.append(("empty", None))
    sd = float(rng.choice([0.0, 1.0, 3.0, 8.0]))
    compare(geoms, VT, CLIP, simplify_distance=sd)
