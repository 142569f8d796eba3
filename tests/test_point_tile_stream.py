"""build_point_tiles: one clustered exchange, and hot tiles encoded in
bounded pieces inside the kernel.

A tile past ``hot_threshold`` rows is encoded by the task that holds it,
as the reference builds a tile in one pass
(vector_tile_processor.ipp:82-174), but piece by piece as its rows
arrive. These tests pin what that must keep: the decoded features of a
hot tile equal those of a one-piece encode (nulls dropped as the
reference drops them, vector_tile_layer.ipp:90-91), no piece encoder
call sees more than ``hot_threshold`` rows, and the call itself plans
one exchange, runs no job and persists nothing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapnik_vector_tile_spark import tilemath
from mapnik_vector_tile_spark.operators import assign as A
from mapnik_vector_tile_spark.operators import decode as D
from mapnik_vector_tile_spark.operators import encode as E

PROPS = ["image_id", "caption"]
T = 50  # hot threshold of the kernel tests


def _tile_points(z: int, x: int, y: int, n: int, first_id: int, rng) -> pd.DataFrame:
    """n rows strictly inside tile (z, x, y), ids ascending; every 7th
    caption is null."""
    minx, miny, maxx, maxy = (float(v) for v in tilemath.tile_mercator_bbox_np(x, y, z))
    ids = np.arange(first_id, first_id + n)
    return pd.DataFrame({
        "z": np.full(n, z, dtype=np.int32),
        "x": np.full(n, x, dtype=np.int64),
        "y": np.full(n, y, dtype=np.int64),
        "image_id": [f"im-{i:06d}" for i in ids],
        "caption": [None if i % 7 == 0 else f"cap {i % 5}" for i in ids],
        "mx": minx + (maxx - minx) * rng.uniform(0.01, 0.99, n),
        "my": miny + (maxy - miny) * rng.uniform(0.01, 0.99, n),
    })


def _stream() -> pd.DataFrame:
    """Cold tiles around one hot tile of 230 rows, sorted as the
    clustered exchange delivers them."""
    rng = np.random.default_rng(7)
    parts, first = [], 0
    for (x, y), n in [((10, 20), 30), ((10, 21), 9), ((11, 5), 230), ((11, 6), 44),
                      ((12, 0), 1), ((12, 1), 25)]:
        parts.append(_tile_points(12, x, y, n, first, rng))
        first += n
    return pd.concat(parts, ignore_index=True)


def _run(frames, **kw) -> pd.DataFrame:
    kernel = E.point_tile_kernel(PROPS, **kw)
    return pd.concat(list(kernel(iter(frames))), ignore_index=True)


def _features(rows: pd.DataFrame) -> dict:
    """(z, x, y) -> decoded (wkt, props) in stored order, the rows of a
    key concatenated in output order."""
    out: dict = {}
    for r in rows.itertuples():
        key = (int(r.z), int(r.x), int(r.y))
        dec = D.decode_tile_rows(*key, bytes(r.tile))
        out.setdefault(key, []).extend((d[6], dict(d[7])) for d in dec)
    return out


def _frames(pdf: pd.DataFrame, size: int) -> list[pd.DataFrame]:
    return [pdf.iloc[i : i + size].reset_index(drop=True) for i in range(0, len(pdf), size)]


@pytest.mark.parametrize("frame_rows", [17, 10_000])
@pytest.mark.parametrize("prechunk", [False, True])
def test_kernel_streams_hot_tile_in_bounded_pieces(monkeypatch, frame_rows, prechunk):
    """A hot tile split across many small frames (cold tiles straddling
    them), or whole inside one frame: every piece encode gets at most T
    rows, and the decoded features equal a one-piece encode's."""
    pdf = _stream()
    hot_key = (12, 11, 5)
    one_piece = _run([pdf], hot_threshold=10**9)
    assert len(one_piece) == 6  # one row per tile
    want = _features(one_piece)

    seen: list[int] = []
    piece, cold = E._hot_piece, E._encode_tiles_segmented

    def hot_piece(p, *a):
        seen.append(len(p))
        return piece(p, *a)

    def segmented(p, *a):
        sizes = p.groupby(["z", "x", "y"]).size()
        if hot_key in sizes.index:
            seen.append(int(sizes[hot_key]))
        return cold(p, *a)

    monkeypatch.setattr(E, "_hot_piece", hot_piece)
    monkeypatch.setattr(E, "_encode_tiles_segmented", segmented)
    got_rows = _run(_frames(pdf, frame_rows), hot_threshold=T, prechunk_hot=prechunk)

    assert max(seen) <= T and sum(seen) == 230 and len(seen) == 5
    hot = got_rows[[tuple(k) == hot_key for k in got_rows[["z", "x", "y"]].to_numpy()]]
    if prechunk:
        assert len(hot) == 5 and (hot["n_features"] <= T).all()
        assert hot["painted"].all() and (hot["n_layers"] == 1).all()
    else:
        assert len(hot) == 1
    assert int(hot["n_features"].sum()) == 230
    assert len(got_rows) - len(hot) == 5  # the cold tiles, one row each
    assert _features(got_rows) == want


def test_kernel_never_splits_at_or_under_threshold(monkeypatch):
    """hot_threshold <= 0 never splits, and a tile of exactly
    hot_threshold rows stays on the cold lane, byte for byte."""
    pdf = _stream()
    one_piece = _run([pdf], hot_threshold=10**9)
    monkeypatch.setattr(E, "_hot_piece", None)  # any piece encode fails
    for kw in ({"hot_threshold": 0}, {"hot_threshold": 230}):
        got = _run(_frames(pdf, 17), **kw)
        pd.testing.assert_frame_equal(
            got.sort_values(["x", "y"]).reset_index(drop=True),
            one_piece.sort_values(["x", "y"]).reset_index(drop=True),
        )


def test_prechunk_pieces_stay_under_hot_bytes(monkeypatch):
    """A prechunk piece that would reach HOT_BYTES (explode_hot_tiles'
    split size) is cut until every stored piece is under it; the pieces
    still decode to the one-piece encode's features."""
    pdf = _stream()
    want = _features(_run([pdf], hot_threshold=10**9))
    monkeypatch.setattr(E, "HOT_BYTES", 400)
    got = _run(_frames(pdf, 17), hot_threshold=T, prechunk_hot=True)
    hot = got[(got["x"] == 11) & (got["y"] == 5)]
    assert len(hot) > 5  # T-row pieces alone would give 5
    assert hot["tile"].map(len).max() < 400
    assert int(hot["n_features"].sum()) == 230
    assert _features(got) == want


@pytest.mark.parametrize("dtype", ["float64", "Int64"])
def test_kernel_hot_piece_with_all_null_numeric_column(dtype):
    """A nullable numeric property (float64 as Arrow hands a nullable
    long to pandas, or pandas' own Int64) that is null on every row of
    one piece, followed by a string property: the pieces decode to the
    one-piece encode's properties, key presence included."""
    props = ["image_id", "score", "caption"]
    pdf = _stream()
    hot = (pdf["x"] == 11) & (pdf["y"] == 5)
    rank = hot.cumsum() - 1  # row index within the hot tile
    score = pd.Series(np.arange(len(pdf)) * (0.25 if dtype == "float64" else 3)).astype(dtype)
    pdf["score"] = score.mask(hot & (rank >= T) & (rank < 2 * T))
    pdf = pdf[["z", "x", "y", *props, "mx", "my"]]
    kernel = E.point_tile_kernel(props, hot_threshold=10**9)
    want = _features(pd.concat(list(kernel(iter([pdf]))), ignore_index=True))
    assert sum("score" not in p for _, p in want[(12, 11, 5)]) == T
    for prechunk in (False, True):
        kernel = E.point_tile_kernel(props, hot_threshold=T, prechunk_hot=prechunk)
        got = pd.concat(list(kernel(iter(_frames(pdf, 17)))), ignore_index=True)
        assert _features(got) == want


def _null_caption_points(spark, n: int = 40):
    lon = 13.40 + 0.0001 * np.arange(n)
    lat = 52.52 + 0.0001 * np.arange(n)
    pdf = pd.DataFrame({
        "image_id": [f"im-{i:03d}" for i in range(n)],
        "caption": [None if i % 3 == 0 else f"cap-{i}" for i in range(n)],
        "lon": lon,
        "lat": lat,
    })
    x, y = tilemath.lonlat_to_tile_np(lon, lat, 10)
    assert len(set(zip(x, y))) == 1  # one z10 tile
    return spark.createDataFrame(pdf, "image_id string, caption string, lon double, lat double")


def _decoded_props(tiles) -> dict:
    """image_id -> decoded props, absent keys absent."""
    props = [dict(m) for m in D.decode_tiles(tiles).toPandas()["props"]]
    assert len(props) == 40
    return {p["image_id"]: p for p in props}


@pytest.mark.parametrize("prechunk", [False, True])
def test_hot_tile_drops_null_properties(spark, prechunk):
    """A null property is dropped from the feature (key absent), on the
    hot path as on the cold one."""
    assigned = A.assign_tiles(_null_caption_points(spark), 10)

    def props(threshold):
        return _decoded_props(E.build_point_tiles(
            assigned, prop_cols=PROPS, order_col="image_id",
            hot_threshold=threshold, prechunk_hot=prechunk,
        ))

    cold = props(10**9)
    assert sum("caption" not in p for p in cold.values()) == 14
    assert props(5) == cold


def test_build_point_tiles_is_one_lazy_exchange(spark):
    """The call launches no Spark job, persists nothing (also after an
    action) and plans exactly one Exchange, with a hot tile present."""
    sc = spark.sparkContext
    assigned = A.assign_tiles(_null_caption_points(spark), 10)
    persisted = sc._jsc.getPersistentRDDs().size()
    group = "test-build-point-tiles-lazy"
    sc.setJobGroup(group, "build_point_tiles probe")
    try:
        tiles = E.build_point_tiles(
            assigned, prop_cols=PROPS, order_col="image_id", hot_threshold=5,
        )
        launched = list(sc.statusTracker().getJobIdsForGroup(group))
        plan = tiles._jdf.queryExecution().executedPlan().toString()
        n = tiles.agg(F.sum("n_features")).collect()[0][0]
        after_action = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert launched == []
    assert after_action, "the action's jobs must show in the group"
    assert n == 40
    assert sc._jsc.getPersistentRDDs().size() == persisted
    assert plan.count("Exchange") == 1, plan
