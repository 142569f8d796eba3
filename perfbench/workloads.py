"""The benchmark's workloads: one op each, an oracle built without Spark at
setup, and a traced variant that splits the op into per-layer figures.

tile_build  images -> with_location -> assign_tiles(z13) -> build_point_tiles
            -> count tiles and sum n_features.
tile_read   the tileset this commit wrote at setup -> explode_hot_tiles ->
            decode_tiles_columnar -> count plus a digest of the decoded rows.

The traced run of tile_build also times the spatial-query operators
(pip_join_rect, knn_ring_expansion) on the same points; the traced run of
tile_read also times build_geom_tiles + decode_tiles_gpack on generated
lines and polygons, and the geometry kernels.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

import numpy as np

import inputs
import layers as T

IMAGE_ROWS = 200_000
GEOM_ROWS = 40_000
PROPS = ["image_id", "caption", "fmt"]
ZOOM = 13
# build_point_tiles' default hot threshold is sized for 1M rows (the
# FIXTURES.md bench size, where the hotspot tile holds 300k rows); scale
# it with the row count so the hotspot still takes the salted path
HOT_THRESHOLD = 120_000 * IMAGE_ROWS // 1_000_000
# seed -> window start; keeps image ids at the 12 digits the schema uses
SEED_WINDOWS = 1_000_000
P1, K1 = 2147483629, 48271
P2, K2 = 2147483587, 69621


def _no_span(name: str):
    return contextlib.nullcontext()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(it):
    yield from it


class ImagesWorkload:
    """Shared input handling of the two image workloads."""

    def __init__(self, cache: str, run_dir: str, seed: int):
        self.run_dir = run_dir
        self.traced_failed = 0
        self.seed = seed % SEED_WINDOWS
        self.path, self.cols = inputs.ensure_images(cache, self.seed, IMAGE_ROWS)

    def load(self, spark) -> None:
        from mapnik_vector_tile_spark.sources import images as IMG

        self.spark = spark
        if self.located().count() != IMAGE_ROWS:
            raise RuntimeError("input table has the wrong row count")
        self.lon, self.lat = IMG.location_np(self.cols["image_id"], self.cols["phash"])

    def located(self):
        from mapnik_vector_tile_spark.sources import images as IMG

        return IMG.with_location(self.spark.read.parquet(self.path)).select(
            *PROPS, "lon", "lat")

    def build_tiles(self, located, prechunk_hot: bool = False):
        from mapnik_vector_tile_spark.operators import encode

        return encode.build_point_tiles(
            located, prop_cols=PROPS, order_col="image_id",
            hot_threshold=HOT_THRESHOLD, prechunk_hot=prechunk_hot,
        )

    def check_traced(self, ok: bool, what: str) -> None:
        """Oracle checks of the traced run count as failed ops."""
        if not ok:
            print(f"perfbench: {what}", file=sys.stderr)
            self.traced_failed += 1

    def release(self) -> None:
        """Drop what build_point_tiles persisted.  Spark's cache manager
        keeps a persisted plan until it is unpersisted, and serves any
        later plan equal to it from the cache: without the release every
        op after the first would skip the scan and the cell math."""
        self.spark.catalog.clearCache()


class TileBuild(ImagesWorkload):
    name = "tile_build"

    def setup(self, spark) -> None:
        from mapnik_vector_tile_spark import tilemath

        self.load(spark)
        x, y = tilemath.lonlat_to_tile_np(self.lon, self.lat, ZOOM)
        self.want = (int(np.unique(x * (1 << ZOOM) + y).size), IMAGE_ROWS)

    def op(self, span=_no_span) -> tuple[int, bool]:
        """One op; ``span(name)`` wraps each call into the engine, so the
        traced run times this same path."""
        from pyspark.sql import functions as F

        from mapnik_vector_tile_spark.operators import assign

        with span("sources"):
            located = self.located()
        with span("assign"):
            assigned = assign.assign_tiles(located, ZOOM)
        with span("encode.call"):
            tiles = self.build_tiles(assigned)
        with span("encode.action"):
            r = tiles.agg(F.count("*"), F.sum("n_features")).collect()[0]
        with span("release"):
            self.release()
        got = (int(r[0]), int(r[1] or 0))
        return got[0] + got[1], got == self.want

    def trace(self, tracer: T.Tracer, ops: int) -> dict:
        from mapnik_vector_tile_spark.operators import assign

        for _ in range(ops):
            with tracer.span("op"):
                ok = self.op(tracer.span)[1]
            self.check_traced(ok, "traced tile_build op failed its oracle check")
            with tracer.span("prefix.scan"):
                _noop(self.located())
            with tracer.span("prefix.assign"):
                _noop(assign.assign_tiles(self.located(), ZOOM))
            with tracer.span("prefix.boundary"):
                located = self.located()
                _noop(located.mapInPandas(_identity, located.schema))
        out = {
            "sources.scan_s": tracer.median_s("prefix.scan"),
            "assign.self_s": tracer.median_s("prefix.assign") - tracer.median_s("prefix.scan"),
            "encode.call_s": tracer.median_s("encode.call"),
            # the call's eager counts pass fills the persisted projection
            # (scan + assign) that the action then reads from the cache, so
            # encode's own time is both spans less the scan + assign prefix
            "encode.action_self_s": tracer.median_s("encode.call")
            + tracer.median_s("encode.action") - tracer.median_s("prefix.assign"),
            "boundary.identity_s": tracer.median_s("prefix.boundary")
            - tracer.median_s("prefix.scan"),
            "spark.release_s": tracer.median_s("release"),
        }
        self._kernels(out)
        self._spatial(tracer)
        return out

    def _kernels(self, out: dict) -> None:
        """Point-feature pbf encode and tile deflate, single core, on the
        hotspot tile's own rows and on a sample of encoded tiles."""
        from pyspark.sql import functions as F

        from mapnik_vector_tile_spark import tilemath
        from mapnik_vector_tile_spark.functions import commands, compression, pbf

        hot = (self.cols["idx"] % 10) < 3
        n = int(min(hot.sum(), 50_000))
        x, y = tilemath.lonlat_to_tile_np(self.lon[hot][:n], self.lat[hot][:n], ZOOM)
        mx, my = tilemath.mercator_np(self.lon[hot][:n], self.lat[hot][:n])
        minx, _, _, maxy = tilemath.tile_mercator_bbox_np(x, y, ZOOM)
        ts = tilemath.EARTH_CIRCUMFERENCE / 2.0 ** ZOOM
        px = np.round((mx - minx) / ts * 4096).astype(np.int64)
        py = np.round((maxy - my) / ts * 4096).astype(np.int64)
        zz = np.column_stack([
            commands.zigzag32(np.diff(px, prepend=0)), commands.zigzag32(np.diff(py, prepend=0)),
        ]).astype(np.uint32)
        tags = np.empty((n, 2 * len(PROPS)), dtype=np.int64)
        base = 0
        for j, c in enumerate(PROPS):
            codes = np.unique(self.cols[c][hot][:n], return_inverse=True)[1]
            tags[:, 2 * j] = j
            tags[:, 2 * j + 1] = codes + base
            base += int(codes.max()) + 1
        out["pbf.encode_us_per_feature"] = 1e6 * T.time_per_item(
            lambda: pbf.encode_point_features_packed(tags, zz), n)

        from mapnik_vector_tile_spark.operators import assign

        tiles = self.build_tiles(assign.assign_tiles(self.located(), ZOOM))
        sample = [bytes(r[0]) for r in tiles.where(F.col("n_features") > 0)
                  .select("tile").limit(2000).collect()]
        self.release()
        raw = [compression.decompress(t) for t in sample]
        out["compression.deflate_us_per_tile"] = 1e6 * T.time_per_item(
            lambda: [compression.compress(t) for t in raw], len(raw))

    def _spatial(self, tracer: T.Tracer) -> None:
        """pip_join_rect against the z3 grid and knn_ring_expansion for 100
        query points, each checked against numpy."""
        from pyspark.sql import functions as F

        from mapnik_vector_tile_spark import tilemath
        from mapnik_vector_tile_spark.operators import knn, pip
        from mapnik_vector_tile_spark.sources import images as IMG

        located = self.located()
        bnd = IMG.tile_boundaries(self.spark, zooms=(3,), buffer_px=0)
        for _ in range(3):
            with tracer.span("pip"):
                inside = pip.pip_join_rect(located, bnd, z=3).where(F.col("inside")).count()
        mx, my = tilemath.mercator_np(self.lon, self.lat)
        ts = tilemath.EARTH_CIRCUMFERENCE / 8.0
        h = tilemath.HALF_OF_EQUATOR
        cx = np.clip(np.floor((mx + h) / ts), 0, 7)
        cy = np.clip(np.floor((h - my) / ts), 0, 7)
        want = int(((mx >= -h + cx * ts) & (mx < -h + (cx + 1) * ts)
                    & (my >= h - (cy + 1) * ts) & (my < h - cy * ts)).sum())
        self.check_traced(inside == want, f"pip inside count {inside} != numpy {want}")

        qids = list(self.cols["image_id"][:100])
        queries = located.where(F.col("image_id").isin(qids)).select("image_id", "lon", "lat")
        with tracer.span("knn.call"):
            res = knn.knn_ring_expansion(located, queries, k=5, z=9, query_count=100)
        with tracer.span("knn.action"):
            rows = res.select("query_id", "neighbor_id", "rank").collect()
        got = sorted((r[0], int(r[2]), r[1]) for r in rows)
        self.check_traced(got == self._knn_brute_force(100, 5),
                          "knn result differs from the numpy brute force")
        self.knn_results = len(rows)

    def _knn_brute_force(self, nq: int, k: int) -> list:
        ids = self.cols["image_id"]
        out = []
        for q in range(nq):
            d2 = (self.lon[q] - self.lon) ** 2 + (self.lat[q] - self.lat) ** 2
            d2[q] = np.inf
            kth = np.partition(d2, k - 1)[k - 1]
            cand = np.nonzero(d2 <= kth)[0]
            order = cand[np.lexsort((ids[cand], d2[cand]))][:k]
            out.extend((ids[q], r + 1, ids[j]) for r, j in enumerate(order))
        return sorted(out)

    def layer_jobs(self, tracer: T.Tracer, log: T.EventLog, out: dict, ops: int) -> None:
        enc = {r["group"] for n in ("encode.call", "encode.action") for r in tracer.named(n)}
        out["encode.jobs"] = len(log.jobs(enc)) / ops
        out["encode.task_skew"] = statistics.median(
            log.task_skew({r["group"]}) for r in tracer.named("encode.action"))
        out["pip.self_s"] = tracer.median_s("pip") - out["sources.scan_s"]
        out["knn.call_s"] = tracer.median_s("knn.call")
        knn_groups = {r["group"] for n in ("knn.call", "knn.action") for r in tracer.named(n)}
        out["knn.jobs"] = float(len(log.jobs(knn_groups)))
        out["knn.shuffle_rows_per_result"] = (
            log.total(knn_groups, "shuffle_rows_read") / max(self.knn_results, 1))


class TileRead(ImagesWorkload):
    name = "tile_read"

    def setup(self, spark) -> None:
        self.load(spark)
        self.tileset = os.path.join(self.run_dir, "tileset")
        from mapnik_vector_tile_spark.operators import assign

        self.build_tiles(assign.assign_tiles(self.located(), ZOOM), prechunk_hot=True) \
            .write.mode("overwrite").parquet(self.tileset)
        self.release()
        idx = self.cols["idx"]
        self.want = (IMAGE_ROWS, int(idx.sum()), int(((idx % P1) * K1 % P1).sum()),
                     int(((idx % P2) * K2 % P2).sum()), 0)

    @staticmethod
    def digest(decoded):
        """count, three sums over the row index, and the rows whose caption
        or format disagree with their image id."""
        from pyspark.sql import functions as F

        idx = F.substring("image_id", 4, 12).cast("long")
        bad = (
            (F.length("image_id") != 15)
            | (F.col("caption") != F.concat(F.lit("caption for "), F.col("image_id")))
            | (F.col("fmt") != F.element_at(
                F.array(F.lit("png"), F.lit("webp"), F.lit("jpeg")), (idx % 3 + 1).cast("int")))
        )
        return decoded.agg(
            F.count("*"), F.sum(idx), F.sum((idx % P1) * K1 % P1),
            F.sum((idx % P2) * K2 % P2), F.sum(bad.cast("long")),
        )

    def check(self, row) -> tuple[int, bool]:
        got = tuple(int(v or 0) for v in row)
        return got[0], got == self.want

    def op(self, span=_no_span) -> tuple[int, bool]:
        from mapnik_vector_tile_spark.operators import decode as D

        with span("sources"):
            tiles = self.spark.read.parquet(self.tileset)
        with span("decode.explode_call"):
            exploded = D.explode_hot_tiles(tiles)
        with span("decode.columnar_call"):
            decoded = D.decode_tiles_columnar(exploded, PROPS)
        with span("decode.action"):
            row = self.digest(decoded).collect()[0]
        return self.check(row)

    def trace(self, tracer: T.Tracer, ops: int) -> dict:
        for _ in range(ops):
            with tracer.span("op"):
                ok = self.op(tracer.span)[1]
            self.check_traced(ok, "traced tile_read op failed its oracle check")
            stored = self.spark.read.parquet(self.tileset)
            with tracer.span("prefix.scan"):
                _noop(stored)
            with tracer.span("prefix.boundary"):
                _noop(stored.select("z", "x", "y", "tile").mapInPandas(
                    _identity, "z int, x long, y long, tile binary"))
        out = {
            "sources.scan_s": tracer.median_s("prefix.scan"),
            "decode.explode_call_s": tracer.median_s("decode.explode_call"),
            "decode.self_s": tracer.median_s("decode.action") - tracer.median_s("prefix.scan"),
            "boundary.identity_s": tracer.median_s("prefix.boundary")
            - tracer.median_s("prefix.scan"),
        }
        self._kernels(out)
        self._geometry(tracer, out)
        return out

    def _kernels(self, out: dict) -> None:
        """Columnar pbf decode and tile inflate, single core, on the first
        2000 stored tiles."""
        import glob

        import pandas as pd
        import pyarrow.parquet as pq

        from mapnik_vector_tile_spark.functions import compression
        from mapnik_vector_tile_spark.operators import decode as D

        parts = sorted(glob.glob(os.path.join(self.tileset, "*.parquet")))
        pdf = pd.concat([pq.read_table(p, columns=["z", "x", "y", "tile"]).to_pandas()
                         for p in parts], ignore_index=True)
        pdf = pdf[pdf["tile"].map(len) > 0].head(2000).reset_index(drop=True)
        stored = [bytes(t) for t in pdf["tile"]]
        out["compression.inflate_us_per_tile"] = 1e6 * T.time_per_item(
            lambda: [compression.decompress(t) for t in stored], len(stored))
        raw = pdf.assign(tile=[compression.decompress(t) for t in stored])
        kernel = D.columnar_kernel(PROPS)
        n_feat = sum(len(b) for b in kernel(iter([raw])))
        out["pbf.decode_us_per_feature"] = 1e6 * T.time_per_item(
            lambda: list(kernel(iter([raw]))), n_feat)

    def _geometry(self, tracer: T.Tracer, out: dict) -> None:
        """build_geom_tiles(z6, simplify 2.0) -> decode_tiles_gpack over
        generated lines and polygons, checked against their tile envelopes
        (geom_tiles.self_s is both calls and their action, less the scan);
        then the ragged encode and batch command decode kernels."""
        from pyspark.sql import functions as F

        from mapnik_vector_tile_spark.operators import decode as D, geom_tiles as GT

        cache = os.path.dirname(self.path)
        geoms = self.spark.read.parquet(inputs.ensure_geoms(cache, self.seed, GEOM_ROWS))
        with tracer.span("geom.scan"):
            _noop(geoms)
        with tracer.span("geom_tiles.call"):
            gt = GT.build_geom_tiles(geoms, ["gid"], z=6, simplify_distance=2.0, id_col="gid")
        with tracer.span("geom_tiles.action"):
            rows = D.decode_tiles_gpack(gt).select(
                "z", "x", "y", F.col("props")["gid"]).collect()
        err = check_geom_tiles(rows, self.seed * GEOM_ROWS, GEOM_ROWS)
        self.check_traced(err is None, err)
        out["geom_tiles.self_s"] = (tracer.median_s("geom_tiles.call")
                                    + tracer.median_s("geom_tiles.action")
                                    - tracer.median_s("geom.scan"))
        geometry_kernels(self.seed * GEOM_ROWS, 4000, out)

    def layer_jobs(self, tracer: T.Tracer, log: T.EventLog, out: dict, ops: int) -> None:
        dec = {r["group"] for n in ("decode.explode_call", "decode.columnar_call",
                                     "decode.action") for r in tracer.named(n)}
        out["decode.jobs"] = len(log.jobs(dec)) / ops


Z6 = 64
TILE6 = 2 * inputs.HALF / Z6


def _tile_range(lo, hi):
    return (np.clip(np.floor((lo + inputs.HALF) / TILE6), 0, Z6 - 1).astype(np.int64),
            np.clip(np.floor((hi + inputs.HALF) / TILE6), 0, Z6 - 1).astype(np.int64))


def _geom_frames(start: int, rows: int):
    """First vertex and envelope of each generated geometry (numpy twin of
    inputs.geom_wkts)."""
    i = np.arange(start, start + rows, dtype=np.uint64)
    h = inputs.HALF
    cx = -h * 0.9 + ((i * np.uint64(2654435761)) % np.uint64(2**32)).astype(np.float64) / 2**32 * h * 1.8
    cy = -h * 0.6 + ((i * np.uint64(2246822519)) % np.uint64(2**32)).astype(np.float64) / 2**32 * h * 1.2
    s = h / 64 * np.where(i % np.uint64(10) != 0, 0.02, 1.5)
    w = np.where(i % np.uint64(2) == 0, 2 * s, s)
    return cx, cy, cx + w, cy + s


def check_geom_tiles(rows, start: int, n: int) -> str | None:
    """Every decoded (z, x, y, gid) lies in the gid's envelope tiles, no
    pair repeats, every gid appears, and the tile holding a geometry's
    first vertex (when 8 px or more inside it) holds that geometry."""
    minx, miny, maxx, maxy = _geom_frames(start, n)
    x0, x1 = _tile_range(minx, maxx)
    yy0, yy1 = _tile_range(-maxy, -miny)  # tile rows grow southwards
    seen = set()
    for z, x, y, gid in rows:
        j = int(gid[1:]) - start
        if not (z == 6 and 0 <= j < n and x0[j] <= x <= x1[j] and yy0[j] <= y <= yy1[j]):
            return f"decoded geometry {gid} in unexpected tile {z}/{x}/{y}"
        if (x, y, j) in seen:
            return f"geometry {gid} decoded twice in tile {z}/{x}/{y}"
        seen.add((x, y, j))
    if len({j for _, _, j in seen}) != n:
        return "some generated geometries were not decoded at all"
    px = (minx + inputs.HALF) / TILE6 * 4096  # first vertex = (minx, miny)
    py = (inputs.HALF - miny) / TILE6 * 4096
    fx, fy = np.floor(px / 4096), np.floor(py / 4096)
    deep = ((px - fx * 4096 >= 8) & ((fx + 1) * 4096 - px >= 8)
            & (py - fy * 4096 >= 8) & ((fy + 1) * 4096 - py >= 8))
    for j in np.nonzero(deep)[0]:
        if (int(fx[j]), int(fy[j]), int(j)) not in seen:
            return f"geometry {start + j} missing from its first vertex's tile"
    return None


def geometry_kernels(start: int, n: int, out: dict) -> None:
    """ragged.encode_batch and commands.decode_geometry_vec_batch per z6
    tile over n generated geometries, single core."""
    from mapnik_vector_tile_spark import tilemath
    from mapnik_vector_tile_spark.functions import commands, geometry as G, ragged

    _, wkts = inputs.geom_wkts(start, n)
    geoms = G.from_wkt_batch(wkts)
    minx, miny, _, _ = _geom_frames(start, n)
    tx, _ = _tile_range(minx, minx)
    ty, _ = _tile_range(-miny, -miny)
    clip_box = tilemath.buffered_tile_px_box(4096, 0)
    batches = []
    for key in np.unique(tx * Z6 + ty):
        sel = np.nonzero(tx * Z6 + ty == key)[0]
        bx0, by0, bx1, by1 = tilemath.tile_mercator_bbox_np(key // Z6, key % Z6, 6)
        vt = G.ViewTransform(float(bx0), float(by0), float(bx1), float(by1), 4096, 4096)
        batches.append(([geoms[j] for j in sel], vt))

    encoded = []

    def encode():
        encoded.clear()
        for gs, vt in batches:
            encoded.append(ragged.encode_batch(gs, vt, clip_box, 2.0, 0.1))

    out["geometry.encode_us_per_geom"] = 1e6 * T.time_per_item(encode, n)
    streams = []
    for _, gtypes, flat, lens, _ in encoded:
        offs = np.concatenate([[0], np.cumsum(lens)])
        streams.append(([flat[offs[k]:offs[k + 1]] for k in range(len(lens))], list(gtypes)))
    n_feat = sum(len(g) for _, g in streams)
    out["commands.decode_us_per_geom"] = 1e6 * T.time_per_item(
        lambda: [commands.decode_geometry_vec_batch(c, g) for c, g in streams], n_feat)


WORKLOADS = {w.name: w for w in (TileBuild, TileRead)}


def warm_up(workload, min_s: float = 8.0, min_ops: int = 4, extra_ops: int = 2) -> list[float]:
    """Untimed ops until JIT, codegen and the Python worker pool have
    settled: at least ``min_s`` seconds and ``min_ops`` ops, then up to
    ``extra_ops`` more while the last op was still over 5% faster than the
    one before it (a slow host settles later).  On local[4], tile_build
    ops run ~15 s cold, then ~5.7, ~4.7, ~4.5 and flat at ~4.2 s from the
    fifth op on; tile_read ops, after setup's tileset write, fall from
    ~2.7 s to flat at ~1.8 s by the fifth.  Returns each op's wall time."""
    t0 = time.perf_counter()
    walls = []

    def settled() -> bool:
        if len(walls) < min_ops or time.perf_counter() - t0 < min_s:
            return False
        return len(walls) >= min_ops + extra_ops or walls[-1] >= 0.95 * walls[-2]

    while not settled():
        t1 = time.perf_counter()
        workload.op()
        walls.append(time.perf_counter() - t1)
    return walls
