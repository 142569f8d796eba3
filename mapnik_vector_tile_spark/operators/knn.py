"""kNN via cell-ring expansion (J5 — absent in the reference; required
by the north rule).

Shape per round: the pending-query set explodes into the (2r+1)^2 cell
block around each query's cell at zoom z -> broadcast equi-join against
the (huge) candidate side on the cell key -> per-query window top-k. A
query *resolves* when its k-th neighbour distance fits inside the
searched block (guaranteed radius = distance from the query point to
the block edge, infinite at world edges); unresolved queries re-run
with the ring doubled.

Everything stays distributed: the pending set, the per-round top-k and
the resolution guard are DataFrames/Columns end to end (the round-1
driver-pandas loop is gone) — the only driver-side values per round are
a pending COUNT. Rounds cut lineage with localCheckpoint so the plan
doesn't recompute earlier rounds. At a realistic "kNN for every row"
workload the pending set can be millions of queries and nothing
materializes on the driver.

The candidate side is touched once per round through a cell-key join
that prunes to the exploded block (predicate on the join key ->
partition-prunable at scale when candidates are stored bucketed/sorted
by cell).

Metric: squared euclidean on (lon, lat) — matches the SQL oracle twin
(queries.q_knn_k5); ties broken by neighbour id. A haversine variant
backs FIXTURES.md §5 expected_knn.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from mapnik_vector_tile_spark import tilemath

EARTH_R_M = 6371008.8  # mean earth radius


def _euclid_d2(lon_a, lon_b, lat_a, lat_b):
    # explicit multiplication (not pow) so the DuckDB twin is bit-safe
    dlon = lon_a - lon_b
    dlat = lat_a - lat_b
    return dlon * dlon + dlat * dlat


def _haversine(lat1, lon1, lat2, lon2):
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2.0 * EARTH_R_M) * F.asin(F.sqrt(a))


def _guard_col(metric: str):
    """Guaranteed-covered radius of the searched block, as a Column over
    (lon, lat, cx, cy, ring, zq) — zq is the per-query grid zoom, so the
    guard is exact at every ladder level. Infinite on axes where the
    block already spans the world edge (nothing can lie beyond it)."""
    cx, cy, ring = F.col("cx"), F.col("cy"), F.col("ring")
    lon, lat = F.col("lon"), F.col("lat")
    n = F.pow(F.lit(2.0), F.col("zq").cast("double"))
    blk_lon_min = (cx - ring).cast("double") / n * 360.0 - 180.0
    blk_lon_max = (cx + ring + 1).cast("double") / n * 360.0 - 180.0
    t_hi = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * (cy - ring).cast("double") / n)
    t_lo = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * (cy + ring + 1).cast("double") / n)
    blk_lat_max = F.degrees(F.atan(F.sinh(t_hi)))
    blk_lat_min = F.degrees(F.atan(F.sinh(t_lo)))
    inf = F.lit(float("inf"))
    edge_x = (cx - ring <= 0) & (cx + ring >= n - 1)
    if metric == "euclid":
        g_lon = F.least(lon - blk_lon_min, blk_lon_max - lon)
        g_lon = F.when(edge_x, inf).otherwise(g_lon)
        g_lat_low = F.when(cy + ring >= n - 1, inf).otherwise(lat - blk_lat_min)
        g_lat_high = F.when(cy - ring <= 0, inf).otherwise(blk_lat_max - lat)
        g = F.least(g_lon, g_lat_low, g_lat_high)
        return g * g
    # metres: lon degrees shrink by cos(lat); smallest cos in the block
    deg_m = F.lit(math.pi * EARTH_R_M / 180.0)
    cos_min = F.least(
        F.cos(F.radians(F.abs(blk_lat_max))), F.cos(F.radians(F.abs(blk_lat_min)))
    )
    g_lon = F.least(lon - blk_lon_min, blk_lon_max - lon) * deg_m * cos_min
    g_lon = F.when(edge_x, inf).otherwise(g_lon)
    g_lat_low = F.when(cy + ring >= n - 1, inf).otherwise((lat - blk_lat_min) * deg_m)
    g_lat_high = F.when(cy - ring <= 0, inf).otherwise((blk_lat_max - lat) * deg_m)
    return F.least(g_lon, g_lat_low, g_lat_high)


def _one_shot_probe(
    base: DataFrame,
    cands: DataFrame,
    pend0: DataFrame,
    candidates: DataFrame,
    k: int,
    ladder: list[int],
    zf: int,
    base_ring: int,
    metric: str,
    dist,
    dist_name: str,
    cand_id: str,
) -> DataFrame:
    """Single-join multi-level kNN: every query probes a fixed block at
    EVERY ladder level at once; per (query, level) top-k is exact within
    its block, and a level whose guard covers its k-th distance is an
    exact global answer. Each query keeps its finest resolved level;
    queries no level resolves (deep-sparse regions) fall back to the
    exact brute-force scan. Collapses the round loop into 3 jobs.

    r7 measurement notes (BENCH.md): pair volume is NOT the cost at this
    scale — a 9M-pair level joins+distances in ~0.4s while each extra
    Spark job costs more than that, so a fine-first level cascade
    (probe z24 first, descend only with unresolved queries) measured
    ~35% SLOWER than this single join and was reverted. What does cost:
    (a) columns flowing into the window exchange — the pre-window
    projection below keeps the 18M-pair shuffle to 4 narrow columns;
    (b) a ladder level that never decides anything — the one-shot
    caller now passes a 2-level ladder (finest + base) because a
    middle level's top-k is discarded whenever the finest level
    resolves (dense queries) and whenever only the base level resolves
    (sparse queries): identical output rows, one fewer scan branch and
    ~9M fewer window rows on the bench shape."""
    rings = [base_ring, 2, 1][3 - len(ladder):] if len(ladder) == 3 \
        else [base_ring, 1][2 - len(ladder):]
    lv_arr = F.array(
        *[
            F.struct(F.lit(lv).alias("zq"), F.lit(r).alias("ring"))
            for lv, r in zip(ladder, rings)
        ]
    )
    levels = (
        pend0.withColumn("_l", F.explode(lv_arr))
        .select(
            "query_id", "lon", "lat", "fx", "fy",
            F.col("_l.zq").alias("zq"), F.col("_l.ring").alias("ring"),
        )
        .withColumn("cx", F.expr(f"shiftright(fx, {zf} - zq)"))
        .withColumn("cy", F.expr(f"shiftright(fy, {zf} - zq)"))
    )
    nq = F.pow(F.lit(2.0), F.col("zq").cast("double"))
    exploded = (
        levels.withColumn(
            "jx", F.explode(F.sequence(F.col("cx") - F.col("ring"), F.col("cx") + F.col("ring")))
        )
        .withColumn(
            "jy", F.explode(F.sequence(F.col("cy") - F.col("ring"), F.col("cy") + F.col("ring")))
        )
        .where((F.col("jx") >= 0) & (F.col("jx") < nq) & (F.col("jy") >= 0) & (F.col("jy") < nq))
        .select("query_id", "lon", "lat", "zq", "jx", "jy")
    )
    w = Window.partitionBy("query_id", "zq").orderBy(dist_name, "neighbor_id")
    topk_all = (
        F.broadcast(exploded)
        .join(cands, ["zq", "jx", "jy"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(dist_name, dist)
        # explicit narrow projection BEFORE the window: only these four
        # columns cross the 18M-row exchange (lon/lat/jx/jy dropped)
        .select("query_id", "zq", "neighbor_id", dist_name)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "zq", "neighbor_id", "rank", dist_name)
    )
    # resolution + finest-level selection as WINDOW functions over the
    # (query_id, zq) partitioning the rank window already established —
    # no per-level groupBy, no join-back, no extra shuffle of the
    # candidate stream (r3 verdict: fold the stats pass)
    ring_case = F.lit(rings[-1])
    for lv, r in zip(ladder[:-1], rings[:-1]):
        ring_case = F.when(F.col("zq") == lv, F.lit(r)).otherwise(ring_case)
    w2 = Window.partitionBy("query_id", "zq")
    enriched = (
        topk_all.join(F.broadcast(pend0), "query_id")
        .withColumn("ring", ring_case)
        .withColumn("cx", F.expr(f"shiftright(fx, {zf} - zq)"))
        .withColumn("cy", F.expr(f"shiftright(fy, {zf} - zq)"))
        .withColumn(
            "_ok",
            (F.count("*").over(w2) >= k)
            & (F.max(dist_name).over(w2) <= _guard_col(metric)),
        )
        .withColumn(
            "_best_zq",
            F.max(F.when(F.col("_ok"), F.col("zq"))).over(
                Window.partitionBy("query_id")
            ),
        )
    )
    # ONE materializing job for the whole probe (r7): topk_all has a
    # single consumer (this enriched subplan), so only the (<= qn*k row)
    # RESULT is checkpointed — the straggler check and the caller's
    # terminal action both read the checkpoint instead of re-evaluating
    # anything, and the probe join never runs twice.
    resolved = (
        enriched.where(F.col("zq") == F.col("_best_zq"))
        .select("query_id", "neighbor_id", "rank", dist_name)
        .localCheckpoint(eager=True)
    )
    # a query is resolved iff it kept rows at its best level
    stragglers = pend0.join(
        resolved.select("query_id"), "query_id", "left_anti"
    ).select("query_id", "lon", "lat")
    if stragglers.isEmpty():
        # the usual case on dense data: every query resolved in-block.
        # Skipping the brute union avoids a full candidate-table scan
        # whose join side is empty.
        return resolved
    stragglers = stragglers.localCheckpoint(eager=True)
    brute_fn = brute_force_knn if metric == "euclid" else brute_force_knn_haversine
    brute = brute_fn(
        candidates, stragglers, k=k, query_id="query_id", cand_id=cand_id
    ).select("query_id", "neighbor_id", "rank", dist_name)
    return resolved.unionByName(brute)


def _ring_expansion(
    candidates: DataFrame,
    queries: DataFrame,
    k: int,
    z: int,
    initial_ring: int,
    max_iters: int,
    max_ring: int,
    query_id: str,
    cand_id: str,
    metric: str,
    query_count: int | None = None,
) -> DataFrame:
    dist_name = "d2" if metric == "euclid" else "dist_m"
    # density-adaptive hierarchical grid: coarse base zoom z, plus two
    # finer ladder levels so a point-mass hotspot cell (which can hold a
    # large fraction of ALL candidates) joins through cells sized to its
    # own density instead of funnelling the whole cluster per query
    ladder = sorted({z, min(z + 7, 24), min(z + 15, 24)})
    zf = ladder[-1]
    dense_threshold = max(64 * k, 512)

    base = candidates.select(
        F.col(cand_id).alias("neighbor_id"),
        F.col("lon").alias("n_lon"),
        F.col("lat").alias("n_lat"),
    )
    fx, fy = tilemath.lonlat_to_tile_cols(F.col("n_lon"), F.col("n_lat"), zf)
    base = base.withColumn("fx", fx).withColumn("fy", fy)

    # candidate cells at every ladder level: a UNION of flat projections
    # (whole-stage codegen) rather than an array-of-structs explode,
    # whose per-row object churn dominated the probe stage
    def _cands_of(src: DataFrame, lvls: list[int] | None = None) -> DataFrame:
        parts = [
            src.select(
                "neighbor_id", "n_lon", "n_lat",
                F.lit(lv).alias("zq"),
                F.shiftright("fx", zf - lv).alias("jx"),
                F.shiftright("fy", zf - lv).alias("jy"),
            )
            for lv in (lvls or ladder)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    cands = _cands_of(base)

    if metric == "euclid":
        dist = _euclid_d2(F.col("lon"), F.col("n_lon"), F.col("lat"), F.col("n_lat"))
    else:
        dist = _haversine(F.col("lat"), F.col("lon"), F.col("n_lat"), F.col("n_lon"))

    qfx, qfy = tilemath.lonlat_to_tile_cols(F.col("lon"), F.col("lat"), zf)
    # persist + count = ONE materializing job for both the cache and the
    # strategy-choice cardinality (an eager localCheckpoint followed by
    # count() was two); pend0's lineage is one narrow projection, so
    # truncation buys nothing here
    pend0 = (
        queries.select(F.col(query_id).alias("query_id"), "lon", "lat")
        .withColumn("fx", qfx)
        .withColumn("fy", qfy)
    )
    if query_count is not None:
        # caller-supplied cardinality: no materializing job; pend0 is a
        # narrow projection re-evaluated per use (cheap by construction)
        qn = int(query_count)
        pend0_cached = False
    else:
        pend0 = pend0.persist()
        qn = pend0.count()
        pend0_cached = True

    if qn <= 50_000:
        # one-shot path for modest query sets: probe the ladder in a
        # single join (fixed block sizes), keep each query's finest
        # RESOLVED level, brute-force only the residual — 3 Spark jobs
        # instead of a multi-round loop whose per-round latency dominates.
        # base scans exactly once here, so it is NOT persisted.
        # r7: the probe ladder keeps only (base, finest) — the middle
        # level's top-k is discarded whichever way a query resolves
        # (finest wins for dense queries, base is needed for sparse
        # ones), so its scan branch and its ~half of the window rows
        # were pure overhead. Identical output: any resolved level's
        # block top-k IS the exact global top-k.
        probe_ladder = sorted({ladder[0], zf})
        out = _one_shot_probe(
            base, _cands_of(base, probe_ladder), pend0, candidates, k,
            probe_ladder, zf, max(4, initial_ring),
            metric, dist, dist_name, cand_id,
        )
        out = out.select(
            "query_id", "neighbor_id", "rank",
            F.round(dist_name, 12 if metric == "euclid" else 6).alias(dist_name),
        )
        if pend0_cached:
            # the result is small (<= qn*k rows); materializing it here
            # lets pend0 release its executor storage instead of pinning
            # it for the application lifetime (r4 advisor finding)
            out = out.localCheckpoint(eager=True)
            pend0.unpersist()
        return out

    base = base.persist()
    cands = _cands_of(base)
    # density sketch: ONE pass over a deterministic 1-in-RATE sample,
    # grouped at the finest ladder level; coarser levels re-aggregate
    # the (tiny) sketch, never the data. The sketch only steers the
    # per-query level/initial-ring HEURISTIC — the resolution guard
    # below is exact regardless of sketch error.
    rate = 20
    sketch = (
        base.where(F.pmod(F.xxhash64("neighbor_id"), F.lit(rate)) == 0)
        .groupBy("fx", "fy")
        .agg((F.count("*") * rate).alias("_cnt"))
        .localCheckpoint(eager=True)
    )
    counts: dict[int, DataFrame] = {zf: sketch}
    for lv in reversed(ladder[:-1]):
        counts[lv] = (
            sketch.select(
                F.shiftright("fx", zf - lv).alias("fx"),
                F.shiftright("fy", zf - lv).alias("fy"),
                "_cnt",
            )
            .groupBy("fx", "fy")
            .agg(F.sum("_cnt").alias("_cnt"))
        )

    # per-query level: the coarsest ladder level whose cell holds at most
    # dense_threshold candidates (the guard below stays exact regardless)
    pend = pend0
    for lv in ladder:
        cl = counts[lv].select(
            F.col("fx").alias("_jfx"), F.col("fy").alias("_jfy"),
            F.col("_cnt").alias(f"_cnt{lv}"),
        )
        pend = pend.join(
            cl,  # no broadcast hint: the fine-level count table scales
            (F.shiftright(F.col("fx"), zf - lv) == F.col("_jfx"))  # with the data; AQE
            & (F.shiftright(F.col("fy"), zf - lv) == F.col("_jfy")),  # broadcasts if small
            "left",
        ).drop("_jfx", "_jfy")
    zq_expr = F.lit(ladder[-1])
    for lv in reversed(ladder[:-1]):
        zq_expr = F.when(
            F.coalesce(F.col(f"_cnt{lv}"), F.lit(0)) <= dense_threshold, F.lit(lv)
        ).otherwise(zq_expr)
    pend = pend.withColumn("zq", zq_expr)
    cnt_at = F.lit(None).cast("long")
    for lv in ladder:
        cnt_at = F.when(F.col("zq") == lv, F.col(f"_cnt{lv}")).otherwise(cnt_at)
    # initial ring: block expected to hold >= ~4k candidates
    need = F.ceil(
        (F.sqrt(F.lit(4.0 * k) / F.greatest(cnt_at, F.lit(1)).cast("double")) - 1.0) / 2.0
    ).cast("int")
    ring0 = F.least(
        F.greatest(F.coalesce(need, F.lit(4)), F.lit(initial_ring)), F.lit(max_ring)
    )
    pend = (
        pend.withColumn("ring", ring0)
        .withColumn("cx", F.expr(f"shiftright(fx, {zf} - zq)"))
        .withColumn("cy", F.expr(f"shiftright(fy, {zf} - zq)"))
        .select("query_id", "lon", "lat", "fx", "fy", "zq", "cx", "cy", "ring")
        .localCheckpoint(eager=True)
    )
    pend_n = pend.count()
    # the checkpoint above cut pend's lineage from pend0 — nothing
    # downstream reads it, so release its storage now
    if pend0_cached:
        pend0.unpersist()

    w = Window.partitionBy("query_id").orderBy(dist_name, "neighbor_id")

    resolved: DataFrame | None = None
    exhausted = False
    for it in range(max_iters):
        nq = F.pow(F.lit(2.0), F.col("zq").cast("double"))
        exploded = (
            pend.withColumn(
                "jx", F.explode(F.sequence(F.col("cx") - F.col("ring"), F.col("cx") + F.col("ring")))
            )
            .withColumn(
                "jy", F.explode(F.sequence(F.col("cy") - F.col("ring"), F.col("cy") + F.col("ring")))
            )
            .where((F.col("jx") >= 0) & (F.col("jx") < nq) & (F.col("jy") >= 0) & (F.col("jy") < nq))
            .select("query_id", "lon", "lat", "zq", "jx", "jy")
        )
        # broadcast the query side only while it is actually small;
        # a per-row kNN workload (millions of queries) shuffle-joins on
        # the cell key instead (AQE re-plans from checkpoint stats)
        probe = F.broadcast(exploded) if pend_n <= 50_000 else exploded
        topk = (
            probe
            .join(cands, ["zq", "jx", "jy"])
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn(dist_name, dist)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", dist_name)
            .localCheckpoint(eager=True)
        )
        stats = topk.groupBy("query_id").agg(
            F.max(dist_name).alias("_kth"), F.count("*").alias("_found")
        )
        decided = pend.join(stats, "query_id", "left").withColumn(
            "_ok",
            F.coalesce(
                (F.col("_found") >= k) & (F.col("_kth") <= _guard_col(metric)),
                F.lit(False),
            ),
        )
        ok_ids = decided.where(F.col("_ok")).select("query_id")
        if pend_n <= 50_000:
            ok_ids = F.broadcast(ok_ids)
        part = topk.join(ok_ids, "query_id", "left_semi")
        resolved = part if resolved is None else resolved.unionByName(part)
        # grow: double the ring; once a block exceeds 17x17 cells at a
        # fine level, climb the ladder (same coverage, ~bounded cells)
        grown = decided.where(~F.col("_ok")).withColumn("ring", F.col("ring") * 2)
        if len(ladder) > 1:
            climb = F.col("ring") > 8
            steps = {ladder[i]: ladder[i - 1] for i in range(1, len(ladder))}
            new_zq = F.col("zq")
            new_ring = F.col("ring")
            for fine, coarse in steps.items():
                shrink = F.greatest(
                    F.ceil(F.col("ring") / F.lit(float(2 ** (fine - coarse)))).cast("int"),
                    F.lit(1),
                )
                new_zq = F.when(climb & (F.col("zq") == fine), F.lit(coarse)).otherwise(new_zq)
                new_ring = F.when(climb & (F.col("zq") == fine), shrink).otherwise(new_ring)
            grown = grown.withColumn("_zq2", new_zq).withColumn("ring", new_ring)
            grown = (
                grown.drop("zq")
                .withColumnRenamed("_zq2", "zq")
                .withColumn("cx", F.expr(f"shiftright(fx, {zf} - zq)"))
                .withColumn("cy", F.expr(f"shiftright(fy, {zf} - zq)"))
            )
        pend = grown.select(
            "query_id", "lon", "lat", "fx", "fy", "zq", "cx", "cy", "ring"
        ).localCheckpoint(eager=True)
        agg = pend.agg(F.count("*").alias("n"), F.min("ring").alias("min_ring")).first()
        pend_n = agg["n"]
        if agg["n"] == 0:
            break
        # base-zoom block would cover a large world fraction -> scan
        if agg["min_ring"] > max_ring:
            exhausted = True
            break
    else:
        exhausted = True

    if exhausted:  # brute force the stragglers (exact, just unpruned)
        brute_fn = brute_force_knn if metric == "euclid" else brute_force_knn_haversine
        brute = brute_fn(
            candidates,
            pend.select("query_id", "lon", "lat"),
            k=k,
            query_id="query_id",
            cand_id=cand_id,
        )
        resolved = brute if resolved is None else resolved.unionByName(brute)

    base.unpersist()
    if resolved is None:
        return pend.sparkSession.createDataFrame(
            [], f"query_id string, neighbor_id string, rank int, {dist_name} double"
        )
    return resolved.select(
        "query_id", "neighbor_id", "rank",
        F.round(dist_name, 12 if metric == "euclid" else 6).alias(dist_name),
    )


def knn_ring_expansion(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    z: int = 9,
    initial_ring: int = 1,
    max_iters: int = 8,
    max_ring: int = 32,
    query_id: str = "image_id",
    cand_id: str = "image_id",
    query_count: int | None = None,
) -> DataFrame:
    """-> (query_id, neighbor_id, rank, d2). Exact (tests pin equality
    with brute force) with join cost bounded by ring locality.

    query_count: caller-known query-set cardinality. When given, the
    strategy-choice materialization (persist + count of the projected
    query set) is skipped — on the one-shot path that also removes the
    result checkpoint whose only purpose was releasing that cache, so
    a latency-sensitive caller pays two fewer Spark jobs."""
    return _ring_expansion(
        candidates, queries, k, z, initial_ring, max_iters, max_ring,
        query_id, cand_id, "euclid", query_count=query_count,
    )


def knn_ring_expansion_haversine(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    z: int = 9,
    initial_ring: int = 1,
    max_iters: int = 8,
    max_ring: int = 32,
    query_id: str = "image_id",
    cand_id: str = "image_id",
) -> DataFrame:
    """Great-circle ring-expansion kNN (FIXTURES.md §5 expected_knn
    semantics); the resolution guard converts the searched block's edge
    distances to conservative metres."""
    return _ring_expansion(
        candidates, queries, k, z, initial_ring, max_iters, max_ring,
        query_id, cand_id, "haversine",
    )


def brute_force_knn(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    query_id: str = "image_id",
    cand_id: str = "image_id",
) -> DataFrame:
    """Exactness baseline: broadcast queries x all candidates."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col("lon").alias("q_lon"),
        F.col("lat").alias("q_lat"),
    )
    c = candidates.select(F.col(cand_id).alias("neighbor_id"), "lon", "lat")
    joined = c.crossJoin(F.broadcast(q)).where(F.col("neighbor_id") != F.col("query_id"))
    d2 = _euclid_d2(F.col("q_lon"), F.col("lon"), F.col("q_lat"), F.col("lat"))
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        joined.withColumn("d2", d2)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2")
    )


def brute_force_knn_haversine(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    query_id: str = "image_id",
    cand_id: str = "image_id",
) -> DataFrame:
    """Exact great-circle kNN: broadcast queries x candidates; ties by
    neighbour id (FIXTURES.md §5 expected_knn semantics)."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col("lon").alias("q_lon"),
        F.col("lat").alias("q_lat"),
    )
    c = candidates.select(F.col(cand_id).alias("neighbor_id"), "lon", "lat")
    joined = c.crossJoin(F.broadcast(q)).where(F.col("neighbor_id") != F.col("query_id"))
    dist = _haversine(F.col("q_lat"), F.col("q_lon"), F.col("lat"), F.col("lon"))
    w = Window.partitionBy("query_id").orderBy("dist_m", "neighbor_id")
    return (
        joined.withColumn("dist_m", dist)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("dist_m", 6).alias("dist_m"))
    )
