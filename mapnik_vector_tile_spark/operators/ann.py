"""Similarity search over embedding columns (array<float>).

* ``brute_force_topk`` — the exactness baseline: posexplode + equi-join
  on component index + window top-k (same plan as the SQL oracle twin
  queries.q_ann_cosine_topk). No UDFs.
* ``lsh_topk`` — the scale path: random-hyperplane LSH bucket join.
  Hyperplanes are deterministic (seeded from component index via md5
  mixing), buckets are Column math, candidate pairs only within a
  bucket, exact cosine re-scored on candidates. Recall measured in
  tests against brute force.
* ``ivf_topk`` — IVF-style: coarse k-means-ish centroids picked as a
  deterministic sample, vectors assigned to nearest centroid (one
  vectorized pandas stage), queries probe ``nprobe`` nearest lists.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

# Most rows one block of cosine_near_dups' exact path may hold: a block
# pair's Gram matrix is rows_a x rows_b float64, so 8,192 rows bound it
# at 512 MiB per task.
MAX_BLOCK_ROWS = 8192


def _components(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("vid"), F.posexplode(vec_col).alias("i", "v")
    ).withColumn("v", F.col("v").cast("double"))


def _norms(comp: DataFrame) -> DataFrame:
    return comp.groupBy("vid").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))


def brute_force_topk(
    df: DataFrame, query_ids: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    comp = _components(df, id_col, vec_col)
    norms = _norms(comp)
    q = query_ids.select(F.col(id_col).alias("qid"))
    qcomp = comp.join(F.broadcast(q), comp.vid == q.qid).select(
        F.col("vid").alias("query_id"), "i", F.col("v").alias("qv")
    )
    dots = (
        qcomp.join(comp, "i")
        .where(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum(F.col("qv") * F.col("v")).alias("dot"))
    )
    na = norms.select(F.col("vid").alias("query_id"), F.col("nrm").alias("qn"))
    nb = norms.select(F.col("vid").alias("neighbor_id"), F.col("nrm").alias("nn"))
    scored = (
        dots.join(na, "query_id").join(nb, "neighbor_id")
        .withColumn("cosine", F.col("dot") / (F.col("qn") * F.col("nn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def _hyperplane_buckets(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int, n_tables: int = 1
) -> DataFrame:
    """Sign-of-dot-product bucket keys from deterministic pseudo-random
    hyperplanes: plane (t,p) component i weight = centered md5 hash of
    (t,p,i). Pure Column math over posexploded components. Multi-table:
    one (vid, table, bucket) row per table — recall grows with tables
    while each join stays bucket-pruned.

    Scale note: bucket fan-out per table is 2^n_planes, so size n_planes
    to the corpus (expected bucket size n/2^n_planes drives the
    candidate-join cost — 16 planes => 65k buckets keeps buckets bounded
    at 1e9 vectors; the small defaults suit parity-scale corpora)."""
    comp = _components(df, id_col, vec_col)
    planes = []
    for t in range(n_tables):
        for p in range(n_planes):
            h = F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"tbl{t}:plane{p}:"), F.col("i").cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("double")
            w = (h / F.lit(float(16**8)) - 0.5)  # ~U(-0.5, 0.5), deterministic
            planes.append(F.sum(F.col("v") * w).alias(f"d{t}_{p}"))
    dots = comp.groupBy("vid").agg(*planes)
    tables = []
    for t in range(n_tables):
        bucket = sum(
            F.when(F.col(f"d{t}_{p}") > 0, 2**p).otherwise(0) for p in range(n_planes)
        )
        tables.append(dots.select("vid", F.lit(t).alias("tbl"), bucket.alias("bucket")))
    out = tables[0]
    for tdf in tables[1:]:
        out = out.unionByName(tdf)
    return out


def lsh_topk(
    df: DataFrame, query_ids: DataFrame, k: int = 5, n_planes: int = 6,
    n_tables: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane bucket in any of
    n_tables tables; exact cosine on (deduped) candidates only."""
    buckets = _hyperplane_buckets(df, id_col, vec_col, n_planes, n_tables)
    q = query_ids.select(F.col(id_col).alias("qid"))
    qb = buckets.join(F.broadcast(q), buckets.vid == q.qid).select(
        F.col("vid").alias("query_id"), "tbl", "bucket"
    )
    cand = (
        qb.join(buckets, ["tbl", "bucket"])
        .where(F.col("vid") != F.col("query_id"))
        .select("query_id", F.col("vid").alias("neighbor_id"))
        .distinct()
    )
    comp = _components(df, id_col, vec_col)
    norms = _norms(comp)
    qcomp = comp.select(F.col("vid").alias("query_id"), "i", F.col("v").alias("qv"))
    ncomp = comp.select(F.col("vid").alias("neighbor_id"), "i", F.col("v").alias("nv"))
    dots = (
        cand.join(qcomp, "query_id")
        .join(ncomp, ["neighbor_id", "i"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("qv") * F.col("nv")).alias("dot"))
    )
    na = norms.select(F.col("vid").alias("query_id"), F.col("nrm").alias("qn"))
    nb = norms.select(F.col("vid").alias("neighbor_id"), F.col("nrm").alias("nn"))
    scored = dots.join(na, "query_id").join(nb, "neighbor_id").withColumn(
        "cosine", F.col("dot") / (F.col("qn") * F.col("nn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def cosine_near_dups(
    df: DataFrame, threshold: float = 0.3, use_lsh: bool = False,
    n_planes: int = 4, n_tables: int = 6,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brief requirement):
    (a, b, cosine) for a < b with cosine >= threshold.

    use_lsh=False: exact — block-Gram form: vectors are hashed into
    n_blocks blocks, every block pair (upper triangle) computes its
    sub-Gram matrix in one vectorized numpy kernel, and only the pairs
    clearing the threshold leave the kernel. The data crossing the
    block-pair join is n_blocks copies of the packed vectors — the
    irreducible movement of an exact quadratic baseline — instead of
    dim x N^2/2 exploded component rows through a sort-merge exchange.
    Size n_blocks so a block holds at most a few thousand rows
    (~N/1024) to bound per-task Gram memory; a block over
    MAX_BLOCK_ROWS rows raises a ValueError naming n_blocks and its
    size (its rows never cross to Python).
    use_lsh=True: the scale path — only pairs sharing a hyperplane
    bucket in any table are scored (bucket equi-join, never all-pairs);
    recall vs exact is pinned in tests.

    The exact path requires an integral id_col (ids travel through the
    kernel as int64; the LSH branch keeps the generic join form).
    Ragged vector widths are zero-padded per block pair, which
    reproduces the component-equi-join semantics exactly (absent
    components contribute 0 to the dot and nothing to either norm)."""
    if use_lsh:
        comp = _components(df, id_col, vec_col)
        norms = _norms(comp)
        buckets = _hyperplane_buckets(df, id_col, vec_col, n_planes, n_tables)
        b2 = buckets.select(
            F.col("vid").alias("vid_b"), F.col("tbl").alias("tbl"),
            F.col("bucket").alias("bucket"),
        )
        cand = (
            buckets.join(b2, ["tbl", "bucket"])
            .where(F.col("vid") < F.col("vid_b"))
            .select(F.col("vid").alias("doc_a"), F.col("vid_b").alias("doc_b"))
            .distinct()
        )
        ca = comp.select(F.col("vid").alias("doc_a"), "i", F.col("v").alias("va"))
        cb = comp.select(F.col("vid").alias("doc_b"), "i", F.col("v").alias("vb"))
        dots = (
            cand.join(ca, "doc_a")
            .join(cb, ["doc_b", "i"])
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
        )
        na = norms.select(F.col("vid").alias("doc_a"), F.col("nrm").alias("na"))
        nb = norms.select(F.col("vid").alias("doc_b"), F.col("nrm").alias("nb"))
        scored = dots.join(na, "doc_a").join(nb, "doc_b").withColumn(
            "cosine", F.col("dot") / (F.col("na") * F.col("nb"))
        )
        return scored.where(F.col("cosine") >= threshold).select(
            "doc_a", "doc_b", F.round("cosine", 6).alias("cosine")
        )
    spark = df.sparkSession
    thr = float(threshold)
    bound = MAX_BLOCK_ROWS
    packed = (
        df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        .where(F.col("vid").isNotNull() & F.col("vec").isNotNull())
        .withColumn("blk", F.pmod(F.xxhash64("vid"), F.lit(n_blocks)).cast("int"))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vid", "vec")).alias("rows"))
        # an oversized block ships its size alone, which gram reports
        .select("blk", F.size("rows").alias("n"),
                F.when(F.size("rows") <= bound, F.col("rows")).alias("rows"))
    )
    pair_keys = (
        spark.range(n_blocks * n_blocks)
        .select(
            (F.col("id") / n_blocks).cast("int").alias("ba"),
            F.pmod(F.col("id"), n_blocks).cast("int").alias("bb"),
        )
        .where(F.col("ba") <= F.col("bb"))
    )
    a_side = packed.select(F.col("blk").alias("ba"), F.col("n").alias("n_a"),
                           F.col("rows").alias("rows_a"))
    b_side = packed.select(F.col("blk").alias("bb"), F.col("n").alias("n_b"),
                           F.col("rows").alias("rows_b"))
    joined = pair_keys.join(a_side, "ba").join(b_side, "bb").select(
        "ba",
        "bb",
        "n_a",
        "n_b",
        "rows_a",
        # diag pairs read only rows_a — don't ship the duplicate copy
        F.when(F.col("ba") < F.col("bb"), F.col("rows_b")).alias("rows_b"),
    )

    def _mat(rows):
        ids = np.array([r["vid"] for r in rows], dtype=np.int64)
        vecs = [np.asarray(r["vec"], dtype=np.float64) for r in rows]
        width = max((len(v) for v in vecs), default=0)
        M = np.zeros((len(vecs), width))
        for k, v in enumerate(vecs):
            M[k, : len(v)] = v
        return ids, M

    def gram(iterator):
        for pdf in iterator:
            out_a, out_b, out_c = [], [], []
            for ba, bb, n_a, n_b, rows_a, rows_b in zip(
                pdf["ba"], pdf["bb"], pdf["n_a"], pdf["n_b"], pdf["rows_a"], pdf["rows_b"]
            ):
                for blk, n in ((ba, n_a), (bb, n_b)):
                    if n > bound:
                        raise ValueError(
                            f"cosine_near_dups: block {blk} holds {n} rows, over the "
                            f"{bound}-row block bound at n_blocks={n_blocks}; raise "
                            f"n_blocks to at least {n_blocks * -(-n // bound)}")
                ids_a, Ma = _mat(rows_a)
                if ba == bb:
                    ids_b, Mb = ids_a, Ma
                else:
                    ids_b, Mb = _mat(rows_b)
                    w = max(Ma.shape[1], Mb.shape[1])
                    if Ma.shape[1] < w:
                        Ma = np.pad(Ma, ((0, 0), (0, w - Ma.shape[1])))
                    if Mb.shape[1] < w:
                        Mb = np.pad(Mb, ((0, 0), (0, w - Mb.shape[1])))
                na = np.sqrt(np.einsum("ij,ij->i", Ma, Ma))
                nb_ = na if ba == bb else np.sqrt(np.einsum("ij,ij->i", Mb, Mb))
                with np.errstate(divide="ignore", invalid="ignore"):
                    C = (Ma @ Mb.T) / np.outer(na, nb_)
                hit = C >= thr
                # equal ids hash to one block, so they only meet in
                # diagonal blocks, where ids_a < ids_b drops them
                if ba == bb:
                    hit &= ids_a[:, None] < ids_b[None, :]
                ia, ib = np.nonzero(hit)
                if len(ia) == 0:
                    continue
                va, vb = ids_a[ia], ids_b[ib]
                lo = np.minimum(va, vb)
                out_a.append(lo)
                out_b.append(np.maximum(va, vb))
                out_c.append(C[ia, ib])
            if out_a:
                yield pd.DataFrame(
                    {
                        "doc_a": np.concatenate(out_a),
                        "doc_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    # round-robin the block pairs: joined is partitioned by bb after the
    # join, which caps parallelism at n_blocks and loads later blocks
    # triangularly; an explicit repartition spreads the Gram kernels
    parallelism = spark.sparkContext.defaultParallelism
    scored = joined.repartition(parallelism).mapInPandas(
        gram, schema="doc_a long, doc_b long, cosine double"
    )
    return scored.select("doc_a", "doc_b", F.round("cosine", 6).alias("cosine"))


def _kmeans_refine(
    df: DataFrame, C: np.ndarray, iters: int, id_col: str, vec_col: str
) -> np.ndarray:
    """Deterministic spherical-k-means refinement of the centroid matrix
    (Lloyd iterations): distributed assignment (vectorized mapInPandas)
    + per-list component means via posexplode aggregation. Only
    n_lists x dim values ever reach the driver per iteration."""
    spark = df.sparkSession
    for _ in range(iters):
        bC = spark.sparkContext.broadcast(C)

        def assign1(iterator):
            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                M = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
                M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
                sims = M @ bC.value.T
                lid = np.argmax(sims, axis=1)
                yield pd.DataFrame({"list_id": lid.astype(np.int32), vec_col: pdf[vec_col]})

        assigned = df.select(vec_col).mapInPandas(
            assign1, schema=f"list_id int, {vec_col} array<float>"
        )
        comp = assigned.select(
            "list_id", F.posexplode(vec_col).alias("i", "v")
        ).groupBy("list_id", "i").agg(F.avg(F.col("v").cast("double")).alias("m"))
        pdf = comp.toPandas()
        newC = C.copy()
        for lid, grp in pdf.groupby("list_id"):
            vec = grp.sort_values("i")["m"].to_numpy()
            if len(vec) == C.shape[1]:
                newC[int(lid)] = vec
        C = newC / np.maximum(np.linalg.norm(newC, axis=1, keepdims=True), 1e-12)
        bC.unpersist()
    return C


def ivf_topk(
    df: DataFrame, query_ids: DataFrame, k: int = 5, n_lists: int = 16, nprobe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: deterministic centroid sample, one vectorized
    pandas assignment stage (numpy matmul per Arrow batch — the only
    non-Column stage), probe the nprobe nearest lists per query.
    kmeans_iters > 0 refines the centroids with deterministic Lloyd
    iterations (r1 verdict: first-N-by-id centroids sag on clustered
    data); 0 keeps the oracle-replayable deterministic sample."""
    spark = df.sparkSession
    cents = (
        df.orderBy(id_col).limit(n_lists).select(F.col(vec_col).alias("cvec")).toPandas()
    )
    C = np.array([np.asarray(v, dtype=np.float64) for v in cents["cvec"]])
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    if kmeans_iters > 0:
        C = _kmeans_refine(df, C, kmeans_iters, id_col, vec_col)
    bC = spark.sparkContext.broadcast(C)

    out_schema = f"{id_col} string, lists array<int>" if dict(df.dtypes)[id_col] == "string" else f"{id_col} bigint, lists array<int>"

    def assign(iterator, probes):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            M = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            sims = M @ bC.value.T
            # stable sort: exact-tie lists resolve to the lower centroid
            # index (matches the SQL oracle's row_number tie-break)
            idx = np.argsort(-sims, axis=1, kind="stable")[:, :probes]
            yield pd.DataFrame({id_col: pdf[id_col], "lists": [list(map(int, r)) for r in idx]})

    data_lists = df.select(id_col, vec_col).mapInPandas(
        lambda it: assign(it, 1), schema=out_schema
    ).select(id_col, F.explode("lists").alias("list_id"))
    qdf = df.join(F.broadcast(query_ids.select(id_col)), id_col, "left_semi")
    query_lists = qdf.select(id_col, vec_col).mapInPandas(
        lambda it: assign(it, nprobe), schema=out_schema
    ).select(F.col(id_col).alias("qid"), F.explode("lists").alias("list_id"))

    cand = (
        query_lists.join(
            data_lists.withColumnRenamed(id_col, "neighbor_id"), "list_id"
        )
        .where(F.col("neighbor_id") != F.col("qid"))
        .select(F.col("qid").alias("query_id"), "neighbor_id")
        .distinct()
    )
    comp = _components(df, id_col, vec_col)
    norms = _norms(comp)
    qcomp = comp.select(F.col("vid").alias("query_id"), "i", F.col("v").alias("qv"))
    ncomp = comp.select(F.col("vid").alias("neighbor_id"), "i", F.col("v").alias("nv"))
    dots = (
        cand.join(qcomp, "query_id")
        .join(ncomp, ["neighbor_id", "i"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("qv") * F.col("nv")).alias("dot"))
    )
    na = norms.select(F.col("vid").alias("query_id"), F.col("nrm").alias("qn"))
    nb = norms.select(F.col("vid").alias("neighbor_id"), F.col("nrm").alias("nn"))
    scored = dots.join(na, "query_id").join(nb, "neighbor_id").withColumn(
        "cosine", F.col("dot") / (F.col("qn") * F.col("nn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )
