"""Training-data pipeline operators: dedup (exact/MinHash-LSH/SimHash/
Jaccard), ANN (brute/LSH/IVF), text analysis — plus resumable builds,
lineage, and the streaming extension."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapnik_vector_tile_spark.operators import ann, dedup, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),          # near dup
        (3, "der schnelle braune fuchs springt und der hund ist"),
        (4, "completely different content about spark pipelines"),
        (5, "the quick brown fox jumps over a sleepy dog"),          # near dup
        (6, "le renard brun et le chien est la les des"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


@pytest.fixture(scope="module")
def vectors(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/embeddings.parquet").cache()


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).toPandas()
    dups = out[out["n_dups"] > 1]
    assert len(dups) == 1 and dups.iloc[0]["representative"] == 0 and dups.iloc[0]["n_dups"] == 2


def test_minhash_lsh_finds_near_dups(docs):
    cand = dedup.minhash_lsh_candidates(docs, n_perm=8, bands=4).toPandas()
    pairs = set(map(tuple, cand[["doc_a", "doc_b"]].to_numpy()))
    assert (0, 1) in pairs  # exact dup always collides on every band


def test_minhash_lsh_chunked_expansion_invariance(docs):
    """The per-bucket pair-expansion kernel: chunk=2 forces every
    multi-chunk path (diag + off-diag units); results must equal the
    single-chunk form and the n_bands_hit counts must match a direct
    per-pair band-key comparison."""
    base = dedup.minhash_lsh_candidates(docs, n_perm=8, bands=4).toPandas()
    tiny = dedup.minhash_lsh_candidates(docs, n_perm=8, bands=4, chunk=2).toPandas()
    key = lambda p: {(int(a), int(b)): int(n) for a, b, n in p.to_numpy()}
    assert key(base) == key(tiny)
    assert len(base) > 0
    assert all(1 <= n <= 4 for n in key(base).values())
    assert all(a < b for a, b in key(base))


def test_minhash_lsh_rejects_non_integral_doc_id(spark):
    """The integral doc_id contract is checked when the operator is
    called, with an error naming the column, not when a job runs."""
    docs = spark.createDataFrame([("a", "x y z"), ("b", "x y z")], "doc_id string, text string")
    with pytest.raises(TypeError, match="doc_id"):
        dedup.minhash_lsh_candidates(docs, n_perm=8, bands=4)


def test_ngram_jaccard_scores(docs):
    out = dedup.ngram_jaccard(docs, threshold=0.5).toPandas()
    pairs = {(a, b): j for a, b, j in out.to_numpy()}
    assert pairs[(0, 1)] == 1.0
    assert any((a, b) in pairs for (a, b) in [(0, 2), (1, 2)])


def test_simhash_near_dups(docs):
    sh = dedup.simhash(docs).toPandas().set_index("doc_id")["simhash16"]
    assert sh[0] == sh[1]  # identical docs -> identical fingerprints
    out = dedup.simhash_near_dups(docs, max_hamming=2).toPandas()
    assert ((out["doc_a"] == 0) & (out["doc_b"] == 1)).any()


def test_simhash64_exhaustive_vs_brute(spark, sf_small):
    """simhash_near_dups64 returns EXACTLY the pairs at hamming<=3
    (completeness is the 4x16 pigeonhole guarantee; soundness the
    filter) — brute-force check over the documents table."""
    import numpy as np

    docs_t = spark.read.parquet(f"{sf_small}/documents.parquet")
    sh = dedup.simhash64(docs_t).toPandas().sort_values("doc_id").reset_index(drop=True)
    sig = (
        sh["sh0"].to_numpy().astype(np.int64)
        | (sh["sh1"].to_numpy().astype(np.int64) << 16)
        | (sh["sh2"].to_numpy().astype(np.int64) << 32)
        | (sh["sh3"].to_numpy().astype(np.int64) << 48)
    )
    ids = sh["doc_id"].to_numpy()
    x = sig[:, None] ^ sig[None, :]
    ham = np.zeros_like(x)
    for _ in range(64):
        ham += x & 1
        x >>= 1
    ai, bi = np.where(np.triu(ham <= 3, k=1))
    expected = {
        (int(min(ids[a], ids[b])), int(max(ids[a], ids[b]))) for a, b in zip(ai, bi)
    }
    out = dedup.simhash_near_dups64(docs_t, max_hamming=3).toPandas()
    got = set(map(tuple, out[["doc_a", "doc_b"]].to_numpy()))
    assert got == expected


@pytest.mark.slow
def test_simhash64_scale_bounded_buckets(spark):
    """>=1e5 docs: planted exact dups all found at hamming 0, and no
    16-bit band bucket becomes a hotspot (bounded self-join fan-out)."""

    def gen(iterator):
        for pdf in iterator:
            ids = pdf["id"].to_numpy()
            rows = []
            for i in ids:
                i = int(i)
                base = i - 1 if i % 1000 == 1 else i  # every 1000th: exact dup pair
                toks = " ".join(f"w{(base * 7 + j * 131) % 50021}" for j in range(8))
                rows.append((i, toks))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    n = 100_000
    spark_docs = (
        spark.range(n).repartition(8).mapInPandas(gen, "doc_id long, text string")
    )
    sh = dedup.simhash64(spark_docs).cache()
    max_bucket = (
        sh.groupBy("sh0").count().agg(F.max("count")).first()[0]
    )
    assert max_bucket < n * 0.01, max_bucket  # no hot band bucket
    pairs = dedup.simhash_near_dups64(spark_docs, max_hamming=3)
    planted = pairs.where(
        (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("doc_a") % 1000 == 0)
        & (F.col("hamming") == 0)
    ).count()
    assert planted == n // 1000, planted
    sh.unpersist()


def test_ann_lsh_recall_vs_brute(vectors):
    qs = vectors.orderBy("vec_id").limit(8).select("vec_id")
    exact = ann.brute_force_topk(vectors, qs, k=5).toPandas()
    approx = ann.lsh_topk(vectors, qs, k=5, n_planes=4, n_tables=6).toPandas()
    e = set(map(tuple, exact[["query_id", "neighbor_id"]].to_numpy()))
    a = set(map(tuple, approx[["query_id", "neighbor_id"]].to_numpy()))
    recall = len(e & a) / len(e)
    # synthetic near-orthogonal embeddings are LSH-adversarial; the bar
    # is "far better than random candidates", not production recall
    assert recall >= 0.3, recall


def test_ann_ivf_kmeans_refinement_on_clustered_data(spark):
    """Clustered embeddings where first-N-by-id centroid init is bad
    (the first ids all sit in ONE cluster): k-means refinement must
    recover high recall (r1 verdict weak spot)."""
    import numpy as np

    rng = np.random.RandomState(17)
    centers = rng.normal(0, 1, (8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    # ids 0..15 all in cluster 0 (adversarial init), rest round-robin
    for i in range(400):
        c = 0 if i < 16 else i % 8
        v = centers[c] + rng.normal(0, 0.05, 16)
        rows.append((i, [float(x) for x in v], c))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    qs = df.orderBy("vec_id").limit(12).select("vec_id")
    exact = ann.brute_force_topk(df, qs, k=5).toPandas()
    plain = ann.ivf_topk(df, qs, k=5, n_lists=8, nprobe=2).toPandas()
    refined = ann.ivf_topk(df, qs, k=5, n_lists=8, nprobe=2, kmeans_iters=3).toPandas()
    e = set(map(tuple, exact[["query_id", "neighbor_id"]].to_numpy()))

    def recall(a):
        s = set(map(tuple, a[["query_id", "neighbor_id"]].to_numpy()))
        return len(e & s) / len(e)

    r_plain, r_refined = recall(plain), recall(refined)
    assert r_refined >= 0.9, (r_plain, r_refined)
    assert r_refined >= r_plain


def test_embedding_cosine_near_dups_lsh_recall(vectors):
    """LSH-pruned near-dup pairs vs the exact quadratic baseline."""
    exact = ann.cosine_near_dups(vectors, threshold=0.3).toPandas()
    lsh = ann.cosine_near_dups(
        vectors, threshold=0.3, use_lsh=True, n_planes=4, n_tables=6
    ).toPandas()
    e = set(map(tuple, exact[["doc_a", "doc_b"]].to_numpy()))
    l = set(map(tuple, lsh[["doc_a", "doc_b"]].to_numpy()))
    assert l <= e  # pruning never invents pairs (exact re-score)
    assert len(e) > 0
    assert len(e & l) / len(e) >= 0.5  # near-orthogonal synthetic data


def test_cosine_near_dups_block_gram_exact(vectors):
    """The exact path's block-Gram kernel against an independent
    per-pair reference, and block-count invariance."""
    import numpy as np

    out = ann.cosine_near_dups(vectors, threshold=0.3).toPandas()
    pdf = vectors.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    M = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    nrm = np.sqrt((M * M).sum(axis=1))
    C = (M @ M.T) / np.outer(nrm, nrm)
    iu, ju = np.triu_indices(len(ids), k=1)
    keep = C[iu, ju] >= 0.3
    ref = {
        (int(ids[i]), int(ids[j])): round(float(C[i, j]), 6)
        for i, j in zip(iu[keep], ju[keep])
    }
    got = {
        (int(a), int(b)): float(c)
        for a, b, c in out[["doc_a", "doc_b", "cosine"]].to_numpy()
    }
    assert set(got) == set(ref)
    assert all(abs(got[k] - ref[k]) < 2e-6 for k in ref)
    one_block = ann.cosine_near_dups(vectors, threshold=0.3, n_blocks=1).toPandas()
    got1 = {
        (int(a), int(b)): float(c)
        for a, b, c in one_block[["doc_a", "doc_b", "cosine"]].to_numpy()
    }
    assert got1 == got


def test_cosine_near_dups_block_bound(vectors, monkeypatch):
    """A block over ann.MAX_BLOCK_ROWS fails the exact path with an
    error naming n_blocks and the block's size; at a bound the largest
    block meets, the pairs are those of the default bound."""
    import re

    base = ann.cosine_near_dups(vectors, threshold=0.3, n_blocks=2).toPandas()
    monkeypatch.setattr(ann, "MAX_BLOCK_ROWS", 5)
    with pytest.raises(Exception) as info:
        ann.cosine_near_dups(vectors, threshold=0.3, n_blocks=2).collect()
    m = re.search(r"block \d holds (\d+) rows, over the 5-row block bound at n_blocks=2",
                  str(info.value))
    assert m, str(info.value)[-500:]
    sizes = vectors.select(
        (F.pmod(F.xxhash64("vec_id"), F.lit(2))).alias("b")).groupBy("b").count().toPandas()
    assert int(m.group(1)) in set(sizes["count"])
    monkeypatch.setattr(ann, "MAX_BLOCK_ROWS", int(sizes["count"].max()))
    same = ann.cosine_near_dups(vectors, threshold=0.3, n_blocks=2).toPandas()
    key = ["doc_a", "doc_b"]
    assert same.sort_values(key).reset_index(drop=True).equals(
        base.sort_values(key).reset_index(drop=True))


def test_cosine_near_dups_ragged_and_degenerate(spark):
    """Exact-path parity with the component-equi-join semantics on the
    inputs the kernel must not crash on: mixed vector widths (dot over
    shared indices == zero-padded dot), an empty embedding and a null
    id (both silently contribute no pairs, as the old join form did)."""
    import numpy as np

    rows = [
        (1, [1.0, 0.0, 2.0]),
        (2, [1.0, 0.0]),          # shorter: shares indices 0..1
        (3, [0.5, 0.0, 1.0, 9.9]),  # longer
        (4, []),                  # empty: no components
        (None, [1.0, 1.0]),       # null id: dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ann.cosine_near_dups(df, threshold=0.1).toPandas()
    got = {
        (int(a), int(b)): float(c)
        for a, b, c in out[["doc_a", "doc_b", "cosine"]].to_numpy()
    }
    vecs = {i: np.array(v, dtype=np.float64) for i, v in rows[:4] if v}
    ref = {}
    for a in vecs:
        for b in vecs:
            if a < b:
                w = min(len(vecs[a]), len(vecs[b]))
                dot = float(vecs[a][:w] @ vecs[b][:w])
                cos = dot / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
                if cos >= 0.1:
                    ref[(a, b)] = round(cos, 6)
    assert set(got) == set(ref)
    assert all(abs(got[k] - ref[k]) < 2e-6 for k in ref)


def test_ann_ivf_recall_vs_brute(vectors):
    qs = vectors.orderBy("vec_id").limit(8).select("vec_id")
    exact = ann.brute_force_topk(vectors, qs, k=5).toPandas()
    approx = ann.ivf_topk(vectors, qs, k=5, n_lists=8, nprobe=4).toPandas()
    e = set(map(tuple, exact[["query_id", "neighbor_id"]].to_numpy()))
    a = set(map(tuple, approx[["query_id", "neighbor_id"]].to_numpy()))
    assert len(e & a) / len(e) >= 0.5


def test_text_quality_and_tokens(docs):
    out = textops.quality_score(textops.token_count(docs)).toPandas().set_index("doc_id")
    assert (out["n_tokens_ws"] == out["n_tokens"]).all()
    assert out.loc[0, "n_tokens"] == 9
    assert out.loc[0, "stopword_hits"] >= 2


def test_language_id(docs):
    out = textops.language_id(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "lang_pred"] == "en"
    assert out.loc[3, "lang_pred"] == "de"
    assert out.loc[6, "lang_pred"] == "fr"


def test_doc_fingerprint_deterministic(docs):
    a = textops.doc_fingerprint(docs).toPandas().set_index("doc_id")["fingerprint"]
    b = textops.doc_fingerprint(docs).toPandas().set_index("doc_id")["fingerprint"]
    pd.testing.assert_series_equal(a, b)
    assert a[0] == a[1] and a[0] != a[2]


# --- resumable builds / lineage / streaming ---------------------------------

def test_resumable_build_skips_completed_shards(spark, images_small, tmp_path_factory):
    from mapnik_vector_tile_spark.operators import assign
    from mapnik_vector_tile_spark.plans import checkpoints as CK
    from mapnik_vector_tile_spark.sources import images as IMG

    out_dir = str(tmp_path_factory.mktemp("tiles_out"))
    located = IMG.with_location(images_small.limit(500))
    assigned = assign.assign_tiles(located, 3)
    input_path = IMG.fixture_path(2000)

    with pytest.raises(RuntimeError, match="injected failure"):
        CK.build_tiles_resumable(
            spark, assigned, ["image_id"], out_dir, input_path,
            n_shards=4, fail_after_shards=2, order_col="image_id",
        )
    summary = CK.build_tiles_resumable(
        spark, assigned, ["image_id"], out_dir, input_path,
        n_shards=4, order_col="image_id",
    )
    assert sorted(summary["skipped"]) and len(summary["skipped"]) == 2
    assert len(summary["built"]) == 2
    total = CK.read_all_shards(spark, out_dir).agg(F.sum("n_features")).collect()[0][0]
    # limit(500) collapses to one partition; count decoded features instead
    assert total == 500


def test_lineage_rows(spark, images_small):
    from mapnik_vector_tile_spark.operators import assign, encode
    from mapnik_vector_tile_spark.plans import lineage as L
    from mapnik_vector_tile_spark.sources import images as IMG

    located = IMG.with_location(images_small)
    tiles = encode.build_point_tiles(
        assign.assign_tiles(located, 3), ["image_id"], order_col="image_id"
    )
    snap = L.input_snapshot_id(spark, IMG.fixture_path(2000))
    assert snap.startswith("files:")
    _, lineage = L.tiles_with_lineage(tiles, snap)
    pdf = lineage.toPandas()
    assert pdf["n_rows"].sum() == 2000
    assert (pdf["snapshot_id"] == snap).all()
    assert (pdf["min_z"] == 3).all()


def test_streaming_tile_counts(spark, images_small, tmp_path_factory):
    from mapnik_vector_tile_spark.streaming import incremental as S
    from mapnik_vector_tile_spark.sources import images as IMG

    out = str(tmp_path_factory.mktemp("stream"))
    q = S.stream_tile_counts(
        spark, IMG.fixture_path(2000), os.path.join(out, "ck1"), z=3, query_name="tc1"
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n_rows) FROM tc1").collect()[0][0]
    assert got == 2000


def test_streaming_rebuild_resume(spark, images_small, tmp_path_factory):
    """foreachBatch sink + checkpoint: a second availableNow run sees no
    new files and emits no new epochs (exactly-once resume)."""
    from mapnik_vector_tile_spark.streaming import incremental as S
    from mapnik_vector_tile_spark.sources import images as IMG

    base = str(tmp_path_factory.mktemp("stream_rebuild"))
    ck = os.path.join(base, "ck")
    out = os.path.join(base, "tiles")
    q = S.stream_rebuild_tiles(spark, IMG.fixture_path(2000), ck, out, ["image_id"], z=3)
    q.awaitTermination(180)
    epochs_first = set(os.listdir(out))
    assert epochs_first
    feats = spark.read.parquet(os.path.join(out, "epoch=*")).agg(
        F.sum("n_features")
    ).collect()[0][0]
    assert feats == 2000
    q2 = S.stream_rebuild_tiles(spark, IMG.fixture_path(2000), ck, out, ["image_id"], z=3)
    q2.awaitTermination(180)
    assert set(os.listdir(out)) == epochs_first  # nothing new processed


@pytest.mark.slow
def test_ann_lsh_scale_bounded_buckets(spark):
    """50k vectors, 12 planes x 4 tables: no hyperplane bucket becomes a
    hotspot (bounded candidate-join fan-out) and sampled recall stays
    useful on clustered data."""
    import numpy as np

    rng = np.random.RandomState(23)
    centers = rng.normal(0, 1, (32, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def gen(iterator):
        for pdf in iterator:
            ids = pdf["id"].to_numpy()
            local = np.random.RandomState(int(ids[0]) % 2**31)
            c = centers[ids % 32]
            v = c + local.normal(0, 0.15, (len(ids), 16))
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": [[float(x) for x in r] for r in v]}
            )

    n = 50_000
    vecs = (
        spark.range(n).repartition(8)
        .mapInPandas(gen, "vec_id long, embedding array<float>")
        .localCheckpoint(eager=True)
    )
    buckets = ann._hyperplane_buckets(vecs, "vec_id", "embedding", n_planes=12, n_tables=4)
    max_bucket = buckets.groupBy("tbl", "bucket").count().agg(F.max("count")).first()[0]
    assert max_bucket < n * 0.15, max_bucket  # no single-bucket collapse
    qs = vecs.orderBy("vec_id").limit(6).select("vec_id")
    exact = ann.brute_force_topk(vecs, qs, k=5).toPandas()
    approx = ann.lsh_topk(vecs, qs, k=5, n_planes=12, n_tables=4).toPandas()
    e = set(map(tuple, exact[["query_id", "neighbor_id"]].to_numpy()))
    a = set(map(tuple, approx[["query_id", "neighbor_id"]].to_numpy()))
    assert len(e & a) / len(e) >= 0.5, len(e & a) / len(e)


def test_assign_tiles_refuses_cell_column_clash(spark):
    """A property named x/y/z must not be silently clobbered by the
    cell key (r4 guard; the geom path aliases such props instead)."""
    import pytest

    from mapnik_vector_tile_spark.operators import assign

    df = spark.createDataFrame(
        [(1.0, 2.0, "v")], "lon double, lat double, x string"
    )
    with pytest.raises(ValueError, match="rename them before"):
        assign.assign_tiles(df, 3)


def test_connected_components_matches_union_find(spark):
    """Distributed min-label components vs a scalar union-find oracle
    over a random graph (chains, cycles, singleton-free pair lists,
    multiple components)."""
    import random

    from mapnik_vector_tile_spark.operators.dedup import connected_components

    rng = random.Random(13)
    n = 400
    pairs = set()
    # long chains (worst case for naive propagation: big diameter)
    for base in range(0, 300, 100):
        for i in range(base, base + 99):
            pairs.add((i, i + 1))
    # random extra edges + a cycle
    for _ in range(150):
        a, b = rng.randrange(300, n), rng.randrange(300, n)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    pairs.add((399, 300))

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    touched = {v for p in pairs for v in p}
    for v in touched:
        want[v] = find(v)

    df = spark.createDataFrame(
        sorted(pairs), "doc_a long, doc_b long"
    )
    got = {
        int(r["id"]): int(r["component"])
        for r in connected_components(df).collect()
    }
    assert got == want


def test_connected_components_string_ids(spark):
    from mapnik_vector_tile_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "doc_a string, doc_b string"
    )
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_curation_funnel_neardup_end_to_end(spark, tmp_path_factory):
    """The composed LSH->Jaccard->connected-components->sample funnel on
    a hand-computable corpus: exact dups collide in every LSH band and
    verify at jaccard=1.0, so cluster membership is deterministic; a
    cross-stratum dup's representative lands in the OTHER stratum,
    leaving this one empty (n_unique=0, min_sampled null)."""
    from mapnik_vector_tile_spark.nonsql_queries import q_curation_funnel_neardup

    base = "the quick brown fox jumps over the lazy sleeping dog tonight again"
    other = "completely different content about spark pipelines and shuffle joins"
    cross = "shared duplicated body of text that lives in two strata at once yes"
    assert len(base) >= 64 and len(other) >= 64 and len(cross) >= 64
    rows = [
        (0, base, "en", "web"),     # cluster {0,1}, rep 0
        (1, base, "en", "web"),
        (2, other, "en", "web"),    # singleton
        (3, "les chats dorment paisiblement pendant que la pluie tombe sur paris", "fr", "web"),  # singleton
        (10, cross, "en", "web"),   # cross-stratum dup, rep (10 < 11)
        (11, cross, "fr", "book"),  # loses its only doc to en/web
        (12, "short", "en", "web"),  # fails quality filter
    ]
    d = tmp_path_factory.mktemp("funnel")
    pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"]).to_parquet(
        f"{d}/documents.parquet"
    )
    out = {
        (r["lang"], r["source"]): r
        for r in q_curation_funnel_neardup(spark, str(d)).collect()
    }
    en_web = out[("en", "web")]
    assert en_web["n_quality"] == 4
    assert en_web["n_clustered"] == 3      # 0, 1, 10
    assert en_web["n_unique"] == 3         # 0 (rep), 2, 10 (rep)
    assert en_web["n_sampled"] == 3
    fr_web = out[("fr", "web")]
    assert (fr_web["n_quality"], fr_web["n_clustered"], fr_web["n_unique"]) == (1, 0, 1)
    fr_book = out[("fr", "book")]
    assert fr_book["n_quality"] == 1 and fr_book["n_clustered"] == 1
    assert fr_book["n_unique"] == 0 and fr_book["n_sampled"] == 0
    assert fr_book["min_sampled"] is None
    assert ("en", "short") not in out and len(out) == 3
