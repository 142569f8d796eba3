"""Deduplication operators for training-data pipelines (brief: exact,
MinHash+LSH, SimHash, n-gram Jaccard). DataFrame-API forms of the SQL
twins in queries.py (which the driver oracle-checks); these add the
*scale* mechanics: LSH banding joins instead of all-pairs, dedup before
the expensive verify, map-side combines everywhere.

All hashes are md5-derived 60-bit ints (portable, seedable by constant
mixing) — no per-row Python UDFs anywhere; scoring and banding are
Column math, and the only Python stages are the vectorized
chunk/expand kernels inside minhash_lsh_candidates (batch numpy over
Arrow, never row-at-a-time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MERSENNE = 2147483647


def _hash60(col) -> object:
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def _tokens(df: DataFrame, text_col: str) -> DataFrame:
    return df.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).withColumn("th", _hash60(F.col("word")))


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact content dedup: hash-group, keep min doc_id as representative."""
    h = _hash60(F.col(text_col))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("representative"))
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", n_perm: int = 8) -> DataFrame:
    """MinHash over whitespace shingles: n_perm universal-hash minima.
    One explode + one map-side-combined agg; no per-row Python."""
    toks = _tokens(df, text_col)
    a_b = [(40503 + 2 * i * 1013, 17 + i * 29) for i in range(n_perm)]
    aggs = [
        F.min(((F.col("th") % MERSENNE) * a + b) % MERSENNE).alias(f"h{i}")
        for i, (a, b) in enumerate(a_b)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame, text_col: str = "text", n_perm: int = 8, bands: int = 4,
    chunk: int = 512,
) -> DataFrame:
    """LSH banding: signatures -> band keys -> per-bucket pair expansion.
    All-pairs never materializes: docs sharing a band key land in one
    bucket (equi-shuffle on the band hash), each bucket's member list is
    cut into `chunk`-sized slices, and every slice pair becomes an
    independent work unit expanded by a vectorized numpy kernel. A
    bucket of any size therefore spreads over ceil(n/chunk)^2/2 tasks —
    a single hot band key cannot serialize the stage (AQE skew-split
    cannot cut one join key; this chunking can). Each unit carries the
    members' full band-key vectors, so the kernel computes n_bands_hit
    directly and emits a pair only from its FIRST matching band — the
    output is exact and already distinct, eliminating the former
    20M-row pair shuffle + 9.6M-group count aggregation (sf0.1 shape)
    behind the old band join. Returns (doc_a, doc_b, n_bands_hit).

    doc_id must be an integral column: ids travel through the kernels
    as int64 and pairs are ordered numerically. Any other type raises
    TypeError here, before a job runs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegralType

    id_type = df.schema["doc_id"].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError(
            "minhash_lsh_candidates needs an integral doc_id column, "
            f"got doc_id {id_type.simpleString()}"
        )

    rows_per_band = n_perm // bands
    sig = minhash_signatures(df, text_col, n_perm)
    band_cols = [
        F.xxhash64(*[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("doc_id", *band_cols)
    stacked = banded.selectExpr(
        "doc_id",
        "array({sig}) as sig".format(sig=", ".join(f"band{b}" for b in range(bands))),
        "stack({n}, {pairs}) as (band_idx, band_key)".format(
            n=bands, pairs=", ".join(f"{b}, band{b}" for b in range(bands))
        ),
    )

    def make_chunks(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        cols = ("band_idx", "band_key", "ci", "ids", "sigs")
        if n < 2:
            return pd.DataFrame(
                {
                    "band_idx": pd.Series([], dtype="int32"),
                    "band_key": pd.Series([], dtype="int64"),
                    "ci": pd.Series([], dtype="int32"),
                    "ids": pd.Series([], dtype="object"),
                    "sigs": pd.Series([], dtype="object"),
                }
            )
        pdf = pdf.sort_values("doc_id")
        ids = pdf["doc_id"].to_numpy()
        sigs = np.vstack([np.asarray(s, dtype=np.int64) for s in pdf["sig"]])
        bidx = int(pdf["band_idx"].iloc[0])
        bkey = int(pdf["band_key"].iloc[0])
        nc = -(-n // chunk)
        rows = []
        for i in range(nc):
            s = slice(i * chunk, (i + 1) * chunk)
            rows.append((bidx, bkey, i, ids[s].tolist(), sigs[s].ravel().tolist()))
        return pd.DataFrame(rows, columns=cols)

    # One row per chunk (O(bucket) bytes per task), then a self-equi-join
    # on the bucket key pairs the chunks: the quadratic unit stream is
    # produced by the streaming join, never materialized in one task, so
    # a degenerate bucket cannot OOM the chunking stage.
    chunks = stacked.groupBy("band_idx", "band_key").applyInPandas(
        make_chunks,
        schema="band_idx int, band_key long, ci int, "
        "ids array<long>, sigs array<long>",
    )
    ca = chunks.select(
        "band_idx", "band_key", F.col("ci").alias("ca"),
        F.col("ids").alias("ids_a"), F.col("sigs").alias("sigs_a"),
    )
    cb = chunks.select(
        "band_idx", "band_key", F.col("ci").alias("cb"),
        F.col("ids").alias("ids_b"), F.col("sigs").alias("sigs_b"),
    )
    units = (
        ca.join(cb, ["band_idx", "band_key"])
        .where(F.col("ca") <= F.col("cb"))
        .select(
            "band_idx",
            "ids_a",
            "sigs_a",
            # diag units read only the a side — don't ship the duplicate
            F.when(F.col("ca") < F.col("cb"), F.col("ids_b")).alias("ids_b"),
            F.when(F.col("ca") < F.col("cb"), F.col("sigs_b")).alias("sigs_b"),
        )
    )
    parallelism = df.sparkSession.sparkContext.defaultParallelism

    def expand(iterator):
        for pdf in iterator:
            out_a, out_b, out_n = [], [], []
            for bidx, ids_a, sigs_a, ids_b, sigs_b in zip(
                pdf["band_idx"], pdf["ids_a"], pdf["sigs_a"],
                pdf["ids_b"], pdf["sigs_b"],
            ):
                ia_arr = np.asarray(ids_a, dtype=np.int64)
                A = np.asarray(sigs_a, dtype=np.int64).reshape(len(ia_arr), bands)
                diag = ids_b is None or len(ids_b) == 0
                if diag:
                    ib_arr, B = ia_arr, A
                else:
                    ib_arr = np.asarray(ids_b, dtype=np.int64)
                    B = np.asarray(sigs_b, dtype=np.int64).reshape(len(ib_arr), bands)
                eq = A[:, None, :] == B[None, :, :]
                first = eq.argmax(axis=2)
                hit = first == bidx
                if diag:
                    hit &= np.triu(np.ones((len(ia_arr),) * 2, dtype=bool), k=1)
                ii, jj = np.nonzero(hit)
                if len(ii) == 0:
                    continue
                out_a.append(ia_arr[ii])
                out_b.append(ib_arr[jj])
                out_n.append(eq.sum(axis=2)[ii, jj].astype(np.int64))
            if out_a:
                yield pd.DataFrame(
                    {
                        "doc_a": np.concatenate(out_a),
                        "doc_b": np.concatenate(out_b),
                        "n_bands_hit": np.concatenate(out_n),
                    }
                )

    return units.repartition(parallelism).mapInPandas(
        expand, schema="doc_a long, doc_b long, n_bands_hit long"
    )


def ngram_jaccard(
    df: DataFrame, text_col: str = "text", candidates: DataFrame | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Verified near-dup scores for candidate pairs (token-set Jaccard).
    candidates: (doc_a, doc_b); default = LSH candidates. Filter-and-
    refine: LSH coarse (equi-join) -> exact Jaccard via distinct-token
    intersection counts (again an equi-join on token hash, no UDF)."""
    if candidates is None:
        candidates = minhash_lsh_candidates(df, text_col)
    # r7: intersect per-doc token-SET ARRAYS instead of exploding
    # candidates x tokens. The old inter-join shipped one row per
    # (pair, shared token) — |cand| * tokens-per-doc rows (480M on the
    # sf0.1 funnel, an 11+ GB exchange into a sort-merge join). The
    # array form joins each doc's distinct-token array once per pair
    # side (AQE broadcasts the per-doc table when it is small) and
    # computes the identical intersection count with a JVM built-in:
    # size(array_intersect(a, b)) over distinct-element arrays == the
    # old count of matching th rows. Rows through the join drop by the
    # tokens-per-doc factor; a jaccard=0 pair is filtered by the same
    # threshold predicate the old inner token-join encoded implicitly
    # (threshold > 0 by contract, as 0 would mean "every pair").
    arrs = (
        _tokens(df, text_col)
        .select("doc_id", "th")
        .groupBy("doc_id")
        .agg(F.collect_set("th").alias("_ths"))
    )
    scored = (
        candidates.join(
            arrs.select(F.col("doc_id").alias("doc_a"), F.col("_ths").alias("_tha")),
            "doc_a",
        )
        .join(
            arrs.select(F.col("doc_id").alias("doc_b"), F.col("_ths").alias("_thb")),
            "doc_b",
        )
        # shuffle() is a nondeterminism BARRIER, not an algorithm step:
        # without it Catalyst pushes the threshold filter into the join
        # condition and array_intersect evaluates 4x per row (3x in the
        # pushed condition + 1x in the projection; measured 34.5s vs
        # 12-14s on the 9.6M-pair sf0.1 funnel). size() of the
        # intersection is invariant under the permutation, so results
        # are identical and stable under task retries.
        .withColumn(
            "inter", F.size(F.array_intersect(F.shuffle("_tha"), "_thb"))
        )
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("_tha") + F.size("_thb") - F.col("inter")),
        )
    )
    # inter > 0 mirrors the old INNER token-join exactly (it never
    # emitted zero-intersection pairs, whatever the threshold)
    return scored.where(
        (F.col("inter") > 0) & (F.col("jaccard") >= threshold)
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def simhash(df: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash fingerprint: per-bit signed votes of token hashes."""
    toks = _tokens(df, text_col)
    bit_sum = sum(
        F.when(
            F.sum(
                F.when((F.col("th") % (2 ** (b + 1))) >= 2**b, 1).otherwise(-1)
            ) > 0,
            2**b,
        ).otherwise(0)
        for b in range(bits)
    )
    return toks.groupBy("doc_id").agg(bit_sum.alias(f"simhash{bits}"))


def simhash_near_dups(df: DataFrame, text_col: str = "text", max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs by 16-bit SimHash hamming distance, banded into
    THREE segments (6/5/5 bits): pigeonhole guarantees detection for
    hamming <= 2 (r1 shipped two 8-bit halves, which only guarantees
    hamming <= 1 — the advisor's recall finding)."""
    sh = simhash(df, text_col, bits=16)
    segs = sh.select(
        "doc_id",
        F.col("simhash16").alias("sig"),
        (F.col("simhash16") % 64).alias("s0"),          # bits 0-5
        (F.floor(F.col("simhash16") / 64) % 32).alias("s1"),    # bits 6-10
        F.floor(F.col("simhash16") / 2048).alias("s2"),  # bits 11-15
    )
    pairs = None
    for part in ("s0", "s1", "s2"):
        a = segs.alias("a")
        b = segs.alias("b")
        p = a.join(
            b,
            (F.col(f"a.{part}") == F.col(f"b.{part}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.distinct()
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.withColumn("hamming", ham).where(F.col("hamming") <= max_hamming).select(
        "doc_a", "doc_b", "hamming"
    )


def simhash64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash as four 16-bit chunk columns (sh0..sh3) — the
    production-scale fingerprint (r1 verdict: 16-bit banding means 256
    buckets per half -> hot buckets at >=1e9 docs; 16-bit bands of a
    64-bit fingerprint give 65536 buckets per band).

    Bits 0-31 come from the primary md5 token hash, bits 32-63 from an
    independently-salted md5 — both portable, seedable Column math."""
    toks = _tokens(df, text_col).withColumn(
        "th2", _hash60(F.concat(F.lit("s2:"), F.col("word")))
    )
    def chunk(src, lo):
        return sum(
            F.when(
                F.sum(
                    F.when(F.shiftright(F.col(src), lo + b).bitwiseAND(F.lit(1)) == 1, 1)
                    .otherwise(-1)
                ) > 0,
                2**b,
            ).otherwise(0)
            for b in range(16)
        )
    return toks.groupBy("doc_id").agg(
        chunk("th", 0).alias("sh0"),
        chunk("th", 16).alias("sh1"),
        chunk("th2", 0).alias("sh2"),
        chunk("th2", 16).alias("sh3"),
    )


def simhash_near_dups64(
    df: DataFrame, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash hamming, banded on the four
    16-bit chunks (pigeonhole: <=3 flips leave at least one chunk
    exact). Bucket fan-out per band is 2^16, so the per-bucket join
    stays bounded at web scale."""
    sh = simhash64(df, text_col)
    chunks = ["sh0", "sh1", "sh2", "sh3"]
    pairs = None
    for part in chunks:
        a = sh.alias("a")
        b = sh.alias("b")
        p = a.join(
            b,
            (F.col(f"a.{part}") == F.col(f"b.{part}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.{c}").alias(f"a_{c}") for c in chunks],
            *[F.col(f"b.{c}").alias(f"b_{c}") for c in chunks],
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.distinct()
    ham = sum(
        F.bit_count(F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}"))) for c in chunks
    )
    return pairs.withColumn("hamming", ham).where(F.col("hamming") <= max_hamming).select(
        "doc_a", "doc_b", "hamming"
    )


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_iters: int = 25
) -> DataFrame:
    """Distributed connected components over an undirected pair list —
    the clustering step a web-scale near-dup pipeline needs after
    LSH + verification (candidate pairs -> cluster ids; cluster id =
    minimum member id). Returns (id, component).

    Min-label propagation with pointer jumping: each round is one
    edges-to-labels equi-join shuffle plus a label-to-label join
    (labels follow their own label's label), so rounds grow like
    O(log diameter) instead of O(diameter); every round is cut from
    lineage with an eager localCheckpoint and convergence is an O(1)
    changed-count. Nothing ever gathers to the driver — 100 TB-safe
    the same way the banded LSH joins are."""
    e = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    # The checkpoint is laid out clustered AND sorted by the join key.
    # The round plan is unchanged (the label side broadcasts either
    # way); the win is data layout: every propagation round streams
    # edges with equal u adjacent, so the broadcast-probe and the
    # min-agg's partial hash map touch one key at a time instead of
    # random-walking 16M rows. Measured on the sf0.1 funnel across
    # interleaved A/B reps: loop 19-38s -> 10-15s, checkpoint build
    # 15-18s -> 7-13s; neither repartition nor the sort alone gives
    # the full effect.
    edges = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .repartition("u")
        .sortWithinPartitions("u")
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr = edges.join(
            labels.select(F.col("id").alias("u"), "lbl"), "u"
        ).select(F.col("v").alias("id"), "lbl")
        mins = (
            labels.unionByName(nbr).groupBy("id").agg(F.min("lbl").alias("lbl"))
        )
        jumped = (
            mins.join(
                mins.select(F.col("id").alias("lbl"), F.col("lbl").alias("_lbl2")),
                "lbl",
                "left",
            )
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("_lbl2", F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.join(labels.withColumnRenamed("lbl", "_old"), "id")
            .where(F.col("lbl") != F.col("_old"))
            .count()
        )
        old = labels
        labels = jumped
        old.unpersist()
        if changed == 0:
            break
    # ADVICE r5: release the edge checkpoint once converged — only the
    # returned labels stay materialized
    edges.unpersist()
    return labels.select("id", F.col("lbl").alias("component"))
