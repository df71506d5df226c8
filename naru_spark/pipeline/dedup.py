"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design notes (100 TB):
- exact: one shuffle on the content hash; the window is per-hash-group
  (tiny partitions), no global sort.
- n-gram Jaccard: |doc| x |shingle| explode -> self-join on shingle. The
  join key is the shingle hash; hot shingles are the skew risk — we drop
  shingles occurring in > max_df docs (stopword-shingles add no signal and
  quadratic-blowup the join), which is also what large-scale dedup pipelines
  do in practice.
- MinHash LSH: signatures via ONE groupBy(doc) with k min-aggregates;
  banding turns candidate generation into an equi-join on (band, bucket) —
  shuffle volume is #docs x #bands rows, never #docs^2.
- SimHash: per-token 32-bit hashes vote per bit; near-dup = same signature
  in >= 1 of (hamming_k+1) bit-blocks, then exact hamming verify.
- embedding: brute-force O(n^2) verify for tests; the LSH path (random
  hyperplanes) is the scale route.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from naru_spark.pipeline.text import tokens_col

# Mersenne prime 2^31-1: modulus for the universal hash family
# h_i(x) = (a_i * x + b_i) mod p. Parameters and inputs are < 2^31 so the
# product stays < 2^62 — no long overflow under Spark's ANSI arithmetic
# (same scheme as MLlib MinHashLSH, which also uses a 32-bit prime).
_MERSENNE = (1 << 31) - 1


# --------------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep one row per distinct content (lowest id wins); adds
    ``dup_group_size``. One shuffle on md5(text)."""
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", F.md5(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("dup_group_size", F.count("*").over(Window.partitionBy("__fp")))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


# ----------------------------------------------------------------- shingles
def shingle_df(df: DataFrame, id_col: str, text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingle) pairs: distinct token n-grams per document. Built via
    the vectorized zip_with chain (``ngrams_col``) — the per-element
    dynamic-slice transform was measured ~20x slower (interpreted path)."""
    from naru_spark.pipeline.text import ngrams_col

    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(ngrams_col(tokens_col(text_col), n)).alias("shingle"),
        )
        .distinct()
    )


def _unit_overlap_counts(
    unit: DataFrame, min_shared: int = 1, max_df: int | None = None
) -> DataFrame:
    """Shared pair-generation scaffold for set-overlap dedup families:
    ``unit`` is DISTINCT (id, unit) rows (shingles, fingerprints, ...).
    Drops units present in more than ``max_df`` documents (stop-unit skew +
    noise control — hot keys quadratic-blowup the self-join), counts
    per-document retained units, equi-joins on unit (a < b), and returns
    (id_a, id_b, shared, size_a, size_b) for pairs with >= ``min_shared``
    shared units. Shuffle volume is #docs x #units/doc rows, never
    #docs^2; the score formula (Jaccard, containment, ...) is the
    caller's."""
    unit = unit.cache()
    if max_df is not None:
        hot = unit.groupBy("unit").agg(F.count("*").alias("df_cnt")).filter(
            F.col("df_cnt") > max_df
        )
        # cache the RETAINED set too: it feeds three consumers (sizes +
        # both join sides), and uncached each would re-run the hot
        # aggregate + anti-join from the base cache (guide §1.2). The
        # base cache above still matters — extraction (md5 k-grams,
        # shingling) is the expensive part and feeds hot + this join.
        unit = unit.join(hot.select("unit"), "unit", "left_anti").cache()
    sizes = unit.groupBy("id").agg(F.count("*").alias("sz"))
    a = unit.select(F.col("id").alias("id_a"), "unit")
    b = unit.select(F.col("id").alias("id_b"), "unit")
    shared = (
        a.join(b, "unit")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    if min_shared > 1:
        shared = shared.filter(F.col("shared") >= min_shared)
    return shared.join(
        sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("size_a")), "id_a"
    ).join(
        sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("size_b")), "id_b"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over token n-gram sets for all pairs with
    jaccard >= threshold (a < b). Pair scaffold in ``_unit_overlap_counts``
    (self-join on shingle, intersection by groupBy pair, |A|,|B| joined
    back; ``max_df`` drops ubiquitous shingles)."""
    sh = shingle_df(df, id_col, text_col, n).select(
        "id", F.col("shingle").alias("unit")
    )
    return (
        _unit_overlap_counts(sh, max_df=max_df)
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "id_a", "id_b", F.col("shared").alias("inter"),
            "size_a", "size_b", "jaccard",
        )
    )


# ----------------------------------------------------------------- winnowing
def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    threshold: float = 0.8,
    min_shared: int = 3,
    max_df: int | None = 20,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Document-overlap candidates via winnowing fingerprints (the MOSS
    clone-detection scheme): fingerprint each document with
    ``text.winnow_fingerprints`` (rolling k-gram hashes, window-min
    selection — reference naru has no fingerprinting plane; this is the
    training-data-pipeline surface), then pair documents sharing
    fingerprints and score CONTAINMENT = |shared| / min(|fps_a|, |fps_b|)
    — the asymmetric measure that catches a small document pasted inside
    a big one, which symmetric Jaccard dilutes.

    Scale design (100 TB): fingerprint extraction is shuffle-free row-local
    expression work; candidate generation is an equi-join on the
    fingerprint hash — shuffle volume is #docs x #fps/doc (~1/window the
    k-gram count), never #docs^2. ``max_df`` drops fingerprints present in
    more than that many documents BEFORE the join (boilerplate grams add
    no identity signal and quadratic-blowup the hot keys — the same
    stop-shingle discipline as ``ngram_jaccard_pairs``); containment is
    then computed over the retained fingerprints on BOTH sides, so the
    measure stays internally consistent. ``min_shared`` floors the
    evidence: one cosmic shared gram on two tiny documents is noise.

    Returns (id_a, id_b, shared, size_a, size_b, containment), a < b.
    """
    from naru_spark.pipeline.text import winnow_fingerprints

    # .distinct(): winnow_fingerprints is row-local (zero shuffle), so
    # duplicate id rows in the input (e.g. a union of ingest batches)
    # would duplicate fingerprints and inflate every downstream count —
    # the same guard shingle_df gives the Jaccard path
    fp = (
        winnow_fingerprints(df, id_col, text_col, k, window, base_hash)
        .select(F.col(id_col).alias("id"), F.col("fp").alias("unit"))
        .distinct()
    )
    return (
        _unit_overlap_counts(fp, min_shared=min_shared, max_df=max_df)
        .withColumn(
            "containment",
            F.round(F.col("shared") / F.least(F.col("size_a"), F.col("size_b")), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "shared", "size_a", "size_b", "containment")
    )


# ------------------------------------------------------------------ minhash
def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 7,
    shingles: DataFrame | None = None,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) via ONE aggregation:
    shingle -> base hash -> k universal hashes -> min per doc. No per-row
    Python; k min-aggregates in one groupBy. ``shingles`` lets callers
    share one cached (id, shingle) DF with the verify stage instead of
    re-sharding the corpus.

    ``base_hash``: 'xxhash64' (Spark-native, fastest) or 'md5' — the
    first 15 hex chars of md5 parsed as an integer, reproducible in ANY
    engine with an md5 function (DuckDB: CAST('0x'||substr(md5(s),1,15)
    AS UBIGINT)), which makes the whole LSH pipeline oracle-verifiable
    rather than rows-only."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    # base shingle hash reduced mod p so a*base < 2^62 (ANSI-safe)
    sh = shingles if shingles is not None else shingle_df(df, id_col, text_col, n)
    # each of the k universal-hash columns rendered as ONE F.expr string —
    # the old F.pmod/F.lit Column build cost ~5 py4j round-trips per hash
    # (~300 per signature call); the parsed expression is identical
    if base_hash == "md5":
        base_sql = (
            "pmod(cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint), "
            f"{_MERSENNE})"
        )
    else:
        assert base_hash == "xxhash64", base_hash
        base_sql = f"pmod(xxhash64(shingle), {_MERSENNE})"
    hashed = sh.select(
        "id",
        *[
            F.expr(
                f"pmod({int(a[i])} * {base_sql} + {int(b[i])}, {_MERSENNE})"
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    agg = hashed.groupBy("id").agg(
        *[F.expr(f"min(h{i})").alias(f"h{i}") for i in range(num_hashes)]
    )
    return agg.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 7,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs from LSH banding, verified with exact Jaccard on the
    shingle sets. bands=16/rows=4 targets t ~ (1/16)^(1/4) ~ 0.5.
    ``base_hash='md5'`` makes the candidate generation engine-reproducible
    (see minhash_signatures)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sh = shingle_df(df, id_col, text_col, n).cache()
    sig = minhash_signatures(
        df, id_col, text_col, n, num_hashes, seed, shingles=sh, base_hash=base_hash
    )
    # one F.expr per band struct (the F.struct/F.xxhash64/F.concat_ws
    # Column build cost ~10 py4j round-trips per band; the parsed
    # expression is identical)
    band_sqls = [
        f"struct({bi} as band, xxhash64(concat_ws(',', "
        + ", ".join(
            f"cast(sig[{bi * rows_per_band + r}] as string)"
            for r in range(rows_per_band)
        )
        + ")) as bucket)"
        for bi in range(bands)
    ]
    banded = sig.select(
        "id",
        F.explode(F.array(*[F.expr(s) for s in band_sqls])).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # exact verify on candidates only (reuses the cached shingle DF)
    sizes = sh.groupBy("id").agg(F.count("*").alias("set_size"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------------ simhash
def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 62,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(id, simhash bigint): per-token hash votes per bit position; bit set
    iff positive vote sum. explode + one groupBy; bit arithmetic stays
    JVM-side.

    ``base_hash='md5'`` uses the first 15 hex chars of md5 (exactly 60
    bits, so ``bits`` must be 60) — reproducible in any engine with md5,
    making the signature oracle-verifiable like the minhash md5 mode."""
    toks = df.select(F.col(id_col).alias("id"), F.explode(tokens_col(text_col)).alias("token"))
    if base_hash == "md5":
        assert bits == 60, "md5 mode yields exactly 60 bits"
        h = F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("bigint").alias("h")
    else:
        assert base_hash == "xxhash64", base_hash
        h = F.pmod(F.xxhash64("token"), F.lit(1 << bits)).alias("h")
    toks = toks.select("id", h)
    # per-bit vote aggregates and the bit-reassembly sum rendered as
    # F.expr strings (the Column build cost ~6 py4j round-trips per bit,
    # x62 bits x2 passes; the parsed expressions are identical)
    votes = toks.groupBy("id").agg(
        *[
            F.expr(
                f"sum(case when (h & {1 << i}) != 0 then 1 else -1 end)"
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    sig_sql = " + ".join(
        f"(case when b{i} > 0 then {1 << i} else 0 end)" for i in range(bits)
    )
    return votes.select("id", F.expr(f"cast(({sig_sql}) as bigint)").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 62,
    max_hamming: int = 3,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming. Candidates via
    (max_hamming+1)-block banding (pigeonhole: some block must match),
    verified with exact popcount."""
    sig = simhash_signatures(df, id_col, text_col, bits, base_hash=base_hash).cache()
    blocks = max_hamming + 1
    width = bits // blocks
    banded = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("block"),
                        F.shiftright(F.col("simhash"), bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for bi in range(blocks)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.block", "bb.key")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["block", "key"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("sig_a"),
            F.col("y.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------- embedding
_PAIR_SCHEMA = "id_a long, id_b long, cosine double"


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_broadcast_rows: int = 2_000_000,
    driver_rows: int = 20_000,
) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with cosine >= threshold.

    Exact all-pairs, but computed as ONE numpy matmul per corpus batch
    against the broadcast (normalized) corpus matrix — a naive crossJoin +
    per-row cosine expression was measured at 464s for 5k vectors (12.5M
    interpreted HOF folds on one task); the matmul path is ~2s.

    Three regimes by corpus size n:
    - n <= driver_rows: one driver-side matmul (n^2 x dim flops; 20k x 64
      ~ 26 GFLOP ceiling). Spinning up 32 Arrow python workers + shipping
      the broadcast costs ~70s of fixed overhead — measured 71s vs 4s on a
      2k-vector corpus — so small corpora stay on the driver.
    - n <= max_broadcast_rows: broadcast the corpus matrix (rows x dim
      floats; 2M x 64 ~ 512 MB ceiling), batch-matmul per partition via
      mapInPandas.
    - beyond: banded hyperplane-LSH candidate generation + exact cosine
      verify (``embedding_dup_pairs_lsh``) — shuffle is #vecs x #bands
      rows, never #vecs^2, so the operator has no corpus-size ceiling.
      Approximate (recall < 1 by LSH nature), which is the standard
      trade at that scale."""
    import pandas as pd

    spark = df.sparkSession
    n = df.count()
    if n > max_broadcast_rows:
        return embedding_dup_pairs_lsh(df, id_col, vec_col, threshold)

    if n <= driver_rows:
        pdf = df.select(id_col, vec_col).toPandas()
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        # dot / (|a| * |b|): same formula shape as the SQL oracle's
        # cosine; round to 6 decimals before thresholding on both sides
        sims = np.round((mat @ mat.T) / (norms[:, None] * norms[None, :]), 6)
        ii, jj = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
        out = pd.DataFrame({"id_a": ids[ii], "id_b": ids[jj], "cosine": sims[ii, jj]})
        return spark.createDataFrame(out, schema=_PAIR_SCHEMA)

    pdf = df.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def pairs(batches):
        all_ids, all_mat, all_norms = bc.value
        for b in batches:
            bm = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            bnorms = np.linalg.norm(bm, axis=1)
            bids = b[id_col].to_numpy(dtype=np.int64)
            sims = np.round((bm @ all_mat.T) / (bnorms[:, None] * all_norms[None, :]), 6)
            ii, jj = np.nonzero((sims >= threshold) & (bids[:, None] < all_ids[None, :]))
            yield pd.DataFrame(
                {"id_a": bids[ii], "id_b": all_ids[jj], "cosine": sims[ii, jj]}
            )

    # fan the batch side out to the cluster's width (NOT a constant: the
    # driver benches at several core counts, and a 100 TB cluster is not
    # 32-wide). Per-row outputs depend only on the broadcast corpus, so
    # the partition count never changes the emitted pair set.
    width = spark.sparkContext.defaultParallelism
    return df.select(id_col, vec_col).repartition(width).mapInPandas(pairs, schema=_PAIR_SCHEMA)


def embedding_dup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 32,
    bands: int = 8,
    seed: int = 11,
) -> DataFrame:
    """Embedding near-dup pairs at unbounded corpus scale: banded
    random-hyperplane LSH candidates + exact cosine verify.

    Pipeline (all shuffles keyed, none quadratic):
    1. signature: one Arrow-batched matmul pass over the corpus
       (similarity.signature_udf — hyperplanes broadcast) -> ``bits``-bit
       sign signature per vector.
    2. banding: explode each signature into ``bands`` blocks of
       bits/bands bits; candidates = id pairs sharing >= 1 (block, key)
       bucket — an equi self-join whose shuffle volume is #vecs x #bands
       rows of (id, block, key), never #vecs^2 and never vector payloads.
    3. verify: join the candidate id pairs back to their vectors (two
       shuffled equi-joins on id) and keep pairs with exact
       cosine >= threshold (similarity.cosine_expr, JVM-side).

    Recall analysis (why 32 bits / 8 bands is the default for
    threshold=0.95): P(sign bit agrees) = 1 - acos(cos)/pi ~ 0.90 at
    cosine 0.95, so a 4-bit block matches with p ~ 0.90^4 ~ 0.65 and
    >=1 of 8 blocks matches with p ~ 1 - 0.35^8 > 0.999. Wider blocks
    (bits/bands up) cut candidate volume on unclustered corpora at the
    cost of recall — the knob a 100 TB run tunes first.

    Same output schema/semantics as ``embedding_dup_pairs`` (a < b,
    cosine rounded to 6 decimals), minus LSH-missed pairs."""
    from naru_spark.pipeline.similarity import cosine_pairs_udf, signature_udf, _hyperplanes

    assert bits % bands == 0
    width = bits // bands
    dim = len(df.select(vec_col).first()[0])
    sig = signature_udf(df.sparkSession, _hyperplanes(dim, bits, seed))

    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
    banded = (
        vecs.withColumn("__sig", sig(F.col("__v")))
        .select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("block"),
                            F.shiftright(F.col("__sig"), bi * width)
                            .bitwiseAND(F.lit((1 << width) - 1))
                            .alias("key"),
                        )
                        for bi in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select("id", "bb.block", "bb.key")
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["block", "key"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    cos = cosine_pairs_udf()
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("__v").alias("__va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb")), "id_b")
        .withColumn("cosine", cos(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list — the step that
    turns near-dup PAIRS into dup GROUPS (transitive closure: if A~B and
    B~C, {A,B,C} is one group and one representative survives).

    Min-label propagation: every node starts labeled with itself; each
    round takes the min label over itself and its neighbors; stop when no
    label changes. Each round is one shuffled join + one groupBy — both on
    the node key — and converges in O(component diameter) rounds (LSH dup
    graphs are near-cliques, so 2-3 rounds in practice; `max_iter` bounds
    adversarial chains). Results are checkpointed per round to cut the
    exponentially-growing lineage.

    Returns (id, component) with component = min node id in the component.
    Raises RuntimeError when no round of the first `max_iter` changed
    nothing: the labels would not be components yet.
    """
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = fwd.unionAll(fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))).cache()
    labels = sym.select("u").distinct().withColumn("label", F.col("u")).cache()

    label_t = dict(labels.dtypes)["label"]
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("u", "v2"), sym.v == F.col("v2"))
            .select(F.col("u"), F.col("label"))
        )
        # the previous label rides through the SAME aggregate (exactly one
        # labels row per node, so min(__old) recovers it; neighbor rows
        # carry NULL, which min ignores) — the convergence check then
        # reads the checkpointed result instead of re-joining new labels
        # against old, dropping one join + broadcast build per round.
        # Labels per round are identical: same min over the same rows.
        merged = (
            labels.withColumn("__old", F.col("label"))
            .unionAll(
                nbr_min.withColumn("__old", F.lit(None).cast(label_t))
            )
            .groupBy("u")
            .agg(F.min("label").alias("label"),
                 F.min("__old").alias("__old"))
            .localCheckpoint(eager=True)
        )
        n_changed = (
            merged.filter(F.col("label") != F.col("__old")).count()
        )
        labels.unpersist()
        labels = merged.select("u", "label")
        if n_changed == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds: a chain is longer than max_iter hops"
        )
    sym.unpersist()
    return labels.select(F.col("u").alias("id"), F.col("label").alias("component"))


# ------------------------------------------------------- span-level signals
def dup_span_fraction(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """Per-document duplicated-span fraction: the share of a document's
    distinct token ``n``-gram shingles that also occur in at least one
    OTHER document (the RefinedWeb/Gopher "fraction of duplicated content"
    signal used to drop boilerplate-heavy pages).

    Scale shape: one explode to (doc, shingle) pairs, ONE groupBy(shingle)
    bounded by #distinct shingles for document frequencies, one equi-join
    back, one groupBy(doc). Shuffle volume is shingles-per-doc, never
    pairs-of-docs. Docs with < n tokens have no shingles and report 0.0.
    """
    sh = shingle_df(df, id_col, text_col, n)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
    per_doc = (
        sh.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("sdf") >= 2, 1).otherwise(0)).alias("n_dup_shingles"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col("n_dup_shingles"), F.lit(0)).alias("n_dup_shingles"),
            F.when(
                F.coalesce(F.col("n_shingles"), F.lit(0)) > 0,
                F.round(F.col("n_dup_shingles") / F.col("n_shingles"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def exact_substring_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """ExactSubstr dedup accounting (the Lee et al. 2022 "Deduplicating
    Training Data" semantics, re-expressed Spark-first): every occurrence
    of a >= ``k``-token span that appears ANYWHERE else in the corpus is
    removed except the globally FIRST occurrence (ordered by id, then
    position). Emits per doc: token count, duplicate span starts, removed
    token count (the union length of the [pos, pos+k) intervals), and the
    removed fraction.

    Pure window arithmetic, zero Python: (1) one shuffle on the shingle
    for the global first-occurrence rank (suffix-array implementations pay
    the same corpus-sized sort); (2) one shuffle on the doc id where the
    interval-UNION length falls out of the running-max-end increment
    trick — increment = max(0, pos + k - max(pos, prev_max_end)) — with
    no island grouping at all. Hot shingles skew the rank window; AQE's
    skew handling owns that at scale (boilerplate spans ARE the hot keys
    this op exists to find)."""
    from pyspark.sql import Window

    from naru_spark.pipeline.text import ngrams_col, tokens_col

    toks = tokens_col(text_col)
    sh = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(ngrams_col(toks, k)).alias("pos", "shingle"),
    )
    w_first = Window.partitionBy("shingle").orderBy("id", "pos")
    dup_starts = (
        sh.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") >= 2)
        .select("id", "pos")
    )
    w_prev = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_end = F.coalesce(F.max(F.col("pos") + k).over(w_prev), F.lit(0))
    removed = (
        dup_starts.withColumn(
            "inc",
            F.greatest(
                F.lit(0), (F.col("pos") + k) - F.greatest(F.col("pos"), prev_max_end)
            ),
        )
        .groupBy("id")
        .agg(
            F.count("*").alias("n_dup_starts"),
            F.sum("inc").alias("n_removed_tokens"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), F.size(toks).alias("n_tokens"))
        .join(removed, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("n_dup_starts"), F.lit(0)).alias("n_dup_starts"),
            F.coalesce(F.col("n_removed_tokens"), F.lit(0)).alias("n_removed_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.coalesce(F.col("n_removed_tokens"), F.lit(0)) / F.col("n_tokens"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("removed_fraction"),
        )
    )


def canonicalize(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str | None = None,
) -> DataFrame:
    """Exact-dup canonicalization with KEEP-BEST semantics: group rows by
    content hash and keep the highest-``quality_col`` row per group
    (ties -> lowest id), not blindly the lowest id as :func:`exact_dedup`
    does. This is the curation-pipeline shape: when near-identical copies
    differ in metadata quality, keep the best exemplar.

    One shuffle on md5(text); the window is per-hash-group. When
    ``quality_col`` is None the heuristic quality score is computed first.
    """
    if quality_col is None:
        from naru_spark.pipeline.text import with_quality_score

        df = with_quality_score(df, text_col)
        quality_col = "quality_score"
    w = Window.partitionBy("__fp").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__fp", F.md5(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("dup_group_size", F.count("*").over(Window.partitionBy("__fp")))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def incremental_dedup(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest dedup: from a NEW batch, keep only documents
    whose content does not already exist in the indexed corpus, then
    exact-dedup within the batch itself (lowest id wins). This is the
    snapshot-over-snapshot shape of production dedup — the index side
    needs only its content hashes, so at 100 TB the "index" is a compact
    hash table (one narrow column), not the corpus.

    Two hash-keyed operations: one left-anti equi-join on md5(text)
    against the index hashes, one per-hash window within the batch.
    """
    index_fp = index_df.select(F.md5(F.col(text_col)).alias("__fp")).distinct()
    batch = new_df.withColumn("__fp", F.md5(F.col(text_col)))
    fresh = batch.join(index_fp, "__fp", "left_anti")
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )
