"""LLM-pipeline operator tests on sf0.001/sf0.01 vs pandas/duckdb oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from naru_spark.sources import load_table
from tests.conftest import SF_SMOKE, SF_T2


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, "documents", SF_T2).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF_T2).cache()


# ------------------------------------------------------------------- text
def test_text_stats_vs_pandas(spark, docs):
    from naru_spark.pipeline.text import with_text_stats

    got = with_text_stats(docs).select("doc_id", "n_tokens", "n_chars_calc").toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    for _, row in got.sample(50, random_state=0).iterrows():
        text = pdf.loc[pdf.doc_id == row.doc_id, "text"].iloc[0]
        assert row.n_tokens == len(text.split())
        assert row.n_chars_calc == len(text)


def test_quality_score_range(spark, docs):
    from naru_spark.pipeline.text import with_quality_score

    scores = with_quality_score(docs).select("quality_score").toPandas()["quality_score"]
    assert scores.between(0, 1).all()
    assert scores.nunique() >= 1


def test_lang_id_mostly_en(spark, docs):
    from naru_spark.pipeline.text import with_lang_id

    got = with_lang_id(docs).select("lang_pred").toPandas()["lang_pred"]
    # synthetic docs are english-ish word soup; the en stopwords dominate
    assert (got == "en").mean() > 0.9


def test_fingerprint_matches_hashlib(spark, docs):
    import hashlib

    from naru_spark.pipeline.text import with_fingerprint

    got = with_fingerprint(docs).select("doc_id", "fp_md5", "text").limit(20).toPandas()
    for _, r in got.iterrows():
        assert r.fp_md5 == hashlib.md5(r.text.encode()).hexdigest()


# ------------------------------------------------------------------ dedup
def test_exact_dedup_with_planted_dups(spark, docs):
    from naru_spark.pipeline.dedup import exact_dedup

    # plant duplicates: copy texts of 10 docs under new ids
    dups = docs.filter(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 100000)
    with_dups = docs.unionByName(dups)
    kept = exact_dedup(with_dups, "doc_id")
    assert kept.count() == docs.count()  # dups collapsed
    assert kept.filter(F.col("dup_group_size") == 2).count() == 10
    # lowest id wins
    assert kept.filter(F.col("doc_id") >= 100000).count() == 0


def test_jaccard_pairs_vs_python(spark, docs):
    from naru_spark.pipeline.dedup import ngram_jaccard_pairs

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.5).collect()
    }
    pdf = docs.select("doc_id", "text").toPandas().set_index("doc_id")["text"]

    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    for (a, b), j in list(got.items())[:10]:
        sa, sb = shingles(pdf[a]), shingles(pdf[b])
        expected = len(sa & sb) / len(sa | sb)
        assert abs(j - expected) < 1e-6


def test_minhash_lsh_recall(spark, docs):
    from naru_spark.pipeline.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, "doc_id", threshold=0.5).collect()}
    mh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, "doc_id", threshold=0.5).collect()}
    assert len(exact) > 0
    recall = len(exact & mh) / len(exact)
    assert recall >= 0.9  # banding 16x4 at t=0.5 on near-dup-heavy data
    assert mh <= exact  # verified with exact jaccard -> no false positives


def test_simhash_finds_neardups(spark, docs):
    from naru_spark.pipeline.dedup import ngram_jaccard_pairs, simhash_pairs

    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, "doc_id", threshold=0.9).collect()}
    sh = {(r.id_a, r.id_b) for r in simhash_pairs(docs, "doc_id", max_hamming=6).collect()}
    # very-near dups (jaccard>=0.9) should nearly all be within hamming 6 of
    # the 62-bit tf-weighted simhash (measured: recall 1.0 at sf0.01)
    assert len(exact) > 0
    assert len(exact & sh) / len(exact) >= 0.9


def _winnow_ref(text, k, w, hash_fn):
    """Pure-python winnowing reference (Schleimer et al.): k-gram hashes,
    window-min selection, distinct set."""
    if len(text) < k:
        return set()
    grams = [hash_fn(text[i : i + k]) for i in range(len(text) - k + 1)]
    if len(grams) < w:
        return {min(grams)}
    return {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}


def test_winnow_fingerprints_vs_python_reference(spark, docs):
    import hashlib

    from naru_spark.pipeline.text import winnow_fingerprints

    def md5_60(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16)

    k, w = 8, 4
    got = (
        winnow_fingerprints(docs, k=k, window=w, base_hash="md5")
        .groupBy("doc_id")
        .agg(F.collect_set("fp").alias("fps"))
        .toPandas()
    )
    pdf = docs.select("doc_id", "text").toPandas().set_index("doc_id")
    assert len(got) > 0
    for _, row in got.sample(30, random_state=1).iterrows():
        exp = _winnow_ref(pdf.loc[row.doc_id, "text"], k, w, md5_60)
        assert set(row.fps) == exp, row.doc_id


def test_winnow_short_and_sub_window_documents(spark):
    import hashlib

    from naru_spark.pipeline.text import winnow_fingerprints

    def md5_60(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16)

    # len < k -> no row at all; k <= len < k+w-1 -> single global min
    df = spark.createDataFrame(
        [(1, "tiny"), (2, "exactly8"), (3, "ninechars")], ["doc_id", "text"]
    )
    rows = winnow_fingerprints(df, k=8, window=4, base_hash="md5").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.doc_id, set()).add(r.fp)
    assert 1 not in by_id
    assert by_id[2] == {md5_60("exactly8")}
    assert by_id[3] == {min(md5_60("ninechar"), md5_60("inechars"))}


def test_winnow_overlap_finds_exact_dups_and_respects_max_df(spark):
    from naru_spark.pipeline.dedup import winnow_overlap_pairs

    boiler = "standard legal disclaimer attached to every document here. "
    rows = [
        (1, boiler + "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, boiler + "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, boiler + "completely different payload about spark shuffle plans"),
        (4, boiler + "yet another unrelated body mentioning variable elimination"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # max_df=1 keeps only fps unique to a single doc -> nothing can pair
    assert (
        winnow_overlap_pairs(
            df, "doc_id", threshold=0.5, min_shared=1, max_df=1
        ).count()
        == 0
    )
    # max_df=3 drops the boilerplate grams (present in all 4 docs) but
    # keeps the payload grams: exactly the true dup pair survives, at
    # containment 1.0, and the boiler-only pairs (1,3)/(3,4)/... do not
    got = winnow_overlap_pairs(
        df, "doc_id", threshold=0.8, min_shared=3, max_df=3
    ).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(1, 2)]
    assert got[0].containment == 1.0


def test_winnow_guarantee_shared_substring_shares_fingerprint(spark):
    """The winnowing theorem (Schleimer et al. §2): any common substring
    of length >= k + window - 1 contains a full hash window, and winnowing
    picks at least one fingerprint from every window — so two documents
    sharing such a substring MUST share a fingerprint. Seeded random docs
    over a small alphabet with planted common substrings; every case is
    also cross-checked against the pure-python reference in ONE Spark job."""
    import hashlib
    import random

    from naru_spark.pipeline.text import winnow_fingerprints

    def md5_60(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16)

    k, w = 8, 4
    rng = random.Random(42)
    alphabet = "ab "  # tiny alphabet: maximizes accidental gram repeats

    def rand_text(n):
        return "".join(rng.choice(alphabet) for _ in range(n))

    rows, expect_pairs = [], []
    doc_id = 0
    for case in range(40):
        shared = rand_text(rng.randint(k + w - 1, k + w + 20))
        a = rand_text(rng.randint(0, 30)) + shared + rand_text(rng.randint(0, 30))
        b = rand_text(rng.randint(0, 30)) + shared + rand_text(rng.randint(0, 30))
        rows += [(doc_id, a), (doc_id + 1, b)]
        expect_pairs.append((doc_id, doc_id + 1))
        doc_id += 2
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = (
        winnow_fingerprints(df, k=k, window=w, base_hash="md5")
        .groupBy("doc_id")
        .agg(F.collect_set("fp").alias("fps"))
        .collect()
    )
    fps = {r.doc_id: set(r.fps) for r in got}
    texts = dict(rows)
    for i, (a, b) in enumerate(expect_pairs):
        assert fps[a] == _winnow_ref(texts[a], k, w, md5_60), a
        assert fps[b] == _winnow_ref(texts[b], k, w, md5_60), b
        assert fps[a] & fps[b], f"case {i}: planted substring yielded no shared fp"


def test_winnow_overlap_is_duplicate_row_safe(spark):
    from naru_spark.pipeline.dedup import winnow_overlap_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "completely different payload about spark shuffle plans"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    clean = sorted(
        tuple(r) for r in winnow_overlap_pairs(
            df, "doc_id", threshold=0.8, min_shared=3, max_df=None
        ).collect()
    )
    # the same corpus arriving as a union of two identical batches (dup id
    # rows) must produce identical pairs — shared/size/df counts must not
    # double
    doubled = sorted(
        tuple(r) for r in winnow_overlap_pairs(
            df.union(df), "doc_id", threshold=0.8, min_shared=3, max_df=None
        ).collect()
    )
    assert clean == doubled and len(clean) == 1


def test_embedding_dups_vs_numpy(spark, emb):
    from naru_spark.pipeline.dedup import embedding_dup_pairs

    got = {(r.id_a, r.id_b) for r in embedding_dup_pairs(emb, threshold=0.4).collect()}
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    exp = set()
    n = len(ids)
    iu = np.triu_indices(n, k=1)
    for i, j in zip(*iu):
        if round(sims[i, j], 6) >= 0.4:
            a, b = int(ids[i]), int(ids[j])
            exp.add((min(a, b), max(a, b)))
    assert got == exp


def test_source_temperature_mix_upweights_small_sources(spark):
    """alpha < 1 gives small sources a larger share than proportional;
    alpha = 1 is proportional; selection is deterministic."""
    from naru_spark.pipeline.curation import source_temperature_mix

    rows = [(i, f"text {i}", "big") for i in range(900)] + [
        (900 + i, f"text {900+i}", "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    mix = source_temperature_mix(df, alpha=0.5, total_docs=200)
    by_src = {r.source: r.c for r in mix.groupBy("source").agg(F.count("*").alias("c")).collect()}
    # proportional would give small 20/200; alpha=0.5 gives 10/(30+10)*200 = 50
    assert by_src["small"] == 50 and by_src["big"] == 150

    prop = source_temperature_mix(df, alpha=1.0, total_docs=200)
    by_src1 = {r.source: r.c for r in prop.groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert by_src1["small"] == 20 and by_src1["big"] == 180

    again = {r.doc_id for r in source_temperature_mix(df, alpha=0.5, total_docs=200).collect()}
    assert again == {r.doc_id for r in mix.collect()}  # deterministic


def test_source_temperature_mix_fills_total(spark):
    """Largest-remainder rounding: targets must sum to exactly total_docs
    (plain floor() could undershoot by #sources-1 and zero out the
    smallest source at small totals)."""
    from naru_spark.pipeline.curation import source_temperature_mix

    rows = []
    did = 0
    for src, n in (("a", 7), ("b", 11), ("c", 13)):
        for _ in range(n):
            rows.append((did, f"text {did}", src))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    mix = source_temperature_mix(df, alpha=0.7, total_docs=10)
    by_src = {r.source: r.c for r in mix.groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert sum(by_src.values()) == 10
    # raw targets 2.56/3.51/3.94 -> floors 2/3/3, leftovers to c (.94) and a (.56)
    assert by_src == {"a": 3, "b": 3, "c": 4}


def test_doc_lm_score_orders_docs_sanely(spark):
    """Common-token docs must score fewer bits/token than rare-token docs,
    and the weighted corpus mean must equal the unigram entropy estimate."""
    from naru_spark.pipeline.text import doc_lm_score

    rows = [
        (0, "the the the the the the the the"),  # most common token
        (1, "zyzzyva qwerty xylem uvula"),  # singletons
        (2, "the the the zyzzyva"),
    ] + [(i, "the and of to in") for i in range(3, 20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.bits_per_token for r in doc_lm_score(df).collect()}
    assert got[0] < got[2] < got[1]
    assert all(v > 0 for v in got.values())


def test_embedding_lsh_recall_and_precision(spark, emb):
    """The unbounded-scale LSH path vs the exact path: precision must be 1
    (candidates are exact-cosine verified) and recall high (banding math in
    the docstring: ~0.9997 per pair at cosine 0.4 with 16 x 2-bit bands)."""
    from naru_spark.pipeline.dedup import embedding_dup_pairs, embedding_dup_pairs_lsh

    exact = {(r.id_a, r.id_b) for r in embedding_dup_pairs(emb, threshold=0.4).collect()}
    lsh = {(r.id_a, r.id_b) for r in embedding_dup_pairs_lsh(emb, threshold=0.4, bits=32, bands=16).collect()}
    assert len(exact) > 0
    assert lsh <= exact  # exact verify -> no false positives
    assert len(lsh & exact) / len(exact) >= 0.95


def test_embedding_dup_pairs_routes_to_lsh_beyond_broadcast(spark, emb):
    """Above max_broadcast_rows the operator must route to the LSH path
    instead of raising (the round-1 2M-row ceiling)."""
    from naru_spark.pipeline.dedup import embedding_dup_pairs

    out = embedding_dup_pairs(emb, threshold=0.4, max_broadcast_rows=10)
    assert out.count() > 0  # LSH path produced verified pairs


# -------------------------------------------------------------- similarity
def test_brute_force_topk_vs_numpy(spark, emb):
    from naru_spark.pipeline.similarity import brute_force_topk

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = brute_force_topk(emb, q, k=5).toPandas()
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    for qid in range(3):
        qi = np.where(ids == qid)[0][0]
        sims = np.round((mat @ mat[qi]) / (norms * norms[qi]), 6)
        order = sorted(zip(-sims, ids))[:5]
        expected = [int(i) for _, i in order]
        mine = got[got.query_id == qid].sort_values("rank")["neighbor_id"].tolist()
        assert mine == expected


def test_lsh_topk_recall(spark, emb):
    from naru_spark.pipeline.similarity import brute_force_topk, lsh_topk

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=10).collect()}
    ls = {(r.query_id, r.neighbor_id) for r in lsh_topk(emb, q, k=10, bits=16, bands=8).collect()}
    assert len(bf & ls) / len(bf) >= 0.9


def test_ivf_topk_recall(spark, emb):
    from naru_spark.pipeline.similarity import brute_force_topk, ivf_topk

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, q, k=10).collect()}
    iv = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, q, k=10, n_cells=64, n_probe=16).collect()}
    # uniform-random vectors are ANN's worst case: recall tracks the probed
    # fraction plus same-cell self-neighbors
    assert len(bf & iv) / len(bf) >= 0.5
    # every query finds itself (cosine 1.0, rank 1 — its own cell is probed first)
    for qid in range(5):
        assert (qid, qid) in iv


def test_kmeans_centroids_cover_partition_skewed_clusters(spark):
    """The centroid sample must see EVERY partition, not just the first
    ones: a corpus laid out so the leading partitions contain only cluster
    A (the realistic one-source-first layout at scale) must still produce
    centroids covering cluster B. A plain limit(n) sample fails this."""
    import numpy as np

    from naru_spark.pipeline.similarity import kmeans_centroids

    rng = np.random.RandomState(0)
    dim = 8
    a_dir = np.zeros(dim); a_dir[0] = 1.0
    b_dir = np.zeros(dim); b_dir[1] = 1.0
    mk = lambda d, n: d[None, :] + rng.randn(n, dim) * 0.05
    rows_a = [(0, v.tolist()) for v in mk(a_dir, 400)]
    rows_b = [(1, v.tolist()) for v in mk(b_dir, 400)]
    # cluster A occupies the head partitions: createDataFrame splits the
    # local list in order, so a limit(300) would see only cluster A
    df = spark.createDataFrame(rows_a + rows_b, "cluster int, embedding array<double>")
    cents = kmeans_centroids(df, n_cells=4, sample_rows=300, seed=5)
    for d in (a_dir, b_dir):
        best = float(np.max(cents @ d))
        assert best > 0.9, f"no centroid covers cluster dir {np.argmax(d)} (best cos {best:.2f})"


def test_ivf_persisted_index_parity_and_pruning(spark, emb, tmp_path):
    """The persisted IVF layout must (a) return exactly what the in-memory
    ivf_topk returns for the same centroids/params, and (b) scan only the
    probed cells — the physical plan carries a PartitionFilters entry on
    ``cell``, i.e. the probe is directory pruning, not a full scan."""
    from naru_spark.pipeline.similarity import ivf_topk, ivf_topk_from_index, ivf_write_index

    path = str(tmp_path / "ivf_index")
    ivf_write_index(emb, path, n_cells=64, seed=5)

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    mem = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in ivf_topk(emb, q, k=10, n_cells=64, n_probe=16, seed=5).collect()
    }
    idx_df = ivf_topk_from_index(spark, path, q, k=10, n_probe=16)
    idx = {(r.query_id, r.neighbor_id, r.cosine, r.rank) for r in idx_df.collect()}
    assert idx == mem

    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:200]


# -------------------------------------------------------------- multimodal
def test_resize_matches_python_reference(spark, docs):
    from naru_spark.pipeline.multimodal import attach_fake_blobs, resize

    blobs = attach_fake_blobs(docs)
    got = {r.blob_id: (r.width, r.height, r.checksum) for r in resize(blobs, 4, 4).collect()}
    for row in docs.limit(20).collect():
        b = row.text.encode("utf-8")
        idx = [(i * len(b)) // 16 for i in range(16)] if b else []
        want = sum(b[i] for i in idx) if b else 0
        assert got[row.doc_id] == (4, 4, want)


def test_resize_real_path_is_stubbed(spark, docs):
    import pytest as _pytest

    from naru_spark.pipeline.multimodal import attach_fake_blobs, resize

    with _pytest.raises(NotImplementedError):
        resize(attach_fake_blobs(docs), fake=False)


def test_multimodal_plumbing(spark, docs):
    from naru_spark.pipeline.multimodal import attach_fake_blobs, decode_features, frame_sample

    blobs = attach_fake_blobs(docs)
    feat = decode_features(blobs).toPandas()
    assert len(feat) == docs.count()
    pdf = docs.select("doc_id", "text").limit(5).toPandas()
    for _, r in pdf.iterrows():
        row = feat[feat.blob_id == r.doc_id].iloc[0]
        assert row.n_bytes == len(r.text.encode())
    frames = frame_sample(blobs)
    assert frames.count() > docs.count()  # multiple frames per blob


def test_multimodal_real_decode_is_stubbed(spark, docs):
    from naru_spark.pipeline.multimodal import attach_fake_blobs, decode_features

    with pytest.raises(NotImplementedError):
        decode_features(attach_fake_blobs(docs), fake=False)


def test_repetition_stats_edges(spark):
    """Fold correctness on hand-checked cases incl. all-same, all-distinct,
    and empty text."""
    from naru_spark.pipeline.text import with_repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a"),            # all same
            (2, "x y z"),              # all distinct
            (3, "b a b a b"),          # mode b=3 (non-adjacent in raw order)
            (4, "   "),                # empty after trim
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_repetition_stats(df).collect()}
    assert (rows[1]["n_tokens"], rows[1]["n_distinct_tokens"], rows[1]["top_token_cnt"]) == (4, 1, 4)
    assert rows[1]["top_token_ratio"] == 1.0
    assert (rows[2]["n_tokens"], rows[2]["n_distinct_tokens"], rows[2]["top_token_cnt"]) == (3, 3, 1)
    assert (rows[3]["n_tokens"], rows[3]["top_token_cnt"]) == (5, 3)
    assert (rows[4]["n_tokens"], rows[4]["top_token_cnt"]) == (0, 0)
    # zero shuffle: the whole computation is row-local
    plan = with_repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_token_idf_matches_manual(spark):
    from math import log

    from naru_spark.pipeline.text import token_idf

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "d")], "doc_id long, text string"
    )
    rows = {r["token"]: r for r in token_idf(df).collect()}
    assert rows["a"]["df"] == 2 and rows["b"]["df"] == 1
    assert abs(rows["a"]["idf"] - round(log(3 / 2), 6)) < 1e-9


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3-4 (transitive closure needs >1 round), pair {10,11},
    isolated-by-absence nodes not in edges; a path longer than max_iter
    hops raises instead of returning unconverged labels."""
    from naru_spark.pipeline.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    # a 10-node path needs 9 rounds to carry label 1 to its far end, so
    # max_iter=3 stops with unconverged labels: that must raise
    path = spark.createDataFrame([(i, i + 1) for i in range(1, 10)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_iter=3)
    got = {r["id"]: r["component"] for r in connected_components(path).collect()}
    assert got == {i: 1 for i in range(1, 11)}


def test_decontaminate_toy(spark):
    """Doc 0 is the eval set (id % 50 == 0); doc 1 shares the shingle
    'a b c', doc 2 shares nothing, doc 3 is too short for a 3-gram."""
    from naru_spark.pipeline.curation import decontaminate

    df = spark.createDataFrame(
        [
            (0, "a b c d"),
            (1, "x a b c y"),
            (2, "p q r s t"),
            (3, "a b"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in decontaminate(df, eval_mod=50, n=3).collect()}
    assert set(got) == {1}
    assert got[1]["n_shared_shingles"] == 1 and got[1]["n_eval_docs"] == 1


def test_pack_sequences_toy(spark):
    """Within one shard: docs of 3,3,3 tokens at seq_len=5 -> doc0 starts
    at offset 0 (pack 0), doc1 at 3 (pack 0), doc2 at 6 (pack 1)."""
    from naru_spark.pipeline.curation import pack_sequences

    df = spark.createDataFrame(
        [(0, "a b c", "s1"), (1, "d e f", "s1"), (2, "g h i", "s1")],
        "doc_id long, text string, source string",
    )
    rows = {r["pack_id"]: r for r in pack_sequences(df, seq_len=5).collect()}
    assert rows[0]["n_docs"] == 2 and rows[0]["n_tokens"] == 6
    assert rows[0]["first_doc"] == 0 and rows[0]["last_doc"] == 1
    assert rows[1]["n_docs"] == 1 and rows[1]["first_doc"] == 2


def test_curate_corpus_drops_dups_and_lowq(spark, docs):
    """Curation output never exceeds the raw per-source counts, and the
    surviving doc set is dedup'd (planted duplicate counted once)."""
    from naru_spark.pipeline.curation import curate_corpus

    one = docs.limit(1).collect()[0]
    planted = docs.unionAll(
        docs.sparkSession.createDataFrame(
            [(999999, one["text"], one["lang"], one["source"], one["n_chars"])],
            docs.schema,
        )
    )
    base = {r["source"]: r["n_docs"] for r in curate_corpus(docs).collect()}
    with_dup = {r["source"]: r["n_docs"] for r in curate_corpus(planted).collect()}
    assert base == with_dup  # the planted exact dup never survives


# -------------------------------------------------- round-3 curation ops
def test_normalize_text_collapses_and_lowers(spark):
    from naru_spark.pipeline.text import normalize_text

    df = spark.createDataFrame(
        [(1, "  Hello   WORLD \t x "), (2, ""), (3, "a  b")], ["doc_id", "text"]
    )
    got = {r.doc_id: r.text_norm for r in normalize_text(df).collect()}
    assert got[1] == "hello world x"
    assert got[2] == ""
    assert got[3] == "a b"
    # idempotent: normalizing normalized text is identity
    df2 = spark.createDataFrame([(1, got[1])], ["doc_id", "text"])
    assert normalize_text(df2).collect()[0].text_norm == got[1]


def test_ngram_histogram_matches_python(spark):
    from naru_spark.pipeline.text import ngram_histogram
    from collections import Counter

    rows = [(1, "a b c a b"), (2, "a b"), (3, "x")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.ngram: r.cnt for r in ngram_histogram(df, n=2, k=10).collect()}
    want = Counter()
    for _, t in rows:
        toks = t.split()
        want.update(" ".join(toks[i : i + 2]) for i in range(len(toks) - 1))
    assert got == dict(want)


def test_doc_lm_bigram_scores_rare_transitions_higher(spark):
    from naru_spark.pipeline.text import doc_lm_bigram_score

    # 20 docs repeating "a b", one doc with a never-seen transition "b a q z"
    rows = [(i, "a b a b a b") for i in range(20)] + [(99, "b a q z")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.bits_per_token for r in doc_lm_bigram_score(df).collect()}
    assert got[99] > got[0]
    # single-token / empty docs drop out
    df2 = spark.createDataFrame([(1, "solo"), (2, ""), (3, "a b")], ["doc_id", "text"])
    ids = {r.doc_id for r in doc_lm_bigram_score(df2).collect()}
    assert ids == {3}


def test_dup_span_fraction_planted_boilerplate(spark):
    from naru_spark.pipeline.dedup import dup_span_fraction

    boiler = "t1 t2 t3 t4 t5 t6 t7 t8"  # an 8-token span shared by docs 1+2
    rows = [
        (1, boiler + " u1 u2 u3 u4 u5 u6 u7"),
        (2, boiler + " v1 v2 v3 v4 v5 v6 v7"),
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in dup_span_fraction(df, n=8).collect()}
    # docs 1/2: 8 shingles each, exactly one (the boiler span) duplicated
    assert got[1].n_shingles == 8 and got[1].n_dup_shingles == 1
    assert got[2].dup_fraction == got[1].dup_fraction == round(1 / 8, 6)
    assert got[3].n_dup_shingles == 0 and got[3].dup_fraction == 0.0
    assert got[4].n_shingles == 0 and got[4].dup_fraction == 0.0


def test_canonicalize_keeps_best_quality(spark):
    from naru_spark.pipeline.dedup import canonicalize

    # same content, different explicit quality: id 2 has the best score;
    # ids 4/5 tie -> lowest id wins
    df = spark.createDataFrame(
        [(1, "dup text", 0.1), (2, "dup text", 0.9), (3, "dup text", 0.5),
         (4, "other", 0.7), (5, "other", 0.7), (6, "solo", 0.2)],
        ["doc_id", "text", "q"],
    )
    kept = {r.doc_id: r for r in canonicalize(df, quality_col="q").collect()}
    assert set(kept) == {2, 4, 6}
    assert kept[2].dup_group_size == 3 and kept[4].dup_group_size == 2


def test_incremental_dedup_semantics(spark):
    from naru_spark.pipeline.dedup import incremental_dedup

    index = spark.createDataFrame([(1, "known a"), (2, "known b")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(10, "known a"),      # already indexed -> dropped
         (11, "fresh x"), (12, "fresh x"),  # within-batch dup -> keep 11
         (13, "fresh y")],
        ["doc_id", "text"],
    )
    kept = sorted(r.doc_id for r in incremental_dedup(new, index).collect())
    assert kept == [11, 13]


def test_pii_redact_synthetic(spark):
    from naru_spark.pipeline.curation import pii_redact

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org then 192.168.10.200 and +44 20-7946 0958 done"),
         (2, "no pii here at all")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in pii_redact(df).collect()}
    assert got[1].n_emails == 1 and got[1].n_ips == 1 and got[1].n_phones == 1
    t = got[1].text_redacted
    assert "<EMAIL>" in t and "<IP>" in t and "<PHONE>" in t
    assert "bob.smith" not in t and "192.168" not in t and "7946" not in t
    assert got[2].n_redactions == 0 and got[2].text_redacted == "no pii here at all"


def test_knn_graph_vs_numpy(spark, emb):
    from naru_spark.pipeline.similarity import knn_graph

    got = knn_graph(emb, k=3).toPandas()
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf.vec_id.to_numpy()
    mat = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    sims = np.round(mat @ mat.T / (norms[:, None] * norms[None, :]), 6)
    np.fill_diagonal(sims, -np.inf)
    for vid in ids[:20]:
        r = np.nonzero(ids == vid)[0][0]
        order = np.lexsort((ids, -sims[r]))[:3]
        want = [int(ids[j]) for j in order]
        sub = got[got.vec_id == vid].sort_values("rank")
        assert list(sub.neighbor_id) == want
        assert list(sub["rank"]) == [1, 2, 3]


def test_knn_graph_mapinpandas_path_matches_driver(spark, emb):
    from naru_spark.pipeline.similarity import knn_graph

    a = knn_graph(emb, k=2).toPandas().sort_values(["vec_id", "rank"]).reset_index(drop=True)
    b = (
        knn_graph(emb, k=2, driver_rows=1)  # force the mapInPandas regime
        .toPandas().sort_values(["vec_id", "rank"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_knn_graph_refuses_quadratic_blowup(spark, emb):
    from naru_spark.pipeline.similarity import knn_graph

    with pytest.raises(ValueError, match="ivf_topk_from_index"):
        knn_graph(emb, k=2, max_broadcast_rows=10)


def test_data_split_deterministic_and_content_keyed(spark):
    from naru_spark.pipeline.curation import data_split
    import hashlib

    df = spark.createDataFrame([(i, f"doc number {i}") for i in range(200)], ["doc_id", "text"])
    got = {r.doc_id: r.split for r in data_split(df).collect()}
    for i in range(200):
        h = hashlib.md5(f"doc number {i}".encode()).hexdigest()[0]
        want = "train" if h in "0123456789abc" else ("val" if h in "de" else "test")
        assert got[i] == want
    # same content at a different id lands in the same split
    df2 = spark.createDataFrame([(999, "doc number 7")], ["doc_id", "text"])
    assert data_split(df2).collect()[0].split == got[7]
    assert set(got.values()) == {"train", "val", "test"}


def test_length_buckets_exact_powers(spark):
    from naru_spark.pipeline.text import length_buckets

    rows = [
        (1, " ".join(["w"] * 1)),   # bucket 0
        (2, " ".join(["w"] * 2)),   # bucket 1 (exact power of two edge)
        (3, " ".join(["w"] * 3)),   # bucket 1
        (4, " ".join(["w"] * 64)),  # bucket 6 (no float-log wobble)
        (5, ""),                    # bucket -1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.len_bucket: (r.n_docs, r.n_tokens) for r in length_buckets(df).collect()}
    assert got[0] == (1, 1) and got[1] == (2, 5) and got[6] == (1, 64) and got[-1] == (1, 0)


def test_vocab_coverage_manual(spark):
    from naru_spark.pipeline.text import vocab_coverage

    # corpus vocab by freq: a(4) b(3) c(2) d(1) e(1); top_k=2 -> {a, b}
    df = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b d"), (3, "a b c e"), (4, "")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in vocab_coverage(df, top_k=2).collect()}
    assert (got[1].n_in_vocab, got[1].n_oov) == (3, 1)
    assert (got[2].n_in_vocab, got[2].n_oov) == (2, 1)
    assert got[3].oov_rate == 0.5
    assert (got[4].n_tokens, got[4].oov_rate) == (0, 0.0)


def test_semantic_dedup_composition(spark, emb):
    """semantic_dedup entry semantics: every cluster keeps exactly its min
    id; group sizes partition the corpus."""
    from naru_spark.entry_pipeline import q_semantic_dedup

    out = q_semantic_dedup(spark, "/root/testdata/sf0.01").toPandas()
    n = emb.count()
    assert len(out) == n
    # kept <=> vec_id is its component's min
    grp_min = out.groupby("component").vec_id.min()
    for _, r in out.iterrows():
        assert r.kept == (r.vec_id == grp_min[r.component])
    # group sizes sum to the corpus
    assert out.drop_duplicates("component").group_size.sum() == n


def test_minhash_md5_base_hash_matches_exact_pairs(spark, docs):
    """The md5-based universal-hash family (the oracle-verifiable mode)
    must recover the same verified pair set as exact n-gram Jaccard at the
    gate corpus/threshold, like the xxhash64 mode does."""
    from naru_spark.pipeline.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", threshold=0.5, base_hash="md5").collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", threshold=0.5).collect()
    }
    assert want, "gate corpus should contain near-dup pairs"
    assert got == want


def test_simhash_md5_mode_finds_neardups(spark, docs):
    """The md5 60-bit mode (oracle-verifiable) must keep the xxhash mode's
    recall of very-near dups."""
    from naru_spark.pipeline.dedup import ngram_jaccard_pairs, simhash_pairs

    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, "doc_id", threshold=0.9).collect()}
    sh = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, "doc_id", bits=60, max_hamming=6, base_hash="md5").collect()
    }
    assert len(exact) > 0
    assert len(exact & sh) / len(exact) >= 0.9


def test_lsh_topk_rounded_signatures_keep_recall(spark, emb):
    """decimals=6 signature rounding (the oracle-verifiable mode) must not
    change recall vs brute force: a rounded sign flips only for dots
    within 1e-6 of zero, which moves a vector across a bucket boundary it
    was already straddling."""
    from naru_spark.pipeline.similarity import brute_force_topk, lsh_topk
    from pyspark.sql import functions as F

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, queries, k=10).toPandas()
    approx = lsh_topk(emb, queries, k=10, bits=16, bands=8, decimals=6).toPandas()
    hits = 0
    for qid in range(5):
        e = set(exact[exact.query_id == qid].neighbor_id)
        a = set(approx[approx.query_id == qid].neighbor_id)
        hits += len(e & a)
    assert hits / 50 >= 0.8


def test_ivf_oracle_mode_keeps_recall(spark, emb):
    """The oracle-verifiable IVF mode (injected numpy centroids + rounded
    argmax) must keep ANN recall vs brute force."""
    from naru_spark.entry_pipeline import _ivf_oracle_centroids
    from naru_spark.pipeline.similarity import brute_force_topk, ivf_topk
    from pyspark.sql import functions as F

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = _ivf_oracle_centroids("/root/testdata/sf0.01")
    exact = brute_force_topk(emb, queries, k=10).toPandas()
    approx = ivf_topk(emb, queries, k=10, n_probe=8, centroids=cents, decimals=6).toPandas()
    hits = 0
    for qid in range(5):
        e = set(exact[exact.query_id == qid].neighbor_id)
        a = set(approx[approx.query_id == qid].neighbor_id)
        hits += len(e & a)
        assert qid in a  # own cell probed first -> query finds itself
    # same bar as test_ivf_topk_recall: uniform-ish vectors are ANN's worst
    # case; recall tracks the probed fraction plus cluster structure
    assert hits / 50 >= 0.5


def test_bpe_learn_hand_example(spark):
    """BPE merge loop vs the hand-computable classic: corpus of
    low/lower/newest/widest-style repeats. Merge 1 on this corpus must be
    the most frequent adjacent char pair with lexicographic tiebreak, and
    merged symbols must participate in later rounds."""
    from naru_spark.pipeline.bpe import bpe_learn

    # word freqs: "aaab" x3, "aab" x2  => pairs: (a,a): 3*2+2*1=8,
    # (a,b): 3+2=5  -> merge1 = (a,a) cnt 8
    # after: aaab -> [aa,a,b] (left-to-right greedy), aab -> [aa,b]
    # pairs: (aa,a):3, (a,b):3, (aa,b):2 -> tie (a,b) vs (aa,a):
    # lexicographic ('a','b') < ('aa','a')?  ('a','b') vs ('aa','a'):
    # 'a' < 'aa' so ('a','b') wins the tie -> merge2 = (a,b) cnt 3
    rows = [(i, "aaab") for i in range(3)] + [(10 + i, "aab") for i in range(2)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = bpe_learn(df, num_merges=3)
    assert merges[0] == (0, "a", "a", 8)
    assert merges[1] == (1, "a", "b", 3)
    # round 3: vocab is {(aa,ab):3, (aa,b):2} -> pairs (aa,ab):3, (aa,b):2
    assert merges[2] == (2, "aa", "ab", 3)


def test_gopher_filter_rules(spark):
    """Each Gopher rule triggers independently on crafted docs."""
    from naru_spark.pipeline.curation import gopher_filter

    good = "the cat and the dog have fun with a ball in the sun " * 5
    rows = [
        (0, good),                                  # passes everything
        (1, "the of and"),                          # too few words
        (2, "the supercalifragilistic " + " ".join(["extraordinarily"] * 60)),  # mean word len > 10
        (3, ("the of #### " + "#" * 50 + " ") * 20),  # symbol ratio
        (4, ("the of " + "123 456 789 " * 30)),     # alpha word frac < 0.8
        (5, "cat dog bird fish " * 20),             # no required stopwords
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in gopher_filter(df, min_words=10).collect()}
    assert got[0]["keep"] is True
    assert got[1]["pass_word_count"] is False
    assert got[2]["pass_mean_word_len"] is False
    assert got[3]["pass_symbol_ratio"] is False
    assert got[4]["pass_alpha_words"] is False
    assert got[5]["pass_stopwords"] is False
    for i in (1, 2, 3, 4, 5):
        assert got[i]["keep"] is False


def test_stratified_sample_deterministic_and_rate(spark):
    """Hash-stratified sampling: selection is invariant under repartition
    (the property rand()-sampleBy lacks) and per-source keep rates land
    near their targets."""
    from naru_spark.pipeline.curation import stratified_sample_hash
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, "documents", SF_SMOKE)
    rates = {"src0": 0.5, "src1": 0.0}
    a = {r["doc_id"]: r["keep"] for r in stratified_sample_hash(docs, rates).collect()}
    b = {
        r["doc_id"]: r["keep"]
        for r in stratified_sample_hash(docs.repartition(7), rates).collect()
    }
    assert a == b  # content-hash decisions ignore partitioning
    rows = stratified_sample_hash(docs, rates, default_rate=1.0).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["keep"])
    assert not any(by_src["src1"])           # rate 0 keeps nothing
    assert all(by_src["src2"])               # default rate 1 keeps all
    frac = sum(by_src["src0"]) / len(by_src["src0"])
    assert 0.2 <= frac <= 0.8                # ~0.5 on a small stratum


def test_chunk_documents_reconstruct(spark):
    """Chunking invariants: concatenating each doc's chunks minus the
    overlaps reconstructs the document; short docs yield one whole-doc
    chunk; every chunk has positive length."""
    from naru_spark.pipeline.curation import chunk_documents

    rows = [(0, "x" * 48), (1, "".join(chr(97 + i % 26) for i in range(553)))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, chunk_chars=200, overlap=50).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["chunk_id"])):
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[0]) == 1 and by_doc[0][0]["chunk"] == "x" * 48
    text = rows[1][1]
    rebuilt = by_doc[1][0]["chunk"] + "".join(c["chunk"][50:] for c in by_doc[1][1:])
    assert rebuilt == text
    assert all(r["chunk_len"] > 0 for r in out)
    # every char position is covered by some chunk
    for c in by_doc[1]:
        assert c["chunk"] == text[c["chunk_start"] - 1 : c["chunk_start"] - 1 + 200]


def test_pnm_wav_decoders_real():
    """Real decoders, no Spark: PGM/PPM header parsing (comments,
    multi-whitespace, 16-bit maxval, color planes) and PCM WAV roundtrip."""
    import io
    import wave

    import numpy as np

    from naru_spark.pipeline.multimodal import (
        decode_pnm,
        decode_wav,
        synth_pgm,
        synth_wav,
    )

    # synth roundtrip: decoded pixels match the closed form
    img = decode_pnm(synth_pgm(7, width=16, height=12))
    assert img.shape == (12, 16) and img.dtype == np.uint8
    assert img[0, 0] == 7 and img[0, 1] == 8
    assert int(img.astype(int).sum()) == sum((l + 7) % 256 for l in range(192))

    # header with comment + odd whitespace
    pay = b"P5 # a comment\n 3\t2\n255\n" + bytes(range(6))
    img2 = decode_pnm(pay)
    assert img2.shape == (2, 3) and img2[1, 2] == 5

    # P6 color
    pay6 = b"P6 2 1 255\n" + bytes([10, 20, 30, 40, 50, 60])
    img6 = decode_pnm(pay6)
    assert img6.shape == (1, 2, 3) and tuple(img6[0, 1]) == (40, 50, 60)

    # 16-bit maxval -> big-endian uint16 samples
    pay16 = b"P5 2 1 65535\n" + (256).to_bytes(2, "big") + (513).to_bytes(2, "big")
    img16 = decode_pnm(pay16)
    assert img16.dtype == np.dtype(">u2") and list(img16[0]) == [256, 513]

    # CRLF-terminated header: the \n must not shift into the raster
    assert (
        decode_pnm(b"P5 3 2 255\r\n" + bytes(range(6)))
        == np.frombuffer(bytes(range(6)), np.uint8).reshape(2, 3)
    ).all()
    # trailing comment between maxval and raster: its newline terminates
    assert (
        decode_pnm(b"P5 3 2 255# c\n" + bytes(range(6)))
        == np.frombuffer(bytes(range(6)), np.uint8).reshape(2, 3)
    ).all()
    # a raster whose FIRST byte is 0x23 ('#') is data, not a comment
    assert decode_pnm(b"P5 3 2 255\n" + b"#" + bytes(5))[0, 0] == 0x23

    # not a pnm / malformed header both fail loudly (never a shifted read)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_pnm(b"\x89PNG....")
    with _pytest.raises(ValueError):
        decode_pnm(b"P5 3 2 255x" + bytes(6))

    # WAV: synth roundtrip + stereo stdlib roundtrip
    samples, rate = decode_wav(synth_wav(3, n_samples=64, rate=4000))
    assert rate == 4000 and samples.shape == (64, 1)
    assert int(samples[0, 0]) == ((0 * 37 + 3) % 65536) - 32768
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(np.array([[1, -1], [2, -2]], dtype="<i2").tobytes())
    st, r2 = decode_wav(buf.getvalue())
    assert r2 == 16000 and st.shape == (2, 2) and int(st[1, 1]) == -2


def test_bpe_encode_parity_and_consistency(spark):
    """bpe_encode (distributed, memoized) agrees token-for-token with a
    pure-python reference encoder, and encoding with the learned merges
    strictly compresses the char-level token count."""
    from naru_spark.pipeline.bpe import bpe_encode, bpe_learn
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, "documents", SF_SMOKE).limit(40)
    merges = bpe_learn(docs, num_merges=10)
    ranks = {(l, r): i for i, l, r, _ in merges}

    def ref_encode(word):
        syms = list(word)
        while len(syms) > 1:
            cands = [
                (ranks[(syms[i], syms[i + 1])], i)
                for i in range(len(syms) - 1)
                if (syms[i], syms[i + 1]) in ranks
            ]
            if not cands:
                break
            _, i = min(cands)
            syms[i : i + 2] = [syms[i] + syms[i + 1]]
        return syms

    got = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    for row in docs.collect():
        toks = []
        for w in row["text"].split():
            toks.extend(ref_encode(w))
        assert got[row["doc_id"]]["n_bpe_tokens"] == len(toks)
        assert got[row["doc_id"]]["n_distinct_tokens"] == len(set(toks))
        # merges only ever shrink the symbol count below raw chars
        n_chars = sum(len(w) for w in row["text"].split())
        assert len(toks) < n_chars


def test_bpe_learn_pandas_parity(spark):
    """The engine-independent pandas trainer (used at oracle-SQL
    generation time, no SparkSession) produces the IDENTICAL merge
    sequence as the distributed trainer."""
    from naru_spark.pipeline.bpe import bpe_learn, bpe_learn_pandas
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, "documents", SF_SMOKE)
    assert bpe_learn(docs, num_merges=15) == bpe_learn_pandas(SF_SMOKE, num_merges=15)


def test_bpe_encode_tokens_ids_passthrough(spark):
    """emit_tokens reconstructs each word exactly (concat of its tokens),
    token_ids map through the deterministic bpe_vocab table, and
    passthrough columns ride along without a re-join."""
    from naru_spark.pipeline.bpe import bpe_encode, bpe_learn, bpe_vocab
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, "documents", SF_SMOKE).limit(30)
    merges = bpe_learn(docs, num_merges=10)
    vocab_rows = bpe_vocab(docs, merges).collect()
    vocab = {r["token"]: r["token_id"] for r in vocab_rows}
    assert sorted(vocab.values()) == list(range(len(vocab)))  # dense ids
    assert list(vocab) == sorted(vocab)  # sorted-token order

    out = bpe_encode(
        docs, merges, emit_tokens=True, vocab=vocab, passthrough=("source",)
    ).collect()
    texts = {r["doc_id"]: (r["text"], r["source"]) for r in docs.collect()}
    for r in out:
        text, source = texts[r["doc_id"]]
        assert r["source"] == source
        assert "".join(r["tokens"]) == "".join(text.split())  # lossless
        assert r["n_bpe_tokens"] == len(r["tokens"]) == len(r["token_ids"])
        assert r["token_ids"] == [vocab[t] for t in r["tokens"]]
        assert all(i >= 0 for i in r["token_ids"])  # vocab covers corpus


def test_bpe_pack_manifest_chain(spark):
    """bpe_pack_manifest == pack_token_counts over bpe_encode's counts:
    per-shard token sums agree with a direct encode, pack boundaries
    respect the cumulative-sum-before-doc rule."""
    from naru_spark.pipeline.bpe import bpe_encode, bpe_learn, bpe_pack_manifest
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, "documents", SF_SMOKE)
    merges = bpe_learn(docs, num_merges=10)
    man = bpe_pack_manifest(docs, merges, seq_len=128).collect()
    counts = bpe_encode(docs, merges, passthrough=("source",)).collect()
    per_shard = {}
    for r in counts:
        per_shard[r["source"]] = per_shard.get(r["source"], 0) + r["n_bpe_tokens"]
    got_shard = {}
    for r in man:
        got_shard[r["source"]] = got_shard.get(r["source"], 0) + r["n_tokens"]
        assert r["n_docs"] >= 1 and r["first_doc"] <= r["last_doc"]
    assert got_shard == per_shard  # every token lands in exactly one pack


def test_bpe_sql_recursive_replay_adversarial(spark):
    """The oracle's recursive one-merge-per-step SQL replay reproduces
    greedy BPE token counts on the adversarial shapes where segmentation
    matters (back-to-back pair runs whose pairing feeds a later merge —
    the case a replace-to-fixpoint replay provably mis-segments: run of 5
    under (a,a) then (aa,aa) is [aaaa, a] greedy but [aa, a, aa] under
    global replace)."""
    import duckdb

    from naru_spark.pipeline.bpe import bpe_encode

    merges = [(0, "a", "a", 0), (1, "a", "b", 0), (2, "aa", "aa", 0)]
    words = ["a" * n for n in range(1, 9)] + ["ab" * 4, "ba" * 4, "aab" * 3]
    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {words[r["doc_id"]]: r["n_bpe_tokens"] for r in bpe_encode(df, merges).collect()}

    merge_values = ", ".join(f"({i}, '{l}', '{r}')" for i, l, r, _ in merges)
    con = duckdb.connect()
    con.execute("CREATE TABLE words AS SELECT unnest(?) AS w", [words])
    sql = dict(
        con.execute(
            f"""
WITH RECURSIVE merges(rank, l, r) AS (VALUES {merge_values}),
enc(w, s) AS (
  SELECT w, '|' || regexp_replace(w, '(.)', '\\1|', 'g') FROM words
  UNION ALL
  SELECT w, substr(s, 1, p - 1) || '|' || l || r || '|'
            || substr(s, p + length('|' || l || '|' || r || '|'))
  FROM (
    SELECT e.w, e.s, m.l, m.r, strpos(e.s, '|' || m.l || '|' || m.r || '|') AS p
    FROM enc e JOIN merges m ON m.rank = (
      SELECT min(m2.rank) FROM merges m2
      WHERE strpos(e.s, '|' || m2.l || '|' || m2.r || '|') > 0))
)
SELECT w, len(string_split(s, '|')) - 2 FROM enc e
WHERE NOT EXISTS (SELECT 1 FROM merges m
                  WHERE strpos(e.s, '|' || m.l || '|' || m.r || '|') > 0)
"""
        ).fetchall()
    )
    assert sql == got
    assert got["aaaaa"] == 2  # the segmentation-sensitive case: [aaaa, a]


def test_pq_topk_recall_and_compression(spark):
    """PQ ADC top-k is a meaningful ANN: decent top-10 overlap with the
    exact cosine ranking on unit-ish synthetic clusters, 8 codes per
    64-d vector (32x compression), deterministic across runs."""
    import numpy as np

    from naru_spark.pipeline.similarity import brute_force_topk, pq_fit, pq_topk

    rng = np.random.RandomState(0)
    centers = rng.randn(10, 64) * 3
    vecs = np.concatenate([c + rng.randn(60, 64) * 0.3 for c in centers])
    # unit-normalize: ADC ranks by L2, the exact baseline by cosine — on
    # the unit sphere the two orderings coincide, making recall well-defined
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cb = pq_fit(vecs, m=8, k=16, seed=5)
    assert cb.shape == (8, 16, 8)

    approx = pq_topk(df, queries, cb, k=30, decimals=6).collect()
    exact = brute_force_topk(df, queries, k=10).collect()
    by_q = lambda rows, n: {
        q: {r["neighbor_id"] for r in rows if r["query_id"] == q and r["rank"] <= n}
        for q in (0, 1, 2)
    }
    a10, a30, e10 = by_q(approx, 10), by_q(approx, 30), by_q(exact, 10)
    # coarse structure is preserved exactly: every ADC top-10 neighbor
    # comes from the query's true cluster (queries 0-2 live in cluster 0)
    cluster0 = set(range(60))
    assert all(a10[q] <= cluster0 for q in a10), a10
    # shortlist property (the production shape is ANN shortlist -> exact
    # re-rank): the ADC top-30 must contain most of the exact top-10 —
    # within-cluster fine ordering is quantization-noise-dominated by
    # construction (sigma 0.3 clusters vs 16-code subspace resolution)
    recall = sum(len(a30[q] & e10[q]) for q in a30) / 30
    assert recall >= 0.5, recall

    again = pq_topk(df, queries, cb, k=30, decimals=6).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_ivfpq_topk_plan_and_equivalence(spark):
    """IVF-PQ: candidate generation is a broadcast equi-join (never a
    cartesian), and with n_probe = n_cells (probe everything) the ADC
    ranking equals plain PQ's — the coarse quantizer only PRUNES."""
    import numpy as np

    from naru_spark.pipeline.similarity import ivfpq_topk, kmeans_np, pq_fit, pq_topk

    rng = np.random.RandomState(1)
    vecs = rng.randn(300, 64)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = kmeans_np(vecs, 8, seed=5)
    cb = pq_fit(vecs, m=8, k=16, seed=5)

    full = ivfpq_topk(df, queries, cents, cb, k=10, n_probe=8, decimals=6)
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = sorted(map(tuple, full.collect()))
    assert got == sorted(map(tuple, pq_topk(df, queries, cb, k=10, decimals=6).collect()))

    pruned = ivfpq_topk(df, queries, cents, cb, k=10, n_probe=2, decimals=6).collect()
    assert {r["query_id"] for r in pruned} == {0, 1}
    assert all(1 <= r["rank"] <= 10 for r in pruned)


def test_ivfpq_refined_recall_and_reduction(spark):
    """Exact re-rank refine stage: (1) recall vs exact brute-force top-k
    strictly improves on (or matches) the unrefined ADC ranking — PQ
    distortion reorders near the cutoff, the exact re-score repairs it;
    (2) with probe-all + k_refine = |corpus| the refined result IS
    brute force (the composition/reduction argument the oracle rests on);
    (3) no cartesian in the plan."""
    import numpy as np

    from naru_spark.pipeline.similarity import (
        brute_force_topk,
        ivfpq_topk,
        ivfpq_topk_refined,
        kmeans_np,
        pq_fit,
    )

    rng = np.random.RandomState(2)
    base = rng.randn(40, 64)
    # clustered corpus (ANN's intended regime): 300 vectors near 40 seeds
    vecs = np.repeat(base, 8, axis=0)[:300] + 0.15 * rng.randn(300, 64)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = kmeans_np(vecs, 8, seed=5)
    cb = pq_fit(vecs, m=8, k=16, seed=5)

    exact = brute_force_topk(df, queries, k=10)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(res) -> float:
        got = {}
        for r in res.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return np.mean(
            [len(exact_sets[q] & got.get(q, set())) / len(exact_sets[q]) for q in exact_sets]
        )

    plain = ivfpq_topk(df, queries, cents, cb, k=10, n_probe=8, decimals=6)
    refined = ivfpq_topk_refined(
        df, queries, cents, cb, k=10, k_refine=60, n_probe=8, decimals=6
    )
    plan = refined._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    r_plain, r_refined = recall(plain), recall(refined)
    assert r_refined >= r_plain
    assert r_refined >= 0.9, (r_plain, r_refined)

    # reduction: probe-all + full-corpus shortlist == brute force
    full = ivfpq_topk_refined(
        df, queries, cents, cb, k=10, k_refine=300, n_probe=8, decimals=6
    )
    got = sorted((r["query_id"], r["neighbor_id"], r["cosine"], r["rank"]) for r in full.collect())
    want = sorted((r["query_id"], r["neighbor_id"], r["cosine"], r["rank"]) for r in exact.collect())
    assert got == want


def test_ivfpq_index_partition_pruned_and_identical(spark, emb, tmp_path):
    """Persisted IVF-PQ: the probe scan is partition-pruned (cell
    PartitionFilters — only probed directories are opened) and results
    are identical to the in-memory composition with the same quantizers."""
    from naru_spark.pipeline.similarity import (
        ivfpq_topk,
        ivfpq_topk_from_index,
        ivfpq_write_index,
        kmeans_np,
        pq_fit,
    )

    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cents = kmeans_np(mat, 16, seed=5)
    cb = pq_fit(mat, m=8, k=16, seed=5)
    path = str(tmp_path / "ivfpq")
    ivfpq_write_index(emb, path, cents, cb, decimals=6)

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    mem = {tuple(r) for r in ivfpq_topk(emb, q, cents, cb, k=10, n_probe=4, decimals=6).collect()}
    idx_df = ivfpq_topk_from_index(spark, path, q, k=10, n_probe=4, decimals=6)
    assert {tuple(r) for r in idx_df.collect()} == mem

    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:200]
    # the index stores codes only — no float vector column survives
    assert "embedding" not in spark.read.parquet(path).columns


def test_ivfpq_append_equals_rebuild(spark, emb, tmp_path):
    """Incremental add (FAISS IndexIVFPQ.add analog): building on half
    the corpus then appending the other half yields byte-identical code
    ROWS to a full rebuild (fixed quantizers never refit), so probes
    return exactly the rebuilt index's answers."""
    from naru_spark.pipeline.similarity import (
        ivfpq_append_index,
        ivfpq_topk_from_index,
        ivfpq_write_index,
        kmeans_np,
        pq_fit,
    )

    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cents = kmeans_np(mat, 16, seed=5)
    cb = pq_fit(mat, m=8, k=16, seed=5)
    full, incr = str(tmp_path / "full"), str(tmp_path / "incr")
    ivfpq_write_index(emb, full, cents, cb, decimals=6)
    ivfpq_write_index(emb.filter(F.col("vec_id") % 2 == 0), incr, cents, cb, decimals=6)
    ivfpq_append_index(emb.filter(F.col("vec_id") % 2 == 1), incr, decimals=6)

    rows_full = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(full).collect()
    }
    rows_incr = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(incr).collect()
    }
    assert rows_incr == rows_full  # identical code rows, not just results

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = {tuple(r) for r in ivfpq_topk_from_index(spark, full, q, k=10, n_probe=4, decimals=6).collect()}
    b = {tuple(r) for r in ivfpq_topk_from_index(spark, incr, q, k=10, n_probe=4, decimals=6).collect()}
    assert a == b
    # validate=True refuses an id that is already indexed
    import pytest
    with pytest.raises(ValueError, match="already indexed"):
        ivfpq_append_index(emb.limit(1), incr, validate=True)


def test_bm25_append_equals_rebuild(spark, docs, tmp_path):
    """Incremental BM25 add (Lucene segment-add analog): build-half +
    append-half equals a full rebuild — identical df sidecar, identical
    corpus stats, identical posting ROWS, identical probe ranking."""
    from naru_spark.pipeline.retrieval import (
        bm25_append_index,
        bm25_topk_from_index,
        bm25_write_index,
    )

    queries = [(0, "data spark"), (1, "model training")]
    full, incr = str(tmp_path / "full"), str(tmp_path / "incr")
    bm25_write_index(docs, full, n_buckets=8)
    bm25_write_index(docs.filter(F.col("doc_id") % 2 == 0), incr, n_buckets=8)
    bm25_append_index(docs.filter(F.col("doc_id") % 2 == 1), incr, n_buckets=8)

    for sub in ("df", "stats"):
        a = {tuple(r) for r in spark.read.parquet(f"{full}/{sub}").collect()}
        b = {tuple(r) for r in spark.read.parquet(f"{incr}/{sub}").collect()}
        assert a == b, sub
    pa = {tuple(r) for r in spark.read.parquet(f"{full}/postings").collect()}
    pb = {tuple(r) for r in spark.read.parquet(f"{incr}/postings").collect()}
    assert pa == pb

    ra = sorted(map(tuple, bm25_topk_from_index(spark, full, queries, k=10, n_buckets=8).collect()))
    rb = sorted(map(tuple, bm25_topk_from_index(spark, incr, queries, k=10, n_buckets=8).collect()))
    assert ra == rb
    # validate=True refuses an id that is already indexed
    import pytest
    with pytest.raises(ValueError, match="already indexed"):
        bm25_append_index(docs.limit(1), incr, n_buckets=8, validate=True)


def test_bm25_delete_equals_rebuild_over_survivors(spark, docs, tmp_path):
    """Eager delete (Lucene delete+expunge): after removing a victim set,
    the index's df/stats/postings equal a fresh build over the surviving
    docs, and probes return the same ranking. Deleting an unknown id is
    a no-op returning 0."""
    from naru_spark.pipeline.retrieval import (
        bm25_delete_from_index,
        bm25_topk_from_index,
        bm25_write_index,
    )

    queries = [(0, "data spark"), (1, "model training")]
    full, ref = str(tmp_path / "full"), str(tmp_path / "ref")
    bm25_write_index(docs, full, n_buckets=8)
    victims = [r["doc_id"] for r in docs.filter(F.col("doc_id") % 5 == 0)
               .select("doc_id").collect()]
    assert bm25_delete_from_index(spark, full, victims) == len(victims)
    bm25_write_index(docs.filter(F.col("doc_id") % 5 != 0), ref, n_buckets=8)

    for sub in ("df", "stats", "postings"):
        a = {tuple(r) for r in spark.read.parquet(f"{full}/{sub}").collect()}
        b = {tuple(r) for r in spark.read.parquet(f"{ref}/{sub}").collect()}
        assert a == b, sub
    ra = sorted(map(tuple, bm25_topk_from_index(spark, full, queries, k=10, n_buckets=8).collect()))
    rb = sorted(map(tuple, bm25_topk_from_index(spark, ref, queries, k=10, n_buckets=8).collect()))
    assert ra == rb
    assert bm25_delete_from_index(spark, full, [10**12]) == 0


def test_ivfpq_delete_equals_rebuild_over_survivors(spark, emb, tmp_path):
    """FAISS remove_ids analog: after deleting a victim set the code rows
    equal a fresh build over the survivors, quantizer sidecars survive
    the swap, and probes match. Unknown ids are a no-op returning 0."""
    from naru_spark.pipeline.similarity import (
        ivfpq_delete_from_index,
        ivfpq_topk_from_index,
        ivfpq_write_index,
        kmeans_np,
        pq_fit,
    )

    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cents = kmeans_np(mat, 16, seed=5)
    cb = pq_fit(mat, m=8, k=16, seed=5)
    full, ref = str(tmp_path / "full"), str(tmp_path / "ref")
    ivfpq_write_index(emb, full, cents, cb, decimals=6)
    victims = [r["vec_id"] for r in emb.filter(F.col("vec_id") % 5 == 0)
               .select("vec_id").collect()]
    assert ivfpq_delete_from_index(spark, full, victims) == len(victims)
    ivfpq_write_index(emb.filter(F.col("vec_id") % 5 != 0), ref, cents, cb, decimals=6)

    a = {(r["vec_id"], r["cell"], tuple(r["codes"]))
         for r in spark.read.parquet(full).collect()}
    b = {(r["vec_id"], r["cell"], tuple(r["codes"]))
         for r in spark.read.parquet(ref).collect()}
    assert a == b

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ra = sorted(map(tuple, ivfpq_topk_from_index(spark, full, q, k=10, n_probe=4, decimals=6).collect()))
    rb = sorted(map(tuple, ivfpq_topk_from_index(spark, ref, q, k=10, n_probe=4, decimals=6).collect()))
    assert ra == rb
    assert ivfpq_delete_from_index(spark, full, [10**12]) == 0
    # duplicate ids are deduped in the count
    assert ivfpq_delete_from_index(spark, full, [1, 1]) == 1
    # removing every remaining vector is refused before any mutation
    import pytest
    rest = [r["vec_id"] for r in spark.read.parquet(full).select("vec_id").collect()]
    with pytest.raises(ValueError, match="every indexed vector"):
        ivfpq_delete_from_index(spark, full, rest)
    assert ivfpq_delete_from_index(spark, full, []) == 0


def test_delete_by_predicate_dataframe_victims(spark, docs, emb, tmp_path):
    """The victims= DataFrame form (delete-by-predicate): same result as
    the id-list form, but the ids never route through the driver — the
    victim side joins distributed (plain join, AQE strategy). Passing
    both or neither victim spec is refused."""
    import pytest

    from naru_spark.pipeline.retrieval import (
        bm25_delete_from_index,
        bm25_write_index,
    )
    from naru_spark.pipeline.similarity import (
        ivfpq_delete_from_index,
        ivfpq_write_index,
        kmeans_np,
        pq_fit,
    )

    # BM25: DataFrame-victims delete equals id-list delete
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    bm25_write_index(docs, a, n_buckets=8)
    bm25_write_index(docs, b, n_buckets=8)
    pred = F.col("doc_id") % 7 == 0
    ids = [r["doc_id"] for r in docs.filter(pred).select("doc_id").collect()]
    n_df = bm25_delete_from_index(spark, a, victims=docs.filter(pred).select("doc_id"))
    n_ls = bm25_delete_from_index(spark, b, doc_ids=ids)
    assert n_df == n_ls == len(ids)
    for sub in ("df", "stats", "postings"):
        ra = {tuple(r) for r in spark.read.parquet(f"{a}/{sub}").collect()}
        rb = {tuple(r) for r in spark.read.parquet(f"{b}/{sub}").collect()}
        assert ra == rb, sub
    with pytest.raises(ValueError, match="exactly one"):
        bm25_delete_from_index(spark, a, doc_ids=[1], victims=docs.select("doc_id"))
    with pytest.raises(ValueError, match="exactly one"):
        bm25_delete_from_index(spark, a)

    # IVF-PQ: same equivalence
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cents = kmeans_np(mat, 16, seed=5)
    cb = pq_fit(mat, m=8, k=16, seed=5)
    va, vb = str(tmp_path / "va"), str(tmp_path / "vb")
    ivfpq_write_index(emb, va, cents, cb, decimals=6)
    ivfpq_write_index(emb, vb, cents, cb, decimals=6)
    vpred = F.col("vec_id") % 7 == 0
    vids = [r["vec_id"] for r in emb.filter(vpred).select("vec_id").collect()]
    assert ivfpq_delete_from_index(
        spark, va, victims=emb.filter(vpred).select("vec_id")
    ) == len(vids)
    assert ivfpq_delete_from_index(spark, vb, vec_ids=vids) == len(vids)
    sa = {(r["vec_id"], r["cell"], tuple(r["codes"]))
          for r in spark.read.parquet(va).collect()}
    sb = {(r["vec_id"], r["cell"], tuple(r["codes"]))
          for r in spark.read.parquet(vb).collect()}
    assert sa == sb
    with pytest.raises(ValueError, match="exactly one"):
        ivfpq_delete_from_index(spark, va)


def test_ivfpq_maintain_drift_triggers_one_rebuild(spark, emb, tmp_path):
    """The maintenance decision loop: a drifted ingest (replaced ids with
    a collapsed embedding distribution + new ids) trips the relative
    imbalance threshold and triggers EXACTLY ONE rebuild, after which
    probes equal a fresh build over the post-ingest corpus under the
    refit quantizers. A benign same-distribution ingest upserts without
    any rebuild (refit never called)."""
    from naru_spark.pipeline.similarity import (
        ivfpq_maintain_index,
        ivfpq_topk_from_index,
        ivfpq_write_index,
        kmeans_np,
        pq_fit,
    )

    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cents = kmeans_np(mat, 16, seed=5)
    cb = pq_fit(mat, m=8, k=16, seed=5)
    path = str(tmp_path / "idx")
    ivfpq_write_index(emb, path, cents, cb, decimals=6)

    def drifted(c):
        return F.transform(c.cast("array<double>"),
                           lambda x: x * F.lit(0.05) + F.lit(0.5))

    emb_d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    replaced = emb_d.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", drifted(F.col("embedding")).alias("embedding"))
    new = emb_d.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        drifted(F.col("embedding")).alias("embedding"))
    batch = replaced.unionByName(new)
    corpus = emb_d.filter(F.col("vec_id") % 5 != 0).unionByName(batch)

    calls = []

    def refit(corpus_df):
        cpdf = corpus_df.toPandas().sort_values("vec_id")
        cmat = np.stack(cpdf["embedding"].to_numpy()).astype(np.float64)
        calls.append(1)
        return kmeans_np(cmat, 16, seed=9), pq_fit(cmat, m=8, k=16, seed=9)

    res = ivfpq_maintain_index(batch, path, corpus, refit)
    assert res["action"] == "rebuild", res
    assert len(calls) == 1  # exactly one rebuild
    assert res["imbalance_after"] > 1.25 * res["imbalance_before"]
    assert res["n_replaced"] == emb_d.filter(F.col("vec_id") % 5 == 0).count()

    # probes equal a fresh build over the post-ingest corpus
    ref = str(tmp_path / "ref")
    ivfpq_write_index(corpus, ref, *refit(corpus), decimals=6)
    q = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    ra = sorted(map(tuple, ivfpq_topk_from_index(spark, path, q, k=10, n_probe=4, decimals=6).collect()))
    rb = sorted(map(tuple, ivfpq_topk_from_index(spark, ref, q, k=10, n_probe=4, decimals=6).collect()))
    assert ra == rb

    # benign ingest: same-distribution new ids -> upsert, NO rebuild
    calls.clear()
    benign = emb_d.limit(20).select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
    res2 = ivfpq_maintain_index(benign, path, corpus.unionByName(benign), refit)
    assert res2["action"] == "upsert", res2
    assert res2["n_replaced"] == 0
    assert calls == []


def test_ivfpq_maintain_build_policy_catches_slow_drift(spark, emb, tmp_path):
    """Four small drifted ingests (4% of ids each, replaced in place) each
    pass the per-ingest check (max step ~1.14x < 1.25), so
    policy='ingest' never rebuilds — the documented blind spot. The
    build-anchored policy compares against imbalance_at_build from
    _meta.json and fires exactly once, on the cumulative crossing
    (batch 4, ~1.36x). An index whose meta predates the sidecar field
    refuses policy='build' instead of guessing an anchor."""
    import json
    import os

    import pytest

    from naru_spark.pipeline.similarity import (
        ivfpq_maintain_index,
        ivfpq_write_index,
        kmeans_np,
        pq_fit,
    )

    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cents, cb = kmeans_np(mat, 16, seed=5), pq_fit(mat, m=8, k=16, seed=5)

    def drifted_batch(k):
        return emb.filter(F.col("vec_id") % 25 == k).select(
            "vec_id",
            F.transform(F.col("embedding").cast("array<double>"),
                        lambda x: x * F.lit(0.05) + F.lit(0.5)).alias("embedding"),
        )

    calls = []

    def refit(corpus_df):
        calls.append(1)
        cpdf = corpus_df.toPandas().sort_values("vec_id")
        cmat = np.stack(cpdf["embedding"].to_numpy()).astype(np.float64)
        return kmeans_np(cmat, 16, seed=9), pq_fit(cmat, m=8, k=16, seed=9)

    emb_d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))

    for policy, expected in (("ingest", ["upsert"] * 4),
                             ("build", ["upsert"] * 3 + ["rebuild"])):
        calls.clear()
        path = str(tmp_path / policy)
        ivfpq_write_index(emb, path, cents, cb, decimals=6)
        corpus = emb_d
        actions = []
        for k in range(4):
            batch = drifted_batch(k)
            corpus = corpus.join(batch.select("vec_id"), "vec_id", "left_anti").unionByName(batch)
            res = ivfpq_maintain_index(batch, path, corpus, refit, policy=policy)
            actions.append(res["action"])
        assert actions == expected, (policy, actions)
        assert len(calls) == (1 if policy == "build" else 0)

    # meta predating the sidecar field -> loud refusal for policy='build'
    path = str(tmp_path / "legacy")
    ivfpq_write_index(emb, path, cents, cb, decimals=6)
    meta_p = os.path.join(path, "_meta.json")
    json.dump({"decimals": 6}, open(meta_p, "w"))
    with pytest.raises(ValueError, match="imbalance_at_build"):
        ivfpq_maintain_index(drifted_batch(0), path, emb_d, refit, policy="build")
    with pytest.raises(ValueError, match="unknown policy"):
        ivfpq_maintain_index(drifted_batch(0), path, emb_d, refit, policy="bogus")


def test_bm25_upsert_equals_rebuild(spark, docs, tmp_path):
    """Upsert (delete-then-append in one call) over a mixed batch of
    replaced + new documents leaves the index identical to a fresh build
    over the post-ingest corpus — df, stats, postings, and probe
    ranking."""
    from naru_spark.pipeline.retrieval import (
        bm25_topk_from_index,
        bm25_upsert_index,
        bm25_write_index,
    )

    path, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    bm25_write_index(docs, path, n_buckets=8)
    replaced = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" updated body")).alias("text"))
    new = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" fresh body")).alias("text"))
    batch = replaced.unionByName(new)
    n_rep = bm25_upsert_index(batch, path, n_buckets=8)
    assert n_rep == docs.filter(F.col("doc_id") % 5 == 0).count()

    final = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text").unionByName(batch)
    bm25_write_index(final, ref, n_buckets=8)
    for sub in ("df", "stats", "postings"):
        a = {tuple(r) for r in spark.read.parquet(f"{path}/{sub}").collect()}
        b = {tuple(r) for r in spark.read.parquet(f"{ref}/{sub}").collect()}
        assert a == b, sub
    queries = [(0, "data spark"), (1, "model training")]
    ra = sorted(map(tuple, bm25_topk_from_index(spark, path, queries, k=10, n_buckets=8).collect()))
    rb = sorted(map(tuple, bm25_topk_from_index(spark, ref, queries, k=10, n_buckets=8).collect()))
    assert ra == rb


def test_ivfpq_build_refuses_empty_corpus(spark, emb, tmp_path):
    """An empty corpus must refuse cleanly (an empty partitioned index is
    unreadable everywhere) and leave no side tree behind."""
    import os

    import pytest

    from naru_spark.pipeline.similarity import ivfpq_write_index, kmeans_np, pq_fit

    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cents, cb = kmeans_np(mat, 16, seed=5), pq_fit(mat, m=8, k=16, seed=5)
    path = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="empty corpus"):
        ivfpq_write_index(emb.filter(F.col("vec_id") < 0), path, cents, cb, decimals=6)
    assert not os.path.exists(path)
    assert not [d for d in os.listdir(tmp_path) if d.startswith("idx.new-")]


def test_ann_recall_at_k_zero_and_partial(spark):
    """recall@k: partial overlap counts hits/k; a query the approximate
    side missed entirely still reports 0.0 (left join from exact)."""
    from naru_spark.pipeline.similarity import ann_recall_at_k

    exact = spark.createDataFrame(
        [(1, n) for n in (10, 11, 12, 13)] + [(2, n) for n in (20, 21, 22, 23)],
        "query_id int, neighbor_id int",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99)],  # query 2 absent entirely
        "query_id int, neighbor_id int",
    )
    got = {r["query_id"]: r["recall"] for r in ann_recall_at_k(exact, approx, k=4).collect()}
    assert got == {1: 0.5, 2: 0.0}


def test_upsert_full_refresh_rebuilds(spark, docs, emb, tmp_path):
    """A batch covering EVERY indexed id (the full-refresh maintenance op)
    must upsert cleanly — the bare delete's refusal to empty the index is
    bypassed by rebuilding from the batch — and equal a fresh build."""
    from naru_spark.pipeline.retrieval import (
        bm25_topk_from_index,
        bm25_upsert_index,
        bm25_write_index,
    )
    from naru_spark.pipeline.similarity import (
        ivfpq_topk_from_index,
        ivfpq_upsert_index,
        ivfpq_write_index,
        kmeans_np,
        pq_fit,
    )

    # BM25: every doc re-ingested with changed text
    path, ref = str(tmp_path / "b"), str(tmp_path / "br")
    bm25_write_index(docs, path, n_buckets=8)
    refreshed = docs.select("doc_id", F.concat(F.col("text"), F.lit(" v2")).alias("text"))
    assert bm25_upsert_index(refreshed, path, n_buckets=8) == docs.count()
    bm25_write_index(refreshed, ref, n_buckets=8)
    for sub in ("df", "stats", "postings"):
        a = {tuple(r) for r in spark.read.parquet(f"{path}/{sub}").collect()}
        b = {tuple(r) for r in spark.read.parquet(f"{ref}/{sub}").collect()}
        assert a == b, sub

    # IVF-PQ: every vector re-embedded (saved quantizers reused)
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cents, cb = kmeans_np(mat, 16, seed=5), pq_fit(mat, m=8, k=16, seed=5)
    vpath, vref = str(tmp_path / "v"), str(tmp_path / "vr")
    ivfpq_write_index(emb, vpath, cents, cb, decimals=6)
    re_emb = emb.select(
        "vec_id",
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: x * F.lit(0.5)).alias("embedding"),
    )
    assert ivfpq_upsert_index(re_emb, vpath) == emb.count()
    ivfpq_write_index(re_emb, vref, cents, cb, decimals=6)
    sa = {(r["vec_id"], r["cell"], tuple(r["codes"]))
          for r in spark.read.parquet(vpath).collect()}
    sb = {(r["vec_id"], r["cell"], tuple(r["codes"]))
          for r in spark.read.parquet(vref).collect()}
    assert sa == sb
    q = re_emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    ra = sorted(map(tuple, ivfpq_topk_from_index(spark, vpath, q, k=5, n_probe=4, decimals=6).collect()))
    rb = sorted(map(tuple, ivfpq_topk_from_index(spark, vref, q, k=5, n_probe=4, decimals=6).collect()))
    assert ra == rb


def test_bm25_maintain_merge_policy(spark, docs, tmp_path):
    """The Lucene merge-policy analog: a lax merge_factor leaves the
    upsert's fragmentation in place (action=upsert); a tight one merges
    the postings to ~one file per bucket — content-identical (df/stats/
    postings row sets unchanged), probes equal."""
    from naru_spark.pipeline.retrieval import (
        bm25_maintain_index,
        bm25_postings_file_count,
        bm25_topk_from_index,
        bm25_write_index,
    )

    path = str(tmp_path / "idx")
    bm25_write_index(docs, path, n_buckets=8)
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" updated")).alias("text"))

    res = bm25_maintain_index(batch, path, n_buckets=8, merge_factor=10_000)
    assert res["action"] == "upsert"
    assert res["files_before"] == res["files_after"]

    queries = [(0, "data spark"), (1, "model training")]
    before_rows = {
        sub: {tuple(r) for r in spark.read.parquet(f"{path}/{sub}").collect()}
        for sub in ("df", "stats", "postings")
    }
    pre = sorted(map(tuple, bm25_topk_from_index(spark, path, queries, k=10, n_buckets=8).collect()))

    batch2 = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text")
    res2 = bm25_maintain_index(batch2, path, n_buckets=8, merge_factor=1)
    assert res2["action"] == "merge"
    assert res2["files_after"] < res2["files_before"]
    assert res2["files_after"] <= 8
    assert bm25_postings_file_count(path) == res2["files_after"]
    # the merge moved rows without changing them: only batch2's rows differ
    after_post = {tuple(r) for r in spark.read.parquet(f"{path}/postings").collect()}
    assert before_rows["postings"] <= after_post  # nothing lost or altered
    post2 = sorted(map(tuple, bm25_topk_from_index(spark, path, queries, k=10, n_buckets=8).collect()))
    assert len(post2) == len(pre)


def test_bm25_append_empty_batch_is_noop(spark, docs, tmp_path):
    """An empty micro-batch (routine under Structured Streaming) must be
    a no-op, not a crash on the NULL stats sum."""
    from naru_spark.pipeline.retrieval import (
        bm25_topk_from_index,
        bm25_append_index,
        bm25_write_index,
    )

    path = str(tmp_path / "idx")
    bm25_write_index(docs, path, n_buckets=8)
    before = sorted(map(tuple, bm25_topk_from_index(
        spark, path, [(0, "data spark")], k=5, n_buckets=8).collect()))
    bm25_append_index(docs.filter(F.lit(False)), path, n_buckets=8)
    after = sorted(map(tuple, bm25_topk_from_index(
        spark, path, [(0, "data spark")], k=5, n_buckets=8).collect()))
    assert before == after


def test_quality_classifier_learns_and_scores(spark):
    """The trained quality classifier (pipeline.classifier): full-batch
    logistic GD is deterministic, the inlined-literal scoring agrees with
    a direct numpy forward on the same features, and agreement with the
    Gopher weak label beats the majority-class baseline (it learned a
    boundary, not a constant)."""
    import numpy as np

    from naru_spark.entry_pipeline import _quality_clf_weights
    from naru_spark.pipeline.classifier import FEATURE_NAMES, score_logit
    from naru_spark.pipeline.curation import gopher_filter
    from naru_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    w, b = _quality_clf_weights()
    w2, b2 = _quality_clf_weights()  # cached + deterministic
    assert (w == w2).all() and b == b2

    docs = load_table(spark, "documents", SF_SMOKE)
    scored = score_logit(docs, w, b)
    rows = scored.select("doc_id", *FEATURE_NAMES, "logit", "pred_keep").collect()
    X = np.array([[r[f] for f in FEATURE_NAMES] for r in rows])
    direct = np.round(b + X @ w, 6)
    got = np.array([r["logit"] for r in rows])
    assert np.allclose(got, direct, atol=2e-6)

    labels = {
        r["doc_id"]: r["keep"] for r in gopher_filter(docs, min_words=20).collect()
    }
    y = np.array([labels[r["doc_id"]] for r in rows], dtype=bool)
    pred = np.array([r["pred_keep"] for r in rows], dtype=bool)
    majority = max(y.mean(), 1 - y.mean())
    acc = (pred == y).mean()
    assert acc > majority + 0.05, (acc, majority)


def test_exact_substring_spans_semantics(spark):
    """ExactSubstr accounting on a constructed corpus: the globally FIRST
    occurrence of a shared run survives; later occurrences are removed;
    overlapping duplicated shingle intervals merge (union, not sum)."""
    from naru_spark.pipeline.dedup import exact_substring_spans

    run = " ".join(f"w{i}" for i in range(10))  # 10-token shared run
    rows = [
        (0, run + " alpha beta gamma"),              # first occurrence: kept
        (1, "x0 x1 " + run),                          # repeat: run removed
        (2, "totally unique tokens only here yes"),  # no shingles duplicated
        (3, run),                                     # another repeat, exact
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in exact_substring_spans(df, k=8).collect()}
    assert got[0]["n_removed_tokens"] == 0  # first occurrence owns the run
    # doc 1: duplicated 8-gram starts at positions 2,3,4 -> union [2, 12) = 10
    assert got[1]["n_dup_starts"] == 3
    assert got[1]["n_removed_tokens"] == 10  # merged, NOT 3*8
    assert got[2]["n_removed_tokens"] == 0 and got[2]["n_dup_starts"] == 0
    # doc 3: starts 0,1,2 -> union [0, 10) = all 10 tokens
    assert got[3]["n_removed_tokens"] == 10
    assert abs(got[3]["removed_fraction"] - 1.0) < 1e-9


def test_audio_features_signal_properties(spark):
    """Real-DSP sanity on a constructed pure tone: a 1 kHz sine sampled at
    8 kHz for 1 s has spectral centroid ~1 kHz (amplitude-weighted mean
    frequency collapses onto the single spectral line) and ~2*f*T zero
    crossings; the integer features match direct numpy computation."""
    import io
    import wave

    import numpy as np

    from naru_spark.pipeline.multimodal import audio_features

    rate, dur, freq = 8000, 1.0, 1000.0
    t = np.arange(int(rate * dur)) / rate
    samples = (np.sin(2 * np.pi * freq * t) * 20000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    df = spark.createDataFrame([(1, buf.getvalue())], "blob_id long, blob binary")
    row = audio_features(df).collect()[0]
    assert row["n_samples"] == 8000
    assert abs(row["spectral_centroid"] - freq) < 25.0  # single line + leakage
    assert abs(row["zero_crossings"] - 2 * freq * dur) <= 2
    xi = samples.astype(np.int64)
    assert row["peak"] == int(np.abs(xi).max())
    assert row["energy"] == int((xi * xi).sum())


def test_pagerank_matches_numpy_power_iteration(spark):
    """PageRank over a small directed graph equals the dense numpy power
    iteration (same damping, dangling redistribution, iteration count) to
    float tolerance; ranks sum to ~1."""
    from naru_spark.pipeline.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (4, 0)]  # 4 has out, 5 none
    # add node 5 as a pure sink (dangling): edge into it, none out
    edges.append((0, 5))
    df = spark.createDataFrame(edges, "vec_id long, neighbor_id long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=12, damping=0.85).collect()}

    import numpy as np

    n = 6
    M = np.zeros((n, n))
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    for s, ds in out.items():
        for d in ds:
            M[d, s] = 1.0 / len(ds)
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        dangling = sum(r[v] for v in range(n) if v not in out)
        r = (1 - 0.85) / n + 0.85 * (M @ r + dangling / n)
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9

    # round_decimals (the SQL-oracle determinism handle): per-iteration
    # rounding perturbs each rank by < iters * 0.5e-9 vs the unrounded run
    rounded = {
        r["node"]: r["rank"]
        for r in pagerank(df, iters=12, damping=0.85, round_decimals=9).collect()
    }
    for v in range(n):
        assert abs(rounded[v] - got[v]) < 12 * 5e-10, (v, rounded[v], got[v])


def test_bm25_topk_matches_numpy_reference(spark, docs):
    """BM25 vs an independent pure-python computation on the same corpus:
    identical (query, doc, score, rank) tuples — idf formula, length
    normalization, rounding discipline, and tiebreak all pinned. Plan has
    no cartesian; every hit actually contains a query term."""
    import math

    from naru_spark.pipeline.retrieval import bm25_topk

    queries = [(0, "hash join merge"), (1, "stream window agg")]
    res = bm25_topk(docs, queries, k=10)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = sorted((r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in res.collect())

    pdf = docs.select("doc_id", "text").toPandas()
    toks = {int(r.doc_id): str(r.text).strip().split() for r in pdf.itertuples()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df: dict = {}
    for t in toks.values():
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    k1, b = 1.2, 0.75
    expect = []
    for qid, qs in queries:
        scores = []
        for d, t in toks.items():
            s = 0
            for term in dict.fromkeys(qs.split()):
                tf = t.count(term)
                if not tf:
                    continue
                idf = math.log(1.0 + (float(n) - df[term] + 0.5) / (df[term] + 0.5))
                contrib = idf * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * len(t) / avgdl))
                # decimal(18,6) accumulation == integer-cent arithmetic
                s += round(round(contrib, 6) * 1e6)
            if s > 0:
                scores.append((d, s))
        scores.sort(key=lambda x: (-x[1], x[0]))
        for rank, (d, s) in enumerate(scores[:10], 1):
            expect.append((qid, d, s / 1e6, rank))
    assert got == sorted(expect)


def test_bm25_index_bucket_hash_and_identity(spark, docs, tmp_path):
    """The from-index probe prunes to driver-computed crc32 buckets —
    zlib.crc32 must agree with F.crc32 on every corpus term or pruning
    silently drops postings. Also: index path == in-memory path exactly."""
    import zlib

    from naru_spark.pipeline.retrieval import (
        bm25_topk,
        bm25_topk_from_index,
        bm25_write_index,
    )

    # hash agreement over the whole corpus vocabulary
    vocab = [
        r["term"]
        for r in docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
        ).filter(F.length("term") > 0).distinct().collect()
    ]
    jvm = {
        r["term"]: r["h"]
        for r in spark.createDataFrame([(t,) for t in vocab], "term string")
        .select("term", F.crc32(F.col("term")).alias("h"))
        .collect()
    }
    assert all(jvm[t] == zlib.crc32(t.encode("utf-8")) for t in vocab)

    queries = [(0, "hash join merge"), (1, "stream window agg")]
    path = str(tmp_path / "idx")
    bm25_write_index(docs, path, n_buckets=8)
    a = sorted(map(tuple, bm25_topk(docs, queries, k=10).collect()))
    idx_df = bm25_topk_from_index(spark, path, queries, k=10, n_buckets=8)
    b = sorted(map(tuple, idx_df.collect()))
    assert a == b

    # probe plan: postings scan partition-pruned to the query buckets, and
    # NO corpus-sized side anywhere — dl is denormalized onto the posting
    # rows (Lucene norms pattern), so the only scans are postings + df
    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:200]
    assert "/dl" not in plan


def test_random_projection_preserves_distances(spark, emb):
    """JL property: squared pairwise distances in the 16-dim projection
    concentrate around the 64-dim originals — median ratio within
    [0.7, 1.3] over 200 sampled pairs (distance-preserving in
    expectation, variance ~1/sqrt(out_dim)). Plus exactness: the Spark
    long-form output equals the numpy matmul it claims to be."""
    import numpy as np

    from naru_spark.pipeline.similarity import projection_matrix, random_projection

    pdf = emb.select("vec_id", "embedding").toPandas().head(100)
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    P = projection_matrix(X.shape[1], 16, seed=11)

    out = random_projection(emb.limit(100), out_dim=16, seed=11).toPandas()
    got = out.pivot(index="vec_id", columns="dim", values="value")
    got = got.loc[pdf["vec_id"].to_numpy()].to_numpy()
    assert np.array_equal(got, np.round(X @ P, 6))

    Y = X @ P
    rng = np.random.RandomState(0)
    ratios = []
    for _ in range(200):
        i, j = rng.randint(0, len(X), 2)
        if i == j:
            continue
        d_hi = float(np.sum((X[i] - X[j]) ** 2))
        d_lo = float(np.sum((Y[i] - Y[j]) ** 2))
        if d_hi > 0:
            ratios.append(d_lo / d_hi)
    assert 0.7 <= float(np.median(ratios)) <= 1.3, np.median(ratios)


def test_expect_null_semantics_and_uniqueness(spark):
    """expect(): a NULL rule input counts as a violation (not TRUE), the
    uniqueness expectation counts duplicate ROWS (total - distinct), and
    all rules ride one aggregation job."""
    from naru_spark.pipeline.curation import expect

    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, -1), (3, 7)], "id long, v long"
    )
    out = expect(
        df,
        [("v_non_negative", F.col("v") >= 0)],
        unique_keys=["id"],
    )
    got = {r["rule"]: (r["violations"], r["total"], r["pass"]) for r in out.collect()}
    # NULL v and -1 v both violate; 4 rows, one duplicated id -> 1 dup row
    assert got["v_non_negative"] == (2, 4, False)
    assert got["unique_id"] == (1, 4, False)


def test_contrastive_triplets_bands(spark, emb):
    """Triplet mining: positives strictly more similar than their paired
    hard negatives, self never appears, bands have the advertised sizes."""
    from naru_spark.entry_pipeline import q_contrastive_triplets
    from tests.conftest import SF_T2

    rows = q_contrastive_triplets(spark, SF_T2).collect()
    assert len(rows) == 5 * 3
    for r in rows:
        assert r["pos_cos"] > r["neg_cos"]
        assert r["pos_id"] != r["query_id"]  # rank 1 (self) excluded
        assert r["neg_id"] != r["pos_id"]
        assert 1 <= r["rank"] - 1 <= 3 or 2 <= r["rank"] <= 4


def test_perplexity_buckets_properties(spark, docs):
    """CCNet bucketing: per language, the three buckets are within one
    doc of a true tercile split, and every head score <= every tail
    score (the selection invariant CCNet relies on)."""
    from naru_spark.pipeline.text import perplexity_buckets

    pdf = perplexity_buckets(docs).toPandas()
    for lang, g in pdf.groupby("lang"):
        sizes = g["bucket"].value_counts()
        assert set(sizes.index) <= {"head", "middle", "tail"}
        # boundaries are percentiles; tied (rounded) scores all fall to
        # the earlier bucket, so sizes are terciles up to the tie mass
        n = len(g)
        for b in ("head", "middle", "tail"):
            assert abs(sizes.get(b, 0) - n / 3) <= max(3, 0.15 * n), (lang, dict(sizes))
        assert g.loc[g.bucket == "head", "bits_per_token"].max() <= \
               g.loc[g.bucket == "tail", "bits_per_token"].min()


def test_bm25_meta_sidecar_branches(spark, docs, tmp_path):
    """The n_buckets _meta.json sidecar's guard branches: (1) a caller
    value conflicting with the stamped one raises; (2) a corrupt
    (truncated) meta raises a descriptive error, not JSONDecodeError;
    (3) a legacy meta-less index requires an explicit value once —
    sanity-checked against the bucket= layout, then FROZEN into
    _meta.json so later calls self-serve; (4) an in-place rebuild
    removes the old meta before overwriting postings (no stale-modulus
    window)."""
    import json
    import os

    import pytest

    from naru_spark.pipeline.retrieval import (
        _bm25_n_buckets,
        bm25_append_index,
        bm25_topk_from_index,
        bm25_write_index,
    )

    path = str(tmp_path / "idx")
    bm25_write_index(docs, path, n_buckets=8)
    # (1) conflicting caller value: loud, not silent modulus drift
    with pytest.raises(ValueError, match="built with n_buckets=8"):
        bm25_append_index(docs.limit(1), path, n_buckets=16)
    # (2) corrupt meta: descriptive raise
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        fh.write('{"n_bu')  # torn write
    with pytest.raises(ValueError, match="corrupt _meta.json"):
        _bm25_n_buckets(path, None)
    # (3) legacy (meta-less) index: no value -> raise; right value ->
    # frozen; a too-small value contradicts the on-disk layout -> raise
    os.remove(os.path.join(path, "_meta.json"))
    with pytest.raises(ValueError, match="no _meta.json"):
        _bm25_n_buckets(path, None)
    with pytest.raises(ValueError, match="does not match the layout"):
        _bm25_n_buckets(path, 4)  # docs vocab fills buckets 4..7 too
    assert _bm25_n_buckets(path, 8) == 8
    meta = json.load(open(os.path.join(path, "_meta.json")))
    assert meta == {"n_buckets": 8}  # frozen: self-serves from now on
    assert _bm25_n_buckets(path, None) == 8
    queries = [(0, "data spark")]
    r = bm25_topk_from_index(spark, path, queries, k=5)
    assert r.count() > 0
    # (4) rebuild over the existing dir: stale meta removed up front,
    # fresh meta stamped last, new modulus wins
    bm25_write_index(docs, path, n_buckets=16)
    assert _bm25_n_buckets(path, None) == 16

    # (5) the legacy freeze is BEST-EFFORT: on a read-only index mount
    # (meta write raises OSError) resolution still returns the value —
    # a probe of a legacy replica must not fail on a side-effect write
    import naru_spark.pipeline.retrieval as retrieval_mod
    os.remove(os.path.join(path, "_meta.json"))
    orig = retrieval_mod._write_bm25_meta
    retrieval_mod._write_bm25_meta = lambda *a, **k: (_ for _ in ()).throw(
        OSError("read-only file system"))
    try:
        assert _bm25_n_buckets(path, 16) == 16
        assert not os.path.exists(os.path.join(path, "_meta.json"))
    finally:
        retrieval_mod._write_bm25_meta = orig
    assert _bm25_n_buckets(path, 16) == 16  # writable again: freezes
    assert json.load(open(os.path.join(path, "_meta.json"))) == {
        "n_buckets": 16}


def test_ivfpq_maintain_recall_trigger_catches_balanced_drift(spark, tmp_path):
    """The QUALITY trigger: a pure SCALE drift (every vector replaced by
    4x itself) keeps cell assignment — and therefore the imbalance
    signal — EXACTLY flat (cells come from unit-normalized cosine; PQ
    codes quantize raw values), but the saved codebooks quantize the
    scaled values as garbage, so recall vs exact decays. The recall
    check fires exactly one rebuild; after the refit a benign
    same-distribution ingest passes both checks, and the maintained
    index's probes equal a fresh build over the post-ingest corpus."""
    import numpy as np

    from naru_spark.pipeline.similarity import (
        ivfpq_maintain_index,
        ivfpq_topk_from_index,
        ivfpq_write_index,
        kmeans_np,
        pq_fit,
    )

    rng = np.random.RandomState(3)
    d, n = 4, 200
    base = rng.randn(n, d)

    def mk(mat, ids):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in zip(ids, mat)],
            "vec_id long, embedding array<double>",
        )

    emb = mk(base, np.arange(n))
    path = str(tmp_path / "idx")
    ivfpq_write_index(
        emb, path, kmeans_np(base, 4, seed=5), pq_fit(base, m=4, k=32, seed=5),
        decimals=6,
    )

    batch = mk(base * 4.0, np.arange(n))  # same directions, 4x magnitude
    corpus = batch
    q = corpus.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    calls = []

    def refit(cdf):
        pdf = cdf.toPandas().sort_values("vec_id")
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        calls.append(1)
        return kmeans_np(mat, 4, seed=9), pq_fit(mat, m=4, k=32, seed=9)

    res = ivfpq_maintain_index(
        batch, path, corpus, refit,
        recall_queries=q, recall_k=10, recall_n_probe=4, min_recall=0.7,
    )
    # the imbalance signal was BLIND to this drift...
    assert res["imbalance_after"] <= 1.25 * res["baseline"], res
    # ...but the recall check caught it and fired exactly one rebuild
    assert res["action"] == "rebuild" and res["trigger"] == "recall", res
    assert res["recall"] < 0.7 and len(calls) == 1

    # probes equal a fresh build over the post-ingest corpus (the shared
    # oracle of every rebuild path)
    ref = str(tmp_path / "ref")
    ivfpq_write_index(corpus, ref, *refit(corpus), decimals=6)
    ra = sorted(map(tuple, ivfpq_topk_from_index(
        spark, path, q, k=10, n_probe=4, decimals=6).collect()))
    rb = sorted(map(tuple, ivfpq_topk_from_index(
        spark, ref, q, k=10, n_probe=4, decimals=6).collect()))
    assert ra == rb

    # benign follow-up under the refit quantizers: the refit codebooks
    # cover the new same-distribution vectors, recall stays healthy, no
    # second rebuild (refit not called again), trigger None
    calls.clear()
    benign = mk(-base[:20] * 4.0, np.arange(10_000, 10_020))
    res2 = ivfpq_maintain_index(
        benign, path, corpus.unionByName(benign), refit,
        recall_queries=q, recall_k=10, recall_n_probe=4, min_recall=0.7,
    )
    assert res2["action"] == "upsert" and res2["trigger"] is None, res2
    assert res2["recall"] >= 0.7 and calls == []
