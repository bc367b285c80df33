"""Unit tests for the LLM-data operators and the as-of join on tiny frames."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import sys

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from securities_pricing_data_pipeline_spark.llmdata.dedup import (  # noqa: E402
    exact_dedup,
    exact_dedup_by_digest,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from securities_pricing_data_pipeline_spark.llmdata.multimodal import (  # noqa: E402
    assets_from_documents,
    extract_features,
    frame_digests,
    resize_images,
    sample_frames,
)
from securities_pricing_data_pipeline_spark.llmdata.similarity import (  # noqa: E402
    brute_force_topk,
    embedding_near_dups,
    ivf_topk,
)
from securities_pricing_data_pipeline_spark.llmdata.text import lang_id  # noqa: E402
from securities_pricing_data_pipeline_spark.operators.asof import (  # noqa: E402
    asof_join_backward,
)

_WORDS = [
    "quick", "brown", "fox", "jumps", "over", "lazy", "dog", "cat", "watches",
    "warm", "windowsill", "birds", "sing", "garden", "outside", "river", "stone",
    "mountain", "cloud", "forest", "meadow", "silver", "morning", "evening",
    "quiet", "thunder", "harvest", "lantern", "whisper", "journey",
]
# ~120-token document: enough shingle features for a stable fingerprint
BASE = " ".join(_WORDS[(i * 7) % len(_WORDS)] for i in range(120))
NEAR = BASE.replace("windowsill", "doorstep", 1)  # one-token edit → high jaccard
OTHER = (
    "completely different content about spark engines shuffles partitions "
    "and catalyst optimizer rules that rewrite logical plans into physical"
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)], "doc_id long, text string"
    )


def test_exact_dedup(spark):
    out = {(r.doc_id, r.n_copies) for r in exact_dedup(_docs(spark)).collect()}
    assert out == {(1, 2), (3, 1), (4, 1)}
    out2 = {(r.doc_id, r.n_copies) for r in exact_dedup_by_digest(_docs(spark)).collect()}
    assert out2 == out


def test_ngram_jaccard(spark):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0  # near dup
    assert not any(4 in p for p in pairs)  # unrelated never pairs


def test_minhash_lsh(spark):
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(_docs(spark), threshold=0.5).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(4 in p for p in pairs)
    # portable (md5) hash family finds the same structure
    ppairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(_docs(spark), threshold=0.5, portable=True).collect()
    }
    assert (1, 2) in ppairs and not any(4 in p for p in ppairs)


def test_simhash(spark):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dups(_docs(spark), max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0  # identical text → identical fingerprint
    assert (1, 3) in pairs  # near dup within distance
    assert not any(4 in p for p in pairs)
    # portable family: identical docs always collide at distance 0; whether
    # the one-token edit stays within range depends on the hash draw, so
    # only the invariants are asserted
    ppairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dups(_docs(spark), max_hamming=10, portable=True).collect()
    }
    assert ppairs[(1, 2)] == 0
    assert not any(4 in p for p in ppairs)


def test_brute_force_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    vecs = rng.randn(8, 16).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(8)], "vec_id long, embedding array<float>"
    )
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    v64 = vecs.astype("float64")
    sims = v64 @ v64[0] / (np.linalg.norm(v64, axis=1) * np.linalg.norm(v64[0]))
    expected = [i for i in np.argsort(-sims) if i != 0][:3]
    got = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert got == expected
    top = next(r for r in out if r.rank == 1)
    # engine snaps products to a 1e-13 grid → agree to ~1e-10 absolute
    assert math.isclose(top.cos_sim, sims[top.neighbor_id], abs_tol=1e-9)


def test_brute_force_topk_np_bit_parity(spark, sf_dir):
    """The two-phase numpy-prefilter kernel must be bit-identical to the
    single-phase JVM plan on real embeddings: same (query, neighbor, rank)
    triples AND exactly equal cos_sim doubles (phase 2 recomputes the grid
    cosine JVM-side, so numpy float rounding never reaches an output)."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        brute_force_topk_np,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    ref = brute_force_topk(emb, queries, k=5).collect()
    got = brute_force_topk_np(emb, queries, k=5).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    ref_m = {key(r): (r.neighbor_id, r.cos_sim) for r in ref}
    got_m = {key(r): (r.neighbor_id, r.cos_sim) for r in got}
    assert got_m == ref_m  # exact — including float equality on cos_sim


def test_nearest_centroid_np_matches_jvm(spark, sf_dir):
    """The shared two-phase assignment kernel (numpy float prefilter +
    exact grid confirm) must pick the identical centroid for every vector
    as the full JVM broadcast pass, including ties — it backs SemDeDup,
    IVF list building, and the k-means iteration."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        nearest_centroid,
        norm_grid,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        norm_grid(F.col("embedding")).alias("norm"),
    )
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent_vec"),
        norm_grid(F.col("embedding")).alias("cent_norm"),
    )
    got = {r.id: r.centroid_id for r in nearest_centroid(c, centroids).collect()}
    # collect_limit=0 forces the single-phase JVM fallback path
    ref = {
        r.id: r.centroid_id
        for r in nearest_centroid(c, centroids, collect_limit=0).collect()
    }
    assert got == ref
    assert len(got) == emb.count()


def test_embedding_near_dups(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(16)
    near = base + 0.05 * rng.randn(16)          # cosine ≈ 1
    far = rng.randn(16)
    df = spark.createDataFrame(
        [(0, [float(x) for x in base]), (1, [float(x) for x in near]), (2, [float(x) for x in far])],
        "vec_id long, embedding array<float>",
    )
    out = {(r.id_a, r.id_b): r.cos_sim for r in embedding_near_dups(df, threshold=0.9, dim=16).collect()}
    assert set(out) == {(0, 1)}
    assert out[(0, 1)] > 0.95


def test_ivf_topk_recalls_true_neighbor(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.randn(30, 16).astype("float64")
    vecs[20] = vecs[5] + 0.01 * rng.randn(16)   # plant a strong neighbor for id 5
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)], "vec_id long, embedding array<float>"
    )
    out = ivf_topk(df, df.filter(F.col("vec_id") == 5), k=3, n_centroids=8, nprobe=3).collect()
    got = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    # the planted near-duplicate lands in the same inverted list → rank 1
    assert got[0] == 20


def test_multimodal_features(spark):
    docs = spark.createDataFrame([(1, "hello", "en", "s", 5)],
                                 "doc_id long, text string, lang string, source string, n_chars long")
    feats = extract_features(assets_from_documents(docs)).collect()
    assert len(feats) == 1
    r = feats[0]
    assert r.n_bytes == 5
    assert r.digest == hashlib.md5(b"hello").hexdigest()
    assert r.media_type == "image"


def test_sample_frames_covers_payload(spark):
    docs = spark.createDataFrame([(1, "abcdefghij", "en", "s", 10)],
                                 "doc_id long, text string, lang string, source string, n_chars long")
    frames = sample_frames(assets_from_documents(docs), n_frames=4).collect()
    assert [r.frame_idx for r in sorted(frames, key=lambda r: r.frame_idx)] == [0, 1, 2, 3]
    # slices reassemble exactly: frame boundaries are i·total/4
    joined = b"".join(r.content for r in sorted(frames, key=lambda r: r.frame_idx))
    assert joined == b"abcdefghij"
    digs = frame_digests(sample_frames(assets_from_documents(docs), n_frames=4)).collect()
    r0 = next(r for r in digs if r.frame_idx == 0)
    assert r0.n_bytes == 2  # 10 bytes → frames of 2,3,2,3
    assert r0.frame_digest == hashlib.md5(b"ab".hex().upper().encode()).hexdigest()


def test_resize_truncates_and_stamps_meta(spark):
    docs = spark.createDataFrame([(1, "x" * 5000, "en", "s", 5000)],
                                 "doc_id long, text string, lang string, source string, n_chars long")
    out = resize_images(assets_from_documents(docs), width=64, height=64).collect()[0]
    assert len(out.content) == 64 * 64
    assert out.meta["resized"] == "64x64"
    assert out.meta["lang"] == "en"  # original metadata preserved


def test_token_count_bpe(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import token_count_bpe

    df = spark.createDataFrame([(1, "Hello's world, 42 tests-passed!")], "doc_id long, text string")
    # Hello|'s| world|,| 42| tests|-|passed|! → 9 pre-tokens
    assert token_count_bpe(df).collect()[0].n_bpe_tokens == 9


def test_winnow_fingerprints(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import winnow_fingerprints

    shared = "a common run of text that is plenty long"
    df = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " suffix alpha"),
            (2, "other start " + shared + " different end"),
            (3, "totally unrelated content with no overlap at all here"),
            (4, "tiny"),  # shorter than k=8 → no fingerprints
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=8, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    # winnowing guarantee: a shared substring ≥ k+w−1 chars ⇒ ≥1 shared fp
    assert by_doc[1] & by_doc[2]
    # unrelated text shares nothing
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it was good"),
            (2, "el perro y la casa de los vecinos en madrid"),
            (3, "der hund und die katze von dem haus ist im garten"),
            (4, "le chat et les maisons des voisins en ville est une"),
            (5, "你好世界这是一个中文文档测试"),
            (6, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "zh", 6: "und"}


def test_asof_join_backward(spark):
    quotes = spark.createDataFrame(
        [
            ("A", dt.date(2026, 1, 1), 10.0),
            ("A", dt.date(2026, 1, 5), 20.0),
            ("B", dt.date(2026, 1, 3), 99.0),
        ],
        "symbol string, qdate date, px double",
    )
    events = spark.createDataFrame(
        [
            (1, "A", dt.date(2026, 1, 4)),   # between quotes → 1/1
            (2, "A", dt.date(2026, 1, 5)),   # equal date → inclusive → 1/5
            (3, "A", dt.date(2025, 12, 31)), # before all → no match
            (4, "B", dt.date(2026, 2, 1)),   # after last → 1/3
        ],
        "event_id long, symbol string, edate date",
    )
    out = asof_join_backward(
        events, quotes, key=["symbol"], left_time="edate", right_time="qdate"
    )
    got = {r.event_id: (r.px, r.asof_time) for r in out.collect()}
    assert got[1] == (10.0, dt.date(2026, 1, 1))
    assert got[2] == (20.0, dt.date(2026, 1, 5))
    assert got[3] == (None, None)
    assert got[4] == (99.0, dt.date(2026, 1, 3))


def test_plane_signatures_udf_matches_expr(spark, sf_dir):
    """The numpy pandas-UDF signature path must be bit-identical to the
    SQL-expression twin (whose semantics the DuckDB oracle mirrors) —
    HALF_UP grid rounding included."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        plane_signatures,
        plane_signatures_expr,
        random_planes,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planes = random_planes(dim=64, n_planes=32, seed=42)
    fast = sorted(plane_signatures(emb, planes).collect())
    ref = sorted(plane_signatures_expr(emb, planes).collect())
    assert fast == ref


def test_kmeans_ivf_deterministic_and_recall(spark, sf_dir):
    """Lloyd k-means centroids are deterministic across runs, and IVF over
    trained lists keeps reasonable recall vs the exact brute-force top-k."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents1 = {r.centroid_id: list(r.cent_vec) for r in kmeans_centroids(emb, 8, iters=2).collect()}
    cents2 = {r.centroid_id: list(r.cent_vec) for r in kmeans_centroids(emb, 8, iters=2).collect()}
    assert cents1 == cents2 and len(cents1) == 8

    queries = emb.filter("vec_id < 10")
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    trained = kmeans_centroids(emb, 8, iters=2)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=3, centroids=trained).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5


def test_connected_components_min_label(spark):
    from securities_pricing_data_pipeline_spark.llmdata.dedup import connected_components

    # two components {1,2,3,7} (chain 1-2, 2-3, 3-7) and {5,6}; 9 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (5, 6)], ["id_a", "id_b"]
    )
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6, 7, 9)], ["doc_id"])
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs, verts, id_col="doc_id").collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (7, 1), (5, 5), (6, 5), (9, 9)}


def test_normalize_text_collapses_formatting_variants(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import normalize_text

    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "HELLO ... world?")],
        ["doc_id", "text"],
    )
    out = normalize_text(df).collect()
    texts = {r.doc_id: r.norm_text for r in out}
    assert texts == {1: "hello world", 2: "hello world", 3: "hello world"}
    assert len({r.norm_digest for r in out}) == 1


def test_split_assign_deterministic_and_complete(spark):
    from securities_pricing_data_pipeline_spark.llmdata.sampling import split_assign

    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    a = {(r.doc_id, r.split) for r in split_assign(df).collect()}
    b = {(r.doc_id, r.split) for r in split_assign(df.repartition(7)).collect()}
    assert a == b  # partition-layout independent
    by_split = {}
    for _id, s in a:
        by_split[s] = by_split.get(s, 0) + 1
    assert set(by_split) == {"train", "val", "test"}
    assert by_split["train"] > by_split["val"]


def test_pack_greedy_bins_respect_budget_start(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import pack_greedy

    rows = [(i, "w " * 50, "s") for i in range(10)]  # 50 tokens each
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = pack_greedy(df, budget_tokens=120).orderBy("doc_id").collect()
    # 50-token docs, 120 budget: docs 0,1 -> bin 0 (start 0,50), doc 2 starts
    # at 100 -> bin 0, doc 3 starts at 150 -> bin 1, ...
    assert [r.bin_id for r in out] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    assert all(r.n_tokens == 50 for r in out)


def test_hll_estimate_within_error_bound(spark):
    from securities_pricing_data_pipeline_spark.llmdata.sketch import hll_estimate

    df = spark.createDataFrame([(i % 3000,) for i in range(9000)], ["k"])
    row = hll_estimate(df, F.col("k"), p=8).collect()[0]
    # standard error 1.04/sqrt(256) ≈ 6.5%; allow 3 sigma
    assert abs(row.hll_estimate - 3000) / 3000 < 0.20
    assert row.m == 256


def test_hll_merge_equals_direct_build(spark):
    """The mergeability contract: registers built per fine group and
    merged with a bucket-wise max must produce EXACTLY the estimate of
    registers built directly at the coarse grain."""
    from securities_pricing_data_pipeline_spark.llmdata.sketch import (
        hll_estimate,
        hll_grouped_registers,
        hll_merge_estimate,
    )

    rows = [(f"g{i % 2}", f"d{i % 6}", i % 500) for i in range(4000)]
    df = spark.createDataFrame(rows, ["grp", "day", "k"])
    regs = hll_grouped_registers(df, F.col("k"), ["grp", "day"], p=8)
    merged = {
        r.grp: (r.s_scaled, r.hll_estimate)
        for r in hll_merge_estimate(regs, ["grp"], p=8).collect()
    }
    for g in ("g0", "g1"):
        direct = hll_estimate(df.filter(F.col("grp") == g), F.col("k"), p=8).collect()[0]
        assert merged[g] == (direct.s_scaled, direct.hll_estimate)


def test_bucket_cap_drops_degenerate_buckets(spark):
    from pyspark.sql import Observation

    from securities_pricing_data_pipeline_spark.llmdata.dedup import (
        candidate_pairs_in_buckets,
    )

    rows = [("hot", i) for i in range(50)] + [("ok", i) for i in (100, 101, 102)]
    df = spark.createDataFrame(rows, ["bucket", "id"])
    obs = Observation("cap")
    pairs = candidate_pairs_in_buckets(
        df, ["bucket"], max_bucket=10, observation=obs
    ).collect()
    # 50-member bucket dropped; only the 3-member bucket pairs (3 choose 2)
    assert {(r.id_a, r.id_b) for r in pairs} == {(100, 101), (100, 102), (101, 102)}
    assert obs.get["dropped_buckets"] == 1


def test_ngram_jaccard_stop_shingle_cap(spark):
    from pyspark.sql import Observation

    from securities_pricing_data_pipeline_spark.llmdata.dedup import ngram_jaccard_pairs

    # 30 docs share ONE stop-shingle ("common shingle words"); everything
    # else is unique per doc, so those pairs exist only through it. Docs
    # 100/101 are true duplicates via non-stop shingles (kept so the capped
    # result is non-empty — an all-empty result lets AQE prune the
    # CollectMetrics node and the Observation never materializes).
    rows = [(i, f"common shingle words unique{i} tail{i} end{i}") for i in range(30)]
    rows += [(100, "alpha beta gamma delta epsilon"), (101, "alpha beta gamma delta epsilon")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(df, threshold=0.1).collect()}
    assert len(uncapped) == 30 * 29 // 2 + 1  # jaccard 1/9 through the stop-shingle
    obs = Observation("df_cap")
    capped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, threshold=0.1, max_doc_freq=5, observation=obs).collect()
    }
    assert capped == {(100, 101)}  # stop-shingle pairs gone; real dup survives
    assert obs.get["dropped_shingles"] == 1


def test_semantic_dedup_overfull_cluster_is_observable(spark):
    """An over-full cluster is excluded from the pairwise prune, but the
    drop must be observable (dropped_clusters / dropped_vectors), not a
    silent recall collapse (ADVICE r6)."""
    import numpy as np
    from pyspark.sql import Observation

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        semantic_dedup_pairs,
    )

    rng = np.random.RandomState(11)
    # centroid 0 at id 0, centroid 1 at id 1 (n_centroids=2). Vectors
    # 2..7 hug centroid 0 (6-member cluster, over the max_cluster=4 cap);
    # 8..9 hug centroid 1 (2-member cluster, kept).
    c0 = rng.randn(8)
    c1 = -c0 + 0.01 * rng.randn(8)
    rows = [(0, [float(x) for x in c0]), (1, [float(x) for x in c1])]
    rows += [
        (i, [float(x) for x in (c0 + 0.01 * rng.randn(8))]) for i in range(2, 8)
    ]
    rows += [
        (i, [float(x) for x in (c1 + 0.01 * rng.randn(8))]) for i in (8, 9)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    obs = Observation("sem_cap")
    pairs = semantic_dedup_pairs(
        df, threshold=0.9, n_centroids=2, max_cluster=4, observation=obs
    ).collect()
    # only the small cluster's pair survives; the 7-member cluster is dropped
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 8), (1, 9), (8, 9)}
    assert obs.get["dropped_clusters"] == 1
    assert obs.get["dropped_vectors"] == 7


def test_connected_components_raises_when_unconverged(spark):
    import pytest as _pytest

    from securities_pricing_data_pipeline_spark.llmdata.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], ["id_a", "id_b"])
    verts = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, verts, id_col="doc_id", max_iter=1)
    with _pytest.warns(RuntimeWarning, match="did not converge"):
        truncated = connected_components(
            chain, verts, id_col="doc_id", max_iter=1, strict=False
        ).collect()
    assert len(truncated) == 6  # non-strict still returns (approximate) labels


def test_hll_allzero_suffix_bucket_clamps_identically(spark):
    import duckdb
    import pandas as pd

    from securities_pricing_data_pipeline_spark.llmdata.sketch import (
        hll_estimate,
        hll_oracle_sql,
    )

    # p=55 -> wbits=5: keys whose portable hash has an all-zero 5-bit suffix
    # (w == 0, rho = wbits+1) occur with prob 1/32 — find some by search so
    # the degenerate shiftleft(1, -1) branch is actually exercised
    p, wbits = 55, 5
    keys = [k for k in range(2000) if int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) >> p == 0]
    assert keys, "search window produced no all-zero-suffix key"
    df = spark.createDataFrame([(k,) for k in range(2000)], ["k"])
    srow = hll_estimate(df, F.col("k"), p=p).collect()[0]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"k": list(range(2000))}))
    ddf = con.sql(hll_oracle_sql("t", "k", p=p)).df()
    # bit parity must survive the clamp: both engines agree exactly
    # (index columns before the row — df.iloc[0] coerces mixed dtypes to float)
    assert srow.s_scaled == int(ddf["s_scaled"].iloc[0])
    assert srow.hll_estimate == float(ddf["hll_estimate"].iloc[0])


def test_connected_components_star_matches_fixpoint(spark):
    """Large-star/small-star must label identically to min-label
    propagation — checked on seeded random graphs AND the adversarial
    long chain where plain propagation needs diameter rounds."""
    import random

    from securities_pricing_data_pipeline_spark.llmdata.dedup import (
        connected_components,
        connected_components_star,
    )

    def labels(fn, edges, n_vertices, **kw):
        pairs = spark.createDataFrame(edges or [(0, 0)], ["id_a", "id_b"])
        if not edges:
            pairs = pairs.filter("id_a != id_a")
        verts = spark.createDataFrame([(i,) for i in range(n_vertices)], ["doc_id"])
        return {(r.doc_id, r.cluster_id) for r in fn(pairs, verts, id_col="doc_id", **kw).collect()}

    rnd = random.Random(4)
    for n, m in [(30, 15), (40, 60), (25, 0)]:
        edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(m)]
        assert labels(connected_components_star, edges, n) == labels(
            connected_components, edges, n, max_iter=60
        )

    # 40-long chain: diameter 40 — star converges in O(log^2) rounds
    chain = [(i, i + 1) for i in range(39)]
    got = labels(connected_components_star, chain, 40, max_iter=12)
    assert got == {(i, 0) for i in range(40)}


def test_connected_components_star_string_ids(spark):
    from securities_pricing_data_pipeline_spark.llmdata.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [("d2", "d1"), ("d3", "d2"), ("d9", "d8")], ["id_a", "id_b"]
    )
    verts = spark.createDataFrame(
        [(s,) for s in ("d1", "d2", "d3", "d8", "d9", "dX")], ["doc_id"]
    )
    got = {(r.doc_id, r.cluster_id) for r in connected_components_star(pairs, verts).collect()}
    assert got == {
        ("d1", "d1"), ("d2", "d1"), ("d3", "d1"),
        ("d8", "d8"), ("d9", "d8"), ("dX", "dX"),
    }


def test_pii_scrub_counts_and_redacts(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "contact bob@example.com or sue@corp.io today"),
            (2, "call 415-555-1234 or 212.555.9876 now"),
            (3, "no pii here at all"),
            (4, "mix: a@b.co and 650 555 0000 ok"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert (out[1].n_emails, out[1].n_phones) == (2, 0)
    assert (out[2].n_emails, out[2].n_phones) == (0, 2)
    assert (out[3].n_emails, out[3].n_phones) == (0, 0)
    assert (out[4].n_emails, out[4].n_phones) == (1, 1)
    # digest of doc 3 equals md5 of the unchanged text; doc 1's differs
    import hashlib

    assert out[3].redacted_digest == hashlib.md5(b"no pii here at all").hexdigest()
    assert out[1].redacted_digest != hashlib.md5(b"contact bob@example.com or sue@corp.io today").hexdigest()


def test_repetition_stats_flags_boilerplate(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # one token, one bigram repeated
            (2, "all tokens here are fully distinct words"),
            (3, "single"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert out[1].n_tokens == 6
    assert abs(out[1].dup_unigram_frac - 5 / 6) < 1e-12
    assert out[1].top_bigram_count == 5  # "spam spam" x5
    assert abs(out[1].top_bigram_frac - 10 / 6) < 1e-12  # overlapping coverage >1 by design
    assert out[2].dup_unigram_frac == 0.0 and out[2].top_bigram_count == 1
    assert out[3].n_tokens == 1 and out[3].top_bigram_count == 0
    assert out[3].top_bigram_frac == 0.0


def test_cms_overestimates_and_reproduces(spark):
    """Count-min property: estimate ≥ true count, and exact for keys whose
    cells see no collisions; the sketch table is deterministic."""
    from securities_pricing_data_pipeline_spark.llmdata.sketch import (
        cms_estimate_topk,
        cms_table,
    )

    rows = [(f"k{i % 7}",) for i in range(700)] + [("rare",)]
    df = spark.createDataFrame(rows, ["k"])
    est = {r.k: r for r in cms_estimate_topk(df, F.col("k"), k=8).collect()}
    assert set(est) == {f"k{i}" for i in range(7)} | {"rare"}
    for r in est.values():
        assert r.cms_est >= r.true_cnt
    # determinism: two builds of the sketch agree cell-for-cell
    t1 = {(r.i, r.bucket): r.cnt for r in cms_table(df, F.col("k")).collect()}
    t2 = {(r.i, r.bucket): r.cnt for r in cms_table(df.repartition(5), F.col("k")).collect()}
    assert t1 == t2


def test_decontaminate_flags_benchmark_overlap(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # benchmark
            (2, "alpha beta gamma zeta eta theta"),  # shares 'alpha beta gamma'
            (3, "totally different words entirely here"),  # clean
        ],
        ["doc_id", "text"],
    )
    bench = docs.filter("doc_id = 1")
    out = {r.doc_id: r for r in decontaminate(docs, bench, n=3).collect()}
    assert out[1].contaminated_frac == 1.0  # benchmark contaminates itself
    assert out[2].n_shingles == 4 and out[2].n_contaminated == 1
    assert abs(out[2].contaminated_frac - 0.25) < 1e-12
    assert out[3].n_contaminated == 0 and out[3].contaminated_frac == 0.0


def test_vocab_topk_counts_and_docfreq(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import vocab_topk

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple")],
        ["doc_id", "text"],
    )
    rows = {r.token: r for r in vocab_topk(df, k=2).collect()}
    assert set(rows) == {"apple", "banana"}  # top-2 by occurrences
    assert rows["apple"].n_occurrences == 3 and rows["apple"].n_docs == 2
    assert rows["banana"].n_occurrences == 2 and rows["banana"].n_docs == 2


def test_tfidf_ranks_rare_terms_first(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common rare common"),
            (2, "common other"),
            (3, "common other"),
        ],
        ["doc_id", "text"],
    )
    out = {(r.doc_id, r.rnk): r for r in tfidf_top_terms(df, k=2).collect()}
    # doc 1: 'rare' (df=1) must outrank 'common' (df=3) despite lower tf
    assert out[(1, 1)].term == "rare"
    assert out[(1, 2)].term == "common"
    # scaled idf is exact integer arithmetic: 10^4 * 3 docs DIV df
    assert out[(1, 1)].score_scaled == 1 * (10000 * 3 // 1)
    assert out[(1, 2)].score_scaled == 2 * (10000 * 3 // 3)


def test_filter_funnel_rules(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import filter_funnel

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over a lazy dog"),  # kept
            (2, "tiny doc"),  # too short
            (3, "supercalifragilistic antidisestablishmentarian extraordinarily incomprehensibilities pneumonoultramicroscopic"),  # long words + no stopword
            (4, "1234 5678 9012 3456 7890 !!!! ???? %%%%"),  # low alpha + no stopword
        ],
        ["doc_id", "text"],
    )
    r = filter_funnel(df).collect()[0]
    assert r.n_total == 4
    assert r.n_too_short == 1
    assert r.n_long_words == 1
    assert r.n_low_alpha == 1
    assert r.n_no_stopword == 3  # docs 2, 3, 4 all lack English stopwords
    assert r.n_kept == 1


def test_stratified_sample_rates_and_determinism(spark):
    from securities_pricing_data_pipeline_spark.llmdata.sampling import (
        stratified_sample,
    )

    rows = [(i, "en" if i % 2 == 0 else "zh") for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept = stratified_sample(df, "lang", {"en": 100, "zh": 0}, default_pct=10)
    langs = {r.lang for r in kept.collect()}
    assert langs == {"en"}  # zh fully dropped, en fully kept
    assert kept.count() == 200
    # determinism under repartition: same rows survive
    a = sorted(r.doc_id for r in kept.collect())
    b = sorted(
        r.doc_id
        for r in stratified_sample(
            df.repartition(7), "lang", {"en": 100, "zh": 0}, default_pct=10
        ).collect()
    )
    assert a == b


def test_bloom_no_false_negatives_and_determinism(spark):
    from pyspark.sql import functions as F
    from securities_pricing_data_pipeline_spark.llmdata.sketch import (
        bloom_probe_summary,
    )

    build = spark.createDataFrame([(i,) for i in range(0, 200)], ["k"])
    probes = spark.createDataFrame([(i,) for i in range(0, 400)], ["k"])
    r = bloom_probe_summary(build, F.col("k"), probes, F.col("k"), k=3, m_bits=2048).collect()[0]
    assert r.n_probes == 400
    assert r.n_present == 200
    assert r.n_maybe >= 200  # every present key must hit (no false negatives)
    assert r.n_false_positives == r.n_maybe - 200 >= 0
    # layout-independent: same summary after repartition
    r2 = bloom_probe_summary(
        build.repartition(7), F.col("k"), probes.repartition(3), F.col("k"), k=3, m_bits=2048
    ).collect()[0]
    assert r == r2


def test_pq_codes_identity_and_determinism(spark):
    from securities_pricing_data_pipeline_spark.llmdata.similarity import pq_codes

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = pq_codes(emb, dim=20, n_sub=4, n_codes=16)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == emb.count()
    # a codebook vector quantizes to itself in every subspace, error 0
    for cid in (0, 7, 15):
        assert rows[cid].pq_code == "-".join([str(cid)] * 4)
        assert rows[cid].qerr == 0.0
    # codes are 4 ids in [0, 16)
    for r in rows.values():
        parts = [int(p) for p in r.pq_code.split("-")]
        assert len(parts) == 4 and all(0 <= p < 16 for p in parts)
        assert r.qerr >= 0.0
    # layout-independent
    again = {r.vec_id: r for r in pq_codes(emb.repartition(7), dim=20, n_sub=4, n_codes=16).collect()}
    assert rows == again


def test_pq_adc_topk_semantics(spark):
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        pq_adc_topk,
        pq_assignments,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    out = pq_adc_topk(emb, queries, dim=20, n_sub=4, n_codes=16, k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        # distances non-decreasing with rank; never the query itself
        dists = [r.adc_dist for r in rs]
        assert dists == sorted(dists)
        assert all(r.neighbor_id != qid for r in rs)
        assert all(d >= 0.0 for d in dists)
    # a codebook query's nearest ADC neighbor set must contain vectors
    # assigned the same codes (distance to own codeword cell is minimal):
    # rank-1 distance for query 0 equals the min total over all neighbors,
    # recomputed independently from the assignment table
    assigned = pq_assignments(emb, dim=20, n_sub=4, n_codes=16)
    # layout-independence: repartitioned corpus gives identical results
    again = pq_adc_topk(emb.repartition(7), queries, dim=20, n_sub=4, n_codes=16, k=5)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    assert assigned.count() == emb.count() * 4


def test_chunk_documents_window_boundaries(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),   # shorter than one window
            (2, " ".join(f"w{i}" for i in range(40))),   # exactly one window
            (3, " ".join(f"w{i}" for i in range(61))),   # full, full-overlap, short tail
        ],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, width=40, stride=20)
    rows = sorted((r.doc_id, r.chunk_idx, r.n_tokens) for r in out.collect())
    assert rows == [(1, 0, 10), (2, 0, 40), (3, 0, 40), (3, 1, 40), (3, 2, 21)]
    # stride overlap: chunk 1 of doc 3 starts at token 20
    c31 = out.filter("doc_id = 3 AND chunk_idx = 1").collect()[0].chunk_text
    assert c31.startswith("w20 ") and c31.endswith(" w59")


def test_connected_components_auto_falls_back_to_star(spark):
    import pytest

    from securities_pricing_data_pipeline_spark.llmdata.dedup import (
        connected_components_auto,
    )

    # chain of diameter 30 >> prop_rounds=2: propagation can't converge,
    # auto must fall back to star and still return the exact fixpoint
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 31)], ["id_a", "id_b"])
    verts = spark.createDataFrame([(i,) for i in range(1, 33)], ["doc_id"])  # 32 isolated
    with pytest.warns(RuntimeWarning, match="falling back"):
        got = {
            (r.doc_id, r.cluster_id)
            for r in connected_components_auto(
                chain, verts, id_col="doc_id", prop_rounds=2
            ).collect()
        }
    want = {(i, 1) for i in range(1, 32)} | {(32, 32)}
    assert got == want

    # easy graph: propagation converges, no fallback, singletons intact
    pairs = spark.createDataFrame([(1, 2), (5, 6)], ["id_a", "id_b"])
    verts = spark.createDataFrame([(i,) for i in (1, 2, 5, 6, 9)], ["doc_id"])
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components_auto(pairs, verts, id_col="doc_id").collect()
    }
    assert got == {(1, 1), (2, 1), (5, 5), (6, 5), (9, 9)}


def test_dq_profile_modes_agree_on_low_cardinality(spark):
    """Sketch estimates must be exact-close on tiny cardinalities, and the
    non-distinct metrics identical between modes."""
    from securities_pricing_data_pipeline_spark.operators.quality import dq_profile

    df = spark.createDataFrame(
        [(i % 7, f"s{i % 3}", None if i % 5 == 0 else float(i)) for i in range(200)],
        ["a", "b", "c"],
    )
    exact = {(r.column, r.metric): r.value for r in dq_profile(df, ["a", "b", "c"], distinct_mode="exact").collect()}
    approx = {(r.column, r.metric): r.value for r in dq_profile(df, ["a", "b", "c"], distinct_mode="approx").collect()}
    # auto with 3 columns takes the sketch path
    auto = {(r.column, r.metric): r.value for r in dq_profile(df, ["a", "b", "c"]).collect()}
    assert auto == approx
    for key, v in exact.items():
        col, metric = key
        if metric == "distinct":
            est = int(approx[(col, "distinct_est")])
            # HLL with m=256 registers: ~6.5% standard error; tiny
            # cardinalities (3/7/160) land within a couple of counts
            assert abs(est - int(v)) <= max(3, 0.2 * int(v))
        else:
            assert approx[key] == v


def test_segment_dedup_stats_flags_cross_doc_segments(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import segment_dedup_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c x y z"),      # [a b c][x y z]
            (2, "a b c q r s"),      # [a b c][q r s] — shares one segment with doc 1
            (3, "u v w"),            # single unique (short) segment
            (4, "a b c a b c"),      # same segment twice WITHIN one doc…
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in segment_dedup_stats(docs, width=3).collect()}
    assert (rows[1].n_segments, rows[1].n_dup_segments) == (2, 1)
    assert (rows[2].n_segments, rows[2].n_dup_segments) == (2, 1)
    assert (rows[3].n_segments, rows[3].n_dup_segments) == (1, 0)
    # …which still counts as duplicated (it appears in docs 1/2 too) —
    # both occurrences are flagged
    assert (rows[4].n_segments, rows[4].n_dup_segments) == (2, 2)
    assert rows[1].dup_segment_frac == 0.5
    # doc-internal-only repetition is NOT cross-doc duplication
    solo = spark.createDataFrame([(9, "p q r p q r")], ["doc_id", "text"])
    r9 = segment_dedup_stats(solo, width=3).collect()[0]
    assert (r9.n_segments, r9.n_dup_segments) == (2, 0)


def test_shard_plan_deterministic_and_dense(spark):
    from securities_pricing_data_pipeline_spark.llmdata.sampling import shard_plan

    docs = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    out = shard_plan(docs, n_shards=4).collect()
    assert len(out) == 200
    assert {r.shard for r in out} <= set(range(4))
    # positions are dense 0..k-1 within every shard
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))
    # layout-independent: same permutation from a different partitioning
    again = shard_plan(docs.repartition(13), n_shards=4).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in again} == {
        (r.doc_id, r.shard, r.pos) for r in out
    }


def test_minhash_cross_set_pairs_only_between_sets(spark):
    from securities_pricing_data_pipeline_spark.llmdata.dedup import (
        minhash_lsh_pairs_cross,
        minhash_signatures,
        shingles,
    )

    # docs 1/2 identical, 3 near, 4 unrelated; new = {1}, old = {2,3,4}
    sig = minhash_signatures(shingles(_docs(spark)), portable=True)
    new = sig.filter(F.col("id") == 1)
    old = sig.filter(F.col("id") != 1)
    got = {(r.new_id, r.old_id): r.est_jaccard for r in minhash_lsh_pairs_cross(new, old).collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert all(k[0] == 1 for k in got)          # left side only from the new set
    assert (1, 4) not in got                    # unrelated never matches
    # empty new batch → empty result, no failure
    assert minhash_lsh_pairs_cross(sig.filter(F.col("id") < 0), old).count() == 0


def test_quantile_histogram_within_one_bucket_of_exact(spark):
    from securities_pricing_data_pipeline_spark.llmdata.sketch import (
        quantile_histogram,
        quantiles_from_histogram,
    )

    vals = [(("g"), float(i)) for i in range(1, 1001)]  # 1..1000
    df = spark.createDataFrame(vals, ["g", "v"])
    lo, hi, nb = 0.0, 1024.0, 256  # width 4.0
    hist = quantile_histogram(df, F.col("v"), ["g"], lo, hi, nb)
    row = quantiles_from_histogram(
        hist, ["g"], {"p50": 0.5, "p99": 0.99}, lo, hi, nb
    ).collect()[0]
    assert row.n_values == 1000
    assert abs(row.p50 - 500.0) <= 4.0
    assert abs(row.p99 - 990.0) <= 4.0
    # merge-by-addition: two halves' histograms summed == full histogram
    h1 = quantile_histogram(df.filter(F.col("v") <= 500), F.col("v"), ["g"], lo, hi, nb)
    h2 = quantile_histogram(df.filter(F.col("v") > 500), F.col("v"), ["g"], lo, hi, nb)
    merged = (
        h1.unionByName(h2)
        .groupBy("g", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    got = quantiles_from_histogram(merged, ["g"], {"p50": 0.5}, lo, hi, nb).collect()[0]
    assert got.p50 == row.p50 and got.n_values == 1000


def test_emb_kmeans_partitions_corpus(spark, sf_dir):
    """The registry k-means is a true partition of the corpus: cluster
    populations sum to the vector count, inertia is non-negative, the
    movement counter is bounded by the population, and two runs agree
    exactly (integer-grid arithmetic leaves nothing to float luck)."""
    from securities_pricing_data_pipeline_spark.queries.llmq import emb_kmeans

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    rows = emb_kmeans(spark, sf_dir).collect()
    assert sum(r.n_vectors for r in rows) == n
    assert len({r.cid for r in rows}) == len(rows) <= 8
    assert all(r.inertia >= 0.0 for r in rows)
    assert all(0 <= r.n_moved_in <= r.n_vectors for r in rows)
    again = emb_kmeans(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_sim_knn_classify_confusion_covers_corpus(spark, sf_dir):
    """Every eval-subset vector (vec_id % 10 == 0) gets exactly one 5-NN
    prediction, and predicted labels come from the observed label set."""
    from pyspark.sql import functions as F

    from securities_pricing_data_pipeline_spark.queries.llmq import sim_knn_classify

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.filter(F.col("vec_id") % 10 == 0).count()
    labels = {r.label for r in emb.select("label").distinct().collect()}
    cm = sim_knn_classify(spark, sf_dir).collect()
    assert sum(r.n_vectors for r in cm) == n
    assert {r.true_label for r in cm} <= labels
    assert {r.pred_label for r in cm} <= labels


def test_nearest_centroid_zero_norm_not_dropped(spark):
    """A zero-norm vector makes every float cosine NaN; the numpy
    prefilter must fall back to all-centroid candidates instead of
    emitting an empty list (which explode() would silently drop), and
    the two code paths must still agree row-for-row (ADVICE r7 item)."""
    from pyspark.sql import functions as F
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        nearest_centroid,
        norm_grid,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # zero norm — must not vanish
        (3, [0.5, 0.5, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        norm_grid(F.col("embedding")).alias("norm"),
    )
    centroids = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent_vec"),
        norm_grid(F.col("embedding")).alias("cent_norm"),
    )
    got = {r.id: r.centroid_id for r in nearest_centroid(c, centroids).collect()}
    ref = {
        r.id: r.centroid_id
        for r in nearest_centroid(c, centroids, collect_limit=0).collect()
    }
    assert set(got) == {0, 1, 2, 3}  # every id assigned, zero-norm included
    assert got == ref  # numpy prefilter path == JVM full-pass path


def test_bm25_ranking_properties(spark):
    """BM25 sanity on a hand-built corpus: higher tf wins at equal
    length; at equal tf the shorter document wins (length
    normalization); a doc without the query term never scores."""
    from securities_pricing_data_pipeline_spark.llmdata.text import bm25_topdocs

    docs = spark.createDataFrame(
        [
            (0, "spark spark spark pad pad pad"),         # tf=3, dl=6
            (1, "spark pad pad pad pad pad"),             # tf=1, dl=6
            (2, "spark pad"),                             # tf=1, dl=2 (short)
            (3, "pad pad pad pad pad pad"),               # tf=0
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.score_scaled, r.rnk) for r in bm25_topdocs(docs, ["spark"], k=10).collect()}
    assert 3 not in out                        # no query term, no row
    assert out[0][0] > out[2][0] > out[1][0]   # tf dominance, then brevity
    assert [out[d][1] for d in (0, 2, 1)] == [1, 2, 3]


def test_bpe_pair_counts_handmade(spark):
    from securities_pricing_data_pipeline_spark.llmdata.text import bpe_pair_counts

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b"), (2, "c")], "doc_id long, text string"
    )
    got = {(r.a, r.b): r.n_pairs for r in bpe_pair_counts(docs, k=10).collect()}
    # pairs: doc0 -> (a,b),(b,a),(a,b),(b,c); doc1 -> (a,b); doc2 none
    assert got == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}


def test_bpe_encode_hand_checked(spark):
    """Hand-replayed merges (th, the, er, at, or, an, st, ro in priority
    order): 'the'→[the], 'fast'→[f,a,st], 'batch'→[b,at,c,h],
    'scan'→[s,c,an], 'order'→[or,d,er], 'a'→[a] — 15 tokens, 22 chars.
    A greedy pass must pair overlapping merges from the left: 'stream'
    →[st,r,e,a,m] (the s-t merge beats e-r because r precedes e)."""
    from securities_pricing_data_pipeline_spark.llmdata.text import bpe_encode

    docs = spark.createDataFrame(
        [(0, "the fast batch scan order a"), (1, "stream")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bpe_encode(docs).collect()}
    assert (out[0].n_words, out[0].n_input_chars, out[0].n_bpe_tokens) == (6, 22, 15)
    assert out[0].first_word_encoding == "the"
    assert out[1].first_word_encoding == "st r e a m"
    assert out[1].n_bpe_tokens == 5


def test_int8_quant_error_exact(spark):
    """Hand-computed grid quantization: [1.0, -1.0, 0.5] snaps to grid
    [1e6, -1e6, 5e5] with m=1e6; codes are [127, -127, 64]; the only
    reconstruction error is the 0.5 slot: recon 503937, err -3937.
    A zero vector must quantize to all-zero codes with zero error."""
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        emb_int8_quant_error,
    )

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        emb = spark.createDataFrame(
            [(0, [1.0, -1.0, 0.5], 7), (1, [0.0, 0.0, 0.0], 8)],
            "vec_id long, embedding array<float>, label int",
        )
        emb.write.parquet(os.path.join(td, "embeddings.parquet"))
        out = {r.label: r for r in emb_int8_quant_error(spark, td).collect()}
        assert out[7].total_sse == 3937 * 3937 and out[7].total_dims == 3
        assert out[8].total_sse == 0 and out[8].n_vectors == 1


def test_two_phase_ann_paths_match_single_phase(spark, sf_dir):
    """lsh_topk / ivf_topk / embedding_near_dups each keep a numpy
    two-phase path (for the >~1M-scored-pair regime) beside the default
    single-phase JVM plan; outputs must be row-identical including
    cos_sim float equality."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        embedding_near_dups,
        ivf_topk,
        lsh_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    for fn in (lsh_topk, ivf_topk):
        a = {key(r): (r.neighbor_id, r.cos_sim) for r in fn(emb, q, k=5, two_phase=True).collect()}
        b = {key(r): (r.neighbor_id, r.cos_sim) for r in fn(emb, q, k=5, two_phase=False).collect()}
        assert a == b and len(a) > 0
    pa = {(r.id_a, r.id_b): r.cos_sim for r in embedding_near_dups(emb, two_phase=True).collect()}
    pb = {(r.id_a, r.id_b): r.cos_sim for r in embedding_near_dups(emb, two_phase=False).collect()}
    assert pa == pb


def test_two_phase_zero_norm_parity(spark):
    """r8 ADVICE: zero-norm vectors must survive the numpy prefilter as
    cos = 0.0 (the _safe_cos convention) instead of being NaN-dropped by
    the isfinite keep-mask — otherwise the two-phase outputs diverge from
    the single-phase JVM plans exactly when a zero vector exists."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        brute_force_topk,
        brute_force_topk_np,
        embedding_near_dups,
        ivf_topk,
        lsh_topk,
    )

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(64).tolist()) for i in range(30)]
    rows.append((30, [0.0] * 64))  # zero-norm corpus AND query vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 10 == 0)  # 0, 10, 20, 30
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    ref = {key(r): (r.neighbor_id, r.cos_sim) for r in brute_force_topk(emb, q, k=3).collect()}
    got = {key(r): (r.neighbor_id, r.cos_sim) for r in brute_force_topk_np(emb, q, k=3).collect()}
    assert got == ref
    assert any(qid == 30 for qid, _ in got)  # zero-norm query emits ranked rows
    assert all(c == 0.0 for qid, (n, c) in got.items() if qid[0] == 30)
    for fn in (lsh_topk, ivf_topk):
        a = {key(r): (r.neighbor_id, r.cos_sim) for r in fn(emb, q, k=3, two_phase=True).collect()}
        b = {key(r): (r.neighbor_id, r.cos_sim) for r in fn(emb, q, k=3, two_phase=False).collect()}
        assert a == b
    pa = {(r.id_a, r.id_b): r.cos_sim for r in embedding_near_dups(emb, two_phase=True).collect()}
    pb = {(r.id_a, r.id_b): r.cos_sim for r in embedding_near_dups(emb, two_phase=False).collect()}
    assert pa == pb


def test_brute_force_np_no_self_pairs_on_tiny_partitions(spark):
    """Regression: a chunk with ≤ k rows has k-th = −inf and the −inf
    self-match satisfies −inf ≥ −inf − margin — without the isfinite
    guard the query leaks through as its own candidate and ranks first.
    Force 1-row partitions to hit the path."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        brute_force_topk,
        brute_force_topk_np,
    )

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).tolist()) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(8)
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    ref = {key(r): (r.neighbor_id, r.cos_sim) for r in brute_force_topk(emb, emb, k=5).collect()}
    got = {key(r): (r.neighbor_id, r.cos_sim) for r in brute_force_topk_np(emb, emb, k=5).collect()}
    assert got == ref
    assert all(q != n for (q, _), (n, _) in got.items())


def test_poisson_bootstrap_deterministic_and_calibrated(spark):
    """The Poisson(1) draw is a pure function of (ids, replica): two runs
    give identical replica means; effective sizes cluster near n (E[w]=1)
    and every replica mean stays near the true mean on a 2000-row frame."""
    from securities_pricing_data_pipeline_spark.llmdata.sampling import (
        poisson_bootstrap_means,
    )

    df = spark.range(2000).selectExpr("id", "CAST(id % 100 AS DOUBLE) AS v")
    a = {r.replica: (r.n_eff, r.mean_value) for r in poisson_bootstrap_means(df, "v", ["id"], 8).collect()}
    b = {r.replica: (r.n_eff, r.mean_value) for r in poisson_bootstrap_means(df, "v", ["id"], 8).collect()}
    assert a == b and len(a) == 8
    for n_eff, mean in a.values():
        assert 1700 < n_eff < 2300            # E[n_eff] = 2000, sd ≈ 45
        assert abs(mean - 49.5) < 3.0         # true mean of id % 100


def test_bigram_logppl_hand_checked(spark):
    """Corpus 'a b a' + 'b a': uni a=3 b=2, V=2; bigrams (a,b):1 (b,a):2;
    nll(a,b)=−ln(2/5), nll(b,a)=−ln(3/4) — doc means check by hand."""
    import math

    import pytest

    from securities_pricing_data_pipeline_spark.llmdata.text import bigram_logppl

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b a")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_bigrams, r.avg_nll) for r in bigram_logppl(docs).collect()}
    nab = -math.log(2 / 5)
    nba = -math.log(3 / 4)
    assert got[1][0] == 2 and got[2][0] == 1
    assert got[1][1] == pytest.approx((nab + nba) / 2, abs=1e-8)
    assert got[2][1] == pytest.approx(nba, abs=1e-8)


def test_reservoir_per_stratum_permutation_invariant(spark):
    """The hash-coin reservoir must select the SAME k ids per stratum
    regardless of input row order / partition layout — the property that
    makes re-runs and engine swaps reproducible (a rand() reservoir
    fails this)."""
    from securities_pricing_data_pipeline_spark.llmdata.sampling import (
        reservoir_per_stratum,
    )

    rows = [(i, f"s{i % 3}") for i in range(90)]
    a = spark.createDataFrame(rows, "doc_id long, source string")
    b = spark.createDataFrame(list(reversed(rows)), "doc_id long, source string").repartition(7)
    sel = lambda df: {
        (r.source, r.doc_id, r.rsv_rank)
        for r in reservoir_per_stratum(df, "source", k=5).collect()
    }
    got = sel(a)
    assert got == sel(b)
    per = {}
    for s, d, r in got:
        per.setdefault(s, []).append(r)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per.values())


def test_bpe_fold_rejects_unsafe_merge_symbols(monkeypatch):
    """Merge symbols are interpolated into SQL string literals in both
    dialects; a quote or space would silently emit broken/diverging SQL
    (ADVICE r9 #3) — bpe_encode_expr must reject them at build time."""
    import pytest

    from securities_pricing_data_pipeline_spark.llmdata import text as t

    monkeypatch.setattr(t, "BPE_MERGES", [("a'", "b")])
    with pytest.raises(ValueError, match="BPE merge symbols"):
        t.bpe_encode_expr("w")
    monkeypatch.setattr(t, "BPE_MERGES", [("a", "b c")])
    with pytest.raises(ValueError, match="BPE merge symbols"):
        t.bpe_encode_expr("w")


def test_substring_duplicate_spans_hand_checked(spark):
    """Hand-built corpus: doc0/doc1 share one exact 8-gram (offset by
    doc1's leading token); doc2 repeats its own 8-gram at pos 0 and 8
    (within-doc duplication counts, as in Lee et al. — two maximal
    single-anchor spans because the run ids are non-consecutive);
    doc3/doc4 share a 10-word run = 3 consecutive duplicated anchors
    merging into one span of length 10; doc5 is all-unique noise."""
    from securities_pricing_data_pipeline_spark.llmdata.dedup import (
        substring_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h x y z"),
            (1, "q a b c d e f g h i"),
            (2, "p q r s t u v w p q r s t u v w"),
            (3, "m n o p q r s t u v"),
            (4, "z z m n o p q r s t u v"),
            (5, "one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_len, r.n_anchors)
        for r in substring_duplicate_spans(docs, k=8).collect()
    }
    assert got == {
        (0, 0, 8, 1),
        (1, 1, 8, 1),
        (2, 0, 8, 1),
        (2, 8, 8, 1),
        (3, 0, 10, 3),
        (4, 2, 10, 3),
    }


def test_bpe_train_hand_checked(spark):
    """Vocab: aa×3 → [a,a], ab×1 → [a,b], b×1 → [b]. Round 1 pairs:
    (a,a)=3, (a,b)=1 → learn (a,a). Round 2: only (a,b)=1 remains →
    learn (a,b). Round 3: every word is one token — the trainer must
    STOP early instead of emitting empty merges."""
    from securities_pricing_data_pipeline_spark.llmdata.text import bpe_train

    docs = spark.createDataFrame(
        [(0, "aa ab"), (1, "aa aa b")], "doc_id long, text string"
    )
    got = [(r.merge_round, r.a, r.b, r.n_pairs) for r in bpe_train(docs, 5).collect()]
    assert got == [(1, "a", "a", 3), (2, "a", "b", 1)]


def test_substring_cut_plan_keep_one(spark):
    """doc0 and doc1 share the 10-word run 'm..v' (doc1 offset by 2);
    doc2 repeats doc0's run again. Keep-one: doc0's occurrence is the
    corpus-wide first (min (doc_id, pos)) and SURVIVES; doc1 and doc2
    each get one merged cut interval covering the whole 10-word run
    (3 overlapping redundant anchors → one island, cut_len 10). A doc
    with a within-doc repeat cuts only the SECOND occurrence."""
    from securities_pricing_data_pipeline_spark.llmdata.dedup import (
        substring_cut_plan,
    )

    docs = spark.createDataFrame(
        [
            (0, "m n o p q r s t u v"),
            (1, "z z m n o p q r s t u v"),
            (2, "m n o p q r s t u v"),
            (3, "p q r s t u v w p q r s t u v w"),
            (4, "one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.cut_start, r.cut_len, r.n_anchors)
        for r in substring_cut_plan(docs, k=8).collect()
    }
    # doc3: its own pos-0 anchor 'p q r s t u v w' is the global first
    # (count 2: pos 0 and pos 8) -> only pos 8 is cut
    assert got == {
        (1, 2, 10, 3),
        (2, 0, 10, 3),
        (3, 8, 8, 1),
    }


def test_dsir_logratio_hand_checked(spark):
    """Two docs, one-token each, tiny bucket space via n_buckets large
    enough that the two tokens land in distinct buckets. Target slice =
    doc 0. Hand arithmetic with add-one smoothing over B=10000 buckets:
    token 'aa' (doc0, target): ct=1, nt=1, cr=1, nr=2 →
    lr = ln(2/10001) − ln(2/10002); token 'bb' (doc1): ct=0 →
    lr = ln(1/10001) − ln(2/10002). Signs: the target-slice token scores
    HIGHER than the non-target token."""
    import math

    from securities_pricing_data_pipeline_spark.llmdata.text import dsir_logratio
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(0, "aa", "en"), (1, "bb", "zh")], "doc_id long, text string, lang string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.avg_logratio)
        for r in dsir_logratio(docs, F.col("lang") == "en").collect()
    }
    exp0 = math.log(2 / 10001) - math.log(2 / 10002)
    exp1 = math.log(1 / 10001) - math.log(2 / 10002)
    assert got[0][0] == 1 and abs(got[0][1] - exp0) < 1e-8
    assert got[1][0] == 1 and abs(got[1][1] - exp1) < 1e-8
    assert got[0][1] > got[1][1]


def test_bm25_and_prf_share_one_postings_silver(spark):
    """ADVICE r9 #1 lock-in: the BM25 retrieval and PRF expansion stages
    read ONE per-session (doc, term, tf) postings silver — the second
    call must be a cache hit, not a second corpus tokenize+pin."""
    from securities_pricing_data_pipeline_spark.queries import llmq

    sf = "/root/testdata/sf0.001"
    llmq._bm25_postings.cache_clear()
    a = llmq._bm25_postings(spark, sf)
    b = llmq._bm25_postings(spark, sf)
    assert a is b  # cache hit
    llmq.text_bm25_topdocs(spark, sf).collect()
    llmq.text_prf_expansion(spark, sf).collect()
    assert llmq._bm25_postings(spark, sf) is a  # both queries reused it


def test_sq8_topk_matches_python_replay(spark):
    """sq8_topk must be bit-identical to a pure-Python integer replay of
    the same kernel — snap grid, quantize/dequantize rationals, exact
    int64 dot/norms, and the two IEEE float ops (double·double, sqrt,
    divide) in the same order — including scores and tie-breaks. Also
    pins losslessness on half-grid vectors: ±0.5/0.0 components hit
    |g| = m exactly, so the replayed reconstruction equals the grid."""
    import itertools
    import math

    from securities_pricing_data_pipeline_spark.llmdata.similarity import sq8_topk

    pats = [p for p in itertools.product([-0.5, 0.0, 0.5], repeat=4) if any(p)][:20]
    df = spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pats)],
        "vec_id long, embedding array<float>",
    )

    def grid(p):
        return [round(x * 1_000_000) for x in p]

    def recon(g):
        m = max(max(abs(a) for a in g), 1)
        out = []
        for gi in g:
            qa = (254 * abs(gi) + m) // (2 * m)
            r = (2 * qa * m + 127) // 254
            out.append(-r if gi < 0 else r)
        return out

    # half-grid losslessness: reconstruction equals the snap grid
    for p in pats:
        assert recon(grid(p)) == grid(p)

    def cos(qg, r):
        dot = sum(a * b for a, b in zip(qg, r))
        qn, rn = sum(a * a for a in qg), sum(b * b for b in r)
        if qn == 0 or rn == 0:
            return 0.0
        return float(dot) / math.sqrt(float(qn) * float(rn))

    expected = {}
    for qi in range(3):
        qg = grid(pats[qi])
        scored = sorted(
            ((-cos(qg, recon(grid(pats[ni]))), ni) for ni in range(len(pats)) if ni != qi),
        )
        for rank, (negc, ni) in enumerate(scored[:4], start=1):
            expected[(qi, rank)] = (ni, -negc)

    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sq8)
        for r in sq8_topk(df, df.filter(F.col("vec_id") < 3), k=4).collect()
    }
    assert got == expected


def test_sq8_quantization_error_bounded(spark):
    """On arbitrary vectors the SQ8 reconstruction must stay within one
    quantization half-step (+1 grid unit of integer-division slack) of
    the snap grid per dimension: |g_i − r_i| ≤ m/254 + 1."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.similarity import _SQ8_RECON

    rng = np.random.RandomState(7)
    vecs = rng.randn(32, 16).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(32)],
        "vec_id long, embedding array<float>",
    )
    g = "transform(embedding, x -> cast(round(cast(x as double) * 1000000.0) as bigint))"
    checked = (
        df.select(F.expr(g).alias("g"))
        .withColumn("m", F.expr("greatest(array_max(transform(g, a -> abs(a))), 1L)"))
        .withColumn("r", F.expr(_SQ8_RECON.format(g="g", m="m")))
        .select(
            F.expr(
                "aggregate(zip_with(g, r, (a, b) -> abs(a - b)), 0L,"
                " (acc, d) -> greatest(acc, d))"
            ).alias("max_err"),
            F.col("m"),
        )
        .collect()
    )
    for row in checked:
        assert row.max_err <= row.m / 254.0 + 1.0


def test_ks_drift_matches_bruteforce_fractions(spark):
    """ks_drift must equal an exact-Fraction Python replay of the same
    md5 split and two-sample ECDF sup on a small frame — statistic,
    argmax location (ties to the smallest value), and side counts."""
    import hashlib
    from fractions import Fraction

    from securities_pricing_data_pipeline_spark.llmdata.sampling import ks_drift

    rows = [(i, (i * 37) % 23 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")

    def is_train(doc_id: int) -> bool:
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return h % 100 < 80

    tr = sorted(v for i, v in rows if is_train(i))
    ho = sorted(v for i, v in rows if not is_train(i))
    na, nb = len(tr), len(ho)
    best = (Fraction(0), None)
    for x in sorted(set(tr + ho)):
        ca = sum(1 for v in tr if v <= x)
        cb = sum(1 for v in ho if v <= x)
        d = abs(Fraction(ca, na) - Fraction(cb, nb))
        if d > best[0]:
            best = (d, x)
    got = ks_drift(df, "n_chars").collect()[0]
    assert (got.n_train, got.n_holdout) == (na, nb)
    assert got.ks_at == best[1]
    # engine: double(dnum)/double(na·nb); Fraction→float is correctly
    # rounded — the two can differ by the division's final ulp only
    assert abs(got.ks_stat - float(best[0])) < 1e-15


def test_dim_covariance_matches_numpy_moments(spark):
    """dim_covariance must equal an exact integer-moment replay: snap to
    the 1e6 grid, population cov = (n·Σxy − Σx·Σy)/n²/1e12 and Pearson
    corr from the same moments, with the engine's exact float-op order
    (decimal→double, divide, sqrt of the double product)."""
    import math

    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.similarity import dim_covariance

    rng = np.random.RandomState(3)
    vecs = rng.randn(8, 5).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    G = [[round(float(x) * 1_000_000) for x in row] for row in vecs]
    n = len(G)
    got = {(r.i, r.j): (r.n_vectors, r.cov, r.corr) for r in dim_covariance(df).collect()}
    assert len(got) == 5 * 6 // 2
    for i in range(5):
        for j in range(i, 5):
            sxy = sum(g[i] * g[j] for g in G)
            sxi, sxj = sum(g[i] for g in G), sum(g[j] for g in G)
            sxxi = sum(g[i] * g[i] for g in G)
            sxxj = sum(g[j] * g[j] for g in G)
            num = n * sxy - sxi * sxj
            cov = float(num) / float(n * n) / 1e12
            vi = float(n * sxxi - sxi * sxi)
            vj = float(n * sxxj - sxj * sxj)
            corr = None if vi <= 0 or vj <= 0 else float(num) / math.sqrt(vi * vj)
            assert got[(i, j)][0] == n
            assert got[(i, j)][1] == cov
            assert got[(i, j)][2] == corr
    # perfectly correlated pair: duplicate dim → corr exactly 1.0
    df2 = spark.createDataFrame(
        [(i, [float(vecs[i][0]), float(vecs[i][0])]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    r01 = {(r.i, r.j): r.corr for r in dim_covariance(df2).collect()}[(0, 1)]
    assert r01 == 1.0


def test_ppl_buckets_threshold_semantics(spark, sf_dir):
    """Tertile thresholds on the snapped scores: buckets cover all scored
    docs, head/middle hold ≥ ceil(n/3) and ≥ ceil(2n/3) cumulative docs
    (ties share a bucket), and mean perplexity is monotone across
    head ≤ middle ≤ tail."""
    from securities_pricing_data_pipeline_spark.queries.llmq import text_ppl_buckets
    from securities_pricing_data_pipeline_spark.llmdata.text import bigram_logppl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_scored = bigram_logppl(docs).count()
    rows = {r.bucket: r for r in text_ppl_buckets(spark, sf_dir).collect()}
    assert set(rows) == {"head", "middle", "tail"}
    assert sum(r.n_docs for r in rows.values()) == n_scored
    assert rows["head"].n_docs * 3 >= n_scored
    assert (rows["head"].n_docs + rows["middle"].n_docs) * 3 >= 2 * n_scored
    assert rows["head"].mean_nll <= rows["middle"].mean_nll <= rows["tail"].mean_nll


def test_pca_power_top_finds_dominant_direction(spark):
    """On a spectrum with one dominant axis, 3 power iterations must align
    with numpy's top eigenvector of the same population covariance
    (|cos| > 0.99), carry a near-unit loading norm (1e-9 snap slack), and
    estimate the top eigenvalue within a few percent."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.similarity import pca_power_top

    rng = np.random.RandomState(11)
    n, d = 400, 8
    base = rng.randn(n, d) * 0.05
    base[:, 2] += rng.randn(n) * 0.8  # dominant axis on dim 2
    base = np.clip(base, -0.999999, 0.999999).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    rows = sorted(pca_power_top(df, iters=3).collect(), key=lambda r: r.i)
    v = np.array([r.loading for r in rows])
    assert abs(np.linalg.norm(v) - 1.0) < 1e-6
    G = np.round(base.astype("float64") * 1e6) / 1e6  # the engine's snap grid
    C = np.cov(G, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(C)
    top = evecs[:, -1]
    assert abs(float(v @ top)) > 0.99
    assert abs(rows[0].eigenvalue - evals[-1]) / evals[-1] < 0.05
    assert 0.0 < rows[0].explained_ratio <= 1.0


def test_events_ab_chi2_formula_and_split(spark, sf_dir):
    """The four cells must replay the md5 arm assignment and the >= 14
    purchases conversion rule exactly, and chi2 must equal the textbook
    2x2 statistic computed from those cells in the same float-op order."""
    import hashlib

    from securities_pricing_data_pipeline_spark.queries.eventsq import events_ab_chi2

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_user = {
        r.user_id: r.np
        for r in ev.groupBy("user_id")
        .agg(F.sum((F.col("event_type") == "purchase").cast("int")).alias("np"))
        .collect()
    }
    cells = [0, 0, 0, 0]  # a, b, c, d
    for uid, np_ in per_user.items():
        arm_b = int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16) % 100 % 2
        conv = 1 if np_ >= 14 else 0
        cells[2 * arm_b + (1 - conv)] += 1
    a, b, c, d = (float(x) for x in cells)
    n = a + b + c + d
    diff = (a * d) - (b * c)
    den = ((a + b) * (c + d)) * ((a + c) * (b + d))
    chi2 = 0.0 if den == 0 else (n * (diff * diff)) / den
    got = events_ab_chi2(spark, sf_dir).collect()[0]
    assert (got.conv_a, got.nonconv_a, got.conv_b, got.nonconv_b) == tuple(cells)
    assert got.chi2 == chi2
    assert got.significant == (chi2 > 3.841)


def test_binary_hamming_topk_matches_python_replay(spark):
    """binary_hamming_topk must equal a pure-Python replay: same grid
    sign test, same 32-bit word packing, same XOR-popcount Hamming and
    (hamming ASC, id ASC) tie order — including on >32-dim vectors that
    span two words."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        binary_hamming_topk,
    )

    rng = np.random.RandomState(17)
    vecs = rng.randn(25, 40).astype("float32")
    vecs[3] = 0.0  # all-zero → all-zero signature
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(25)],
        "vec_id long, embedding array<float>",
    )

    def sig(row):
        g = [round(float(x) * 1_000_000) for x in row]
        words = []
        for w in range((len(g) + 31) // 32):
            acc = 0
            for i in range(w * 32, min(w * 32 + 32, len(g))):
                if g[i] > 0:
                    acc |= 1 << (i - w * 32)
            words.append(acc)
        return words

    sigs = [sig(vecs[i]) for i in range(25)]
    expected = {}
    for qi in range(3):
        scored = sorted(
            (
                (sum(bin(a ^ b).count("1") for a, b in zip(sigs[qi], sigs[ni])), ni)
                for ni in range(25)
                if ni != qi
            )
        )
        for rank, (hm, ni) in enumerate(scored[:5], start=1):
            expected[(qi, rank)] = (ni, hm)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.hamming)
        for r in binary_hamming_topk(df, df.filter(F.col("vec_id") < 3), k=5).collect()
    }
    assert got == expected


def test_cdc_chunks_python_replay_and_shift_robustness(spark):
    """cdc_chunk_stats must equal a pure-Python replay of the boundary
    hash + slicing, and exhibit THE content-defined property: prepending
    a prefix to a document re-chunks only the neighborhood of the edit,
    so most chunk digests survive — while fixed-width windows would
    shift every boundary."""
    import hashlib

    from securities_pricing_data_pipeline_spark.llmdata.text import cdc_chunk_stats

    base = (
        "the quick brown fox jumps over the lazy dog while the spark engine "
        "shuffles partitions across executors and the oracle replays every "
        "expression on the same parquet tables for value parity " * 6
    )
    shifted = "INSERTED PREFIX >> " + base
    df = spark.createDataFrame([(1, base), (2, shifted)], ["doc_id", "text"])

    def chunks(t):
        bnd = [
            p
            for p in range(2, len(t) - 6)
            if int(hashlib.md5(t[p - 1 : p + 7].encode()).hexdigest()[:15], 16) % 64
            == 0
        ]
        starts = [1] + bnd
        out = []
        for i, s in enumerate(starts):
            e = starts[i + 1] if i + 1 < len(starts) else len(t) + 1
            out.append(t[s - 1 : e - 1])
        return out

    got = {r.doc_id: r for r in cdc_chunk_stats(df).collect()}
    ca, cb = chunks(base), chunks(shifted)
    assert got[1].n_chunks == len(ca) and got[2].n_chunks == len(cb)
    shared = set(ca) & set(cb)
    exp_dup_a = sum(1 for c in ca if c in set(cb))
    assert got[1].n_dup_chunks == exp_dup_a
    # the content-defined property: boundaries depend only on local
    # content, so past the edit the chunking re-synchronizes and most
    # DISTINCT chunk strings survive the 19-char prefix insertion
    assert len(shared) / len(set(ca)) > 0.5
    assert got[1].dup_chunk_frac == exp_dup_a / len(ca)


def test_ks_drift_fractional_grid_not_truncated(spark):
    """A fractional column must NOT be truncated to long: distinct
    scores 0.1..0.9 would all collapse to 0 under cast('long') and give
    D=0 or garbage. The 1e-6 grid snap keeps them distinct, and the
    statistic equals the exact-Fraction replay of the same split (KS is
    invariant under the monotone 1e6 scaling)."""
    import hashlib
    from fractions import Fraction

    from securities_pricing_data_pipeline_spark.llmdata.sampling import ks_drift

    rows = [(i, ((i * 37) % 23 + (i % 7)) / 10.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, score double")

    def is_train(doc_id: int) -> bool:
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return h % 100 < 80

    tr = sorted(v for i, v in rows if is_train(i))
    ho = sorted(v for i, v in rows if not is_train(i))
    na, nb = len(tr), len(ho)
    best = (Fraction(0), None)
    for x in sorted(set(tr + ho)):
        ca = sum(1 for v in tr if v <= x)
        cb = sum(1 for v in ho if v <= x)
        d = abs(Fraction(ca, na) - Fraction(cb, nb))
        if d > best[0]:
            best = (d, x)
    got = ks_drift(df, "score").collect()[0]
    assert got.n_values == len(set(tr + ho))  # distinct values survived
    assert (got.n_train, got.n_holdout) == (na, nb)
    assert got.ks_at == round(best[1] * 1e6)  # grid units for fractional input
    assert abs(got.ks_stat - float(best[0])) < 1e-15


def test_pca_power_top_rejects_zero_iters(spark):
    """iters<1 leaves norm/eigenvalue undefined — must raise ValueError
    up front, not crash inside F.broadcast(None)."""
    import pytest

    from securities_pricing_data_pipeline_spark.llmdata.similarity import pca_power_top

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="iters"):
        pca_power_top(df, iters=0)


def test_psi_drift_matches_bruteforce(spark):
    """psi_drift must equal a pure-Python replay: same md5 split, same
    50-wide bands, Laplace(+1) shares, per-band (p−q)·ln(p/q) terms, and
    the total = sum of decimal-snapped terms with the standard verdict."""
    import hashlib
    import math
    from collections import Counter
    from decimal import Decimal

    from securities_pricing_data_pipeline_spark.llmdata.sampling import psi_drift

    rows = [(i, 40 + (i * 37) % 400) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")

    def is_train(doc_id: int) -> bool:
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return h % 100 < 80

    tr = Counter(v // 50 for i, v in rows if is_train(i))
    ho = Counter(v // 50 for i, v in rows if not is_train(i))
    bands = sorted(set(tr) | set(ho))
    n_tr, n_ho, m = sum(tr.values()), sum(ho.values()), len(bands)
    terms = {}
    for b in bands:
        p = (tr[b] + 1) / (n_tr + m)
        q = (ho[b] + 1) / (n_ho + m)
        terms[b] = Decimal(repr((p - q) * math.log(p / q))).quantize(
            Decimal("1e-14")
        )
    total = float(sum(terms.values()))
    got = {r.band: r for r in psi_drift(df, "n_chars", band_width=50).collect()}
    assert sorted(got) == bands
    for b in bands:
        assert got[b].n_train == tr[b] and got[b].n_holdout == ho[b]
        assert abs(got[b].psi_term - float(terms[b])) < 1e-12
        assert abs(got[b].psi_total - total) < 1e-12
    want_level = "stable" if total < 0.1 else ("moderate" if total < 0.25 else "shifted")
    assert all(r.psi_level == want_level for r in got.values())


def test_t_closeness_matches_bruteforce(spark):
    """t_closeness_violations must equal an exact-Fraction Python replay
    of the ordered-EMD closed form (1/(m−1))·Σ|cum(p−q)| over the global
    value grid, including zero-count cells, on a frame crafted so one
    group concentrates in the top band (the classic leak k-anonymity and
    ℓ-diversity both miss)."""
    from fractions import Fraction

    from securities_pricing_data_pipeline_spark.operators.quality import (
        t_closeness_violations,
    )

    # group A: uniform over bands 0..3; group B: all in band 3
    rows = [("A", b) for b in (0, 1, 2, 3) * 6] + [("B", 3)] * 8
    df = spark.createDataFrame(rows, "grp string, band long")
    vals = sorted({b for _, b in rows})
    m, n = len(vals), len(rows)
    gcount = {v: sum(1 for _, b in rows if b == v) for v in vals}
    want = {}
    for g in ("A", "B"):
        mine = [b for gg, b in rows if gg == g]
        ng = len(mine)
        cum = Fraction(0)
        acc = Fraction(0)
        for v in vals[:-1]:
            cum += Fraction(sum(1 for b in mine if b == v), ng) - Fraction(
                gcount[v], n
            )
            acc += abs(cum)
        want[g] = float(acc / (m - 1))
    got = {
        r.grp: r
        for r in t_closeness_violations(df, ["grp"], "band", t=0.0).collect()
    }
    assert set(got) == {"A", "B"}  # t=0 emits every group with emd > 0
    for g in ("A", "B"):
        assert abs(got[g].emd - want[g]) < 1e-15
    assert got["B"].emd > got["A"].emd  # the concentrated group leaks more
    # and the threshold filter actually filters
    only_b = t_closeness_violations(df, ["grp"], "band", t=want["A"] + 1e-9).collect()
    assert [r.grp for r in only_b] == ["B"]


def test_nsw_topk_exact_on_complete_graph(spark):
    """With an explicitly COMPLETE edge set (via the ``edges=`` index
    seam) and a beam covering the whole corpus, ONE expansion round from
    two entry points (each query's own id is excluded, so one entry must
    survive the self-filter) makes NSW beam search exact: it must return
    precisely brute_force_topk's rows (same neighbors, same cos_sim,
    same ranks) — pinning the search machinery (expansion, dedup,
    monotone cut, final rank) independent of graph quality. (The
    LSH-built graph is deliberately NOT complete — candidate pairs must
    share a band — so exactness is only provable through the seam.)"""
    from pyspark.sql import functions as F

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        brute_force_topk,
        norm_grid,
        nsw_topk,
    )

    rows = [
        (i, [float(((i * 37 + d * 11) % 19) - 9) / 10.0 for d in range(8)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 3")
    c = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        norm_grid(F.col("embedding")).alias("nrm"),
    )
    complete = (
        c.select(F.col("id").alias("src"))
        .crossJoin(c.select(F.col("id").alias("dst")))
        .filter("src != dst")
    )
    exact = sorted(
        brute_force_topk(df, q, k=4).collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    got = sorted(
        nsw_topk(
            df, q, k=4, dim=8, beam=40, rounds=1, n_entry=2, edges=complete
        ).collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    assert [(r.query_id, r.neighbor_id, r.rank) for r in got] == [
        (r.query_id, r.neighbor_id, r.rank) for r in exact
    ]
    for a, b in zip(got, exact):
        assert a.cos_sim == b.cos_sim


def test_crossmodal_project_matches_numpy(spark):
    """crossmodal_project must equal the numpy circulant map computed in
    float64 on the float32-cast inputs (the cast-before-arithmetic
    parity rule)."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        crossmodal_project,
    )

    v = np.array([0.11 * i - 0.3 for i in range(8)], dtype=np.float32)
    df = spark.createDataFrame(
        [(1, [float(x) for x in v])], "vec_id long, embedding array<float>"
    )
    got = crossmodal_project(df, dim=8, w=4).collect()[0].embedding
    d = v.astype(np.float64)
    want = 4.0 * d + np.roll(d, -1)
    assert got == list(want)


def test_t_closeness_categorical_matches_bruteforce(spark):
    """Categorical TVD t-closeness must equal the exact-Fraction replay
    of ½·Σ|p_j − q_j| over the global value set — on a frame where one
    group is single-valued (the classic leak) and another mirrors the
    global mix (TVD ~ 0)."""
    from fractions import Fraction

    from securities_pricing_data_pipeline_spark.operators.quality import (
        t_closeness_violations_categorical,
    )

    rows = (
        [("A", v) for v in ("x", "y", "z") * 4]
        + [("B", "x")] * 12
        + [("C", v) for v in ("x", "y") * 3]
    )
    df = spark.createDataFrame(rows, "grp string, sens string")
    vals = sorted({v for _, v in rows})
    n = len(rows)
    gcount = {v: sum(1 for _, s in rows if s == v) for v in vals}
    want = {}
    for g in ("A", "B", "C"):
        mine = [s for gg, s in rows if gg == g]
        ng = len(mine)
        want[g] = float(
            sum(
                abs(Fraction(sum(1 for s in mine if s == v), ng) - Fraction(gcount[v], n))
                for v in vals
            )
            / 2
        )
    got = {
        r.grp: r.tvd
        for r in t_closeness_violations_categorical(df, ["grp"], "sens", t=-1.0).collect()
    }
    assert set(got) == {"A", "B", "C"}
    for g in want:
        assert abs(got[g] - want[g]) < 1e-15
    assert got["B"] > got["A"]  # single-valued group leaks most


def test_zipf_fit_matches_bruteforce(spark):
    """zipf_fit must equal a pure-Python replay: same tokenization, same
    (freq DESC, token ASC) ranking, same 1e6 ln grid, same closed-form
    least-squares slope — on a corpus with a known Zipf-ish head."""
    import math

    from collections import Counter

    from securities_pricing_data_pipeline_spark.llmdata.text import zipf_fit

    texts = [
        "the the the the cat sat on the mat",
        "the cat ran and the dog sat",
        "a dog and a cat and a bird",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    counts = Counter(w for t in texts for w in t.lower().strip().split())
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = [round(math.log(r + 1) * 1e6) for r in range(len(ranked))]
    ys = [round(math.log(f) * 1e6) for _, f in ranked]
    nv = len(ranked)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (nv * sxy - sx * sy) / (nv * sxx - sx * sx)
    got = zipf_fit(df).collect()[0]
    assert got.vocab_size == nv
    assert got.n_tokens == sum(counts.values())
    assert got.hapax_count == sum(1 for f in counts.values() if f == 1)
    assert abs(got.top1_share - max(counts.values()) / sum(counts.values())) < 1e-15
    assert abs(got.zipf_slope - slope) < 1e-12


def test_neyman_allocation_matches_bruteforce(spark):
    """neyman_allocation must equal the textbook n_h ∝ N_h·S_h with the
    exact integer radicand N·Σv² − (Σv)², DECIMAL(24,6)-snapped weights,
    and the floor allocation — including a zero-variance stratum getting
    weight (and allocation) zero."""
    import math
    from decimal import Decimal

    from securities_pricing_data_pipeline_spark.llmdata.sampling import (
        neyman_allocation,
    )

    rows = (
        [("a", v) for v in (10, 20, 30, 40)]
        + [("b", v) for v in (5, 5, 5)]       # zero variance
        + [("c", v) for v in (1, 100, 1, 100)]
    )
    df = spark.createDataFrame(rows, "src string, v long")
    want = {}
    for g in ("a", "b", "c"):
        vals = [v for s, v in rows if s == g]
        n = len(vals)
        rad = n * sum(v * v for v in vals) - sum(vals) ** 2
        want[g] = (n, Decimal(repr(math.sqrt(rad))).quantize(Decimal("1e-6")))
    wsum = sum(w for _, w in want.values())
    got = {r.src: r for r in neyman_allocation(df, ["src"], "v", n_total=100).collect()}
    for g, (n, w) in want.items():
        assert got[g].n_rows == n
        assert abs(got[g].neyman_weight - float(w)) < 1e-12
        assert got[g].alloc_n == math.floor(100.0 * (float(w) / float(wsum)))
    assert got["b"].alloc_n == 0 and got["b"].neyman_weight == 0.0


def test_heaps_growth_matches_bruteforce(spark):
    """heaps_growth must equal a pure-Python replay: ntile slices in id
    order, cumulative tokens/vocab by first occurrence, and the grid
    least-squares β over the growth points."""
    import math

    from securities_pricing_data_pipeline_spark.llmdata.text import heaps_growth

    texts = [(i, f"w{i % 7} w{i % 3} common word{i // 4} x") for i in range(20)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    buckets = 5
    # ntile over 20 rows → 4 docs per slice, in doc_id order
    slices = {i: (i // 4) + 1 for i in range(20)}
    seen: set = set()
    toks_cum = 0
    pts = []
    per = {}
    for s in range(1, buckets + 1):
        docs = [t for i, t in texts if slices[i] == s]
        words = [w for t in docs for w in t.lower().strip().split()]
        toks_cum += len(words)
        for w in words:
            seen.add(w)
        per[s] = (len(docs), toks_cum, len(seen))
        pts.append((round(math.log(toks_cum) * 1e6), round(math.log(len(seen)) * 1e6)))
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    got = {r.slice_id: r for r in heaps_growth(df, buckets=buckets).collect()}
    assert sorted(got) == list(range(1, buckets + 1))
    for s, (ndocs, tc, vc) in per.items():
        assert (got[s].n_docs, got[s].tokens_cum, got[s].vocab_cum) == (ndocs, tc, vc)
        assert abs(got[s].heaps_beta - beta) < 1e-12


def test_rank_agreement_rbo_matches_bruteforce(spark):
    """rank_agreement_rbo must equal the exact-Fraction truncated RBO on
    hand-built rankings: identical lists score 1.0, disjoint lists 0.0,
    and a known partial overlap matches Σ_d (1−p)p^(d−1)·ov_d/d up to
    the one normalization division."""
    from fractions import Fraction

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        rank_agreement_rbo,
    )

    a_rows = [(q, n, r) for q in (0, 1, 2) for r, n in enumerate(
        {0: [10, 11, 12, 13, 14], 1: [20, 21, 22, 23, 24], 2: [30, 31, 32, 33, 34]}[q],
        start=1)]
    b_lists = {0: [10, 11, 12, 13, 14],      # identical → 1.0
               1: [90, 91, 92, 93, 94],      # disjoint → 0.0
               2: [31, 30, 32, 99, 98]}      # partial/reordered
    b_rows = [(q, n, r) for q, lst in b_lists.items() for r, n in enumerate(lst, start=1)]
    schema = "query_id long, neighbor_id long, rank int"
    a = spark.createDataFrame(a_rows, schema)
    b = spark.createDataFrame(b_rows, schema)
    p = Fraction(9, 10)
    k = 5

    def rbo_exact(la, lb):
        raw = sum(
            (1 - p) * p ** (d - 1) * Fraction(len(set(la[:d]) & set(lb[:d])), d)
            for d in range(1, k + 1)
        )
        return raw  # normalizer applied below in float, like the engine

    full = 1 - p ** k
    got = {r.query_id: r for r in rank_agreement_rbo(a, b, k=5, p=0.9).collect()}
    assert got[0].rbo == 1.0 and got[0].n_common == 5
    assert got[1].rbo == 0.0 and got[1].n_common == 0
    la = [10, 11, 12, 13, 14]
    want2 = float(rbo_exact([30, 31, 32, 33, 34], b_lists[2])) / float(full)
    assert abs(got[2].rbo - want2) < 1e-12 and got[2].n_common == 3
    mean = (got[0].rbo + got[1].rbo + got[2].rbo) / 3
    assert abs(got[0].mean_rbo - mean) < 1e-12


def test_gopher_rules_flags_each_rule(spark):
    """Each Gopher rule must fire on a crafted violator and pass on a
    clean doc — exercising every integer cross-multiplied threshold."""
    from securities_pricing_data_pipeline_spark.llmdata.text import gopher_rules

    clean = "the cat and the dog have that be to of with " + " ".join(
        f"word{i} and the" for i in range(20)
    )
    docs = [
        (0, clean),                                     # passes everything
        (1, "short text the and"),                      # word count < 50
        (2, " ".join(["a"] * 60) + " the and"),         # mean word len < 3
        (3, " ".join([f"w{i}###" for i in range(60)]) + " the and"),  # symbols
        (4, " ".join(["123456"] * 60) + " the and"),    # alpha < 80%
        (5, " ".join(f"word{i}" for i in range(60))),   # no stopwords
        (6, "\n".join(f"- item{i} the and of" for i in range(20))),  # bullets
        (7, "\n".join(f"line{i} the and of..." for i in range(20))), # ellipsis
    ]
    got = {r.doc_id: r for r in gopher_rules(
        spark.createDataFrame(docs, "doc_id long, text string")).collect()}
    assert got[0].gopher_pass
    assert not got[1].ok_word_count
    assert not got[2].ok_mean_word_len
    assert not got[3].ok_symbol_ratio
    assert not got[4].ok_alpha_words
    assert not got[5].ok_stopwords
    assert not got[6].ok_bullet_lines and not got[6].gopher_pass
    assert not got[7].ok_ellipsis_lines


def test_doremi_mix_matches_bruteforce(spark):
    """doremi_mix must equal a pure-Python replay: corpus-trained unigram
    NLL (decimal-snapped per token), token-weighted per-domain mean,
    excess over the easiest domain, exp(η·excess) snapped, exact
    normalization — and the hardest domain must gain weight."""
    import math
    from collections import Counter
    from decimal import Decimal

    from securities_pricing_data_pipeline_spark.llmdata.sampling import doremi_mix

    rows = [
        (0, "easy", "common common common word"),
        (1, "easy", "common common word word"),
        (2, "hard", "rare1 rare2 rare3 common"),
        (3, "hard", "rare4 rare5 rare6 rare7"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    toks = [(s, w) for _, s, t in rows for w in t.lower().strip().split()]
    vocab = Counter(w for _, w in toks)
    n_total = len(toks)
    want = {}
    for d in ("easy", "hard"):
        mine = [w for s, w in toks if s == d]
        nlls = [
            Decimal(repr(-math.log(vocab[w] / n_total))).quantize(Decimal("1e-12"))
            for w in mine
        ]
        mean = float(
            Decimal(repr(float(sum(nlls)) / len(mine))).quantize(Decimal("1e-9"))
        )
        want[d] = (len(mine), mean)
    mn = min(m for _, m in want.values())
    terms = {
        d: Decimal(repr(math.exp(1.0 * (m - mn)))).quantize(Decimal("1e-12"))
        for d, (_, m) in want.items()
    }
    z = sum(terms.values())
    got = {r.source: r for r in doremi_mix(df).collect()}
    for d, (ntok, mean) in want.items():
        assert got[d].n_tokens == ntok
        assert abs(got[d].mean_nll - mean) < 1e-12
        assert abs(got[d].new_weight - float(terms[d]) / float(z)) < 1e-12
    assert got["hard"].new_weight > got["easy"].new_weight


def test_langid_ngram_separable_profiles_and_prior_fallback(spark):
    """On a corpus whose languages use DISJOINT trigram inventories the
    classifier must recover every label (profiles trained on the corpus
    itself make the likelihood gap decisive), and a document shorter
    than n=3 chars must fall back to the PRIOR argmax — the majority
    language — with ties broken by language code ascending."""
    from securities_pricing_data_pipeline_spark.llmdata.text import langid_ngram

    rows = [
        # 'aa' language: 4 docs (majority → prior winner for short docs)
        (1, "aaaaaa aaaaaa", "aa"),
        (2, "aaaaaa aaaaaa aaaaaa", "aa"),
        (3, "aaaaaa", "aa"),
        (4, "xy", "aa"),  # < 3 chars → prior-only
        # 'bb' language: 3 docs, disjoint grams
        (5, "bbbbbb bbbbbb", "bb"),
        (6, "bbbbbb bbbbbb bbbbbb", "bb"),
        (7, "bbbbbb", "bb"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r for r in langid_ngram(df).collect()}
    assert len(got) == 7
    for did in (1, 2, 3):
        assert got[did].pred_lang == "aa" and got[did].is_match
    for did in (5, 6, 7):
        assert got[did].pred_lang == "bb" and got[did].is_match
    # short doc: no grams → score = prior only → majority lang 'aa'
    assert got[4].pred_lang == "aa"
    # one row per document, scores are finite reals
    import math

    assert all(math.isfinite(r.log_score) for r in got.values())


def test_semantic_decontam_flags_best_match_within_cluster(spark):
    """With two well-separated clusters (anchor centroids 0 and 1), a
    train item near a benchmark item in ITS cluster must be flagged with
    that benchmark id and the exact cosine; a train item whose nearest
    benchmark lives in the OTHER cluster must NOT be flagged (the
    documented SemDeDup miss model); and per train item only the BEST
    benchmark match row is emitted."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        cosine,
        semantic_decontam,
    )
    from pyspark.sql import functions as F

    # cluster A points along +x, cluster B along +y (8-dim)
    def vec(axis, eps, scale=1.0):
        v = [0.0] * 8
        v[axis] = 1.0 * scale
        v[(axis + 2) % 8] = eps
        return v

    rows = [
        (0, vec(0, 0.0)),       # centroid/anchor A (train)
        (1, vec(1, 0.0)),       # centroid/anchor B (train)
        (10, vec(0, 0.05)),     # train, cluster A — near bench 100
        (11, vec(0, 0.9)),      # train, cluster A — far from bench 100
        (12, vec(1, 0.05)),     # train, cluster B — near bench 101
        (100, vec(0, 0.02)),    # bench, cluster A
        (101, vec(1, 0.02)),    # bench, cluster B
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    train = df.filter("vec_id < 100")
    bench = df.filter("vec_id >= 100")
    got = {
        r.vec_id: r
        for r in semantic_decontam(
            train, bench, threshold=0.9, n_centroids=2, id_col="vec_id"
        ).collect()
    }
    # 0 and 10 are near bench 100; 1 and 12 near bench 101; 11's cosine
    # to bench 100 is 1/sqrt(1.81)·... < 0.9 → unflagged
    assert set(got) == {0, 1, 10, 12}
    assert got[10].bench_id == 100 and got[12].bench_id == 101
    # emitted cosine equals the exact grid cosine computed directly
    direct = (
        train.filter("vec_id = 10")
        .crossJoin(
            bench.filter("vec_id = 100").select(F.col("embedding").alias("b"))
        )
        .select(cosine(F.col("embedding"), F.col("b")).alias("c"))
        .collect()[0]
        .c
    )
    assert got[10].cos_sim == direct


def test_hnsw_topk_exact_on_complete_graphs(spark):
    """With COMPLETE edge sets on BOTH layers (via the index seams),
    layer_mod=1 (every node in the upper layer) and beams covering the
    whole corpus, hierarchical search must return exactly
    brute_force_topk's rows — pinning the descent machinery (upper-layer
    seed, layer hand-off, expansion, monotone cut, final rank)
    independent of graph quality, the same seam contract as
    test_nsw_topk_exact_on_complete_graph."""
    from pyspark.sql import functions as F

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        brute_force_topk,
        hnsw_topk,
    )

    rows = [
        (i, [float(((i * 29 + d * 13) % 17) - 8) / 10.0 for d in range(8)])
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 3")
    ids = df.select(F.col("vec_id").alias("src"))
    complete = ids.crossJoin(
        df.select(F.col("vec_id").alias("dst"))
    ).filter("src != dst")
    exact = sorted(
        brute_force_topk(df, q, k=4).collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    got = sorted(
        hnsw_topk(
            df, q, k=4, dim=8, layer_mod=1, n_entry_top=2,
            beam_top=30, rounds_top=1, beam=30, rounds=1,
            edges=complete, edges_top=complete,
        ).collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    assert [(r.query_id, r.neighbor_id, r.rank) for r in got] == [
        (r.query_id, r.neighbor_id, r.rank) for r in exact
    ]
    for a, b in zip(got, exact):
        assert a.cos_sim == b.cos_sim


def test_hnsw_topk_raises_on_empty_upper_layer(spark):
    """A corpus none of whose hashed ids hit 0 mod layer_mod must raise
    (the nsw dense-id lesson: silent empties are engine bugs)."""
    import pytest

    from securities_pricing_data_pipeline_spark.llmdata.dedup import portable_hash60
    from securities_pricing_data_pipeline_spark.llmdata.similarity import hnsw_topk
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 0.5, 0.25]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    # find a modulus with no member among these ids (huge mod: every
    # hash is nonzero mod it with overwhelming probability)
    big_mod = 10**15 + 37
    members = df.filter(
        portable_hash60(F.col("vec_id").cast("string")) % big_mod == 0
    ).count()
    assert members == 0
    with pytest.raises(ValueError, match="empty upper layer"):
        hnsw_topk(df, df.filter("vec_id < 2"), k=2, dim=4, layer_mod=big_mod)


def test_ivf_nprobe_sweep_monotone_with_exactness_anchor(spark):
    """The tuning curve must be non-decreasing in nprobe, and the
    nprobe = n_centroids row probes every inverted list — a full scan —
    so its recall is 1.0 BY CONSTRUCTION (the sweep's built-in
    exactness anchor; an anchor below 1.0 means the index or the audit
    broke, not the parameter)."""
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        sim_ivf_nprobe_sweep,
    )

    rows = sorted(
        sim_ivf_nprobe_sweep(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 4, 8, 16]
    recalls = [r.recall_at_k for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(recalls, recalls[1:]))
    assert recalls[-1] == 1.0


def test_crossmodal_hard_negatives_properties(spark):
    """Mined triples must satisfy the contract: one row per query, the
    hard negative is never the positive, cos values are exact grid
    cosines from the retrieval, and margin == cos_pos − cos_neg."""
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        sim_crossmodal_hard_negatives,
    )

    rows = sim_crossmodal_hard_negatives(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) > 0
    assert len({r.query_id for r in rows}) == len(rows)
    for r in rows:
        assert r.hard_negative_id != r.positive_id
        assert r.positive_id == r.query_id - 10_000_000
        assert r.margin == r.cos_pos - r.cos_neg


def test_dedup_threshold_sweep_monotone(spark):
    """Raising the threshold can only shrink the pair set: n_pairs and
    n_docs_affected must be non-increasing in threshold, and the 0.5 row
    must equal the pinned pair silver's full size (the sweep filters the
    loosest table, it never re-pairs)."""
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        _lsh_pairs,
        dedup_threshold_sweep,
    )

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        dedup_threshold_sweep(spark, sf).collect(), key=lambda r: r.threshold
    )
    assert [r.threshold for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    pairs = [r.n_pairs for r in rows]
    docs = [r.n_docs_affected for r in rows]
    assert all(a >= b for a, b in zip(pairs, pairs[1:]))
    assert all(a >= b for a, b in zip(docs, docs[1:]))
    assert pairs[0] == _lsh_pairs(spark, sf).count()


def test_shortcut_edges_exponential_ring(spark):
    """shortcut_edges over NON-dense ids must wire id-rank r to ranks
    (r ± 2^j) mod N for every 2^j < N — verified against the closed
    form on a 5-node corpus (offsets 1, 2, 4), including the symmetric
    reverses. Non-dense ids pin the rank-not-id contract (the upper
    HNSW layer is a hash-selected subset)."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        shortcut_edges,
    )

    ids = [3, 7, 10, 20, 21]  # ranks 0..4
    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in ids], "vec_id long, embedding array<double>"
    )
    got = {(r.src, r.dst) for r in shortcut_edges(df).collect()}
    fwd = {
        (ids[r], ids[(r + (1 << j)) % 5])
        for r in range(5)
        for j in range(3)  # 1, 2, 4 < 5
    }
    want = fwd | {(b, a) for a, b in fwd}
    assert got == want
    assert all(s != d for s, d in got)  # ring never self-loops


def test_shortcut_edges_make_graph_strongly_connected(spark):
    """BFS over the shortcut ring alone must reach every node from any
    start — the navigability property the r13 fix adds (an LSH-built
    graph decomposes into angular clusters; the ring guarantees an
    O(log n)-hop path between any two nodes regardless of geometry)."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        shortcut_edges,
    )

    n = 37  # prime, not a power of two: exercises the mod wraparound
    df = spark.createDataFrame(
        [(i * 3 + 1, [1.0, 0.0]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    adj = {}
    for r in shortcut_edges(df).collect():
        adj.setdefault(r.src, set()).add(r.dst)
    seen, todo = {1}, [1]
    while todo:
        for d in adj.get(todo.pop(), ()):
            if d not in seen:
                seen.add(d)
                todo.append(d)
    assert len(seen) == n


def test_shortcut_edges_dense_path_identical_and_joinless(spark):
    """r14 100-TB rank path: on contiguous-integral ids the dense path
    (pure map-side arithmetic) must emit exactly the ranked path's
    (src, dst) multiset, the default must PICK it, and its plan must
    contain no Window/Join/Exchange — the whole point of the fast
    path. Non-zero base (ids 10..41) pins the id−min rank, not id."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        shortcut_edges,
    )

    df = spark.createDataFrame(
        [(i + 10, [1.0, 0.0]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    dense = sorted(
        (r.src, r.dst)
        for r in shortcut_edges(df, force_path="dense").collect()
    )
    ranked = sorted(
        (r.src, r.dst)
        for r in shortcut_edges(df, force_path="ranked").collect()
    )
    default = sorted((r.src, r.dst) for r in shortcut_edges(df).collect())
    assert dense == ranked == default
    assert len(dense) == 2 * 32 * 5  # 2^j < 32 ⇒ j ∈ 0..4, both directions
    plan = shortcut_edges(df)._jdf.queryExecution().executedPlan().toString()
    for op in ("Window", "Join", "Exchange"):
        assert op not in plan, f"dense ring plan must be map-side, saw {op}"


def test_shortcut_edges_ranked_buckets_and_shuffle_join_identical(spark):
    """The range-partitioned rank must equal the single-bucket (legacy
    global-window) rank for any bucket count, and the above-threshold
    plain shuffled dst join must equal the broadcast one — the two
    r14 scale escapes, proven output-identical on sparse skewed ids."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        shortcut_edges,
    )

    ids = [3, 7, 10, 20, 21, 500, 501, 502, 900, 10_000, 10_001]
    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in ids], "vec_id long, embedding array<double>"
    )

    def ring(**kw):
        return sorted(
            (r.src, r.dst)
            for r in shortcut_edges(df, force_path="ranked", **kw).collect()
        )

    legacy = ring(rank_buckets=1)
    assert ring(rank_buckets=4) == legacy
    assert ring(rank_buckets=64) == legacy  # more buckets than ids
    assert ring(rank_buckets=4, broadcast_threshold=0) == legacy  # shuffle dst
    plan = shortcut_edges(
        df, force_path="ranked", broadcast_threshold=0
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_shortcut_edges_guards(spark):
    """Degenerate inputs: 0- and 1-row corpora return an EMPTY typed
    frame (a ring needs ≥2 nodes) instead of raising on int(None);
    force_path='dense' on non-contiguous ids raises."""
    import pytest as _pytest

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        shortcut_edges,
    )

    schema = "vec_id long, embedding array<double>"
    for rows in ([], [(7, [1.0])]):
        out = shortcut_edges(spark.createDataFrame(rows, schema))
        assert out.columns == ["src", "dst"]
        assert out.count() == 0
    sparse = spark.createDataFrame([(1, [1.0]), (9, [1.0])], schema)
    with _pytest.raises(ValueError, match="contiguous"):
        shortcut_edges(sparse, force_path="dense")


def test_round_half_away_np_boundary_parity():
    """ADVICE r12: sign·floor(|x|+0.5) mis-rounds doubles whose
    fractional part is the largest double below 0.5 (|x|+0.5 ties
    upward across the integer). The guarded kernel must match DuckDB's
    round() (HALF_UP on the exact binary value) on exactly those
    boundary values, both signs, plus exact .5 ties."""
    import duckdb
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        _round_half_away_np,
    )

    xs = [
        0.49999999999999994,  # 0.5 - 2^-54: naive trick yields 1, truth 0
        -0.49999999999999994,
        1.4999999999999998,
        -1.4999999999999998,
        0.5,
        -0.5,
        2.5,
        -2.5,
        3.0000000000000004,
        123456789.49999999,
    ]
    got = _round_half_away_np(np.array(xs, dtype=np.float64))
    # string→double cast (strtod) delivers the exact same double Python
    # holds; a bare 123456789.49999999 literal parses as DECIMAL(17,8)
    # whose >2^53 mantissa silently snaps to ....5 before the cast
    want = [
        duckdb.sql(f"SELECT round(CAST('{x!r}' AS DOUBLE))").fetchone()[0]
        for x in xs
    ]
    assert got.tolist() == [float(w) for w in want]
    # and the naive trick really is wrong on the canonical case —
    # otherwise this test guards nothing
    naive = np.sign(xs[0]) * np.floor(np.abs(xs[0]) + 0.5)
    assert naive == 1.0 and got[0] == 0.0


def test_nsw_build_edges_dropped_bucket_accumulator(spark):
    """ADVICE r12: the max_bucket degenerate-band cap must be
    OBSERVABLE, not silent. A corpus of identical vectors lands every
    node in the same bucket in all 4 bands → all 4 buckets exceed the
    cap → the accumulator records 4 drops and the LSH half emits no
    edges; on the real bench embeddings the cap must never fire (the
    oracle enumerates pairs uncapped, so a silent drop would be an
    undiagnosable parity break)."""
    from pyspark.sql import functions as F

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        nsw_build_edges,
    )

    acc2 = spark.sparkContext.accumulator(0)
    big = spark.range(2100).select(
        F.col("id").alias("vec_id"),
        F.expr("array(1.0d, 0.5d, 0.25d, 0.125d)").alias("embedding"),
    )
    e2 = nsw_build_edges(big, dim=4, dropped_bucket_acc=acc2)
    assert e2.count() == 0  # every bucket degenerate → no LSH edges
    assert acc2.value == 4  # one drop per band

    # bench corpus: cap never fires (oracle-parity precondition)
    acc3 = spark.sparkContext.accumulator(0)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    nsw_build_edges(emb, dropped_bucket_acc=acc3).count()
    assert acc3.value == 0


def test_emb_semantic_outliers_matches_numpy_replay(spark):
    """Brute-force replay (VERDICT r12 hygiene): recompute the outlier
    report directly in numpy — grid-exact cosine of every vector to all
    16 centroids, argmax with (cos DESC, centroid_id ASC) ties, then
    per-cluster bottom-3 by (cos ASC, vec_id ASC) — and require the
    query's rows to match exactly, scores included."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        _round_half_away_np,
    )
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        emb_semantic_outliers,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    C, cids = V[ids < 16], ids[ids < 16]

    def grid_dot(A, B):  # Σ round(aᵢ·bᵢ·1e13), exact in float64 < 2^53
        return np.stack(
            [_round_half_away_np(A * B[j] * 1e13).sum(axis=1) for j in range(len(B))],
            axis=1,
        )

    dots = grid_dot(V, C)
    nv = np.stack([_round_half_away_np(V * V * 1e13).sum(axis=1)] * len(C), axis=1)
    nc = np.stack([_round_half_away_np(C * C * 1e13).sum(axis=1)] * len(V), axis=0)
    cos = dots / np.sqrt(nv * nc)
    # argmax with centroid_id ASC ties: stable argmax over cids-sorted cols
    best = np.argmax(cos, axis=1)  # np.argmax returns FIRST max = min index
    want = {}
    for ci in range(len(C)):
        members = [
            (cos[i, ci], int(ids[i]))
            for i in range(len(ids))
            if best[i] == ci
        ]
        for rank, (s, vid) in enumerate(sorted(members)[:3], start=1):
            want[(int(cids[ci]), vid)] = (rank, s)

    got = emb_semantic_outliers(spark, sf).collect()
    assert len(got) == len(want)
    for r in got:
        rank, s = want[(r.centroid_id, r.vec_id)]
        assert r.outlier_rank == rank
        assert r.cos_to_centroid == s


def test_text_langid_skewed_eval_discriminates(spark):
    """On the language-skewed derived view (labels drive the token
    stream via marker trigrams) the trained NB classifier must reach
    accuracy ≥ 0.9 with a diagonal-dominant confusion matrix — the
    discrimination reading the label-independent corpus can never give
    (VERDICT r12 #6: done = eval accuracy ≥ 0.9 on the derived view)."""
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        text_langid_skewed_eval,
    )

    rows = text_langid_skewed_eval(spark, "/root/testdata/sf0.001").collect()
    assert rows[0].accuracy >= 0.9
    diag = sum(r.n_docs for r in rows if r.lang == r.pred_lang)
    off = sum(r.n_docs for r in rows if r.lang != r.pred_lang)
    assert diag > 9 * off


def test_sample_uncertainty_margin_queue_properties(spark):
    """The labeling queue must be sound: margins non-negative and
    non-decreasing down the queue, tentative label ≠ runner-up, queue
    drawn only from the unlabeled pool slice, and every margin must
    equal the replayed top1−top2 vote gap of the item's exact 5-NN
    against the labeled remainder (numpy replay on the grid cosine)."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        _round_half_away_np,
    )
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        sample_uncertainty_margin,
    )

    sf = "/root/testdata/sf0.001"
    rows = sample_uncertainty_margin(spark, sf).collect()
    assert rows, "queue must not be empty"
    margins = [r.margin for r in rows]
    assert margins == sorted(margins)
    for r in rows:
        assert r.margin >= 0
        assert r.vec_id % 7 == 3
        if r.runner_up_label is not None:
            assert r.pred_label != r.runner_up_label

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    ids = np.array([e.vec_id for e in emb], dtype=np.int64)
    V = np.array([e.embedding for e in emb], dtype=np.float64)
    labels = {int(e.vec_id): e.label for e in emb}
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    pool, train = ids % 7 == 3, ids % 7 != 3
    for r in rows[:5]:
        qi = np.flatnonzero(ids == r.vec_id)[0]
        dots = np.array(
            [
                _round_half_away_np(V[qi] * V[j] * 1e13).sum()
                for j in np.flatnonzero(train)
            ]
        )
        nq = _round_half_away_np(V[qi] * V[qi] * 1e13).sum()
        nn = np.array(
            [
                _round_half_away_np(V[j] * V[j] * 1e13).sum()
                for j in np.flatnonzero(train)
            ]
        )
        cos = dots / np.sqrt(nq * nn)
        tids = ids[train]
        top5 = sorted(zip(-cos, tids))[:5]
        votes: dict = {}
        for _, tid in top5:
            lb = labels[int(tid)]
            votes[lb] = votes.get(lb, 0) + 1
        vs = sorted(votes.values(), reverse=True)
        assert r.margin == vs[0] - (vs[1] if len(vs) > 1 else 0)


def test_nsw_build_edges_incremental_wires_every_cohort(spark):
    """Every node outside cohort 0 must end up with at least one edge
    (it was wired by searching the graph-so-far), the edge set must be
    symmetric on the wired pairs, and with generous beam/rounds on an
    easy corpus the incremental graph must let fixed-entry search
    recover brute-force top-1 for most queries."""
    from pyspark.sql import functions as F

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        brute_force_topk,
        nsw_build_edges_incremental,
        nsw_topk,
    )

    rows = [
        (i, [float(((i * 37 + d * 11) % 23) - 11) / 11.0 for d in range(8)])
        for i in range(48)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    edges = nsw_build_edges_incremental(
        df, dim=8, n_cohorts=4, beam=12, rounds=2, n_entry=8, m_neighbors=6
    )
    e = [(r.src, r.dst) for r in edges.collect()]
    eset = set(e)
    touched = {s for s, _ in e} | {d for _, d in e}
    assert touched >= set(range(12, 48))  # every inserted node has an edge
    wired = {(s, d) for s, d in e if s >= 12 or d >= 12}
    assert all((d, s) in eset for s, d in wired)  # symmetrized
    q = df.filter("vec_id >= 24")
    got = nsw_topk(
        df, q, k=1, dim=8, beam=12, rounds=3, n_entry=8,
        edges=edges.localCheckpoint(eager=True),
    ).collect()
    truth = {
        r.query_id: r.neighbor_id
        for r in brute_force_topk(df, q, k=1).collect()
    }
    hits = sum(1 for r in got if truth.get(r.query_id) == r.neighbor_id)
    assert hits >= len(truth) * 0.5


def test_dedup_lsh_scurve_theory_and_mass(spark):
    """The design table must carry the right theory: P(s) strictly
    increasing in s, the knee value P(0.5) = 1 − (1 − 0.5⁴)¹⁶ exactly,
    endpoints near 0 and ~0.92, and the empirical candidate mass must
    total the threshold-0 banded pair count with every est-Jaccard bin
    at or above the 4-matching-rows floor (a shared band forces
    est ≥ 4/64, so bins below 0.05 cannot occur — bin k≥1 always)."""
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        _portable_sigs,
        dedup_lsh_scurve,
    )
    from securities_pricing_data_pipeline_spark.llmdata.dedup import (
        minhash_lsh_pairs,
    )
    from securities_pricing_data_pipeline_spark.queries.helpers import load

    sf = "/root/testdata/sf0.001"
    rows = sorted(dedup_lsh_scurve(spark, sf).collect(), key=lambda r: r.s)
    assert len(rows) == 19
    ps = [r.p_detect for r in rows]
    assert all(a < b for a, b in zip(ps, ps[1:]))
    knee = [r for r in rows if r.s == 0.5][0]
    assert knee.p_detect == 1.0 - (1.0 - 0.5 * 0.5 * 0.5 * 0.5) ** 16
    assert ps[0] < 1e-4 and 0.9 < ps[-1] < 1.0
    total = sum(r.n_candidate_pairs for r in rows)
    cand = minhash_lsh_pairs(
        load(spark, sf, "documents"), n=3, threshold=0.0, portable=True,
        signatures=_portable_sigs(spark, sf),
    )
    assert total == cand.count()
    assert all(r.n_candidate_pairs == 0 for r in rows if r.s < 0.05)


def test_shortcut_edges_matches_duckdb_ring_replay(spark):
    """Cross-engine twin of the ring construction itself: the DuckDB
    rank-ring SQL embedded in the HNSW oracle must produce exactly the
    same (src, dst) multiset as shortcut_edges on a sparse id set —
    isolating ring-replay bugs from the full beam-search oracle."""
    import duckdb

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        shortcut_edges,
    )

    ids = [5, 9, 14, 17, 23, 100, 101, 999]
    df = spark.createDataFrame(
        [(i, [0.5, 1.0]) for i in ids], "vec_id long, embedding array<double>"
    )
    got = sorted((r.src, r.dst) for r in shortcut_edges(df).collect())
    vals = ", ".join(f"({i})" for i in ids)
    want = sorted(
        (int(a), int(b))
        for a, b in duckdb.sql(f"""
WITH ids(vec_id) AS (VALUES {vals}),
rk AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS r,
         COUNT(*) OVER () AS m
  FROM ids
), sc0 AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM rk a
  CROSS JOIN range(0, 40) t(j)
  JOIN rk b
    ON (CAST(1 AS BIGINT) << t.j) < a.m
   AND b.r = (a.r + (CAST(1 AS BIGINT) << t.j)) % a.m
)
SELECT src, dst FROM sc0 UNION ALL SELECT dst AS src, src AS dst FROM sc0
""").fetchall()
    )
    assert got == want


def test_hnsw_l0_silver_equals_shortcuts_build(spark):
    """Construction-path equivalence: the layer-0 silver (shared NSW LSH
    adjacency UNION ring) must produce the same edge SET as building
    nsw_build_edges(shortcuts=True) directly over the same corpus — the
    two paths the engine and its unit seams use must never drift."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        nsw_build_edges,
    )
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        _hnsw_l0_edge_silver,
    )

    sf = "/root/testdata/sf0.001"
    silver = {
        (r.src, r.dst) for r in _hnsw_l0_edge_silver(spark, sf).collect()
    }
    direct = {
        (r.src, r.dst)
        for r in nsw_build_edges(
            spark.read.parquet(f"{sf}/embeddings.parquet"), shortcuts=True
        ).collect()
    }
    assert silver == direct


def test_crossmodal_ivf_silver_matches_fresh_retrieval(spark):
    """r15 shared-retrieval silver twin: the pinned cross-modal IVF frame
    must equal a FRESH ivf_topk run row-for-row (same params), so the
    three consumers (topk report, recall audit, hard-negative miner)
    provably read exactly what they each computed before the sharing."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import ivf_topk
    from securities_pricing_data_pipeline_spark.queries.helpers import load
    from securities_pricing_data_pipeline_spark.queries.llmq import (
        _crossmodal_ivf_silver,
        _crossmodal_queries,
    )

    sf = "/root/testdata/sf0.001"
    silver = sorted(map(tuple, _crossmodal_ivf_silver(spark, sf).collect()))
    emb = load(spark, sf, "embeddings")
    fresh = sorted(
        map(tuple, ivf_topk(emb, _crossmodal_queries(emb), k=5,
                            n_centroids=16, nprobe=4).collect())
    )
    assert silver == fresh and len(silver) > 0


def test_ivfpq_silver_matches_fresh_retrieval(spark):
    """r15 shared-retrieval silver twin for the IVF-PQ pair: the pinned
    frame equals a fresh ivfpq_topk run row-for-row."""
    from securities_pricing_data_pipeline_spark.llmdata.similarity import ivfpq_topk
    from securities_pricing_data_pipeline_spark.queries.helpers import load
    from securities_pricing_data_pipeline_spark.queries.llmq import _ivfpq_silver

    sf = "/root/testdata/sf0.001"
    silver = sorted(map(tuple, _ivfpq_silver(spark, sf).collect()))
    emb = load(spark, sf, "embeddings")
    fresh = sorted(
        map(tuple, ivfpq_topk(
            emb, emb.filter("vec_id % 50 = 0"), k=5,
            dim=20, n_sub=4, n_codes=16, n_centroids=16, nprobe=4,
        ).collect())
    )
    assert silver == fresh and len(silver) > 0
