"""Property tests for the LLM-pipeline operators beyond oracle parity:
LSH recall against exact baselines, multimodal stub determinism/shape.
"""

import pytest
from pyspark.sql import functions as F

from map_reduce_go_spark.operators import multimodal, similarity
from map_reduce_go_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard


def test_minhash_lsh_recall(spark, sf_dir):
    """LSH candidates must cover the high-similarity pairs found by the
    exact n-gram Jaccard baseline (recall at j>=0.5 should be ~1 with
    4 bands of 2)."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if r["jaccard"] >= 0.5
    }
    lsh = {
        (r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    if not exact:
        pytest.skip("no high-similarity pairs at this SF")
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Bucketed ANN neighbors are a subset of scoring logic shared with
    brute force; recall@k of the true top-k should be substantial for
    same-bucket vectors and every returned pair must match the brute-force
    similarity for that pair."""
    bf = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in similarity.knn_bruteforce_cosine(spark, sf_dir).collect()
    }
    ann = similarity.ann_lsh_cosine(spark, sf_dir).collect()
    assert len(ann) > 0
    # Any (query, neighbor) the ANN returns that is also in the true top-k
    # must carry the identical similarity (same scoring expression).
    for r in ann:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert abs(bf[key] - r["sim"]) < 1e-9


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF-probed neighbors: every returned (query, neighbor) that brute
    force also ranks in its top-k must carry the identical similarity, and
    probing NPROBE of K_CELLS cells must recover a nontrivial fraction of
    the true top-k (deterministic fixtures -> deterministic recall)."""
    bf = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in similarity.knn_bruteforce_cosine(spark, sf_dir).collect()
    }
    ann = similarity.ann_ivf_cosine(spark, sf_dir).collect()
    assert len(ann) > 0
    for r in ann:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert abs(bf[key] - r["sim"]) < 1e-9
    hits = sum(1 for r in ann if (r["query_id"], r["neighbor_id"]) in bf)
    assert hits / len(bf) >= 0.2  # nprobe=4 of 16 cells on near-random vectors


def test_ivf_centroids_shape(spark, sf_dir):
    """Codebook: K cells x 64 dims, finite floats, refined != all-seeds."""
    from map_reduce_go_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.ivf_train_centroids(emb)
    assert len(cents) == similarity.K_CELLS
    assert all(len(c) == 64 for c in cents)
    assert all(all(x == x for x in c) for c in cents)  # no NaN


def test_multimodal_stub_deterministic_and_shaped(spark, sf_dir):
    out = multimodal.extract_features(multimodal.blobs_from_documents(spark, sf_dir))
    rows = out.orderBy("doc_id").limit(20).collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["features"]) == multimodal.FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-3  # normalized histogram
        assert r["modality"] in multimodal.MODALITIES
        assert sum(r["bin_counts"]) == max(r["byte_len"], 0)
    again = out.orderBy("doc_id").limit(20).collect()
    assert [list(r["features"]) for r in rows] == [list(r["features"]) for r in again]


def test_multimodal_feature_stub_registered_is_scalar(spark, sf_dir):
    """The driver-facing projection must stay free of nested types (the
    driver's pandas canonicalizer cannot hash lists)."""
    out = multimodal.multimodal_feature_stub(spark, sf_dir)
    assert not any("array" in t or "struct" in t for _, t in out.dtypes)
    r = out.orderBy("doc_id").first()
    assert sum(r[f"c{j}"] for j in range(multimodal.FEATURE_DIM)) == r["byte_len"]


def test_multimodal_real_decode_raises(spark, sf_dir):
    blobs = multimodal.blobs_from_documents(spark, sf_dir).limit(2)
    with pytest.raises(Exception, match="NotImplementedError|real decode"):
        multimodal.extract_features(blobs, decode_mode="real").collect()


def test_simhash_close_for_similar_docs(spark, sf_dir):
    """Docs with high trigram Jaccard should have small simhash Hamming
    distance relative to random pairs."""
    from map_reduce_go_spark.operators.dedup import dedup_simhash

    sims = {r["doc_id"]: r["simhash"] for r in dedup_simhash(spark, sf_dir).collect()}
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if r["jaccard"] >= 0.5
    ]
    if not pairs:
        pytest.skip("no high-similarity pairs at this SF")
    ham = lambda a, b: bin(a ^ b).count("1")
    close = [ham(sims[a], sims[b]) for a, b in pairs]
    import itertools, random

    rng = random.Random(7)
    ids = sorted(sims)
    rand = [
        ham(sims[a], sims[b])
        for a, b in (rng.sample(ids, 2) for _ in range(200))
    ]
    assert sum(close) / len(close) < sum(rand) / len(rand)


def test_stratified_sample_deterministic_and_proportional(spark, sf_dir):
    """Same seed -> identical sample; per-language keep rate lands near
    its configured fraction (binomial tolerance at fixture scale)."""
    from map_reduce_go_spark.operators.pipeline import (
        SAMPLE_FRACTIONS,
        stratified_sample_by_lang,
    )
    from map_reduce_go_spark.sources.readers import load_table

    s1 = {r["doc_id"] for r in stratified_sample_by_lang(spark, sf_dir).collect()}
    s2 = {r["doc_id"] for r in stratified_sample_by_lang(spark, sf_dir).collect()}
    assert s1 == s2
    totals = {
        r["lang"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sampled = {
        r["lang"]: r["n"]
        for r in stratified_sample_by_lang(spark, sf_dir)
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for lang, frac in SAMPLE_FRACTIONS.items():
        got = sampled.get(lang, 0) / totals[lang]
        assert abs(got - frac) < 0.25, (lang, got, frac)


def test_multimodal_resize_shape_and_determinism(spark, sf_dir):
    blobs = multimodal.blobs_from_documents(spark, sf_dir).limit(10)
    out = multimodal.resize_images(blobs, width=4, height=4).orderBy("doc_id")
    rows = out.collect()
    assert len(rows) == 10
    for r in rows:
        assert r["out_width"] == 4 and r["out_height"] == 4
        assert len(r["pixels"]) == 16
        assert all(0.0 <= p <= 1.0 for p in r["pixels"])
    assert [list(r["pixels"]) for r in rows] == [
        list(r["pixels"]) for r in out.collect()
    ]


def test_multimodal_frame_sample_fanout(spark, sf_dir):
    videos = multimodal.blobs_from_documents(spark, sf_dir).where(
        F.col("modality") == "video"
    )
    n_videos = videos.count()
    frames = multimodal.multimodal_frame_sample(spark, sf_dir)
    assert frames.count() == n_videos * multimodal.N_FRAMES
    per = frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert all(r["n"] == multimodal.N_FRAMES for r in per)


def test_blocked_gemm_pairs_equal_naive(spark, sf_dir):
    """The blocked GEMM must produce exactly the pairs a naive O(N²)
    python loop finds (same threshold, same ids) — guards the block-pair
    bookkeeping (diagonal dedup, cross-block min/max ordering)."""
    import numpy as np

    from map_reduce_go_spark.operators.dedup import _EMB_SIM, dedup_embedding_cosine
    from map_reduce_go_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in emb])
    m = np.vstack([r["embedding"] for r in emb]).astype(np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    s = m @ m.T
    want = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            a, b = int(ids[i]), int(ids[j])
            if s[i, j] >= _EMB_SIM - 1e-9:
                want.add((min(a, b), max(a, b)))
    got = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    # Tolerance band: pairs within 1e-9 of the threshold may differ by
    # summation order; everything clearly above must match exactly.
    assert got - want == set()
    missing = want - got
    for a, b in missing:
        i, j = int(np.where(ids == a)[0][0]), int(np.where(ids == b)[0][0])
        assert abs(s[i, j] - _EMB_SIM) < 1e-9, (a, b, s[i, j])


def test_lsh_configurable_bands(spark, sf_dir):
    """Non-default LSH config (16 perms, 8 bands of 2) must still cover
    the exact high-similarity pairs — the knob changes the candidate
    threshold, not correctness of the covered region."""
    from map_reduce_go_spark.operators.dedup import (
        _shingle_arrays,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from map_reduce_go_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(_shingle_arrays(docs), n_perm=16)
    cand = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(sig, n_bands=8).collect()}
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if r["jaccard"] >= 0.5
    }
    if not exact:
        pytest.skip("no high-similarity pairs at this SF")
    assert len(exact & cand) / len(exact) >= 0.9


def test_keep_best_one_per_cluster(spark, sf_dir):
    """dedup_keep_best keeps EXACTLY one doc per cluster, and the kept doc
    is maximal by (n_chars, -doc_id) within its cluster."""
    from map_reduce_go_spark.operators.dedup import dedup_keep_best

    rows = dedup_keep_best(spark, sf_dir).collect()
    assert rows
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for members in by_cluster.values():
        kept = [r for r in members if r["keep"] == 1]
        assert len(kept) == 1
        best = max(members, key=lambda r: (r["n_chars"], -r["doc_id"]))
        assert kept[0]["doc_id"] == best["doc_id"]


def test_span_dupes_identical_docs_fully_shared(spark, sf_dir):
    """Docs whose full text equals another doc's text must have
    dup_ratio 1.0 (every span shared); all ratios lie in [0, 1] and
    shared_spans <= n_spans."""
    from map_reduce_go_spark.operators.dedup import cross_doc_span_dupes
    from map_reduce_go_spark.sources.readers import load_table

    docs = {r["doc_id"]: r["text"] for r in load_table(spark, sf_dir, "documents").collect()}
    texts: dict = {}
    for did, t in docs.items():
        texts.setdefault(t, []).append(did)
    dup_doc_ids = {d for ids in texts.values() if len(ids) > 1 for d in ids}

    out = {r["doc_id"]: r for r in cross_doc_span_dupes(spark, sf_dir).collect()}
    assert set(out) == set(docs)
    for r in out.values():
        assert 0.0 <= r["dup_ratio"] <= 1.0
        assert r["shared_spans"] <= r["n_spans"]
    for did in dup_doc_ids:
        if out[did]["n_spans"] > 0:
            assert out[did]["dup_ratio"] == 1.0


def test_semdedup_min_id_survives_per_cell(spark, sf_dir):
    """semdedup_prune never prunes a cell's lowest vec_id (there is no
    earlier vector to prune it against), and every pruned vector has an
    earlier same-cell vector with cosine >= threshold (checked by
    recomputing cosines with numpy on the collected corpus)."""
    import numpy as np

    from map_reduce_go_spark.operators.similarity import (
        SEMDEDUP_SIM,
        semdedup_prune,
    )
    from map_reduce_go_spark.sources.readers import load_table

    rows = semdedup_prune(spark, sf_dir).collect()
    assert rows
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for members in by_cell.values():
        members.sort(key=lambda r: r["vec_id"])
        assert members[0]["pruned"] == 0
        for i, r in enumerate(members):
            sims = [cos(emb[m["vec_id"]], emb[r["vec_id"]]) for m in members[:i]]
            has_near = any(s >= SEMDEDUP_SIM - 1e-9 for s in sims)
            if r["pruned"] == 1:
                assert has_near
            elif sims and max(sims) < SEMDEDUP_SIM - 1e-6:
                assert r["pruned"] == 0


def test_semdedup_kernel_matches_pair_join_form(spark):
    """r17 regression pin for the applyInPandas within-cell kernel: on a
    synthetic corpus (tight duplicate clusters, orthogonal singletons,
    and a ZERO vector whose cosine is NaN) the kernel's flags must be
    row-identical to the old cell-self-join → cosine_udf filter →
    distinct → left-join form — including the zero-norm case, where the
    pandas-UDF NaN surfaces as NULL in Spark and the filter drops the
    pair, so the zero vector is NOT pruned."""
    import numpy as np
    from pyspark.sql import functions as F

    from map_reduce_go_spark.operators.similarity import (
        SEMDEDUP_SIM,
        _semdedup_cell_kernel,
        cosine_udf,
    )

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for cell in range(3):
        base = rng.randn(64)
        for k in range(5):  # near-duplicates of the base direction
            v = base + 0.01 * rng.randn(64)
            rows.append((vid, [float(x) for x in v], cell))
            vid += 1
        w = rng.randn(64)
        w -= w @ base / (base @ base) * base  # orthogonal singleton
        rows.append((vid, [float(x) for x in w], cell))
        vid += 1
    rows.append((vid, [0.0] * 64, 1))  # zero vector -> NaN cosine
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, cell int"
    )

    kernel_out = {
        r["vec_id"]: (r["cell"], r["pruned"])
        for r in corpus.groupBy("cell")
        .applyInPandas(_semdedup_cell_kernel, "vec_id bigint, cell int, pruned int")
        .collect()
    }

    a = corpus.select(
        F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"), "cell"
    )
    b = corpus.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"), "cell"
    )
    pruned = (
        a.join(b, "cell")
        .where(F.col("a_id") < F.col("b_id"))
        .where(cosine_udf(F.col("a_emb"), F.col("b_emb")) >= SEMDEDUP_SIM)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("p", F.lit(1))
    )
    join_out = {
        r["vec_id"]: (r["cell"], r["pruned"])
        for r in corpus.select("vec_id", "cell")
        .join(pruned, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("p").isNotNull(), 1).otherwise(0).alias("pruned"),
        )
        .collect()
    }
    assert kernel_out == join_out
    # The zero vector's NaN cosine surfaces as NULL in the old form, so
    # the filter drops the pair and the vector survives — both forms
    # must agree on NOT pruned.
    assert kernel_out[vid][1] == 0


def test_bpe_pair_counts_match_python(spark, sf_dir):
    """bpe_pair_counts equals a pure-Python recomputation of weighted
    adjacent-char-pair frequencies (top-30, count DESC then pair ASC)."""
    import re
    from collections import Counter

    from map_reduce_go_spark.operators.textstats import bpe_pair_counts
    from map_reduce_go_spark.sources.readers import load_table

    texts = [r["text"] for r in load_table(spark, sf_dir, "documents").collect()]
    # Tokenize the same way the engine does: split on non-letter runs.
    wc: Counter = Counter()
    for t in texts:
        wc.update(w for w in re.split(r"[^a-zA-Z]+", t) if w)
    pairs: Counter = Counter()
    for w, c in wc.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] += c
    expected = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    got = [(r["pair"], r["cnt"]) for r in bpe_pair_counts(spark, sf_dir).collect()]
    assert got == expected


def test_lsh_stop_filter_fires_and_bounds_pair_mass(spark, sf_dir):
    """The stop-shingle cap must be NON-VACUOUS on the fixtures (some
    shingle exceeds it — otherwise the variant silently degenerates to
    the plain pipeline and proves nothing) and after filtering no
    surviving shingle can contribute more than LSH_STOP_DF²/2 candidate
    pairs."""
    from pyspark.sql import functions as F

    from map_reduce_go_spark.operators.dedup import LSH_STOP_DF, _shingles
    from map_reduce_go_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    dfreq = (
        _shingles(docs)
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .cache()
    )
    assert dfreq.where(F.col("df") > LSH_STOP_DF).count() > 0
    kept_max = dfreq.where(F.col("df") <= LSH_STOP_DF).agg(F.max("df")).collect()[0][0]
    assert kept_max <= LSH_STOP_DF
    dfreq.unpersist()


def test_adjacent_pairs_survive_short_docs(spark):
    """Regression: documents with <2 letter tokens (digits-only, empty,
    single word) made the bigram slice length negative — a runtime crash
    in Spark where the DuckDB oracle silently yields no rows. The guarded
    builder must yield zero pairs for such docs and normal pairs
    otherwise."""
    from pyspark.sql import functions as F

    from map_reduce_go_spark.functions.text import tokenize
    from map_reduce_go_spark.operators.textstats import _adjacent_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "12345 !!!"), (3, ""), (4, "solo")],
        ["doc_id", "text"],
    )
    pairs = _adjacent_pairs(
        tokenize("text"), lambda a, b: F.concat_ws(" ", a, b), "array<string>"
    )
    out = df.select("doc_id", F.explode_outer(pairs).alias("bigram")).collect()
    got = {(r["doc_id"], r["bigram"]) for r in out}
    assert got == {
        (1, "alpha beta"),
        (1, "beta gamma"),
        (2, None),
        (3, None),
        (4, None),
    }


def test_multimodal_partitioned_write_prunes_by_modality(spark, sf_dir, tmp_path):
    """The SCALE.md multimodal layout claim, executed: blobs written
    partitioned by modality must (a) land in modality=... directories,
    (b) read back losslessly, and (c) prune to ONE modality's files at
    the scan when filtered — decode jobs for one modality never list the
    others' bytes."""
    import glob

    from map_reduce_go_spark.operators.multimodal import blobs_from_documents

    out = str(tmp_path / "blobs_by_modality")
    blobs = blobs_from_documents(spark, sf_dir)
    blobs.write.mode("overwrite").partitionBy("modality").parquet(out)

    dirs = {p.rsplit("/", 1)[-1] for p in glob.glob(f"{out}/modality=*")}
    assert dirs, "no partition directories written"

    back = spark.read.parquet(out)
    assert back.count() == blobs.count()

    one = sorted(dirs)[0].split("=", 1)[1]
    filtered = back.where(F.col("modality") == one)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(modality" in plan or "modality#" in plan.split(
        "PartitionFilters"
    )[1][:120]
    got = filtered.count()
    want = blobs.where(F.col("modality") == one).count()
    assert got == want > 0
