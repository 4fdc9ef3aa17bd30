"""Training-data pipeline operators: dedup, similarity, text."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neosemantics_spark.operators import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    groups = dedup.exact_dup_groups(docs).toPandas()
    kept = dedup.dedup_exact(docs)
    total = docs.count()
    dup_extra = int((groups["cnt"] - 1).sum()) if len(groups) else 0
    assert kept.count() == total - dup_extra
    # representative is the min doc_id of its group
    if len(groups):
        g = groups.iloc[0]
        same = docs.join(
            docs.select(F.col("doc_id").alias("k"), F.md5("text").alias("h")).filter(
                F.col("h") == g["text_hash"]
            ),
            F.md5(docs.text) == F.col("h"),
        )
        assert kept.join(same.select(F.col("k").alias("doc_id")), "doc_id", "left_semi").count() == 1


def test_minhash_lsh_finds_dups(spark, docs):
    # plant exact + near duplicates (one word changed) of the first docs
    base = docs.limit(10)
    exact = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    near = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = docs.unionByName(exact).unionByName(near)
    cands = dedup.minhash_lsh_candidates(corpus, num_hashes=8, bands=4).toPandas()
    pairs = {(a, b) for a, b in zip(cands.a, cands.b)}
    # identical texts share every band → always candidates
    for i in range(10):
        assert (i, i + 100000) in pairs
    # near-dups (tail shingle change) collide on at least one band
    near_hits = sum((i, i + 200000) in pairs for i in range(10))
    assert near_hits >= 7


def test_ngram_jaccard(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs.limit(80), threshold=0.999)
    pdf = pairs.toPandas()
    # jaccard 1.0 pairs are exactly the exact-duplicate pairs in the slice
    sub = docs.limit(80).toPandas()
    texts = sub.groupby("text").doc_id.apply(sorted)
    expected = set()
    for ids in texts:
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                expected.add((ids[i], ids[j]))
    got = {(a, b) for a, b in zip(pdf.a, pdf.b) if round(1 - 0, 4)}
    assert expected <= got


def test_simhash_similarity(spark, docs):
    s = dedup.simhash(docs.limit(50)).toPandas()
    assert set(s.simhash.str.len()) == {32}
    # identical docs → identical simhash
    d = docs.limit(50).toPandas().merge(s, on="doc_id")
    for _, grp in d.groupby("text"):
        assert grp.simhash.nunique() == 1


def test_brute_force_topk(spark, emb):
    res = similarity.brute_force_topk(emb, [0, 1, 2], k=5).toPandas()
    assert sorted(res.query_id.unique()) == [0, 1, 2]
    assert all(res.groupby("query_id").size() == 5)
    # ranks ordered by score desc
    for _, g in res.groupby("query_id"):
        scores = list(g.sort_values("rank").score)
        assert scores == sorted(scores, reverse=True)


def test_lsh_topk_overlaps_brute_force(spark, emb):
    bf = similarity.brute_force_topk(emb, [0], k=50).toPandas()
    ap = similarity.lsh_topk(emb, [0], k=10, nbits=2).toPandas()
    # approximate neighbors come from the query's bucket; with a 2-bit
    # bucket (~1/4 of corpus) the ap top-10 must intersect the true top-50
    assert len(ap) > 0
    assert len(set(ap.neighbor_id) & set(bf.neighbor_id)) >= 1
    # ap scores can never exceed the true best
    assert ap.score.max() <= bf.score.max() + 1e-9


def test_ivf_topk_overlaps_brute_force(spark, emb):
    """IVF-probed top-k finds most of the exact top-k (recall sanity) and
    assignment covers every vector exactly once."""
    assign = similarity.ivf_assign(emb, n_centroids=8).toPandas()
    assert len(assign) == emb.count()
    assert assign.id.is_unique
    assert assign.centroid_id.nunique() <= 8
    bf = similarity.brute_force_topk(emb, [0], k=50).toPandas()
    ap = similarity.ivf_topk(emb, [0], k=10, n_centroids=8, n_probe=4).toPandas()
    assert len(ap) == 10
    assert len(set(ap.neighbor_id) & set(bf.neighbor_id)) >= 5


def test_language_id(spark, docs):
    out = text.language_id(docs).toPandas()
    assert set(out.columns) == {"doc_id", "pred_lang", "score"}
    assert out.pred_lang.isin(["en", "es", "fr", "de", "und"]).all()
    assert len(out) == docs.count()


def test_quality_and_tokens(spark, docs):
    q = text.quality_features(docs.limit(20)).toPandas()
    assert ((q.quality_score >= 0) & (q.quality_score <= 1)).all()
    t = text.token_counts(docs.limit(20)).toPandas()
    assert (t.ws_tokens > 0).all() and (t.bpe_ish_tokens >= t.ws_tokens).all()


def test_fingerprints(spark, docs):
    fp = text.fingerprints(docs.limit(30)).toPandas()
    d = docs.limit(30).toPandas().merge(fp, on="doc_id")
    for _, grp in d.groupby("text"):
        assert grp.exact_fp.nunique() == 1 and grp.shingle_fp.nunique() == 1
    assert set(fp.shingle_fp.str.len()) == {128}


def test_ivf_centroids_non_dense_ids(spark, emb):
    """ADVICE r2: centroid seeding must not assume dense 0..n-1 ids —
    sparse/offset ids yield a full-sized centroid set and a complete
    assignment (the old `id % stride` derivation silently returned an
    EMPTY set here)."""
    sparse = emb.withColumn("vec_id", F.col("vec_id") * 1000 + 7)
    cents = similarity.ivf_centroids(sparse, n_centroids=8)
    assert cents.count() == 8
    assign = similarity.ivf_assign(sparse, n_centroids=8)
    assert assign.count() == sparse.count()
    assert assign.filter(F.col("centroid_id").isNull()).count() == 0


def test_ivf_lloyd_refinement_matches_numpy(spark, emb):
    """One Lloyd iteration in Spark (assign → per-dim avg → coalesce)
    equals the numpy k-means step from the same md5-seeded centroids."""
    import numpy as np

    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    ids = pdf.vec_id.to_numpy()
    X = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    import hashlib

    order = sorted(range(len(ids)), key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]))
    seed_idx = order[:8]
    C = X[seed_idx]
    seed_ids = ids[seed_idx]
    # numpy Lloyd step with the engine's tie-break (dist asc, centroid_id asc)
    d = np.sqrt(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2))
    d = np.floor(d * 10000 + 0.5) / 10000  # round4, as the engine scores
    key = np.argsort(seed_ids, kind="stable")
    best = np.full(len(X), -1)
    for r in range(len(X)):
        cand = np.where(d[r] == d[r].min())[0]
        best[r] = cand[np.argmin(seed_ids[cand])]
    C1 = np.stack(
        [X[best == c].mean(axis=0) if (best == c).any() else C[c] for c in range(8)]
    )
    got = (
        similarity.ivf_centroids(emb, n_centroids=8, refine_iters=1)
        .toPandas()
        .sort_values("centroid_id")
    )
    want = {int(seed_ids[c]): C1[c] for c in range(8)}
    assert sorted(got.centroid_id) == sorted(want.keys())
    for _, row in got.iterrows():
        np.testing.assert_allclose(
            np.array(row.cvec), want[int(row.centroid_id)], rtol=1e-9, atol=1e-9
        )


def test_ivf_refined_recall_not_worse(spark, emb):
    """Refined centroids keep ivf_topk recall at least as good as the
    unrefined assignment on the sf test corpus."""
    bf = similarity.brute_force_topk(emb, [0], k=20).toPandas()
    base = similarity.ivf_topk(emb, [0], k=10, n_centroids=8, n_probe=4).toPandas()
    ref = similarity.ivf_topk(
        emb, [0], k=10, n_centroids=8, n_probe=4, refine_iters=2
    ).toPandas()
    hits = lambda df: len(set(df.neighbor_id) & set(bf.neighbor_id))  # noqa: E731
    assert hits(ref) >= max(1, hits(base) - 2)  # refinement must not collapse recall


def test_near_dup_clusters_transitive(spark):
    """A~B and B~C must land A, B, C in ONE cluster (pairwise dedup alone
    under-deletes); untouched docs are singleton clusters."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 10]})
    )
    pairs = spark.createDataFrame(pd.DataFrame({"a": [1, 2], "b": [2, 3]}))
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.near_dup_clusters(docs, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 10: 10}, got


def test_chunk_documents_windows(spark):
    """20/5 windows: step 15, trailing partial kept, short/empty docs give
    exactly one chunk, and consecutive chunks overlap by `overlap`."""
    toks = " ".join(f"t{i}" for i in range(35))  # 35 tokens -> 2 chunks
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": [toks, "one two", ""]}
        )
    )
    out = (
        text.chunk_documents(docs, chunk_tokens=20, overlap=5)
        .toPandas()
        .sort_values(["doc_id", "chunk_idx"])
    )
    d1 = out[out.doc_id == 1]
    assert list(d1.n_tokens) == [20, 20]  # 15..34 is a full window
    c0, c1 = d1.chunk_text.tolist()
    assert c0.split()[:1] == ["t0"] and c1.split()[:1] == ["t15"]
    assert c0.split()[-5:] == c1.split()[:5]  # the 5-token overlap
    assert list(out[out.doc_id == 2].n_tokens) == [2]
    assert list(out[out.doc_id == 3].n_tokens) == [0]
    with pytest.raises(ValueError):
        text.chunk_documents(docs, chunk_tokens=10, overlap=10)


def test_redact_pii(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "text": ["mail a@b.co or see https://x.y/z?q=1 at 192.168.0.1 ok"],
            }
        )
    )
    r = text.redact_pii(df).toPandas().iloc[0]
    assert r.redacted == "mail <EMAIL> or see <URL> at <IP> ok"
    assert (r.n_emails, r.n_urls, r.n_ips) == (1, 1, 1)


def test_ann_topk_router(spark, emb):
    from neosemantics_spark.operators import similarity as sim

    qids = [0, 1, 2]
    near = sim.ann_topk_router(emb, qids, k=3, workload="near_dup")
    topic = sim.ann_topk_router(emb, qids, k=3, workload="topic")
    for out in (near, topic):
        rows = out.collect()
        assert {r["query_id"] for r in rows} <= set(qids)
        assert all(r["rank"] <= 3 for r in rows)
        assert set(out.columns) == {"query_id", "neighbor_id", "score", "rank"}
    with pytest.raises(ValueError, match="workload"):
        sim.ann_topk_router(emb, qids, workload="nope")


def test_repetition_features(spark):
    from neosemantics_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam"),           # one bigram repeated 4x
            (1, "all words here are fully distinct"),  # no repetition
            (2, "one two"),                            # bigram only, no trigram
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in tx.repetition_features(docs).collect()}
    # doc 0: single distinct bigram 'spam spam' -> top fraction 1.0; all
    # 3 trigram occurrences are of one duplicated gram -> 1.0
    assert rows[0]["top_bigram_char_frac"] == 1.0
    assert rows[0]["dup_trigram_char_frac"] == 1.0
    # doc 1: 5 distinct bigrams of varying length; no duplicate trigram
    assert rows[1]["dup_trigram_char_frac"] == 0.0
    assert 0 < rows[1]["top_bigram_char_frac"] < 0.5
    # doc 2 has no trigrams -> null fraction, bigram side defined
    assert rows[2]["top_bigram_char_frac"] == 1.0
    assert rows[2]["dup_trigram_char_frac"] is None


def test_jaccard_hash_bits_32_matches_64(spark, docs):
    cand = dedup.minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    a = dedup.ngram_jaccard_pairs(docs, threshold=0.5, candidates=cand)
    b = dedup.ngram_jaccard_pairs(docs, threshold=0.5, candidates=cand, hash_bits=32)
    ra = sorted((r["a"], r["b"], r["jaccard"]) for r in a.collect())
    rb = sorted((r["a"], r["b"], r["jaccard"]) for r in b.collect())
    assert ra == rb and ra  # identical results at test scale (collisions ~2^-33/pair)
    # without candidates the posting-join path never hashes: the knob
    # would be a silent no-op, so it raises instead
    with pytest.raises(ValueError, match="hash_bits"):
        dedup.ngram_jaccard_pairs(docs, threshold=0.5, hash_bits=32)


def test_chunk_dup_stats(spark):
    shared_block = "one two three four five six seven eight"  # exactly one 8-token chunk
    docs = spark.createDataFrame(
        [
            (0, shared_block + " unique tail of document zero right here"),
            (1, shared_block + " a different unique tail for doc one"),
            (2, "entirely original content with no shared chunks anywhere at all over here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in dedup.chunk_dup_stats(docs, chunk_tokens=8).collect()}
    # docs 0/1: first chunk is the shared block (aligned at position 0),
    # second chunk unique -> 1 of 2 shared
    for d in (0, 1):
        assert rows[d]["n_chunks"] == 2 and rows[d]["shared_chunks"] == 1
        assert rows[d]["dup_chunk_frac"] == 0.5
    assert rows[2]["shared_chunks"] == 0 and rows[2]["dup_chunk_frac"] == 0.0


def test_dedup_chunks_action(spark):
    shared = "one two three four five six seven eight"  # one aligned 8-token chunk
    docs = spark.createDataFrame(
        [
            (0, shared + " zero unique tail tokens here now yes ok"),
            (1, shared + " totally different ending for doc one"),
            (2, shared),  # pure boilerplate: emptied, not dropped
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in dedup.dedup_chunks(docs, chunk_tokens=8).collect()}
    # doc 0 is the chunk's first doc: keeps everything
    assert rows[0]["n_chunks_dropped"] == 0 and rows[0]["text_deduped"].startswith(shared)
    # doc 1 loses the shared chunk, keeps its unique tail
    assert rows[1]["n_chunks_kept"] == 1 and rows[1]["n_chunks_dropped"] == 1
    assert rows[1]["text_deduped"] == "totally different ending for doc one"
    # doc 2 comes back emptied with the drop accounted
    assert rows[2]["text_deduped"] == "" and rows[2]["n_chunks_dropped"] == 1
    assert not any(r["passthrough"] for r in rows.values())


def test_dedup_chunks_preserves_raw_bytes(spark):
    """Dedup output is TRAINING TEXT: a doc with zero dropped chunks
    must come back byte-identical (no lowercasing, no whitespace
    collapse), while matching stays case/layout-insensitive."""
    pristine = "The QUICK\n\nBrown Fox —\t jumps!  Twice. "
    boiler = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (0, boiler),
            # same boilerplate in different case/layout + a unique tail:
            # the chunk still matches doc 0's (normalized hash), but the
            # surviving tail keeps ITS raw bytes
            (1, "ONE  two THREE four\nfive six seven EIGHT Unique TAIL here x y z w q"),
            (2, pristine),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in dedup.dedup_chunks(docs, chunk_tokens=8).collect()}
    assert rows[2]["text_deduped"] == pristine  # byte-identical round-trip
    assert rows[2]["n_chunks_dropped"] == 0
    # doc 1's first chunk matched doc 0's despite case/whitespace deltas
    assert rows[1]["n_chunks_dropped"] == 1
    assert rows[1]["text_deduped"] == "Unique TAIL here x y z w q"


def test_dedup_chunks_oversized_passthrough(spark):
    """max_doc_tokens routes pathological docs around the single-row
    re-assembly: returned untouched, flagged, and not claiming chunk
    ownership (the boilerplate's canonical copy stays a normal doc)."""
    boiler = "one two three four five six seven eight"
    giant = " ".join(f"w{i}" for i in range(50)) + " " + boiler
    docs = spark.createDataFrame(
        [(0, giant), (1, boiler + " plus a small unique tail")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.dedup_chunks(docs, chunk_tokens=8, max_doc_tokens=20).collect()
    }
    assert rows[0]["passthrough"] and rows[0]["text_deduped"] == giant
    assert rows[0]["n_chunks_kept"] == 0 and rows[0]["n_chunks_dropped"] == 0
    # doc 1 keeps its boilerplate chunk: the oversized doc didn't own it
    assert not rows[1]["passthrough"] and rows[1]["n_chunks_dropped"] == 0


def test_semantic_decontaminate(spark):
    train = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    bench = spark.createDataFrame([(100, [1.0, 0.0, 0.0])], ["vec_id", "embedding"])
    rows = {r["vec_id"]: r for r in similarity.semantic_decontaminate(train, bench, threshold=0.9).collect()}
    # vec 1 is identical (cos 1.0), vec 2 close (cos ~0.994), vec 3 orthogonal
    assert set(rows) == {1, 2}
    assert rows[1]["max_bench_cosine"] == 1.0 and rows[1]["n_bench_hits"] == 1
    assert rows[2]["max_bench_cosine"] > 0.99
    # plan: bench side broadcast below the gate
    plan = similarity.semantic_decontaminate(train, bench)._jdf.queryExecution().analyzed().toString()
    assert "Hint" in plan
    # above the gate the exact mode REFUSES (it would be a shuffled cross
    # join) instead of silently degrading
    with pytest.raises(ValueError, match="broadcast_limit"):
        similarity.semantic_decontaminate(train, bench, broadcast_limit=0).collect()


def test_semantic_decontaminate_lsh_prefilter(spark):
    """prefilter='lsh' gives the same answer as the exact mode on
    near-dup-style contamination (identical + sign-preserving perturbed
    vectors share every LSH bucket), and its plan contains no cross
    join — candidates come from the (band, bucket) equi-join."""
    train = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    bench = spark.createDataFrame([(100, [1.0, 0.0, 0.0])], ["vec_id", "embedding"])
    exact = {
        r["vec_id"]: r
        for r in similarity.semantic_decontaminate(train, bench, threshold=0.9).collect()
    }
    lsh = similarity.semantic_decontaminate(
        train, bench, threshold=0.9, prefilter="lsh", nbits=4, bands=2, probe_bits=1
    )
    got = {r["vec_id"]: r for r in lsh.collect()}
    assert set(got) == set(exact) == {1, 2}
    for vid in exact:
        assert got[vid]["max_bench_cosine"] == exact[vid]["max_bench_cosine"]
        assert got[vid]["n_bench_hits"] == exact[vid]["n_bench_hits"]
    opt = lsh._jdf.queryExecution().optimizedPlan().toString()
    assert "Cross" not in opt
    # unknown mode rejected
    with pytest.raises(ValueError, match="prefilter"):
        similarity.semantic_decontaminate(train, bench, prefilter="ivf")


def test_semantic_dedup_transitive_clusters(spark):
    # a chain A~B~C where A and C share no bucket-free similarity must
    # still collapse into ONE cluster; D is an isolated singleton
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (10, [1.0, 0.05, 0.0, 0.0]),
        (11, [1.0, 0.10, 0.0, 0.0]),
        (12, [1.0, 0.15, 0.0, 0.0]),
        (13, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.semantic_dedup(df, threshold=0.98, nbits=2, bands=2).toPandas()
    out = out.set_index("vec_id")
    assert set(out.index) == {10, 11, 12, 13}
    # chain collapses to min id 10
    assert out.loc[10, "cluster_id"] == out.loc[11, "cluster_id"] == 10
    assert out.loc[12, "cluster_id"] == 10
    # singleton is its own rep
    assert out.loc[13, "cluster_id"] == 13 and out.loc[13, "is_rep"] == 1
    # exactly one rep per cluster, and it is the min id
    reps = out[out.is_rep == 1]
    assert sorted(reps.index.tolist()) == [10, 13]


def test_semantic_dedup_corpus_consistency(spark, emb):
    pairs = similarity.embedding_near_dups(emb, threshold=0.5).toPandas()
    out = similarity.semantic_dedup(emb, threshold=0.5).toPandas()
    assert len(out) == emb.count()
    cl = dict(zip(out.vec_id, out.cluster_id))
    # every near-dup pair ends up in the same cluster
    for a, b in zip(pairs.a, pairs.b):
        assert cl[a] == cl[b]
    # cluster id is a member of its own cluster and the minimum
    import collections

    members = collections.defaultdict(list)
    for v, c in cl.items():
        members[c].append(v)
    for c, vs in members.items():
        assert c == min(vs)
    # rep flag consistent
    for r in out.itertuples():
        assert (r.is_rep == 1) == (r.vec_id == r.cluster_id)


def test_cluster_balanced_sample_caps_clusters(spark, emb):
    target = 10
    kept = similarity.cluster_balanced_sample(emb, target_per_cluster=target).toPandas()
    assign = similarity.ivf_assign(emb, n_centroids=16).toPandas()
    sizes = assign.groupby("centroid_id").size()
    kept_sizes = kept.groupby("centroid_id").size()
    for cid, n in sizes.items():
        k = int(kept_sizes.get(cid, 0))
        if n <= target:
            # cluster under target: kept whole
            assert k == n
        else:
            # binomial around target: loose bound, never the full cluster
            assert k < n
            assert k <= 3 * target
    # deterministic: second run identical
    kept2 = similarity.cluster_balanced_sample(emb, target_per_cluster=target).toPandas()
    assert sorted(kept.vec_id) == sorted(kept2.vec_id)


def test_cluster_balanced_sample_keep_all(spark, emb):
    n = emb.count()
    kept = similarity.cluster_balanced_sample(emb, target_per_cluster=n)
    assert kept.count() == n


def test_ivf_assign_numpy_matches_expr(spark, emb):
    for k_c, ak in ((16, 1), (16, 3), (45, 2)):
        cents = similarity.ivf_centroids(emb, k_c).localCheckpoint(eager=True)
        a = similarity.ivf_assign(
            emb, centroids=cents, assign_k=ak, method="expr"
        ).toPandas()
        b = similarity.ivf_assign(
            emb, centroids=cents, assign_k=ak, method="numpy"
        ).toPandas()
        cols = list(a.columns)
        a = a.sort_values(cols).reset_index(drop=True)
        b = b[cols].sort_values(cols).reset_index(drop=True)
        assert a.equals(b), f"mismatch at n_centroids={k_c}, assign_k={ak}"


def test_ivf_assign_numpy_matches_expr_large_norm(spark, emb):
    """ADVICE r5: the matmul expansion's cancellation error scales with
    eps·‖x‖², so 1e6-norm vectors (1e12 in d2 terms) can exceed the
    round4 grid. The exact-refine prefilter must keep the paths
    row-identical even there."""
    from pyspark.sql import functions as F

    big = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x * 1.0e6).alias("embedding"),
    )
    for k_c, ak in ((16, 1), (45, 2)):
        cents = similarity.ivf_centroids(big, k_c).localCheckpoint(eager=True)
        a = similarity.ivf_assign(
            big, centroids=cents, assign_k=ak, method="expr"
        ).toPandas()
        b = similarity.ivf_assign(
            big, centroids=cents, assign_k=ak, method="numpy"
        ).toPandas()
        cols = list(a.columns)
        a = a.sort_values(cols).reset_index(drop=True)
        b = b[cols].sort_values(cols).reset_index(drop=True)
        assert a.equals(b), f"large-norm mismatch at n_centroids={k_c}, assign_k={ak}"


def test_ivf_assign_auto_dispatch(spark, emb):
    # auto at 16 centroids keeps the oracle-replayable expr plan (no
    # mapInPandas in the physical plan); a large centroid table flips
    # to the Arrow-batched numpy stage
    small = similarity.ivf_assign(emb, n_centroids=16, method="auto")
    assert "mapInPandas" not in small._jdf.queryExecution().executedPlan().toString()
    big = similarity.ivf_assign(emb, n_centroids=80, method="auto")
    assert "MapInPandas" in big._jdf.queryExecution().executedPlan().toString()


def _sorted_pdf(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols).reset_index(drop=True)


def test_ann_index_save_load_roundtrip(spark, emb, tmp_path):
    """load(write(X)).assignments must equal ivf_assign(X) row-for-row,
    and topk through the loaded index must equal inline ivf_topk."""
    from neosemantics_spark.operators import ann_index

    path = str(tmp_path / "annidx")
    ann_index.write_ann_index(emb, path, n_centroids=16)
    idx = ann_index.read_ann_index(spark, path)
    assert idx.n_centroids == 16 and idx.assign_k == 1
    inline = similarity.ivf_assign(emb, n_centroids=16)
    assert _sorted_pdf(idx.assignments).equals(_sorted_pdf(inline))
    got = ann_index.ann_index_topk(idx, emb, list(range(5)), k=5, n_probe=4)
    want = similarity.ivf_topk(emb, list(range(5)), k=5, n_centroids=16, n_probe=4)
    assert _sorted_pdf(got).equals(_sorted_pdf(want))


def test_ann_index_append_equals_rebuild(spark, emb, tmp_path):
    """write(b1) + append(b2) == write(b1 ∪ b2) under the FROZEN centroid
    table — assignment is per-row independent given the quantizer."""
    from pyspark.sql import functions as F

    from neosemantics_spark.operators import ann_index

    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    inc = str(tmp_path / "inc")
    ann_index.write_ann_index(b1, inc, n_centroids=16)
    bid = ann_index.append_ann_index(b2, inc)
    inc_idx = ann_index.read_ann_index(spark, inc)
    full = str(tmp_path / "full")
    ann_index.write_ann_index(
        emb, full, centroids=inc_idx.centroids
    )
    full_idx = ann_index.read_ann_index(spark, full)
    assert _sorted_pdf(inc_idx.assignments).equals(_sorted_pdf(full_idx.assignments))
    # replaying the same append commits once (idempotent)
    bid2 = ann_index.append_ann_index(b2, inc, validate_ids=False)
    assert bid == bid2
    from neosemantics_spark.operators.search import _idx_manifest

    assert _idx_manifest(inc)["batches"].count(bid) == 1


def test_ann_index_guards(spark, emb, tmp_path):
    import pytest as _pytest

    from neosemantics_spark.operators import ann_index

    path = str(tmp_path / "g")
    with _pytest.raises(ValueError, match="write_ann_index first"):
        ann_index.append_ann_index(emb, path)
    ann_index.write_ann_index(emb.filter("vec_id < 100"), path, n_centroids=8)
    # overlapping ids refused
    with _pytest.raises(ValueError, match="already indexed"):
        ann_index.append_ann_index(emb.filter("vec_id >= 50"), path)
    # a crashed append (batch dir written, no commit) is invisible
    import os

    n_before = ann_index.read_ann_index(spark, path).assignments.count()
    os.makedirs(os.path.join(path, "assignments", "batch=dead"), exist_ok=True)
    assert ann_index.read_ann_index(spark, path).assignments.count() == n_before
    # remote schemes refused (POSIX manifest + Spark parquet split hazard)
    with _pytest.raises(ValueError, match="URI scheme"):
        ann_index.write_ann_index(emb, "s3a://bucket/idx")
    with _pytest.raises(ValueError, match="URI scheme"):
        ann_index.read_ann_index(spark, "hdfs://nn/idx")


def test_elect_cluster_reps(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 8), (9, 8)],
        ["doc_id", "cluster_id"],
    )
    scores = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (7, 1.0)], ["doc_id", "score"]
    )
    out = {
        r["doc_id"]: r
        for r in dedup.elect_cluster_reps(clusters, scores).collect()
    }
    assert len(out) == 6
    # highest score wins; tie (2 vs 3 at 9.0) breaks to the smaller id
    assert out[2]["is_rep"] == 1 and out[3]["is_rep"] == 0 and out[1]["is_rep"] == 0
    # singleton with a score is its own rep
    assert out[7]["is_rep"] == 1
    # all-scoreless cluster degenerates to min-id election
    assert out[8]["is_rep"] == 1 and out[9]["is_rep"] == 0
    # scoreless member never beats a scored one, exactly one rep per cluster
    import collections

    per = collections.Counter(
        r["cluster_id"] for r in out.values() if r["is_rep"] == 1
    )
    assert all(v == 1 for v in per.values()) and len(per) == 3
    # unscored docs keep a NULL score in the output — distinguishable
    # from a genuine -inf score (ADVICE r5)
    assert out[8]["score"] is None and out[9]["score"] is None
    assert out[7]["score"] == 1.0


def test_elect_cluster_reps_duplicate_scores_and_neg_inf(spark):
    """A duplicate-id scores table must not duplicate cluster rows, and
    a genuine -inf score is preserved in the output (ADVICE r5)."""
    clusters = spark.createDataFrame([(1, 1), (2, 1)], ["doc_id", "cluster_id"])
    scores = spark.createDataFrame(
        [(1, 5.0), (1, 3.0), (2, float("-inf"))], ["doc_id", "score"]
    )
    rows = dedup.elect_cluster_reps(clusters, scores).collect()
    assert len(rows) == 2  # no fan-out through the join
    out = {r["doc_id"]: r for r in rows}
    assert out[1]["score"] == 5.0  # max of the duplicate scores
    assert out[1]["is_rep"] == 1
    assert out[2]["score"] == float("-inf") and out[2]["is_rep"] == 0


def test_duplicated_spans(spark):
    from neosemantics_spark.operators.dedup import duplicated_spans

    shared = "alpha beta gamma delta"          # 4-token shared block
    rows = [
        (1, f"one two {shared} three four"),    # block at tokens 2..6
        (2, f"{shared} five six seven eight"),  # block at tokens 0..4
        (3, "nine ten eleven twelve thirteen fourteen"),  # unique
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_spans(df, n=4, min_docs=2).collect()
    }
    # doc 1: only window start 2 is duplicated -> span [2, 6)
    assert got[1] == (2, 6, 4)
    # doc 2: only window start 0 -> span [0, 4)
    assert got[2] == (0, 4, 4)
    assert 3 not in got


def test_duplicated_spans_merges_adjacent_windows(spark):
    from neosemantics_spark.operators.dedup import duplicated_spans

    # two docs share a 6-token run: with n=4 the duplicated window
    # starts are {0,1,2} (doc a) and {1,2,3} (doc b) -> ONE merged span
    a = "p q r s t u xx yy"
    b = "zz p q r s t u ww"
    d = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in duplicated_spans(d, n=4, min_docs=2).collect()
    }
    assert got[1] == (0, 6)
    assert got[2] == (1, 7)


def test_span_dup_stats(spark):
    from neosemantics_spark.operators.dedup import span_dup_stats

    shared = "alpha beta gamma delta"
    rows = [
        (1, f"one two {shared} three four"),   # 8 tokens, 4 dup
        (2, f"{shared} five six seven eight"), # 8 tokens, 4 dup
        (3, "nine ten"),                        # shorter than n -> 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in span_dup_stats(df, n=4).collect()}
    assert len(got) == 3
    assert (got[1]["n_tokens"], got[1]["dup_tokens"], got[1]["dup_frac"]) == (8, 4, 0.5)
    assert (got[2]["dup_tokens"], got[2]["dup_frac"]) == (4, 0.5)
    assert (got[3]["dup_tokens"], got[3]["dup_frac"]) == (0, 0.0)


def test_strip_spans_ownership(spark):
    from neosemantics_spark.operators.dedup import strip_spans

    shared = "alpha beta gamma delta"
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"{shared} five six seven eight"),
        (3, "nine ten eleven twelve"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in strip_spans(df, n=4).collect()}
    # doc 1 owns the shared gram (min id): byte-identical round trip
    assert got[1]["text_deduped"] == rows[0][1]
    assert got[1]["n_tokens_dropped"] == 0 and got[1]["n_tokens_kept"] == 8
    # doc 2 loses the 4 covered tokens, keeps its own tail verbatim
    assert got[2]["text_deduped"] == "five six seven eight"
    assert got[2]["n_tokens_dropped"] == 4 and got[2]["n_tokens_kept"] == 4
    # untouched doc: byte-identical
    assert got[3]["text_deduped"] == rows[2][1]


def test_strip_spans_exact_copy_empties(spark):
    from neosemantics_spark.operators.dedup import strip_spans

    t = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    df = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in strip_spans(df, n=4).collect()}
    assert got[1]["text_deduped"] == t
    assert got[2]["text_deduped"] == "" and got[2]["n_tokens_kept"] == 0
    assert got[2]["n_tokens_dropped"] == 9


def test_minhash_fused_banding_matches_signature_path(spark):
    """r7 optimization: minhash_lsh_candidates bands the wide minimum
    table in place; the bucket md5 inputs must equal the
    lsh_buckets(minhash_signatures(...)) formulation exactly."""
    docs = spark.createDataFrame(
        [(i, f"tok{i%7} common words here repeated {i%3} tail {i%5}") for i in range(60)],
        ["doc_id", "text"],
    )
    fused = dedup.minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    legacy = dedup.bucket_pairs(
        dedup.lsh_buckets(dedup.minhash_signatures(docs, 8, 3), 4),
        ["band", "bucket"],
        "doc_id",
    )
    assert sorted(map(tuple, fused.collect())) == sorted(map(tuple, legacy.collect()))
