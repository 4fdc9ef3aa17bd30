"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set
against the full corpus; `F.zip_with` + `F.aggregate` keep the dot product
JVM-side (no UDF). Scale path: random-hyperplane LSH with deterministic
md5-seeded ±1 weights over the FULL vector (engine-portable, no RNG),
multi-band tables for recall, nbits scaled to corpus size, oversized
buckets capped.

At 100 TB / billions of vectors the bucketed variant is the only viable
plan: candidate generation is an equi-join on (band, bucket), then exact
cosine only within buckets. The bucket space (bands × 2^nbits) grows with
the corpus via `suggest_nbits`, so expected bucket size — and therefore
the within-bucket pair expansion — stays constant under scale-up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils import round4


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def dot_product(a: Column, b: Column) -> Column:
    """Plain in-row dot product (left-fold sum — the engine-portable
    evaluation order every oracle replays with list_dot_product)."""
    return _dot(a, b)


def unit_vectors(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, v): double-cast, L2-normalized vectors — normalize ONCE so
    pair scoring downstream is a plain dot product. In a pair-scoring
    stage every vector is touched once per CANDIDATE PAIR; computing
    cosine there re-derives both norms per pair (~3× the arithmetic,
    ~99× redundant per vector on clone-heavy corpora), while
    normalizing in the corpus scan does each vector exactly once.

    The norm is materialized in its OWN projection before the
    per-element divide — Catalyst does no CSE through lambda HOFs, so
    an inlined norm would re-evaluate the full sum-of-squares PER
    ELEMENT (the tokenizer lesson, BASELINE.md). Zero vectors divide to
    NaN and never clear a cosine threshold — the same behavior as
    cosine()'s 0/0."""
    return (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v0"),
        )
        .select("id", "v0", _norm(F.col("v0")).alias("_n"))
        .select("id", F.transform("v0", lambda x: x / F.col("_n")).alias("v"))
    )


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for the given query ids.
    Plan: broadcast the |Q| query vectors against the corpus — a single
    narrow map stage + per-query top-k (window over partitionBy(query) is
    fine because |Q| is small; for large |Q| switch to groupBy + min_by/
    slice(sort_array(collect_list))).
    Deterministic tie-break: (score desc, id asc); scores rounded to 4dp
    so engine float-order differences can't flip rankings in the oracle."""
    from pyspark.sql.window import Window

    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(
            _fan_out(
                embeddings.select(
                    F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
                )
            )
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            round4(cosine(F.col("qvec"), F.col("nvec"))).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


_HEX = "0123456789abcdef"


def _plane_weight(plane: int, idx: Column) -> Column:
    """Deterministic ±1 hyperplane weight for (plane, coordinate idx):
    +1 iff the first hex digit of md5('<plane>:<idx>') is >= '8'. md5 is
    the portable seed — identical in Spark and DuckDB, no RNG, stable
    run-to-run and engine-to-engine."""
    h = F.md5(F.concat_ws(":", F.lit(str(plane)), idx.cast("string")))
    return F.when(
        F.instr(F.lit(_HEX), F.substring(h, 1, 1)) >= 9, F.lit(1.0)
    ).otherwise(F.lit(-1.0))


def sign_lsh_bucket(vec: Column, nbits: int = 8, band: int = 0) -> Column:
    """Random-hyperplane LSH bucket over the FULL vector: bit p is the
    sign of sum_j w[p,j] * v[j] with deterministic md5-seeded ±1 weights
    (a Rademacher projection — a valid cosine-LSH family). Unlike a
    first-nbits sign pattern, every coordinate contributes, so the 2^nbits
    bucket space is actually populated uniformly and nbits can grow with
    the corpus (VERDICT r1: the fixed axis-aligned variant went quadratic
    within buckets at scale). `band` offsets the plane seeds so multi-band
    tables use independent hyperplane sets."""
    def weight_fn(plane: int):
        return lambda x, i: _plane_weight(plane, i)

    bits = []
    for p in range(nbits):
        plane = band * nbits + p
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.transform(vec, weight_fn(plane)),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucket_table(
    embeddings: DataFrame,
    nbits: int,
    bands: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, bucket) for every row — same hyperplane family and the
    SAME bucket values as `sign_lsh_bucket`, but evaluated as
    posexplode → codegen'd weighted sums → groupBy instead of nested
    higher-order functions. Measured at sf0.1 (2000×64-dim vectors,
    nbits=4, bands=2): the HOF formulation took 8.5 s because Spark
    evaluates transform/zip_with/aggregate interpreted; this plan stays
    inside whole-stage codegen with a map-side-combined shuffle of
    bands×nbits doubles per row. Float-sum order is preserved (one row's
    exploded coordinates stay contiguous in one task), so buckets are
    bit-identical to the sequential formulation — the oracle SQL is
    shared."""
    ex = _fan_out(embeddings.select(id_col, vec_col)).select(
        F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("j", "x")
    )
    aggs = []
    for band in range(bands):
        for p in range(nbits):
            plane = band * nbits + p
            aggs.append(
                F.sum(F.col("x").cast("double") * _plane_weight(plane, F.col("j"))).alias(
                    f"_s{plane}"
                )
            )
    g = ex.groupBy("id").agg(*aggs)
    per_band = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat(
                *[
                    F.when(F.col(f"_s{b * nbits + p}") > 0, "1").otherwise("0")
                    for p in range(nbits)
                ]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return g.select("id", F.explode(F.array(*per_band)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def suggest_nbits(n_rows: int, target_bucket: int = 256) -> int:
    """nbits so the EXPECTED bucket size is ~target_bucket: bucket space
    must grow with the corpus or within-bucket pair expansion goes
    quadratic. 2^nbits ≈ n_rows / target_bucket."""
    import math

    return max(4, math.ceil(math.log2(max(n_rows, 1) / target_bucket + 1)))


def lsh_bucketed_candidates(
    embeddings: DataFrame,
    nbits: int | None = 8,
    bands: int = 1,
    max_bucket: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(a, b) candidate pairs sharing a hyperplane-LSH bucket in ANY of
    `bands` independent tables; equi-join on (band, bucket) — never
    all-pairs. nbits=None derives the bucket-space size from the corpus
    count (one cheap count job). Buckets larger than `max_bucket` are
    dropped (and counted via the `dropped_buckets` accumulator-style
    second aggregate the caller can inspect with
    `oversized_buckets(...)`) — a hot bucket at 10^9 rows would otherwise
    dominate the pair expansion."""
    if nbits is None:
        nbits = suggest_nbits(embeddings.count())
    b = lsh_bucket_table(embeddings, nbits, bands, id_col, vec_col)
    if max_bucket is not None:
        counts = b.groupBy("band", "bucket").agg(F.count("*").alias("n"))
        keep = counts.filter(F.col("n") <= max_bucket).select("band", "bucket")
        b = b.join(keep, ["band", "bucket"], "left_semi")
    l = b.select("band", "bucket", F.col("id").alias("a"))
    r = b.select("band", "bucket", F.col("id").alias("b"))
    return (
        l.join(r, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "band", "bucket")
    )


def oversized_buckets(
    embeddings: DataFrame,
    nbits: int = 8,
    bands: int = 1,
    max_bucket: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(band, bucket, n) for buckets the candidate join would drop — the
    observability half of the bucket-size cap."""
    b = lsh_bucket_table(embeddings, nbits, bands, id_col, vec_col)
    return b.groupBy("band", "bucket").agg(F.count("*").alias("n")).filter(
        F.col("n") > max_bucket
    )


def _probe_buckets(bucket: Column, nbits: int, probe_bits: int) -> Column:
    """Array of bucket strings within Hamming distance <= probe_bits of
    `bucket` (multi-probe LSH, Lv et al. VLDB'07 simplified to exhaustive
    radius-r probing — fine because it runs only on the tiny broadcast
    query side; the corpus-side table is untouched). probe_bits=0 returns
    just the bucket itself."""
    from itertools import combinations

    def flip(col: Column, positions: tuple[int, ...]) -> Column:
        out = col
        for i in positions:
            out = F.concat(
                F.substring(out, 1, i - 1),
                F.when(F.substring(out, i, 1) == "1", F.lit("0")).otherwise(F.lit("1")),
                F.substring(out, i + 1, nbits - i),
            )
        return out

    probes = [bucket]
    for r in range(1, probe_bits + 1):
        for pos in combinations(range(1, nbits + 1), r):
            probes.append(flip(bucket, pos))
    return F.array(*probes)


def lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nbits: int = 6,
    bands: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: exact cosine restricted to candidates sharing a
    bucket with the query in ANY of `bands` hyperplane tables (multi-band
    raises recall; candidates are deduped before scoring). Buckets come
    from the codegen `lsh_bucket_table` path — the per-row higher-order
    formulation is interpreted and pays ~dims×nbits lambda calls per row,
    which at 10^9 rows is core-hours.

    `probe_bits` > 0 turns on multi-probe: each query additionally probes
    every bucket within that Hamming distance of its own, in every band.
    The probe fan-out multiplies only the broadcast query side (queries ×
    bands × sum_r C(nbits, r) rows) — the corpus bucket table and the
    equi-join shape are unchanged, so candidate volume grows by at most
    the probe factor while recall rises sharply on corpora where true
    neighbors straddle a hyperplane (measured in BASELINE.md)."""
    from pyspark.sql.window import Window

    bt = lsh_bucket_table(embeddings, nbits, bands, id_col, vec_col)
    qb = bt.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), "band", "bucket"
    )
    if probe_bits > 0:
        qb = qb.select(
            "query_id",
            "band",
            F.explode(_probe_buckets(F.col("bucket"), nbits, probe_bits)).alias("bucket"),
        ).distinct()
    cand = _spread(
        F.broadcast(qb)
        .join(bt.select(F.col("id").alias("neighbor_id"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    vecs = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    qv = vecs.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), F.col("v").alias("qvec")
    )
    scored = (
        cand.join(vecs.select(F.col("id").alias("neighbor_id"), F.col("v").alias("nvec")), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "neighbor_id",
            round4(cosine(F.col("qvec"), F.col("nvec"))).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def suggest_n_centroids(n_rows: int) -> int:
    """IVF centroid count ~ sqrt(corpus): expected inverted-list length
    equals the centroid count, balancing the probe-side centroid scan
    against the within-list exact scoring (the standard IVF sizing; the
    LSH analogue is `suggest_nbits`)."""
    import math

    return max(4, math.isqrt(max(n_rows, 1)))


def _fan_out(df: DataFrame, factor: int = 2) -> DataFrame:
    """Small-input parallelism guard — the `extract_triples` fix applied
    to the vector stages: a small embeddings parquet bin-packs into 1-2
    scan partitions, which serializes every downstream CPU-bound
    per-row vector expression (an interpreted zip_with/aggregate dot is
    ~200 ops per 64-dim vector; measured: the 253k-pair near-dup scoring
    stage ran on ONE core). When the scan yields fewer partitions than
    the cluster's parallelism, pay one cheap shuffle of the narrow rows
    to fan the compute out; at real scale the condition is false and no
    shuffle is added. (Delegates to utils.fan_out_scan, which has no off
    switch; measured a WIN only for the vector stages — interpreted
    per-row math ~200 ops/row — and a LOSS for the lighter text tokenize
    paths, which therefore do not use it; see OPTIMIZATION_r07.md.)"""
    from ..utils import fan_out_scan

    return fan_out_scan(df, factor)


def _spread(df: DataFrame, factor: int = 2) -> DataFrame:
    """Spread a CPU-bound scoring input over the cluster regardless of
    its byte size: AQE coalesces post-shuffle partitions by BYTES, so a
    few MB of candidate pairs collapse to one partition even though each
    row carries an interpreted ~200-op dot product (guide §2.5's
    skew-by-CPU, not skew-by-bytes). One round-robin shuffle of the
    narrow pair rows costs microseconds per MB and buys full-cluster
    parallelism for the scoring stage; partition count scales with the
    cluster (defaultParallelism), not a constant."""
    try:
        n = df.sparkSession.sparkContext.defaultParallelism * factor
    except Exception:  # noqa: BLE001
        return df
    return df.repartition(n)


def _double_vecs(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # no fan-out here: measured (fresh-process on/off pairs) — the
    # centroid-assignment consumers are either cheap (small centroid
    # sets) or re-spread downstream (_spread before pair scoring), and
    # the extra exchange cost ann_ivf ~1 s; see OPTIMIZATION_r07.md
    return embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )


def ivf_seed_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid seeds: the `n_centroids` corpus rows with the
    smallest md5(id) — a pseudo-random sample with NO RNG and NO dense-id
    assumption (works for sparse / hashed / string ids alike; ADVICE r2
    killed the old `id % stride` derivation which silently returned an
    empty set on non-dense ids). `centroid_id` IS the seed row's own id:
    unique and stable with no ranking step, so the plan is a
    TakeOrderedAndProject (no window, no shuffle). md5 is engine-portable —
    the DuckDB oracle replays the identical selection."""
    return (
        embeddings.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cvec"),
        )
    )


def _centroid_distances(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, centroid_id, dist) for every (vector, centroid) pair —
    broadcast the tiny centroid set against the corpus, one narrow
    stage."""
    return vecs.crossJoin(F.broadcast(cents)).select(
        "id",
        "centroid_id",
        round4(
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("v"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                )
            )
        ).alias("dist"),
    )


def _nearest_centroid(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, centroid_id, dist): broadcast the tiny centroid set against the
    corpus — one narrow stage, no shuffle before the partial-aggregated
    argmin. The argmin is `min(struct(dist, centroid_id))` — deterministic
    lexicographic tie-break AND map-side combine absorbs the n_centroids
    fan-out before the shuffle, instead of a row_number window that would
    sort-shuffle every scored row."""
    scored = _centroid_distances(vecs, cents)
    return (
        scored.groupBy("id")
        .agg(F.min(F.struct("dist", "centroid_id")).alias("m"))
        .select("id", F.col("m.centroid_id").alias("centroid_id"), F.col("m.dist").alias("dist"))
    )


def _topk_centroids(vecs: DataFrame, cents: DataFrame, k: int) -> DataFrame:
    """(id, centroid_id, dist, assign_rank): each vector's k nearest
    centroids via ITERATIVE EXCLUSION — round r takes min(struct) over
    pairs not already picked, so every round keeps the map-side-combined
    partial-agg shape (a row_number window would sort-shuffle the full
    n×n_centroids score table; the plan tests forbid that). Cost: the
    broadcast distance stage is evaluated k times — the standard
    multi-assignment trade, sensible only for small k (2-4). Used for
    IVF replication: near-identical vectors that straddle a Voronoi
    boundary land in BOTH adjacent inverted lists, which is what repairs
    near-dup recall (see BASELINE.md recall table)."""
    picked = _nearest_centroid(vecs, cents).select(
        "id", "centroid_id", "dist", F.lit(1).alias("assign_rank")
    )
    for r in range(2, k + 1):
        scored = _centroid_distances(vecs, cents)
        remaining = scored.join(
            picked.select("id", "centroid_id"), ["id", "centroid_id"], "left_anti"
        )
        nxt = (
            remaining.groupBy("id")
            .agg(F.min(F.struct("dist", "centroid_id")).alias("m"))
            .select(
                "id",
                F.col("m.centroid_id").alias("centroid_id"),
                F.col("m.dist").alias("dist"),
                F.lit(r).alias("assign_rank"),
            )
        )
        picked = picked.unionByName(nxt)
    return picked


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int | None = None,
    refine_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroid table (centroid_id, cvec), optionally k-means-refined.

    Each Lloyd iteration is the same broadcast assign loop as `ivf_assign`
    followed by a per-dimension mean: posexplode (codegen) → partial-agg
    avg keyed on (centroid_id, dim) → re-pack ordered by dim. Shuffle
    volume per iteration is n_centroids × dims doubles — independent of
    corpus size after the map-side combine. Empty clusters keep their
    previous centroid (coalesce), so the centroid count never shrinks.
    1-2 iterations recover most of the recall a stride-sample seed loses;
    the loop is bounded and each round's result is pinned (tiny table) so
    lineage never doubles."""
    if n_centroids is None:
        n_centroids = suggest_n_centroids(embeddings.count())
    cents = ivf_seed_centroids(embeddings, n_centroids, id_col, vec_col)
    if refine_iters <= 0:
        return cents
    vecs = _double_vecs(embeddings, id_col, vec_col)
    for _ in range(refine_iters):
        assigned = _nearest_centroid(vecs, cents).select("id", "centroid_id")
        ex = assigned.join(vecs, "id").select(
            "centroid_id", F.posexplode("v").alias("j", "x")
        )
        means = (
            ex.groupBy("centroid_id", "j")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("j", "m"))).alias("s"))
            .select("centroid_id", F.col("s.m").alias("new_cvec"))
        )
        cents = (
            cents.join(means, "centroid_id", "left")
            .select("centroid_id", F.coalesce("new_cvec", "cvec").alias("cvec"))
            .localCheckpoint(eager=True)  # tiny: n_centroids rows
        )
    return cents


def _assign_numpy(
    vecs: DataFrame, cents: DataFrame, assign_k: int
) -> DataFrame:
    """Vectorized centroid assignment: one Arrow-batched `mapInPandas`
    stage computing all n×k distances per batch as a numpy matmul
    (||x||² − 2xCᵀ + ||c||², clamped at 0) instead of n×k interpreted
    zip_with/aggregate lambdas — measured 5.4× on the whole
    cluster_balanced_sample stage at 200k vectors × 447 centroids
    (81 → 15 s including the non-assignment work).
    The centroid matrix is collected to the driver and shipped in the
    task closure — it is bounded by the centroid count (sqrt corpus),
    never corpus-scale.

    Semantics are pinned to the expr path: distances are round4-ed
    BEFORE the arg-min and ties break on the smaller centroid_id, so
    both paths elect identical assignments (test_ivf_assign_numpy_
    matches_expr asserts row-for-row equality, including assign_k > 1
    iterative exclusion). The expansion formula alone is NOT enough for
    that guarantee: its cancellation error scales with eps·(‖x‖²+‖c‖²),
    which for 1e6-norm vectors exceeds the 1e-4 round4 grid (ADVICE r5).
    So the matmul is a PREFILTER only — every entry that could reach the
    top-k or tie it at the round4 grid (approx dist within the
    per-entry cancellation bound + one grid cell of the k-th smallest)
    is recomputed exactly as the per-element subtraction with a
    sequential left-fold over dims, the same operation order as
    `F.aggregate`'s fold in `_centroid_distances`, making the emitted
    distances bit-identical to the expr path at ANY input norm. In the
    non-degenerate case that is ~k entries per row; fully tied inputs
    degrade to exact-everything in bounded memory chunks."""
    import numpy as np

    rows = cents.orderBy("centroid_id").collect()
    C = np.array([list(r["cvec"]) for r in rows], dtype=np.float64)
    cids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
    k = min(assign_k, len(cids))

    def _exact_refine(X: "np.ndarray", dist: "np.ndarray", cand: "np.ndarray"):
        """Overwrite dist[cand] with the exact sequential-fold distance
        sqrt(fold(acc + (x_j-c_j)^2)), chunked to bound the (pairs × dims)
        gather memory."""
        rr, cc = np.nonzero(cand)
        step = max(1, 4_000_000 // max(C.shape[1], 1))
        for s in range(0, len(rr), step):
            r_s, c_s = rr[s : s + step], cc[s : s + step]
            diff = X[r_s] - C[c_s]
            acc = np.zeros(len(r_s), dtype=np.float64)
            for j in range(diff.shape[1]):  # left-fold: F.aggregate's order
                dj = diff[:, j]
                acc = acc + dj * dj
            dist[r_s, c_s] = np.sqrt(acc)

    def gen(batches):
        import pandas as pd

        c2 = (C * C).sum(axis=1)
        eps = np.finfo(np.float64).eps
        err_factor = (4.0 * C.shape[1] + 16.0) * eps  # summation + expansion
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            x2 = (X * X).sum(axis=1)
            d2 = np.maximum(x2[:, None] - 2.0 * (X @ C.T) + c2[None, :], 0.0)
            dist = np.sqrt(d2)
            # |Δd2| ≤ err2 ⇒ |Δdist| ≤ min(√err2, err2/(2·dist))
            err2 = err_factor * (x2[:, None] + c2[None, :])
            ed = np.sqrt(err2)
            np.minimum(ed, err2 / np.maximum(2.0 * dist, 1e-300), out=ed)
            kth = np.partition(dist, k - 1, axis=1)[:, k - 1 : k]
            # entry excluded only if provably beyond the k-th exact dist
            # by more than one round4 grid cell: cover the entry's own
            # error AND the (row-max) error of whichever entry is truly
            # k-th
            cand = dist <= kth + ed + ed.max(axis=1, keepdims=True) + 1e-4
            _exact_refine(X, dist, cand)
            dist = np.where(
                cand, np.floor(dist * 10000 + 0.5) / 10000, np.inf
            )
            ids = pdf["id"].to_numpy()
            out_id, out_cid, out_dist, out_rank = [], [], [], []
            work = dist.copy()
            for r in range(1, k + 1):
                m = work.min(axis=1, keepdims=True)
                cand = np.where(work == m, cids[None, :], np.iinfo(np.int64).max)
                pick_cid = cand.min(axis=1)
                pick_col = np.searchsorted(cids, pick_cid)  # cids sorted asc
                out_id.append(ids)
                out_cid.append(pick_cid)
                out_dist.append(m[:, 0])
                out_rank.append(np.full(len(ids), r, dtype=np.int64))
                work[np.arange(len(ids)), pick_col] = np.inf
            yield pd.DataFrame(
                {
                    "id": np.concatenate(out_id),
                    "centroid_id": np.concatenate(out_cid),
                    "dist": np.concatenate(out_dist),
                    "assign_rank": np.concatenate(out_rank),
                }
            )

    out = vecs.mapInPandas(
        gen, "id long, centroid_id long, dist double, assign_rank long"
    )
    if assign_k <= 1:
        return out.select("id", "centroid_id", "dist")
    return out.select(
        "id", "centroid_id", "dist", F.col("assign_rank").cast("int").alias("assign_rank")
    )


# centroid count above which ivf_assign(method='auto') switches to the
# numpy matmul path: below it the codegen-friendly expr plan wins (and
# stays byte-replayable by the SQL oracles); above it the n×k
# interpreted lambda evaluation dominates the stage
_NUMPY_ASSIGN_MIN_CENTROIDS = 64


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    refine_iters: int = 0,
    assign_k: int = 1,
    method: str = "auto",
) -> DataFrame:
    """IVF (inverted-file) coarse quantization: assign every vector to its
    nearest centroid. Returns (id, centroid_id, dist) where centroid_id is
    the seed row's corpus id.

    Scale path: searches then probe only the top-p nearest centroid lists
    instead of the whole corpus — the standard IVF trade (recall vs probe
    count) with the centroid fan-out growing as sqrt(corpus)
    (`suggest_n_centroids`). Pass a precomputed `centroids` table to share
    one centroid derivation across assign/probe (ivf_topk does).

    `assign_k` > 1 replicates each vector into its k nearest inverted
    lists (k× storage + assignment compute); vectors near a Voronoi
    boundary — exactly where near-duplicates of a query hide — become
    reachable from either side's probe.

    `method`: 'expr' = the broadcast zip_with/aggregate plan (codegen-
    friendly, byte-replayable by the SQL oracles); 'numpy' = one
    Arrow-batched matmul stage (`_assign_numpy` — 5.4× stage-level at
    447 centroids); 'auto' picks numpy above
    `_NUMPY_ASSIGN_MIN_CENTROIDS` centroids, where the interpreted
    per-element lambda cost dominates. Both elect identical
    assignments (equality-tested)."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, n_centroids, refine_iters, id_col, vec_col)
    )
    vecs = _double_vecs(embeddings, id_col, vec_col)
    if method == "auto":
        k_c = n_centroids
        if centroids is not None or k_c is None:
            k_c = cents.count()  # tiny table by construction
        method = "numpy" if k_c > _NUMPY_ASSIGN_MIN_CENTROIDS else "expr"
    if method == "numpy":
        return _assign_numpy(vecs, cents, assign_k)
    if method != "expr":
        raise ValueError(f"unknown assign method {method!r}: use auto/expr/numpy")
    if assign_k <= 1:
        return _nearest_centroid(vecs, cents)
    return _topk_centroids(vecs, cents, assign_k)


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int | None = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    assign_k: int = 1,
) -> DataFrame:
    """Approximate top-k via IVF: score only vectors whose centroid is
    among the query's `n_probe` nearest centroids. Candidate generation is
    an equi-join on centroid_id — never all-pairs. ONE centroid table
    (pinned — tiny) feeds both the corpus assignment and the query probe
    ranking; the old duplicate derivation + two count() jobs are gone
    (VERDICT r2 / ADVICE r2). `assign_k` > 1 turns on multi-assignment
    (see ivf_assign); candidates reachable through several lists are
    deduped before scoring."""
    cents = ivf_centroids(
        embeddings, n_centroids, refine_iters, id_col, vec_col
    ).localCheckpoint(eager=True)
    # resolve the auto method dispatch HERE from the pinned table's count
    # (one cheap job on checkpointed blocks) instead of letting ivf_assign
    # schedule its own count job for the same number
    k_c = cents.count()
    assign = ivf_assign(
        embeddings, id_col=id_col, vec_col=vec_col, centroids=cents,
        assign_k=assign_k,
        method="numpy" if k_c > _NUMPY_ASSIGN_MIN_CENTROIDS else "expr",
    )
    return _ivf_probe_topk(
        _double_vecs(embeddings, id_col, vec_col),
        cents, assign, query_ids, k, n_probe, assign_k,
    )


def _ivf_probe_topk(
    vecs0: DataFrame,
    cents: DataFrame,
    assign: DataFrame,
    query_ids: list,
    k: int,
    n_probe: int,
    assign_k: int,
) -> DataFrame:
    """The probe half of IVF top-k over an EXISTING (centroids,
    assignments) pair — shared by `ivf_topk` (inline derivation) and
    `ann_index.ann_index_topk` (loaded artifact). `vecs0` is the
    (id, v double-array) corpus table."""
    from pyspark.sql.window import Window

    vecs = vecs0.join(assign.select("id", "centroid_id"), "id")
    # queries come from the UN-replicated vector table: with assign_k > 1
    # the assignment join emits one row per (vector, list) and a query
    # drawn from it would duplicate every scored pair
    q = vecs0.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv")
    )
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "centroid_id",
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ).alias("d2"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("centroid_id").asc())
    probes = qc.withColumn("_r", F.row_number().over(wq)).filter(F.col("_r") <= n_probe).select(
        "query_id", "centroid_id"
    )
    cand = F.broadcast(probes).join(vecs, "centroid_id").select(
        "query_id", F.col("id").alias("neighbor_id"), F.col("v").alias("nv")
    )
    if assign_k > 1:
        # a replicated vector is reachable through several probed lists —
        # dedupe (query, neighbor) before scoring or row_number would
        # emit duplicate ranked rows; the dedup shuffle coalesces by
        # bytes, so spread the CPU-bound cosine stage back out
        cand = _spread(cand.dropDuplicates(["query_id", "neighbor_id"]))
    scored = cand.join(F.broadcast(q), "query_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        round4(cosine(F.col("qv"), F.col("nv"))).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def semantic_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_limit: int = 20_000,
    prefilter: str | None = None,
    nbits: int = 4,
    bands: int = 2,
    probe_bits: int = 1,
) -> DataFrame:
    """(vec_id, max_bench_cosine, n_bench_hits) for every training
    vector whose embedding is within cosine `threshold` of ANY
    benchmark/eval vector — the semantic complement of the n-gram
    `datasets.decontaminate` (paraphrased or re-formatted eval items
    share no 8-gram but sit next to the eval set in embedding space).

    Two plans, selected by `prefilter`:

    - ``None`` (exact): broadcast the bench vectors against the corpus —
      O(n_train × n_bench) dot products, in-row, nothing wider than
      (id, cosine) shuffles. The right trade only while the bench side
      is eval-suite sized: `broadcast_limit` (default 20k) is the guard
      rail — above it this mode raises instead of silently degrading to
      a shuffled non-equi cross join, because 100k bench rows × a 100 TB
      corpus is never the plan you meant. Use the prefiltered mode.
    - ``'lsh'`` (scale path): hyperplane-LSH bucket BOTH sides with
      `lsh_bucket_table` (the `embedding_near_dups` shape), multi-probe
      the bench side (`probe_bits` Hamming-ball expansion — fan-out
      multiplies only the small side), equi-join on (band, bucket),
      dedupe (train, bench) candidates across bands, then exact-cosine
      verify. Candidate generation is an equi-join — never all-pairs —
      so both sides may be corpus-scale. Recall is that of the LSH
      family (measured ≥0.95 vs brute force at threshold 0.95 on
      near-dup-style contamination; see BASELINE.md): at near-dup
      cosines collisions are near-certain in some band, which is
      exactly the decontamination regime — a paraphrase sitting at
      cosine 0.95+ of an eval item. `n_bench_hits` counts hits among
      candidates, so it can undercount (never overcount) vs exact."""
    t = _double_vecs(train, id_col, vec_col)
    b = _double_vecs(bench, id_col, vec_col).select(
        F.col("id").alias("_bid"), F.col("v").alias("_bv")
    )
    if prefilter is None:
        small = b.limit(broadcast_limit + 1).count() <= broadcast_limit
        if not small:
            raise ValueError(
                f"semantic_decontaminate: bench side exceeds broadcast_limit="
                f"{broadcast_limit} rows; the exact mode would degenerate to a "
                f"shuffled cross join. Use prefilter='lsh' (bucketed candidates + "
                f"exact verify) or raise broadcast_limit deliberately."
            )
        scored = t.crossJoin(F.broadcast(b)).select(
            "id", round4(cosine(F.col("v"), F.col("_bv"))).alias("cos")
        )
    elif prefilter == "lsh":
        tb = lsh_bucket_table(train, nbits, bands, id_col, vec_col)
        bb = lsh_bucket_table(bench, nbits, bands, id_col, vec_col).select(
            F.col("id").alias("_bid"), "band", "bucket"
        )
        if probe_bits > 0:
            bb = bb.select(
                "_bid",
                "band",
                F.explode(_probe_buckets(F.col("bucket"), nbits, probe_bits)).alias(
                    "bucket"
                ),
            ).distinct()
        cand = (
            tb.join(bb, ["band", "bucket"])
            .select("id", "_bid")
            .distinct()
        )
        scored = (
            cand.join(t, "id")
            .join(b, "_bid")
            .select("id", round4(cosine(F.col("v"), F.col("_bv"))).alias("cos"))
        )
    else:
        raise ValueError(f"unknown prefilter {prefilter!r}: use None or 'lsh'")
    return (
        scored.filter(F.col("cos") >= threshold)
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.max("cos").alias("max_bench_cosine"),
            F.count("*").alias("n_bench_hits"),
        )
    )


def ann_topk_router(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    workload: str = "near_dup",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Operator selection for ANN top-k by workload — the measured
    routing from the BASELINE.md recall study (recall@10, 20 queries,
    sf0.1 embeddings + deterministic 10× near-dup blow-up):

    - ``near_dup`` (dedup-style: the true neighbors are perturbed copies
      of the query) → `lsh_topk(nbits=4, bands=4, probe_bits=1)`:
      recall 1.00 near-dup / 0.93 iid at ~1/5 the candidate volume of
      the IVF alternative. Near-identical vectors agree on every
      hyperplane sign, so multi-band + 1-bit probing is essentially
      exhaustive over the clone set.
    - ``topic`` (retrieval-style: neighbors are semantically close but
      not copies; centroid routing matches how the corpus clusters) →
      `ivf_topk(n_probe=16, assign_k=2)`: recall 0.92 iid. When an IVF
      layout must ALSO serve near-dup queries (one index for both), the
      measured ≥0.9 config is `n_probe=48, assign_k=4` (0.945 near-dup,
      round-5 study) — replication into 4 inverted lists recovers clones
      that straddle centroid boundaries, and widening the probe list is
      free relative to more replication (same wall time as n_probe=32's
      0.895; assign_k=5 also clears at 0.92 but costs ~2×).

    The router keeps the workload→config mapping in one audited place so
    pipeline code does not re-derive it from the study."""
    if workload == "near_dup":
        return lsh_topk(
            embeddings, query_ids, k=k, nbits=4, bands=4, probe_bits=1,
            id_col=id_col, vec_col=vec_col,
        )
    if workload == "topic":
        return ivf_topk(
            embeddings, query_ids, k=k, n_centroids=None, n_probe=16,
            assign_k=2, id_col=id_col, vec_col=vec_col,
        )
    raise ValueError(f"unknown ANN workload {workload!r}: use 'near_dup' or 'topic'")


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    nbits: int = 4,
    bands: int = 2,
    max_bucket: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH bucket
    candidates (multi-band for recall — near-identical vectors land on the
    same side of every hyperplane, so any band catches them) → exact
    cosine ≥ threshold, deduped across bands. The scale path for semantic
    dedup of a training corpus: candidate generation is an equi-join on
    (band, bucket); nbits grows with corpus size (suggest_nbits) and
    oversized buckets are capped, so the within-bucket expansion stays
    bounded at 100×."""
    # pin the bucket table once — it is referenced by both self-join
    # sides, the cap counts, and the semi-join; without the pin the whole
    # bucketing lineage re-executes ~5× (bands×n rows: tiny by design)
    b = lsh_bucket_table(embeddings, nbits, bands, id_col, vec_col).localCheckpoint(
        eager=True
    )
    if max_bucket is not None:
        counts = b.groupBy("band", "bucket").agg(F.count("*").alias("n"))
        keep = counts.filter(F.col("n") <= max_bucket).select("band", "bucket")
        b = b.join(keep, ["band", "bucket"], "left_semi")
    # dedup candidate pairs ACROSS bands before scoring — a pair colliding
    # in both bands must be scored once, not twice
    pairs = _spread(
        b.select("band", "bucket", F.col("id").alias("a"))
        .join(b.select("band", "bucket", F.col("id").alias("b")), ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # exact cosine on the deduped pairs, in-row (zip_with + aggregate):
    # measured at sf0.1 this beats a posexplode'd codegen dot product —
    # the 16M-row (pairs × dims) explode shuffle costs more than the
    # interpreted per-element lambda, and the in-row form keeps the
    # float-sum order identical to the oracle's list_dot_product.
    # Vectors are L2-normalized ONCE in the corpus scan (unit_vectors)
    # so the per-pair work is a single dot product — on the 200k-vector
    # clone-clique stress (9.9M pairs, each vector in ~99 pairs) this
    # cut the pair stage 84.5 → 56.1 s; the residual is the candidate
    # join/distinct plus one interpreted 64-dim dot per pair (a numpy
    # pair-scoring path would trade that against shipping 2×64 doubles
    # per pair through Arrow — not obviously a win, unmeasured)
    vecs = unit_vectors(embeddings, id_col, vec_col)
    pv = pairs.join(vecs.select(F.col("id").alias("a"), F.col("v").alias("va")), "a").join(
        vecs.select(F.col("id").alias("b"), F.col("v").alias("vb")), "b"
    )
    return pv.select(
        "a", "b", round4(_dot(F.col("va"), F.col("vb"))).alias("score")
    ).filter(F.col("score") >= threshold)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    nbits: int = 4,
    bands: int = 2,
    max_bucket: int | None = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scores: DataFrame | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Embedding-space deduplication ACTION (the SemDeDup recipe, Abbas
    et al. 2023): cluster vectors whose cosine similarity transitively
    exceeds `threshold` and elect one representative per cluster.
    Composes the engine's two proven pieces — `embedding_near_dups`
    (LSH-bucketed candidates → exact-cosine pairs; equi-join, never
    all-pairs) and the skew-hardened connected-components operator via
    `dedup.near_dup_clusters` (transitivity matters: A~B and B~C puts A
    and C in one cluster even when they never share a bucket, and
    pairwise-only dedup under-deletes exactly those chains).

    Output: (id, cluster_id, is_rep) for EVERY input vector —
    cluster_id is the smallest member id, is_rep=1 marks the kept
    representative (deterministic: the min id, matching the text-side
    `dedup_clusters` convention so mixed text+embedding pipelines agree
    on survivors). Filtering is_rep=1 is the dedup pass; keeping the
    full table is the audit view.

    With `scores` (an (id_col, score_col) table — quality_score or any
    numeric signal), the representative is
    instead the HIGHEST-scoring cluster member via
    `dedup.elect_cluster_reps` (ties → min id; all-unscored clusters
    degrade to min-id) — production SemDeDup keeps the best-quality
    member, not an arbitrary one. cluster_id stays the min member id
    either way, so cluster identities are stable across the two
    policies."""
    from .dedup import elect_cluster_reps, near_dup_clusters

    pairs = embedding_near_dups(
        embeddings, threshold, nbits, bands, max_bucket, id_col, vec_col
    )
    clusters = near_dup_clusters(
        embeddings.select(F.col(id_col)), pairs.select("a", "b"), id_col=id_col
    )
    if scores is not None:
        return elect_cluster_reps(
            clusters, scores, id_col=id_col, score_col=score_col
        ).select(id_col, "cluster_id", "is_rep")
    return clusters.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("is_rep"),
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    target_per_cluster: int,
    n_centroids: int | None = 16,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 4,
) -> DataFrame:
    """Cluster-balanced corpus sampling: cap every semantic cluster at
    `target_per_cluster` vectors in expectation — the diversity-
    preserving downsampling used by DataComp-style curation (web corpora
    are dominated by a few huge topic clusters; a uniform sample keeps
    that imbalance, this flattens it without dropping rare clusters).

    Plan: IVF coarse assignment (`ivf_assign` — broadcast argmin against
    the deterministic centroid table, map-side-combined) → per-cluster
    counts → per-cluster keep-cutoff computed IN SPARK with pure integer
    arithmetic (`target*16^digits div n`, floored to >= 1 slot, sentinel
    'ff…fg' for keep-all — the `hash_split` portability rules) → join
    the #centroids-row cutoff table back (AQE broadcasts it; no explicit
    hint so an unexpectedly huge centroid table degrades to a shuffle
    join instead of an executor OOM) → the same md5(cluster:id)
    threshold predicate as `stratified_sample`. Fully distributed: no
    driver collect anywhere, so centroid count can scale with
    sqrt(corpus) unbounded.

    Returns the KEPT rows (id, centroid_id). Deterministic, seed-free,
    engine-replayable; per-cluster kept counts are binomial around the
    target (exact-k per cluster would need a per-cluster top-k sort —
    one reducer per cluster, the hot-partition collapse
    `token_budget_sample` documents)."""
    space = 16**digits
    # pin the assignment: it feeds BOTH the per-cluster counts and the
    # filtered output — without the pin the broadcast-argmin stage (the
    # dominant n × n_centroids dot-product work) re-executes once per
    # reference. Narrow rows (id, centroid_id, dist): linear to store.
    assign = ivf_assign(
        embeddings,
        n_centroids=n_centroids,
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
    ).localCheckpoint(eager=True)
    sizes = assign.groupBy("centroid_id").agg(F.count("*").alias("_n"))
    cuts = sizes.select(
        "centroid_id",
        F.when(F.col("_n") <= target_per_cluster, F.lit("f" * digits + "g"))
        .otherwise(
            F.lower(
                F.lpad(
                    F.hex(
                        F.greatest(
                            F.lit(1),
                            F.expr(f"{target_per_cluster * space} div _n"),
                        )
                    ),
                    digits,
                    "0",
                )
            )
        )
        .alias("_cut"),
    )
    prefix = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.col("centroid_id").cast("string"), F.col("id").cast("string")
            )
        ),
        1,
        digits,
    )
    return (
        assign.join(cuts, "centroid_id")
        .filter(prefix < F.col("_cut"))
        .select(F.col("id").alias(id_col), "centroid_id")
    )
