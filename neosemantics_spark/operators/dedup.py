"""Document deduplication operators for large-scale training-data pipelines.

Beyond the reference's statement-level dedup (A4/A5), a 100 TB corpus
engine needs document-level dedup. All operators run over a
`documents(doc_id, text, …)`-shaped table and are pure column expressions
(JVM-side, whole-stage codegen) except nothing — no Python in any of them.

Design for scale:
- exact dedup: one hash-groupBy (map-side partial agg absorbs skew).
- MinHash+LSH: shingle→minhash→band→bucket self-join. The self-join is on
  the band-bucket key, so candidate generation never goes quadratic; the
  bucket key space grows with corpus size. Deterministic: hash_i(shingle)
  = md5(i || shingle) and the signature is the lexicographic min — no RNG,
  reproducible run-to-run and engine-to-engine (oracle-checkable).
- SimHash: 32-bit signature from the top bit of each hex nibble of
  md5(token), weighted ±1 — again engine-portable; near-dup candidates
  join on 8-hex-char quarter bands (Hamming ≤ small ⇒ some quarter equal).
- n-gram Jaccard: exact verification on candidate pairs (or small inputs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils import round4

# --------------------------------------------------------------- helpers
def _words(col: Column) -> Column:
    return F.split(F.trim(F.lower(col)), r"\s+")


def shingles_of_words(w: Column, k: int = 3) -> Column:
    """k-word shingle array (distinct) from an ALREADY-MATERIALIZED word
    array column. The caller must project `_words(...)` into its own
    column first: Catalyst does no common-subexpression elimination
    through lambda HOFs, so referencing the tokenizer expression inside
    the transform would re-split the text once per shingle window
    (measured 4x on the decontam pipeline; same class of fix here)."""
    n = F.size(w)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, k))
    )
    return F.array_distinct(F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", w))))


def shingles(col: Column, k: int = 3) -> Column:
    """k-word shingle array from the raw text column. Only for one-shot
    per-row use where the word array cannot be projected separately —
    prefer `shingle_rows` / `shingles_of_words` (see docstring there)."""
    return shingles_of_words(_words(col), k)


def shingle_rows(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, shingle) exploded rows with the word array materialized
    once per row in its own projection (the fast path every shingle
    consumer should use)."""
    base = docs.select(id_col, _words(F.col(text_col)).alias("_w"))
    return base.select(
        id_col, F.explode(shingles_of_words(F.col("_w"), k)).alias("shingle")
    )


# --------------------------------------------------------------- exact
def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: sha2(text, 256) → (text_hash, cnt,
    keep_id). One shuffle; partial aggregation map-side. Keyed on the
    SAME hash identity as `dedup_exact` — one definition of "the same
    document" across the engine."""
    return (
        docs.groupBy(F.sha2(F.col(text_col), 256).alias("text_hash"))
        .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("cnt") > 1)
    )


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the min-doc_id representative per distinct text.

    Groups by sha2(text, 256) — NOT the raw text column — so the shuffle
    key is 64 bytes/doc instead of the document itself (at corpus scale,
    grouping by raw text shuffles the whole corpus). Collision-safe at any
    realistic corpus size (2^256 space)."""
    w = docs.groupBy(F.sha2(F.col(text_col), 256).alias("_h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return docs.join(w.select("doc_id"), "doc_id", "left_semi")


# --------------------------------------------------------------- minhash
def minhash_signatures(docs: DataFrame, num_hashes: int = 16, k: int = 3,
                       text_col: str = "text") -> DataFrame:
    """(doc_id, seed, minhash): minhash_i = min over shingles of
    md5(i || '|' || shingle) — lexicographic min of hex strings.

    Plan: one shingle row carries all `num_hashes` md5s as WIDE columns,
    aggregated by num_hashes parallel min()s, then unpivoted to (seed,
    minhash) rows. The earlier explode(seeds) formulation duplicated
    every shingle string num_hashes× through a generator (at 500k docs:
    188M rows of shingle text) — allocation/bandwidth-bound, measured
    FLAT from 4 to 16 cores; the wide-agg shape is the same one the LSH
    plane projection already uses (lsh_bucket_table). Output values are
    byte-identical — same md5 inputs, same mins.

    The NARROW (doc_id, shingle) rows are repartitioned by doc_id before
    the md5 projection: without it every input partition sees nearly the
    whole doc-id space, so each task's partial-agg hash map holds
    ~n_docs × num_hashes wide strings and spills to a sort-based
    fallback (measured: 98 s for the aggregation vs 14 s for the md5
    compute itself at 500k docs, local[16]). Co-locating each doc's
    shingles first costs one shuffle of the narrow rows and shrinks the
    agg state to (docs/partitions) keys; AQE coalesces the exchange at
    small inputs."""
    g = _minhash_wide(docs, num_hashes, k, text_col)
    per_seed = F.array(
        *[
            F.struct(F.lit(s).alias("seed"), F.col(f"_m{s}").alias("minhash"))
            for s in range(num_hashes)
        ]
    )
    return g.select("doc_id", F.explode(per_seed).alias("sm")).select(
        "doc_id", F.col("sm.seed").alias("seed"), F.col("sm.minhash").alias("minhash")
    )


def _minhash_wide(
    docs: DataFrame, num_hashes: int, k: int, text_col: str
) -> DataFrame:
    """(doc_id, _m0.._m{n-1}): the wide per-doc minimum table shared by
    `minhash_signatures` (which unpivots it) and the fused LSH-candidate
    path (which bands it in place)."""
    sh = shingle_rows(docs, k, text_col).repartition(F.col("doc_id"))
    hashes = [
        F.md5(F.concat_ws("|", F.lit(str(s)), F.col("shingle"))).alias(f"_h{s}")
        for s in range(num_hashes)
    ]
    return sh.select("doc_id", *hashes).groupBy("doc_id").agg(
        *[F.min(f"_h{s}").alias(f"_m{s}") for s in range(num_hashes)]
    )


def lsh_buckets(signatures: DataFrame, bands: int = 4) -> DataFrame:
    """Group the signature rows into `bands` bands; bucket id =
    md5(band || concat(minhashes in seed order)). (doc_id, band, bucket)."""
    num_hashes_per_band = None  # derived from data; seeds are dense 0..n-1
    sig = signatures.withColumn("band", F.col("seed") % bands)
    return (
        sig.groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("seed"), F.col("minhash")))
                        ),
                        lambda x: x["minhash"],
                    ),
                )
            ).alias("bucket")
        )
    )


def bucket_pairs(b: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """(a, b) pairs of ids sharing a bucket — groupBy + in-array pair
    expansion instead of a self-join: ONE pass over the upstream pipeline
    (a self-join would recompute the whole lineage twice) and no join
    shuffle; bucket groups are small by construction, so the quadratic
    expansion stays inside one row's array."""
    grouped = (
        b.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    ids = F.col("ids")
    n = F.size(ids)
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(ids, i + 1, n),
                lambda x: F.struct(
                    F.element_at(ids, i).alias("a"), x.alias("b")
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def minhash_lsh_candidates(docs: DataFrame, num_hashes: int = 16, bands: int = 4,
                           k: int = 3, text_col: str = "text") -> DataFrame:
    """Candidate near-duplicate pairs (a < b) sharing ≥1 LSH bucket.

    Plan note (measured, sf0.1 local[32], 5k docs, 8 hashes): the
    original explode(shingles)×explode(seeds) → partial-agg formulation
    took 6.7 s; an in-row zero-shuffle variant (array_min over
    F.transform per seed) took 31.7 s and a single-pass F.aggregate +
    zip_with(least) variant 16.6 s — Spark's higher-order functions run
    interpreted (no whole-stage codegen), so a plan that avoids the
    shuffle by computing in-row LOSES to staying inside codegen. The
    current shape (tokenizer materialized, wide md5 columns, narrow-row
    repartition by doc before the agg — see minhash_signatures) keeps
    the codegen property and fixes the two large-corpus pathologies:
    2.0 s steady-state at sf0.1, ~60 s for 500k docs / 30M candidate
    pairs at local[16] (was 283 s).

    r7: the band buckets are computed straight off the WIDE minimum
    table — md5 over the band's minhash columns in seed order, exactly
    the string `lsh_buckets` built via array_sort(collect_list(struct))
    (seeds are unique, so struct-sort order == seed order) — which
    deletes the unpivot explode AND the (doc_id, band) re-aggregation
    shuffle between the signature and banding steps (3 shuffles -> 2)."""
    g = _minhash_wide(docs, num_hashes, k, text_col)
    per_band = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"_m{s}") for s in range(num_hashes) if s % bands == b]
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    bt = g.select("doc_id", F.explode(F.array(*per_band)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    return bucket_pairs(bt, ["band", "bucket"], "doc_id")


# --------------------------------------------------------------- jaccard
def _pair_intersections(
    docs: DataFrame, k: int, text_col: str, candidates: DataFrame | None,
    hash_bits: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the set-overlap verifiers: (pair_common(a, b,
    common), sizes(doc_id, sz)) — exact k-shingle intersection counts
    for candidate pairs (set-intersect plan) or all shingle-sharing
    pairs (posting join). See `ngram_jaccard_pairs` for the measured
    plan-shape rationale.

    `hash_bits` (candidate path only): 64 (default) keeps the full
    xxhash64 per shingle — collision-free at any realistic set size, the
    setting every oracle-gated path uses. 32 halves the per-pair shuffle
    payload (both docs' hash arrays ride through the pair join: 24.6M
    pairs × ~175 shingles × 8 B ≈ 34 GB). MEASURED HONESTLY at 500k
    docs on this single host the knob is neutral (67.4 s vs 65.2 s at
    local[16]) — the isolated stage is bound by the array_intersect
    merge CPU, not local shuffle bytes — so it exists for
    network-shuffled clusters where cross-node bytes are the constrained
    resource, not as a local speedup. A 32-bit within-set collision
    merges two shingles of ONE doc (P ≈ n²/2³³ ≈ 4e-6 at n=175,
    shifting a Jaccard by ~1/175): immaterial for threshold decisions;
    a pytest pins 32/64 output equality at test scale."""
    if hash_bits != 64 and candidates is None:
        # the posting-join path never hashes shingles — accepting the
        # knob there would silently do nothing
        raise ValueError(
            "hash_bits != 64 only affects the candidates path "
            "(set-intersect verification); the posting-join path joins "
            "on raw shingles. Pass candidates, or leave hash_bits=64."
        )
    sh = shingle_rows(docs, k, text_col)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    if candidates is not None:
        # each doc's shingles become ONE row holding the sorted set of
        # 8-byte xxhash64s (same counts as string shingles; a 64-bit
        # collision inside a ~10²-element set is ~2⁻⁵⁴ — immaterial);
        # the intersection is then size(array_intersect(a_set, b_set))
        # per candidate pair. Two earlier shapes died at 500k docs /
        # 25M candidate pairs (BASELINE.md): the shingle-keyed posting
        # self-join is Σ|posting|² on hot shingles (1400 s at local[4]),
        # and a row-per-(pair, shingle) equi-join + groupBy(a, b) counts
        # 1.2B rows through a partial-agg whose per-task map holds every
        # pair key and spills (~280 s, flat across cores). The set form
        # shuffles each pair's two fixed-width arrays instead and does
        # the counting in-row — no billion-row aggregation exists.
        # The narrow repartition before collect_set mirrors
        # minhash_signatures (small per-task agg state).
        h = F.xxhash64("shingle")
        if hash_bits == 32:
            h = (h % (2**31)).cast("int")
        sets = (
            sh.select("doc_id", h.alias("sh_h"))
            .repartition(F.col("doc_id"))
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_set("sh_h")).alias("sh_set"))
        )
        cand = candidates.select("a", "b").distinct()
        pair_common = (
            cand.join(
                sets.select(F.col("doc_id").alias("a"), F.col("sh_set").alias("_sa")),
                "a",
            )
            .join(
                sets.select(F.col("doc_id").alias("b"), F.col("sh_set").alias("_sb")),
                "b",
            )
            .select(
                "a",
                "b",
                F.size(F.array_intersect("_sa", "_sb")).alias("common"),
            )
            .filter(F.col("common") > 0)
        )
    else:
        pair_common = (
            sh.select(F.col("doc_id").alias("a"), "shingle")
            .join(sh.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("common"))
        )
    return pair_common, sizes


def _with_sizes(pair_common: DataFrame, sizes: DataFrame) -> DataFrame:
    return pair_common.join(
        sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza")), "a"
    ).join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb")), "b")


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5, k: int = 3,
                        text_col: str = "text",
                        candidates: DataFrame | None = None,
                        hash_bits: int = 64) -> DataFrame:
    """Exact k-shingle Jaccard for pairs above threshold.

    Without `candidates`, joins on shared shingles (index join — still
    not all-pairs; worst case bounded by shingle-posting sizes).

    With `candidates` (e.g. from MinHash-LSH) the plan is PAIR-CENTRIC:
    join each candidate pair with side a's shingle set (key: doc id),
    then equi-join on (b, shingle) against the postings to count the
    intersection. Cost is O(candidates × shingles-per-doc) — immune to
    posting-list skew, unlike the posting self-join, whose pair
    expansion is Σ|posting|² and explodes on hot shingles even after a
    candidate semi-join (measured: a 100k-doc corpus with a tiny shared
    vocabulary spent 158 s in the posting self-join at local[4]; the
    pair-centric plan is bounded by the candidate count the LSH stage
    already controls via its bucket cap). Semantics identical — exact
    intersection counts either way. `hash_bits=32` halves the
    verification shuffle at stress scale (see _pair_intersections)."""
    pair_common, sizes = _pair_intersections(docs, k, text_col, candidates, hash_bits)
    return (
        _with_sizes(pair_common, sizes)
        .withColumn(
            "jaccard",
            round4(F.col("common") / (F.col("sza") + F.col("szb") - F.col("common"))),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def ngram_containment_pairs(docs: DataFrame, threshold: float = 0.9, k: int = 3,
                            text_col: str = "text",
                            candidates: DataFrame | None = None,
                            hash_bits: int = 64) -> DataFrame:
    """Asymmetric near-duplicate detection: k-shingle CONTAINMENT
    |A∩B|/|A| in both directions, kept when either side is mostly
    inside the other.

    Jaccard under-detects the commonest web-corpus duplication shape —
    one document EMBEDDED in a larger one (quoted article, boilerplate
    + body, truncated mirror): a doc fully contained in a 4× larger one
    has Jaccard 0.25 but containment 1.0. Same measured pair-centric
    plan as `ngram_jaccard_pairs` (shared `_pair_intersections` core:
    set-intersect per candidate pair, no pair-keyed aggregation); the
    only change is the two ratio columns. Returns
    (a, b, cont_a: |A∩B|/|A|, cont_b: |A∩B|/|B|) with
    max(cont_a, cont_b) >= threshold."""
    pair_common, sizes = _pair_intersections(docs, k, text_col, candidates, hash_bits)
    return (
        _with_sizes(pair_common, sizes)
        .withColumn("cont_a", round4(F.col("common") / F.col("sza")))
        .withColumn("cont_b", round4(F.col("common") / F.col("szb")))
        .filter(F.greatest("cont_a", "cont_b") >= threshold)
        .select("a", "b", "cont_a", "cont_b")
    )


def chunk_dup_stats(
    docs: DataFrame,
    chunk_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SUB-document duplication profile — the suffix-array-dedup-lite
    signal: how much of each document consists of token chunks that also
    appear in OTHER documents (shared headers, license boilerplate,
    templated sections). Document-level dedup (exact/MinHash) misses
    this entirely: two long documents sharing a 30% boilerplate block
    have low Jaccard and distinct hashes, yet a third of their tokens
    are corpus-redundant. Exact suffix-array substring dedup
    (Lee et al. 2022) is the full-strength version; fixed non-overlapping
    chunks are its join-shaped approximation — alignment-sensitive but
    with the same corpus-wide shuffle profile.

    Returns (doc_id, n_chunks, shared_chunks, dup_chunk_frac): a chunk
    is shared when its content occurs in more than one DISTINCT doc.

    Plan: the narrow chunker (text.chunk_documents, overlap 0) → chunk
    identity = sha2(chunk_text) so everything downstream shuffles
    64-byte keys, never chunk text → distinct (chunk, doc) pairs →
    per-chunk doc counts (two map-side-combined groupBys; distinct
    before counting avoids the Expand a count_distinct would plan) →
    join back and fold per doc. All equi-keyed; no windows, no UDFs."""
    from .text import chunk_documents

    ch = chunk_documents(
        docs, chunk_tokens=chunk_tokens, overlap=0, text_col=text_col, id_col=id_col
    )
    h = ch.select(id_col, F.sha2(F.col("chunk_text"), 256).alias("ch"))
    per_chunk = (
        h.select("ch", id_col)
        .distinct()
        .groupBy("ch")
        .agg(F.count("*").alias("n_docs"))
    )
    shared = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
    return (
        h.join(per_chunk, "ch")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            shared.cast("bigint").alias("shared_chunks"),
            round4(shared / F.count("*")).alias("dup_chunk_frac"),
        )
    )


def _raw_segments(col: Column) -> Column:
    """The raw text as an array of (word + its trailing whitespace)
    segments, with the document's LEADING whitespace folded into the
    first segment — so `concat(segments)` reproduces the input string
    byte-for-byte and `size(segments)` equals `size(_words(input))`.
    RE2-compatible on purpose (no lookarounds): the DuckDB oracle builds
    the identical array with regexp_extract_all."""
    segs = F.regexp_extract_all(col, F.lit(r"\S+\s*"), 0)
    lead = F.regexp_extract(col, r"^\s*", 0)
    # a wordless (empty or whitespace-only) document is one raw segment —
    # its bytes still round-trip; its normalized form is '' either way
    return F.when(F.size(segs) == 0, F.array(col)).otherwise(
        F.concat(
            F.array(F.concat(lead, F.element_at(segs, 1))),
            F.slice(segs, 2, F.greatest(F.size(segs) - 1, F.lit(0))),
        )
    )


def _chunk_rows(docs, chunk_tokens, id_col, text_col, max_doc_tokens):
    """Shared chunker: (sized docs with `_over` flag, per-chunk rows
    (id, chunk_idx, chunk_raw, ch)) — `ch` is the sha2 of the
    NORMALIZED chunk, `chunk_raw` the exact byte span. One definition so
    `dedup_chunks` and the persistable `chunk_hash_table` can never
    disagree on boundaries or hashing."""
    base = docs.select(
        id_col,
        F.col(text_col).alias("_txt"),
        _raw_segments(F.col(text_col)).alias("_segs"),
    )
    sized = base.select(
        id_col, "_txt", "_segs", (F.size("_segs") > max_doc_tokens).alias("_over")
    )
    nc = F.greatest(
        F.lit(1), F.ceil(F.size("_segs") / F.lit(chunk_tokens)).cast("int")
    )
    ex = sized.filter(~F.col("_over")).select(
        id_col,
        "_segs",
        F.explode(F.sequence(F.lit(0), nc - F.lit(1))).alias("chunk_idx"),
    )
    raw = F.array_join(
        F.slice(F.col("_segs"), F.col("chunk_idx") * chunk_tokens + 1, chunk_tokens),
        "",
    )
    ch = ex.select(
        id_col,
        "chunk_idx",
        raw.alias("chunk_raw"),
        F.sha2(F.array_join(_words(raw), " "), 256).alias("ch"),
    )
    return sized, ch


def chunk_hash_table(
    docs: DataFrame,
    chunk_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_tokens: int = 500_000,
) -> DataFrame:
    """Distinct normalized-chunk hashes (column `ch`) of the corpus's
    non-oversized documents — the persistable ownership set for
    cross-batch `dedup_chunks(claimed=...)`."""
    _, ch = _chunk_rows(docs, chunk_tokens, id_col, text_col, max_doc_tokens)
    return ch.select("ch").distinct()


def dedup_chunks(
    docs: DataFrame,
    chunk_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_tokens: int = 500_000,
    claimed: "DataFrame | None" = None,
) -> DataFrame:
    """Sub-document dedup ACTION (the `chunk_dup_stats` profile turned
    into a transform, approximating exact-substring dedup à la Lee et
    al. 2022): every chunk's content survives only in the chunk's FIRST
    (min-id) document; later documents keep their unique chunks and are
    re-assembled without the corpus-duplicated blocks. Within-document
    repetition is untouched (both instances live in the same min doc) —
    that is `repetition_features`' axis.

    Chunk MATCHING is on normalized content (lowercased,
    whitespace-collapsed — case/layout variants of a boilerplate block
    still dedup), but RE-ASSEMBLY is from raw text spans: the chunker
    slices the original string at token boundaries (word + trailing
    whitespace segments, leading whitespace folded into segment one), so
    a document with zero dropped chunks comes back BYTE-IDENTICAL — no
    silent lowercasing or newline collapse in training text. When a
    chunk is dropped, only that span's bytes (including its trailing
    whitespace) disappear.

    Returns (doc_id, text_deduped, n_chunks_kept, n_chunks_dropped,
    passthrough); a document that was pure boilerplate comes back with
    empty text, not dropped — the caller decides the fate of emptied
    docs.

    `max_doc_tokens` is the row-size guard: the re-assembly buffers ONE
    document's kept chunks in one aggregation row — fine for
    web-document sizes (MBs), a hazard for pathological GB-scale
    documents. Docs above the cap bypass chunking entirely
    (`passthrough=true`, text returned untouched, zero counts) instead
    of risking executor OOM; they also don't claim chunk ownership, so
    a hot boilerplate block's canonical copy is always a normal-sized
    doc.

    `claimed` (optional, column `ch` of sha2 normalized-chunk hashes —
    `chunk_hash_table` output) is the cross-batch state hook: chunks
    whose hash is already claimed by an earlier batch are dropped for
    EVERY document in this corpus (no in-batch owner), and in-batch
    first-doc-wins applies only to unclaimed chunks. The join is a plain
    equi-anti-join on the hash — both sides may be corpus-scale.

    Plan: token-count gate (narrow) → raw-span chunker (narrow: segment
    extract → sequence → explode → slice) → sha2 of the normalized
    chunk → per-chunk min-doc (one map-side-combined groupBy — min
    absorbs hot boilerplate keys exactly like the CC min-agg) →
    keep-filter → per-doc re-assembly via
    array_sort(collect_list(struct(idx, raw))) (each doc's chunks
    co-locate on the doc key; the sort is in-row, not a window)."""
    sized, ch = _chunk_rows(docs, chunk_tokens, id_col, text_col, max_doc_tokens)
    over = sized.filter(F.col("_over")).select(
        id_col,
        F.col("_txt").alias("text_deduped"),
        F.lit(0).cast("bigint").alias("n_chunks_kept"),
        F.lit(0).cast("bigint").alias("n_chunks_dropped"),
        F.lit(True).alias("passthrough"),
    )
    totals = ch.groupBy(id_col).agg(F.count("*").alias("_n_total"))
    unclaimed = (
        ch if claimed is None else ch.join(claimed.select("ch"), "ch", "left_anti")
    )
    first = unclaimed.groupBy("ch").agg(F.min(id_col).alias("_first_doc"))
    kept = unclaimed.join(first, "ch").filter(F.col(id_col) == F.col("_first_doc"))
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_raw"))),
                lambda x: x["chunk_raw"],
            ),
            "",
        ).alias("text_deduped"),
        F.count("*").alias("n_chunks_kept"),
    )
    chunked = (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
            F.coalesce("n_chunks_kept", F.lit(0)).cast("bigint").alias("n_chunks_kept"),
            (F.col("_n_total") - F.coalesce("n_chunks_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_chunks_dropped"),
            F.lit(False).alias("passthrough"),
        )
    )
    return chunked.unionByName(over)


# --------------------------------------------------------------- simhash
def simhash(docs: DataFrame, text_col: str = "text", nbits: int = 32) -> DataFrame:
    """32-bit SimHash as a bit string. Bit i of a token = 1 iff hex digit i
    of md5(token) ≥ 8 (the nibble's top bit); document bit i = majority
    vote over tokens. Pure column exprs, engine-portable (oracle uses the
    identical formula)."""
    toks = docs.select("doc_id", F.explode(_words(F.col(text_col))).alias("tok")).filter(
        F.col("tok") != ""
    )
    h = toks.select("doc_id", F.md5("tok").alias("h"))
    HEX = "0123456789abcdef"
    votes = [
        F.sum(
            F.when(F.instr(F.lit(HEX), F.substring("h", i + 1, 1)) >= 9, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(nbits)
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    bits = F.concat(*[F.when(F.col(f"b{i}") > 0, "1").otherwise("0") for i in range(nbits)])
    return agg.select("doc_id", bits.alias("simhash"))


def simhash_candidates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Near-dup candidates: pairs agreeing on ≥1 of the 4 8-bit quarters
    of the simhash (banding ⇒ Hamming-close pairs collide somewhere)."""
    s = simhash(docs, text_col)
    quarters = s.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(q).alias("q"), F.substring("simhash", q * 8 + 1, 8).alias("band"))
                for q in range(4)
            ])
        ).alias("qb"),
    ).select("doc_id", F.col("qb.q").alias("q"), F.col("qb.band").alias("band"))
    return bucket_pairs(quarters, ["q", "band"], "doc_id")


def elect_cluster_reps(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-based representative election: given `near_dup_clusters`
    output (id, cluster_id) and a per-doc score table, mark the
    HIGHEST-scoring member of each cluster as the representative (ties
    break to the smallest id). Production dedup keeps the best-quality
    member of a duplicate cluster, not an arbitrary one — min-id
    election (the `doc_id == cluster_id` convention elsewhere) is only
    the right default when no quality signal exists; this operator is
    the drop-in upgrade once one does (text_quality or any numeric
    column).

    Plan: scores are first collapsed to one row per id (max — the best
    known score; a duplicate-id scores table would otherwise duplicate
    cluster rows through the join, ADVICE r5), then left-joined; a
    missing score ranks as −inf INTERNALLY for the argmin only (a
    scoreless doc is elected only in an all-scoreless cluster, where the
    tie-break degenerates to min-id — consistent with the default
    convention) while the OUTPUT score column keeps the original value —
    null for unscored docs, so callers can tell 'unscored' from a
    genuine −inf score. One map-side-combined `min(struct(-score, id))`
    per cluster (no window, no sort-shuffle of the corpus),
    broadcast-size join back. Output: (id, cluster_id, score, is_rep)
    for every input row."""
    neg_inf = float("-inf")
    sc = clusters.join(
        scores.groupBy(id_col).agg(F.max(score_col).alias("_s")), id_col, "left"
    ).select(id_col, "cluster_id", "_s")
    winners = (
        sc.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    (-F.coalesce(F.col("_s"), F.lit(neg_inf))).alias("ns"),
                    F.col(id_col).alias("rid"),
                )
            ).alias("m")
        )
        .select("cluster_id", F.col("m.rid").alias("_rep"))
    )
    return (
        sc.join(winners, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            F.col("_s").alias(score_col),
            (F.col(id_col) == F.col("_rep")).cast("int").alias("is_rep"),
        )
    )


def near_dup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Near-duplicate CLUSTERING: pairwise candidates → transitive groups.

    Pairwise dedup alone under-deletes: if A~B and B~C, A and C belong to
    one group even when they never share a bucket. This runs the engine's
    connected-components operator (operators/cc.py — star contraction +
    pointer jumping, skew-hardened at 11M edges) over the verified pair
    graph and assigns every doc `cluster_id` = the smallest doc id in its
    component; docs in no pair are their own singleton cluster. Keeping
    `doc_id == cluster_id` rows is then the canonical-document selection
    of a training-corpus dedup pass.

    Ids are zero-padded to 20 digits before entering CC (component ids are
    lexicographic mins; padding makes string order = numeric order), and
    the cluster map is joined back with a plain equi-join on doc id —
    uniform key, scales."""
    pad = F.format_string("%020d", F.col("a")), F.format_string("%020d", F.col("b"))
    from .cc import connected_components

    edges = pairs.select(pad[0].alias("a"), pad[1].alias("b"))
    comp = connected_components(edges)
    m = comp.select(
        F.col("uri").cast("long").alias(id_col),
        F.col("component").cast("long").alias("cluster_id"),
    )
    return (
        docs.select(id_col)
        .join(m, id_col, "left")
        .select(
            id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
        )
    )


def _window_starts(docs, n, id_col, text_col):
    """One row per sliding-window start: (id, s, g) with g = sha2 of
    the n-token window at 0-based token offset s. Linear in corpus
    tokens; the 64-byte digest is the only shuffled content."""
    from .text import _words

    base = docs.select(F.col(id_col), _words(F.col(text_col)).alias("_w")).filter(
        F.size("_w") >= n
    )
    return base.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.size("_w") - n)).alias("s"),
        F.col("_w"),
    ).select(
        id_col,
        "s",
        F.sha2(F.concat_ws(" ", F.slice(F.col("_w"), F.col("s") + 1, n)), 256).alias(
            "g"
        ),
    )


def _dup_window_starts(docs, n, min_docs, id_col, text_col):
    """Window starts whose gram occurs in >= min_docs distinct docs."""
    starts = _window_starts(docs, n, id_col, text_col)
    per_gram = (
        starts.select("g", id_col)
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= min_docs)
    )
    return starts.join(per_gram, "g", "left_semi")


def duplicated_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, span_start, span_end, span_tokens) — maximal token spans
    covered by SLIDING n-token windows whose content occurs in at least
    `min_docs` distinct documents. The alignment-INsensitive upgrade to
    `chunk_dup_stats`: fixed non-overlapping chunks miss a shared block
    that starts mid-chunk, a sliding window cannot (this is exact-
    substring dedup à la Lee et al. 2022 at n-token granularity — every
    duplicated substring of >= n tokens is covered by some duplicated
    window, so it lands inside a reported span). Positions are 0-based
    token offsets into the lowercased whitespace tokenization
    (`text._words`); span_end is exclusive.

    Plan: one row per token position (explode of a 0..len-n sequence —
    linear in corpus tokens, the same volume class as the chunk
    explode), window content folded to a sha2 immediately so the
    per-gram aggregation shuffles 64-byte keys, distinct (gram, doc) →
    per-gram doc counts, join back, then merge overlapping/adjacent
    duplicated windows into maximal spans with a PER-DOCUMENT
    lag/running-sum window (partitioned by the doc key — never a
    corpus-wide window). Merge rule: consecutive duplicated starts s,
    s' coalesce iff s' - s <= n (overlap or exact adjacency).
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    dup = _dup_window_starts(docs, n, min_docs, id_col, text_col).select(id_col, "s")
    win = Window.partitionBy(id_col).orderBy("s")
    brk = (
        F.when(F.lag("s").over(win).isNull(), 1)
        .when(F.col("s") - F.lag("s").over(win) > n, 1)
        .otherwise(0)
    )
    grp = dup.withColumn("brk", brk).withColumn(
        "grp",
        F.sum("brk").over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return grp.groupBy(id_col, "grp").agg(
        F.min("s").alias("span_start"),
        (F.max("s") + n).alias("span_end"),
        (F.max("s") + n - F.min("s")).alias("span_tokens"),
    ).select(id_col, "span_start", "span_end", "span_tokens")


def span_dup_stats(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, dup_tokens, dup_frac) for EVERY document —
    the doc-level rollup of `duplicated_spans` (spans are disjoint by
    construction, so dup_tokens is a plain sum): the filter signal for
    "drop docs that are mostly corpus-duplicated text" at sliding-window
    fidelity (vs chunk_dup_stats' aligned chunks). Docs shorter than n
    tokens carry dup_tokens = 0 (no window fits).
    """
    spans = duplicated_spans(docs, n=n, min_docs=min_docs, id_col=id_col, text_col=text_col)
    from .text import _words

    per_doc = spans.groupBy(id_col).agg(F.sum("span_tokens").alias("dup_tokens"))
    base = docs.select(F.col(id_col), F.size(_words(F.col(text_col))).alias("n_tokens"))
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        round4(
            F.coalesce("dup_tokens", F.lit(0)) / F.greatest("n_tokens", F.lit(1))
        ).alias("dup_frac"),
    )


def strip_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, text_deduped, n_tokens_kept, n_tokens_dropped) — the
    ACTION for `duplicated_spans`: every corpus-duplicated n-token
    window's content survives only in its OWNER document (the min-id
    doc containing that window's gram — the `dedup_chunks` ownership
    rule at sliding-window fidelity); every other doc has the covered
    tokens removed. Exact copies of an earlier doc strip to '' (the
    caller drops empties); the owner itself is byte-identical on
    re-assembly (`_raw_segments`: each kept token carries its raw bytes
    + trailing whitespace, leading whitespace folded into token 0).

    Plan: the shared window-starts explode (linear in corpus tokens,
    sha2 keys) → per-gram (distinct-doc count, min-id owner) in ONE
    aggregation → non-owned duplicated starts → per-DOC island merge
    into removal ranges (lag/running-sum, doc-partitioned) → ranges
    collected per doc (bounded by the doc's own token count) → one
    in-row indexed filter over the raw segments. No corpus-wide window,
    no UDF.
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    starts = _window_starts(docs, n, id_col, text_col)
    per_gram = (
        starts.select("g", id_col)
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("nd"), F.min(id_col).alias("owner"))
        .filter(F.col("nd") >= min_docs)
    )
    foreign = (
        starts.join(per_gram, "g")
        .filter(F.col(id_col) != F.col("owner"))
        .select(id_col, "s")
        .distinct()
    )
    win = Window.partitionBy(id_col).orderBy("s")
    brk = (
        F.when(F.lag("s").over(win).isNull(), 1)
        .when(F.col("s") - F.lag("s").over(win) > n, 1)
        .otherwise(0)
    )
    ranges = (
        foreign.withColumn("brk", brk)
        .withColumn(
            "grp",
            F.sum("brk").over(
                win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(id_col, "grp")
        .agg(F.min("s").alias("rs"), (F.max("s") + n).alias("re"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("rs", "re")).alias("_ranges"))
    )
    segs = docs.select(
        F.col(id_col), F.col(text_col), _raw_segments(F.col(text_col)).alias("_segs")
    )
    joined = segs.join(ranges, id_col, "left").withColumn(
        "_ranges", F.coalesce("_ranges", F.array())
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_ranges"), lambda r: (i >= r["rs"]) & (i < r["re"])
    )
    from .text import _words as _text_words

    kept_segs = F.filter(F.col("_segs"), lambda x, i: ~covered(i))
    n_words = F.size(_text_words(F.col(text_col)))
    dropped = F.aggregate(
        F.col("_ranges"), F.lit(0), lambda acc, r: acc + (r["re"] - r["rs"])
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws("", kept_segs).alias("text_deduped"),
        (n_words - dropped).cast("long").alias("n_tokens_kept"),
        dropped.cast("long").alias("n_tokens_dropped"),
    )
