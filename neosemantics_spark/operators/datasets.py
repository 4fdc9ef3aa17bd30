"""Dataset-curation operators for training-data pipelines: benchmark
decontamination, deterministic hash splits, stratified sampling.

These complement the dedup/similarity family (`operators/dedup.py`,
`operators/similarity.py`) with the remaining ops a 100 TB pretraining
pipeline runs on every corpus build:

- `decontaminate` — flag training documents that share any word n-gram
  with a held-out benchmark/eval set (the standard n-gram-overlap
  decontamination used for pretraining corpora). The benchmark side is
  orders of magnitude smaller than the corpus, so its distinct shingle
  set is broadcast; the training side stays a narrow scan → explode →
  partial-agg. No shuffle of raw text ever happens: shingles are joined
  as strings only after the benchmark side is reduced to a broadcast
  hash relation.
- `hash_split` / `split_thresholds` — deterministic train/val/test
  assignment from a md5 prefix of the id. Pure narrow column expression:
  no shuffle, no RNG, stable across runs/engines/cluster sizes, and any
  row's split can be recomputed independently (the property replay and
  incremental ingest need). md5 hex prefixes are compared
  lexicographically so the same cutoffs work in Spark and DuckDB.
- `stratified_sample` — per-stratum deterministic downsampling (the
  "dataset mixing" primitive: weight each source/language bucket
  differently). Same md5-threshold trick keyed on (stratum, id) so the
  sample is a fixed measurable subset, again shuffle-free.

All three are pure `pyspark.sql.functions` column programs — whole-stage
codegen end to end, no UDFs, no windows, no driver collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils import round4


def norm_tokens(col: Column) -> Column:
    """Lowercased alphanumeric word array — the shared tokenization for
    shingling (kept deliberately simple so the DuckDB oracle can mirror
    it exactly: lower → non-alnum runs to one space → trim → split)."""
    return F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " ")), " "),
        lambda w: w != "",
    )


def shingle_set(
    df: DataFrame, n: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) — the DISTINCT word n-grams of each document.

    The n-gram expansion is a `transform` over an index sequence with
    `slice` + `array_join`. The token array is MATERIALIZED in its own
    projection first: inlining `norm_tokens(text)` directly into the
    window expression makes Spark re-evaluate the regex+split+filter
    per transform element (no CSE through lambda HOFs) — measured 6 s →
    sub-second at sf0.1 for the decontam pipeline. Documents shorter
    than n words emit nothing (guarded: Spark's `sequence(0, negative)`
    would count DOWN, not return empty)."""
    base = df.select(
        F.col(id_col).alias("id"), norm_tokens(F.col(text_col)).alias("toks")
    )
    toks = F.col("toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select("id", F.explode(grams).alias("shingle")).distinct()


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_limit: int = 2_000_000,
) -> DataFrame:
    """(doc_id, shared_shingles) for every training document that shares
    at least one word n-gram with the benchmark set — the rows a
    pretraining build drops (or audits) before training.

    Plan shape for 100 TB: the benchmark's distinct shingles are usually
    a small relation (eval sets are fixed-size; the corpus is not) →
    broadcast hash join against the exploded training shingles, which
    aggregate map-side per doc. The training table is scanned once,
    narrow until the explode, and nothing wider than (id, shingle) is
    ever shuffled. The broadcast hint is SIZE-GATED (same pattern as
    `cc.apply_components`): an explicit `F.broadcast` overrides Spark's
    size estimates, so an unconditional hint on a multi-GB eval-suite
    shingle set would force-broadcast it and OOM executors. We count up
    to `broadcast_limit + 1` shingles (a bounded job — the scan stops at
    the limit) and only hint when genuinely small; above the limit the
    join strategy is left to Catalyst/AQE (shuffled hash join, same
    semantics)."""
    train_sh = shingle_set(train, n, id_col, text_col)
    bench_sh = shingle_set(bench, n, id_col, text_col).select("shingle").distinct()
    small = bench_sh.limit(broadcast_limit + 1).count() <= broadcast_limit
    bench_sh = F.broadcast(bench_sh) if small else bench_sh
    return (
        train_sh.join(bench_sh, "shingle")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count("*").alias("shared_shingles"))
    )


def _hex_cutoff(cut_int: int, digits: int) -> str:
    """Exclusive upper-bound cutoff comparable lexicographically against
    any `digits`-wide lowercase hex prefix. For cut_int >= 16**digits the
    bound must admit EVERY prefix including 'ff…f', so we emit the
    sentinel 'ff…fg': a `digits`-char hex prefix is either < 'ff…f' at
    some position or equals it and is the shorter string — both compare
    below the sentinel — keeping `prefix < cutoff` ≡ numeric comparison
    in any engine (Spark, DuckDB, plain Python)."""
    space = 16**digits
    if cut_int >= space:
        return "f" * digits + "g"
    return format(max(cut_int, 0), "x").rjust(digits, "0")


def split_thresholds(weights: dict[str, float], digits: int = 4) -> list[tuple[str, str]]:
    """[(split_name, hex_cutoff)] — cumulative md5-prefix cutoffs for
    `hash_split`. With digits=4 the id space is cut at 1/65536
    granularity; cutoffs are zero-padded hex strings so lexicographic
    comparison equals numeric comparison in any engine. The final cutoff
    (cumulative weight 1.0) is the sentinel 'ff…fg' (see `_hex_cutoff`),
    which every `digits`-wide hex prefix compares below."""
    total = sum(weights.values())
    space = 16**digits
    acc = 0.0
    out = []
    for name, w in weights.items():
        acc += w / total
        out.append((name, _hex_cutoff(int(round(acc * space)), digits)))
    return out


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    digits: int = 4,
) -> DataFrame:
    """Adds a `split` column: deterministic train/val/test assignment by
    the first `digits` hex chars of md5(id). Narrow (no shuffle, no RNG
    seed to manage); the same row lands in the same split on every run,
    engine, and cluster size — which is what makes eval sets stable
    across incremental corpus rebuilds."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    prefix = F.substring(F.md5(F.col(id_col).cast("string")), 1, digits)
    cuts = split_thresholds(weights, digits)
    # when-chain in cut order: the first matching cutoff wins
    expr = None
    for name, cut in cuts[:-1]:
        clause = F.when(prefix < F.lit(cut), F.lit(name))
        expr = clause if expr is None else expr.when(prefix < F.lit(cut), F.lit(name))
    expr = expr.otherwise(F.lit(cuts[-1][0])) if expr is not None else F.lit(cuts[-1][0])
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    digits: int = 4,
) -> DataFrame:
    """Deterministic per-stratum sample: keep a row iff the md5 prefix of
    '<stratum>:<id>' falls under that stratum's cutoff. This is the
    dataset-mixing primitive (upsample/downsample sources or languages to
    target weights) expressed as a pure filter — predicate-pushdown-able,
    shuffle-free, and reproducible without a seed. Keying the hash on the
    stratum too decorrelates the per-stratum samples (a doc kept in one
    stratum's 50% says nothing about its fate under another weight).

    A fraction >= 1.0 means "keep the whole stratum" and emits a plain
    equality predicate with NO prefix comparison (a 1.0 cutoff does not
    fit in `digits` hex chars, and 'keep all of this source' is a normal
    dataset-mixing weight — it must not silently drop rows)."""
    space = 16**digits
    prefix = F.substring(
        F.md5(F.concat_ws(":", F.col(strata_col), F.col(id_col).cast("string"))),
        1,
        digits,
    )

    def keep_cond(base: Column, frac: float) -> Column | None:
        cut_int = int(round(frac * space))
        if cut_int <= 0:
            return None  # fraction 0: stratum fully dropped
        if cut_int >= space:
            return base  # fraction 1: stratum fully kept, no hash test
        return base & (prefix < F.lit(_hex_cutoff(cut_int, digits)))

    expr = None
    for stratum, frac in sorted(fractions.items()):
        cond = keep_cond(F.col(strata_col) == stratum, frac)
        if cond is not None:
            expr = cond if expr is None else expr | cond
    if default_fraction > 0:
        others = keep_cond(~F.col(strata_col).isin(list(fractions)), default_fraction)
        if others is not None:
            expr = others if expr is None else expr | others
    return df.filter(expr if expr is not None else F.lit(False))


def _stratum_token_totals(
    df: DataFrame, strata_col: str, text_col: str
) -> dict[str, int]:
    """One map-side-combined aggregate: total normalized-token count per
    stratum. The collect is #strata rows — a mixing config, not data."""
    return {
        r[strata_col]: r["_tot"]
        for r in df.groupBy(strata_col)
        .agg(F.sum(F.size(norm_tokens(F.col(text_col)))).alias("_tot"))
        .collect()
    }


def _budget_filter(
    df: DataFrame,
    budgets: dict[str, float],
    totals: dict[str, int],
    strata_col: str,
    id_col: str,
    digits: int,
) -> DataFrame:
    """Shared keep-predicate for token-budget sampling: per stratum the
    keep fraction is min(1, budget/total) and the filter is the
    shuffle-free md5-threshold predicate keyed on (stratum, id) — see
    `token_budget_sample` for why the exact-cutoff running-sum
    alternative is rejected. Cutoffs floor to >= 1 slot so a positive
    budget never silently drops a stratum."""
    space = 16**digits
    prefix = F.substring(
        F.md5(F.concat_ws(":", F.col(strata_col), F.col(id_col).cast("string"))),
        1,
        digits,
    )
    expr = None
    for stratum, budget in sorted(budgets.items()):
        total = totals.get(stratum)
        if not total or budget <= 0:
            continue
        base = F.col(strata_col) == stratum
        if budget >= total:
            cond = base
        else:
            # clamp to >= 1: a tiny-but-positive budget (budget/total <
            # 16^-digits) would floor to 0 and silently drop the whole
            # stratum; one prefix slot (expected total/16^digits tokens)
            # is the smallest representable nonzero sample at this
            # resolution.
            cut = _hex_cutoff(max(1, int(budget / total * space)), digits)
            cond = base & (prefix < F.lit(cut))
        expr = cond if expr is None else expr | cond
    return df.filter(expr if expr is not None else F.lit(False))


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = 4,
) -> DataFrame:
    """Deterministic sample hitting a per-stratum TOKEN budget in
    expectation — the way pretraining mixes are actually specified
    ("200B tokens of web, 30B of code"), as opposed to row fractions.

    Plan: ONE small aggregate computes each stratum's total token count
    (map-side-combined sum of `size(norm_tokens(text))`; the collect is
    #strata rows — a mixing config, not data); the keep fraction is
    `min(1, budget / total)` and the filter is the same shuffle-free
    md5-threshold predicate as `stratified_sample`, keyed on
    (stratum, id). The EXACT-cutoff alternative (order each stratum by
    hash, take rows until the running token sum crosses the budget) is
    deliberately rejected: the running sum is a per-stratum window sort
    that funnels every stratum through one reducer — the classic
    hot-partition collapse at corpus scale. The expectation-based
    fraction is unbiased, deterministic, recomputable per row, and
    within O(1/√n_docs) of the budget for any real stratum size.

    Cutoffs use floor (not round) of frac·16^digits so any engine
    reproduces them from the same totals without tie-breaking concerns.
    Strata without a budget are dropped; budget >= total keeps the
    whole stratum."""
    totals = _stratum_token_totals(df, strata_col, text_col)
    return _budget_filter(df, budgets, totals, strata_col, id_col, digits)


def temperature_budgets(
    totals: dict[str, int], total_budget: float, alpha: float = 0.5
) -> dict[str, float]:
    """Per-stratum token budgets from temperature-weighted sampling:
    p_s ∝ n_s^alpha (the multilingual-mixing exponent popularized by
    XLM-R / mT5 — alpha < 1 upsamples small sources relative to their
    natural share, alpha=1 is proportional, alpha=0 is uniform), scaled
    so the budgets sum to `total_budget`. Pure driver-side arithmetic
    over the #strata totals dict — exposed separately so tests and
    audits can inspect the mixture before sampling."""
    z = sum(t**alpha for t in totals.values() if t and t > 0)
    if z <= 0:
        return {}
    return {
        s: total_budget * (t**alpha) / z for s, t in totals.items() if t and t > 0
    }


def temperature_mix(
    df: DataFrame,
    total_budget: float,
    alpha: float = 0.5,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = 4,
) -> DataFrame:
    """Temperature-based source mixing: spend a TOTAL token budget across
    all strata with per-stratum shares p_s ∝ n_s^alpha (see
    `temperature_budgets`), then keep each stratum's share with the same
    shuffle-free md5-threshold predicate as `token_budget_sample`. This
    is how multilingual / multi-source pretraining mixes are actually
    specified ("1T tokens at temperature 0.3") — the operator turns one
    (budget, alpha) pair into a deterministic, engine-portable row
    filter.

    Plan shape: ONE small aggregate (per-stratum token totals,
    map-side-combined; the collect is #strata rows), driver-side closed-
    form budget arithmetic, then a pure column predicate — pushdown-able,
    no shuffle, no RNG. A stratum whose computed budget exceeds its total
    is kept whole (its surplus is NOT redistributed — redistribution
    would make every stratum's cutoff depend on the fixpoint of all
    others and break per-row recomputability; callers wanting saturation
    semantics iterate with the surplus as a new budget)."""
    totals = _stratum_token_totals(df, strata_col, text_col)
    budgets = temperature_budgets(totals, total_budget, alpha)
    return _budget_filter(df, budgets, totals, strata_col, id_col, digits)


def quality_weighted_sample(
    df: DataFrame,
    score_col: str,
    lo: float,
    hi: float,
    floor_frac: float = 0.0,
    ceil_frac: float = 1.0,
    id_col: str = "doc_id",
    digits: int = 4,
) -> DataFrame:
    """Soft quality filtering: keep each row with probability
    proportional to its quality score instead of a hard cutoff — the
    probabilistic reweighting used by DCLM-style pipelines (a hard
    threshold discards everything just under the bar; a soft one keeps
    a calibrated fraction of mid-quality data, which measurably helps
    downstream models).

    keep_prob = floor_frac + (ceil_frac − floor_frac) ·
    clamp((score − lo)/(hi − lo), 0, 1); a row is kept iff the integer
    value of its `digits`-hex-char md5(id) prefix < keep_prob·16^digits.
    Unlike the fixed-cutoff samplers the cutoff varies PER ROW, so the
    comparison is numeric (`conv(prefix, 16, 10)` — replayable in any
    engine via the 0x-cast) rather than lexicographic. Shuffle-free,
    seed-free, pushdown-able; the same row makes the same decision on
    every run, engine, and cluster size. Deterministic given the score
    column — pair it with the engine's `text_quality` or any plain
    numeric column."""
    span = hi - lo
    if span <= 0:
        raise ValueError("quality_weighted_sample requires hi > lo")
    space = 16**digits
    p = F.least(
        F.lit(1.0),
        F.greatest(F.lit(0.0), (F.col(score_col) - lo) / span),
    )
    keep_prob = F.lit(float(floor_frac)) + F.lit(float(ceil_frac - floor_frac)) * p
    prefix_int = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, digits), 16, 10
    ).cast("long")
    return df.filter(prefix_int < keep_prob * space)


def pack_sequences(
    df: DataFrame,
    seq_tokens: int = 2048,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing for LM training: assign every document a
    position in a fixed-length token stream — (shard, seq_id,
    seq_offset) such that concatenating each shard's documents in order
    and slicing every `seq_tokens` tokens reproduces the layout
    (GPT-style concat-and-chunk packing; the T5 "pack examples until
    the sequence is full" variant is the same stream with boundaries
    respected downstream).

    Distribution: a global running token sum is inherently sequential,
    so the corpus is first split into `n_shards` independent streams by
    a portable md5 hash of the id (`conv(substr(md5(id),1,8),16,10) %
    n_shards` — replayable in any engine), each shard is ordered by
    (md5(id), id) — a deterministic pseudo-random shuffle, which
    training-order randomization wants anyway — and the running sum is
    a window per shard: shards pack in parallel, one sort each, no
    global funnel. At cluster scale set `n_shards` to a few × total
    cores (each shard is also the natural unit of one output shard
    file); packing efficiency is unaffected by sharding since every
    shard slices its own stream.

    Zero-token documents are excluded (they occupy no stream position).
    Output: (id, shard, n_tokens, seq_id, seq_offset) where seq_id
    numbers fixed-length sequences within the shard and seq_offset is
    the document's first-token offset inside its starting sequence —
    documents crossing a boundary continue into seq_id+1, exactly like
    the training-time slicer."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.size(norm_tokens(F.col(text_col))).alias("n_tokens"),
        F.md5(F.col(id_col).cast("string")).alias("_h"),
    ).filter(F.col("n_tokens") > 0)
    shard = (F.conv(F.substring("_h", 1, 8), 16, 10).cast("long") % n_shards).cast(
        "int"
    )
    t = toks.withColumn("shard", shard)
    w = (
        Window.partitionBy("shard")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return t.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(start / seq_tokens).cast("long").alias("seq_id"),
        (start % seq_tokens).cast("long").alias("seq_offset"),
    )


def corpus_profile(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Dataset-card profile: one row per group with the structural
    stats a corpus release documents — doc count, unique-text count
    (via sha2 digests, so the aggregate never carries full texts
    through the shuffle), exact-dup ratio, char/token totals, and
    per-doc token mean (4-dp half-up). The whole operator is ONE
    groupBy over per-row expressions: partial aggregation reduces each
    partition to |groups| rows before the shuffle, and count(distinct
    digest) is Spark's standard two-phase distinct-agg expansion — at
    100 TB the shuffled payload is digests + counters, never text.
    """
    from .text import _words

    chars = F.length(F.col(text_col))
    toks = F.size(_words(F.col(text_col)))
    digest = F.sha2(F.col(text_col), 256)
    rows = df.select(*group_cols, chars.alias("_c"), toks.alias("_t"), digest.alias("_h"))
    n = F.count("*")
    uniq = F.countDistinct("_h")
    return rows.groupBy(*group_cols).agg(
        n.alias("n_docs"),
        uniq.alias("n_unique"),
        round4((n - uniq) / n).alias("dup_ratio"),
        F.sum("_c").alias("total_chars"),
        F.sum("_t").alias("total_tokens"),
        round4(F.sum("_t") / n).alias("avg_tokens"),
        F.min("_c").cast("long").alias("min_chars"),
        F.max("_c").cast("long").alias("max_chars"),
    )
