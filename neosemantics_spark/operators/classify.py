"""Multinomial Naive-Bayes document classifier — the deterministic
classical analogue of the fastText linear classifier that production
curation pipelines (CCNet-style quality scoring, source/domain routing,
language verification) run over every document.

Why NB and not logistic regression / fastText here: the model is
nothing but COUNT TABLES (token×class counts + class priors), which
makes training two map-side-combined groupBys, scoring a narrow
equi-join program, and the whole thing exactly replayable in any SQL
engine — no iterative fit, no RNG, no learned embedding matrix. The
real-world swap-in point is the likelihood table: replace it with any
externally trained linear model's per-token weights and `nb_score`'s
join plan is unchanged (exactly how `lm.py` documents the KenLM swap).

Scale shape (100 TB corpus):
- `train_nb`: one groupBy(class) for priors (rows = #classes) and one
  groupBy(token, class) for likelihood counts (rows = vocab × classes,
  model-table scale — partial aggregation absorbs the per-doc token
  fan-out before the shuffle, like every count table in lm.py).
- `nb_score`: tokens explode → cross join the #classes-row class table
  (broadcast — it is bounded by the label alphabet, never corpus) →
  LEFT join the likelihood table on (token, class) with an add-alpha
  OOV floor → partial-agg sum per (doc, class) → arg-max per doc via
  min(struct(-score, class)) — map-side-combined, no window, no
  all-pairs anything.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils import require_local_root, round4
from .datasets import norm_tokens


class NBModel(NamedTuple):
    """Count-table model: `classes` (label, n_docs, n_tokens),
    `likelihoods` (token, label, cnt), `vocab_size`, `n_docs`,
    `alpha`."""

    classes: DataFrame
    likelihoods: DataFrame
    vocab_size: int
    n_docs: int
    alpha: float


def train_nb(
    docs: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
) -> NBModel:
    """Train a multinomial NB classifier from labeled documents.

    The two aggregations are the whole fit; `vocab_size` (distinct
    tokens across classes) and `n_docs` are the only driver scalars —
    two counts over model-table-scale data, mirroring
    `lm.train_bigram_lm`."""
    toks = docs.select(
        F.col(label_col).alias("label"),
        F.explode(norm_tokens(F.col(text_col))).alias("token"),
    )
    likelihoods = toks.groupBy("token", "label").agg(F.count("*").alias("cnt"))
    classes = (
        docs.groupBy(F.col(label_col).alias("label"))
        .agg(F.count("*").alias("n_docs"))
        .join(
            toks.groupBy("label").agg(F.count("*").alias("n_tokens")),
            "label",
            "left",
        )
        .fillna(0, subset=["n_tokens"])
    )
    vocab_size = likelihoods.select("token").distinct().count()
    n_docs = docs.count()
    return NBModel(classes, likelihoods, vocab_size, n_docs, alpha)


def save_nb(model: NBModel, path: str) -> None:
    """Persist the count-table model: two parquet directories + a
    meta.json with the scalars — the same layout discipline as the
    BM25 index. Write-once (overwrite replaces atomically enough for a
    model artifact; a model is re-trained, not appended). The path must
    be driver-local (`require_local_root` — the parquet writers would
    accept a remote scheme but meta.json would silently land on the
    driver)."""
    import json
    import os

    path = require_local_root(path, "save_nb model")
    model.classes.write.mode("overwrite").parquet(os.path.join(path, "classes"))
    model.likelihoods.write.mode("overwrite").parquet(
        os.path.join(path, "likelihoods")
    )
    meta = {
        "vocab_size": model.vocab_size,
        "n_docs": model.n_docs,
        "alpha": model.alpha,
    }
    tmp = os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.rename(tmp, os.path.join(path, "meta.json"))


def load_nb(spark, path: str) -> NBModel:
    """Load a model persisted by `save_nb`."""
    import json
    import os

    path = require_local_root(path, "load_nb model")
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    return NBModel(
        spark.read.parquet(os.path.join(path, "classes")),
        spark.read.parquet(os.path.join(path, "likelihoods")),
        int(meta["vocab_size"]),
        int(meta["n_docs"]),
        float(meta["alpha"]),
    )


def nb_score(
    docs: DataFrame,
    model: NBModel,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, predicted, score): arg-max class per document under the NB
    posterior, with `score` the rounded winning mean token
    log-likelihood + log-prior (mean, not sum, so the magnitude is
    length-independent — the same convention as `lm.lm_score`, and what
    makes the score usable as a quality/routing signal with one global
    threshold).

    Documents with zero tokens get the prior-only decision (score =
    log prior), mirroring the LM filter's no-evidence rule. Ties are
    broken lexicographically by label — deterministic across engines."""
    a = float(model.alpha)
    v = float(model.vocab_size)
    cls = F.broadcast(
        model.classes.select(
            "label",
            (F.log(F.col("n_docs") / float(model.n_docs))).alias("_logprior"),
            (F.col("n_tokens") + a * v).alias("_denom"),
        )
    )
    toks = docs.select(
        F.col(id_col), F.explode(norm_tokens(F.col(text_col))).alias("token")
    )
    scored = (
        toks.crossJoin(cls)
        .join(model.likelihoods, ["token", "label"], "left")
        .select(
            id_col,
            "label",
            "_logprior",
            F.log((F.coalesce(F.col("cnt"), F.lit(0)) + a) / F.col("_denom")).alias(
                "_ll"
            ),
        )
        .groupBy(id_col, "label")
        .agg(
            (F.first("_logprior") + F.avg("_ll")).alias("_score"),
        )
    )
    best = (
        scored.groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col("_score")).alias("neg"), F.col("label").alias("label")
                )
            ).alias("m")
        )
        .select(
            id_col,
            F.col("m.label").alias("predicted"),
            round4(-F.col("m.neg")).alias("score"),
        )
    )
    # zero-token docs never reach the explode: prior-only decision
    empty = (
        docs.select(id_col, F.size(norm_tokens(F.col(text_col))).alias("_n"))
        .filter(F.col("_n") == 0)
        .crossJoin(cls.select("label", "_logprior"))
        .groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col("_logprior")).alias("neg"), F.col("label").alias("label")
                )
            ).alias("m")
        )
        .select(
            id_col,
            F.col("m.label").alias("predicted"),
            round4(-F.col("m.neg")).alias("score"),
        )
    )
    return best.unionByName(empty)
