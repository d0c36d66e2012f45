"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023).

Web-scale curation selects raw-corpus documents that look like a small
high-quality TARGET corpus. DSIR does it with two hashed bag-of-ngrams
unigram models: fit p̂_target and p̂_raw over hashed (unigram + bigram)
feature buckets, weight each raw document by its importance log-ratio
log w(x) = Σ_b count_b(x) · (log p̂_target(b) − log p̂_raw(b)), then
resample via Gumbel-top-k on the log-weights. All three phases are
one-pass columnar Spark:

- **fit**: explode features → ONE groupBy(bucket) per corpus (map-side
  partials; ≤ ``n_buckets`` rows cross the wire each) → tiny join of the
  two count frames → broadcastable ``(bucket, ratio)`` model. The model
  is bounded at ``n_buckets`` rows regardless of corpus vocabulary.
- **score**: explode → broadcast join → one per-doc aggregate. The raw
  corpus never shuffles on the feature key (same shape as
  classify.score_nb / textstats.unigram_logperplexity).
- **resample**: Gumbel key = log_w + (−ln(−ln(u))) with u a
  deterministic md5-derived uniform per doc (engine-independent — the
  DuckDB oracle replays it exactly), then a global top-k which Spark
  plans as TakeOrderedAndProject: per-partition top-k, only
  partitions×k rows reach the driver-side merge. No full sort.

Feature hashing mirrors :mod:`classify` (token → md5-derived 60-bit int
→ ``n_buckets``); cross-engine float parity follows the house pattern:
per-bucket ratios 9-dp rounded in both engines before the per-doc sum,
outputs 4-dp, and the ordering key is rounded with a doc_id tiebreak so
a last-ulp libm divergence cannot flip ranks.

Reference analog: the curation-side data-selection step of web
pipelines (docs/performance.md pipeline inventory); the collector core
carries no trainable selection — the parity surface is the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .batch import one_partition_window
from .dedup import md5_long, tokenize

TWO60 = float(1 << 60)


def ngram_buckets(text: Column, n_buckets: int) -> Column:
    """Hashed unigram + bigram feature buckets of ``text``.

    The token array is bound through a single-element transform lambda so
    split() runs once per row (no CSE across lambda scopes — the
    winnowing/shingle lesson); bigrams are space-joined adjacent pairs so
    the oracle's ``t[i] || ' ' || t[i+1]`` replays the exact hash input.
    """
    nb = F.lit(n_buckets)

    def _feats(toks: Column) -> Column:
        bigrams = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat(
                    F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            F.concat(toks, bigrams), lambda t: md5_long(t) % nb
        )

    return F.element_at(
        F.transform(F.array(tokenize(text)), lambda toks: _feats(toks)), 1
    )


def dsir_log_ratios(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Fit the importance model: ``(model, consts)``.

    ``model`` is ``(bucket, ratio)`` with ≤ ``n_buckets`` rows, ratio =
    round(ln p̂_target(b) − ln p̂_raw(b), 9) under add-``alpha``
    smoothing. ``consts`` is one row ``(c0,)`` — the ratio of a bucket
    unseen in BOTH corpora (pure smoothing mass), the coalesce default
    at scoring time. Both are tiny by construction — broadcast them.
    An empty corpus has no density estimate: totals of zero raise
    rather than emitting a NULL model (ln(0) is silently NULL in Spark).
    """

    def _feats(df: DataFrame, is_target: bool) -> DataFrame:
        return df.where(F.col(text_col).isNotNull()).select(
            F.lit(is_target).alias("__y"),
            F.explode(ngram_buckets(F.col(text_col), n_buckets)).alias("bucket"),
        )

    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * n_buckets)
    # one tagged union + ONE groupBy (train_nb's pos/neg shape) — never a
    # join of two count frames: map-side partials, ≤ n_buckets rows out
    counts = (
        _feats(target, True)
        .unionAll(_feats(raw, False))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("__y"), 1).otherwise(0)).cast("double").alias("__ct"),
            F.sum(F.when(F.col("__y"), 0).otherwise(1)).cast("double").alias("__cr"),
        )
    )
    totals = counts.agg(
        F.sum("__ct").alias("__tt"), F.sum("__cr").alias("__tr")
    ).select(
        F.when(
            (F.col("__tt") > 0) & (F.col("__tr") > 0),
            F.struct("__tt", "__tr"),
        )
        .otherwise(
            F.raise_error(
                F.lit("dsir_log_ratios: a corpus has no features — no density")
            )
        )
        .alias("__t")
    ).select(F.col("__t.__tt").alias("__tt"), F.col("__t.__tr").alias("__tr"))
    model = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log((F.col("__ct") + a) / (F.col("__tt") + ab))
            - F.log((F.col("__cr") + a) / (F.col("__tr") + ab)),
            9,
        ).alias("ratio"),
    )
    consts = totals.select(
        F.round(
            F.log(a / (F.col("__tt") + ab)) - F.log(a / (F.col("__tr") + ab)), 9
        ).alias("c0")
    )
    return model, consts


def dsir_scores(
    docs: DataFrame,
    model: DataFrame,
    consts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-document importance log-weights: ``(id, n_feats, log_w)``.

    log_w = round(Σ_features ratio(bucket), 4) — the bag-of-ngrams sum
    (a feature occurring c times contributes c·ratio because it explodes
    c times). Buckets outside the model coalesce to the smoothing
    constant ``c0``. One explode + broadcast join + one per-doc
    aggregate; the corpus never shuffles on the feature key.
    """
    feats = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(ngram_buckets(F.col(text_col), n_buckets)).alias("bucket"),
    )
    joined = (
        feats.join(F.broadcast(model), "bucket", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            id_col, F.coalesce(F.col("ratio"), F.col("c0")).alias("__r")
        )
    )
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_feats"),
        F.round(F.sum("__r"), 4).alias("log_w"),
    )


def dsir_resample(
    scored: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "log_w",
    seed: str = "dsir",
) -> DataFrame:
    """Gumbel-top-k resampling without replacement: the ``k`` documents
    with the largest ``log_w + Gumbel`` keys are a weighted sample
    without replacement under w(x) = exp(log_w) (the Gumbel-max trick).

    The Gumbel draw is deterministic and engine-independent:
    u = (md5_long(seed#id) + 0.5) / 2⁶⁰ ∈ (0,1), g = −ln(−ln(u)) —
    reproducible resamples, replayable by the SQL oracle. The key is
    9-dp rounded with an ``id_col`` tiebreak so ordering is total and
    ulp-stable; orderBy+limit plans as TakeOrderedAndProject (two-phase
    top-k — only partitions×k rows merge, never a global sort).
    """
    u = (
        md5_long(F.concat(F.lit(seed), F.lit("#"), F.col(id_col).cast("string")))
        + F.lit(0.5)
    ) / F.lit(TWO60)
    key = F.round(F.col(weight_col) - F.log(-F.log(u)), 9)
    ranked = (
        scored.select(id_col, weight_col, key.alias("gumbel_key"))
        .orderBy(F.desc("gumbel_key"), F.col(id_col))
        .limit(int(k))
    )
    # row_number over the ≤k survivors only (post-limit) — a single-task
    # window over k rows, not over the corpus
    w = F.row_number().over(one_partition_window(F.desc("gumbel_key"), F.col(id_col)))
    return ranked.select(id_col, weight_col, "gumbel_key", w.alias("rank"))
