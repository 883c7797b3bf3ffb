"""CCNet-style language-model quality bucketing (Wenzek et al. 2020).

CCNet scores each document with a language-model perplexity and splits the
corpus into head / middle / tail quality buckets at perplexity thresholds
learned from a held-out sample. The production system uses a KenLM 5-gram
model; this engine trains a deterministic add-one-smoothed UNIGRAM model on
the corpus itself — the same dataflow shape (train LM -> score docs ->
bucket at sampled thresholds) with a model both Spark and the DuckDB oracle
can reproduce bit-for-bit.

Plan shape (fully declarative — zero driver collects, one action at the end):

1. tokenize + explode            -> (doc_id, token)          one scan
2. vocab = groupBy(token).count  -> (token, cnt)             one shuffle
3. corpus stats as a 1-ROW AGG   -> (n_total, v)             crossJoin (broadcast)
4. logp(token) = ln(cnt+1) - ln(n_total+v), rounded 9dp      column expr
5. doc score: join tokens->vocab (shuffle hash join; the vocab of a 100 TB
   corpus does not broadcast), groupBy(doc): mean logp       one shuffle
6. thresholds: percentile(ppl, {1/3, 2/3}) over the hash-sampled held-out
   docs, ANOTHER 1-row relation crossJoined back             broadcast
7. bucket = head / middle / tail by ppl vs thresholds        column expr

Cross-engine float discipline (the DuckDB oracle hash-matches values):
per-token logp is rounded to 9dp BEFORE summing so a <=1-ulp libm ln()
difference cannot survive; the per-doc mean is rounded to 6dp so shuffle-
order float-sum noise (~1e-15 relative) cannot reach the emitted digits;
ppl = exp(-mean) is computed FROM the rounded mean, so both engines
exponentiate identical doubles.

At 100 TB: steps 1-5 are two shuffles over token traffic (the same cost
class as the MinHash shingle pipeline); the exact `percentile` in step 6
runs over the bounded held-out sample only (CCNet's own design — thresholds
come from a small held-out set, rate chosen so it fits one aggregator; at
extreme scale swap in percentile_approx and re-learn the thresholds once,
they are model constants thereafter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import tokens
from .sampling import _hex_threshold, hash_fraction


def unigram_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, cnt) unigram counts over the corpus — the trained LM."""
    toked = docs.select(tokens(F.col(text_col)).alias("_toks"))
    return (
        toked.select(F.explode("_toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def doc_perplexity(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, mean_logp, ppl) under the corpus-trained add-one
    unigram LM. Docs with zero tokens score NULL (no evidence either way)."""
    vocab = unigram_vocab(docs, text_col)
    # 1-row corpus stats, crossJoined (Spark broadcasts single-row sides)
    stats = vocab.agg(
        F.sum("cnt").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    logp = vocab.crossJoin(stats).select(
        "token",
        F.round(
            F.log(F.col("cnt") + F.lit(1.0)) - F.log(F.col("n_total") + F.col("v")), 9
        ).alias("logp"),
    )
    tok = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")).select(
        F.col(id_col), F.explode("_toks").alias("token")
    )
    scored = (
        tok.join(logp, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("logp") / F.count(F.lit(1)), 6).alias("mean_logp"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            "mean_logp",
            F.round(F.exp(-F.col("mean_logp")), 4).alias("ppl"),
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sample_rate: float = 0.5,
) -> DataFrame:
    """(doc_id, n_tokens, mean_logp, ppl, bucket) — CCNet head/middle/tail.

    Thresholds are the exact 1/3 and 2/3 perplexity percentiles of a
    deterministic sha256 held-out sample (`sample_rate` of docs), carried as
    a 1-row relation crossJoined back — no collect, no global window. Low
    perplexity = 'head' (best), then 'middle', then 'tail'; unscorable
    (zero-token) docs get NULL.
    """
    scored = doc_perplexity(docs, id_col, text_col)
    held_out = scored.where(
        (hash_fraction(F.col(id_col)) < F.lit(_hex_threshold(sample_rate)))
        & F.col("ppl").isNotNull()
    )
    thresholds = held_out.agg(
        F.round(F.expr("percentile(ppl, 1.0/3)"), 6).alias("t1"),
        F.round(F.expr("percentile(ppl, 2.0/3)"), 6).alias("t2"),
    )
    return scored.crossJoin(thresholds).select(
        id_col,
        "n_tokens",
        "mean_logp",
        "ppl",
        F.when(F.col("ppl").isNull(), F.lit(None).cast("string"))
        .when(F.col("ppl") <= F.col("t1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def bigram_doc_perplexity(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bigram-LM perplexity — the n-gram step from `doc_perplexity`'s
    unigram model toward CCNet's 5-gram KenLM, same dataflow discipline:
    p(w_i | w_{i-1}) = (cnt(w_{i-1} w_i) + 1) / (cnt(w_{i-1}) + V)
    (add-one smoothing), scored over positions 1..n-1.

    -> (doc_id, n_bigrams, mean_logp, ppl); docs with < 2 tokens are NULL.

    Plan: the corpus tokenizes once; bigram counts are one extra shuffle
    over the pair stream (the cost step from 1-gram to n-gram models —
    each order adds one explode + one groupBy, traffic ~ token count);
    scoring joins each doc position to the bigram dim on (w1, w2) and the
    unigram dim on w1 — both shuffle hash joins (an n-gram vocab of a
    100 TB corpus never broadcasts). Same cross-engine float rules as
    doc_perplexity: per-position logp rounded 9dp, doc mean 6dp, exp from
    the rounded mean.
    """
    toked = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    uni = (
        toked.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("ucnt"))
    )
    v = uni.agg(F.count(F.lit(1)).cast("double").alias("v"))
    idx = F.sequence(F.lit(1), F.size("toks") - 1)
    big = toked.filter(F.size("toks") >= 2).select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("toks", i).alias("w1"),
                    F.element_at("toks", i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select(id_col, "b.w1", "b.w2")
    bcnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bcnt"))
    scored = (
        big.join(bcnt, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(v)
        .select(
            F.col(id_col),
            F.round(
                F.log(F.col("bcnt") + F.lit(1.0))
                - F.log(F.col("ucnt") + F.col("v")),
                9,
            ).alias("logp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("logp") / F.count(F.lit(1)), 6).alias("mean_logp"),
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            "mean_logp",
            F.round(F.exp(-F.col("mean_logp")), 4).alias("ppl"),
        )
    )


def kneser_ney_doc_perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995; Chen &
    Goodman 1999 eq. 4.26) — the smoothing KenLM itself uses, completing the
    add-one -> KN ladder toward CCNet's production scorer:

        p_KN(w2|w1) = max(c(w1 w2) - d, 0)/c(w1*)
                      + d * N1+(w1 *)/c(w1*) * N1+(* w2)/N1+(* *)

    where c(w1*) is w1's count as a bigram left side, N1+ are distinct-
    continuation counts, and the continuation distribution p_cont(w2) =
    N1+(* w2)/N1+(* *) replaces the raw unigram — the famous "San
    Francisco" fix: 'Francisco' is frequent but follows almost nothing
    except 'San', so its continuation mass is tiny.

    All model quantities are exact integer aggregates of the bigram-count
    relation (ONE extra groupBy each on w1 and w2 — tiny next to the pair
    shuffle); p_KN is computed with an op order both engines execute
    identically on exact doubles, then ln() is rounded 9dp, the doc mean
    6dp, and ppl = exp(-mean) from the rounded value (lm.py's cross-engine
    float contract). Docs with < 2 tokens score NULL. Model trained on the
    scored corpus itself, so every doc bigram has c > 0 and p_KN > 0.
    """
    toked = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    idx = F.sequence(F.lit(1), F.size("toks") - 1)
    big = (
        toked.filter(F.size("toks") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.element_at("toks", i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .select(id_col, "b.w1", "b.w2")
    )
    bcnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bcnt"))
    left = bcnt.groupBy("w1").agg(
        F.sum("bcnt").cast("double").alias("c_w1"),
        F.count(F.lit(1)).cast("double").alias("n_follow"),
    )
    right = bcnt.groupBy("w2").agg(F.count(F.lit(1)).cast("double").alias("n_prec"))
    n_types = bcnt.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    d = F.lit(float(discount))
    p_kn = (
        F.greatest(F.col("bcnt").cast("double") - d, F.lit(0.0)) / F.col("c_w1")
        + d * F.col("n_follow") / F.col("c_w1") * (F.col("n_prec") / F.col("n_types"))
    )
    scored = (
        big.join(bcnt, ["w1", "w2"])
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(n_types)
        .select(F.col(id_col), F.round(F.log(p_kn), 9).alias("logp"))
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("logp") / F.count(F.lit(1)), 6).alias("mean_logp"),
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            "mean_logp",
            F.round(F.exp(-F.col("mean_logp")), 4).alias("ppl"),
        )
    )
