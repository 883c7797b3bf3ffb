"""Per-host politeness admission (Q6) + robots gate (S4) for a crawl round.

Reference semantics being re-expressed:
- politeness: 1 request / 2 s / origin, 1 in-flight / origin
  (spider/src/web_visitor.rs:29-62). In BSP terms a round of duration D
  grants each host ``tokens_per_round ~= D / 2s`` fetch slots.
- ordering: the reference frontier is strict FIFO *within a request*
  (crawl_loop.rs:115-143); politeness delays but never reorders. The BSP
  equivalent is **strict-prefix admission**: a round admits the longest
  seq-prefix of the frontier in which no host exceeds its token budget.
  Because every round is a contiguous prefix of the reference's visit
  order, round boundaries cannot change any gate decision — politeness is
  pure pacing, and the final visit order / seen set are independent of
  token budgets (property-tested in tests/test_frontier.py).

Token ranking is a native window cumsum (pure JVM — the admission stage
scans the whole frontier, the biggest table in the system); only robots
matching runs in ``groupBy(origin).applyInPandas`` batches (body parsed
once per group, matched vectorized over the group's URLs).

Skew note (north_rule): admission only *ranks* per host — the heavy
fetch/decode stage afterwards is free to salt a hot host's admitted rows
across partitions (`salt = seq % S`); the token ledger itself must never
be salted or counts would split. At 10^10 frontier rows the groupBy here
shuffles only (request_id, seq, host, url-hash) control columns.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..functions.robots import origin_allowed, select_group_rules

DEFAULT_TOKENS_PER_ROUND = 8
PRODUCT_TOKEN = "my_crawler"


def _with_budget(frontier: DataFrame, budgets: DataFrame) -> DataFrame:
    if "token_cost" not in frontier.columns:
        frontier = frontier.withColumn("token_cost", F.lit(1).cast("long"))
    return frontier.join(
        F.broadcast(
            budgets.withColumn("tokens_per_round", F.col("tokens_per_round").cast("long"))
        ),
        "host",
        "left",
    ).withColumn(
        # a zero/negative budget would starve the strict prefix forever
        "tokens_per_round",
        F.greatest(
            F.coalesce("tokens_per_round", F.lit(DEFAULT_TOKENS_PER_ROUND).cast("long")),
            F.lit(1).cast("long"),
        ),
    )


def _admitted_from_ranked(ranked: DataFrame) -> DataFrame:
    # over-budget = the row would start after the budget is exhausted; a
    # host's first fetchable row always starts (its own cost may overflow
    # the round — the fetch just takes longer, like the reference's retries)
    over = ranked.filter(
        F.col("fetchable")
        & (F.col("host_rank") - F.col("token_cost") >= F.col("tokens_per_round"))
    )
    cutoffs = over.groupBy("request_id").agg(F.min("seq").alias("cutoff_seq"))
    return (
        ranked.join(F.broadcast(cutoffs), "request_id", "left")
        .withColumn(
            "admitted", F.col("cutoff_seq").isNull() | (F.col("seq") < F.col("cutoff_seq"))
        )
        .drop("cutoff_seq", "tokens_per_round", "host_rank")
    )


def admit_prefix(frontier: DataFrame, budgets: DataFrame) -> DataFrame:
    """Mark each frontier row admitted/deferred for this round.

    frontier: (request_id, url, host, depth, seq, fetchable:boolean
               [, token_cost:long — per-attempt politeness cost, S2])
    budgets:  (host, tokens_per_round) — small dim, broadcast.

    Returns frontier + ``admitted`` column. Strict prefix per request_id:
    cutoff = min seq (per request) of any fetchable row that would START
    after its host's token budget is spent (``cumulative_cost - own_cost >=
    budget``); admitted = seq < cutoff. With unit costs this is exactly the
    old "rank exceeds budget" rule; weighted costs (retried fetches, S2)
    only move the cutoff earlier — pacing, never reordering.

    The cumulative cost is a native window ``sum(token_cost * fetchable)
    OVER (PARTITION BY request_id, host ORDER BY seq)`` — whole-stage
    codegen, spillable, no Arrow round trip — this runs on the FULL frontier
    (the 10^10-row table at scale), so a grouped-map pandas stage here would
    both ship the table through Arrow every round and materialize each
    (request, host) group as a single frame (a hot host with 10^7 queued
    URLs = multi-GB in one task).
    """
    ranked = _with_budget(frontier, budgets).withColumn(
        "host_rank",
        F.sum(
            F.when(F.col("fetchable"), F.col("token_cost")).otherwise(F.lit(0).cast("long"))
        ).over(
            Window.partitionBy("request_id", "host")
            .orderBy("seq")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return _admitted_from_ranked(ranked)


def robots_gate(rows: DataFrame, robots_dim: DataFrame, salt: int = 8) -> DataFrame:
    """Adds ``robots_allowed_flag`` via per-(origin, salt) applyInPandas
    batches.

    rows:       must carry (origin, url) (+ anything else, passed through)
    robots_dim: (origin, entry_body:string nullable, allow_all:boolean) —
                the cache-policy-resolved robots table (robots.rs:100-134),
                broadcast into the join.
    Origins with no robots row behave as 404 allow-all (robots.rs:108-114).

    Matching is per-row independent — only the body parse is per-group — so
    the group key is salted by a url hash: a web of H origins fans out to
    H*salt tasks instead of H (the body is re-parsed salt times per origin,
    which is noise next to shipping it once per group). Pass salt=1 for the
    unsalted layout.
    """
    if salt > 1:
        rows = rows.withColumn("__rsalt", F.pmod(F.xxhash64("url"), F.lit(salt)))
    group_keys = ["origin", "__rsalt"] if salt > 1 else ["origin"]
    out_schema = StructType(rows.schema.fields + [StructField("robots_allowed_flag", BooleanType())])

    def check(key, pdf: pd.DataFrame) -> pd.DataFrame:
        body = pdf["__entry_body"].iloc[0]
        allow_all = pdf["__allow_all"].iloc[0]
        if pd.isna(allow_all):  # no robots row -> 4xx allow-all policy
            body, allow_all = None, True
        if body is None or (isinstance(body, float) and pd.isna(body)):
            pdf["robots_allowed_flag"] = bool(allow_all)
            return pdf.drop(columns=["__entry_body", "__allow_all"])
        # parse + compile the group's rules ONCE per origin, then match the
        # whole batch with vectorized pandas .str ops (no per-row Python)
        rules = select_group_rules(body, PRODUCT_TOKEN)
        if rules is None:
            pdf["robots_allowed_flag"] = True
            return pdf.drop(columns=["__entry_body", "__allow_all"])
        paths = pdf["url"].str.replace(
            r"^[a-z][a-z0-9+.\-]*://[^/?]*", "", regex=True, case=False
        )
        # urlsplit (the scalar twin, url_match_path) drops fragments; cut
        # them here too so both matchers agree on URLs containing '#'
        paths = paths.str.split("#", n=1).str[0]
        paths = paths.where(paths.str.startswith("/"), "/" + paths)
        verdict = pd.Series(True, index=pdf.index)
        for _pat, is_allow, rx in rules:  # ascending precedence; last write wins
            verdict[paths.str.match(rx)] = is_allow
        pdf["robots_allowed_flag"] = verdict
        return pdf.drop(columns=["__entry_body", "__allow_all"])

    dim = F.broadcast(robots_dim.select(
        "origin",
        F.col("entry_body").alias("__entry_body"),
        F.col("allow_all").alias("__allow_all"),
    ))
    out = (
        rows.join(dim, "origin", "left")
        .groupBy(*group_keys)
        .applyInPandas(check, out_schema)
    )
    return out.drop("__rsalt") if salt > 1 else out


def py_robots_policy_allowed(entry_body: str | None, allow_all: bool, url: str) -> bool:
    """Driver-side one-off check (seed admission) sharing the same matcher."""
    return origin_allowed(entry_body, bool(allow_all), PRODUCT_TOKEN, url)
