"""Fused single-pass row rules: the engine's one row-rule plan, on every
layout.

Every row-scope rule evaluates in ONE projection over one join tree:

* the snapshot join on doc_id;
* the uniqueness count: a join to the run-global duplicate-key set
  (``uniqueness.duplicate_keys``) or, without it, a
  ``Window.partitionBy(doc_id)`` that reuses the join's doc_id partitioning;
* n_tok consistency, referential (broadcast), NULL tokens and token
  equality are column expressions in the same projection, exploded into
  violation rows. The token-equality first mismatch is a Catalyst HOF
  (`token_equality.first_mismatch`) computed in its own column and fed only
  the candidate rows (`NOT tokens <=> ref_tokens`), so equal rows never run
  it — no Python worker, no cache, one job.

Shuffle exchanges in the executed plan (``plans.plan_facts``, 2M docs in 16
parts, local[4]):

* doc_id-bucketed sequences and snapshot: 0, with or without the
  duplicate-key join (the storage-co-located join keeps its output
  partitioned and sorted on doc_id);
* plain parquet: 2 (sequences and snapshot hashed on doc_id), 3 with the
  duplicate-key join (the third is the duplicate count's own, which the
  engine runs once per run).

So no layout gets a second plan: evaluating the rules as separate branches
(a row-expression scan, a uniqueness join and a token-equality join)
measured 5 exchanges on the plain layout and ran slower.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from log_anomaly_detector_spark.rules.token_equality import (
    first_mismatch,
    mismatch_detail,
)


def fused_row_violations(
    seqs: DataFrame,
    snapshot: DataFrame,
    allowed: DataFrame,
    dups: DataFrame | None = None,
) -> DataFrame:
    """The violation rows (part_id, doc_id, rule_id, observed, expected) of
    every row-scope rule.

    ``dups`` (doc_id, dup_cnt), when given, is the duplicate-key set computed
    over the FULL table (engine job 0) so duplicates spanning checkpoint
    batches are caught; on the doc_id-bucketed layout that join is co-located
    (no Exchange) just like the snapshot join. Without ``dups`` the count
    is a window over ``seqs`` itself: the engine's scope when one batch
    covers the whole table, and standalone use.
    """
    joined = seqs.join(
        snapshot.select("doc_id", "ref_tokens"), "doc_id", "left"
    ).join(
        F.broadcast(allowed.select("source", F.lit(True).alias("_in_dim"))),
        "source",
        "left",
    )
    if dups is None:
        # window computed as its own projection first — Spark cannot resolve
        # a window expression nested inside the explode/filter lambda below
        joined = joined.withColumn(
            "_dup_cnt", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    else:
        joined = joined.join(
            dups.select("doc_id", F.col("dup_cnt").alias("_dup_cnt")),
            "doc_id",
            "left",
        )
    dup_cnt = F.col("_dup_cnt")
    # token-equality candidates keep their tokens, every other row gets NULL,
    # which short-circuits the first-mismatch HOF. Its own projection: inlined
    # into first_mismatch, the array comparison would run once per reference.
    cand = F.col("ref_tokens").isNotNull() & ~F.col("tokens").eqNullSafe(
        F.col("ref_tokens")
    )
    joined = joined.withColumn("_cand_tokens", F.when(cand, F.col("tokens")))
    joined = joined.withColumn("_mm", first_mismatch("_cand_tokens", "ref_tokens"))
    mm_observed, mm_expected = mismatch_detail(F.col("_mm"))

    def v(cond, rule_id, observed, expected):
        return F.when(
            cond,
            F.struct(
                F.lit(rule_id).alias("rule_id"),
                observed.alias("observed"),
                expected.alias("expected"),
            ),
        )

    viols = F.array(
        v(
            ~(F.col("n_tok") == F.size("tokens")),
            "n_tok_consistency",
            F.concat(F.lit("n_tok="), F.col("n_tok").cast("string")),
            F.concat(F.lit("size(tokens)="), F.size("tokens").cast("string")),
        ),
        v(
            F.col("source").isNotNull() & F.col("_in_dim").isNull(),
            "referential",
            F.col("source"),
            F.lit("member of allowed_sources"),
        ),
        v(
            F.col("tokens").isNull(),
            "null_tokens",
            F.lit("tokens=NULL"),
            F.lit("non-null tokens"),
        ),
        v(
            F.col("doc_id").isNotNull() & (dup_cnt > 1),
            "uniqueness",
            F.concat(F.lit("count="), dup_cnt.cast("string")),
            F.lit("count=1"),
        ),
        v(F.col("_mm.idx") >= 0, "token_equality", mm_observed, mm_expected),
    )
    return joined.select(
        "part_id",
        "doc_id",
        F.explode(F.filter(viols, lambda x: x.isNotNull())).alias("v"),
    ).select("part_id", "doc_id", "v.*")
