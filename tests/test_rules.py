"""Unit tests for each rule pack on tiny handcrafted DataFrames."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from log_anomaly_detector_spark.config import DEFAULT_CONFIG as CFG
from log_anomaly_detector_spark.rules.drift import chi2_norm, ks_d, psi
from log_anomaly_detector_spark.rules.row_invariants import (
    ntok_consistency_violations,
    referential_violations,
)
from log_anomaly_detector_spark.rules.fused import fused_row_violations
from log_anomaly_detector_spark.rules.token_equality import first_mismatch
from log_anomaly_detector_spark.rules.uniqueness import duplicate_keys

SEQ_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string, part_id int"
SNAP_SCHEMA = "doc_id string, ref_tokens array<int>"
DIM_SCHEMA = "source string, description string"


def _rule_rows(spark, df, rule_id, snap=None, dups=None):
    """The fused row pass's violation rows of one rule; the dimension holds
    the sources "s" and "ok", the snapshot is empty unless given."""
    snap = snap if snap is not None else spark.createDataFrame([], SNAP_SCHEMA)
    dim = spark.createDataFrame([("s", "d"), ("ok", "d")], DIM_SCHEMA)
    viol = fused_row_violations(df, snap, dim, dups)
    return viol.filter(F.col("rule_id") == rule_id)


def test_ntok_consistency(spark):
    df = spark.createDataFrame(
        [("a", [1, 2], 2, "s", 0), ("b", [1, 2, 3], 2, "s", 0), ("c", [], 0, "s", 1)],
        SEQ_SCHEMA,
    )
    got = {r["doc_id"]: r for r in ntok_consistency_violations(df).collect()}
    assert set(got) == {"b"}
    assert got["b"]["observed"] == "n_tok=2" and got["b"]["expected"] == "size(tokens)=3"


def test_referential(spark):
    df = spark.createDataFrame(
        [("a", [1], 1, "ok", 0), ("b", [1], 1, "bad", 0), ("c", [1], 1, None, 0)],
        SEQ_SCHEMA,
    )
    dim = spark.createDataFrame([("ok", "d")], "source string, description string")
    got = referential_violations(df, dim).collect()
    assert [(r["doc_id"], r["observed"]) for r in got] == [("b", "bad")]


def test_uniqueness(spark):
    df = spark.createDataFrame(
        [("a", [1], 1, "s", 0), ("a", [1], 1, "s", 1), ("b", [1], 1, "s", 0)],
        SEQ_SCHEMA,
    )
    for dups in (None, duplicate_keys(df)):
        got = _rule_rows(spark, df, "uniqueness", dups=dups).collect()
        assert sorted((r["doc_id"], r["part_id"]) for r in got) == [("a", 0), ("a", 1)]
        assert all(r["observed"] == "count=2" for r in got)


def test_token_equality_first_mismatch_vs_sql(spark):
    """Violation rendering on plain arrays, and first_mismatch's equality
    decision agrees with SQL array equality."""
    rows = [
        ("eq", [1, 2, 3], 3, "s", 0),
        ("val_mismatch", [1, 9, 3], 3, "s", 0),
        ("a_longer", [1, 2, 3, 4], 4, "s", 0),
        ("b_longer", [1, 2], 2, "s", 0),
        ("first_tok", [9, 2, 3], 3, "s", 0),
        ("empty_vs", [], 0, "s", 0),
    ]
    snap_rows = [
        ("eq", [1, 2, 3]),
        ("val_mismatch", [1, 2, 3]),
        ("a_longer", [1, 2, 3]),
        ("b_longer", [1, 2, 3]),
        ("first_tok", [1, 2, 3]),
        ("empty_vs", [1]),
        ("not_in_seqs", [7]),
    ]
    df = spark.createDataFrame(rows, SEQ_SCHEMA)
    snap = spark.createDataFrame(snap_rows, SNAP_SCHEMA)

    got = {
        r["doc_id"]: (r["observed"], r["expected"])
        for r in _rule_rows(spark, df, "token_equality", snap=snap).collect()
    }
    assert set(got) == {"val_mismatch", "a_longer", "b_longer", "first_tok", "empty_vs"}
    assert got["val_mismatch"] == ("tokens[1]=9", "ref=2")
    assert got["first_tok"] == ("tokens[0]=9", "ref=1")
    assert got["a_longer"] == ("tokens[3]=4", "ref=-1")   # extra slot in observed
    assert got["b_longer"] == ("tokens[2]=-1", "ref=3")   # missing slot
    assert got["empty_vs"] == ("tokens[0]=-1", "ref=1")

    # SQL cross-check of the equality decision itself
    sql_idx = (
        df.join(snap, "doc_id")
        .withColumn(
            "sql_neq",
            ~(F.col("tokens") == F.col("ref_tokens")),
        )
        .withColumn("m", first_mismatch("tokens", "ref_tokens"))
        .select("doc_id", "sql_neq", (F.col("m.idx") >= 0).alias("hof_neq"))
        .collect()
    )
    for r in sql_idx:
        assert r["sql_neq"] == r["hof_neq"], r


def test_row_expr_combined_pass_equivalent(spark):
    """The fused pass's n_tok_consistency and referential rows equal the two
    stand-alone rules the streaming validator runs, so the stream and the
    engine judge a row alike."""
    from log_anomaly_detector_spark.datagen import (
        GenSpec,
        gen_allowed_sources,
        gen_reference_snapshot,
        gen_sequences,
    )

    spec = GenSpec(n_docs=3_000, n_parts=4, seed=11)
    seqs = gen_sequences(spark, spec)
    allowed = gen_allowed_sources(spark)
    fused = {
        tuple(r)
        for r in fused_row_violations(seqs, gen_reference_snapshot(spark, spec), allowed)
        .filter(F.col("rule_id").isin("n_tok_consistency", "referential"))
        .collect()
    }
    separate = {
        tuple(r)
        for r in ntok_consistency_violations(seqs)
        .unionByName(referential_violations(seqs, allowed))
        .collect()
    }
    assert {r[2] for r in fused} == {"n_tok_consistency", "referential"}
    assert fused == separate


def test_null_tokens_row_rule_and_stats_pruning(spark):
    """NULL tokens are flagged by the row-rule scan, and the stats scan never
    reads the fat tokens column (its ReadSchema must exclude it)."""
    import tempfile

    from log_anomaly_detector_spark.rules.column_stats import stats_pass
    from log_anomaly_detector_spark.plans import formatted_plan

    df = spark.createDataFrame(
        [("a", None, 1, "ok", 0), ("b", [1], 1, "ok", 0)], SEQ_SCHEMA
    )
    snap = spark.createDataFrame([("a", [1]), ("b", [1])], SNAP_SCHEMA)
    dim = spark.createDataFrame([("ok", "d")], DIM_SCHEMA)
    viol = fused_row_violations(df, snap, dim)
    got = {(r["doc_id"], r["rule_id"]) for r in viol.collect()}
    assert got == {("a", "null_tokens")}

    # pruning must survive a real parquet scan
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d)
    plan = formatted_plan(stats_pass(spark.read.parquet(d), CFG, ["ok"]))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "tokens" not in read_schema[0], read_schema


def test_stats_plan_has_no_exact_distinct(spark):
    """The engine's R3 distinct estimate is HLL-only: the stats plan must
    carry approx_count_distinct and never an exact count(distinct ...) — the
    exact side exists solely inside the hll_distinct CONTRACT query as the
    oracle's yardstick (operators/relational.py q_hll_distinct docstring).
    An exact distinct is a full shuffle of the key universe at 100 TB."""
    from log_anomaly_detector_spark.plans import formatted_plan
    from log_anomaly_detector_spark.rules.column_stats import stats_pass

    df = spark.createDataFrame(
        [("a", [1], 1, "ok", 0), ("b", [1], 1, "ok", 0)], SEQ_SCHEMA
    )
    plan = formatted_plan(stats_pass(df, CFG, ["ok"]))
    assert "approx_count_distinct" in plan, plan
    assert "count(distinct" not in plan.lower(), plan


def test_uniqueness_ignores_null_doc_ids(spark):
    """Two NULL doc_ids are NOT duplicates of each other (they are R1
    null-rate violations) — pinned semantics matching the golden impl."""
    df = spark.createDataFrame(
        [(None, [1], 1, "s", 0), (None, [2], 1, "s", 0), ("a", [1], 1, "s", 0)],
        SEQ_SCHEMA,
    )
    for dups in (None, duplicate_keys(df)):
        assert _rule_rows(spark, df, "uniqueness", dups=dups).count() == 0


def test_uniqueness_pathological_skew(spark):
    """One doc_id duplicated 200k times is flagged on every copy, through
    both uniqueness branches of the fused pass: the doc_id window (all copies
    in one window partition) and the join to ``duplicate_keys``, whose
    partial aggregate collapses the copies before the key shuffle."""
    hot = spark.range(200_000).select(
        F.lit("blk_hot").alias("doc_id"),
        F.array(F.lit(1)).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
        (F.col("id") % 4).cast("int").alias("part_id"),
    )
    cold = spark.range(10_000).select(
        F.concat(F.lit("blk_"), F.col("id").cast("string")).alias("doc_id"),
        F.array(F.lit(1)).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
        F.lit(0).cast("int").alias("part_id"),
    )
    df = hot.unionByName(cold)
    for dups in (None, duplicate_keys(df)):
        viol = _rule_rows(spark, df, "uniqueness", dups=dups)
        assert viol.count() == 200_000
        assert viol.select("doc_id").distinct().count() == 1
        assert viol.first()["observed"] == "count=200000"


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """The engine's key layout claim: on doc_id-bucketed tables the fused row
    pass (with and without the duplicate-key join) and the duplicate-key
    count run with ZERO Exchange (regression guard for the storage-co-located
    join)."""
    from log_anomaly_detector_spark import storage
    from log_anomaly_detector_spark.datagen import (
        GenSpec,
        gen_allowed_sources,
        gen_reference_snapshot,
        gen_sequences,
    )
    from log_anomaly_detector_spark.plans import plan_facts

    spec = GenSpec(n_docs=2_000, n_parts=2, seed=5)
    storage.write_bucketed(
        gen_sequences(spark, spec), "t_seqb", str(tmp_path / "seqb"),
        n_buckets=4, partition_col="part_id",
    )
    storage.write_bucketed(
        gen_reference_snapshot(spark, spec), "t_snapb", str(tmp_path / "snapb"),
        n_buckets=4,
    )
    seqs = storage.register_bucketed(
        spark, "t_seqb_r", storage.SEQ_DDL, str(tmp_path / "seqb"),
        n_buckets=4, partition_col="part_id",
    )
    snap = storage.register_bucketed(
        spark, "t_snapb_r", storage.SNAP_DDL, str(tmp_path / "snapb"), n_buckets=4
    )
    # force the big-big join shape (at real scale neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        dk = duplicate_keys(seqs)
        assert plan_facts(dk)["shuffle_exchanges"] == 0
        allowed = gen_allowed_sources(spark)
        for dups in (None, dk):
            viol = fused_row_violations(seqs, snap, allowed, dups)
            facts = plan_facts(viol)
            assert facts["sort_merge_join"]
            assert facts["shuffle_exchanges"] == 0, "bucketed join must not shuffle"
            # planted edits and duplicates found
            got = {r["rule_id"] for r in viol.select("rule_id").distinct().collect()}
            assert {"token_equality", "uniqueness"} <= got, got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.parametrize("with_dups", [False, True], ids=["window", "dups"])
def test_fused_pass_equals_golden(spark, with_dups):
    """The fused row pass produces exactly the golden violation set on
    planted data, through either uniqueness branch: the doc_id window
    (no ``dups``) and the join to a precomputed ``duplicate_keys``."""
    from log_anomaly_detector_spark.datagen import (
        GenSpec,
        gen_allowed_sources,
        gen_reference_snapshot,
        gen_sequences,
    )
    from log_anomaly_detector_spark.golden import golden_row_violations

    spec = GenSpec(n_docs=4_000, n_parts=4, seed=13)
    seqs = gen_sequences(spark, spec).cache()
    snap = gen_reference_snapshot(spark, spec)
    allowed = gen_allowed_sources(spark)

    dups = duplicate_keys(seqs) if with_dups else None
    got = {
        (r["part_id"], r["doc_id"], r["rule_id"])
        for r in fused_row_violations(seqs, snap, allowed, dups).collect()
    }
    gold = golden_row_violations(
        seqs.toPandas(),
        snap.toPandas(),
        {r["source"] for r in allowed.collect()},
    )
    seqs.unpersist()
    # the generator plants every row rule but NULL tokens
    assert {r[2] for r in got} == set(CFG.row_rules) - {"null_tokens"}
    assert got == set(map(tuple, gold[["part_id", "doc_id", "rule_id"]].values))


def test_drift_stats_math():
    p = np.array([10.0, 20, 30, 40])
    q = np.array([10.0, 20, 30, 40])
    assert psi(p, q) == 0.0
    assert ks_d(p, q) == 0.0
    assert chi2_norm(p, q) == 0.0
    p2 = np.array([40.0, 30, 20, 10])
    # hand-computed: shares p=[.4,.3,.2,.1], q=[.1,.2,.3,.4]
    ps, qs = p2 / 100.0, q / 100.0
    assert abs(psi(p2, q) - float(np.sum((ps - qs) * np.log(ps / qs)))) < 1e-12
    assert abs(ks_d(p2, q) - 0.4) < 1e-12  # cum p=[.4,.7,.9,1], q=[.1,.3,.6,1]
    assert abs(chi2_norm(p2, q) - float(np.sum((ps - qs) ** 2 / qs))) < 1e-12
