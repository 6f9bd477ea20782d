"""Token-array equality (R7) on the engine's row-rule plan: NULL array
elements, the settings ``RuleConfig`` rejects, and a plan guard that keeps
Python workers and the cache out of the violations job."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest

from log_anomaly_detector_spark.config import RuleConfig
from log_anomaly_detector_spark.datagen import (
    GenSpec,
    gen_allowed_sources,
    gen_reference_snapshot,
    gen_sequences,
)
from log_anomaly_detector_spark.golden import golden_row_violations
from log_anomaly_detector_spark.rules import fused

RULES = Path(__file__).resolve().parents[1] / "log_anomaly_detector_spark" / "rules"

# the engine's row-rule plans (one: the fused pass)
PLANS = {"fused": fused.fused_row_violations}

# doc_id -> (tokens, ref_tokens, expected (observed, expected) or None)
NULL_CASES = {
    "eq_with_null": ([1, None, 3], [1, None, 3], None),
    "value_after_null": ([1, None, 3], [1, None, 4], ("tokens[2]=3", "ref=4")),
    "null_vs_value": ([1, None, 3], [1, 2, 3], ("tokens[1]=NULL", "ref=2")),
    "value_vs_null": ([1, 2, 3], [1, None, 3], ("tokens[1]=2", "ref=NULL")),
    "shifted_null": ([1, None, 3], [1, 3, None], ("tokens[1]=NULL", "ref=3")),
    "ref_trailing_null": ([1, 2], [1, 2, None], ("tokens[2]=-1", "ref=NULL")),
    "tokens_trailing_null": ([1, None], [1], ("tokens[1]=NULL", "ref=-1")),
    "all_null_eq": ([None, None], [None, None], None),
    "all_null_longer": ([None, None], [None], ("tokens[1]=NULL", "ref=-1")),
    "plain_mismatch": ([1, 9], [1, 2], ("tokens[1]=9", "ref=2")),
    "tokens_longer": ([1, 2, 3], [1, 2], ("tokens[2]=3", "ref=-1")),
    "empty_vs_value": ([], [1], ("tokens[0]=-1", "ref=1")),
    "empty_eq": ([], [], None),
    "null_array": (None, [1], None),  # null_tokens' business, not R7's
    "null_ref": ([1], None, None),
}


@pytest.fixture(scope="module")
def null_world(spark):
    seq_rows = [
        (doc, toks, None if toks is None else len(toks), "ok", i % 2)
        for i, (doc, (toks, _, _)) in enumerate(sorted(NULL_CASES.items()))
    ]
    snap_rows = [(doc, ref) for doc, (_, ref, _) in sorted(NULL_CASES.items())]
    seqs = spark.createDataFrame(
        seq_rows, "doc_id string, tokens array<int>, n_tok int, source string, part_id int"
    )
    snap = spark.createDataFrame(snap_rows, "doc_id string, ref_tokens array<int>")
    allowed = spark.createDataFrame([("ok", "d")], "source string, description string")
    seq_pdf = pd.DataFrame(seq_rows, columns=["doc_id", "tokens", "n_tok", "source", "part_id"])
    snap_pdf = pd.DataFrame(snap_rows, columns=["doc_id", "ref_tokens"])
    gold = golden_row_violations(seq_pdf, snap_pdf, {"ok"})
    return seqs, snap, allowed, set(map(tuple, gold[["part_id", "doc_id", "rule_id"]].values))


@pytest.mark.parametrize("plan", sorted(PLANS))
def test_first_mismatch_with_null_elements(spark, null_world, plan):
    """NULL elements compare equal to NULL elements; a NULL element prints as
    ``NULL`` and a slot past the end as ``-1``; the plan agrees with the
    golden violation set."""
    seqs, snap, allowed, gold = null_world
    rows = PLANS[plan](seqs, snap, allowed).collect()
    got = {
        r["doc_id"]: (r["observed"], r["expected"])
        for r in rows
        if r["rule_id"] == "token_equality"
    }
    want = {doc: exp for doc, (_, _, exp) in NULL_CASES.items() if exp is not None}
    assert got == want
    assert {(r["part_id"], r["doc_id"], r["rule_id"]) for r in rows} == gold


@pytest.mark.parametrize(
    "kwargs, error",
    [
        ({"token_eq_mode": "arrow"}, TypeError),  # the field itself is gone
        ({"token_eq_mode": "Prefilter"}, TypeError),
        ({"uniqueness_mode": "salt"}, ValueError),
        ({"uniqueness_mode": "salted"}, ValueError),  # removed plan
    ],
    ids=["removed_arrow", "token_eq_case", "uniqueness_typo", "removed_salted"],
)
def test_rule_config_rejects_unknown_modes(kwargs, error):
    (name, value), = kwargs.items()
    with pytest.raises(error, match=name) as err:
        RuleConfig(**kwargs)
    if error is ValueError:
        assert repr(value) in str(err.value) and "removed" in str(err.value)
    assert RuleConfig(uniqueness_mode="direct") == RuleConfig()  # the one value


@pytest.mark.parametrize("plan", sorted(PLANS))
def test_violations_plan_has_no_python_and_no_cache(spark, plan):
    """The executed violations plan holds no Python evaluation node and no
    cached relation (the inputs are not cached)."""
    spec = GenSpec(n_docs=2_000, n_parts=2, seed=3)
    viol = PLANS[plan](
        gen_sequences(spark, spec),
        gen_reference_snapshot(spark, spec),
        gen_allowed_sources(spark),
    )
    assert viol.filter(viol.rule_id == "token_equality").count() > 0
    viol.collect()
    executed = viol._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    for node in ("ArrowEvalPython", "BatchEvalPython", "InMemoryRelation"):
        assert node not in executed, (node, executed)


def test_rules_have_no_pandas_udf_and_no_persist():
    for path in RULES.glob("*.py"):
        src = path.read_text()
        assert "pandas_udf" not in src and ".persist(" not in src, path.name
