"""Driver-held rows become DataFrames through ``session.local_frame`` only:
the same schema and rows as ``createDataFrame(list, schema)``, planned as a
``LocalTableScan`` (no pickled Python RDD) even with Arrow turned off, and a
guard that keeps the list path out of the package. Also the host-derived
``spark.driver.memory`` default."""

from __future__ import annotations

import ast
import datetime as dt
import os
from pathlib import Path

import pytest

from log_anomaly_detector_spark.session import default_driver_memory, local_frame

PKG = Path(__file__).resolve().parents[1] / "log_anomaly_detector_spark"

ALL_TYPES = (
    "i int, l long, d double, b boolean, ts timestamp, "
    "toks array<string>, failed_rules array<string>"
)
ALL_TYPES_ROWS = [
    (1, 2**40, 1.5, True, dt.datetime(2024, 3, 1, 12, 30, 5, 123456),
     ["a", None, "c"], []),
    (-(2**31), -1, -0.0, False, dt.datetime(1970, 1, 1),
     [], ["n_tok_stats", "null_rate"]),
    (None, None, None, None, None, None, None),
]


@pytest.fixture
def arrow_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield spark
    finally:
        spark.conf.set(key, before)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def _assert_local(df) -> None:
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


@pytest.mark.parametrize(
    "rows,schema",
    [
        (ALL_TYPES_ROWS, ALL_TYPES),
        ([], ALL_TYPES),
        ([(7, ["x", "y"]), (-3, [])], "template_id long, tokens array<string>"),
        ([("source_00", None)], "source string, description string"),
    ],
    ids=["all_types", "empty", "dim", "null_string"],
)
def test_local_frame_matches_list_path(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema  # names, types and nullability
    assert got.collect() == ref.collect()
    _assert_local(got)


def test_large_local_frame_is_a_jvm_arrow_scan(spark):
    """Above the session's 1 MB local-relation threshold the rows stay in the
    JVM as Arrow batches — still no Python RDD."""
    rows = [(i, i // 2) for i in range(100_000)]
    df = local_frame(spark, rows, "node long, component_id long")
    assert "Scan ExistingRDD arrow" in _plan(df)
    assert df.count() == len(rows)


def test_driver_frames_are_local_relations_with_arrow_off(arrow_off, tmp_path, monkeypatch):
    """The per-round dim, the allowed-sources dim, the engine's per-batch
    verdict rows and the dedup fast path never plan a Python RDD scan."""
    spark = arrow_off
    from log_anomaly_detector_spark import storage
    from log_anomaly_detector_spark.config import DEFAULT_CONFIG
    from log_anomaly_detector_spark.datagen import (
        GenSpec,
        gen_allowed_sources,
        gen_baseline_profile,
        gen_reference_snapshot,
        gen_sequences,
    )
    from log_anomaly_detector_spark.engine import run_validation
    from log_anomaly_detector_spark.operators.dedup_clusters import (
        connected_components,
    )
    from log_anomaly_detector_spark.operators.template_induction import _dim_df

    _assert_local(_dim_df(spark, [(-1, ["a", "<*>"]), (3, ["b"])]))
    allowed = gen_allowed_sources(spark)
    _assert_local(allowed)

    pairs = spark.range(6).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    _assert_local(connected_components(pairs))

    verdict_plans = []
    write = storage.overwrite_partitions

    def spy(df, path, *a, **k):
        if "label" in df.columns:
            verdict_plans.append(_plan(df))
        return write(df, path, *a, **k)

    monkeypatch.setattr(storage, "overwrite_partitions", spy)
    spec = GenSpec(n_docs=400, n_parts=2, seed=5)
    run_validation(
        spark,
        gen_sequences(spark, spec),
        gen_reference_snapshot(spark, spec),
        allowed,
        gen_baseline_profile(spark, spec, DEFAULT_CONFIG),
        str(tmp_path / "out"),
        DEFAULT_CONFIG,
        input_digest="local-frame",
    )
    assert verdict_plans
    for plan in verdict_plans:
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_no_list_createdataframe_in_package():
    """``createDataFrame`` is called in one place: ``session.local_frame``.
    A list-backed frame is a pickled Python RDD that every action re-runs as
    Python tasks."""
    inside, outside = [], []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = [
            (f.lineno, f.end_lineno)
            for f in ast.walk(tree)
            if path.name == "session.py"
            and isinstance(f, ast.FunctionDef)
            and f.name == "local_frame"
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                site = f"{path.relative_to(PKG).as_posix()}:{node.lineno}"
                in_helper = any(a <= node.lineno <= b for a, b in allowed)
                (inside if in_helper else outside).append(site)
    assert len(inside) == 1, inside
    assert outside == [], f"use session.local_frame instead: {outside}"


@pytest.mark.parametrize(
    "host_gib,expected",
    [(15.69, "7g"), (16, "8g"), (64, "32g"), (2, "1g"), (0.5, "1g")],
)
def test_default_driver_memory(host_gib, expected):
    assert default_driver_memory(int(host_gib * 2**30)) == expected


def test_session_driver_memory_follows_env_or_host(spark):
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    want = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(host)
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
