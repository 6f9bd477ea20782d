"""Token-array equality vs the reference snapshot (R7) — pure Catalyst.

Reference analogue: the per-masked-slot top-k membership check of the true
token (``bert_pytorch/predict_log.py:95-108``); our model-free analogue per
``BASELINE.json input_hint`` is exact array equality, reporting the first
mismatching position as (observed, expected).

Equality is decided JVM-side (``tokens <=> ref_tokens``, codegen) and the
first differing slot is located by one built-in higher-order function,
``array_position(zip_with(a, b, (x, y) -> x <=> y), false)``. No Python
worker, no Arrow transfer: the engine's row rules run entirely in the JVM.
The HOF is interpreted per element, so the fused row pass
(``rules/fused.py``) applies it to mismatch candidates only.

The snapshot join (in the fused pass) is a big×big equi-join on ``doc_id``:
with both tables bucketed by ``doc_id`` it is storage-co-located; on a plain
layout Catalyst plans a sort-merge join and AQE handles stragglers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def first_mismatch(a: Column | str, b: Column | str) -> Column:
    """``struct<idx int, obs int, exp int>``: the first slot where the arrays
    differ and the values there; idx == -1 ⇔ equal (or either array NULL).

    NULL elements compare equal to each other (``<=>``), and a NULL element
    reads back as ``obs``/``exp`` NULL; a slot past the end of an array reads
    as -1. ``zip_with`` pads the shorter array with NULLs, so a padded slot is
    indistinguishable from a real NULL element: a match found at or past the
    shorter length ``m`` (or none) means the common prefix is equal, and the
    arrays then differ exactly when their lengths do — at slot ``m``.

    Every reference to the position sits in the first CASE predicate or its
    value, so subexpression elimination evaluates the HOF once per row.
    """
    la, lb = F.size(a), F.size(b)
    m = F.least(la, lb)
    pos = F.array_position(F.zip_with(a, b, lambda x, y: x.eqNullSafe(y)), False)
    idx = (
        F.when((pos >= 1) & (pos <= m), pos - 1)
        .when(la != lb, m)
        .otherwise(-1)
        .cast("int")
    )

    def at(arr: Column, n: Column) -> Column:
        return F.when((idx < 0) | (idx >= n), -1).otherwise(F.get(arr, idx))

    return F.struct(idx.alias("idx"), at(a, la).alias("obs"), at(b, lb).alias("exp"))


def mismatch_detail(m: Column) -> tuple[Column, Column]:
    """(observed, expected) strings for a ``first_mismatch`` struct:
    ``tokens[i]=v`` / ``ref=v``, a NULL element printed as ``NULL``."""

    def show(v: Column) -> Column:
        return F.coalesce(v.cast("string"), F.lit("NULL"))

    observed = F.concat(
        F.lit("tokens["), m["idx"].cast("string"), F.lit("]="), show(m["obs"])
    )
    return observed, F.concat(F.lit("ref="), show(m["exp"]))
