"""Uniqueness on doc_id (R4): the run-global duplicate-key set.

Reference analogue: ``block_id`` is a PRIMARY KEY and collisions are handled
by upsert-on-conflict (``database/migration/...init_schema.sql:12``,
``database/upsert_log_block.py:24-29``).

The count is a plain ``groupBy(doc_id)``. On the doc_id-bucketed layout
Catalyst plans it with no Exchange; on a plain layout it is one hash
exchange, and a hot key is no hazard there: the partial aggregate collapses
each key to one row per task before the shuffle, so a reducer sees at most
one row per input split for any key (a 200k-copy key is pinned in tests).
The offending rows are attributed inside the fused row pass
(``rules/fused.py``), which joins this set or, without it, counts over a
``doc_id`` window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame) -> DataFrame:
    """(doc_id, dup_cnt) for every doc_id appearing more than once."""
    # NULL doc_ids are a null-rate violation (R1), never "duplicates of each
    # other" — pinned; the golden pandas impl (value_counts dropna) agrees.
    return (
        df.filter(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_cnt"))
        .filter(F.col("dup_cnt") > 1)
    )
