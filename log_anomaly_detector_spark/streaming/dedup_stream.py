"""Streaming exact dedup of a continuously-landing document stream.

The reference dedupes batches with an in-memory ``set`` during data prep
(HDFS/data_process.py — set-based block dedup); the batch lift is
``operators.text.q_exact_dup_groups`` (hash → groupBy). This is the INGEST
lift: a file-source stream of documents, deduped on a normalized content
fingerprint as they land, so the training corpus never admits a byte-copy
twice even when the copies arrive in different micro-batches.

Scale shape: ``dropDuplicatesWithinWatermark`` keys the state store by the
16-byte fingerprint only — state is bounded by (unique docs per watermark
horizon), NOT by corpus size, and expires automatically; a plain streaming
``dropDuplicates`` would grow state forever. Content never enters the state
store (the fingerprint is computed map-side, the same md5-of-normalized-text
as ``operators.text.fingerprint`` — a whitespace/case-variant copy dedupes
too). Each micro-batch shuffles once on the fingerprint; everything else is
narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from log_anomaly_detector_spark.functions.text_funcs import fingerprint
from log_anomaly_detector_spark.session import local_frame

DOC_STREAM_SCHEMA = "doc_id long, ts timestamp, text string"


def dedup_doc_stream(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str = DOC_STREAM_SCHEMA,
    watermark: str = "1 hour",
) -> DataFrame:
    """readStream → normalized-content fingerprint →
    ``dropDuplicatesWithinWatermark(fp)``. Returns the streaming DataFrame
    of FIRST-SEEN documents (doc_id, ts, fp); callers attach a sink.

    Duplicates arriving within the watermark horizon of the first copy are
    dropped across micro-batch boundaries; a copy arriving later than the
    horizon is admitted again (the documented trade for bounded state — run
    a periodic batch `q_exact_dup_groups` sweep to catch stragglers).
    """
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(schema_ddl).parquet(input_dir)
    return (
        stream.withColumn("fp", fingerprint(F.col("text")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .select("doc_id", "ts", "fp")
    )


def run_dedup_stream_once(
    spark: SparkSession,
    input_dir: str,
    checkpoint: str,
    out_dir: str,
    schema_ddl: str = DOC_STREAM_SCHEMA,
    watermark: str = "1 hour",
) -> DataFrame:
    """Drain all available input through the dedup stream into a parquet
    sink (synchronous smoke mode) and return the admitted rows. A parquet
    sink — unlike memory — supports CHECKPOINT RECOVERY: re-running with the
    same checkpoint resumes the state store, so duplicates of documents
    admitted in a previous run are still dropped (within the watermark) and
    already-processed input files are not re-read."""
    dd = dedup_doc_stream(spark, input_dir, schema_ddl, watermark)
    q = (
        dd.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import os

    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(out_dir)
    except AnalysisException as ex:
        # zero micro-batches ever WROTE data (no input since the checkpoint
        # began, or only empty batches) — the sink holds no data files to
        # infer a schema from; return an empty, correctly-typed result
        # instead of surfacing the sink's internal state as an error. Any
        # OTHER analysis failure (corrupt / foreign files in out_dir) must
        # surface, not read as "no documents". Structured conditions only —
        # message-substring matching is brittle across Spark upgrades.
        cond = (
            ex.getCondition()
            if hasattr(ex, "getCondition")  # 4.0+; getErrorClass deprecated
            else ex.getErrorClass()
        )
        # STRUCTURED empty-sink conditions only (no message-substring
        # matching — brittle across Spark upgrades): PATH_NOT_FOUND (dir
        # absent) or unable-to-infer (the sink dir holds `_spark_metadata`
        # and no data files — created eagerly when the query starts; this
        # build names it _LEGACY_ERROR_TEMP_1134, newer builds
        # UNABLE_TO_INFER_SCHEMA). Anything else (corrupt / foreign files)
        # must surface, not read as "no documents".
        if cond not in (
            "PATH_NOT_FOUND",
            "UNABLE_TO_INFER_SCHEMA",
            "_LEGACY_ERROR_TEMP_1134",
        ):
            raise
        # An empty-sink READ FAILURE is benign ONLY while the checkpoint is
        # fresh (no committed micro-batches). Every committed batch — even a
        # ZERO-ROW one — logs an entry in the true sink's `_spark_metadata`,
        # and a sink with logged batches reads back with its typed schema
        # (succeeds, never reaches this handler — pinned by
        # test_streaming_dedup_zero_row_batch_reads_typed). So landing here
        # with committed batches means THIS out_dir has never received an
        # addBatch: the caller resumed a warm checkpoint against a wrong /
        # mismatched out_dir, and returning empty would mask that as "no
        # documents". (Local-path check: this drain helper targets local
        # smoke runs; cluster deployments run an always-on query instead.)
        commits_dir = os.path.join(checkpoint, "commits")
        committed = (
            [f for f in os.listdir(commits_dir) if not f.startswith(".")]
            if os.path.isdir(commits_dir)
            else []
        )
        if committed:
            raise RuntimeError(
                f"dedup stream checkpoint {checkpoint!r} has "
                f"{len(committed)} committed batch(es) but sink dir "
                f"{out_dir!r} holds no data — resumed with a mismatched "
                "out_dir?"
            ) from ex
        return local_frame(spark, [], "doc_id long, ts timestamp, fp string")


_SWEEP_SCHEMA = "fp string, n_admitted long, keep_doc_id long, first_ts timestamp"


def sweep_sink_stragglers(spark: SparkSession, out_dir: str) -> DataFrame:
    """The periodic BATCH sweep the streaming dedup's docstring promises:
    duplicates that arrive later than the watermark horizon are re-admitted
    by design (bounded state), so a scheduled batch pass over the sink
    groups by the stored fingerprint and returns every fingerprint admitted
    more than once, with the earliest admission as the keeper — the exact
    composition of `dropDuplicatesWithinWatermark` (bounded online state)
    with `q_exact_dup_groups`-style hash→groupBy (unbounded offline sweep).
    One shuffle on the 16-byte fp; document text never moves.

    A scheduled sweep can legitimately fire before the stream has written
    anything (sink dir absent, or holding only the eagerly-created
    `_spark_metadata`) — that returns an empty typed result, same structured
    conditions as the drain helper; genuinely foreign read failures
    surface."""
    from pyspark.sql import functions as F

    from pyspark.errors import AnalysisException

    try:
        sink = spark.read.parquet(out_dir)
    except AnalysisException as ex:
        cond = (
            ex.getCondition()
            if hasattr(ex, "getCondition")
            else ex.getErrorClass()
        )
        if cond in (
            "PATH_NOT_FOUND",
            "UNABLE_TO_INFER_SCHEMA",
            "_LEGACY_ERROR_TEMP_1134",
        ):
            return local_frame(spark, [], _SWEEP_SCHEMA)
        raise
    return (
        sink.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_admitted"),
            F.min(F.struct("ts", "doc_id")).alias("_first"),
        )
        .filter(F.col("n_admitted") > 1)
        .select(
            "fp",
            "n_admitted",
            F.col("_first.doc_id").alias("keep_doc_id"),
            F.col("_first.ts").alias("first_ts"),
        )
    )
