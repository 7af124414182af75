"""Streaming index maintenance — continuous ingest driving the
engine's incremental index appends.

The batch appends (``engine.append_to_ivf_index`` /
``append_to_ivfpq_index`` / ``append_to_ivfbq_index`` /
``append_to_cascade_index`` / ``append_to_text_index``) already carry
the nightly-crawl story: assign/encode ONLY the new batch against the
frozen stored quantizers (or tokenize only the new docs), land it in
the co-located store under the build's id, and report a drift
instrument. This module closes the loop for a CONTINUOUS crawl: a
Structured Streaming source feeds each micro-batch through the same
append, and every drift report is persisted — with its batch id and a
``rebuild_due`` verdict against a caller-set threshold — to a
``{index}_drift_log`` catalog table. The log IS the operator's
rebuild trigger as a time series: a 100 TB deployment alerts on
``rebuild_due`` flipping true rather than eyeballing batches.

Scale shape: per micro-batch cost is the batch append's (bounded
broadcasts + one pass over the batch; the corpus is NEVER rescanned),
plus one driver-side one-row write. Delivery: Spark's checkpoint
makes foreachBatch AT-LEAST-once, and a blind parquet append is not
idempotent — so each batch's drift-log row doubles as its COMMIT
MARKER: a replayed batch_id found in the log is skipped without
touching the index. The remaining window is a crash BETWEEN the
index append and its log write (that replay duplicates the batch's
rows — the standard non-transactional-sink caveat; a Delta/Iceberg
warehouse would close it, same documented blocker as wire-level
DML). The log row is written LAST so a marker never exists without
its data.

Quarantined like the rest of :mod:`..streaming` per SURVEY: streaming
is an [EXT] surface — the reference is a batch loader.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

if TYPE_CHECKING:  # pragma: no cover
    from ..engine import Engine

#: engine append method per index kind; each takes (name, batch_df)
#: and returns a one-row report DataFrame.
_APPENDERS = {
    "ivf": "append_to_ivf_index",
    "ivfpq": "append_to_ivfpq_index",
    "ivfbq": "append_to_ivfbq_index",
    "cascade": "append_to_cascade_index",
    "text": "append_to_text_index",
}

#: the report column that carries each kind's drift instrument.
_DRIFT_COL = {
    "ivf": "drift_micro",
    "ivfpq": "drift_micro",
    "ivfbq": "drift_micro",
    "cascade": "drift_micro",
    "text": "new_term_ppm",
}


def stream_append_to_index(
    engine: "Engine",
    batches: DataFrame,
    name: str,
    kind: str,
    checkpoint: str,
    rebuild_threshold: int | None = None,
    **append_kwargs,
):
    """Feed a streaming DataFrame of new rows (embeddings for
    ``ivf``/``ivfpq``/``ivfbq``/``cascade``, documents for ``text``)
    into the ``name`` index, one engine append per micro-batch;
    persist every drift report to the ``{name}_drift_log`` catalog
    table as (batch_id, <report columns>, rebuild_due). ``rebuild_threshold``
    is compared against the kind's drift column (integer micro-units
    for the ANN kinds, new-term ppm for text); without one,
    ``rebuild_due`` stays false and the log is purely the time
    series. Batch granularity comes from the SOURCE (e.g.
    ``read_embeddings_stream(..., max_files_per_trigger=1)``).
    Returns the started StreamingQuery (availableNow trigger: drains
    the current backlog in those batches, then stops — call
    ``awaitTermination()``). Extra keyword arguments pass through to
    the engine append (e.g. ``n_buckets=`` for the text index, which
    must match the build's)."""
    if kind not in _APPENDERS:
        raise ValueError(
            f"unknown index kind {kind!r} (expected one of "
            f"{sorted(_APPENDERS)})"
        )
    append = getattr(engine, _APPENDERS[kind])
    drift_col = _DRIFT_COL[kind]
    log_table = f"{name}_drift_log"
    # micro-batches run in a CLONED session; the appends commit to
    # disk, but the MAIN session's cached file listing of the index
    # tables would not see the new files until invalidated (the
    # stream_to_table lesson) — refresh exactly the member tables the
    # index manifest lists after every append
    main_session = batches.sparkSession

    def _refresh_index_tables() -> None:
        for logical in engine._index_tables(name):
            physical = engine.sink.catalog.get(logical)
            if physical is None:
                continue
            try:
                main_session.catalog.refreshTable(physical)
            except Exception:  # pragma: no cover — cache hygiene only
                pass

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return  # empty trigger: nothing appended, nothing logged
        # replay guard: foreachBatch is at-least-once; a batch whose
        # commit marker (drift-log row) exists was fully applied —
        # re-appending it would duplicate index rows. The marker is
        # keyed by (checkpoint, batch_id): batch ids restart at 0
        # per checkpoint, and the same index may be fed by several
        # streams over its lifetime.
        if engine.sink.catalog.get(log_table) is not None:
            done = (
                engine.table(log_table)
                .where(
                    (F.col("batch_id") == int(batch_id))
                    & (F.col("checkpoint") == checkpoint)
                )
                .take(1)
            )
            if done:
                return
        report = append(name, batch, **append_kwargs)
        _refresh_index_tables()
        row = report.withColumn(
            "batch_id", F.lit(int(batch_id)).cast("bigint")
        ).withColumn(
            "checkpoint", F.lit(checkpoint)
        ).withColumn(
            "rebuild_due",
            (
                F.col(drift_col) >= F.lit(rebuild_threshold)
                if rebuild_threshold is not None
                else F.lit(False)
            ).cast("boolean"),
        )
        engine.append_rows_to_log(log_table, row)

    return (
        batches.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .queryName(f"index-maintenance-{name}")
        .start()
    )


def read_embeddings_stream(
    spark,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over an embeddings parquet directory. Streams need
    an explicit schema — batch-infer it from the same files so the
    stream's element type matches what the index append will write
    (the fixtures store array<float>; a pinned array<double> would
    fail the parquet append), falling back to the fixture convention
    when the directory hasn't been populated yet (the normal deploy
    order for a stream)."""
    try:
        schema = spark.read.parquet(path).schema
    except Exception:
        from pyspark.sql.types import (
            ArrayType,
            FloatType,
            LongType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(FloatType())),
            ]
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)
