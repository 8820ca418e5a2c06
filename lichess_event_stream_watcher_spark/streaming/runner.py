"""Streaming pipeline runner: one micro-batch = one engine pass.

The reference funnels every event through one mpsc channel into a
single-threaded handler (src/main.rs:15, src/eventhandler.rs:60-61). The
Spark-first equivalent is ``foreachBatch``: the distributed plan (parse +
enrich + rule scan) runs on executors; the driver-side batch hook applies
side effects, stats, and bounded state in arrival order — the same
serialization guarantee, with the heavy scan parallelized.

Checkpointing gives exactly-once STATE on the Spark side; side-effect
delivery stays at-least-once across restarts (the reference is at-most-once
fire-and-forget — SURVEY.md §2.10). Sinks receive idempotent endpoints, so
replays are safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..control.engine import Engine


def run_engine_stream(
    engine: Engine,
    events: DataFrame,
    checkpoint_dir: str,
    available_now: bool = False,
    processing_time: str | None = None,
    query_name: str = "lesw-engine",
) -> StreamingQuery:
    """Wire a parsed signup stream (see streaming.source) into the engine.

    ``available_now=True`` drains everything currently in the landing dir
    and stops — the test/replay trigger. ``processing_time`` (e.g. "5
    seconds") is the production trigger.
    """

    # compile the active rule set now, so the first micro-batch does not
    # carry it
    engine.prepare(events.sparkSession)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        engine.process_batch(batch_df.drop("ingest_time"))

    writer = (
        events.writeStream.foreachBatch(process)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
