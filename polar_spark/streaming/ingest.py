"""Structured-Streaming produce/consume over topic tables.

The reference's ingest loop (HTTP → coalescer → segment writer,
SURVEY.md §3.1) maps onto a streaming query:

    readStream(source) → partition/offset assignment → writeStream
        .format(parquet).partitionBy(partition).trigger(N seconds)

- the micro-batch trigger IS the coalescing window (reference groups
  ≤2 MiB / 100 µs, internal/producing/coalescer.go:138-155);
- the checkpoint WAL replaces the generation/offset consensus;
- DFS replication replaces follower acks;
- `maxFilesPerTrigger` / `maxOffsetsPerTrigger`-style options provide
  the backpressure the reference gets from unbuffered channels
  (internal/producing/coalescer.go:65).

Offset assignment in a streaming batch uses the same tail-ledger law as
the batch producer, applied per micro-batch in ``foreachBatch`` — each
micro-batch is one "coalescer group" with contiguous offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from polar_spark.produce import Producer
from polar_spark.store import start_epoch_sink
from polar_spark.topics import TopicCatalog


class StreamingProducer:
    """Continuously ingest a streaming DataFrame into a topic."""

    def __init__(self, catalog: TopicCatalog):
        self.catalog = catalog
        self._producer = Producer(catalog)

    def start(
        self,
        stream_df: DataFrame,
        topic: str,
        key_col: str | None = None,
        value_col: str = "value",
        ts_col: str | None = None,
        checkpoint_dir: str | None = None,
        trigger_seconds: float | None = None,
        arrival_cols: list[str] | None = None,
    ) -> StreamingQuery:
        """``foreachBatch`` produce: every micro-batch appends with
        contiguous offsets via the tail ledger.

        Idempotent against micro-batch retries (the standard
        idempotent-foreachBatch pattern): the applied epoch id is recorded
        per (topic, checkpoint) in the catalog's epoch ledger AFTER the
        produce, and already-applied epochs are skipped on re-invocation.
        Net guarantee is at-least-once — a crash between the produce and
        the epoch record replays that one batch (the reference's produce
        path makes the same trade, docs/benchmarks/README.md:11-12);
        the common retry path (foreachBatch re-run after a checkpoint
        commit failure) deduplicates exactly."""

        def _apply(batch_df: DataFrame, epoch: int, cp: str) -> None:
            self.apply_batch(
                batch_df, epoch, topic, cp,
                key_col=key_col, value_col=value_col, ts_col=ts_col,
                arrival_cols=arrival_cols,
            )

        return start_epoch_sink(
            stream_df,
            _apply,
            f"{self.catalog.topic_dir(topic)}/_checkpoint_ingest",
            checkpoint_dir=checkpoint_dir,
            trigger_seconds=trigger_seconds,
        )

    def apply_batch(
        self,
        batch_df: DataFrame,
        epoch: int,
        topic: str,
        sink_id: str,
        key_col: str | None = None,
        value_col: str = "value",
        ts_col: str | None = None,
        arrival_cols: list[str] | None = None,
    ) -> bool:
        """Apply one micro-batch idempotently; returns False if ``epoch``
        was already applied by ``sink_id`` (the foreachBatch retry path
        — see :meth:`store.EpochLedger.claim`)."""

        def produce(_claim) -> None:
            if not batch_df.isEmpty():
                self._producer.produce(
                    batch_df, topic, key_col=key_col, value_col=value_col,
                    ts_col=ts_col, arrival_cols=arrival_cols,
                )

        return self.catalog.epoch_ledger(topic).apply_once(sink_id, epoch, produce)


def stream_topic(spark: SparkSession, catalog: TopicCatalog, topic: str) -> DataFrame:
    """readStream over a topic table — the consumer-group long-poll loop
    as a streaming scan (new segment files are discovered per batch, the
    same tailing the reference's segment reader does,
    internal/data/segment_reader.go:106-195)."""
    return catalog.read_stream(topic)
