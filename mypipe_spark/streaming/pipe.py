"""Pipe — one checkpointed streaming dataflow (SURVEY §2.9, §3.1).

The reference's ``Pipe(id, consumer, producer, binlogPosRepo)``
(pipe/Pipe.scala:15) with its 10s flush scheduler and position repos
(T5-T9) collapses onto one Structured Streaming query:

    source → transforms → producer sink
    + checkpointLocation   (replaces all three position repos)
    + trigger              (replaces the flush scheduler)

Resume-from-saved-position (S2/T4) is the checkpoint's offset log:
restart the same pipe id with the same checkpoint dir and the stream
continues exactly after the last committed batch — the property
MySQLSpec.scala:91-146 pins down for the reference.

Error handling (T11-T12) lives in :mod:`.errors`, not on Pipe itself:
``divert`` adds a split stage to a pipe and builds its dead-letter
sibling query, ``run_pipe_with_dead_letter`` applies it with a SQL
predicate, and ``run_with_error_handling`` applies an ``ErrorPolicy``
(the reference's quit-on-* config family, reference.conf:31-53)
around a pipe run.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..sinks.producers import get_producer

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class Pipe:
    """One named dataflow: source factory → transforms → producer."""

    pipe_id: str
    source: Callable[[SparkSession], DataFrame]
    transforms: list[Transform] = field(default_factory=list)
    producer: str = "memory"
    producer_options: dict = field(default_factory=dict)
    checkpoint_dir: str | None = None
    trigger_seconds: float | None = None  # reference default flush: 10s

    def build(self, spark: SparkSession) -> DataStreamWriter:
        df = self.source(spark)
        for t in self.transforms:
            df = t(df)
        writer = get_producer(self.producer)(df, self.producer_options)
        writer = writer.outputMode("append").queryName(self.pipe_id)
        if self.checkpoint_dir:
            writer = writer.option("checkpointLocation", self.checkpoint_dir)
        if self.trigger_seconds:
            writer = writer.trigger(processingTime=f"{self.trigger_seconds} seconds")
        return writer

    def start(self, spark: SparkSession) -> StreamingQuery:
        return self.build(spark).start()

    def run_available(self, spark: SparkSession) -> None:
        """Process everything currently available, then stop — the
        deterministic test/bootstrap mode (replaces awaitTermination
        loops in the reference's specs)."""
        q = self.start(spark)
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def run_pipes(spark: SparkSession, pipes: list[Pipe]) -> list[StreamingQuery]:
    """PipeRunner analog (runner/PipeRunner.scala:22-60): start every
    configured pipe; each runs as an independent StreamingQuery with
    its own checkpoint, like the reference's one-thread-per-pipe.

    All-or-nothing start: if a later pipe fails to start, the
    already-started queries are STOPPED before the error propagates —
    otherwise the caller holds no handles to them, and a retry collides
    with the orphans' query names / live checkpoints."""
    started: list[StreamingQuery] = []
    try:
        for p in pipes:
            started.append(p.start(spark))
    except Exception:
        for q in started:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 - best-effort cleanup
                pass
        raise
    return started
