"""mypipe_spark — a PySpark-native change-data-capture + analytics engine.

A from-scratch rebuild of the query / data-processing capabilities of
mardambey/mypipe (a MySQL binlog → Kafka CDC dataflow system) on top of
Apache Spark: batch decoding, predicate filtering, transactional
grouping, schema-aware envelopes, wire-format framing, snapshot scans,
checkpointed Structured Streaming pipes — plus the analytics and
LLM-training-data operators (dedup, similarity search, text analysis)
the original never had, expressed Spark-first so Catalyst/Tungsten pick
the physical plan.

Layout:
    session      SparkSession factory tuned for the workload
    worker_daemon  how Spark's Python workers boot (see session)
    model        canonical change-event schema + MySQL ColumnType mapping
    changelog    deterministic synthetic binlog/change-log generator
    registry     versioned Avro-style schema registry (R1-R7)
    operators/   decode, filters, txgroup, compaction (S3-S6, F1-F8, T1-T3)
    sources/     snapshot scan + change-log readers (S8-S13)
    sinks/       producer registry, wire framing (K1-K11)
    streaming/   Pipe runner: readStream → transform → writeStream (T4-T15)
    functions/   scalar fns, text analysis, dedup, similarity (X1-X9 + pipeline ops)
    plans/       the analytics query surface used by the driver's oracle

This file must import nothing from pyspark (or py4j): Spark's Python
workers start as ``python -m mypipe_spark.worker_daemon``, which imports
this package before it chooses where pyspark is imported from
(tests/test_worker_daemon.py pins it).
"""

__version__ = "0.1.0"
