"""Consumer job (SURVEY §3.3): kafka-shaped records -> decode ->
classify upsert/delete -> keyed merge.

Reference flow (route81.go:1146-1197 consume, 991-1017 queue, 1071-1131
flush): N worker goroutines each buffering <= bulk-size docs, flushed
every bulk-flush-duration as one unordered BulkWrite. Spark mapping:
partitions replace workers, the micro-batch trigger replaces the flush
timer, and foreachBatch applies the same replace/delete-by-_id merge.
Per-key ordering comes from ranking by kafka offset (seq) within the
batch — the reference gets this from per-partition consumption order.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from route81_spark.config import ConsumerSpec
from route81_spark.model.schemas import RECORD_SCHEMA, STREAM_DIR, decode_envelope, oplog_seq
from route81_spark.sinks.classify import ClassifierConfig, classify
from route81_spark.sinks.merge import KeyedParquetTable


def decode_records(
    records: DataFrame, spec: ConsumerSpec, doc_schema: T.StructType
) -> DataFrame:
    """Kafka records (key/value/...) -> decoded message rows. Selects the
    decoder by message-format (route81.go:717-727)."""
    if spec.message_format == "json-ext":
        decoded = decode_envelope(F.col("value"), doc_schema)
    elif spec.message_format == "json":
        from route81_spark.model.schemas import envelope_schema

        decoded = F.from_json(F.col("value").cast("string"), envelope_schema(doc_schema))
    elif spec.message_format == "avro":
        from route81_spark.codecs.avro import decode_avro_records

        # avro-binary toggle (route81.go:108, route81.go:718-722):
        # default textual, binary only when configured
        return decode_avro_records(
            records, spec.avro_schema_spec, binary=spec.avro_binary
        )
    else:
        raise ValueError(f"bad message-format: {spec.message_format}")
    cols = [decoded.alias("msg")]
    if "seq" in records.columns:
        cols.append(F.col("seq"))
    return records.select(*cols).select("msg.*", *(["seq"] if "seq" in records.columns else []))


def apply_consumer_batch(
    table: KeyedParquetTable,
    batch: DataFrame,
    spec: ConsumerSpec,
    doc_schema: T.StructType,
) -> dict:
    """One micro-batch: decode -> classify -> merge. The body of
    foreachBatch; also usable directly for batch backfills.

    Partial-failure contract (route81.go:1100-1116): a message whose
    document id cannot be extracted is counted as failed and skipped;
    the rest of the batch still applies. Returns {'success': n,
    'failed': n} for stats accounting.

    The counts come from an `Observation` on the classified rows, which
    the merge's own actions complete: there is no persist and no count
    job of its own. An `Observation` completes only in the session that
    ran it, so `table.merge` must run its write in the session of the
    DataFrame it is given (`batch.sparkSession`; inside foreachBatch,
    the stream's cloned session), and it must execute that DataFrame,
    or the wait for the counts never ends."""
    decoded = decode_records(batch, spec, doc_schema)
    classified = classify(
        decoded,
        ClassifierConfig(
            document_root_path=spec.document_root_path,
            delete_id_path=spec.delete_id_path,
        ),
        keep=["seq"],
    )
    counts = Observation()
    observed = classified.observe(
        counts,
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("doc_id").isNull(), 1)).alias("failed"),
    )
    table.merge(
        observed.filter(F.col("doc_id").isNotNull()),
        seq="seq" if "seq" in classified.columns else None,
    )
    got = counts.get
    return {"success": int(got["total"] - got["failed"]), "failed": int(got["failed"])}


def topic_source(spark: SparkSession, cfg, spec: ConsumerSpec, sink_dir: str | None) -> DataFrame:
    """The consumer's record stream (P12), with the per-key order as
    `seq`. With a configured `kafka` bootstrap string: the real
    format("kafka") subscription (earliest offsets + headers, group
    parallelism ≡ topic partitions, route81.go:1146-1175), seq = offset.
    Without one: the parquet loopback under `sink_dir`, which stands in
    for one cluster — the batch `topic=<t>` partitions plus the
    change-stream query's output, read through its commit log — kept to
    the subscribed topics, seq = the envelope's oplog timestamp."""
    if cfg.kafka_servers:
        from route81_spark.config import kafka_sink_options

        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", cfg.kafka_servers)
            .option("subscribe", ",".join(spec.kafka_topics))
            .option("startingOffsets", "earliest")  # route81.go:1150
            .option("includeHeaders", "true")
            .option("kafka.group.id", spec.group_id)
            # bulk-size x workers bounds one flush cycle's records
            # (route81.go:991-1017: N workers each buffering <= bulk-size)
            .option("maxOffsetsPerTrigger", str(spec.bulk_size * spec.workers))
        )
        for k, v in kafka_sink_options(cfg).items():
            reader = reader.option(k, v)
        return reader.load().withColumn("seq", F.col("offset"))
    records = None
    for path in (sink_dir, os.path.join(sink_dir, STREAM_DIR)):
        # a file stream source needs its directory to exist; the
        # producer may not have started yet
        os.makedirs(path, exist_ok=True)
        part = spark.readStream.schema(RECORD_SCHEMA).parquet(path)
        records = part if records is None else records.unionByName(part)
    return records.filter(F.col("topic").isin(spec.kafka_topics)).withColumn(
        "seq", oplog_seq(F.col("value"))
    )


def consumer_sink(spark: SparkSession, cfg, spec: ConsumerSpec, tables_out: str | None):
    """Consumer sink selection (P15), mirroring the source seams: a
    configured `mongo` URI selects the live bulk sink
    (replace-by-_id connector writes + per-partition delete bulks,
    route81.go:1071-1131); empty keeps the keyed parquet stand-in."""
    if getattr(cfg, "mongo_uri", ""):
        from route81_spark.sources.mongo import MongoKeyedSink

        return MongoKeyedSink(cfg, spec.mongo_namespace, bulk_size=spec.bulk_size)
    return KeyedParquetTable(spark, os.path.join(tables_out, spec.mongo_namespace))


def consumer_job(
    spark: SparkSession,
    spec: ConsumerSpec,
    record_stream: DataFrame,
    table: KeyedParquetTable,
    doc_schema: T.StructType,
    checkpoint_dir: str,
    stats: Callable[[dict], None] | None = None,
):
    """Streaming consumer: foreachBatch keyed merge with the reference's
    flush cadence as the trigger interval. `stats`, when given, is
    called with each batch's {'success': n, 'failed': n} counts — the
    consumer counters of route81.go:497-505 (`StatsListener.add_consumer`
    in the daemon)."""

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        result = apply_consumer_batch(table, batch, spec, doc_schema)
        if stats is not None:
            stats(result)

    return (
        record_stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{spec.bulk_flush_seconds} seconds")
        .start()
    )
