"""Schemas of SURVEY §1: change events (F1), the Kafka envelope (F3),
and the envelope decoder used by the consumer path.

The envelope is `{meta:{_id, ts, ns, op, updates}, data}`
(/root/reference/route81.go:56-67); on the wire it is canonical
ext-JSON, so decoding parses the *tagged* schema and strips tags back
to declared types (codecs.extjson) — all JVM-side from_json work, no
Python in the stream."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from route81_spark.codecs.extjson import ext_json_tagged_schema, strip_ext_json

TS_TYPE = T.StructType([T.StructField("t", T.LongType()), T.StructField("i", T.LongType())])
# meta.ts on the wire: the tagged `{"$timestamp":{t,i}}` form
WIRE_TS_TYPE = T.StructType([T.StructField("$timestamp", TS_TYPE)])

# the parquet topic loopback under a sink dir: batch writes land in
# `topic=<t>` partitions; the change-stream query writes STREAM_DIR, with
# its `_spark_metadata` commit log. The `_` prefix hides it from a
# listing of the sink dir, so readers reach it only through that log.
STREAM_DIR = "_stream"

# the Kafka record every producer emits and every consumer reads; the
# loopback stores exactly these columns
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField(
            "headers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField("value", T.BinaryType()),
                    ]
                )
            ),
        ),
        T.StructField("topic", T.StringType()),
    ]
)

UPDATE_DESCRIPTION_TYPE = T.StructType(
    [
        T.StructField("updatedFields", T.MapType(T.StringType(), T.StringType())),
        T.StructField("removedFields", T.ArrayType(T.StringType())),
    ]
)


def change_event_schema(doc_schema: T.StructType) -> T.StructType:
    """FIXTURES.md F1: the MongoDB change-event shape the indirect
    pipelines run against (README.md:291-304)."""
    return T.StructType(
        [
            T.StructField("operationType", T.StringType()),
            T.StructField("clusterTime", TS_TYPE),
            T.StructField(
                "ns",
                T.StructType(
                    [T.StructField("db", T.StringType()), T.StructField("coll", T.StringType())]
                ),
            ),
            T.StructField(
                "documentKey", T.StructType([T.StructField("_id", T.StringType())])
            ),
            T.StructField("fullDocument", doc_schema),
            T.StructField("updateDescription", UPDATE_DESCRIPTION_TYPE),
        ]
    )


def envelope_schema(doc_schema: T.StructType) -> T.StructType:
    """Decoded (plain-typed) envelope: meta + data."""
    return T.StructType(
        [
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("_id", T.StringType()),
                        T.StructField("ts", TS_TYPE),
                        T.StructField("ns", T.StringType()),
                        T.StructField("op", T.StringType()),
                        T.StructField(
                            "updates",
                            T.StructType(
                                [
                                    T.StructField("removed", T.ArrayType(T.StringType())),
                                    T.StructField(
                                        "changed", T.MapType(T.StringType(), T.StringType())
                                    ),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            T.StructField("data", doc_schema),
        ]
    )


def _envelope_wire_schema(doc_schema: T.StructType) -> T.StructType:
    """Tagged schema of the canonical-ext-JSON envelope on the wire.
    meta.ts is `{"$timestamp":{t,i}}`; data fields carry type tags."""
    return T.StructType(
        [
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("_id", T.StringType()),
                        T.StructField("ts", WIRE_TS_TYPE),
                        T.StructField("ns", T.StringType()),
                        T.StructField("op", T.StringType()),
                        T.StructField(
                            "updates",
                            T.StructType(
                                [
                                    T.StructField("removed", T.ArrayType(T.StringType())),
                                    T.StructField(
                                        "changed", T.MapType(T.StringType(), T.StringType())
                                    ),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            T.StructField("data", ext_json_tagged_schema(doc_schema)),
        ]
    )


def decode_envelope(value_col: Column, doc_schema: T.StructType) -> Column:
    """Kafka record value (ext-JSON bytes) -> plain-typed envelope struct
    (message-format=json-ext, the default — route81.go:291-292)."""
    wire = _envelope_wire_schema(doc_schema)
    parsed = F.from_json(value_col.cast("string"), wire)
    meta = parsed.getField("meta")
    plain_meta = F.struct(
        meta.getField("_id").alias("_id"),
        meta.getField("ts").getField("$timestamp").alias("ts"),
        meta.getField("ns").alias("ns"),
        meta.getField("op").alias("op"),
        meta.getField("updates").alias("updates"),
    )
    plain_data = strip_ext_json(parsed.getField("data"), doc_schema)
    return F.struct(plain_meta.alias("meta"), plain_data.alias("data"))


_SEQ_SCHEMA = T.StructType(
    [T.StructField("meta", T.StructType([T.StructField("ts", WIRE_TS_TYPE)]))]
)


def oplog_seq(value_col: Column) -> Column:
    """Per-key order of an envelope read back from the parquet topic
    loopback: its oplog timestamp as t * 10^10 + i (Kafka records use
    their offset instead). Direct-read envelopes carry ts {0, 0}."""
    ts = F.from_json(value_col.cast("string"), _SEQ_SCHEMA)["meta"]["ts"]["$timestamp"]
    return ts.getField("t") * F.lit(10_000_000_000) + ts.getField("i")
