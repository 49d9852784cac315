"""cdc_trickle: the sync daemon's loop, driven from outside in closed-loop
micro-batches with one client (the shape `foreachBatch` gives: the next
batch starts only after the previous one committed).

Set-up is route81's start-up: an initial sync that direct-reads the
seeded collection (`jobs.producer.direct_read_job`), writes it to the
topic (`main.write_records`) and applies it in one consumer batch
(`jobs.consumer.apply_consumer_batch`) into an empty non-bucketed
`sinks.merge.KeyedParquetTable`, the default `consumer_sink`. Then each
measured batch of change events goes change-event JSON ->
`envelope_change_stream` -> parquet topic -> `apply_consumer_batch` ->
keyed merge, and its commit latency runs from the start of the produce
call to the return of the merge.
"""

from __future__ import annotations

import os
import time

import gen
from proc import host_cpu_ticks, steal_pct, tree_cpu_s
from tracing import duration_ms

NS = "bench.events"
BATCH_EVENTS = 400  # bulk-size 100 x workers 4: the consumer's maxOffsetsPerTrigger cap
INITIAL_DOCS = 10_000
# CPU per batch falls over the first 10 or so batches of a fresh JVM, to
# about 75% of the first batch's; after 7 it is within 5% of that level
WARM_BATCHES = 7
# cpu_ms_p50 is the median over the first GATED_BATCHES measured batches,
# so it does not depend on how many batches fit in the run's wall time
GATED_BATCHES = 4

# main.run_consumers derives the per-key order of a file-topic batch from
# the envelope's oplog timestamp; the benchmark attaches the same column
SEQ_SCHEMA = "meta struct<ts: struct<`$timestamp`: struct<t: bigint, i: bigint>>>"


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def file_versions(path: str) -> dict[tuple[int, int, int], int]:
    """(inode, mtime ns, size) -> size of every file under `path`. A file
    that is renamed keeps its entry; a file written or rewritten gets a
    new one."""
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            out[(st.st_ino, st.st_mtime_ns, st.st_size)] = st.st_size
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files in `after` that were written since `before`."""
    return sum(n for k, n in after.items() if k not in before)


class TimedTable:
    """Passed to `apply_consumer_batch` as the table: times each merge
    in its own span and delegates to the keyed table."""

    def __init__(self, table, tracer):
        self.table = table
        self.tracer = tracer

    def merge(self, changes, seq="seq"):
        before = file_versions(self.table.path) if self.tracer.enabled else {}
        with self.tracer.span("merge", phase="merge") as s:
            self.table.merge(changes, seq=seq)
        if s is not None:
            # only the files this merge wrote: a merge that rewrites part
            # of the table counts that part, not the whole table
            s["bytes_written"] = bytes_written(before, file_versions(self.table.path))

    def read(self):
        return self.table.read()


class Daemon:
    def __init__(self, spark, tracer, work: str, seed: int):
        from route81_spark.config import Config, ConsumerSpec

        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.cfg = Config(direct_read_namespaces=[NS], change_stream_namespaces=[NS])
        self.spec = ConsumerSpec(
            kafka_topics=[NS],
            mongo_namespace=NS,
            document_root_path="data",
            delete_id_path="meta._id",
        )

    def _consume(self, table, topic_dir: str, with_seq: bool) -> dict:
        from pyspark.sql import functions as F

        from route81_spark.jobs.consumer import apply_consumer_batch

        batch = self.spark.read.parquet(os.path.join(topic_dir, f"topic={NS}"))
        if with_seq:
            ts = F.from_json(F.col("value").cast("string"), SEQ_SCHEMA)["meta"]["ts"]["$timestamp"]
            batch = batch.withColumn("seq", ts["t"] * F.lit(10_000_000_000) + ts["i"])
        return apply_consumer_batch(table, batch, self.spec, self.doc_schema)

    def seed_collection(self):
        """Generate the collection, write it as the direct-read source,
        and create the empty keyed table. Returns (root, table, docs, source)."""
        from route81_spark.sinks.merge import KeyedParquetTable

        root = os.path.join(self.work, "daemon")
        docs = gen.event_docs(self.seed, INITIAL_DOCS)
        source = gen.write_parquet(
            os.path.join(root, "source", "events.parquet"),
            gen.docs_columns(docs),
            gen.EVENTS_SCHEMA,
        )
        self.doc_schema = self.spark.read.parquet(source).schema
        table = KeyedParquetTable(self.spark, os.path.join(root, "table"))
        table.init(self.spark.createDataFrame([], self.doc_schema))
        return root, TimedTable(table, self.tracer), docs, source

    def initial_sync(self, root: str, table, source: str, n_docs: int) -> dict:
        """Sync the collection into the empty keyed table through the
        backfill path."""
        from route81_spark.jobs.producer import direct_read_job
        from route81_spark.main import write_records

        topic = os.path.join(root, "topic", "initial")
        with self.tracer.span("backfill", n_docs=n_docs) as b:
            with self.tracer.span("producer.write", phase="producer"):
                records = direct_read_job(self.spark, self.cfg, {NS: source})
                write_records(records, topic, None)
            with self.tracer.span("consumer.apply", phase="consumer"):
                stats = self._consume(table, topic, with_seq=False)
        if b is not None:
            b["topic_bytes"] = dir_bytes(topic)
        return stats

    def commit_batch(self, root: str, table, feed, n: int) -> tuple[float, float, dict]:
        """One closed-loop micro-batch; returns (commit latency ms, CPU ms,
        stats). Event generation runs before the clocks start."""
        from route81_spark.jobs.producer import envelope_change_stream
        from route81_spark.main import write_records
        from route81_spark.model.schemas import change_event_schema

        events_path = gen.write_lines(
            os.path.join(root, "events", f"b{n:05d}.json"), feed.next_batch(BATCH_EVENTS)
        )
        topic = os.path.join(root, "topic", f"b{n:05d}")
        cpu0 = tree_cpu_s()
        with self.tracer.span("batch", n=n, events=BATCH_EVENTS) as b:
            t0 = time.perf_counter()
            with self.tracer.span("producer.build", phase="producer"):
                events = self.spark.read.schema(change_event_schema(self.doc_schema)).json(
                    events_path
                )
                records = envelope_change_stream(events, NS, self.cfg)
            with self.tracer.span("producer.write", phase="producer"):
                write_records(records, topic, None)
            with self.tracer.span("consumer.apply", phase="consumer"):
                stats = self._consume(table, topic, with_seq=True)
            latency_ms = (time.perf_counter() - t0) * 1000.0
        cpu_ms = (tree_cpu_s() - cpu0) * 1000.0
        if b is not None:
            b["topic_bytes"] = dir_bytes(topic)
            b["table_rows"] = len(feed.model)
        return latency_ms, cpu_ms, stats


def check_table(table, model: dict[str, tuple]) -> bool:
    """The keyed table equals the generator's last-writer-wins model:
    same ids, and the same order-insensitive hash of the row values."""
    rows = [tuple(r[c] for c in gen.EVENTS_SCHEMA.names) for r in table.read().collect()]
    got_ids = sorted(r[0] for r in rows)
    if got_ids != sorted(model):
        return False
    return _value_hash(rows) == _value_hash(model.values())


def _value_hash(rows) -> int:
    return sum(hash(repr(r)) for r in rows) & (2**64 - 1)


def run(spark, tracer, work: str, seed: int, seconds: float) -> dict:
    d = Daemon(spark, tracer, work, seed)
    t0 = time.perf_counter()
    root, table, docs, source = d.seed_collection()
    seed_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    stats = d.initial_sync(root, table, source, len(docs))
    attempted = len(docs)
    failed = _failed(stats, len(docs))
    feed = gen.ChangeFeed(seed, docs)
    n = 0
    for n in range(WARM_BATCHES):
        _, _, stats = d.commit_batch(root, table, feed, n)
        attempted += BATCH_EVENTS
        failed += _failed(stats, BATCH_EVENTS)
    warm_s = time.perf_counter() - t0

    setup_cpu_s = tree_cpu_s()
    latencies, cpu = [], []
    committed = 0
    host0 = host_cpu_ticks()
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds or len(cpu) < GATED_BATCHES:
        n += 1
        ms, cpu_ms, stats = d.commit_batch(root, table, feed, n)
        latencies.append(ms)
        cpu.append(cpu_ms)
        attempted += BATCH_EVENTS
        failed += _failed(stats, BATCH_EVENTS)
        committed += stats["success"]
    wall_s = time.perf_counter() - t_start
    steal = steal_pct(host0)

    correct = check_table(table, feed.model)
    return {
        "attempted": attempted,
        "failed": failed + (not correct),
        "correct": correct and failed == 0,
        "seed_s": seed_s,
        "warm_s": warm_s,
        "latencies_ms": latencies,
        "cpu_ms": cpu,
        "gated": GATED_BATCHES,
        "work": "events",
        "setup_cpu_s": setup_cpu_s,
        "work_per_s": committed / wall_s,
        "steal_pct": steal,
        "unit": "micro-batch commit",
        "notes": {"table_rows": len(feed.model), "batch_ms": [round(x) for x in latencies],
                  "batch_cpu_ms": [round(x) for x in cpu]},
    }


def _failed(stats: dict, sent: int) -> int:
    """Events the consumer reported failed, plus any it lost."""
    return stats["failed"] + abs(sent - stats["success"] - stats["failed"])


def layer_metrics(spans: list[dict], counters: dict) -> dict[str, float]:
    """Per-batch medians over the measured batches, plus the initial
    sync's (backfill) split."""
    from statistics import median

    from tracing import ENGINE_COUNTERS, children, descendants

    out: dict[str, float] = {}
    batches = [s for s in spans if s["name"] == "batch" and s["n"] >= WARM_BATCHES]

    def per_batch(fn):
        return median(fn(b) for b in batches)

    def phase_spans(b, phase):
        return [s for s in descendants(spans, b) if s.get("phase") == phase]

    def kids(b, name):
        return [s for s in descendants(spans, b) if s["name"] == name]

    out["producer.build_ms"] = per_batch(lambda b: sum(duration_ms(s) for s in kids(b, "producer.build")))
    out["producer.write_ms"] = per_batch(lambda b: sum(duration_ms(s) for s in kids(b, "producer.write")))
    out["producer.py4j_calls"] = per_batch(
        lambda b: sum(s["py4j_calls"] for s in kids(b, "producer.build"))
    )
    out["producer.jobs"] = per_batch(lambda b: sum(s["jobs"] for s in phase_spans(b, "producer")))
    out["topic.bytes"] = per_batch(lambda b: b["topic_bytes"])
    out["topic.bytes_per_event"] = per_batch(lambda b: b["topic_bytes"] / b["events"])
    out["consumer.apply_ms"] = per_batch(lambda b: sum(duration_ms(s) for s in kids(b, "consumer.apply")))
    out["consumer.decode_classify_ms"] = per_batch(
        lambda b: sum(duration_ms(s) for s in kids(b, "consumer.apply"))
        - sum(duration_ms(s) for s in kids(b, "merge"))
    )
    out["consumer.jobs"] = per_batch(lambda b: sum(s["jobs"] for s in phase_spans(b, "consumer")))
    out["merge.ms"] = per_batch(lambda b: sum(duration_ms(s) for s in kids(b, "merge")))
    out["merge.jobs"] = per_batch(lambda b: sum(s["jobs"] for s in kids(b, "merge")))
    out["merge.bytes_written"] = per_batch(lambda b: sum(s["bytes_written"] for s in kids(b, "merge")))
    out["merge.write_amplification"] = per_batch(
        lambda b: sum(s["bytes_written"] for s in kids(b, "merge")) / b["topic_bytes"]
    )
    out["merge.table_rows"] = per_batch(lambda b: b["table_rows"])
    for phase in ("producer", "consumer", "merge"):
        for c in ENGINE_COUNTERS:
            out[f"{phase}.{c}"] = per_batch(
                lambda b: sum(counters.get(s["group"], {}).get(c, 0) for s in phase_spans(b, phase))
            )
    backfill = next(s for s in spans if s["name"] == "backfill")
    produce = children(spans, backfill, "producer.write")[0]
    consume = children(spans, backfill, "consumer.apply")[0]
    out["backfill.produce_ms"] = duration_ms(produce)
    out["backfill.consume_ms"] = duration_ms(consume)
    out["backfill.topic_bytes_per_doc"] = backfill["topic_bytes"] / backfill["n_docs"]
    out["backfill.docs_per_s"] = backfill["n_docs"] / (duration_ms(backfill) / 1000.0)
    return out
