"""Daemon-style entry point: run route81-shaped TOML configs on Spark.

Mirrors the reference's single-binary UX (route81.go:1599-1617 main ->
mustConfig -> start reads -> event loop) as wiring over `jobs/`:

    python -m route81_spark.main --config cfg.toml \
        --tables test.lineitem=/data/lineitem.parquet \
        --ids test.lineitem=l_orderkey,l_linenumber \
        --sink-dir /out/topics [--events-dir /in/events] \
        [--tables-out /out/tables] [--kafka-bootstrap host:9092]

* the CLI flags fold over the TOML keys once, at start-up
  (`merge_flags`); everything after reads only the Config
* direct-read namespaces run as one batch job (exit-after-direct-reads
  ≡ process exit when the batch completes, route81.go:805-816)
* every change-stream namespace runs through ONE streaming query with
  ONE checkpoint — the reference's single producer loop and resume
  point (route81.go:1224-1234) — over `--events-dir/<namespace>`
  change-event JSON (the harness CDC source; `mongo` selects the
  connector) until interrupted or `--duration` ends
* each [[consumer]] streams its subscribed topics -> decode -> classify
  -> keyed merge into `--tables-out/<namespace>`
* with a Kafka bootstrap (TOML `kafka` or --kafka-bootstrap) records go
  through Kafka. Without one, `--sink-dir` stands in for the cluster:
  batch records land in `topic=<t>` partitions, the change-stream
  query's in `_stream/` behind its commit log, and consumers read both
  and keep their subscribed topics by the records' `topic` column
* unless disable-stats, a listener sums the producer and consumer
  counters and logs them every stats-duration; `http-server` also
  serves them
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import tempfile
import time

from route81_spark.config import Config, load_config
from route81_spark.session import get_spark


def _parse_kv(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs or []:
        k, v = p.split("=", 1)
        out[k] = v
    return out


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="route81_spark")
    ap.add_argument("--config", required=True)
    ap.add_argument("--tables", nargs="*", help="ns=parquet_path for direct reads")
    ap.add_argument("--ids", nargs="*", help="ns=col1,col2 natural-key columns")
    ap.add_argument("--events-dir", help="change-event JSON dir (per-ns subdirs)")
    ap.add_argument("--sink-dir", help="parquet topic loopback root (no Kafka)")
    ap.add_argument("--tables-out", help="keyed-table root for consumers")
    ap.add_argument("--checkpoint-dir")
    ap.add_argument("--kafka-bootstrap", help="produce/consume via Kafka instead of parquet")
    ap.add_argument("--duration", type=float, help="stop streaming after N seconds")
    # reference flag parity (route81.go:415-469)
    ap.add_argument("--view-config", action="store_true",
                    help="print the parsed config as JSON and exit (route81 view-config)")
    ap.add_argument("--disable-change-stream", action="store_true",
                    help="run only direct reads / consumers")
    ap.add_argument("--disable-stats", action="store_true",
                    help="no stats listener or HTTP server")
    ap.add_argument("--disable-stats-log", action="store_true",
                    help="keep counters but don't log them")
    ap.add_argument("--http-server", action="store_true",
                    help="serve /started /healthz /stats")
    ap.add_argument("--http-server-addr",
                    help="listen address for --http-server ([host]:port, default :8080)")
    ap.add_argument("--pprof", action="store_true",
                    help="serve /debug/pprof/* (route81.go:457)")
    return ap.parse_args(argv)


def merge_flags(cfg: Config, args: argparse.Namespace) -> Config:
    """Fold the CLI flags over the TOML keys (route81's flag/TOML merge,
    route81.go:342-404): a toggle is on when either sets it; a valued
    flag, when given, wins over its key. A Kafka bootstrap from either
    selects the real format("kafka") producer and consumer; neither
    keeps the parquet topic loopback."""
    return dataclasses.replace(
        cfg,
        kafka_servers=args.kafka_bootstrap or cfg.kafka_servers,
        http_server_addr=args.http_server_addr or cfg.http_server_addr,
        disable_change_stream=args.disable_change_stream or cfg.disable_change_stream,
        disable_stats=args.disable_stats or cfg.disable_stats,
        disable_stats_log=args.disable_stats_log or cfg.disable_stats_log,
        http_server=args.http_server or cfg.http_server,
        pprof=args.pprof or cfg.pprof,
    )


def write_records(records, sink_dir: str | None, cfg: Config | None) -> None:
    """Batch records to Kafka when `cfg` names a bootstrap, else into the
    loopback's `<sink_dir>/topic=<t>` partitions."""
    if cfg is not None and cfg.kafka_servers:
        from route81_spark.config import kafka_sink_options

        writer = records.write.format("kafka").option(
            "kafka.bootstrap.servers", cfg.kafka_servers
        )
        for k, v in kafka_sink_options(cfg).items():
            writer = writer.option(k, v)
        writer.save()
    else:
        records.write.mode("append").partitionBy("topic").parquet(sink_dir)


def run_direct_reads(spark, cfg: Config, tables: dict, ids: dict, sink_dir: str | None) -> None:
    from route81_spark.jobs.producer import direct_read_job

    ids_map = {ns: v.split(",") for ns, v in ids.items()}
    if cfg.mongo_uri and len(cfg.direct_read_namespaces) > cfg.direct_read_concur:
        # reference parity (route81.go:449-450): at most
        # direct-read-concur collections scan the LIVE source cluster at
        # once — chunk the namespaces into sequential batch jobs so a
        # wide config cannot open every collection's cursors together.
        # Parquet stand-ins skip this: there is no source DB to protect,
        # and one unioned job lets the scheduler interleave scans.
        all_ns = cfg.direct_read_namespaces
        for i in range(0, len(all_ns), cfg.direct_read_concur):
            sub = dataclasses.replace(
                cfg, direct_read_namespaces=all_ns[i : i + cfg.direct_read_concur]
            )
            records = direct_read_job(spark, sub, tables, ids_map)
            write_records(records, sink_dir, cfg)
        return
    records = direct_read_job(spark, cfg, tables, ids_map)
    write_records(records, sink_dir, cfg)


def ckpt_dir(cfg: Config, root: str, name: str) -> str:
    """Spark's checkpointLocation IS the resume store: the reference
    reads a stored oplog ts from metadata-db.resume under _id=resume-name
    (route81.go:199-224) and saves it periodically (route81.go:846,913);
    structured streaming persists source offsets in the checkpoint.
    resume=true -> stable path keyed by resume-name (restart resumes);
    resume=false (the reference default) -> unique per-process path, so
    a restart starts fresh from current data."""
    if cfg.resume:
        return os.path.join(root, "resume", cfg.resume_name, name)
    return os.path.join(root, f"fresh_{os.getpid()}", name)


def run_change_streams(
    spark, cfg: Config, events_dir: str | None, sink_dir: str | None, ckpt_root: str
):
    from route81_spark.jobs.producer import change_stream_source, streaming_producer_job

    streams = {
        ns: change_stream_source(spark, cfg, ns, events_dir)
        for ns in cfg.change_stream_namespaces
    }
    return streaming_producer_job(
        spark, cfg, streams, sink_dir, ckpt_dir(cfg, ckpt_root, "_ckpt_producer")
    )


def run_consumers(
    spark, cfg: Config, sink_dir: str | None, tables_out: str, ckpt_root: str, stats=None
) -> list:
    """Wire each [[consumer]] block: its record stream (Kafka, or the
    parquet topic loopback) -> decode -> classify -> keyed merge into
    `tables_out/<ns>` (route81 consumer path §3.3). `stats` receives
    each batch's success/failed counts (`consumer_job`)."""
    from route81_spark.jobs.consumer import consumer_job, consumer_sink, topic_source

    queries = []
    for spec in cfg.consumers:
        table = consumer_sink(spark, cfg, spec, tables_out)
        if cfg.mongo_uri:
            # live mode: the document shape comes from the target
            # collection itself (connector schema inference)
            from route81_spark.sources.mongo import mongo_reader, with_mongo_retry

            doc_schema = with_mongo_retry(
                lambda: mongo_reader(spark, cfg, spec.mongo_namespace).load().schema,
                cfg,
            )
        else:
            # doc schema from the target table seed (must exist: the
            # merge needs a declared document shape, SURVEY §1.1 option a)
            doc_schema = table.read().schema if table.exists() else None
            if doc_schema is None:
                raise SystemExit(
                    f"seed the target table first: no table at "
                    f"{os.path.join(tables_out, spec.mongo_namespace)}; create it with "
                    f"KeyedParquetTable.init"
                )
        q = consumer_job(
            spark, spec, topic_source(spark, cfg, spec, sink_dir), table, doc_schema,
            ckpt_dir(cfg, ckpt_root, f"_ckpt_{spec.mongo_namespace}"), stats=stats,
        )
        queries.append(q)
    return queries


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    with open(args.config) as f:
        cfg = merge_flags(load_config(f.read()), args)
    if args.view_config:
        print(json.dumps(dataclasses.asdict(cfg), indent=2, default=str))
        return 0
    if not (cfg.kafka_servers or args.sink_dir):
        print("route81_spark: error: --sink-dir is required without a Kafka bootstrap",
              file=sys.stderr)
        return 2
    spark = get_spark("route81_spark_main")

    listener = http_server = None
    if not cfg.disable_stats:
        from route81_spark.stats import StatsListener, serve_stats

        listener = StatsListener(log=not cfg.disable_stats_log, interval_s=cfg.stats_seconds)
        spark.streams.addListener(listener)
        if cfg.http_server:
            port = int(cfg.http_server_addr.rsplit(":", 1)[-1] or 8080)
            http_server = serve_stats(listener, port=port, pprof=cfg.pprof)

    try:
        if cfg.direct_read_namespaces:
            run_direct_reads(spark, cfg, _parse_kv(args.tables), _parse_kv(args.ids), args.sink_dir)
            if cfg.exit_after_direct_reads:
                return 0
        queries = []
        if (
            cfg.change_stream_namespaces
            and not cfg.disable_change_stream
            and (args.events_dir or cfg.mongo_uri)
        ):
            # without --checkpoint-dir the producer checkpoint sits in
            # the sink dir, `_`-prefixed so topic listings skip it (in
            # the temp dir when records go to Kafka with no sink dir)
            ckpt_root = args.checkpoint_dir or os.path.join(
                args.sink_dir or tempfile.gettempdir(), "_checkpoints"
            )
            queries.append(
                run_change_streams(spark, cfg, args.events_dir, args.sink_dir, ckpt_root)
            )
        if cfg.consumers and args.tables_out:
            queries += run_consumers(
                spark, cfg, args.sink_dir, args.tables_out, args.checkpoint_dir or args.tables_out,
                stats=listener.add_consumer if listener is not None else None,
            )
        if queries and args.duration:
            time.sleep(args.duration)
            for q in queries:
                q.stop()
        for q in queries:
            q.awaitTermination()  # re-raises a query's failure
        return 0
    except KeyboardInterrupt:
        # SIGINT drain ≡ route81.go:759-773
        for q in spark.streams.active:
            q.stop()
        return 0
    except Exception as e:
        if cfg.fail_fast:
            raise
        # non-fail-fast: report and exit nonzero without a crash dump
        # (the reference's retry loops are connection-establishment
        # concerns; query errors are terminal either way)
        print(f"route81_spark: error: {e}", file=sys.stderr)
        return 1
    finally:
        if http_server is not None:
            http_server.shutdown()
        if listener is not None:
            spark.streams.removeListener(listener)


if __name__ == "__main__":
    sys.exit(main())
