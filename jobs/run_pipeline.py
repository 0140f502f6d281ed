#!/usr/bin/env python3
"""spark-submit entry point: the full parse -> enrich -> route -> aggregate
pipeline over a transcripts table, with lineage checkpointing and resume.

Mirrors the reference's CLI surface (SURVEY.md C5,
mariadb-log-consumer.py:145-326) where it still makes sense in a
distributed batch world:

  --log-type        -> auto-detected per conversation (ERROR vs SLOW); the
                       flag forces one dialect if given
  --offset/--limit  -> exact-N turn skip/cap (SRC3/SRC4; the reference is
                       approximately-N, divergence documented in SURVEY.md)
  --stop            -> batch (EOF) vs streaming (NEVER) execution
  --label/--hostname, sink toggles -> as in the reference

Cluster usage:
  spark-submit --py-files mariadb_to_graylog_spark.zip jobs/run_pipeline.py \
      --input s3://.../transcripts --output s3://.../sinks \
      --lineage s3://.../lineage --resume

Exit codes mirror the reference (README.md:92-99): 0 success, 2 bad args.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    up = str.upper  # the reference accepts values case-insensitively (:310-311)
    ap = argparse.ArgumentParser(prog="run_pipeline")
    ap.add_argument(
        "--input", "--log", dest="input", required=True,
        help="transcripts path / Iceberg table (--log = reference alias)",
    )
    ap.add_argument("--output", required=True, help="sink fan-out base path")
    ap.add_argument("--lineage", help="lineage/checkpoint table path")
    ap.add_argument("--metrics", help="aggregates output path")
    ap.add_argument("--resume", action="store_true", help="resume from lineage HWMs")
    ap.add_argument("--log-type", type=up, choices=["AUTO", "ERROR", "SLOW"], default="AUTO")
    ap.add_argument("--offset", type=int, default=0)
    ap.add_argument("--limit", type=int, default=None)
    ap.add_argument(
        "--stop", type=up, choices=["EOF", "NEVER", "LIMIT"], default="EOF",
        help="LIMIT = reference compat: batch run capped at --limit rows",
    )
    ap.add_argument(
        "--force-run", action="store_true",
        help="accepted for reference compat; a no-op here -- concurrent-run "
        "safety comes from run_id-scoped table commits, not a lock file (C3)",
    )
    ap.add_argument("--hostname", default="sparkhost")
    ap.add_argument("--label", default="mariadb_to_graylog_spark")
    ap.add_argument("--mode", choices=["strict", "intended"], default="strict")
    ap.add_argument("--serializer", choices=["compat", "strict"], default="compat")
    ap.add_argument("--emit-trailing", action="store_true")
    ap.add_argument("--scalable-entry-ids", action="store_true")
    ap.add_argument("--no-udp", action="store_true")
    ap.add_argument("--no-tcp", action="store_true")
    ap.add_argument("--no-http", action="store_true")
    # live Graylog endpoint (S1-S3; reference mariadb-log-consumer.py:234-280)
    ap.add_argument("--graylog-host", help="live GELF endpoint; sends via foreachPartition")
    ap.add_argument("--graylog-port-udp", type=int, default=None)
    ap.add_argument("--graylog-port-tcp", type=int, default=None)
    ap.add_argument("--graylog-port-http", type=int, default=None)
    ap.add_argument("--graylog-tcp-timeout", type=float, default=2.0)
    ap.add_argument("--graylog-http-timeout", type=float, default=10.0)
    ap.add_argument(
        "--graylog-http-timeout-idle", type=float, default=5.0,
        help="accepted for reference compat; urllib exposes one socket "
        "timeout (the reference constructs both and assigns neither, :28-33)",
    )
    ap.add_argument("--graylog-http-max-retries", type=int, default=0)
    ap.add_argument(
        "--tcp-compat-double-send",
        action="store_true",
        help="reproduce the reference's TCP double-send byte stream",
    )
    # reference eventlog file compat (C1/C2; mariadb-log-consumer.py:289-304)
    ap.add_argument("--eventlog-file", help="export coordinates in the reference's file format")
    ap.add_argument("--truncate-eventlog", action="store_true")
    ap.add_argument(
        "--message-wait",
        type=float,
        default=None,
        help="S5 rate limit in MILLISECONDS (reference units): streaming "
        "trigger interval; NO-OP in batch (warned)",
    )
    ap.add_argument("--eof-wait", type=int, default=1000, help="stream trigger ms")
    ap.add_argument("--checkpoint", help="streaming checkpoint dir (stop=NEVER)")
    ap.add_argument(
        "--stateful-assembly",
        action="store_true",
        help="streaming: cross-batch entry assembly (needs explicit --log-type)",
    )
    ap.add_argument(
        "--stateful-flush-ms",
        type=int,
        default=None,
        help="trailing-entry flush timeout for --stateful-assembly; "
        "default 4x the trigger interval (min 1000ms) so a conversation "
        "absent from one micro-batch is not split",
    )
    ap.add_argument(
        "--debug-gelf",
        action="store_true",
        help="print sample GELF messages (M5, Registry.DEBUG['GELF_MESSAGES'])",
    )
    args = ap.parse_args(argv)
    if args.stop == "NEVER" and not args.checkpoint:
        ap.error("--stop=NEVER requires --checkpoint")  # exit code 2
    if args.stop == "LIMIT" and args.limit is None:
        # mirror of mariadb-log-consumer.py:313-314
        ap.error("--stop=LIMIT is specified, but --limit is not specified")
    # NOTE: the reference rejects ':' in the sourcelog path (:306-307)
    # because its eventlog embeds the PATH as a ':'-separated field; this
    # engine's eventlog source field is conv_id, and --input is routinely a
    # URI (s3://...) or an Iceberg identifier -- so that check would be
    # actively wrong here.  --limit WITHOUT --stop=LIMIT is also accepted
    # (a documented superset; the reference aborts).
    if "/" in args.label or "\\" in args.label:
        ap.error("a label cannot contain slashes or backslashes")  # :319-320
    any_port = bool(
        args.graylog_port_udp or args.graylog_port_tcp or args.graylog_port_http
    )
    if bool(args.graylog_host) != any_port:
        # both-or-neither, exactly like :322-323
        ap.error("set --graylog-host and at least one port, or omit all these options")
    if args.graylog_http_max_retries < 0:
        ap.error("--graylog-http-max-retries can only be a non-negative integer")
    if args.truncate_eventlog and not args.eventlog_file:
        ap.error("--truncate-eventlog requires --eventlog-file")
    if args.eventlog_file and ":" in args.eventlog_file:
        # the reference's separator validation (mariadb-log-consumer.py:306-307)
        ap.error("--eventlog-file path must not contain ':'")
    if args.stateful_assembly and (args.stop != "NEVER" or args.log_type == "AUTO"):
        # dialect auto-detection needs whole-conversation knowledge a
        # cross-batch stream cannot have (the reference takes --log-type
        # per tailed file for the same reason)
        ap.error("--stateful-assembly requires --stop=NEVER and an explicit --log-type")
    if args.stateful_flush_ms is not None and not args.stateful_assembly:
        ap.error("--stateful-flush-ms requires --stateful-assembly")
    if args.stateful_flush_ms is not None and args.stateful_flush_ms <= 0:
        ap.error("--stateful-flush-ms must be a positive integer")
    return args


def _sink_config(args):
    from mariadb_to_graylog_spark.sinks.clients import SinkConfig

    return SinkConfig(
        host=args.graylog_host,
        udp_port=args.graylog_port_udp,
        tcp_port=args.graylog_port_tcp,
        http_port=args.graylog_port_http,
        tcp_timeout=args.graylog_tcp_timeout,
        http_timeout=args.graylog_http_timeout,
        http_max_retries=args.graylog_http_max_retries,
        compat_double_send=args.tcp_compat_double_send,
    )


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from mariadb_to_graylog_spark.operators.aggregates import combined_counts
    from mariadb_to_graylog_spark.operators.routing import RouterConfig, write_fanout
    from mariadb_to_graylog_spark.plans.pipeline import PipelineConfig, build_routed
    from mariadb_to_graylog_spark.session import get_or_create
    from mariadb_to_graylog_spark.sources import transcripts as src

    # a vanilla session, so spark-submit / spark-defaults conf applies --
    # plus the package root on the Python workers' path
    spark = get_or_create(SparkSession.builder.appName(args.label))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # permissive parser semantics: malformed input -> NULL/continuation,
    # never a runtime error (Spark 4 defaults ANSI on; the reference never
    # aborts on bad lines -- C6)
    spark.conf.set("spark.sql.ansi.enabled", "false")

    cfg = PipelineConfig(
        hostname=args.hostname,
        mode=args.mode,
        serializer=args.serializer,
        emit_trailing=args.emit_trailing,
        scalable=args.scalable_entry_ids,
        router=RouterConfig(
            udp=not args.no_udp, tcp=not args.no_tcp, http=not args.no_http
        ),
    )

    if args.stop == "NEVER":
        import signal

        from mariadb_to_graylog_spark.streaming.stream_pipeline import (
            read_transcript_stream,
            start_pipeline_stream,
        )

        eventlog = None
        if args.eventlog_file:
            from mariadb_to_graylog_spark.sources.eventlog_compat import (
                EventlogCompat,
            )

            eventlog = EventlogCompat(
                args.eventlog_file, truncate=args.truncate_eventlog
            )

        trigger_ms = (
            int(args.message_wait) if args.message_wait else args.eof_wait
        )
        stream = read_transcript_stream(spark, args.input)
        if args.stateful_assembly:
            from pyspark import SparkConf

            from mariadb_to_graylog_spark.streaming.stream_pipeline import (
                start_stateful_pipeline_stream,
            )

            # AQE does not coalesce a stateful operator's partitions, so a
            # vanilla session's 200 would make every micro-batch (empty
            # timeout-only ones too) run 200 state tasks.  Without a
            # launcher value, size them to the workers; a restart keeps
            # the count its checkpoint recorded, as Spark requires.
            key = "spark.sql.shuffle.partitions"
            if not SparkConf().contains(key):
                spark.conf.set(key, str(spark.sparkContext.defaultParallelism))

            q = start_stateful_pipeline_stream(
                stream,
                args.output,
                args.checkpoint,
                log_type=args.log_type,
                cfg=cfg,
                eof_wait_ms=trigger_ms,
                flush_after_ms=args.stateful_flush_ms,
            )
        else:
            q = start_pipeline_stream(
                stream,
                args.output,
                args.checkpoint,
                cfg,
                eof_wait_ms=trigger_ms,
                sink_config=_sink_config(args) if args.graylog_host else None,
                eventlog=eventlog,
            )

        # C4: signal handlers only SET FLAGS -- the reference's deferred-
        # request queue (mariadb-log-consumer.py:479-480,528-545).  Calling
        # q.stop() (a py4j call) from inside a handler while the main
        # thread is blocked in awaitTermination (another py4j call on the
        # same channel) corrupts the connection -- found by the SIGTERM
        # e2e test.  The main loop polls the flags between short waits:
        # SIGTERM/SIGINT -> graceful stop at a micro-batch boundary,
        # SIGHUP -> rotate the eventlog-compat file (lock-protected
        # against the foreachBatch writer thread).
        requests = {"stop": False, "rotate": False}

        def _stop(signum, frame):  # noqa: ARG001
            requests["stop"] = True

        def _rotate(signum, frame):  # noqa: ARG001
            requests["rotate"] = True

        signal.signal(signal.SIGTERM, _stop)
        signal.signal(signal.SIGINT, _stop)
        signal.signal(signal.SIGHUP, _rotate)
        while True:
            if requests["rotate"]:
                requests["rotate"] = False
                if eventlog is not None:
                    eventlog.rotate()
            if requests["stop"]:
                q.stop()
                break
            try:
                if q.awaitTermination(0.5):
                    break
            except Exception:
                # interrupted wait (signal during the blocking call):
                # loop around and act on the flags
                if not (requests["stop"] or requests["rotate"]):
                    raise
        if eventlog is not None:
            eventlog.close()
        return 0

    if args.message_wait is not None:
        # S5 divergence, loudly: batch has no per-message throttle analogue
        # (the reference sleeps between sends, :209-216); streaming maps it
        # to the micro-batch trigger.
        print(
            f"WARNING: --message-wait={args.message_wait} is a streaming "
            "trigger only; batch mode sends at full speed", file=sys.stderr,
        )

    transcripts = src.read_transcripts(spark, args.input)
    if args.resume and args.lineage:
        transcripts = src.resume_filter(
            transcripts, src.read_lineage(spark, args.lineage)
        )
    if args.offset or args.limit is not None:
        transcripts = src.skip_offset_limit(transcripts, args.offset, args.limit)

    from pyspark.sql import Observation

    run_id = src.new_run_id()
    # every run writes into its own run_id=<id> partition directory.  Two
    # reasons: (1) metrics/lineage read-back scopes to THIS run (the
    # output accumulates across runs); (2) CONCURRENT runs into the same
    # output are safe -- parallel writers to one directory share the
    # Hadoop committer's _temporary staging dir and clobber each other
    # (observed: FileNotFoundException on _temporary/0), while per-run
    # subdirectories never share staging.  This is the filesystem-level
    # stand-in for Iceberg/Delta commit isolation (C3 non-port).
    routed = build_routed(transcripts, cfg)
    out_dir = f"{args.output}/run_id={run_id}"
    metrics_dir = f"{args.metrics}/run_id={run_id}" if args.metrics else None
    if args.debug_gelf:
        routed.select("gelf_json").show(20, truncate=False)

    # A1 counters ride along the fan-out write as observed metrics -- no
    # second pass over routed rows (the reference's Request_Counters, but
    # collected distributedly during the one real action)
    obs = Observation("run_counters")
    routed = routed.observe(
        obs,
        F.count(F.lit(1)).alias("rows_total"),
        F.coalesce(
            F.sum((F.col("sink") == "dropped").cast("long")), F.lit(0)
        ).alias("rows_dropped"),
    )
    write_fanout(routed, out_dir)
    counters = obs.get
    n_routed = counters["rows_total"] - counters["rows_dropped"]
    print(
        f"routed {n_routed} events "
        f"({counters['rows_dropped']} dropped) -> {args.output}"
    )

    if args.graylog_host:
        # live emit (the reference's entire purpose): every GELF string runs
        # the udp -> tcp -> http failover chain, one client set per task
        # (S1-S3, mariadb-log-consumer.py:565-591).  Second pass over the
        # plan -- the table fan-out above is the durable sink; the live send
        # is fire-and-forget exactly like the reference.
        from mariadb_to_graylog_spark.sinks.clients import make_partition_sender

        routed.select("gelf_json").foreachPartition(
            make_partition_sender(_sink_config(args))
        )
        print(f"sent {counters['rows_total']} events -> {args.graylog_host}")

    # aggregates + lineage read the just-written sink tables: one extra scan
    # of the (much smaller) routed output instead of recomputing the plan --
    # reading only THIS run's partition directory.
    if n_routed > 0:
        written = spark.read.parquet(out_dir)
        if metrics_dir:
            combined_counts(written).write.mode("append").parquet(metrics_dir)
        if args.lineage or args.eventlog_file:
            lineage = src.build_lineage(transcripts, written, run_id=run_id)
            if args.lineage:
                # per-run subdir for the same committer-staging reason as
                # the sinks/metrics ("run=" not "run_id=": the rows already
                # carry a run_id DATA column, and partition discovery must
                # not collide with it)
                src.write_lineage(lineage, f"{args.lineage}/run={run_id}")
            if args.eventlog_file:
                # reference file-format export (C1): tiny per-conversation
                # aggregate, driver-side by design (migration tooling)
                from mariadb_to_graylog_spark.sources.eventlog_compat import (
                    write_from_lineage,
                )

                write_from_lineage(
                    lineage.select("conv_id", "max_turn_idx").collect(),
                    args.eventlog_file,
                    truncate=args.truncate_eventlog,
                )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
