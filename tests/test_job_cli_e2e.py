"""End-to-end test of the spark-submit job entry point (jobs/run_pipeline.py)
in batch mode with lineage + metrics + resume, live Graylog sinks against
in-process listeners, and the reference-format eventlog export."""

from __future__ import annotations

import os
import re
import socket
import subprocess
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer
from pathlib import Path

from pyspark.sql import functions as F

from jobs.run_pipeline import main as job_main


def test_job_batch_with_lineage_and_resume(spark, transcripts, tmp_path):
    src_path = str(tmp_path / "transcripts")
    transcripts.write.parquet(src_path)
    out1 = str(tmp_path / "sinks1")
    lineage = str(tmp_path / "lineage")
    metrics = str(tmp_path / "metrics")

    rc = job_main(
        [
            "--input", src_path, "--output", out1,
            "--lineage", lineage, "--metrics", metrics,
        ]
    )
    assert rc == 0
    written = spark.read.parquet(out1)
    n1 = written.count()
    assert n1 > 0
    assert spark.read.parquet(metrics).agg(F.sum("n")).collect()[0][0] == n1
    lin = spark.read.parquet(lineage)
    assert lin.count() > 0
    assert {"run_id", "conv_id", "max_turn_idx", "rows_in", "rows_routed"} <= set(
        lin.columns
    )

    # resume run over the same input: everything consumed -> nothing routed
    out2 = str(tmp_path / "sinks2")
    rc = job_main(
        [
            "--input", src_path, "--output", out2,
            "--lineage", lineage, "--resume",
        ]
    )
    assert rc == 0
    try:
        n2 = spark.read.parquet(out2).count()
    except Exception:
        n2 = 0  # no files written at all
    assert n2 == 0


def test_job_cli_reads_sinks_back_without_a_job(spark, transcripts, tmp_path):
    """The sinks the run wrote are read back with the routed schema, so no
    Spark job infers it from the files: the whole run with metrics and
    lineage takes at most 9 jobs (10 while the read inferred it), and the
    read-back lineage and counts match the written rows."""
    from conftest import group_jobs

    src_path = str(tmp_path / "transcripts")
    transcripts.write.parquet(src_path)
    out, metrics = str(tmp_path / "sinks"), str(tmp_path / "metrics")
    lineage = str(tmp_path / "lineage")
    argv = ["--input", src_path, "--output", out, "--metrics", metrics, "--lineage", lineage]
    assert group_jobs(spark, lambda: job_main(argv)) <= 9
    written = spark.read.parquet(out)
    n = written.count()
    assert n > 0
    assert spark.read.parquet(metrics).agg(F.sum("n")).collect()[0][0] == n
    assert spark.read.parquet(lineage).agg(F.sum("rows_routed")).collect()[0][0] == n


def test_resume_metrics_scoped_to_run(spark, transcripts, tmp_path):
    """A second (non-resume) run appending to the SAME output must record
    only its own rows in metrics -- the read-back is run_id-scoped."""
    src_path = str(tmp_path / "transcripts")
    transcripts.write.parquet(src_path)
    out = str(tmp_path / "sinks")
    metrics = str(tmp_path / "metrics")

    assert job_main(["--input", src_path, "--output", out, "--metrics", metrics]) == 0
    n1 = spark.read.parquet(metrics).agg(F.sum("n")).collect()[0][0]
    assert job_main(["--input", src_path, "--output", out, "--metrics", metrics]) == 0
    total = spark.read.parquet(metrics).agg(F.sum("n")).collect()[0][0]
    # two identical runs: each metrics append counts one run's rows, not
    # the accumulated output directory
    assert total == 2 * n1
    assert spark.read.parquet(out).count() == 2 * n1


def test_concurrent_runs_do_not_interfere(spark, transcripts, tmp_path):
    """C3 (lock file) deliberately non-ported: two SIMULTANEOUS runs into
    the same output directory must both succeed, with the union of their
    rows present and each metrics append scoped to its own run -- the
    table-commit + run_id isolation that replaces the reference's flock."""
    from concurrent.futures import ThreadPoolExecutor

    src_path = str(tmp_path / "transcripts")
    transcripts.write.parquet(src_path)
    out = str(tmp_path / "sinks")
    metrics = str(tmp_path / "metrics")

    def run():
        return job_main(
            ["--input", src_path, "--output", out, "--metrics", metrics]
        )

    with ThreadPoolExecutor(max_workers=2) as ex:
        rcs = list(ex.map(lambda _: run(), range(2)))
    assert rcs == [0, 0]

    written = spark.read.parquet(out)
    n_one = written.select("run_id").distinct().count()
    assert n_one == 2  # two distinct runs landed
    per_run = written.groupBy("run_id").count().collect()
    assert len({r["count"] for r in per_run}) == 1  # identical row counts
    # each metrics append counted exactly its own run's rows
    total = spark.read.parquet(metrics).agg(F.sum("n")).collect()[0][0]
    assert total == written.count()


def test_job_live_graylog_sinks(spark, transcripts, tmp_path):
    """--graylog-* wiring: every routed GELF reaches the in-process UDP /
    HTTP listeners through the failover chain, with per-sink counts equal
    to the table router's."""
    udp_got: list[bytes] = []
    http_got: list[bytes] = []
    ready = threading.Event()

    def udp_listener(stop: threading.Event):
        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        sock.bind(("127.0.0.1", 0))
        sock.settimeout(0.2)
        udp_listener.port = sock.getsockname()[1]
        ready.set()
        while not stop.is_set():
            try:
                data, _ = sock.recvfrom(65536)
                udp_got.append(data)
            except socket.timeout:
                continue
        sock.close()

    stop = threading.Event()
    t = threading.Thread(target=udp_listener, args=(stop,), daemon=True)
    t.start()
    ready.wait(2)

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            http_got.append(self.rfile.read(int(self.headers["Content-Length"])))
            self.send_response(202)
            self.end_headers()

        def log_message(self, *a):
            pass

    httpd = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()

    src_path = str(tmp_path / "transcripts")
    transcripts.write.parquet(src_path)
    out = str(tmp_path / "sinks")
    rc = job_main(
        [
            "--input", src_path, "--output", out,
            "--graylog-host", "127.0.0.1",
            "--graylog-port-udp", str(udp_listener.port),
            "--graylog-port-http", str(httpd.server_address[1]),
        ]
    )
    stop.set()
    t.join(2)
    httpd.shutdown()
    assert rc == 0

    table = {
        r.sink: r.n
        for r in spark.read.parquet(out)
        .groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(udp_got) == table.get("udp", 0)
    assert len(http_got) == table.get("http", 0)
    assert all(b'"version":"1.1"' in m or b"version" in m for m in udp_got[:5])


def test_job_eventlog_export(spark, transcripts, tmp_path):
    """--eventlog-file: coordinates exported in the reference's
    <coordinate>:<source> format, one line per conversation."""
    from mariadb_to_graylog_spark.sources.eventlog_compat import last_coordinate

    src_path = str(tmp_path / "transcripts")
    transcripts.write.parquet(src_path)
    evt = str(tmp_path / "consumer.eventlog")
    rc = job_main(
        [
            "--input", src_path, "--output", str(tmp_path / "sinks"),
            "--eventlog-file", evt,
        ]
    )
    assert rc == 0
    lines = [l.strip() for l in open(evt) if l.strip()]
    n_convs = transcripts.select("conv_id").distinct().count()
    assert len(lines) == n_convs
    assert all(":" in l and l.split(":")[0].isdigit() for l in lines)
    coord, source = last_coordinate(evt)
    assert coord >= 0 and source.startswith("conv")


def test_job_cli_workers_import_package_from_any_cwd(transcripts, tmp_path):
    """The CLI run as a script from a foreign working directory with
    PYTHONPATH unset: the live-send ``foreachPartition`` workers must
    still import this package, and every routed event reach UDP."""
    got: list[bytes] = []
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    sock.bind(("127.0.0.1", 0))
    sock.settimeout(0.2)
    stop = threading.Event()

    def listen():
        while not stop.is_set():
            try:
                got.append(sock.recvfrom(65536)[0])
            except socket.timeout:
                continue

    t = threading.Thread(target=listen, daemon=True)
    t.start()

    src_path = str(tmp_path / "transcripts")
    transcripts.write.parquet(src_path)
    script = Path(__file__).resolve().parent.parent / "jobs" / "run_pipeline.py"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            sys.executable, str(script),
            "--input", src_path, "--output", str(tmp_path / "sinks"),
            "--limit", "200", "--no-tcp", "--no-http",
            "--graylog-host", "127.0.0.1",
            "--graylog-port-udp", str(sock.getsockname()[1]),
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    time.sleep(1)  # drain datagrams still in flight
    stop.set()
    t.join(2)
    sock.close()
    assert proc.returncode == 0, proc.stderr[-3000:]
    n_routed = int(re.search(r"routed (\d+) events", proc.stdout).group(1))
    assert n_routed > 0
    assert len(got) == n_routed


def test_job_cli_stateful_slow_stream_sizes_state_partitions(spark, tmp_path):
    """``--stateful-assembly`` in a vanilla CLI session: the state
    operator's partitions follow the workers' parallelism, as recorded in
    the checkpoint (the built-in 200 made every micro-batch, empty
    timeout-only ones too, run 200 state tasks), and the stream routes
    the same sinks as the batch CLI over the same input."""
    import json
    import signal

    from conftest import make_conv
    from test_slowlog import CORPUS
    from test_streaming_stateful import SLOW_UNICODE

    # one file, so the stream reads every line in its first micro-batch
    src_path = str(tmp_path / "transcripts")
    make_conv(spark, CORPUS, "conv-a").union(
        make_conv(spark, SLOW_UNICODE, "conv-b")
    ).coalesce(1).write.parquet(src_path)

    def sinks(path):
        rows = spark.read.parquet(path).select("sink", "gelf_json").collect()
        return sorted((r.sink, r.gelf_json) for r in rows)

    batch_out = str(tmp_path / "batch")
    assert job_main(["--input", src_path, "--output", batch_out]) == 0
    expected = sinks(batch_out)
    assert expected

    repo = Path(__file__).resolve().parent.parent
    out, ckpt, log = str(tmp_path / "stream"), tmp_path / "ckpt", tmp_path / "job.log"
    env = dict(
        os.environ, PYTHONPATH=str(repo),
        PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell",
    )
    with open(log, "w") as log_f:
        proc = subprocess.Popen(
            [
                sys.executable, str(repo / "jobs" / "run_pipeline.py"),
                "--input", src_path, "--output", out,
                "--stop", "NEVER", "--checkpoint", str(ckpt),
                "--stateful-assembly", "--log-type", "SLOW", "--eof-wait", "500",
            ],
            cwd=str(repo), env=env, stdout=log_f, stderr=subprocess.STDOUT,
        )
        try:
            # the first micro-batch's commit means the entries it flushed
            # are in the sink (the trailing ones are dropped at their
            # timeout, as in batch)
            deadline = time.time() + 300
            while not (ckpt / "commits" / "0").exists():
                assert proc.poll() is None, log.read_text()[-3000:]
                assert time.time() < deadline, "no committed micro-batch in 300s"
                time.sleep(1)
            os.kill(proc.pid, signal.SIGTERM)
            assert proc.wait(timeout=120) == 0, log.read_text()[-3000:]
        finally:
            if proc.poll() is None:
                proc.kill()

    offset_meta = json.loads((ckpt / "offsets" / "0").read_text().splitlines()[1])
    assert offset_meta["conf"]["spark.sql.shuffle.partitions"] == "2"
    assert sinks(out) == expected
