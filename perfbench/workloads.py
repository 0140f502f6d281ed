"""The benchmark's two workloads.  Why each exists is in README.md.

Every workload drives the package's public entry points only; the seed
reaches the program solely through the generated inputs.  A workload
provides ``generate``, ``iteration`` (one timed unit of work), ``check``
(one bool per output check over the kept iterations), ``discard`` and
``trace`` (per-layer metrics plus the checks of the traced run's outputs).
"""

from __future__ import annotations

import io
import itertools
import re
import shutil
from contextlib import redirect_stdout
from pathlib import Path

from pyspark.sql import functions as F

from perfbench.harness import load_module

# pipeline_job: the first conversations that hold PIPELINE_ROWS turns (Zipf
# turn counts, 40% slow-log conversations), so every seed gives the same
# input size to within one conversation; written as STREAM_FILES files of
# whole conversations, which the traced run drains as a stream, one file
# per micro-batch
PIPELINE_ROWS = 45_000
MEAN_TURNS = 10
SLOW_FRAC = 0.4
STREAM_FILES = 4
TRIGGER_MS = 100
REFERENCE_SAMPLE = 25  # error-dialect conversations compared to the simulator
# neardup_dedup: word-salad docs plus a planted near-duplicate of every 5th
NEARDUP_DOCS = 3000
WORDS_PER_DOC = 50
DUP_OFFSET = 10_000_000
LSH = {"shingle_n": 4, "bands": 4, "rows_per_band": 8}  # lsh_jaccard_verified's


def _rmtree(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def sink_counts(df) -> dict[str, int]:
    return {r.sink: r["count"] for r in df.groupBy("sink").count().collect()}


def write_counted(df, path: str) -> int:
    """Write a generated input as parquet; its row count."""
    from perfbench.tracing import counted

    df, obs = counted(df, "input_rows")
    df.write.parquet(path)
    return obs.get["n"]


class Workload:
    name = ""
    min_iterations = 3
    # untimed warm-up: iterations on an input at warmup_scale of the full
    # one (same generator and seed), then on the full input
    warmup_scale = 0.1
    small_warmups = 4
    full_warmups = 0

    def __init__(self, spark, tmp: Path, out: Path, seed: int, scale: float = 1.0):
        self.spark = spark
        self.tmp = tmp
        self.out = out
        self.seed = seed
        self.scale = scale
        self.rows = 0

    def _n(self, full: int, least: int = 1) -> int:
        return max(least, round(full * self.scale))

    def iter_dir(self, i: int) -> Path:
        return self.tmp / f"iter{i}"

    def discard(self, i: int) -> None:
        _rmtree(self.iter_dir(i))

    def discard_trace(self) -> None:
        _rmtree(self.tmp / "trace")

    def discard_all(self) -> None:
        _rmtree(self.tmp)

    def warmup_workload(self) -> Workload:
        """The same workload over a small input of its own, for warm-up."""
        return type(self)(self.spark, self.tmp / "warmup", self.out, self.seed,
                          self.scale * self.warmup_scale)

    def trace_file(self) -> Path:
        return self.out / f"spans-{self.name}-seed{self.seed}.json"


# ------------------------------------------------------------- pipeline ----


def trace_pipeline(tracer, spark, input_path: str, out: Path) -> None:
    """Prefix chain of the log pipeline's layers, through the fan-out
    write, the aggregate and the lineage written under ``out`` as the job
    CLI does."""
    from mariadb_to_graylog_spark.operators.aggregates import combined_counts
    from mariadb_to_graylog_spark.operators.assembly import assemble_error_entries
    from mariadb_to_graylog_spark.operators.errorlog import parse_error_log_lines
    from mariadb_to_graylog_spark.operators.routing import route, write_fanout
    from mariadb_to_graylog_spark.plans import pipeline as pl
    from mariadb_to_graylog_spark.sources import transcripts as src
    from perfbench.tracing import counted

    cfg = pl.PipelineConfig()
    root = "pipeline"

    def read():
        return src.read_transcripts(spark, input_path)

    def split():
        return pl.split_dialects(read(), share_scan=cfg.share_scan)

    def parsed_error():
        return parse_error_log_lines(split()[0])

    def error_events():
        entries = assemble_error_entries(parsed_error(), mode=cfg.mode, scalable=cfg.scalable)
        return pl.error_entries_to_events(entries)

    def slow_events():
        return pl.slow_events(split()[1], cfg)

    def enriched():
        return pl.enrich(error_events().unionByName(slow_events()), cfg)

    def routed():
        return route(enriched(), cfg=cfg.router)

    p = tracer.prefix
    p("sources.read", read, parent=root)
    p("split.error_branch", lambda: split()[0], parent=root)
    p("split.slow_branch", lambda: split()[1], parent=root)
    p("plans.split_dialects", lambda: split()[0].unionByName(split()[1]), ["sources.read"], root)
    p("operators.errorlog.parse", parsed_error, ["split.error_branch"], root)
    p("operators.assembly.assemble", error_events, ["operators.errorlog.parse"], root)
    p("operators.slowlog.parse", slow_events, ["split.slow_branch"], root)
    p("plans.enrich", enriched, ["operators.assembly.assemble", "operators.slowlog.parse"], root)
    p("operators.routing.route", routed, ["plans.enrich"], root)

    def fanout():
        df, obs = counted(routed().filter(F.col("sink") != "dropped"), "fanout")
        write_fanout(df, str(out / "sinks"))
        return obs.get["n"]

    def aggregate():
        df, obs = counted(combined_counts(spark.read.parquet(str(out / "sinks"))), "agg")
        df.write.mode("append").parquet(str(out / "metrics"))
        return obs.get["n"]

    def lineage():
        written = spark.read.parquet(str(out / "sinks"))
        df, obs = counted(src.build_lineage(read(), written, run_id="trace"), "lineage")
        src.write_lineage(df, str(out / "lineage"))
        return obs.get["n"]

    p("operators.routing.write_fanout", fanout, ["operators.routing.route"], root)
    p("operators.aggregates.combined_counts", aggregate, [], root)
    p("sources.lineage", lineage, [], root)


class PipelineJob(Workload):
    """``jobs/run_pipeline.py`` ``main()`` with --output --metrics --lineage."""

    name = "pipeline_job"
    min_iterations = 2
    _ROUTED = re.compile(r"routed (\d+) events \((\d+) dropped\)")

    def _convs_for(self, rows: int) -> int:
        """The fewest leading conversations that hold ``rows`` turns."""
        from mariadb_to_graylog_spark.datagen import conv_lines_py

        total = 0
        for n in itertools.count(1):
            total += len(conv_lines_py(n - 1, self.seed, MEAN_TURNS, SLOW_FRAC))
            if total >= rows:
                return n

    def generate(self) -> None:
        from mariadb_to_graylog_spark.datagen import generate_transcripts

        self.n_convs = self._convs_for(self._n(PIPELINE_ROWS, 1000))
        self.input = str(self.tmp / "transcripts")
        # one Spark partition per file, each a contiguous run of whole
        # conversations, so every micro-batch of the traced drain holds
        # complete conversations
        self.rows = write_counted(generate_transcripts(
            self.spark, n_convs=self.n_convs, mean_turns=MEAN_TURNS,
            seed=self.seed, slow_frac=SLOW_FRAC, partitions=STREAM_FILES,
        ), self.input)
        self.job = load_module("jobs/run_pipeline.py")
        self.routed: dict[int, int] = {}
        self.sinks: dict[int, dict[str, int]] = {}

    def iteration(self, i: int) -> None:
        d = self.iter_dir(i)
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = self.job.main([
                "--input", self.input, "--output", str(d / "sinks"),
                "--metrics", str(d / "metrics"), "--lineage", str(d / "lineage"),
            ])
        m = self._ROUTED.search(buf.getvalue())
        if rc != 0 or m is None:
            raise RuntimeError(f"job rc={rc}: {buf.getvalue()[-500:]}")
        self.routed[i] = int(m.group(1))

    def _reference(self) -> dict[str, list[tuple[str, str]]]:
        """Simulator output for the first REFERENCE_SAMPLE error-dialect
        conversations: conv_id -> [(gelf_json, sink)] in entry order."""
        from mariadb_to_graylog_spark.datagen import conv_lines_py

        sim = load_module("tests/reference_sim.py")
        ref: dict[str, list[tuple[str, str]]] = {}
        for conv in range(self.n_convs):
            lines = conv_lines_py(conv, self.seed, MEAN_TURNS, SLOW_FRAC)
            if any(ln.rstrip().startswith("# Time:") for ln in lines):
                continue  # slow-log dialect
            gelf = [sim.gelf_to_string(m) for m in sim.simulate_error_log(lines)]
            ref[f"conv-{conv:06d}"] = [(g, "udp" if g.isascii() else "http") for g in gelf]
            if len(ref) == REFERENCE_SAMPLE:
                break
        return ref

    def check(self, n: int) -> list[bool]:
        ref = self._reference()
        results, first = [], None
        for i in range(n):
            d = self.iter_dir(i)
            if i not in self.routed:
                results.append(False)
                continue
            sinks = self.sinks[i] = sink_counts(self.spark.read.parquet(str(d / "sinks")))
            metrics = {r.sink: r.n for r in
                       self.spark.read.parquet(str(d / "metrics")).groupBy("sink")
                       .agg(F.sum("n").alias("n")).collect()}
            results.append(sinks == metrics and sum(sinks.values()) == self.routed[i])
            first = sinks if first is None else first
            results.append(sinks == first)
            got: dict[str, list[tuple[int, str, str]]] = {}
            for r in (self.spark.read.parquet(str(d / "sinks"))
                      .filter((F.col("source") == "error") & F.col("conv_id").isin(list(ref)))
                      .select("conv_id", "entry_id", "gelf_json", "sink").collect()):
                got.setdefault(r.conv_id, []).append((r.entry_id, r.gelf_json, r.sink))
            results.append(all(
                [(g, s) for _, g, s in sorted(got.get(c, []))] == exp for c, exp in ref.items()
            ))
        return results

    def trace(self, tracer) -> tuple[dict[str, float], list[bool]]:
        """The layer prefix chain, then the same files drained by
        ``start_pipeline_stream``, one file per micro-batch."""
        import statistics

        from mariadb_to_graylog_spark.streaming.stream_pipeline import (
            read_transcript_stream,
            start_pipeline_stream,
        )
        from perfbench.tracing import event_log_file, flush_event_log, job_index

        trace_pipeline(tracer, self.spark, self.input, self.tmp / "trace")
        d = self.tmp / "trace" / "stream"
        with tracer.span("streaming.stream_pipeline"):
            stream = read_transcript_stream(self.spark, self.input, max_files_per_trigger=1)
            q = start_pipeline_stream(stream, str(d / "sinks"), str(d / "checkpoint"),
                                      eof_wait_ms=TRIGGER_MS)
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        flush_event_log(self.spark)
        # a streaming query's jobs carry its run id as their job group
        groups, _ = job_index(event_log_file(self.spark))

        def med(key: str) -> float:
            return statistics.median(p["durationMs"].get(key, 0) for p in progress) / 1000.0

        metrics = {
            "streaming.add_batch_s": med("addBatch"),
            "streaming.query_planning_s": med("queryPlanning"),
            "streaming.wal_commit_s": med("walCommit"),
            "streaming.jobs_per_batch": len(groups.get(q.runId, [])) / len(progress),
        }
        # the per-sink rows summed over the batches equal the batch job's
        checks = [
            q.exception() is None and len(progress) == STREAM_FILES,
            sink_counts(self.spark.read.parquet(str(d / "sinks"))) == self.sinks.get(0),
        ]
        return metrics, checks


# ------------------------------------------------------------- near-dup ----


class NeardupDedup(Workload):
    """``lsh_jaccard_verified`` -> ``near_dedup_groups``, groups written."""

    name = "neardup_dedup"
    warmup_scale = 0.2
    small_warmups = 2
    full_warmups = 1

    def generate(self) -> None:
        vocab_words = load_module("tools/bench_dedup_scale.py").VOCAB
        vocab = F.lit(vocab_words)
        key = lambda i: F.concat_ws("-", F.lit(str(self.seed)), F.col("id"), i)  # noqa: E731
        word = lambda i: F.element_at(  # noqa: E731
            vocab,
            (F.conv(F.substring(F.md5(key(i)), 1, 8), 16, 10).cast("long")
             % len(vocab_words)).cast("int") + 1,
        )
        words = F.transform(F.sequence(F.lit(1), F.lit(WORDS_PER_DOC)), word)
        base = self.spark.range(self._n(NEARDUP_DOCS, 50)).select(
            F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
        )
        # the planted near-duplicate differs by one trailing character
        dups = base.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + DUP_OFFSET).alias("doc_id"),
            F.concat("text", F.lit(".")).alias("text"),
        )
        self.input = str(self.tmp / "docs")
        self.rows = write_counted(base.unionByName(dups), self.input)

    def iteration(self, i: int) -> None:
        from mariadb_to_graylog_spark.operators.dedup import lsh_jaccard_verified, near_dedup_groups

        docs = self.spark.read.parquet(self.input)
        groups = near_dedup_groups(docs, lsh_jaccard_verified(docs))
        groups.write.parquet(str(self.iter_dir(i) / "groups"))

    def check(self, n: int) -> list[bool]:
        results, first = [], None
        for i in range(n):
            path = self.iter_dir(i) / "groups"
            if not path.exists():
                results.append(False)
                continue
            g = self.spark.read.parquet(str(path))
            n_groups = g.select("group_id").distinct().count()
            first = n_groups if first is None else first
            results.append(n_groups == first)
            dup = g.filter(F.col("doc_id") >= DUP_OFFSET).select(
                (F.col("doc_id") - DUP_OFFSET).alias("doc_id"), F.col("group_id").alias("dup_group")
            )
            split = dup.join(g, "doc_id", "left").filter(
                F.col("group_id").isNull() | (F.col("group_id") != F.col("dup_group"))
            ).count()
            results.append(split == 0)
        return results

    def trace(self, tracer) -> tuple[dict[str, float], list[bool]]:
        from mariadb_to_graylog_spark.operators.dedup import (
            lsh_buckets,
            lsh_jaccard_verified,
            minhash_lsh_pairs,
            near_dedup_groups,
        )

        from perfbench.tracing import counted

        def docs():
            return self.spark.read.parquet(self.input)

        def components():
            groups, obs = counted(near_dedup_groups(docs(), lsh_jaccard_verified(docs())), "groups")
            groups.write.parquet(str(self.tmp / "trace" / "groups"))
            return obs.get["n"]

        root, p = "neardup", tracer.prefix
        p("operators.dedup.signatures", lambda: lsh_buckets(docs(), **LSH), [], root)
        p("operators.dedup.candidates", lambda: minhash_lsh_pairs(docs(), **LSH),
          ["operators.dedup.signatures"], root)
        p("operators.dedup.verify", lambda: lsh_jaccard_verified(docs()),
          ["operators.dedup.candidates"], root)
        p("operators.dedup.components", components, ["operators.dedup.verify"], root)
        rows = {sp.name: sp.rows_out for sp in tracer.spans}
        cand, verified = rows["operators.dedup.candidates"], rows["operators.dedup.verify"]
        return {
            "operators.dedup.candidate_pairs": float(cand),
            "operators.dedup.verified_pairs": float(verified),
            "operators.dedup.verify_yield": verified / cand if cand else 0.0,
        }, []


WORKLOADS = {w.name: w for w in (PipelineJob, NeardupDedup)}
