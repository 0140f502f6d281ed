"""Steady-run protocol shared by every workload.

One process runs one workload:

1. the Spark session starts through ``bench.bench_spark`` on a fixed
   ``local[threads()]`` (half the cores: every task of a Python-UDF stage
   keeps a JVM task thread and a Python worker busy, so this fills the
   cores without queueing on them) with pinned shuffle partitions, a
   ``spark.local.dir`` under this run's temp directory, console progress
   off, and the checkout on the Python workers' path (so Python UDFs
   import the package from any working directory);
2. the workload generates its inputs from the seed, the full one and a
   small one for the warm-up (not part of set-up time);
3. untimed warm-up iterations, ``small_warmups`` on the small input and
   then ``full_warmups`` on the full one, run the per-job fixed cost
   (planning, codegen, the JIT compiling both) until it has settled;
4. timed iterations start until ``--seconds`` have passed, at least
   ``min_iterations`` of them; each iteration's outputs are kept until
   they are checked, then deleted, both outside the timed section;
5. with ``--trace 1`` one iteration runs untimed and checked, then the
   traced run, and the per-layer counters are reported instead.

Timings are medians over the timed iterations.  CPU time and resident
memory are read from ``/proc`` for the whole process tree: this process,
the JVM and the Python workers it starts.
"""

from __future__ import annotations

import importlib.util
import os
import shlex
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SHUFFLE_PARTITIONS = 12
DRIVER_MEMORY = "4g"
_T0 = time.monotonic()
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def threads() -> int:
    """Spark's task threads: half the cores this process may run on."""
    return max(1, nproc() // 2)


def load_module(relpath: str):
    """Import a repo file that is not part of the package by its path."""
    path = ROOT / relpath
    name = path.stem
    if name in sys.modules:
        return sys.modules[name]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def prepare_environment(tmp: Path) -> None:
    """Process-wide settings that must be in place before the JVM starts."""
    tmp.mkdir(parents=True, exist_ok=True)
    local = tmp / "local"
    local.mkdir(exist_ok=True)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)  # overrides spark.local.dir
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own launcher JVM
    conf = {
        "spark.local.dir": str(local),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def start_session(event_log_dir: Path | None = None):
    from bench import bench_spark

    return bench_spark(
        threads(),
        app="perfbench",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        event_log_dir=str(event_log_dir) if event_log_dir else None,
    )


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = set(tree_pids()) - {os.getpid()}
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in children) and time.monotonic() < deadline:
        time.sleep(0.05)


# ---------------------------------------------------------------- /proc ----


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, including reaped
    children (utime, stime, cutime, cstime)."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _CLK_TCK


def reset_peak_rss() -> None:
    """Start every process's peak resident set (VmHWM) afresh from its
    current one."""
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
                fh.write("5")
        except OSError:
            pass


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident set
    since ``reset_peak_rss`` (or since it started)."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb * 1024 / 1e6


# ------------------------------------------------------------ protocol ----


@dataclass
class Iteration:
    wall_s: float = 0.0
    cpu_s: float = 0.0
    ok: bool = True


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _run_one(workload, i: int) -> Iteration:
    it = Iteration()
    c0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        workload.iteration(i)
    except Exception:  # noqa: BLE001 - a failed iteration is counted, not fatal
        traceback.print_exc()
        it.ok = False
    it.wall_s = time.perf_counter() - t0
    it.cpu_s = tree_cpu_s() - c0
    return it


def _warm_up(workload, small) -> None:
    runs = [small] * workload.small_warmups + [workload] * workload.full_warmups
    for k, w in enumerate(runs):
        t0 = time.perf_counter()
        w.iteration(-1 - k)
        w.discard(-1 - k)
        log(f"{workload.name}: warm-up {k} ({w.rows} rows) {time.perf_counter() - t0:.3f}s")


def run_workload(spark, workload, seconds: float, trace: bool, session_s: float) -> dict:
    """Generate, warm up, measure, check; the benchmark's result object."""
    t0 = time.perf_counter()
    workload.generate()
    small = workload.warmup_workload()
    small.generate()
    log(f"{workload.name}: inputs {workload.rows} rows (warm-up {small.rows}) "
        f"in {time.perf_counter() - t0:.1f}s")

    t0 = time.perf_counter()
    _warm_up(workload, small)
    small.discard_all()
    setup_s = session_s + time.perf_counter() - t0
    log(f"{workload.name}: set-up {setup_s:.2f}s")

    if trace:
        return _traced(spark, workload)

    iters: list[Iteration] = []
    start = time.perf_counter()
    reset_peak_rss()
    while len(iters) < workload.min_iterations or time.perf_counter() - start < seconds:
        it = _run_one(workload, len(iters))
        log(f"{workload.name}: iteration {len(iters)} {it.wall_s:.3f}s, {it.cpu_s:.2f} cpu-s")
        iters.append(it)
    peak_rss_mb = tree_peak_rss_mb()
    checks = workload.check(len(iters))
    for i in range(len(iters)):
        workload.discard(i)

    wall = statistics.median(it.wall_s for it in iters)
    log(f"{workload.name}: checks {checks}")
    metrics = {
        "wall_s": (wall, "s"),
        "rows_per_s": (workload.rows / wall, "rows/s"),
        "cpu_s": (statistics.median(it.cpu_s for it in iters), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "setup_s": (setup_s, "s"),
    }
    return _result(iters, checks, metrics)


def _traced(spark, workload) -> dict:
    from perfbench.tracing import (
        Tracer,
        attach_counters,
        event_log_file,
        flush_event_log,
        per_layer_units,
    )

    untraced = _run_one(workload, 0)
    checks = workload.check(1)
    workload.discard(0)
    tracer = Tracer(spark, run_id=f"{workload.name}-{workload.seed}")
    extra, trace_checks = workload.trace(tracer)
    checks += trace_checks
    chain = [sp for sp in tracer.spans if sp.parent]  # the layer prefixes
    traced_s = max(sp.end for sp in chain) - min(sp.start for sp in chain)
    workload.discard_trace()
    flush_event_log(spark)
    event_log = event_log_file(spark)
    stage_metrics = load_module("tools/stage_metrics.py")
    layers = attach_counters(tracer.spans, event_log, stage_metrics.parse_event_log)
    tracer.write(workload.trace_file(), layers)
    log(f"{workload.name}: traced {traced_s:.2f}s vs untraced {untraced.wall_s:.2f}s")

    values = {name: 0.0 for name in per_layer_units()}  # unexercised layers read 0
    for layer, counters in layers.items():
        values.update({f"{layer}.{c}": float(v) for c, v in counters.items()})
    values.update(extra)
    values["trace.overhead_s"] = traced_s - untraced.wall_s
    metrics = {k: (values[k], u) for k, u in per_layer_units().items()}
    return _result([untraced], checks, metrics)


def _result(iters: list[Iteration], checks: list[bool], metrics: dict) -> dict:
    failed = sum(not it.ok for it in iters) + sum(not ok for ok in checks)
    attempted = len(iters) + len(checks)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
