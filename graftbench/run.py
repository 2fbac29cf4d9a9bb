"""The engine's benchmark: three workloads of registered lines, end to end and
layer by layer.

    python3 graftbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. One process is one closed-loop client with one
fresh ``get_spark()`` session at ``local[nproc]``. It runs the workload's
lines one at a time, in an order drawn from the seed, and materializes each
result with a ``noop`` write. A *pass* runs every line once: a cold pass, a
checked pass (each result is compared with the line's DuckDB oracle instead of
written), then a fixed number of measured passes sized from ``--seconds``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates untraced
and traced passes and prints the per-layer metrics of the traced ones. The
last stdout line is one JSON object; the per-line detail and the spans go to
``.graftbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".graftbench")
PACKAGE = "projet_etl_a_rien_spark"

WORKLOADS = {
    # SQL-shaped lines: per-query planning, codegen and scheduling dominate.
    "relational": [
        "tpch_q1_pricing_summary",
        "tpch_q9_product_type_profit",
        "events_hourly",
        "streaming_hourly_windows",
        "doc_inverted_index",
    ],
    # Driver-sequenced composites: eager checkpoint/count/collect barriers.
    "iterative": [
        "parts_kcore",
        "customer_entity_resolution",
    ],
    # Sink-bearing lines: writes, checkpoints, micro-batches, read-back.
    "pipeline": [
        "airports_permissive_roundtrip",
        "streaming_user_value_sample_kmv",
    ],
}

# Share of a traced pass that no layer span may leave uncovered: that time is
# the tracer's own bookkeeping between lines (status-store reads).
TRACE_BOOKKEEPING_MAX = 0.1

# Warm pass time of each workload on a 4-core box. The measured window is a
# fixed number of passes, ``--seconds`` at this pace, so that every run reads
# the same pass positions on the JVM's warm-up curve.
NOMINAL_PASS_S = {"relational": 2.7, "iterative": 3.3, "pipeline": 2.0}


def measured_passes(workload: str, seconds: float) -> int:
    return max(2, round(seconds / NOMINAL_PASS_S[workload]))


END_TO_END = {"setup_s": "s", "cold_s": "s", "wall_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "build.s": "s", "build.jobs": "count", "build.share": "ratio",
    "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.util": "ratio", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "codegen.compiles": "count", "codegen.compile_s": "s", "jit.compile_s": "s",
    "jvm.classes_loaded": "count", "gc.s": "s",
    "stream.batches": "count", "stream.batch_ms.p50": "ms", "stream.batch_ms.tail": "ms",
    "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s", "proc.pyworker_cpu_s": "s",
    "io.write_mb": "MB", "mem.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}
MB = 1 << 20


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def process_start() -> float:
    """This process's start on the ``time.perf_counter`` clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


# --- set-up ---------------------------------------------------------------


def prepare_inputs(seed: int, names: list[str]) -> float:
    """Generate the seed's tables and oracle results in a child process."""
    t = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "gate.py"), str(seed), *names],
                   cwd=ROOT, check=True, stdout=sys.stderr)
    return time.perf_counter() - t


def isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the lines write inside ``run_dir``."""
    tmp, local, warehouse = (os.path.join(run_dir, d) for d in ("tmp", "local", "warehouse"))
    for d in (tmp, local, warehouse):
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=f"--conf spark.sql.warehouse.dir={warehouse} pyspark-shell",
        # every JVM, spark-submit's launcher too; no hsperfdata files in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)


def environment(spark, seed: int) -> dict:
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True).stdout.strip() or None
    except OSError:
        head = None
    src = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    src.update(fh.read())
    return {
        "nproc": cores(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark.sql.codegen.cache.maxEntries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "git_head": head,
        "source_sha256": src.hexdigest(),
        "seed": seed,
    }


def shutdown(spark) -> None:
    """Stop the session, the JVM and Spark's Python workers, and wait for all."""
    from layers import descendants

    gateway = spark.sparkContext._gateway
    children = [p for p in descendants(os.getpid()) if p != os.getpid()]
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        gateway.proc.terminate()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for p in children:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
            while time.monotonic() < deadline and any(_alive(p) for p in children):
                time.sleep(0.05)
            if not any(_alive(p) for p in children):
                return


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# --- passes ---------------------------------------------------------------


class Client:
    """The closed-loop client: one session, one line at a time."""

    def __init__(self, spark, names: list[str], sf_dir: str):
        from projet_etl_a_rien_spark.queries import REGISTRY

        self.spark, self.names, self.sf_dir = spark, names, sf_dir
        self.registry = REGISTRY
        self.attempted = self.failed_runs = 0
        self.failed: dict[str, str] = {}

    def _line(self, name: str, body) -> None:
        self.attempted += 1
        try:
            err = body(self.registry[name])
        except Exception as e:  # a line that raises counts as failed
            log(traceback.format_exc())
            err = f"{type(e).__name__}: {str(e)[:300]}"
        if err is not None:
            self.failed_runs += 1
            self.failed.setdefault(name, err)
            log(f"FAILED {name}: {err}")

    def run_pass(self) -> tuple[float, dict[str, float]]:
        """One untraced pass: its wall time and each line's."""
        t, lines = time.perf_counter(), {}
        for name in self.names:
            a = time.perf_counter()
            self._line(name, lambda q: q.fn(self.spark, self.sf_dir).write
                       .format("noop").mode("overwrite").save())
            lines[name] = time.perf_counter() - a
        return time.perf_counter() - t, lines

    def checked_pass(self, seed: int) -> float:
        import gate

        def body(q, name):
            actual = q.fn(self.spark, self.sf_dir).toPandas()
            return gate.check(actual, gate.load_expected(seed, name, q.oracle))

        t = time.perf_counter()
        for name in self.names:
            self._line(name, lambda q: body(q, name))
        return time.perf_counter() - t

    def traced_pass(self, jvm_pid: int, recorder) -> tuple:
        """One pass with spans pass -> line -> {build, plan, exec} -> job."""
        import layers

        spark = self.spark
        jvm0, proc0 = layers.jvm_counters(spark), layers.sample_proc(os.getpid(), jvm_pid)
        batches0 = len(recorder.progress)
        root = layers.Span("pass", time.time(), 0.0)
        rows = {}
        for name in self.names:
            marks, ids, out = [], [], {}

            def mark():
                marks.append(time.time())
                ids.append(layers.next_job_id(spark))

            def body(q):
                mark()
                df = q.fn(spark, self.sf_dir)
                mark()
                out["plan_s"] = layers.plan_seconds(df)
                mark()
                df.write.format("noop").mode("overwrite").save()
                mark()

            self._line(name, body)
            if len(marks) < 4:
                continue  # failed; counted by _line
            line = layers.Span(name, marks[0], marks[3])
            for i, phase in enumerate(("build", "plan", "exec")):
                jobs = layers.jobs_between(spark, ids[i], ids[i + 1])
                span = layers.Span(phase, marks[i], marks[i + 1], layers.job_spans(jobs))
                span.attrs = {
                    "jobs": len(jobs),
                    "stages": sum(j.stages for j in jobs),
                    "tasks": sum(j.tasks for j in jobs),
                    "task_s": sum(j.task_s for j in jobs),
                    "shuffle_read_mb": sum(j.shuffle_read for j in jobs) / MB,
                    "shuffle_write_mb": sum(j.shuffle_write for j in jobs) / MB,
                    "spill_mb": sum(j.spill for j in jobs) / MB,
                }
                line.children.append(span)
            line.attrs = {"plan_phases_s": out["plan_s"]}
            root.children.append(line)
            rows[name] = _line_row(line)
        root.end = time.time()
        jvm1, proc1 = layers.jvm_counters(spark), layers.sample_proc(os.getpid(), jvm_pid)
        layer = _pass_layers(rows)
        layer.update({k: jvm1[k] - jvm0[k] for k in jvm0})
        layer.update({
            "proc.driver_cpu_s": proc1.driver_cpu - proc0.driver_cpu,
            "proc.jvm_cpu_s": proc1.jvm_cpu - proc0.jvm_cpu,
            "proc.pyworker_cpu_s": proc1.worker_cpu - proc0.worker_cpu,
            "io.write_mb": (proc1.write_bytes - proc0.write_bytes) / MB,
            "stream.batches": len(recorder.progress) - batches0,
        })
        return root, rows, layer


def _line_row(line) -> dict:
    build, plan, exe = line.children
    return {
        "wall_s": line.duration,
        "build.s": build.duration,
        "build.jobs": build.attrs["jobs"],
        "plan.s": line.attrs["plan_phases_s"],
        "plan.wall_s": plan.duration,
        "exec.s": exe.duration,
        **{f"build.{k}": v for k, v in build.attrs.items() if k != "jobs"},
        **{f"exec.{k}": v for k, v in exe.attrs.items()},
    }


def _pass_layers(rows: dict) -> dict:
    total = lambda k: sum(r[k] for r in rows.values())  # noqa: E731
    wall, exec_s, task_s = total("wall_s"), total("exec.s"), total("exec.task_s")
    return {
        "build.s": total("build.s"),
        "build.jobs": total("build.jobs"),
        "build.share": total("build.s") / wall if wall else 0.0,
        "plan.s": total("plan.s"),
        "exec.s": exec_s,
        "exec.jobs": total("exec.jobs"),
        "exec.stages": total("exec.stages"),
        "exec.tasks": total("exec.tasks"),
        "exec.task_s": task_s,
        "exec.util": task_s / (exec_s * cores()) if exec_s else 0.0,
        "exec.shuffle_read_mb": total("exec.shuffle_read_mb"),
        "exec.shuffle_write_mb": total("exec.shuffle_write_mb"),
        "exec.spill_mb": total("exec.spill_mb"),
    }


def tail_percentile(samples: list[float]) -> tuple[str, float]:
    """The highest of p50/p90/p99/p99.9 with at least ten samples beyond it."""
    xs = sorted(samples)
    if not xs:
        return "none", 0.0
    best = 50.0
    for p, beyond_per_mille in ((90.0, 100), (99.0, 10), (99.9, 1)):
        if len(xs) * beyond_per_mille >= 10 * 1000:
            best = p
    return f"p{best:g}", _percentile(xs, best)


def _percentile(xs: list[float], p: float) -> float:
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


# --- main -----------------------------------------------------------------


def measure(args, names: list[str], t_start: float, prep_s: float) -> tuple[dict, dict, "Client"]:
    """Set up, run the passes, and return (metrics, detail, client)."""
    sys.path[:0] = [ROOT, HERE]
    import layers
    from projet_etl_a_rien_spark.queries import _load_extensions
    from projet_etl_a_rien_spark.session import get_spark

    _load_extensions()
    steal0 = layers.steal_seconds()
    t = time.perf_counter()
    spark = get_spark("graftbench")
    session_s = time.perf_counter() - t
    try:
        import gate

        jvm_pid = spark.sparkContext._gateway.proc.pid
        client = Client(spark, names, gate.seed_dir(args.seed))
        cold_s, cold_lines = client.run_pass()
        # the checked pass is the only warm-up between the cold and the measured passes
        checked_s = client.checked_pass(args.seed)
        recorder = None
        if args.trace:
            from projet_etl_a_rien_spark.observability import BatchProgressRecorder

            recorder = BatchProgressRecorder().attach(spark)
        setup_s = time.perf_counter() - t_start - prep_s
        walls, cpus, line_walls, traced = [], [], [], []
        passes = measured_passes(args.workload, args.seconds)
        # a traced run alternates untraced and traced passes
        for _ in range((passes + 1) // 2 if args.trace else passes):
            p0 = layers.sample_proc(os.getpid(), jvm_pid)
            wall, lines = client.run_pass()
            cpus.append(layers.sample_proc(os.getpid(), jvm_pid).cpu - p0.cpu)
            walls.append(wall)
            line_walls.append(lines)
            if args.trace:
                traced.append(client.traced_pass(jvm_pid, recorder))
        env = environment(spark, args.seed)
        env["steal_s"] = layers.steal_seconds() - steal0
        peak_rss = layers.sample_proc(os.getpid(), jvm_pid).peak_rss_kb / 1024
    finally:
        shutdown(spark)

    detail = {
        "workload": args.workload,
        "order": names,
        "env": env,
        "prepare_s": prep_s,
        "session_s": session_s,
        "cold_s": cold_s,
        "checked_pass_s": checked_s,
        "pass_walls_s": walls,
        "pass_cpu_s": cpus,
        "cold_line_s": cold_lines,
        "pass_line_s": line_walls,
        "failed": client.failed,
    }
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "cold_s": cold_s,
            "wall_s": statistics.median(walls),
            "cpu_s": statistics.median(cpus),
        }
        return metrics, detail, client

    layer_rows = [layer for _, _, layer in traced]
    metrics = {k: statistics.median(r[k] for r in layer_rows) for k in layer_rows[0]}
    batch_ms = [p["duration_ms"] for p in recorder.progress if p["duration_ms"] is not None]
    tail_name, tail = tail_percentile(batch_ms)
    traced_walls = [root.duration for root, _, _ in traced]
    metrics.update({
        "session.start_s": session_s,
        "stream.batch_ms.p50": _percentile(sorted(batch_ms), 50) if batch_ms else 0.0,
        "stream.batch_ms.tail": tail,
        "mem.peak_rss_mb": peak_rss,
        "trace.overhead_frac": statistics.median(traced_walls) / statistics.median(walls) - 1,
    })
    detail.update({
        "stream.batch_ms.tail_percentile": tail_name,
        "stream.batch_ms.samples": len(batch_ms),
        "traced_pass_walls_s": traced_walls,
        "per_line": [rows for _, rows, _ in traced],
        "spans": [root.to_dict() for root, _, _ in traced],
    })
    return metrics, detail, client


def main(argv=None) -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, PACKAGE, "queries.py")):
        log(f"{PACKAGE}/ is not under {ROOT}: run from the repository root")
        return 2
    names = list(WORKLOADS[args.workload])
    random.Random(args.seed).shuffle(names)
    prep_s = prepare_inputs(args.seed, names)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    isolate(run_dir)
    try:
        metrics, detail, client = measure(args, names, t_start, prep_s)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump({"metrics": metrics, **detail}, f, indent=1, default=str)
    log(json.dumps({"env": detail["env"], "detail": out}))
    print(json.dumps({
        "correct": not client.failed,
        "attempted": client.attempted,
        "failed": client.failed_runs,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
