"""Outside-in probes of the engine's layers, and the spans they fill.

Everything here reads state the engine already keeps: ``/proc`` for the
process tree (driver, JVM, Python workers), the JVM's JMX MXBeans and Spark's
``CodegenMetrics``/``CodeGenerator`` counters for the ``jvm`` layer, and the
``AppStatusStore`` behind ``sc.statusStore()`` for jobs and stages. Nothing
here needs the Spark UI or its REST API.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

TICK = os.sysconf("SC_CLK_TCK")


# --- /proc --------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def cpu_seconds(pid: int) -> float:
    """User+system CPU of ``pid`` plus that of its reaped children."""
    st = _stat(pid)
    if st is None:
        return 0.0
    return sum(int(v) for v in st[11:15]) / TICK


def _io_write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass
class ProcSample:
    driver_cpu: float
    jvm_cpu: float
    worker_cpu: float
    write_bytes: int
    peak_rss_kb: int

    @property
    def cpu(self) -> float:
        return self.driver_cpu + self.jvm_cpu + self.worker_cpu


def sample_proc(driver: int, jvm: int) -> ProcSample:
    """CPU, written bytes and peak RSS of the driver's process tree, split
    into the driver, the JVM and everything below the JVM (Spark's Python
    worker daemon and its forked workers, which the daemon reaps)."""
    tree = descendants(driver)
    workers = [p for p in descendants(jvm) if p != jvm]
    return ProcSample(
        driver_cpu=cpu_seconds(driver),
        jvm_cpu=cpu_seconds(jvm),
        worker_cpu=sum(cpu_seconds(p) for p in workers),
        write_bytes=sum(_io_write_bytes(p) for p in tree),
        peak_rss_kb=sum(_peak_rss_kb(p) for p in tree),
    )


def steal_seconds() -> float:
    """Hypervisor steal time summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


# --- JVM ----------------------------------------------------------------


def jvm_counters(spark) -> dict[str, float]:
    """Monotonic JVM-wide counters; a layer's figure is the difference."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    return {
        "codegen.compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount(),
        "codegen.compile_s": jvm.org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime() / 1e9,
        "jit.compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "jvm.classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "gc.s": sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()) / 1e3,
    }


# --- Spark status store ---------------------------------------------------


def next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


def jobs_between(spark, first: int, stop: int) -> list[Job]:
    """Jobs ``first <= id < stop`` with their non-skipped stages' metrics,
    after the listener bus has delivered every event to the status store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs = []
    for jid in range(first, stop):
        try:
            jd = store.job(jid)
        except Py4JJavaError:
            continue  # evicted from the store, or never registered
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isEmpty():
            continue
        start = sub.get().getTime() / 1e3
        job = Job(jid, start, done.get().getTime() / 1e3 if not done.isEmpty() else start)
        ids = jd.stageIds()
        for i in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(i))
            except Py4JJavaError:
                continue  # evicted from the store
            if st.status().toString() == "SKIPPED":
                continue
            job.stages += 1
            job.tasks += st.numCompleteTasks()
            job.task_s += st.executorRunTime() / 1e3
            job.shuffle_read += st.shuffleReadBytes()
            job.shuffle_write += st.shuffleWriteBytes()
            job.spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        jobs.append(job)
    return jobs


def plan_seconds(df) -> float:
    """Plan the returned DataFrame and sum its Catalyst phase times
    (analysis, optimization, planning) from ``QueryPlanningTracker``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3


# --- spans ----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    children: list["Span"] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, edge = 0.0, self.start
        for c in sorted(self.children, key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, self.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return self.duration - covered

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "self_s": self.self_time(),
            **({"attrs": self.attrs} if self.attrs else {}),
            **({"children": [c.to_dict() for c in self.children]} if self.children else {}),
        }


def job_spans(jobs: list[Job]) -> list[Span]:
    return [
        Span(f"job {j.job_id}", j.start, j.end,
             attrs={"stages": j.stages, "tasks": j.tasks, "task_s": j.task_s})
        for j in jobs
    ]
