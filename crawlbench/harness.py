"""Shared machinery of the crawl-engine benchmark: environment pinning,
Spark session start and shutdown, RSS sampling, tracing spans, and the
result line.

Every path the benchmark touches lives under ``<checkout>/.crawlbench``
(catalogs, body stores, Spark spill, JVM temp files, trace output), so a
run reads and writes only inside the checkout it was started from.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

WORK_DIRNAME = ".crawlbench"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Driver heap that fits the machine: 2 GiB, or a quarter of physical
    memory when that is less (``build_spark`` defaults to 48 GiB, more
    than a small box has)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(256, min(2048, total_kb // (4 << 10)))}m"


def median(xs) -> float:
    return float(statistics.median(xs))


# -- process tree ------------------------------------------------------------


def _parents() -> dict[int, int]:
    """pid -> ppid for every visible process."""
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: ppid is the 2nd field after ')'
        parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parents


def descendants(pid: int, parents: dict[int, int] | None = None) -> list[int]:
    parents = parents if parents is not None else _parents()
    kids: dict[int, list[int]] = {}
    for p, ppid in parents.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _jvm_spawning(pid: int, ppid: int) -> bool:
    """A child the JVM is spawning (a Hadoop shell command, the Python
    daemon) shares the JVM's memory until it execs, so its RSS reads as
    the JVM's: counting it would count the JVM twice."""
    exe = _exe(pid)
    return exe.endswith("/java") and exe == _exe(ppid)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of every descendant of this process — the driver
    JVM and the Python workers it forks — sampled every ``period`` s."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parents = _parents()
            total = sum(
                _rss_bytes(p) for p in descendants(me, parents)
                if not _jvm_spawning(p, parents[p])
            )
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        self._thread.join()
        return self.peak / (1 << 20)


# -- tracing -------------------------------------------------------------------


class Tracer:
    """In-memory spans around the public calls the benchmark makes.

    Each span records name, start, end, parent and run id, and runs
    under its own Spark job group, so the jobs and tasks Spark starts
    inside it are attributed to it. Disabled, :meth:`span` is a no-op
    context and :meth:`wrap` leaves objects untouched."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            **attrs,
        }
        rec["group"] = f"{self.run_id}-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            rec["jobs"], rec["tasks"] = self._job_counts(rec["group"])
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _job_counts(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    def wrap(self, obj, attr: str, name: str) -> None:
        """Route ``obj.attr`` (an instance method or a module function)
        through a span for the rest of the process."""
        if not self.enabled:
            return
        orig = getattr(obj, attr)

        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(obj, attr, traced)

    # -- aggregation -------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, span: dict, child_name: str) -> float:
        """Span duration minus the time its direct ``child_name``
        children cover (children of one span never overlap: the driver
        thread runs them in sequence)."""
        covered = sum(
            c["end"] - c["start"]
            for c in self.children(span)
            if c["name"] == child_name and "end" in c
        )
        return span["end"] - span["start"] - covered

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f)


# -- the run -------------------------------------------------------------------


class Run:
    """One benchmark invocation: its work dir, session, tracer, sampler
    and the metrics the workload reports."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, tiny: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tiny = tiny
        self.started = time.perf_counter()
        self.cpus = nproc()
        self.run_id = f"{workload}-s{seed}-{os.getpid()}"
        self.work = os.path.join(root, WORK_DIRNAME, self.run_id)
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.series: dict[str, list] = {}
        self.attempted = 0
        self.failed = 0
        self.setup_times: list[float] = []
        self.spark = None
        self.sc = None
        self.tracer: Tracer | None = None
        self.sampler = RssSampler()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def pin_environment(self) -> None:
        """Point every process this run starts at the checkout: package
        import path for the Python workers, Spark spill and JVM temp
        dirs under the work dir, a heap that fits the machine."""
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("spark-local", "tmp"):
            os.makedirs(self.path(d), exist_ok=True)
        env = os.environ
        # the benchmark's own modules too: closures it ships to workers
        # may reference them
        bench_dir = os.path.dirname(os.path.abspath(__file__))
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, bench_dir, env.get("PYTHONPATH")) if p
        )
        env["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        env["TMPDIR"] = self.path("tmp")
        env["SPARK_DRIVER_MEM"] = driver_mem()
        # every JVM (the launcher too) would otherwise write its perf
        # counters under /tmp
        env["JAVA_TOOL_OPTIONS"] = " ".join(
            o for o in (env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o
        )
        env.setdefault("PYSPARK_PYTHON", sys.executable)

    def start_session(self) -> float:
        from pholcus_spark.session import build_spark

        self.sampler.start()
        t0 = time.perf_counter()
        self.spark = build_spark(
            f"crawlbench-{self.workload}",
            parallelism=self.cpus,
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.local.dir": self.path("spark-local"),
                # a fixed-size heap (initial = max, as production drivers
                # run): peak RSS then reflects what the run keeps, not how
                # far the JVM happened to grow its heap (which spread
                # peak RSS by 15-30% between identical runs)
                "spark.driver.extraJavaOptions":
                    f"-Xms{os.environ['SPARK_DRIVER_MEM']} "
                    f"-Djava.io.tmpdir={self.path('tmp')}",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.path("warehouse"),
            },
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        started = time.perf_counter() - t0
        self.tracer = Tracer(self.sc, self.run_id, self.trace)
        self.layers["session.start_s"] = started
        return started

    def setup(self, fn, reps: int):
        """Run the workload's set-up ``reps`` times (each must rebuild
        its inputs from scratch) and keep the last result; ``setup_s`` is
        session start plus the median repetition."""
        out = None
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            self.setup_times.append(time.perf_counter() - t0)
        return out

    def force(self, df) -> None:
        """Execute a plan completely without collecting it."""
        df.write.mode("overwrite").format("noop").save()

    def heap_mb(self) -> float:
        rt = self.sc._jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / (1 << 20)

    def stop(self) -> None:
        """Stop Spark, the JVM and its Python workers; wait until every
        descendant process has exited."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 60
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in descendants(os.getpid()):
            with contextlib.suppress(OSError):
                os.kill(pid, 9)
        shutil.rmtree(self.work, ignore_errors=True)

    def trace_path(self) -> str:
        return os.path.join(
            self.root, WORK_DIRNAME, "traces",
            f"{self.workload}-seed{self.seed}.json",
        )


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(run: Run, spec: dict) -> dict:
    """The result object: every end-to-end metric (trace off) or every
    per-layer metric (trace on), named and united as BENCHMARK.json
    declares them. A per-layer metric the workload does not exercise
    reads 0; a reported name BENCHMARK.json does not declare is a bug."""
    section = "per_layer" if run.trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in spec[section]}
    values = run.layers if run.trace else run.metrics
    unknown = sorted(set(values) - set(declared))
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json {section}: {unknown}")
    if not run.trace:
        missing = sorted(set(declared) - set(values))
        if missing:
            raise KeyError(f"end-to-end metrics not measured: {missing}")
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in declared.items()
    }
    return {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": metrics,
    }
