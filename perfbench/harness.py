"""Run scaffolding shared by the workloads: session, housekeeping, ambient
record, process-tree RSS sampler and the traced-run instruments.

Nothing here imports the engine or pyspark at module import time; the
session is started by :class:`Session` after the run directory and
environment are in place.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import shutil
import statistics
import threading
import time
import urllib.request
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def busy_probe_ms() -> float:
    """Fixed single-thread CPU burn (3M-iteration loop), in ms. It slows only
    when something else competes for the CPU, so it marks a noisy machine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    return round((time.perf_counter() - t0) * 1000, 3)


def ambient() -> dict:
    """Machine state beside the metrics (not a metric): load average, the
    CPU-burn canary, and the cumulative /proc/stat CPU ticks (user, nice,
    system, idle, iowait, irq, softirq, steal) whose steal share over a run
    shows a hypervisor taking the CPUs away."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return {"loadavg": list(os.getloadavg()), "canary_ms": busy_probe_ms(), "cpu_ticks": ticks}


def quartiles(xs: list[float]) -> dict:
    if len(xs) < 2:
        return {"n": len(xs), "median": xs[0] if xs else None}
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"n": len(xs), "q1": q1, "median": q2, "q3": q3}


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def process_tree(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (FileNotFoundError, ProcessLookupError):
        return 0


def cpu_seconds(pid: int, reaped: bool = False) -> float:
    """utime + stime of one process (all its threads), from /proc; with
    ``reaped`` also the CPU of its children that have exited and been
    waited for (cutime + cstime)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        ticks = int(fields[11]) + int(fields[12])
        if reaped:
            ticks += int(fields[13]) + int(fields[14])
        return ticks / TICK
    except (FileNotFoundError, ProcessLookupError):
        return 0.0


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process and every descendant (the JVM
    and its Python workers), exited workers included."""
    return sum(cpu_seconds(p, reaped=True) for p in process_tree(os.getpid()))


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


class RssSampler:
    """One thread summing the RSS of this process and all its descendants
    (the JVM and its Python workers) every ``period`` seconds; keeps the
    peak and, for the record, how it split between driver, JVM and the
    Python worker processes.

    A peak must hold over two consecutive samples. The JVM starts short-lived
    child processes through posix_spawn (Hadoop's local file system runs
    ``chmod`` that way on parquet commits), and a child caught before it
    execs shares the JVM's address space, so its RSS counts the JVM twice."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self.peak_parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self, root: int) -> tuple[int, dict]:
        rss = {p: rss_bytes(p) for p in process_tree(root)}
        total = sum(rss.values())
        jvm = sum(b for p, b in rss.items() if p != root and _comm(p) == "java")
        return total, {"driver_mb": rss[root] / 2**20, "jvm_mb": jvm / 2**20,
                       "workers_mb": (total - rss[root] - jvm) / 2**20,
                       "processes": len(rss)}

    def _loop(self) -> None:
        root = os.getpid()
        prev = (0, {})
        while not self._stop.is_set():
            cur = self._sample(root)
            held = min(prev, cur, key=lambda s: s[0])
            if held[0] > self.peak:
                self.peak, self.peak_parts = held
            prev = cur
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


class Session:
    """The engine's own ``get_spark`` session, overriding only master,
    shuffle partitions, driver memory and local dir (plus the UI, in the
    traced run). The master is ``local[cores]``, at most the CPUs this
    process may run on. Every path the run writes lives under ``run_dir``."""

    def __init__(self, run_dir: Path, cores: int, partitions: int, driver_mem: str, ui: bool):
        self.run_dir = run_dir
        shutil.rmtree(run_dir, ignore_errors=True)
        (run_dir / "local").mkdir(parents=True)
        (run_dir / "tmp").mkdir()
        # Python workers import the engine from the checkout; temp files of
        # the launcher and the JVM stay inside the run dir.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
        os.environ["TMPDIR"] = str(run_dir / "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
        )
        from mcp_crawl4ai_rag_spark import get_spark

        self.cores = min(cores, len(os.sched_getaffinity(0)))
        conf = {"spark.driver.memory": driver_mem, "spark.local.dir": str(run_dir / "local")}
        if ui:
            conf["spark.ui.enabled"] = "true"
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=partitions,
            extra_conf=conf,
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm = self.sc._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def effective_conf(self) -> dict:
        keep = ("spark.sql.", "spark.driver.memory", "spark.master", "spark.local.dir",
                "spark.ui.enabled", "spark.default.parallelism")
        return {k: v for k, v in sorted(self.sc.getConf().getAll()) if k.startswith(keep)}

    def housekeeping(self, *frames) -> None:
        """Untimed between ops: drop cached blocks and run both collectors so
        one op's garbage is not billed to the next."""
        for df in frames:
            with contextlib.suppress(Exception):
                df.unpersist()
        self.spark.catalog.clearCache()
        gc.collect()
        self.jvm.System.gc()

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        with contextlib.suppress(Exception):
            gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# Traced-run instruments
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans recorded around calls into the engine's layers. A
    span has a name, start, end, parent and op id; all spans are written
    out when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_ms(self, op: str) -> dict[str, float]:
        """Per span name: summed self time (duration minus the part of it
        covered by child spans) within one op, in ms."""
        spans = [s for s in self.spans if s["op"] == op]
        out: dict[str, float] = {}
        for s in spans:
            kids = sorted((c["start"], c["end"]) for c in spans if c["parent"] == s["id"])
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) * 1000
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class SparkCounters:
    """Per-op Spark/JVM substrate counters for the traced run. Job/stage/task
    counts come from the job group plus the status tracker; shuffle, spill
    and task skew from the status REST API (the traced run turns the UI on);
    GC time from the GC MXBeans; JVM CPU from /proc/<jvm pid>/stat."""

    def __init__(self, sess: Session):
        self.sess = sess
        self.tracker = sess.sc.statusTracker()
        self._n = 0

    def _gc_ms(self) -> float:
        beans = self.sess.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def _worker_cpu(self) -> float:
        return sum(cpu_seconds(p, reaped=True) for p in process_tree(self.sess.jvm_pid)[1:])

    def begin(self) -> dict:
        self._n += 1
        group = f"perfbench-op-{self._n}"
        self.sess.sc.setJobGroup(group, group)
        return {"group": group, "gc": self._gc_ms(), "jvm_cpu": cpu_seconds(self.sess.jvm_pid),
                "py_cpu": sum(os.times()[:2]), "worker_cpu": self._worker_cpu()}

    def end(self, mark: dict) -> dict:
        self.sess.sc.setLocalProperty("spark.jobGroup.id", None)
        out = {
            "jvm.cpu_s": cpu_seconds(self.sess.jvm_pid) - mark["jvm_cpu"],
            "jvm.gc_ms": self._gc_ms() - mark["gc"],
            "driver.py_cpu_s": sum(os.times()[:2]) - mark["py_cpu"],
            "pyworker.cpu_s": self._worker_cpu() - mark["worker_cpu"],
        }
        jobs = list(self.tracker.getJobIdsForGroup(mark["group"]))
        stages = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.extend(info.stageIds)
        tasks = failed = 0
        for s in stages:
            st = self.tracker.getStageInfo(s)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
        out.update({"spark.jobs": len(jobs), "spark.stages": len(stages),
                    "spark.tasks": tasks, "spark.failed_tasks": failed})
        out.update(self._stage_io(stages))
        return out

    def _get(self, path: str):
        url = f"{self.sess.sc.uiWebUrl}/api/v1/applications/{self.sess.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=10) as resp:
            return json.load(resp)

    def _stage_io(self, stage_ids: list[int]) -> dict:
        w = r = spill = 0
        heaviest, heavy_run = None, -1
        for sid in stage_ids:
            for att in self._get(f"stages/{sid}"):
                w += att.get("shuffleWriteBytes", 0)
                r += att.get("shuffleReadBytes", 0)
                spill += att.get("memoryBytesSpilled", 0) + att.get("diskBytesSpilled", 0)
                if att.get("executorRunTime", 0) > heavy_run:
                    heavy_run, heaviest = att["executorRunTime"], (sid, att["attemptId"])
        skew = 1.0
        if heaviest is not None:
            q = self._get(f"stages/{heaviest[0]}/{heaviest[1]}/taskSummary?quantiles=0.5,1.0")
            med, mx = q["duration"]
            skew = mx / med if med > 0 else 1.0
        return {"spark.shuffle_write_mb": w / 2**20, "spark.shuffle_read_mb": r / 2**20,
                "spark.spill_mb": spill / 2**20, "spark.task_skew": skew}

    def scan_rows(self, mark: dict) -> int | None:
        """Rows output by parquet scans in the op's SQL executions (REST)."""
        jobs = set(self.tracker.getJobIdsForGroup(mark["group"]))
        total, found = 0, False
        for ex in self._get("sql?details=true&planDescription=false&length=200"):
            ex_jobs = set(ex.get("successJobIds", []) + ex.get("runningJobIds", [])
                          + ex.get("failedJobIds", []))
            if not ex_jobs & jobs:
                continue
            for node in ex.get("nodes", []):
                if node.get("nodeName", "").startswith("Scan parquet"):
                    for m in node.get("metrics", []):
                        if m.get("name") == "number of output rows":
                            total += int(str(m["value"]).replace(",", ""))
                            found = True
        return total if found else None


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())
