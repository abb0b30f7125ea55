"""Probes that watch the engine from outside: spans, process-tree RSS,
hypervisor CPU steal, and Spark's own status stores (read after a run)."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of this VM's CPU time the hypervisor gave to other tenants."""
    dt = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / dt if dt > 0 else 0.0


class Tracer:
    """Spans (id, name, start, end, parent, run) kept in memory and written
    out once, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []
        #: epoch seconds minus perf_counter seconds, to place spans whose
        #: times come from Spark's status store on the same clock
        self.epoch_offset = time.time() - time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> dict:
        if parent is None and self._open:
            parent = self._open[-1]
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str):
        rec = self.add(name, time.perf_counter(), None)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part of
        its interval covered by its children."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], ())):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def flush(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss bytes) for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm", "rb") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue  # the process exited while being read
        out[int(d)] = (int(stat[stat.rindex(b")") + 2:].split()[1]), rss)
    return out


def _is_pyspark_daemon(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class ProcTree:
    """Background sampler of the summed RSS of this process, its children
    (the driver JVM), the PySpark daemons the JVM starts and their forked
    Python workers. Other descendants are short-lived forks (shell helpers,
    a JVM child between fork and exec) whose RSS would count the JVM's
    pages twice, so they are skipped."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._kind: dict[int, str] = {}
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.peak_total = 0
            self.peak_workers = 0
            self.peak_worker_rss = 0

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _classify(self, pid: int, parent: int) -> str:
        if pid == os.getpid():
            return "self"
        up = self._kind.get(parent)
        if up == "self":
            return "main"
        if up == "main" and _is_pyspark_daemon(pid):
            return "daemon"
        return "worker" if up == "daemon" else "other"

    def sample(self) -> None:
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        # depth-first from this process: parents are classified first
        todo = [os.getpid()]
        rss = {"self": 0, "main": 0, "daemon": 0, "worker": 0, "other": 0}
        workers = 0
        while todo:
            pid = todo.pop()
            if pid not in table:
                continue
            kind = self._kind.get(pid)
            if kind is None:
                kind = self._classify(pid, table[pid][0])
                # between fork and exec a child of the JVM still carries the
                # JVM's command line: classify it again until it is a daemon
                if kind != "other" or self._kind.get(table[pid][0]) != "main":
                    self._kind[pid] = kind
            rss[kind] += table[pid][1]
            workers += kind == "worker"
            todo.extend(kids.get(pid, ()))
        with self._lock:
            self.peak_total = max(self.peak_total, sum(rss.values()) - rss["other"])
            self.peak_workers = max(self.peak_workers, workers)
            self.peak_worker_rss = max(self.peak_worker_rss, rss["daemon"] + rss["worker"])

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()


def _seq(s) -> list:
    """A Scala Seq from the JVM as a Python list."""
    return [s.apply(i) for i in range(s.length())]


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Total of one SQL metric as the SQL status store formats it:
    ``'179,035'``, ``'6.3 s'`` or ``'total (min, med, max ...)\\n10.3 MiB
    (2.6 MiB, ...)'``. Sizes and times carry 2-3 significant digits."""
    head = text.strip().splitlines()[-1].split(" (")[0].strip()
    num, _, unit = head.partition(" ")
    num = float(num.replace(",", ""))
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkCounters:
    """Reads jobs, stages, tasks and SQL executions recorded by Spark's
    status stores after a run; ``mark()`` before the run, ``read()`` after."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self.app = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def _settle(self) -> None:
        """Wait until the listener bus has delivered every event so far:
        the status stores are filled asynchronously."""
        self._bus.waitUntilEmpty(60_000)

    def _jobs(self) -> list:
        return _seq(self.app.jobsList(None))

    def _stages(self) -> list:
        return _seq(self.app.stageList(None, False, False, self._no_quantiles, None))

    def _executions(self) -> list:
        return _seq(self.sql.executionsList())

    def mark(self) -> tuple[int, int, int]:
        self._settle()
        return (
            max((j.jobId() for j in self._jobs()), default=-1),
            max((s.stageId() for s in self._stages()), default=-1),
            max((e.executionId() for e in self._executions()), default=-1),
        )

    def executions(self, mark) -> list[dict]:
        """SQL executions after ``mark``: epoch start/end seconds, plan text
        and every plan node's metrics as (node, metric) -> total."""
        self._settle()
        deadline = time.monotonic() + 30
        while True:
            new = [e for e in self._executions() if e.executionId() > mark[2]]
            # an execution's end is recorded a little after its last job's
            if all(e.completionTime().isDefined() for e in new) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        out = []
        for e in new:
            if not e.completionTime().isDefined():
                continue
            values = self.sql.executionMetrics(e.executionId())
            metrics: dict[tuple[str, str], float] = {}
            for node in _seq(self.sql.planGraph(e.executionId()).allNodes()):
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        key = (node.name().strip(), m.name())
                        metrics[key] = metrics.get(key, 0.0) + parse_sql_metric(v.get())
            out.append({
                "start": e.submissionTime() / 1000.0,
                "end": e.completionTime().get().getTime() / 1000.0,
                "plan": e.physicalPlanDescription(),
                "metrics": metrics,
            })
        return out

    def read(self, mark, wall_s: float, cores: int) -> dict:
        """The ``spark.*`` and ``arrow.*`` per-layer metrics of the jobs
        run after ``mark`` within ``wall_s`` seconds on ``cores`` cores."""
        self._settle()
        jobs = [j for j in self._jobs() if j.jobId() > mark[0]]
        stages = [s for s in self._stages()
                  if s.stageId() > mark[1] and str(s.status()) == "COMPLETE"]
        durations = []
        for s in stages:
            for t in _seq(self.app.taskList(s.stageId(), s.attemptId(), 2**31 - 1)):
                if t.duration().isDefined():
                    durations.append(t.duration().get() / 1000.0)
        durations.sort()
        run_s = sum(s.executorRunTime() for s in stages) / 1000.0
        arrow: dict[str, float] = {}
        for e in self.executions(mark):
            for (_, name), v in e["metrics"].items():
                arrow[name] = arrow.get(name, 0.0) + v
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(durations),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "spark.gc_s": sum(s.jvmGcTime() for s in stages) / 1000.0,
            "spark.task_p50_s": statistics.median(durations) if durations else 0.0,
            "spark.task_p99_s": durations[min(len(durations) - 1, int(0.99 * len(durations)))]
            if durations else 0.0,
            "spark.idle_frac": 1.0 - run_s / (wall_s * cores),
            "spark.shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "arrow.to_python_bytes": arrow.get("data sent to Python workers", 0.0),
            "arrow.from_python_bytes": arrow.get("data returned from Python workers", 0.0),
            "arrow.python_run_s": arrow.get("time to run Python workers", 0.0),
            "arrow.worker_init_s": arrow.get("time to initialize Python workers", 0.0),
        }
