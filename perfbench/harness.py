"""Measurement plumbing shared by the workloads: the Spark session sized
to the machine, a process-tree CPU/RSS sampler, an in-memory span
tracer, readers for Spark's own stage and SQL-operator metrics, and the
DuckDB digest used to check outputs.

Every file the run reads or writes lives under the work directory
inside the checkout: Spark's local and temp dirs, the checkpoint dir,
outputs, DuckDB spill and the span dump.
"""
from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """A quarter of physical memory, at most 2 GiB: the workloads are
    sized to need well under that, and the machine is shared."""
    phys = PAGE * os.sysconf("SC_PHYS_PAGES") // 2**20
    return min(2048, phys // 4)


# --------------------------------------------------------------------------
# Spark session

class Session:
    """One Spark JVM and session for the whole run; the first `start()`
    launches the JVM, a later one returns the same session."""

    def __init__(self, root: str, work: str):
        self.root, self.work = root, work
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        # inherited by the launcher JVM, the Spark JVM and the Python
        # workers it forks: keep temp files and the package path local
        os.environ["TMPDIR"] = self.tmp
        # SPARK_LOCAL_DIRS, when set, would override spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p)
        n, mem = nproc(), heap_mb()
        self.conf = {
            "spark.master": f"local[{n}]",
            "spark.app.name": "perfbench",
            "spark.driver.memory": f"{mem}m",
            "spark.sql.shuffle.partitions": str(n),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.session.timeZone": "UTC",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a heap fixed at its maximum from the start: no heap-resizing
            # phase in the warm-up, and less run-to-run spread
            "spark.driver.extraJavaOptions":
                f"-Xms{mem}m -XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
        }
        self.spark = None

    def start(self):
        from pyspark.sql import SparkSession
        b = SparkSession.builder
        for k, v in self.conf.items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setCheckpointDir(os.path.join(self.work, "ckpt"))
        return self.spark

    def versions(self) -> dict:
        import duckdb
        import pandas
        import pyarrow
        import pyspark
        return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                "pandas": pandas.__version__, "duckdb": duckdb.__version__}

    def shutdown(self, sampler: "ProcSampler") -> None:
        """Stop Spark, end the Spark JVM (it exits when its stdin
        closes) and wait for every descendant process to be gone."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            with contextlib.suppress(Exception):
                gw.shutdown()
            if proc is not None:
                with contextlib.suppress(OSError):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = SparkContext._jvm = None
        sampler.wait_descendants_gone(timeout=30)


# --------------------------------------------------------------------------
# process-tree CPU / RSS

def _proc_table() -> dict:
    """pid -> (ppid, starttime, cpu_ticks, rss_pages, comm) for every
    process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read()
        except OSError:
            continue
        close = s.rfind(b")")
        rest = s[close + 2:].split()
        out[int(d)] = (int(rest[1]), int(rest[19]),
                       int(rest[11]) + int(rest[12]), int(rest[21]),
                       s[s.find(b"(") + 1:close])
    return out


class ProcSampler:
    """Polls every descendant of this process (the Spark JVM and the
    Python workers it forks) and keeps each process's LAST seen CPU
    counter, so a worker that exits keeps the CPU it used: CPU over a
    window is monotonic. RSS is summed over live descendants; the peak
    is kept while `recording` is set, counting only the JVM (`java`)
    and the PySpark daemon and workers (`python*`). The JVM forks to run
    shell commands; until it execs, such a child is named after the
    forking thread and its resident pages are the JVM's, shared
    copy-on-write. Counted, it doubled the JVM's 1.9 GB in some jobs."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.me = os.getpid()
        self.last_cpu: dict = {}   # (pid, starttime) -> ticks
        self.peak_rss = 0
        self.recording = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _descendants(self, table: dict) -> set:
        kids: dict = {}
        for pid, row in table.items():
            kids.setdefault(row[0], []).append(pid)
        out, todo = set(), [self.me]
        while todo:
            for c in kids.get(todo.pop(), ()):
                out.add(c)
                todo.append(c)
        return out

    def sample(self) -> None:
        table = _proc_table()
        desc = self._descendants(table)
        with self._lock:
            rss = 0
            for pid in desc:
                _, start, ticks, pages, comm = table[pid]
                self.last_cpu[(pid, start)] = ticks
                if comm == b"java" or comm.startswith(b"python"):
                    rss += pages
            if self.recording:
                self.peak_rss = max(self.peak_rss, rss * PAGE)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def cpu_s(self) -> float:
        self.sample()
        with self._lock:
            return sum(self.last_cpu.values()) / CLK_TCK

    @contextlib.contextmanager
    def peak(self):
        """Peak RSS (bytes) of the descendants while the block runs."""
        self.sample()
        with self._lock:
            self.peak_rss, self.recording = 0, True
        box = {}
        try:
            yield box
        finally:
            self.sample()
            with self._lock:
                self.recording = False
                box["rss"] = self.peak_rss

    def wait_descendants_gone(self, timeout: float) -> None:
        """Wait until every process ever seen below this one has ended
        (an orphaned Python worker is no longer a descendant, so track
        them by (pid, start time)); kill what outlives the timeout."""
        self.sample()
        with self._lock:
            seen = set(self.last_cpu)

        def alive():
            table = _proc_table()
            return [pid for pid, start in seen
                    if pid in table and table[pid][1] == start]

        deadline = time.time() + timeout
        while alive() and time.time() < deadline:
            time.sleep(0.1)
        for pid in alive():
            with contextlib.suppress(OSError):
                os.kill(pid, 9)


# --------------------------------------------------------------------------
# spans

class Tracer:
    """Spans kept in memory (name, start, end, parent) and written out
    once when the run ends. Disabled, `span()` records nothing, so the
    untraced runs execute the same job code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.perf_counter(), None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float | None, **attrs):
        rec = {"id": len(self.spans), "name": name, "start": start,
               "end": end, "parent": self._stack[-1] if self._stack else None,
               **attrs}
        self.spans.append(rec)
        return rec

    def children(self, sid: int) -> list:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        """Duration minus the part of it that child spans cover
        (children of one span run one after another)."""
        s = self.spans[sid]
        return (s["end"] - s["start"]) - sum(
            c["end"] - c["start"] for c in self.children(sid))

    def named(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        for s in self.spans:
            s["self_s"] = self.self_time(s["id"])
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# --------------------------------------------------------------------------
# Spark status stores (kept with spark.ui.enabled=false)

_SCALE = {"": 1.0, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40}


def sql_metric_value(text: str) -> float | None:
    """SQL metrics come back formatted: '100,000', '12 ms', '4.2 MiB' or
    'total (min, med, max ...)\\n15.1 s (3.6 s, ...)'. Returns the total
    in seconds, bytes or rows; None for a metric without a total (the
    per-task averages)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    num, _, unit = text.split(" (")[0].strip().partition(" ")
    try:
        return float(num.replace(",", "")) * _SCALE[unit]
    except (ValueError, KeyError):
        return None


class SparkWindow:
    """Stages, jobs and SQL executions that ran between construction
    and `close()`."""

    def __init__(self, spark):
        self.spark = spark
        self._stages0 = self._max(self._stage_list(), lambda s: s.stageId())
        self._jobs0 = self._max(self._job_list(), lambda j: j.jobId())
        self._exec0 = self._max(self._exec_list(), lambda e: e.executionId())

    @staticmethod
    def _seq(s) -> list:
        return [s.apply(i) for i in range(s.size())]

    @staticmethod
    def _max(items, key) -> int:
        return max((key(x) for x in items), default=-1)

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _stage_list(self):
        gw = self.spark.sparkContext._gateway
        return self._seq(self._store().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None))

    def _job_list(self):
        return self._seq(self._store().jobsList(None))

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _exec_list(self):
        return self._seq(self._sql().executionsList())

    def close(self) -> "SparkWindow":
        self.stages = [s for s in self._stage_list()
                       if s.stageId() > self._stages0
                       and s.status().toString() == "COMPLETE"]
        self.jobs = [j for j in self._job_list() if j.jobId() > self._jobs0]
        sql = self._sql()
        self.execs = []
        for e in self._exec_list():
            eid = e.executionId()
            if eid <= self._exec0 or e.completionTime().isEmpty():
                continue
            values = sql.executionMetrics(eid)
            nodes = []
            for nd in self._seq(sql.planGraph(eid).allNodes()):
                m = {}
                for mm in self._seq(nd.metrics()):
                    v = values.get(mm.accumulatorId())
                    value = sql_metric_value(v.get()) \
                        if v.isDefined() else None
                    if value is not None:
                        m[mm.name()] = value
                nodes.append((nd.id(), nd.name(), m))
            edges = [(ed.fromId(), ed.toId())
                     for ed in self._seq(sql.planGraph(eid).edges())]
            self.execs.append({
                "id": eid,
                "exchanges": sum(1 for _, name, _ in nodes
                                 if name.startswith("Exchange")),
                "duration_s": (e.completionTime().get().getTime()
                               - e.submissionTime()) / 1000.0,
                "nodes": nodes, "edges": edges})
        return self

    # -- SQL-operator views
    def exec_seconds(self, pred) -> float:
        return sum(e["duration_s"] for e in self.execs if pred(e))

    def node_metric(self, node_prefix: str, metric: str) -> float:
        return sum(m.get(metric, 0.0) for e in self.execs
                   for _, name, m in e["nodes"] if name.startswith(node_prefix))

    def input_rows(self, node_prefix: str) -> float:
        """Rows flowing into each `node_prefix` operator: the output
        rows of the nearest descendant that counts them."""
        total = 0.0
        for e in self.execs:
            by_id = {i: (name, m) for i, name, m in e["nodes"]}
            child = {}
            for frm, to in e["edges"]:
                child.setdefault(to, frm)
            for i, (name, _) in by_id.items():
                if not name.startswith(node_prefix):
                    continue
                c = child.get(i)
                while c is not None and \
                        "number of output rows" not in by_id[c][1]:
                    c = child.get(c)
                if c is not None:
                    total += by_id[c][1]["number of output rows"]
        return total

    # -- stage views
    def stage_totals(self) -> dict:
        st = self.stages
        dominant = max(st, key=lambda s: s.executorRunTime(), default=None)
        skew = 1.0
        if dominant is not None:
            gw = self.spark.sparkContext._gateway
            q = gw.new_array(gw.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            dist = self._store().taskSummary(
                dominant.stageId(), dominant.attemptId(), q)
            if dist.isDefined():
                rt = dist.get().executorRunTime()
                skew = rt.apply(1) / max(rt.apply(0), 1.0)
        return {
            "executor_cpu_s": sum(s.executorCpuTime() for s in st) / 1e9,
            "gc_s": sum(s.jvmGcTime() for s in st) / 1e3,
            "shuffle_write_bytes": float(sum(s.shuffleWriteBytes()
                                             for s in st)),
            "spill_bytes": float(sum(s.memoryBytesSpilled()
                                     + s.diskBytesSpilled() for s in st)),
            "task_skew": skew,
            "stages": float(len(st)),
        }


def is_write(e: dict) -> bool:
    return any(name.startswith("Execute InsertIntoHadoopFsRelation")
               for _, name, _ in e["nodes"])


# --------------------------------------------------------------------------
# DuckDB output digests

TRIPLE_HASH = ("hash(subj, pred, obj_value, obj_termtype, obj_datatype, "
               "obj_language, graph)")


def duck(work: str):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {nproc()}")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
    return con


def triple_digest(con, relation: str) -> tuple:
    """(rows, distinct rows, order-independent checksum) of a triple
    relation: equal digests mean the same triple set, no duplicates."""
    return tuple(con.execute(
        f"SELECT count(*), count(DISTINCT {TRIPLE_HASH}), "
        f"coalesce(sum({TRIPLE_HASH} % 1000000007), 0) "
        f"FROM {relation}").fetchone())


def parquet_relation(files: list) -> str:
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def part_files(path: str) -> list:
    out = []
    for d, _, names in os.walk(path):
        out += [os.path.join(d, n) for n in names
                if n.startswith("part-") and n.endswith(".parquet")]
    return sorted(out)


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
