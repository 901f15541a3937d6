"""Layer probes read from outside the library: the process tree in
``/proc`` (RSS, CPU split) and Spark's own status stores (jobs, stages,
tasks, SQL operator metrics).

Nothing here runs inside a timed call. The status stores are read
after the calls they describe; the RSS sampler is a daemon thread that
reads ``/proc`` every ``interval`` seconds.
"""

from __future__ import annotations

import json
import os
import re
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


# -- process tree -----------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def process_tree(root: int | None = None) -> dict[str, list[int]]:
    """{'driver': [pid], 'jvm': [...], 'python_workers': [...]}: the
    JVM is the driver's java child, workers are the Python processes
    below it. Other children of the JVM are short-lived helpers (the
    Hadoop file system shells out) that share the JVM's pages until
    they exec, so they are left out."""
    root = root or os.getpid()
    tree = {"driver": [root], "jvm": [], "python_workers": []}
    for c in _children(root):
        if _comm(c) == "java":
            tree["jvm"].append(c)
            stack = _children(c)
            while stack:
                p = stack.pop()
                if _comm(p).startswith("python"):
                    tree["python_workers"].append(p)
                    stack.extend(_children(p))
    return tree


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def cpu_seconds() -> dict[str, float]:
    """CPU seconds used so far by each part of the process tree. Worker
    CPU includes reaped children (cutime/cstime), so workers that came
    and went between two reads are still counted."""
    out = {}
    for part, pids in process_tree().items():
        ticks = 0
        for pid in pids:
            f = _stat(pid)
            if f is None:
                continue
            # fields 14-17 of /proc/pid/stat, counted from 3 after the comm
            ticks += int(f[11]) + int(f[12])
            if part == "python_workers":
                ticks += int(f[13]) + int(f[14])
        out[part] = ticks / TICK
    return out


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * PAGE // 1024


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_mb(tree: dict[str, list[int]]) -> float:
    """Resident memory of the process tree. Python workers are forked
    from one daemon and share most of their pages with it, so they
    count by PSS (shared pages split between the sharers); the driver
    and the JVM share nothing large and count by RSS, which is cheap
    to read for a JVM with a large heap."""
    total_kb = 0
    for part, pids in tree.items():
        read = _pss_kb if part == "python_workers" else _rss_kb
        for pid in pids:
            try:
                total_kb += read(pid)
            except OSError:
                continue
    return total_kb / 1024


def tree_rss_mb() -> float:
    return tree_mb(process_tree())


def process_age_s() -> float:
    """Seconds since this process started (the start of set-up)."""
    f = _stat(os.getpid())
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(f[19]) / TICK


class RssSampler:
    """Peak RSS of the whole process tree, sampled on a daemon thread
    between ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        tree: dict[str, list[int]] = {}
        while not self._stop.is_set():
            if self.samples % 10 == 0:  # the tree walk reads every JVM thread
                tree = process_tree()
            self.peak_mb = max(self.peak_mb, tree_mb(tree))
            self.samples += 1
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak_mb


class JvmHeap:
    """Peak used heap of the JVM since ``reset()``, from its memory-pool
    MXBeans: the sum of each heap pool's peak, so an upper bound when
    the pools peak at different times."""

    def __init__(self, spark) -> None:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]

    def reset(self) -> "JvmHeap":
        for p in self._pools:
            p.resetPeakUsage()
        return self

    def peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._pools) / 2**20


# -- Spark status stores ------------------------------------------------------


class StatusStore:
    """Reads the application status store (jobs, stages, tasks) and the
    SQL status store (per-operator metrics) of one SparkSession. Whole
    lists cross py4j as one JSON string each, written by the same
    Jackson mapper Spark's REST API uses."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        # Spark's v1 API types carry Jackson annotations; dates as epoch ms
        self._mapper.disable(jvm.com.fasterxml.jackson.databind.SerializationFeature.FAIL_ON_EMPTY_BEANS)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._sc.statusStore().jobsList(None))

    def stages(self) -> list[dict]:
        gw = self.spark.sparkContext._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        return self._json(self._sc.statusStore().stageList(None, False, False, no_quantiles, None))

    def task_durations(self, stage_id: int, attempt: int, limit: int = 100_000) -> list[float]:
        tasks = self._json(self._sc.statusStore().taskList(stage_id, attempt, limit))
        return [t["duration"] for t in tasks if t.get("duration") is not None]

    def sql_executions(self) -> list[dict]:
        store = self.spark._jsparkSession.sharedState().statusStore()
        return self._json(store.executionsList())

    def sql_metrics(self, execution_id: int) -> dict[str, str]:
        """accumulatorId → formatted value of one SQL execution."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        return {str(k): v for k, v in self._json(store.executionMetrics(execution_id)).items()}

    def sql_plan(self, execution_id: int) -> dict:
        """Nodes (with their metric accumulator ids) and edges of one
        SQL execution's plan graph."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        graph = store.planGraph(execution_id)
        nodes = graph.allNodes()
        out_nodes = []
        for i in range(nodes.size()):
            n = nodes.apply(i)
            ms = n.metrics()
            out_nodes.append(
                {
                    "id": n.id(),
                    "name": n.name(),
                    "metrics": {
                        ms.apply(j).name(): str(ms.apply(j).accumulatorId()) for j in range(ms.size())
                    },
                }
            )
        edges = graph.edges()
        out_edges = [(edges.apply(i).fromId(), edges.apply(i).toId()) for i in range(edges.size())]
        return {"nodes": out_nodes, "edges": out_edges}


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_NUM = re.compile(r"^-?[\d,]+(\.\d+)?$")


def metric_total(text: str | None) -> float:
    """Total of one formatted SQL metric value: '12,345' → 12345;
    a size 'total (min, med, max ...)\\n3.4 MiB (...)' → bytes."""
    if not text:
        return 0.0
    first = text.split("\n")[-1].strip() if "\n" in text else text.strip()
    m = _SIZE.match(first)
    if m:
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    tok = first.split(" ")[0]
    if _NUM.match(tok):
        return float(tok.replace(",", ""))
    return 0.0


class Window:
    """Engine counters for the jobs of one set of job groups (or of
    one streaming batch), read after the jobs ended."""

    def __init__(self, store: StatusStore) -> None:
        self.store = store

    def engine(self, jobs: list[dict], stages_by_id: dict[int, dict]) -> dict:
        stage_ids = sorted({s for j in jobs for s in j.get("stageIds", [])})
        stages = [stages_by_id[s] for s in stage_ids if s in stages_by_id and stages_by_id[s].get("status") == "COMPLETE"]
        out = {
            "jobs": len(jobs),
            "stage.run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
            "stage.cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "shuffle.read_bytes": sum(
                s.get("shuffleLocalBytesRead", 0) + s.get("shuffleRemoteBytesRead", 0) for s in stages
            ),
            "shuffle.write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spill.bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages),
            "tasks.count": sum(s.get("numCompleteTasks", 0) for s in stages),
            "output.bytes": sum(s.get("outputBytes", 0) for s in stages),
            "output.records": sum(s.get("outputRecords", 0) for s in stages),
            "task.skew": 1.0,
        }
        if stages:
            longest = max(stages, key=lambda s: s.get("executorRunTime", 0))
            durs = self.store.task_durations(longest["stageId"], longest["attemptId"])
            if durs:
                med = sorted(durs)[len(durs) // 2]
                out["task.skew"] = max(durs) / med if med > 0 else 1.0
        return out

    def python_boundary(self, job_ids: set[int], executions: list[dict]) -> dict:
        """Rows and bytes crossing the Arrow boundary, summed over the
        Python exec nodes of the SQL executions that ran these jobs.
        Rows to Python are the output rows of the nearest nodes below
        each Python node that count them."""
        out = {"arrow.rows_to_python": 0.0, "arrow.bytes_to_python": 0.0,
               "arrow.bytes_from_python": 0.0, "python.run_s": 0.0}
        for ex in executions:
            if not job_ids.intersection(int(j) for j in ex.get("jobs", {})):
                continue
            eid = ex["executionId"]
            values = self.store.sql_metrics(eid)
            plan = self.store.sql_plan(eid)
            by_id = {n["id"]: n for n in plan["nodes"]}
            child_of = {}
            for frm, to in plan["edges"]:
                child_of.setdefault(to, []).append(frm)
            for n in plan["nodes"]:
                m = n["metrics"]
                if "data sent to Python workers" not in m:
                    continue
                out["arrow.bytes_to_python"] += metric_total(values.get(m["data sent to Python workers"]))
                out["arrow.bytes_from_python"] += metric_total(values.get(m.get("data returned from Python workers")))
                if "time to run Python workers" in m:
                    out["python.run_s"] += _ms(values.get(m["time to run Python workers"])) / 1e3
                # the nearest nodes below that count their output rows
                frontier = list(child_of.get(n["id"], []))
                while frontier:
                    c = frontier.pop(0)
                    cm = by_id.get(c, {}).get("metrics", {})
                    if "number of output rows" in cm:
                        out["arrow.rows_to_python"] += metric_total(values.get(cm["number of output rows"]))
                    else:
                        frontier.extend(child_of.get(c, []))
        return out


_DUR = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _ms(text: str | None) -> float:
    """A formatted timing metric ('total (min, med, max)\\n1.2 s (...)')
    in milliseconds."""
    if not text:
        return 0.0
    first = text.split("\n")[-1].strip()
    m = re.match(r"([\d.,]+)\s*(ms|s|m|h)\b", first)
    return float(m.group(1).replace(",", "")) * _DUR[m.group(2)] if m else 0.0

