"""Readings taken from outside the engine: Spark's own status stores,
the driver log, /proc, and a delivered-compute probe.

Nothing here calls into ``pyrosar_spark``. Spark counters come from the
application status store (per stage) and the SQL status store (per plan
node), both of which Spark keeps with the web UI disabled.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import threading
import time

from py4j.protocol import Py4JJavaError

CODEGEN_FALLBACK = b"Whole-stage codegen disabled for plan"
RSS_INTERVAL_S = 0.2
STOP_TIMEOUT_S = 30.0
PROBE_SPIN_S = 0.3


def _metric_number(text: str) -> float:
    """A SQL metric's display string as a number ('1,284' -> 1284;
    'total (min, med, max ...)\\n63 ms (...)' -> 63)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    return float(text.split(" ")[0].replace(",", ""))


class SparkCounters:
    """Per-action counters read from Spark's status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()
        self._tracker = sc.statusTracker()

    def _drain(self) -> None:
        # the stores are filled by listener threads; wait until they
        # have seen every event of the finished action
        self._jsc.listenerBus().waitUntilEmpty()

    def execution_mark(self) -> int:
        self._drain()
        return int(self._sql.executionsCount())

    def executions_since(self, mark: int) -> list[dict]:
        """Plan graphs of the SQL executions started after ``mark``:
        nodes with their numeric metrics, child edges and the physical
        plan text."""
        self._drain()
        seq = self._sql.executionsList(mark, 1 << 20)
        out = []
        for i in range(seq.size()):
            ex = seq.apply(i)
            eid = ex.executionId()
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            nodes = {}
            it = graph.allNodes().iterator()
            while it.hasNext():
                node = it.next()
                metrics = {}
                mit = node.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        try:
                            metrics[m.name()] = _metric_number(v.get())
                        except ValueError:
                            pass
                nodes[node.id()] = {"name": node.name(), "desc": node.desc(), "metrics": metrics}
            children: dict[int, list[int]] = {}
            eit = graph.edges().iterator()
            while eit.hasNext():
                e = eit.next()
                children.setdefault(e.toId(), []).append(e.fromId())
            out.append({
                "id": eid,
                "description": ex.description(),
                "plan": ex.physicalPlanDescription(),
                "nodes": nodes,
                "children": children,
            })
        return out

    def stage_totals(self, group: str) -> dict[str, float]:
        """Summed stage counters of every job run under job group ``group``."""
        self._drain()
        tot = {"tasks": 0, "failed_tasks": 0, "task_time_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        seen = set()
        for jid in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(jid)
            for sid in list(info.stageIds) if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._app.lastStageAttempt(int(sid))
                except Py4JJavaError:
                    continue  # skipped stage: never submitted
                tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                tot["failed_tasks"] += st.numFailedTasks()
                tot["task_time_s"] += st.executorRunTime() / 1000.0
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot


def _root(ex: dict) -> int:
    child_ids = {c for cs in ex["children"].values() for c in cs}
    return min(n for n in ex["nodes"] if n not in child_ids)


def rows_out(ex: dict, start: int | None = None) -> float:
    """Rows leaving the plan (or the subtree at node ``start``): a
    node's output-row count, or for a node without one (projections,
    unions, the write) the sum over its children."""
    nid = _root(ex) if start is None else start
    m = ex["nodes"][nid]["metrics"]
    if "number of output rows" in m:
        return m["number of output rows"]
    return sum(rows_out(ex, k) for k in ex["children"].get(nid, []))


def _subtree_has(ex: dict, nid: int, name_part: str) -> bool:
    return name_part in ex["nodes"][nid]["name"] or any(
        _subtree_has(ex, k, name_part) for k in ex["children"].get(nid, []))


def join_input_rows(execs: list[dict], join_part: str, side_part: str) -> float:
    """Rows fed into joins whose name contains ``join_part`` from the
    child whose subtree holds a node named like ``side_part``."""
    total = 0.0
    for ex in execs:
        for nid, node in ex["nodes"].items():
            if join_part in node["name"]:
                total += sum(rows_out(ex, k) for k in ex["children"].get(nid, [])
                             if _subtree_has(ex, k, side_part))
    return total


def _matches(node: dict, name_part: str, desc_part: str) -> bool:
    return name_part in node["name"] and desc_part in node["desc"]


def node_metric(execs: list[dict], name_part: str, metric: str) -> float:
    """Sum of ``metric`` over plan nodes whose name contains ``name_part``."""
    return sum(
        node["metrics"].get(metric, 0.0)
        for ex in execs for node in ex["nodes"].values()
        if name_part in node["name"]
    )


def input_rows_of(execs: list[dict], name_part: str, desc_part: str) -> float:
    """Rows fed into the lowest node of each stack of nodes matching
    name and description: the output rows of its children."""
    total = 0.0
    for ex in execs:
        for nid, node in ex["nodes"].items():
            if not _matches(node, name_part, desc_part):
                continue
            kids = ex["children"].get(nid, [])
            if any(_matches(ex["nodes"][k], name_part, desc_part) for k in kids):
                continue
            total += sum(rows_out(ex, k) for k in kids)
    return total


class LogCounter:
    """Counts codegen fallbacks in the driver log written since the last
    call."""

    def __init__(self, path: str):
        self._path = path
        self._offset = 0

    def take(self) -> int:
        with open(self._path, "rb") as f:
            f.seek(self._offset)
            data = f.read()
        self._offset += len(data)
        return data.count(CODEGEN_FALLBACK)


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(name)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [pid]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out.extend(kids)
        frontier = kids
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak proportional set size of this process's descendants (the
    driver JVM and its Python workers), sampled every RSS_INTERVAL_S."""

    def __init__(self):
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_kb = 0

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in _descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_descendants() -> None:
    """Terminate any process this one started that is still running
    (Python workers a stopped JVM left behind) and wait until they are
    gone."""
    pids = _descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, 15)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def steal_s() -> float:
    """Cumulative steal seconds of the host (/proc/stat)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / os.sysconf("SC_CLK_TCK")


def _spin(conn, start_at: float, seconds: float) -> None:
    time.sleep(max(0.0, start_at - time.time()))
    until = time.perf_counter() + seconds
    x = it = 0
    while time.perf_counter() < until:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        it += 1
    conn.send(it)
    conn.close()


def cores_delivered(n_workers: int) -> float:
    """Work done by ``n_workers`` spinning processes divided by the work
    of one: close to ``n_workers`` on a quiet host, lower when other
    tenants take the cores. Workers are forked (the Spark session has
    stopped by then) and start spinning together, 0.2 s after launch."""
    ctx = mp.get_context("fork")

    def run(n: int) -> float:
        start_at = time.time() + 0.2
        pipes = [ctx.Pipe(duplex=False) for _ in range(n)]
        procs = [ctx.Process(target=_spin, args=(w, start_at, PROBE_SPIN_S)) for _, w in pipes]
        for p in procs:
            p.start()
        total = float(sum(r.recv() for r, _ in pipes))
        for p in procs:
            p.join(timeout=60)
        return total

    return run(n_workers) / max(run(1), 1.0)
