"""Layer attribution for the benchmark: in-memory spans, Spark status-store
node metrics, and host probes from ``/proc``.

Spans are opened only here, around calls into the package's module
functions (patched in this process for the traced run, restored after).
Spark executions are attached afterwards: each execution recorded by the
SQL status store becomes a leaf span under the innermost Python span that
was open when it was submitted, and its plan-node metrics (Python worker
time, Arrow bytes, shuffle and write bytes) are summed per operation type.
"""
from __future__ import annotations

import functools
import os
import re
import time
from contextlib import contextmanager


class NullTracer:
    """Untraced runs: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name):
        yield

    def install(self):
        pass

    def uninstall(self):
        pass


class Tracer(NullTracer):
    """Records ``{id, parent, name, start, end}`` spans in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self.missing: list[str] = []
        self.cost_s = 0.0
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        # status-store times are epoch ms; spans use perf_counter
        self.epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name):
        c0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.cost_s += rec["start"] - c0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.cost_s += time.perf_counter() - rec["end"]

    def patch(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr, None)
        if orig is None:
            self.missing.append(f"{module.__name__}.{attr}")
            return

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def install(self):
        """Wrap the package's stage functions; spans recorded so far
        (set-up and warm-up) are dropped."""
        from parquet_python_spark.operators import pipeline as pl
        from parquet_python_spark.plans import partitioning as part

        for module, attr, name in [
            (pl, "_plan_for_store", "partitioning.plan"),
            (part, "assign_part_keys", "partitioning.assign"),
            (pl, "encode_table_local", "pipeline.encode_plan"),
            (pl, "write_blockstore", "pipeline.write"),
            (pl, "_list_part_files", "fs.list"),
            (pl, "_commit_manifest", "pipeline.lineage_commit"),
            (pl, "_commit_blocks_delta", "pipeline.compact_commit"),
            (pl, "recode_blocks", "pipeline.recode_plan"),
            (pl, "read_lineage", "pipeline.read_lineage"),
            (pl, "store_summary", "pipeline.summary"),
            (pl, "read_blocks", "pipeline.read_blocks"),
            (pl, "decode_blocks", "pipeline.decode_plan"),
            (pl, "prune_blocks", "pipeline.prune_plan"),
        ]:
            self.patch(module, attr, name)
        self.spans.clear()
        self.cost_s = 0.0

    def uninstall(self):
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)


# ------------------------------------------------------------ status store

_NODE = re.compile(r'label="(?:<br>)?<b>([^<]+)</b><br><br>(.*?)" '
                   r'tooltip="(.*?)"\];')
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9, "us": 1e-6}


def parse_value(text: str) -> float:
    """'1.4 s' -> 1.4, '416.4 KiB' -> 426393.6, '2,000' -> 2000 (times in
    seconds, sizes in bytes)."""
    parts = text.strip().split()
    num = float(parts[0].replace(",", ""))
    return num * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else num


def parse_plan(dot: str) -> list[dict]:
    """Plan nodes of one execution as ``{name, tooltip, metrics}`` from the
    status store's DOT rendering (one py4j call per execution)."""
    nodes = []
    for name, body, tooltip in _NODE.findall(dot):
        metrics, lines, i = {}, body.split("<br>"), 0
        while i < len(lines):
            line = lines[i]
            if " total (min, med, max" in line and i + 1 < len(lines):
                metrics[line.split(" total (")[0]] = parse_value(
                    lines[i + 1].split(" (")[0])
                i += 2
                continue
            if ": " in line:
                k, v = line.split(": ", 1)
                try:
                    metrics[k] = parse_value(v)
                except (ValueError, IndexError):
                    pass
            i += 1
        nodes.append({"name": name.strip(), "tooltip": tooltip,
                      "metrics": metrics})
    return nodes


def executions(spark, since_id: int) -> list[dict]:
    """Completed SQL executions with id >= ``since_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    lst = store.executionsList()
    for i in range(lst.size()):
        e = lst.apply(i)
        eid = e.executionId()
        done = e.completionTime()
        if eid < since_id or not done.isDefined():
            continue
        dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
        out.append({"id": int(eid), "submit": e.submissionTime() / 1000.0,
                    "done": done.get().getTime() / 1000.0,
                    "nodes": parse_plan(dot)})
    return out


def last_execution_id(spark) -> int:
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return int(lst.apply(lst.size() - 1).executionId()) if lst.size() else -1


def exec_kind(nodes: list[dict]) -> str:
    udf = any(is_arrow(n["name"]) for n in nodes)
    write = any("InsertIntoHadoopFsRelationCommand" in n["name"] for n in nodes)
    return ("exec.udf_write" if udf and write else "exec.udf" if udf
            else "exec.write" if write else "exec.query")


def attach_executions(tracer: Tracer, execs: list[dict]) -> None:
    """Add each execution as a leaf span under the innermost span open at
    its submission time (executions inside a span belong to that span)."""
    spans = list(tracer.spans)
    for ex in execs:
        t0 = ex["submit"] - tracer.epoch_offset
        t1 = ex["done"] - tracer.epoch_offset
        owner = None
        for s in spans:
            if s["start"] <= t0 <= s["end"] and (
                    owner is None or s["start"] >= owner["start"]):
                owner = s
        if owner is None:
            continue
        tracer.spans.append({"id": len(tracer.spans), "parent": owner["id"],
                             "name": exec_kind(ex["nodes"]), "start": t0,
                             "end": max(t1, t0), "exec": ex})


def _covered(intervals: list[tuple], lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def ledger(tracer: Tracer) -> dict:
    """Per operation type: op count, wall seconds, self seconds per layer
    (span duration minus what its children cover) and the op spans' own
    remainder as ``unattributed_s``."""
    kids: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, dict] = {}

    def walk(s: dict, op: dict, top: bool):
        ch = kids.get(s["id"], [])
        self_s = (s["end"] - s["start"]) - _covered(
            [(c["start"], c["end"]) for c in ch], s["start"], s["end"])
        if top:
            op["unattributed_s"] += self_s
        else:
            op["self_s"][s["name"]] = op["self_s"].get(s["name"], 0.0) + self_s
        if "exec" in s:
            op["execs"].append(s["exec"])
        for c in ch:
            walk(c, op, False)

    for s in tracer.spans:
        if s["parent"] is None and s["name"].startswith("op."):
            op = out.setdefault(s["name"][3:], {
                "ops": 0, "wall_s": 0.0, "unattributed_s": 0.0,
                "self_s": {}, "execs": []})
            op["ops"] += 1
            op["wall_s"] += s["end"] - s["start"]
            walk(s, op, True)
    return out


def node_sum(execs: list[dict], node_pred, metric: str,
             tooltip: str | None = None) -> float:
    return sum(n["metrics"].get(metric, 0.0)
               for ex in execs for n in ex["nodes"]
               if node_pred(n["name"])
               and (tooltip is None or tooltip in n["tooltip"]))


def is_arrow(name: str) -> bool:
    return "Arrow" in name or "Pandas" in name


# ------------------------------------------------------------ host probes

def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def host_sample() -> dict:
    total, steal = cpu_times()
    return {"loadavg": loadavg(), "cpu_total": total, "cpu_steal": steal}


def steal_share(a: dict, b: dict) -> float:
    dt = b["cpu_total"] - a["cpu_total"]
    return (b["cpu_steal"] - a["cpu_steal"]) / dt if dt > 0 else 0.0


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state, ppid, ...)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    out, frontier = [], {root}
    while frontier:
        nxt = {p for p, pp in parent.items() if pp in frontier}
        out.extend(sorted(nxt))
        frontier = nxt
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
