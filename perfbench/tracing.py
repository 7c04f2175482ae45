"""Traced runs: spans around calls into the library, plus Spark
status-store deltas taken at the same boundaries.

During the run a call span costs two listener-bus drains and four
counter reads (jobs started, SQL executions recorded). Everything else
— per-stage task metrics, SQL-execution intervals and per-plan-node
SQL metrics — is read from the status store after the timed phase,
when the retained history is walked once (``resolve``). Spans stay in
memory and are written out at the end of the run.

Layers that only build lazy plans (the tfexample encode, the packing
window, the dedup phases) have no call of their own; they are
attributed through the plan-node SQL metrics of the executions their
enclosing public call triggers (``class_times``), so a traced run
executes exactly the plans an untraced run does.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from measure import clipped, self_times, union_length

_TIME_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_SIZE_UNITS = {"B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
# operator-own timings of nodes outside a whole-stage-codegen cluster;
# inside a cluster the cluster's "duration" already covers them
_OWN_TIMINGS = (
    "time to run Python workers",
    "shuffle write time",
    "sort time",
    "time in aggregation build",
    "time to build",
)


def parse_metric_value(text: str) -> float | None:
    """A formatted SQL metric ("4.1 s", "256.6 MiB", "1,612", or the
    "total (min, med, max ...)" two-line form) as ms, bytes or a count.
    """
    line = text.strip().splitlines()[-1]
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    return num * _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit, 1.0))


def parse_metric_map(text: str) -> dict[int, str]:
    """Scala ``Map(acc -> value, ...)`` toString -> {acc: value}."""
    marks = list(re.finditer(r"(?:\(|, )(\d+) -> ", text))
    out = {}
    for k, m in enumerate(marks):
        end = marks[k + 1].start() if k + 1 < len(marks) else len(text) - 1
        out[int(m.group(1))] = text[m.end() : end]
    return out


def classify(nodes: list[dict], edges: list[tuple[int, int]], rules) -> dict[int, str]:
    """Node id -> layer class. A node takes the first rule whose regex
    matches its "name | desc"; an unmatched node inherits the class of
    its consumer (the edge's parent); a codegen cluster takes the class
    of its first member."""
    parent = {c: p for c, p in edges}
    own = {}
    for n in nodes:
        label = f"{n['name']} | {n['desc']}"
        for cls, pat in rules:
            if re.search(pat, label):
                own[n["id"]] = cls
                break
    out = {}
    for n in nodes:
        cur, seen = n["id"], set()
        while cur is not None and cur not in own and cur not in seen:
            seen.add(cur)
            cur = parent.get(cur)
        out[n["id"]] = own.get(cur, "other")
    for n in nodes:
        if n["members"]:
            out[n["id"]] = out.get(n["members"][0], "other")
    return out


def class_times(executions: list[dict], rules) -> dict[str, float]:
    """Summed operator time (task-ms, as Spark's SQL metrics report it)
    per layer class over the given executions' plan graphs. Each metric
    accumulator counts once, however many re-planned subtrees show it."""
    seen: set[int] = set()
    out: dict[str, float] = {}
    for ex in executions:
        nodes = ex["nodes"]
        cls = classify(nodes, ex["edges"], rules)
        in_cluster = {m for n in nodes for m in n["members"]}
        for n in nodes:
            if n["members"]:
                wanted = ("duration",)
            elif n["id"] in in_cluster:
                continue
            else:
                wanted = _OWN_TIMINGS
            for name, (acc, value) in n["metrics"].items():
                if name in wanted and acc not in seen and value is not None:
                    seen.add(acc)
                    c = cls[n["id"]]
                    out[c] = out.get(c, 0.0) + value
    return out


def node_metric(
    executions: list[dict], name_pat: str, metric: str, how=sum
) -> float:
    """Combine (``how``) one metric over the nodes whose "name | desc"
    matches ``name_pat``, counting each accumulator once."""
    seen, vals = set(), []
    for ex in executions:
        for n in ex["nodes"]:
            if not re.search(name_pat, f"{n['name']} | {n['desc']}"):
                continue
            acc, value = n["metrics"].get(metric, (None, None))
            if acc is not None and acc not in seen and value is not None:
                seen.add(acc)
                vals.append(value)
    return how(vals) if vals else 0.0


class Tracer:
    """Spans (name, start, end, parent, run id) with status-store
    deltas. While ``enabled`` is false, ``span`` records nothing, so
    workload code is the same in traced and untraced rounds."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        sc = spark.sparkContext._jsc.sc()
        self._sc = sc
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _counters(self) -> tuple[int, int]:
        return (
            int(self._sc.dagScheduler().numTotalJobs()),
            int(self._sql.executionsCount()),
        )

    @contextmanager
    def span(self, name: str, call: bool = False, plan: bool = False):
        """Record a span. ``call=True`` marks a call into a layer's
        public function: status-store counters are read around it.
        ``plan=True`` also keeps its executions' plan-node metrics."""
        if not self.enabled:
            yield None
            return
        if call:
            self._drain()
            j0, x0 = self._counters()
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "run_id": self.run_id,
            "call": call,
            "plan": plan,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if call:
                self._drain()
                j1, x1 = self._counters()
                s["job_range"] = (j0, j1)
                s["exec_range"] = (x0, x1)

    # -- post-run resolution -------------------------------------------

    def _stage(self, sid: int):
        try:
            return self._store.lastStageAttempt(sid)
        except Exception:  # py4j wraps the store's NoSuchElementException
            return None

    def _execution(self, ex, with_plan: bool) -> dict:
        eid = ex.executionId()
        done = ex.completionTime()
        out = {
            "id": int(eid),
            "start": ex.submissionTime() / 1e3,
            "end": (done.get().getTime() if done.isDefined() else ex.submissionTime())
            / 1e3,
            "jobs": int(ex.jobs().size()),
            "nodes": [],
            "edges": [],
        }
        if not with_plan:
            return out
        graph = self._sql.planGraph(eid)
        values = parse_metric_map(self._sql.executionMetrics(eid).toString())
        all_nodes = graph.allNodes()
        flat = [all_nodes.apply(i) for i in range(all_nodes.size())]
        for k, n in enumerate(flat):
            metrics = {}
            for mname, acc in re.findall(
                r"SQLPlanMetric\(([^,]+),(\d+),\w+\)", n.metrics().toString()
            ):
                raw = values.get(int(acc))
                metrics[mname] = (
                    int(acc),
                    parse_metric_value(raw) if raw is not None else None,
                )
            name = n.name()
            members = []
            if name.startswith("WholeStageCodegen"):
                size = n.nodes().size()
                members = [int(m.id()) for m in flat[k - size : k]]
            out["nodes"].append(
                {
                    "id": int(n.id()),
                    "name": name,
                    "desc": n.desc(),
                    "metrics": metrics,
                    "members": members,
                }
            )
        out["edges"] = [
            (int(a), int(b))
            for a, b in re.findall(
                r"SparkPlanGraphEdge\((\d+),(\d+)\)", graph.edges().toString()
            )
        ]
        return out

    def resolve(self) -> None:
        """Attach task and SQL metrics to every call span."""
        if not self.enabled:
            return
        self._drain()
        for s in self.spans:
            if not s["call"]:
                continue
            j0, j1 = s["job_range"]
            stage_ids, tasks = set(), 0
            for jid in range(j0, j1):
                job = self._store.job(jid)
                tasks += int(job.numCompletedTasks())
                ids = job.stageIds()
                stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
            agg = dict.fromkeys(
                ("exec_cpu_ms", "exec_run_ms", "gc_ms", "input_bytes",
                 "output_bytes", "shuffle_write_bytes", "spill_bytes"),
                0.0,
            )
            for sid in sorted(stage_ids):
                st = self._stage(sid)
                sub = st.submissionTime() if st is not None else None
                # a stage re-listed by a later job (a reused shuffle)
                # was submitted before this call: not this call's work
                if st is None or not sub.isDefined():
                    continue
                if sub.get().getTime() / 1e3 < s["start"] - 0.001:
                    continue
                agg["exec_cpu_ms"] += st.executorCpuTime() / 1e6
                agg["exec_run_ms"] += st.executorRunTime()
                agg["gc_ms"] += st.jvmGcTime()
                agg["input_bytes"] += st.inputBytes()
                agg["output_bytes"] += st.outputBytes()
                agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            x0, x1 = s["exec_range"]
            execs = []
            if x1 > x0:
                listed = self._sql.executionsList(x0, x1 - x0)
                execs = [
                    self._execution(listed.apply(i), s["plan"])
                    for i in range(listed.size())
                ]
            sql = union_length(
                clipped([(e["start"], e["end"]) for e in execs], s["start"], s["end"])
            )
            wall = s["end"] - s["start"]
            s.update(agg)
            s["jobs"] = j1 - j0
            s["tasks"] = tasks
            s["wall_ms"] = wall * 1e3
            s["sql_exec_ms"] = sql * 1e3
            s["driver_ms"] = (wall - sql) * 1e3
            s["executions"] = execs
        selfs = self_times(self.spans)
        for s in self.spans:
            s["self_ms"] = selfs[s["id"]] * 1e3

    def calls(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        """All spans as JSON (plan graphs dropped: they are bulky and
        their attribution is already folded into the layer metrics)."""
        slim = [
            {k: v for k, v in s.items() if k != "executions"}
            | {"executions": [
                {k: v for k, v in e.items() if k not in ("nodes", "edges")}
                for e in s.get("executions", [])
            ]}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": slim}, f, indent=1)
