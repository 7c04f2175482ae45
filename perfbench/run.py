"""Benchmark entry point.

    python3 perfbench/run.py --workload partition_write_read --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

One workload per process: a fresh single Spark driver on
``local[<cores>]``, inputs generated from ``--seed`` before any timing,
set-up passes, then rounds of timed calls until ``--seconds`` elapse
(whole rounds: at least one). Every call's output is checked against
the generator's ground truth.

Stdout: one ``<workload>.<metric> = <value> <unit>`` line per named
end-to-end metric, then, as the last line, the JSON result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
alternates untraced and traced rounds and reports the per-layer
metrics, including the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from measure import OpLog  # noqa: E402
from tracing import Tracer  # noqa: E402

SETUP_PASSES = 3
DRIVER_MEMORY = "2g"


def pin_env(work: str) -> None:
    """Environment every run shares. Must run before the JVM starts:
    Spark reads these when it launches."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        {
            # get_spark defaults to local[32]; size it to this machine
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            # Python workers import the library from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (REPO, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    tempfile.tempdir = tmp  # in case an import already cached /tmp
    sys.path.insert(0, REPO)


def start_session(work: str):
    from dataset_grouper_spark.session import get_spark
    from dataset_grouper_spark.streaming.delta_source import DeltaLiteDataSource

    retained = "100000"  # the traced run walks the whole history
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temp files, and its perf-counter file
            # (which ignores java.io.tmpdir), out of the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.python.authenticate.socketTimeout": "120s",
            "spark.ui.retainedJobs": retained,
            "spark.ui.retainedStages": retained,
            "spark.sql.ui.retainedExecutions": retained,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(DeltaLiteDataSource)
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_TICK = os.sysconf("SC_CLK_TCK")
# JVM threads whose work no single call owns: garbage collection, JIT
# compilation and safepoint housekeeping (names as /proc truncates them)
_JVM_BACKGROUND = ("GC Thread", "G1 ", "C1 CompilerThre", "C2 CompilerThre", "VM ")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:  # the process or thread has exited
        return None
    return stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()


class CpuMeter:
    """CPU seconds (user + system) used so far by this process and its
    descendants — the JVM and its Python workers, plus exited children
    they reaped. Unlike wall time it does not grow when a virtual
    machine's host steals cycles, and other processes do not count.

    ``read`` returns (all of it, the part calls own): the second leaves
    out the JVM's background threads, whose GC and JIT bursts land on
    whichever call happens to be running. Their ticks are remembered
    per thread, so a background thread that exits stays subtracted."""

    def __init__(self):
        self._background: dict[str, int] = {}

    def read(self) -> tuple[float, float]:
        me = os.getpid()
        procs = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit() and (st := _stat(f"/proc/{entry}/stat")):
                procs[int(entry)] = st
        total = 0
        for pid, (comm, fields) in procs.items():
            p = pid
            while p not in (me, 0, 1) and p in procs:
                p = int(procs[p][1][1])
            if p != me:
                continue
            total += sum(int(x) for x in fields[11:15])  # utime..cstime
            if comm == "java":
                for tid in os.listdir(f"/proc/{pid}/task"):
                    st = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if st and st[0].startswith(_JVM_BACKGROUND):
                        self._background[f"{pid}/{tid}"] = int(st[1][11]) + int(st[1][12])
        own = total - sum(self._background.values())
        return total / _TICK, own / _TICK


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Ctx:
    """What a workload sees: the session, the tracer, the operation
    log, its inputs and their ground truth, and a private work dir."""

    def __init__(self, spark, tracer, corpus: str, work: str, seed: int):
        import pyarrow.parquet as pq

        self.spark = spark
        self.tracer = tracer
        self.ops = OpLog()
        self.cpu = CpuMeter()
        self.seed = seed
        self.work = work
        self._docs_path = os.path.join(corpus, gen.DOCS)
        self._docs = pq.read_table(self._docs_path).to_pandas()
        self._pairs = pq.read_table(os.path.join(corpus, gen.PAIRS)).to_pandas()

    def docs(self, n: int):
        """The first ``n`` corpus documents, as the library reads them."""
        from pyspark.sql import functions as F

        return self.spark.read.parquet(self._docs_path).filter(F.col("id") < n)

    def docs_pandas(self):
        return self._docs

    def group_sizes(self, n: int) -> dict[str, int]:
        return self._docs["client"][:n].value_counts().to_dict()

    def dup_pairs(self, n: int) -> list[tuple[int, int]]:
        p = self._pairs
        keep = p[(p["orig_id"] < n) & (p["dup_id"] < n)]
        return list(zip(keep["orig_id"].tolist(), keep["dup_id"].tolist()))

    def truth_components(self, n: int) -> dict[int, int]:
        """Doc -> planted component (its original's id; itself when it
        has no planted copy)."""
        comp = {i: i for i in range(n)}
        for orig, dup in self.dup_pairs(n):
            comp[dup] = orig  # originals are never dups, so one hop
        return comp

    def fresh_dir(self, name: str, create: bool = True) -> str:
        path = os.path.join(self.work, "out", name)
        if create:
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def timed(self, kind: str, fn, check, plan: bool = False):
        """One timed operation. It fails on an exception or when
        ``check(result)`` is false; the check runs outside the timing."""
        cpu0 = self.cpu.read()[1]
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, call=True, plan=plan):
                out = fn()
        except Exception:
            self.ops.record(kind, time.perf_counter() - t0, False, self.cpu.read()[1] - cpu0)
            traceback.print_exc()
            return None
        seconds = time.perf_counter() - t0
        cpu_s = self.cpu.read()[1] - cpu0
        try:
            ok = bool(check(out))
        except Exception:
            traceback.print_exc()
            ok = False
        print(
            f"op {kind} {seconds * 1e3:.1f} ms, cpu {cpu_s * 1e3:.0f} ms"
            + ("" if ok else " CHECK FAILED"),
            file=sys.stderr,
        )
        self.ops.record(kind, seconds, ok, cpu_s)
        return out


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from workloads import PER_LAYER, WORKLOADS

    work = os.path.join(HERE, ".work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        pin_env(work)
        import dataset_grouper_spark  # noqa: F401  fail before generating

        corpus = gen.materialise(seed, os.path.join(HERE, ".cache"))
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0

        run_id = f"{name}-{seed}-{os.getpid()}"
        # set-up passes are never traced; rounds switch tracing on
        tracer = Tracer(spark, run_id, enabled=False)
        ctx = Ctx(spark, tracer, corpus, work, seed)
        wl = WORKLOADS[name](ctx)
        passes = []
        for k in range(SETUP_PASSES):
            t = time.perf_counter()
            wl.setup_pass(k)
            passes.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(passes)
        print(
            f"set-up: session {session_s:.2f} s, passes "
            + ", ".join(f"{p:.2f}" for p in passes) + " s",
            file=sys.stderr,
        )

        # trace mode alternates untraced and traced rounds (ABBA) so
        # the two halves see the same drift; per-layer figures come
        # from the traced rounds only
        walls: dict[bool, list[float]] = {False: [], True: []}
        round_cpu: list[float] = []
        deadline = time.perf_counter() + seconds
        r = 0
        while True:
            traced = trace and r % 4 in (1, 2)
            tracer.enabled = traced
            t, cpu = time.perf_counter(), ctx.cpu.read()[0]
            wl.round(r)
            walls[traced].append(time.perf_counter() - t)
            if not traced:
                round_cpu.append(ctx.cpu.read()[0] - cpu)
            r += 1
            if time.perf_counter() >= deadline and (not trace or walls[True]):
                break
        tracer.enabled = trace
        print(
            f"rounds: {r}, wall " + ", ".join(f"{w:.2f}" for w in walls[False] + walls[True]) + " s",
            file=sys.stderr,
        )
        peak_rss = jvm_peak_rss_mb(spark)

        ops = ctx.ops
        named = dict(wl.named())
        named["setup_s"] = (setup_s, "s")
        named["peak_rss_mb"] = (peak_rss, "MB")
        named["failed_op_frac"] = (ops.failed_frac(), "ratio")
        for k, (v, unit) in named.items():
            print(f"{name}.{k} = {v:.6g} {unit}")

        if trace:
            tracer.resolve()
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers.update(wl.call_layers())
            layers.update(wl.layers())
            layers["session.start_s"] = session_s
            plain = statistics.median(walls[False])
            overhead = statistics.median(walls[True]) - plain
            layers["trace.overhead_s"] = overhead
            layers["trace.overhead_frac"] = overhead / plain
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            tracer.write(os.path.join(HERE, ".traces", f"{run_id}.json"))
            metrics = {k: {"value": layers[k], "unit": _unit(k)} for k in PER_LAYER}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "write_cpu_ms": {"value": ops.cpu_per_op(wl.write_call) * 1e3, "unit": "ms"},
                "read_cpu_ms": {"value": ops.cpu_per_op(wl.read_call) * 1e3, "unit": "ms"},
                "round_cpu_s": {"value": statistics.mean(round_cpu), "unit": "s"},
                "ok_op_frac": {"value": 1.0 - ops.failed_frac(), "unit": "ratio"},
            }
        return {
            "correct": ops.failed == 0,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _unit(metric: str) -> str:
    last = metric.rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "B"
    if last.endswith(("_frac", "_amplification", "_yield")):
        return "ratio"
    return "count"


def run_all(seed: int, seconds: float) -> int:
    """Every workload BENCHMARK.json lists, each in its own fresh
    process; prints each named metric and the combined result."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    merged, ok = {}, True
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exited {proc.returncode}")
            ok = False
            continue
        for line in lines[:-1]:
            print(line)
            key, _, rest = line.partition(" = ")
            value, unit = rest.split()
            merged[key] = {"value": float(value), "unit": unit}
        ok = ok and json.loads(lines[-1])["correct"]
    print(json.dumps({"correct": ok, "metrics": merged}))
    return 0 if ok else 1


def main(argv: list[str]) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
