"""The four workloads. Each drives the library only through its public
functions, one call at a time from one driver thread (a closed loop
with one client), and checks every call's output against the
generator's ground truth.

A workload is a class with ``setup_pass`` (repeated; set-up time is
the median pass), ``round`` (one unit of timed work, repeated until the
deadline), ``named`` (its named end-to-end metrics) and ``layers`` (its
per-layer metrics, from the traced rounds).
"""

from __future__ import annotations

import glob
import hashlib
import itertools
import os
import shutil
import statistics
from collections import Counter

import pandas as pd
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from measure import percentile, tail
from tracing import class_times, node_metric

# every call a workload times, by the span name it records
CALLS = (
    "pipelines.tfds_to_tfrecords",
    "pipelines.tfds_group_counts",
    "sinks.write_partitioned",
    "loader.list_groups",
    "loader.group_stream",
    "loader.iter_groups_bulk",
    "dedup.cluster_near_dups",
    "delta.delta_append",
    "delta.read_delta",
    "delta_lite.read",
    "delta.delta_optimize",
)
CALL_METRICS = ("jobs", "tasks", "exec_cpu_ms", "gc_ms", "sql_exec_ms", "driver_ms")

LAYER_METRICS = (
    "session.start_s",
    "tfexample.encode_ms",
    "tfexample.python_bytes_out",
    "packing.window_ms",
    "packing.shuffle_write_bytes",
    "packing.spill_bytes",
    "tfrecord.write_ms",
    "tfrecord.output_bytes",
    "tfrecord.records",
    "group_counts.wall_ms",
    "group_counts.shuffle_write_bytes",
    "group_counts.exec_cpu_ms",
    "sinks.write_ms",
    "sinks.files_written",
    "sinks.output_bytes",
    "sinks.driver_ms",
    "loader.list_groups_ms",
    "loader.group_plan_ms",
    "loader.group_collect_ms",
    "loader.jobs_per_fetch",
    "loader.tasks_per_fetch",
    "loader.read_amplification",
    "loader.bulk_stage_s",
    "loader.bulk_stream_s",
    "loader.bulk_spill_bytes",
    "dedup.minhash_ms",
    "dedup.lsh_ms",
    "dedup.verify_ms",
    "dedup.cc_ms",
    "dedup.cc_jobs",
    "dedup.shuffle_write_bytes",
    "dedup.spill_bytes",
    "dedup.candidate_pairs",
    "dedup.verified_pairs",
    "dedup.verify_yield",
    "delta.commit_driver_ms",
    "delta.commit_sql_exec_ms",
    "delta.log_files",
    "delta.log_bytes",
    "delta.plan_ms",
    "delta.scan_ms",
    "delta_lite.plan_ms",
    "delta_lite.scan_ms",
    "delta.optimize_files_rewritten",
    "delta.optimize_driver_ms",
    "cache.released",
    "trace.overhead_s",
    "trace.overhead_frac",
)
PER_LAYER = LAYER_METRICS + tuple(f"{c}.{m}" for c in CALLS for m in CALL_METRICS)

# plan-node classes inside one public call, first match wins; an
# unmatched node inherits its consumer's class (trace.classify)
PACK_RULES = (
    ("tfrecord", r"^MapInPandas|RoundRobinPartitioning"),
    ("tfexample", r"^ArrowEvalPython"),
    ("packing", r"_cum_bytes#|collect_list|_kept_sz#|^Window|hashpartitioning\(group_id#"),
)
DEDUP_RULES = (
    ("cc", r"\b(label|_nl|_old|_lid|_ll|cluster_id|_cc_id|_cc_component)#"),
    ("verify", r"\b(_inter|_sza|_szb|_cid|_f)#"),
    ("lsh", r"\b(_band|_bk_rank|id_a|id_b)#"),
    ("minhash", r"min\(pmod\("),
)

# planted pairs the dedup must recover (LSH with 4 bands of 4 rows
# catches a Jaccard-0.9 pair with probability ~0.98)
RECALL_FLOOR = 0.9


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, Spark's marker files excluded."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_SUCCESS")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _frame_hash(pdf: pd.DataFrame) -> str:
    ordered = pdf.sort_values("id").reset_index(drop=True)[sorted(pdf.columns)]
    return hashlib.sha1(
        pd.util.hash_pandas_object(ordered, index=False).values.tobytes()
    ).hexdigest()


class Workload:
    name = ""
    # the calls whose mean CPU cost is write_cpu_ms / read_cpu_ms
    write_call = ""
    read_call = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.released: list[int] = []
        self.returned_bytes = 0  # pandas bytes the traced fetches returned

    def end_round(self) -> None:
        from dataset_grouper_spark.cache import release_intermediates

        self.released.append(release_intermediates())

    def call_layers(self) -> dict[str, float]:
        """The per-call counters every workload reports (zero for calls
        it does not make)."""
        out = {}
        for c in CALLS:
            spans = self.ctx.tracer.calls(c)
            for m in CALL_METRICS:
                out[f"{c}.{m}"] = _mean(s[m] for s in spans)
        out["cache.released"] = _mean(self.released)
        return out


class PartitionWriteRead(Workload):
    """The reference's write path, then its read path over the layout
    just written: encode -> pack -> sharded TFRecord write, per-group
    counts and the bucketed Parquet layout; then list the groups, fetch
    groups one by one (prefetch=0) and stream one bulk epoch."""

    name = "partition_write_read"
    write_call = "pipelines.tfds_to_tfrecords"
    read_call = "loader.group_stream"
    N = 4_000
    FETCHES = 40  # per round, after the first (listing) cohort; 40 support p75
    # set-up passes run every call on a small input; repeated, they
    # also carry the JIT past its warm-up, which otherwise spreads
    # latencies by ~40% across runs
    WARM_N = 600
    WARM_FETCHES = 10

    def setup_pass(self, k: int) -> None:
        out = self.ctx.fresh_dir(f"warm{k}")
        self._write(self.ctx.docs(self.WARM_N), out, self.WARM_N, timed=False)
        self._read(
            f"{out}/wp", k, self.ctx.group_sizes(self.WARM_N), self.WARM_FETCHES, timed=False
        )
        self.end_round()
        shutil.rmtree(out, ignore_errors=True)

    def round(self, r: int) -> None:
        out = self.ctx.fresh_dir(f"r{r}")
        self._write(self.ctx.docs(self.N), out, self.N, timed=True)
        self._read(f"{out}/wp", r, self.ctx.group_sizes(self.N), self.FETCHES, timed=True)
        self.end_round()
        shutil.rmtree(out, ignore_errors=True)

    def _op(self, timed: bool, kind, fn, check, plan=False):
        """A timed, checked call in a round; in a set-up pass the same
        call runs bare (a failure there aborts the run)."""
        if timed:
            return self.ctx.timed(kind, fn, check, plan=plan)
        return fn()

    def _write(self, df, out: str, n: int, timed: bool) -> None:
        from pyspark.sql import functions as F

        from dataset_grouper_spark import pipelines, sinks
        from dataset_grouper_spark.compat.tfexample import decode_example
        from dataset_grouper_spark.compat.tfrecord import read_grouped_tfrecords

        truth = self.ctx.group_sizes(n)

        def check_tfr(paths) -> bool:
            seen = groups = 0
            for examples in read_grouped_tfrecords(paths):
                clients = {decode_example(e)["client"][0] for e in examples}
                if len(clients) != 1:
                    return False
                key = clients.pop()
                key = key.decode() if isinstance(key, bytes) else key
                if truth.get(key) != len(examples):
                    return False
                seen += len(examples)
                groups += 1
            self.tfr_records = groups
            self.tfr_bytes = sum(os.path.getsize(p) for p in paths)
            return groups == len(truth) and seen == n

        self._op(
            timed,
            "pipelines.tfds_to_tfrecords",
            lambda: pipelines.tfds_to_tfrecords(
                df, f"{out}/tfr/shard", F.col("client"), order_col="id"
            ),
            check_tfr,
            plan=True,
        )

        def check_counts(path) -> bool:
            got = {}
            for p in glob.glob(f"{path}/part-*.csv"):
                t = pacsv.read_csv(
                    p,
                    convert_options=pacsv.ConvertOptions(
                        column_types={"group_id": "string"}
                    ),
                )
                got.update(zip(t["group_id"].to_pylist(), t["num_examples"].to_pylist()))
            return got == truth

        self._op(
            timed,
            "pipelines.tfds_group_counts",
            lambda: pipelines.tfds_group_counts(df, f"{out}/gc", F.col("client")),
            check_counts,
        )

        def check_index(_none) -> bool:
            idx = pq.read_table(f"{out}/wp/_group_index").to_pandas()
            self.sink_files, self.sink_bytes = _tree_bytes(f"{out}/wp")
            return dict(zip(idx["group_id"], idx["num_examples"])) == truth

        self._op(
            timed,
            "sinks.write_partitioned",
            lambda: sinks.write_partitioned(
                df, F.col("client"), f"{out}/wp", order_col="id", layout="bucketed"
            ),
            check_index,
        )

    def _read(self, path: str, r: int, truth: dict, fetches: int, timed: bool) -> None:
        from dataset_grouper_spark.loader import PartitionedDataset

        ctx = self.ctx
        ds = PartitionedDataset(ctx.spark, path)
        if ctx.tracer.enabled:
            plain = ds.group

            def traced_group(gid):
                with ctx.tracer.span("loader.group"):
                    return plain(gid)

            ds.group = traced_group

        self._op(
            timed,
            "loader.list_groups",
            ds.list_groups,
            lambda ids: sorted(ids) == sorted(truth),
        )
        stream = ds.group_stream(
            shuffle=True, seed=ctx.seed * 1000 + r, take=fetches + 1, prefetch=0
        )

        def check_cohort(cohort) -> bool:
            ((gid, pdf),) = cohort
            if ctx.tracer.enabled:
                self.returned_bytes += int(pdf.memory_usage(deep=True).sum())
            return truth.get(gid) == len(pdf)

        # the first cohort also pays group_stream's own listing
        self._op(timed, "loader.group_stream.first", lambda: next(stream), check_cohort)
        for _ in range(fetches):
            self._op(timed, "loader.group_stream", lambda: next(stream), check_cohort)

        def epoch():
            seen, rows = Counter(), {}
            it = ds.iter_groups_bulk()
            with ctx.tracer.span("loader.bulk_stage"):
                first = next(it, None)
            if first is not None:
                for gid, pdf in itertools.chain([first], it):
                    seen[gid] += 1
                    rows[gid] = len(pdf)
            return seen, rows

        def check_epoch(res) -> bool:
            seen, rows = res
            return set(seen) == set(truth) and max(seen.values()) == 1 and rows == truth

        self._op(timed, "loader.iter_groups_bulk", epoch, check_epoch)

    def named(self) -> dict[str, tuple[float, str]]:
        ops = self.ctx.ops
        rate = lambda kind: self.N / statistics.median(ops.seconds(kind))  # noqa: E731
        fetch_ms = [s * 1e3 for s in ops.seconds("loader.group_stream")]
        out = {
            "tfrecord_examples_per_s": (rate("pipelines.tfds_to_tfrecords"), "1/s"),
            "group_counts_examples_per_s": (rate("pipelines.tfds_group_counts"), "1/s"),
            "partition_examples_per_s": (rate("sinks.write_partitioned"), "1/s"),
            "group_fetch_ms_p50": (percentile(fetch_ms, 50), "ms"),
        }
        hi = tail(fetch_ms)
        if hi is not None:
            out[f"group_fetch_ms_p{hi[0]:g}"] = (hi[1], "ms")
        groups = len(self.ctx.group_sizes(self.N))
        out["epoch_groups_per_s"] = (
            groups / statistics.median(ops.seconds("loader.iter_groups_bulk")), "1/s"
        )
        return out

    def layers(self) -> dict[str, float]:
        t = self.ctx.tracer
        tfr = t.calls("pipelines.tfds_to_tfrecords")
        gc = t.calls("pipelines.tfds_group_counts")
        wp = t.calls("sinks.write_partitioned")
        fetches = t.calls("loader.group_stream")
        bulk = t.calls("loader.iter_groups_bulk")
        stage = t.calls("loader.bulk_stage")
        per = lambda f: _mean(f(c["executions"]) for c in tfr)  # noqa: E731
        scanned = sum(s["input_bytes"] for s in fetches)
        return {
            "tfexample.encode_ms": per(
                lambda ex: node_metric(ex, r"^ArrowEvalPython", "time to run Python workers")
            ),
            "tfexample.python_bytes_out": per(
                lambda ex: node_metric(
                    ex, r"^ArrowEvalPython", "data returned from Python workers"
                )
            ),
            "packing.window_ms": per(
                lambda ex: class_times(ex, PACK_RULES).get("packing", 0.0)
            ),
            "packing.shuffle_write_bytes": per(
                lambda ex: node_metric(
                    ex, r"^Exchange \| Exchange hashpartitioning\(group_id", "shuffle bytes written"
                )
            ),
            "packing.spill_bytes": per(
                lambda ex: node_metric(ex, r"^(Sort|Window|ObjectHashAggregate) ", "spill size")
            ),
            "tfrecord.write_ms": per(
                lambda ex: node_metric(ex, r"^MapInPandas", "time to run Python workers")
            ),
            "tfrecord.output_bytes": float(self.tfr_bytes),
            "tfrecord.records": float(self.tfr_records),
            "group_counts.wall_ms": _mean(s["wall_ms"] for s in gc),
            "group_counts.shuffle_write_bytes": _mean(s["shuffle_write_bytes"] for s in gc),
            "group_counts.exec_cpu_ms": _mean(s["exec_cpu_ms"] for s in gc),
            "sinks.write_ms": _mean(s["wall_ms"] for s in wp),
            "sinks.files_written": float(self.sink_files),
            "sinks.output_bytes": float(self.sink_bytes),
            "sinks.driver_ms": _mean(s["driver_ms"] for s in wp),
            "loader.list_groups_ms": _mean(s["wall_ms"] for s in t.calls("loader.list_groups")),
            "loader.group_plan_ms": _mean(
                (s["end"] - s["start"]) * 1e3 for s in t.calls("loader.group")
            ),
            "loader.group_collect_ms": _mean(s["self_ms"] for s in fetches),
            "loader.jobs_per_fetch": _mean(s["jobs"] for s in fetches),
            "loader.tasks_per_fetch": _mean(s["tasks"] for s in fetches),
            "loader.read_amplification": scanned / max(1, self.returned_bytes),
            "loader.bulk_stage_s": _mean(s["end"] - s["start"] for s in stage),
            "loader.bulk_stream_s": _mean(
                (b["end"] - b["start"]) - (s["end"] - s["start"])
                for b, s in zip(bulk, stage)
            ),
            "loader.bulk_spill_bytes": _mean(s["output_bytes"] for s in bulk),
        }


class NearDupDedup(Workload):
    """MinHash -> LSH -> verify -> connected components into the noop
    sink: pure Catalyst shuffle and aggregation, no Python worker and
    no output files."""

    name = "neardup_dedup"
    # one call, a write into the noop sink; it has no read path
    write_call = read_call = "dedup.cluster_near_dups"
    N = 3_000

    def setup_pass(self, k: int) -> None:
        from dataset_grouper_spark.operators import dedup

        small = self.ctx.docs(400).select("id", "text")
        dedup.cluster_near_dups(small, "text", "id", verify_threshold=0.8).write.format(
            "noop"
        ).mode("overwrite").save()
        self.end_round()

    def round(self, r: int) -> None:
        from dataset_grouper_spark.operators import dedup

        ctx = self.ctx
        docs = ctx.docs(self.N).select("id", "text")
        pairs = ctx.dup_pairs(self.N)
        comp = ctx.truth_components(self.N)
        holder = {}

        def run():
            out = dedup.cluster_near_dups(docs, "text", "id", verify_threshold=0.8)
            out.write.format("noop").mode("overwrite").save()
            holder["out"] = out

        def check(_none) -> bool:
            got = dict(
                holder["out"].toPandas().itertuples(index=False, name=None)
            )
            if len(got) != self.N:
                return False
            found = sum(1 for a, b in pairs if got[a] == got[b])
            # precision: a cluster never spans two planted components
            members = {}
            for doc, cluster in got.items():
                members.setdefault(cluster, set()).add(comp[doc])
            return found / len(pairs) >= RECALL_FLOOR and all(
                len(v) == 1 for v in members.values()
            )

        ctx.timed("dedup.cluster_near_dups", run, check, plan=True)
        self.end_round()

    def named(self) -> dict[str, tuple[float, str]]:
        med = statistics.median(self.ctx.ops.seconds("dedup.cluster_near_dups"))
        return {"dedup_docs_per_s": (self.N / med, "1/s")}

    def layers(self) -> dict[str, float]:
        calls = self.ctx.tracer.calls("dedup.cluster_near_dups")
        out = {}
        for cls in ("minhash", "lsh", "verify", "cc"):
            out[f"dedup.{cls}_ms"] = _mean(
                class_times(c["executions"], DEDUP_RULES).get(cls, 0.0) for c in calls
            )
        cand = _mean(
            node_metric(
                c["executions"],
                r"HashAggregate\(keys=\[id_a#\d+L, id_b#\d+L\], functions=\[\]\)",
                "number of output rows",
                how=min,
            )
            for c in calls
        )
        verified = _mean(
            node_metric(
                c["executions"],
                r"Join \[id_a#\d+L, id_b#\d+L\], \[id_a#\d+L, id_b#\d+L\], Inner",
                "number of output rows",
                how=max,
            )
            for c in calls
        )
        # jobs of the executions that run a connected-components round
        cc_jobs = [
            sum(e["jobs"] for e in c["executions"] if "cc" in class_times([e], DEDUP_RULES))
            for c in calls
        ]
        out.update(
            {
                "dedup.cc_jobs": _mean(cc_jobs),
                "dedup.shuffle_write_bytes": _mean(c["shuffle_write_bytes"] for c in calls),
                "dedup.spill_bytes": _mean(c["spill_bytes"] for c in calls),
                "dedup.candidate_pairs": cand,
                "dedup.verified_pairs": verified,
                "dedup.verify_yield": verified / cand if cand else 0.0,
            }
        )
        return out


class LakehouseCommits(Workload):
    """Small Delta commits with snapshot reads through ``read_delta``
    and the ``delta_lite`` data source, then OPTIMIZE. Driver-side log
    replay dominates, and it grows with the log."""

    name = "lakehouse_commits"
    write_call = "delta.delta_append"
    read_call = "delta.read_delta"
    COMMITS = 8
    BATCH = 250
    READ_AFTER = (3, 7)  # commit indices followed by reads
    WARM_COMMITS = 6

    def setup_pass(self, k: int) -> None:
        from dataset_grouper_spark.sources import delta

        spark = self.ctx.spark
        path = self.ctx.fresh_dir(f"warm{k}")
        for c in range(self.WARM_COMMITS):
            delta.delta_append(spark, self._batch(c), path)
        delta.read_delta(spark, path, version=1).toPandas()
        delta.read_delta(spark, path).toPandas()
        self._lite(path).toPandas()
        delta.delta_optimize(spark, path)
        self.end_round()
        shutil.rmtree(path, ignore_errors=True)

    def _batch(self, c: int):
        from pyspark.sql import functions as F

        lo = c * self.BATCH
        return (
            self.ctx.docs((c + 1) * self.BATCH)
            .filter(F.col("id") >= lo)
            .select("id", "client", "label", "score")
        )

    def _lite(self, path: str):
        return self.ctx.spark.read.format("delta_lite").option("path", path).load()

    def round(self, r: int) -> None:
        from dataset_grouper_spark.sources import delta

        ctx = self.ctx
        spark = ctx.spark
        path = ctx.fresh_dir(f"r{r}")
        expected = ctx.docs_pandas()[["id", "client", "label", "score"]]

        def want(version: int) -> pd.DataFrame:
            return expected[expected["id"] < (version + 1) * self.BATCH]

        def read(version):
            with ctx.tracer.span("delta.read_delta.plan"):
                df = delta.read_delta(spark, path, version=version)
            with ctx.tracer.span("delta.read_delta.scan"):
                return df.toPandas()

        def lite():
            with ctx.tracer.span("delta_lite.read.plan"):
                df = self._lite(path)
            with ctx.tracer.span("delta_lite.read.scan"):
                return df.toPandas()

        latest_hash = None
        for c in range(self.COMMITS):
            ctx.timed(
                "delta.delta_append",
                lambda c=c: delta.delta_append(spark, self._batch(c), path),
                lambda v, c=c: v == c,
            )
            if c not in self.READ_AFTER:
                continue
            for v in (c // 2, c):
                ctx.timed(
                    "delta.read_delta",
                    lambda v=v: read(v),
                    lambda pdf, v=v: _frame_hash(pdf) == _frame_hash(want(v)),
                )
            latest_hash = _frame_hash(want(c))
            ctx.timed(
                "delta_lite.read",
                lite,
                lambda pdf, h=latest_hash: _frame_hash(pdf) == h,
            )
        log = os.path.join(path, "_delta_log")
        self.log_files, self.log_bytes = _tree_bytes(log)

        def check_optimize(version) -> bool:
            with open(os.path.join(log, f"{version:020d}.json")) as f:
                self.rewritten = sum(1 for line in f if '"remove"' in line)
            return version == self.COMMITS

        ctx.timed("delta.delta_optimize", lambda: delta.delta_optimize(spark, path), check_optimize)
        ctx.timed(
            "delta.read_delta",
            lambda: read(None),
            lambda pdf: _frame_hash(pdf) == latest_hash,
        )
        self.end_round()
        shutil.rmtree(path, ignore_errors=True)

    def named(self) -> dict[str, tuple[float, str]]:
        ops = self.ctx.ops
        commit_ms = [s * 1e3 for s in ops.seconds("delta.delta_append")]
        out = {"commit_ms_p50": (percentile(commit_ms, 50), "ms")}
        hi = tail(commit_ms)
        if hi is not None:
            out[f"commit_ms_p{hi[0]:g}"] = (hi[1], "ms")
        out["snapshot_read_ms_p50"] = (
            percentile([s * 1e3 for s in ops.seconds("delta.read_delta")], 50), "ms"
        )
        out["lite_read_ms_p50"] = (
            percentile([s * 1e3 for s in ops.seconds("delta_lite.read")], 50), "ms"
        )
        out["optimize_s"] = (statistics.median(ops.seconds("delta.delta_optimize")), "s")
        return out

    def layers(self) -> dict[str, float]:
        t = self.ctx.tracer
        commits = t.calls("delta.delta_append")
        opt = t.calls("delta.delta_optimize")
        dur = lambda name: _mean((s["end"] - s["start"]) * 1e3 for s in t.calls(name))  # noqa: E731
        return {
            "delta.commit_driver_ms": _mean(s["driver_ms"] for s in commits),
            "delta.commit_sql_exec_ms": _mean(s["sql_exec_ms"] for s in commits),
            "delta.log_files": float(self.log_files),
            "delta.log_bytes": float(self.log_bytes),
            "delta.plan_ms": dur("delta.read_delta.plan"),
            "delta.scan_ms": dur("delta.read_delta.scan"),
            "delta_lite.plan_ms": dur("delta_lite.read.plan"),
            "delta_lite.scan_ms": dur("delta_lite.read.scan"),
            "delta.optimize_files_rewritten": float(self.rewritten),
            "delta.optimize_driver_ms": _mean(s["driver_ms"] for s in opt),
        }


WORKLOADS = {w.name: w for w in (PartitionWriteRead, LakehouseCommits, NearDupDedup)}
