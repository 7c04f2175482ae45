"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from measure import (  # noqa: E402
    OpLog,
    percentile,
    self_times,
    supports,
    tail,
    union_length,
)
from tracing import classify, parse_metric_map, parse_metric_value  # noqa: E402

SMALL = dict(gen.PARAMS, n_docs=600, n_groups=50)


def test_generator_is_deterministic(tmp_path):
    a_docs, a_pairs = gen.generate(7, SMALL)
    b_docs, b_pairs = gen.generate(7, SMALL)
    assert a_docs.equals(b_docs) and a_pairs.equals(b_pairs)
    c_docs, _ = gen.generate(8, SMALL)
    assert not a_docs.equals(c_docs)


def test_materialise_is_byte_identical(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "PARAMS", SMALL)
    one = gen.materialise(3, str(tmp_path / "a"))
    two = gen.materialise(3, str(tmp_path / "b"))
    for name in (gen.DOCS, gen.PAIRS):
        assert filecmp.cmp(os.path.join(one, name), os.path.join(two, name), shallow=False)
    # a finished corpus is reused, not rewritten
    mtime = os.path.getmtime(os.path.join(one, gen.DOCS))
    assert gen.materialise(3, str(tmp_path / "a")) == one
    assert os.path.getmtime(os.path.join(one, gen.DOCS)) == mtime


def test_planted_pairs_are_one_token_edits_of_originals():
    docs, pairs = gen.generate(5, SMALL)
    text = docs.column("text").to_pylist()
    dups = set(pairs.column("dup_id").to_pylist())
    assert len(dups) == int(SMALL["n_docs"] * SMALL["dup_frac"])
    for orig, dup in zip(pairs.column("orig_id").to_pylist(), pairs.column("dup_id").to_pylist()):
        assert orig < dup and orig not in dups
        a, b = text[orig].split(), text[dup].split()
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) == 1


def test_percentile_reports_only_supported_tails():
    xs = [float(i) for i in range(1, 101)]  # 100 samples
    assert supports(100, 90) and not supports(100, 95)
    assert percentile(xs, 90) == 90.0
    with pytest.raises(ValueError):
        percentile(xs, 95)
    assert tail(xs) == (90.0, 90.0)
    assert tail([float(i) for i in range(200)])[0] == 95.0
    assert tail([1.0] * 19) is None  # even p75 needs 40
    assert tail([float(i) for i in range(40)]) == (75.0, 29.0)


def test_median_needs_any_sample():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 2, "start": 4.0, "end": 5.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past 0
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)  # children cover 1..6 and 9..10
    assert st[2] == pytest.approx(2.0)
    assert st[1] == pytest.approx(3.0)
    assert st[4] == pytest.approx(3.0)


def test_oplog_counts_failures_against_attempts():
    log = OpLog()
    log.record("a", 1.0, True, 0.5)
    log.record("a", 3.0, False, 2.0)  # a failed call counts as attempted only
    log.record("a", 2.0, True, 1.5)
    log.record("b", 1.0, True, 9.0)
    assert (log.attempted, log.failed) == (4, 1)
    assert log.failed_frac() == pytest.approx(1 / 4)
    assert log.seconds("a") == [1.0, 2.0]
    assert log.cpu_per_op("a") == pytest.approx(1.0)
    assert log.cpu_per_op("c") == 0.0
    for cpu in [5.0] + [1.0] * 8 + [0.0]:  # 10 more samples: ends dropped
        log.record("d", 1.0, True, cpu)
    assert log.cpu_per_op("d") == pytest.approx(1.0)
    assert OpLog().failed_frac() == 0.0


def test_parse_sql_metric_values():
    assert parse_metric_value("4.1 s") == pytest.approx(4100.0)
    assert parse_metric_value("1,612") == 1612.0
    two_line = "total (min, med, max (stageId: taskId))\n256.6 MiB (64.1 MiB, 64.1 MiB, 64.2 MiB (stage 3.0: task 5))"
    assert parse_metric_value(two_line) == pytest.approx(256.6 * 2**20)
    got = parse_metric_map(
        "Map(12 -> 4 ms, 7 -> total (min, med, max (stageId: taskId))\n"
        "3 ms (0 ms, 1 ms, 2 ms (stage 1.0: task 2)), 9 -> 1,612)"
    )
    assert set(got) == {12, 7, 9}
    assert parse_metric_value(got[7]) == 3.0 and got[9] == "1,612"


def test_classify_inherits_from_consumer():
    def node(i, name, desc="", members=()):
        return {"id": i, "name": name, "desc": desc, "metrics": {}, "members": list(members)}

    nodes = [
        node(0, "Scan parquet"),
        node(1, "Project", "x#1 AS _band#2"),
        node(2, "HashAggregate", "min(pmod(h#3"),
        node(3, "WholeStageCodegen (1)", members=(0,)),
    ]
    # data flows 0 -> 2 -> 1
    cls = classify(nodes, [(0, 2), (2, 1)], (("lsh", r"_band#"), ("minhash", r"min\(pmod\(")))
    assert cls == {0: "minhash", 1: "lsh", 2: "minhash", 3: "minhash"}


def test_benchmark_json_matches_the_code():
    from workloads import PER_LAYER, WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
