"""Tests for the benchmark itself: the event-log folder, the output
checks and the seeded generators.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator test starts Spark twice (``local[1]`` and ``local[4]``)
and takes about a minute; the other tests need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench import eventlog, inputs, workloads
from perfbench.workloads import Ctx

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# -- event-log folder ----------------------------------------------------


def test_fold_recorded_log():
    groups = eventlog.fold_file(os.path.join(HERE, "testdata", "eventlog_sample.jsonl"))
    udf, shuffle, fail = groups["udf"], groups["shuffle"], groups["fail"]
    # the Arrow UDF group carries the Python-worker counters
    assert (udf["jobs"], udf["tasks"], udf["failed_tasks"]) == (2, 3, 0)
    assert (udf["python_run_ms"], udf["python_bytes_sent"]) == (5656, 6584)
    # the groupBy group shuffles and runs no Python
    assert shuffle["shuffle_write_bytes"] == 359
    assert shuffle["job_shuffle_write_bytes"] == [359, 0]
    assert shuffle["python_run_ms"] == 0
    # the deliberately failing task is counted, in its own group only
    assert (fail["jobs"], fail["tasks"], fail["failed_tasks"]) == (1, 1, 1)
    assert sum(g["failed_tasks"] for g in groups.values()) == 1


def test_fold_attributes_tasks_by_stage_owner():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        # job 1 reuses stage 1 (skipped there) and adds stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    ]
    for stage, nbytes in ((0, 10), (1, 20), (2, 40), (3, 80)):
        lines.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Accumulables": []},
            "Task Metrics": {"Executor Run Time": 1,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": nbytes}},
        })
    g = eventlog.fold(json.dumps(x) for x in lines)
    assert (g["a"]["tasks"], g["a"]["shuffle_write_bytes"]) == (2, 30)
    assert (g["b"]["tasks"], g["b"]["shuffle_write_bytes"]) == (1, 40)
    assert g[eventlog.NO_GROUP]["shuffle_write_bytes"] == 80
    assert g["a"]["job_shuffle_write_bytes"] == [30]


# -- output checks ---------------------------------------------------------


def _ctx(ref: dict, **outputs) -> Ctx:
    return Ctx(spark=None, seed=7, work="", ref=ref, outputs=dict(outputs))


def test_triangle_count_off_by_one_is_an_error():
    ctx = _ctx({"triangles": 1000})
    assert workloads._check_triangles(ctx, 1000) is None
    assert workloads._check_triangles(ctx, 1001) is not None


def test_max_clique_checks_size_and_adjacency():
    adj = {1: {2, 3}, 2: {1, 3}, 3: {1, 2, 4}, 4: {3}}
    ctx = _ctx({"clique_size": 3}, mine_adj=adj)
    assert workloads._check_max_clique(ctx, (3, [1, 2, 3])) is None
    assert workloads._check_max_clique(ctx, (3, [2, 3, 4])) is not None
    assert workloads._check_max_clique(ctx, (2, [3, 4])) is not None


def test_pagerank_tolerance_and_exact_labels():
    want = {1: 0.25, 2: 0.75}
    assert workloads._close({1: 0.25 * (1 + 1e-9), 2: 0.75}, want, "pr", 1e-6) is None
    assert workloads._close({1: 0.2501, 2: 0.75}, want, "pr", 1e-6) is not None
    assert workloads._close({1: 0.25}, want, "pr", 1e-6) is not None
    assert workloads._exact({1: 1, 2: 1}, {1: 1, 2: 1}, "cc") is None
    assert workloads._exact({1: 1, 2: 2}, {1: 1, 2: 1}, "cc") is not None


def test_fingerprint_must_repeat_for_the_seed():
    ctx = _ctx({})
    rows = [(1, [2, 3], 0.5), (4, [5], 0.25)]
    assert workloads.check_fingerprint(ctx, "span", rows) is None
    assert workloads.check_fingerprint(ctx, "span", list(reversed(rows))) is None
    perturbed = [(1, [2, 3], 0.5), (4, [6], 0.25)]
    assert workloads.check_fingerprint(ctx, "span", perturbed) is not None


def test_motif_reference_finds_labeled_cycles():
    labels = {0: 0, 1: 1, 2: 2, 3: 3, 4: 1}
    pairs = [(0, 1), (1, 2), (2, 3), (0, 3), (0, 4), (2, 4)]
    directed = inputs.motif_table(pairs, labels)
    assert sorted(directed) == [(0, 1), (0, 4), (1, 2), (2, 3), (3, 0), (4, 2)]
    rows = inputs.motif_matches(directed)
    # two labeled 4-cycles (via 1 or via 4), each found at its 4 rotations
    assert len(rows) == 8 and (0, 1, 2, 3) in rows and (0, 4, 2, 3) in rows


def test_relabel_is_a_full_range_bijection():
    f = inputs.relabel(3)
    ids = [f(v) for v in range(inputs.MINE_PARTS)]
    assert len(set(ids)) == len(ids)
    assert all(-(2**63) <= x < 2**63 for x in ids)
    assert min(ids) < 0 < max(ids)


# -- seeded generators -----------------------------------------------------

_GEN = """
import json, os, sys
sys.path.insert(0, {root!r})
from gminer_spark.session import get_spark
from perfbench import inputs, workloads
dirs = {{k: inputs.ensure_inputs(k, 11, {cache!r}, {root!r}) for k in ("web", "mine")}}
out = {{k + "/reference": open(os.path.join(d, "reference.json")).read() for k, d in dirs.items()}}
spark = get_spark(master={master!r}, shuffle_partitions=4,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
for wl in workloads.WORKLOADS.values():
    for name, df in workloads.load_tables(spark, wl, dirs).items():
        out[wl.name + "/" + name] = sorted(map(tuple, df.collect()))
spark.stop()
print(json.dumps(out, default=str))
"""


def test_same_seed_same_inputs_under_local1_and_local4(tmp_path):
    """Each side generates the seed's inputs afresh in its own process,
    then loads every workload's tables under its own master."""
    outs = []
    for master in ("local[1]", "local[4]"):
        side = tmp_path / master.strip("local[]")
        code = _GEN.format(root=ROOT, master=master, cache=str(side / "inputs"))
        env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=str(side / "spark"), TMPDIR=str(side))
        proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                              text=True, timeout=600, env=env)
        assert proc.returncode == 0, proc.stderr[-3000:]
        outs.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    a, b = outs
    assert sorted(a) == sorted(b)
    for key in a:
        assert a[key] == b[key], key
