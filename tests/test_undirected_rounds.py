"""The shared undirected adjacency (``tables.undirected``) and the
one-action cc/sssp rounds built on it: cache lifetime, per-round
message counts, and full-range 64-bit ids against the pure-Python
oracles."""

from __future__ import annotations

import gc
import random
import subprocess
import sys
import textwrap

import pytest

from tests.conftest import PATH5, REPO, edges_df
from tests.oracle import graph_oracle as oracle

TOP = 2**63 - 1
BOTTOM = -(2**63)


def _rng_ids(seed: int, n: int) -> list[int]:
    """Signed ids drawn from the full xxhash64 range (the web pipeline's
    vertex ids), negative ones included."""
    rng = random.Random(seed)
    return [rng.randrange(BOTTOM, TOP + 1) for _ in range(n)]


def _xxhash_graph() -> list[tuple[int, int]]:
    ids = _rng_ids(7, 40)
    rng = random.Random(8)
    return [(rng.choice(ids), rng.choice(ids)) for _ in range(70)]


GRAPHS = {
    # a path through both ends of the id range, plus a triangle at the top
    "extremes": [
        (TOP, BOTTOM),
        (BOTTOM, BOTTOM + 1),
        (BOTTOM + 1, 0),
        (TOP - 1, TOP - 2),
        (TOP - 2, TOP - 3),
        (TOP - 3, TOP - 1),
    ],
    "xxhash_range": _xxhash_graph(),
    "self_loops_only": [(3, 3), (-9, -9), (TOP, TOP)],
    # the same undirected edge listed forward, backward and twice
    "duplicates": [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2), (BOTTOM, 1), (BOTTOM, 1)],
}


def _loop_free(pairs):
    # the undirected view drops self-loops, so a vertex whose only edge
    # is a self-loop is not a vertex of it (no cc row, unreachable)
    return [(s, d) for s, d in pairs if s != d]


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_cc_full_range_ids(spark, name):
    from gminer_spark.graph.cc import connected_components

    pairs = GRAPHS[name]
    res = connected_components(edges_df(spark, pairs))
    got = {r["id"]: r["component"] for r in res.state.collect()}
    assert got == oracle.cc(_loop_free(pairs))
    assert res.converged


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_sssp_full_range_ids(spark, name):
    from gminer_spark.graph.sssp import shortest_paths

    pairs = GRAPHS[name]
    ends = sorted({v for e in pairs for v in e})
    # first and last id, plus a source that is not in the graph
    sources = [ends[0], ends[-1], 12345]
    src_df = spark.createDataFrame([(s,) for s in sources], "id long")
    res = shortest_paths(edges_df(spark, pairs), src_df)
    got = {r["id"]: r["dist"] for r in res.state.collect()}
    assert got == oracle.sssp(pairs, sources)
    assert res.converged


def test_sssp_isolated_source_only(spark):
    from gminer_spark.graph.sssp import shortest_paths

    src_df = spark.createDataFrame([(BOTTOM,)], "id long")
    res = shortest_paths(edges_df(spark, GRAPHS["extremes"][3:]), src_df)
    assert res.state.count() == 0
    assert res.converged


def test_round_history_counts_real_messages(spark):
    """messages_shuffled is the number of message rows sent that round
    (the frontier's degree sum), not |E|."""
    from gminer_spark.graph.cc import connected_components
    from gminer_spark.graph.sssp import shortest_paths

    edges = edges_df(spark, PATH5)
    src_df = spark.createDataFrame([(1,)], "id long")
    hist = shortest_paths(edges, src_df).history
    # the frontier walks down the path one vertex per round
    assert [h["messages_shuffled"] for h in hist] == [1, 2, 2, 2, 1]
    assert [h["changed"] for h in hist] == [1, 1, 1, 1, 0]
    assert {h["edges_scanned"] for h in hist} == {8}

    hist = connected_components(edges).history
    # round 1: every vertex sends (8 directed rows); round 2: the four
    # relabelled vertices 2..5 send along their 2+2+2+1 edges
    assert [h["messages_shuffled"] for h in hist[:2]] == [8, 7]
    assert hist[-1]["changed"] == 0


def test_adjacency_shared_and_released_with_edge_table(spark):
    from gminer_spark.graph import tables

    gc.collect()  # earlier tests' garbage must not count below
    edges = edges_df(spark, PATH5)
    sym, n = tables.undirected(edges)
    assert n == 8
    assert tables.undirected(edges)[0] is sym
    key = id(edges)
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    del edges, sym
    gc.collect()
    assert key not in tables._UNDIRECTED
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before - 1


def test_release_after_session_stop_is_silent():
    """Edge tables that outlive their SparkContext — collected after
    stop(), or still alive at interpreter exit — release nothing and
    report no error."""
    script = textwrap.dedent(
        f"""
        import gc, sys
        sys.path.insert(0, {str(REPO)!r})
        from gminer_spark.session import get_spark
        from gminer_spark.graph import tables

        spark = get_spark(app_name="release", master="local[1]", shuffle_partitions=1)
        collected = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        kept = spark.createDataFrame([(4, 5)], "src long, dst long")
        tables.undirected(collected)
        tables.undirected(kept)
        spark.stop()
        del collected
        gc.collect()
        print("released")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "released" in out.stdout
    assert "Traceback" not in out.stderr, out.stderr[-3000:]
    assert "Exception ignored" not in out.stderr, out.stderr[-3000:]
