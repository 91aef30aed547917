"""The benchmark workloads: which public calls each one times, and how
each call's output is checked.

Every op is one user-facing call of ``gminer_spark``, timed until its
result is materialized (``run``), then checked against the seed's
reference outside the timed region (``check``).  A check returns None
when the output is right and a one-line reason when it is not.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs

SUPERSTEP_SPANS = (
    "graph.pagerank.pagerank",
    "checkpoint.pagerank_store",
    "graph.lpa.label_propagation",
    "graph.cc.connected_components",
    "graph.sssp.shortest_paths",
)
UDF_SPANS = (
    "web.extract.links_table",
    "graph.mining.max_clique",
    "graph.mining.attributed_communities",
    "graph.focusco.focused_clusters",
)


@dataclass
class Ctx:
    """One process's view of a workload: the loaded inputs, the seed's
    reference outputs, and what the ops of the current pass produced."""

    spark: SparkSession
    seed: int
    work: str
    ref: dict
    tables: dict[str, DataFrame] = field(default_factory=dict)
    input_dirs: dict[str, str] = field(default_factory=dict)
    outputs: dict[str, Any] = field(default_factory=dict)
    # per-pass facts the traced run reports (ratios, superstep history)
    facts: dict[str, float] = field(default_factory=dict)
    history: dict[str, list] = field(default_factory=dict)
    fingerprints: dict[str, str] = field(default_factory=dict)


@dataclass
class Op:
    span: str
    run: Callable[[Ctx], Any]
    check: Callable[[Ctx, Any], str | None]


@dataclass
class Workload:
    name: str
    # table name -> (inputs.BUILDERS key, parquet file in that input dir)
    tables: dict[str, tuple[str, str]]
    ops: list[Op]

    @property
    def inputs(self) -> list[str]:
        return sorted({kind for kind, _ in self.tables.values()})


def materialize(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def fingerprint(rows) -> str:
    """Order-free digest of result rows (floats to 9 significant digits,
    so a partition-order change in a float sum does not count)."""

    def norm(v):
        if isinstance(v, float):
            return float(f"{v:.9g}")
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        return v

    lines = sorted(json.dumps([norm(v) for v in r]) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def check_fingerprint(ctx: Ctx, span: str, rows) -> str | None:
    fp = fingerprint(rows)
    seen = ctx.fingerprints.setdefault(span, fp)
    if seen != fp:
        return f"fingerprint {fp[:12]} differs from {seen[:12]} recorded for seed {ctx.seed}"
    return None


def _superstep(ctx: Ctx, span: str, res) -> int:
    ctx.history[span] = res.history
    ctx.facts[f"{span}.rounds"] = res.supersteps_run
    return res.state.count()


def _as_map(df: DataFrame, key: str, val: str) -> dict:
    return {r[key]: r[val] for r in df.select(key, val).collect()}


def _exact(got: dict, want: dict, what: str) -> str | None:
    if got == want:
        return None
    diff = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
    return f"{what}: {diff} of {len(want)} vertices differ from the reference"


def _close(got: dict, want: dict, what: str, rtol: float) -> str | None:
    if set(got) != set(want):
        return f"{what}: vertex set differs from the reference"
    keys = sorted(want)
    a = np.array([got[k] for k in keys])
    b = np.array([want[k] for k in keys])
    if np.allclose(a, b, rtol=rtol, atol=0.0):
        return None
    return f"{what}: max abs error {np.max(np.abs(a - b)):.3g} vs reference"


# -- web ingest, then the dense-frontier supersteps on the web graph -----


def _links(ctx: Ctx) -> int:
    from gminer_spark.web.extract import links_table

    links = materialize(links_table(ctx.tables["pages"]))
    ctx.outputs["links"] = links
    ctx.outputs["n_links"] = links.count()
    return ctx.outputs["n_links"]


def _check_links(ctx: Ctx, n: int) -> str | None:
    want = ctx.ref["n_links"]
    return None if n == want else f"links_table: {n} links, generator wrote {want}"


def _edges(ctx: Ctx) -> int:
    from gminer_spark.web.edges import edges_from_links

    path = os.path.join(ctx.work, "edges_out.parquet")
    edges_from_links(ctx.outputs["links"]).write.mode("overwrite").parquet(path)
    n = ctx.spark.read.parquet(path).count()
    ctx.facts["web.edges.dedup_ratio"] = n / max(ctx.outputs["n_links"], 1)
    return n


def _read(path: str, *cols: str) -> list[tuple]:
    """Rows of a parquet file or directory, read without Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=list(cols))
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _check_edges(ctx: Ctx, n: int) -> str | None:
    got = set(_read(os.path.join(ctx.work, "edges_out.parquet"), "src", "dst"))
    want = {tuple(e) for e in ctx.ref["edges"]}
    if got == want:
        return None
    return f"edges_from_links: {len(got ^ want)} edges differ from xxhash64 of the generator's url pairs"


def _pagerank(ctx: Ctx) -> int:
    from gminer_spark.graph.pagerank import pagerank

    res = pagerank(ctx.tables["edges"], num_iter=inputs.PAGERANK_ITERS)
    ctx.outputs["pagerank"] = res.state
    return _superstep(ctx, "graph.pagerank.pagerank", res)


def _check_pagerank(ctx: Ctx, _n) -> str | None:
    got = _as_map(ctx.outputs["pagerank"], "id", "rank")
    return _close(got, ctx.ref["pagerank"], "pagerank", 1e-6)


def _pagerank_ckpt(ctx: Ctx) -> int:
    from gminer_spark.checkpoint import CheckpointStore
    from gminer_spark.graph.pagerank import pagerank

    store = CheckpointStore(ctx.spark, os.path.join(ctx.work, "ckpt"))
    res = pagerank(
        ctx.tables["edges"], num_iter=inputs.PAGERANK_ITERS, store=store, resume=False
    )
    ctx.outputs["pagerank_ckpt"] = res.state
    return _superstep(ctx, "checkpoint.pagerank_store", res)


def _check_pagerank_ckpt(ctx: Ctx, _n) -> str | None:
    path = os.path.join(ctx.work, "ckpt")
    ctx.facts["checkpoint.bytes_written"] = _du(path)
    got = _as_map(ctx.outputs["pagerank_ckpt"], "id", "rank")
    shutil.rmtree(path)
    return _close(got, ctx.ref["pagerank"], "pagerank(store)", 1e-6)


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _lpa(ctx: Ctx) -> int:
    from gminer_spark.graph.lpa import label_propagation

    res = label_propagation(ctx.tables["edges"], num_iter=3)
    ctx.outputs["lpa"] = res.state
    return _superstep(ctx, "graph.lpa.label_propagation", res)


def _check_lpa(ctx: Ctx, _n) -> str | None:
    return _exact(_as_map(ctx.outputs["lpa"], "id", "label"), ctx.ref["lpa3"], "lpa")


# -- traverse_sparse: shrinking / narrow frontiers on the same graph ------


def _cc(ctx: Ctx) -> int:
    from gminer_spark.graph.cc import connected_components

    res = connected_components(ctx.tables["edges"])
    ctx.outputs["cc"] = res.state
    return _superstep(ctx, "graph.cc.connected_components", res)


def _check_cc(ctx: Ctx, _n) -> str | None:
    return _exact(_as_map(ctx.outputs["cc"], "id", "component"), ctx.ref["cc"], "cc")


def _sources(ctx: Ctx, key: str) -> DataFrame:
    return ctx.spark.createDataFrame([(v,) for v in ctx.ref[key]], "id long")


def _sssp(ctx: Ctx) -> int:
    from gminer_spark.graph.sssp import shortest_paths

    res = shortest_paths(ctx.tables["edges"], _sources(ctx, "sssp_sources"))
    ctx.outputs["sssp"] = res.state
    return _superstep(ctx, "graph.sssp.shortest_paths", res)


def _check_sssp(ctx: Ctx, _n) -> str | None:
    return _exact(_as_map(ctx.outputs["sssp"], "id", "dist"), ctx.ref["sssp"], "sssp")


def _bc(ctx: Ctx) -> int:
    from gminer_spark.graph.betweenness import betweenness_sampled

    out = materialize(
        betweenness_sampled(ctx.tables["edges"], _sources(ctx, "bc_sources"))
    )
    ctx.outputs["bc"] = out
    return out.count()


def _check_bc(ctx: Ctx, _n) -> str | None:
    got = _as_map(ctx.outputs["bc"], "id", "bc")
    want = {k: v for k, v in ctx.ref["bc"].items() if k in got or v != 0.0}
    got = {k: got.get(k, 0.0) for k in want}
    return _close(got, want, "betweenness_sampled", 1e-9)


def _node2vec(ctx: Ctx) -> int:
    from gminer_spark.graph.walks import random_walks_node2vec

    out = materialize(
        random_walks_node2vec(
            ctx.tables["edges"], walk_len=3, ret_bias=4, in_bias=2, out_bias=1
        )
    )
    ctx.outputs["walks"] = out
    return out.count()


def _check_node2vec(ctx: Ctx, _n) -> str | None:
    rows = ctx.outputs["walks"].select("start", "walk", "step", "vertex").collect()
    adj = ctx.outputs.setdefault("web_adj", _undirected(ctx.ref["edges"]))
    walks: dict[tuple, dict[int, int]] = {}
    for r in rows:
        walks.setdefault((r.start, r.walk), {})[r.step] = r.vertex
    if len(walks) != len(adj):
        return f"node2vec: {len(walks)} walks for {len(adj)} vertices"
    for (start, _), steps in walks.items():
        path = [steps[i] for i in sorted(steps)]
        if path[0] != start or any(b not in adj[a] for a, b in zip(path, path[1:])):
            return f"node2vec: walk from {start} leaves the graph: {path}"
    return check_fingerprint(ctx, "graph.walks.random_walks_node2vec", rows)


def _undirected(edges) -> dict[int, set[int]]:
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    return adj


# -- GMiner's mining apps on a dense co-purchase graph --------------------


def _mine_adj(ctx: Ctx) -> dict[int, set[int]]:
    if "mine_adj" not in ctx.outputs:
        path = os.path.join(ctx.input_dirs["mine"], "wedges.parquet")
        ctx.outputs["mine_adj"] = _undirected(_read(path, "src", "dst"))
    return ctx.outputs["mine_adj"]


def _oriented(ctx: Ctx) -> int:
    from gminer_spark.graph.triangles import oriented_edges

    oe = materialize(oriented_edges(ctx.tables["mine_edges"]))
    outdeg = oe.groupBy("src").count()
    wedges = outdeg.select(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0]
    ctx.outputs["oriented"] = oe
    ctx.facts["wedges"] = float(wedges or 0)
    return oe.count()


def _check_oriented(ctx: Ctx, n: int) -> str | None:
    adj = _mine_adj(ctx)
    want = sum(len(v) for v in adj.values()) // 2
    if n != want:
        return f"oriented_edges: {n} rows for {want} undirected edges"
    rows = ctx.outputs["oriented"].select("src", "dst").collect()
    if len({frozenset((r.src, r.dst)) for r in rows}) != want:
        return "oriented_edges: an undirected edge is missing or oriented twice"
    return None


def _triangles(ctx: Ctx) -> int:
    from gminer_spark.graph.triangles import triangle_count

    n = triangle_count(ctx.tables["mine_edges"])
    if ctx.facts.get("wedges"):
        ctx.facts["graph.triangles.close_ratio"] = n / ctx.facts["wedges"]
    return n


def _check_triangles(ctx: Ctx, n: int) -> str | None:
    want = ctx.ref["triangles"]
    return None if n == want else f"triangle_count: {n}, reference {want}"


def _max_clique(ctx: Ctx):
    from gminer_spark.graph.mining import max_clique

    return max_clique(ctx.tables["mine_edges"])


def _check_max_clique(ctx: Ctx, res) -> str | None:
    size, members = res
    adj = _mine_adj(ctx)
    if size != ctx.ref["clique_size"] or len(set(members)) != size:
        return f"max_clique: size {size} ({len(members)} members), reference {ctx.ref['clique_size']}"
    for i, a in enumerate(members):
        for b in members[i + 1 :]:
            if b not in adj.get(a, ()):
                return f"max_clique: members {a} and {b} are not adjacent"
    return None


def _communities(ctx: Ctx) -> int:
    from gminer_spark.graph.mining import attributed_communities

    out = materialize(
        attributed_communities(ctx.tables["mine_edges"], ctx.tables["attrs"], k=4)
    )
    ctx.outputs["communities"] = out
    return out.count()


def _check_communities(ctx: Ctx, n: int) -> str | None:
    adj = _mine_adj(ctx)
    if "attrs" not in ctx.outputs:
        path = os.path.join(ctx.input_dirs["mine"], "attrs.parquet")
        ctx.outputs["attrs"] = dict(_read(path, "id", "attr"))
    attrs = ctx.outputs["attrs"]
    rows = ctx.outputs["communities"].select("community", "shared_attr").collect()
    if not rows:
        return "attributed_communities: no community found"
    for r in rows:
        c = list(r.community)
        if len(c) < 4 or any(attrs.get(v) != r.shared_attr for v in c):
            return f"attributed_communities: {c} does not share {r.shared_attr}"
        if any(b not in adj[a] for i, a in enumerate(c) for b in c[i + 1 :]):
            return f"attributed_communities: {c} is not a clique"
    return check_fingerprint(ctx, "graph.mining.attributed_communities", rows)


def _focusco(ctx: Ctx) -> int:
    from gminer_spark.graph.focusco import FocusCOParams, focused_clusters

    params = FocusCOParams(
        min_weight=ctx.ref["focusco_min_weight"],
        min_core_size=8,
        min_result_size=3,
        diff_ratio=0.05,
        iter_round_max=3,
        cand_max_time=5.0,
    )
    out = materialize(
        focused_clusters(
            ctx.tables["wedges"],
            params,
            seeds=ctx.ref["focusco_seeds"],
            max_spark_rounds=40,
        )
    )
    ctx.outputs["focusco"] = out
    return out.count()


def _check_focusco(ctx: Ctx, n: int) -> str | None:
    adj = _mine_adj(ctx)
    rows = ctx.outputs["focusco"].select("cluster", "outlier", "phi").collect()
    if not rows:
        return "focused_clusters: no cluster found"
    for r in rows:
        if len(r.cluster) < 3 or any(v not in adj for v in r.cluster):
            return f"focused_clusters: bad cluster {list(r.cluster)}"
    return check_fingerprint(ctx, "graph.focusco.focused_clusters", rows)


def _motif(ctx: Ctx) -> int:
    from gminer_spark.graph.motif import find

    out = materialize(find(ctx.tables["motif_edges"], inputs.MOTIF_PATTERN))
    ctx.outputs["motif"] = out
    return out.count()


def _check_motif(ctx: Ctx, n: int) -> str | None:
    got = sorted(
        [r.a, r.b, r.c, r.d] for r in ctx.outputs["motif"].select("a", "b", "c", "d").collect()
    )
    want = ctx.ref["motif_rows"]
    if got == want:
        return None
    return f"motif.find: {len(got)} matches, reference {len(want)}"


WEB_EDGES = {"edges": ("web", "edges.parquet")}
MINE_TABLES = {
    "wedges": ("mine", "wedges.parquet"),
    "attrs": ("mine", "attrs.parquet"),
    "motif_edges": ("mine", "motif_edges.parquet"),
}

# Two workloads, split the way Pregelix splits superstep plans: every
# vertex active in every round (ranking, and the mining apps' dense
# ego-nets) against a shrinking or narrow frontier (traversals).
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "rank_mine_dense",
            {"pages": ("web", "pages.parquet"), **WEB_EDGES, **MINE_TABLES},
            [
                Op("web.extract.links_table", _links, _check_links),
                Op("web.edges.edges_from_links", _edges, _check_edges),
                Op("graph.pagerank.pagerank", _pagerank, _check_pagerank),
                Op("checkpoint.pagerank_store", _pagerank_ckpt, _check_pagerank_ckpt),
                Op("graph.lpa.label_propagation", _lpa, _check_lpa),
                Op("graph.triangles.oriented_edges", _oriented, _check_oriented),
                Op("graph.triangles.triangle_count", _triangles, _check_triangles),
                Op("graph.mining.max_clique", _max_clique, _check_max_clique),
                Op(
                    "graph.mining.attributed_communities",
                    _communities,
                    _check_communities,
                ),
                Op("graph.focusco.focused_clusters", _focusco, _check_focusco),
                Op("graph.motif.find", _motif, _check_motif),
            ],
        ),
        Workload(
            "traverse_sparse",
            WEB_EDGES,
            [
                Op("graph.cc.connected_components", _cc, _check_cc),
                Op("graph.sssp.shortest_paths", _sssp, _check_sssp),
                Op("graph.betweenness.betweenness_sampled", _bc, _check_bc),
                Op("graph.walks.random_walks_node2vec", _node2vec, _check_node2vec),
            ],
        ),
    )
}

SPANS = [op.span for w in WORKLOADS.values() for op in w.ops]


def load_tables(
    spark: SparkSession, wl: Workload, input_dirs: dict[str, str]
) -> dict[str, DataFrame]:
    tables = {
        name: materialize(spark.read.parquet(os.path.join(input_dirs[kind], fname)))
        for name, (kind, fname) in wl.tables.items()
    }
    if "wedges" in tables:
        tables["mine_edges"] = tables["wedges"].select("src", "dst")
    return tables
