"""Deterministic random-walk sampling (DeepWalk-style corpus).

Training-data op: random-walk corpora feed graph-embedding trainers
(DeepWalk / node2vec), the graph analog of the text pipeline's token
streams.  The walk transition reuses the engine's cross-engine hash
idiom (gminer_spark.functions.h32, the md5-derived analog of the
reference's modular hashing, /root/reference/util/minhash.cpp:30-45):
at step t the walk at vertex v moves to neighbor with index

    h32("{seed}:{start}:{walk}:{t}:{v}") mod deg(v)

over the dst-sorted adjacency — fully deterministic, identical across
engines and partitionings, yet hash-uniform like a seeded RNG.

Spark shape: the indexed adjacency (src, dst, rn, deg) is two in-place
windows over the shared undirected adjacency (``tables.undirected``,
built once per edge table and already sorted); each step is ONE
equi-join on the current vertex with the rn filter applied inside the
join — walk state never leaves the cluster, lineage truncated per
step.  At 100 TB the walk table is (|V| × walks) rows per step,
hash-partitioned on the current vertex like every other frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gminer_spark.functions import h32
from gminer_spark.graph import tables


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_vertex: int = 1,
    seed: str = "w",
    starts: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """(start, walk, step, vertex) — deterministic walks over the
    undirected view; one walk row per step 0..walk_len.

    ``starts`` optionally restricts the start set (default: every
    vertex).  Walks never terminate early (the symmetrized view has
    no degree-0 vertices).

    ``weight_col`` names a POSITIVE INTEGER edge weight: transition
    probability becomes ∝ w.  The draw stays exact — the hash value
    is reduced modulo the vertex's total strength and the neighbor
    whose cumulative-weight interval [lo, hi) contains it is taken —
    so weighted walks keep the bit-identical cross-engine oracle
    (floating cumulative thresholds would not).
    """
    if weight_col is not None:
        n_shuffle = tables.shuffle_partitions(edges.sparkSession)
        fwd = edges.select(
            "src", "dst", F.col(weight_col).cast("long").alias("w")
        )
        rev = fwd.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
        sym = fwd.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()
        w_ord = Window.partitionBy("src").orderBy("dst")
        cum = (
            F.sum("w")
            .over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
        )
        adj = (
            sym.select(
                "src",
                "dst",
                F.coalesce(cum, F.lit(0)).alias("lo"),
                "w",
                F.sum("w").over(Window.partitionBy("src")).alias("deg"),
            )
            .select("src", "dst", "lo", (F.col("lo") + F.col("w")).alias("hi"), "deg")
            .repartition(n_shuffle, "src")
            .persist()
        )
        adj.count()
        verts = tables.vertices(sym)
    else:
        sym, _ = tables.undirected(edges)
        adj = _indexed(sym)
        verts = sym.select(F.col("src").alias("id")).distinct()

    if starts is not None:
        verts = verts.join(
            starts.select(F.col("id").cast("long").alias("id")).distinct(), on="id"
        )
    pos = verts.select(
        F.col("id").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))).alias("walk"),
        F.col("id").alias("vertex"),
    ).localCheckpoint()
    out = [pos.select("start", "walk", F.lit(0).alias("step"), "vertex")]
    for t in range(1, walk_len + 1):
        key = F.concat_ws(
            ":",
            F.lit(seed),
            F.col("start"),
            F.col("walk"),
            F.lit(t),
            F.col("vertex"),
        )
        if weight_col is not None:
            draw = h32(key) % adj.deg
            cond = (
                (pos.vertex == adj.src)
                & (draw >= F.col("lo"))
                & (draw < F.col("hi"))
            )
        else:
            cond = (pos.vertex == adj.src) & (adj.rn == h32(key) % adj.deg)
        stepped = (
            pos.join(adj, cond)
            .select("start", "walk", F.col("dst").alias("vertex"))
            # lazy leaf: referenced twice (union part + next step) but
            # computed once; the single count() below materializes the
            # whole chain as ONE job instead of one per step
            .localCheckpoint(eager=False)
        )
        out.append(stepped.select("start", "walk", F.lit(t).alias("step"), "vertex"))
        pos = stepped
    pos.count()  # one job materializes every step, before adj.unpersist()
    result = out[0]
    for df in out[1:]:
        result = result.unionByName(df)
    if weight_col is not None:
        adj.unpersist()
    return result


def _indexed(sym: DataFrame) -> DataFrame:
    """``(src, dst, rn, deg)``: ``rn`` ranks ``dst`` among ``src``'s
    neighbors in id order.  ``sym`` is the shared undirected adjacency,
    already partitioned on ``src`` and sorted by ``(src, dst)``, so both
    windows run in place (no exchange, no sort): re-deriving the table
    in each step costs one scan of the cached adjacency, the same as
    reading a persisted copy."""
    w = Window.partitionBy("src").orderBy("dst")
    return sym.select(
        "src",
        "dst",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count("*").over(Window.partitionBy("src")).alias("deg"),
    )


def random_walks_node2vec(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_vertex: int = 1,
    seed: str = "n2v",
    ret_bias: int = 1,
    in_bias: int = 1,
    out_bias: int = 1,
    starts: DataFrame | None = None,
) -> DataFrame:
    """node2vec second-order biased walks (Grover & Leskovec 2016)
    with ALL-INTEGER transition draws.

    The classic parameterization weighs the step ``cur -> x`` given
    the previous vertex ``prev`` by 1/p (x == prev), 1 (x adjacent to
    prev) or 1/q (otherwise).  Floating cumulative thresholds would
    break the bit-identical cross-engine oracle (CLAUDE.md's noted
    blocker), so the biases are INTEGER knobs ``(ret_bias, in_bias,
    out_bias)`` ∝ (1/p, 1, 1/q) — any rational (p, q) scales to
    integers — and the draw is ``h32(key) mod Σ bias`` landing in a
    cumulative-bias interval, exactly like the weighted first-order
    walk.

    Step 1 has no previous vertex and draws uniformly (the standard
    first step).  Steps >= 2: candidates are ONE adjacency join on the
    current vertex, the distance-to-prev class is one edge-existence
    join on (prev, x), and the interval bounds are one window over the
    (start, walk) position — all shuffle-bounded, no per-vertex alias
    tables materialized (the Σ deg² blow-up stays transient within a
    step, the same frontier×degree cost any distributed node2vec
    pays).  Returns (start, walk, step, vertex) like
    :func:`random_walks`.
    """
    sym, _ = tables.undirected(edges)
    adj = _indexed(sym)
    nb = sym.select(F.col("src").alias("prev"), F.col("dst").alias("cand"))

    verts = sym.select(F.col("src").alias("id")).distinct()
    if starts is not None:
        verts = verts.join(
            starts.select(F.col("id").cast("long").alias("id")).distinct(), on="id"
        )
    pos = verts.select(
        F.col("id").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))).alias("walk"),
        F.col("id").alias("vertex"),
    ).localCheckpoint()
    out = [pos.select("start", "walk", F.lit(0).alias("step"), "vertex")]

    def step_key(t: int):
        return F.concat_ws(
            ":",
            F.lit(seed),
            F.col("start"),
            F.col("walk"),
            F.lit(t),
            F.col("vertex"),
        )

    # step 1: uniform (no prev).  Every step is a LAZY leaf computed
    # once by the single materializing count() after the loop — one
    # Spark job for the whole walk instead of one per step.
    stepped = (
        pos.join(adj, (pos.vertex == adj.src) & (adj.rn == h32(step_key(1)) % adj.deg))
        .select(
            "start",
            "walk",
            F.col("vertex").alias("prev"),
            F.col("dst").alias("vertex"),
        )
        .localCheckpoint(eager=False)
    )
    out.append(stepped.select("start", "walk", F.lit(1).alias("step"), "vertex"))
    pos = stepped

    pw = Window.partitionBy("start", "walk").orderBy("cand")
    for t in range(2, walk_len + 1):
        cands = pos.join(
            adj.select(F.col("src").alias("vertex"), F.col("dst").alias("cand")),
            on="vertex",
        )
        # distance class of cand w.r.t. prev: 0 (return), 1 (common
        # neighbor), 2 (outward) — one existence join, never a
        # per-vertex alias table
        scored = (
            cands.join(
                nb.withColumn("is_nb", F.lit(True)), on=["prev", "cand"], how="left"
            )
            .select(
                "start",
                "walk",
                "prev",
                "vertex",
                "cand",
                F.when(F.col("cand") == F.col("prev"), F.lit(int(ret_bias)))
                .when(F.col("is_nb"), F.lit(int(in_bias)))
                .otherwise(F.lit(int(out_bias)))
                .cast("long")
                .alias("bias"),
            )
        )
        lo = F.coalesce(
            F.sum("bias").over(pw.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        tot = F.sum("bias").over(Window.partitionBy("start", "walk"))
        ranged = scored.select(
            "start",
            "walk",
            "vertex",
            "cand",
            lo.alias("lo"),
            (lo + F.col("bias")).alias("hi"),
            tot.alias("tot"),
        )
        draw = h32(step_key(t)) % F.col("tot")
        stepped = (
            ranged.where((draw >= F.col("lo")) & (draw < F.col("hi")))
            .select(
                "start",
                "walk",
                F.col("vertex").alias("prev"),
                F.col("cand").alias("vertex"),
            )
            .localCheckpoint(eager=False)
        )
        out.append(stepped.select("start", "walk", F.lit(t).alias("step"), "vertex"))
        pos = stepped

    pos.count()  # materialize every step's blocks in one job
    result = out[0]
    for df in out[1:]:
        result = result.unionByName(df)
    return result


def node2vec_oracle_sql(
    edges_cte: str,
    walk_len: int,
    walks_per_vertex: int,
    seed: str = "n2v",
    ret_bias: int = 1,
    in_bias: int = 1,
    out_bias: int = 1,
) -> str:
    """Unrolled node2vec steps — the same integer cumulative-bias draw
    as the engine, so every transition is bit-identical in DuckDB."""
    from gminer_spark.functions import h32_sql

    ctes = [
        f"{edges_cte.strip()}",
        """sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges)""",
        """adj AS MATERIALIZED (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn,
           COUNT(*) OVER (PARTITION BY src) AS deg
    FROM sym)""",
        f"""w0 AS MATERIALIZED (
    SELECT id AS start, wk AS walk, id AS vertex
    FROM (SELECT DISTINCT src AS id FROM sym)
    CROSS JOIN (SELECT UNNEST(range({walks_per_vertex})) AS wk))""",
    ]
    key1 = (
        f"'{seed}:' || CAST(p.start AS VARCHAR) || ':' || "
        f"CAST(p.walk AS VARCHAR) || ':1:' || CAST(p.vertex AS VARCHAR)"
    )
    ctes.append(
        f"""w1 AS MATERIALIZED (
    SELECT p.start, p.walk, p.vertex AS prev, a.dst AS vertex
    FROM w0 p JOIN adj a
      ON a.src = p.vertex
     AND a.rn = {h32_sql(key1)} % a.deg)"""
    )
    for t in range(2, walk_len + 1):
        key = (
            f"'{seed}:' || CAST(start AS VARCHAR) || ':' || "
            f"CAST(walk AS VARCHAR) || ':{t}:' || CAST(vertex AS VARCHAR)"
        )
        ctes.append(
            f"""s{t} AS MATERIALIZED (
    SELECT p.start, p.walk, p.prev, p.vertex, a.dst AS cand,
           CAST(CASE WHEN a.dst = p.prev THEN {int(ret_bias)}
                     WHEN nb.src IS NOT NULL THEN {int(in_bias)}
                     ELSE {int(out_bias)} END AS BIGINT) AS bias
    FROM w{t - 1} p
    JOIN adj a ON a.src = p.vertex
    LEFT JOIN sym nb ON nb.src = p.prev AND nb.dst = a.dst)"""
        )
        ctes.append(
            f"""r{t} AS MATERIALIZED (
    SELECT start, walk, vertex, cand,
           COALESCE(SUM(bias) OVER (PARTITION BY start, walk ORDER BY cand
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
           COALESCE(SUM(bias) OVER (PARTITION BY start, walk ORDER BY cand
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + bias AS hi,
           SUM(bias) OVER (PARTITION BY start, walk) AS tot
    FROM s{t})"""
        )
        ctes.append(
            f"""w{t} AS MATERIALIZED (
    SELECT start, walk, vertex AS prev, cand AS vertex
    FROM r{t}
    WHERE ({h32_sql(key)} % tot) >= lo AND ({h32_sql(key)} % tot) < hi)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT start, walk, CAST({t} AS BIGINT) AS step, vertex FROM w{t}"
        for t in range(walk_len + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context) training pairs from a walk corpus — the
    DeepWalk skip-gram window, as one self-join per corpus.

    Pairs are emitted for 0 < |Δstep| <= window within the same
    (start, walk); both directions (skip-gram is symmetric).  The join
    key is the walk id, so the shuffle is corpus-partitioned and the
    per-key fan-out is bounded by walk_len² — constant, not data-skew
    prone.
    """
    a = walks.select(
        F.col("start"), F.col("walk"), F.col("step").alias("sa"),
        F.col("vertex").alias("center"),
    )
    b = walks.select(
        F.col("start"), F.col("walk"), F.col("step").alias("sb"),
        F.col("vertex").alias("context"),
    )
    return (
        a.join(b, on=["start", "walk"])
        .where(
            (F.col("sa") != F.col("sb"))
            & (F.abs(F.col("sa") - F.col("sb")) <= window)
        )
        .select("center", "context")
    )


def random_walks_oracle_sql(
    edges_cte: str,
    walk_len: int,
    walks_per_vertex: int,
    seed: str = "w",
) -> str:
    """Unrolled walk steps as a CTE chain; the per-step transition is
    the same md5-derived index both engines compute bit-identically."""
    from gminer_spark.functions import h32_sql

    ctes = [
        f"{edges_cte.strip()}",
        """sym AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION SELECT dst AS src, src AS dst FROM edges)""",
        """adj AS MATERIALIZED (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn,
           COUNT(*) OVER (PARTITION BY src) AS deg
    FROM sym)""",
        f"""w0 AS MATERIALIZED (
    SELECT id AS start, wk AS walk, id AS vertex
    FROM (SELECT DISTINCT src AS id FROM sym)
    CROSS JOIN (SELECT UNNEST(range({walks_per_vertex})) AS wk))""",
    ]
    for t in range(1, walk_len + 1):
        key = (
            f"'{seed}:' || CAST(p.start AS VARCHAR) || ':' || "
            f"CAST(p.walk AS VARCHAR) || ':{t}:' || CAST(p.vertex AS VARCHAR)"
        )
        ctes.append(
            f"""w{t} AS MATERIALIZED (
    SELECT p.start, p.walk, a.dst AS vertex
    FROM w{t - 1} p JOIN adj a
      ON a.src = p.vertex
     AND a.rn = {h32_sql(key)} % a.deg)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT start, walk, CAST({t} AS BIGINT) AS step, vertex FROM w{t}"
        for t in range(walk_len + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


def weighted_walks_oracle_sql(
    wedges_cte: str,
    walk_len: int,
    walks_per_vertex: int,
    seed: str = "w",
) -> str:
    """Unrolled WEIGHTED walks: ``wedges_cte`` defines
    ``wedges(src, dst, w)`` with positive integer weights; the draw is
    ``h32(key) mod strength`` landing in a cumulative-weight interval
    — all-integer, bit-identical across engines."""
    from gminer_spark.functions import h32_sql

    ctes = [
        f"{wedges_cte.strip()}",
        """wsym AS MATERIALIZED (
    SELECT src, dst, w FROM wedges
    UNION SELECT dst AS src, src AS dst, w FROM wedges)""",
        """adj AS MATERIALIZED (
    SELECT src, dst,
           COALESCE(SUM(w) OVER (PARTITION BY src ORDER BY dst
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
           COALESCE(SUM(w) OVER (PARTITION BY src ORDER BY dst
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + w AS hi,
           SUM(w) OVER (PARTITION BY src) AS deg
    FROM wsym)""",
        f"""w0 AS MATERIALIZED (
    SELECT id AS start, wk AS walk, id AS vertex
    FROM (SELECT DISTINCT src AS id FROM wsym)
    CROSS JOIN (SELECT UNNEST(range({walks_per_vertex})) AS wk))""",
    ]
    for t in range(1, walk_len + 1):
        key = (
            f"'{seed}:' || CAST(p.start AS VARCHAR) || ':' || "
            f"CAST(p.walk AS VARCHAR) || ':{t}:' || CAST(p.vertex AS VARCHAR)"
        )
        draw = f"({h32_sql(key)} % a.deg)"
        ctes.append(
            f"""w{t} AS MATERIALIZED (
    SELECT p.start, p.walk, a.dst AS vertex
    FROM w{t - 1} p JOIN adj a
      ON a.src = p.vertex
     AND {draw} >= a.lo AND {draw} < a.hi)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT start, walk, CAST({t} AS BIGINT) AS step, vertex FROM w{t}"
        for t in range(walk_len + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


def skipgram_pairs_oracle_sql(
    edges_cte: str,
    walk_len: int,
    walks_per_vertex: int,
    window: int = 2,
    seed: str = "w",
) -> str:
    """Skip-gram pair counts over the unrolled walk corpus."""
    base = random_walks_oracle_sql(edges_cte, walk_len, walks_per_vertex, seed)
    ctes, _, selects = base.partition("\nSELECT start")
    selects = "SELECT start" + selects
    return f"""{ctes},
corpus AS MATERIALIZED (
{selects}
)
SELECT a.vertex AS center, b.vertex AS context,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM corpus a JOIN corpus b
  ON a.start = b.start AND a.walk = b.walk
WHERE a.step <> b.step AND ABS(a.step - b.step) <= {window}
GROUP BY 1, 2"""
