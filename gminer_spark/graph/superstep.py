"""Driver-side superstep loop — the BSP engine re-expressed on Spark.

The reference's BSP loop (/root/reference/partition/BPartitioner.tpp:361-424
for Voronoi, :104-161 for hash-min) is:

    while all_sum(active) > 0 or has_msg:
        active_compute()       # per-vertex compute over incoming messages
        sync_messages()        # route msgs by hash(dst) % n, all_to_all
        barrier

Our equivalents: ``step_fn(state) -> (new_state, step_metrics)`` where
the message shuffle is the ``groupBy(dst)`` inside the step, the
combiner (/root/reference/util/vecs.tpp:79-107) is Spark's partial
aggregation, the MPI allreduce termination test
(/root/reference/util/communication.hpp:20-30) is a driver-side
aggregate, and the per-superstep barrier is the action that
materializes the new state.  :func:`min_label_round` is the one-action
form for min-combiner programs (hash-min CC, Bellman-Ford): the
termination counts ride on the materializing action as an
``Observation`` instead of a second query.

Lineage is truncated every superstep (checkpoint write + re-read, or
``localCheckpoint`` when no store is given) — otherwise the iterative
plan nests one join per iteration and Catalyst analysis time blows up.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from gminer_spark.checkpoint import CheckpointStore

StepFn = Callable[[DataFrame, int], tuple[DataFrame, dict[str, Any]]]
ConvergedFn = Callable[[dict[str, Any]], bool]


@dataclass
class SuperstepResult:
    state: DataFrame
    supersteps_run: int
    last_superstep: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def run_supersteps(
    init_state: DataFrame,
    step_fn: StepFn,
    converged_fn: ConvergedFn,
    max_iter: int = 100,
    store: CheckpointStore | None = None,
    resume: bool = True,
) -> SuperstepResult:
    """Run the BSP loop to convergence.

    ``step_fn(state, superstep)`` returns the next state plus a metrics
    dict (must include whatever ``converged_fn`` inspects; by
    convention: ``edges_scanned``, ``messages_shuffled``, ``delta``).
    ``converged_fn(metrics)`` is the vote-to-halt analog
    (/root/reference/partition/BVertex.tpp:56-66): True ends the loop.

    With a ``store``, superstep 0 commits the initial state and each
    iteration commits before the convergence test — so a kill at any
    point resumes from the last committed superstep and converges to
    the identical fixpoint (hash-min / LPA / PageRank updates are
    idempotent given the committed state).
    """
    state = init_state
    start_step = 0
    history: list[dict[str, Any]] = []

    if store is not None:
        latest = store.latest() if resume else None
        if latest is not None:
            start_step, state, _ = latest
            if _is_final(store, start_step):
                return SuperstepResult(state, 0, start_step, True, history)
        else:
            state = store.commit(0, state, {"phase": "init"})
    else:
        state = state.localCheckpoint()

    converged = False
    k = start_step
    for k in range(start_step + 1, max_iter + 1):
        t0 = time.time()
        new_state, metrics = step_fn(state, k)
        metrics["superstep"] = k
        # a step_fn that already materialized its state (one-action
        # rounds: cc/sssp/lpa/pagerank) sets _checkpointed —
        # re-checkpointing a leaf would re-encode the whole table for
        # nothing.  The flag is popped so store commits / history never
        # see it (checkpoint metrics schemas are append-merged).
        already = bool(metrics.pop("_checkpointed", False))
        if store is not None:
            state = store.commit(k, new_state, metrics)
        elif already:
            state = new_state
        else:
            state = new_state.localCheckpoint()
        metrics["wall_sec"] = time.time() - t0
        history.append(metrics)
        if converged_fn(metrics):
            converged = True
            if store is not None:
                _mark_final(store, k)
            break

    return SuperstepResult(state, len(history), k, converged, history)


def min_label_round(
    state: DataFrame, adj: DataFrame, col: str, msg: Column, edges_scanned: int
) -> tuple[DataFrame, dict[str, Any]]:
    """One superstep of a min-combiner vertex program as ONE Spark action.

    ``state(id, <col>, active)`` holds a BIGINT value per vertex;
    ``adj(src, dst, ...)`` is the adjacency; ``msg`` is the value an
    active vertex sends along each of its edges, as an expression over
    the joined ``state``/``adj`` row.  Each vertex keeps the min of its
    own value and its messages, and is active next round iff a message
    improved it or first reached it (the reference's vote-to-halt,
    partition/BVertex.tpp:56-66).

    The state is referenced ONCE: a left join to ``adj`` (matching only
    active vertices) yields every vertex's own row and its outgoing
    messages, and one ``groupBy`` on the target vertex folds both (min
    is the combiner, applied map-side).  With one reference, plain
    eager ``localCheckpoint`` keeps the origin chain linear (the
    two-reference case needs ``tables.plan_barrier``).  The changed
    count and the number of message rows come from an ``Observation``
    on that same action — no second count query.
    """
    joined = state.join(adj, (state.id == adj.src) & state.active, "left")
    no_value = F.lit(None).cast("long")
    rows = joined.select(
        F.inline(
            F.array(
                F.struct(F.col("id"), F.col(col).alias("own"), no_value.alias("msg")),
                F.struct(F.col("dst").alias("id"), no_value.alias("own"), msg.alias("msg")),
            )
        )
    ).where(F.col("id").isNotNull())
    obs = Observation()
    new_state = (
        rows.groupBy("id")
        .agg(
            F.min("own").alias("own"),
            F.min("msg").alias("msg"),
            F.count("msg").alias("n_msgs"),
        )
        .select(
            "id",
            F.least("own", "msg").alias(col),
            (
                F.col("own").isNull() | F.coalesce(F.col("msg") < F.col("own"), F.lit(False))
            ).alias("active"),
            "n_msgs",
        )
        .observe(
            obs,
            F.count(F.when(F.col("active"), 1)).alias("changed"),
            F.coalesce(F.sum("n_msgs"), F.lit(0)).alias("messages"),
        )
        .drop("n_msgs")
        .localCheckpoint()
    )
    counts = obs.get
    metrics = {
        "edges_scanned": edges_scanned,
        "messages_shuffled": int(counts["messages"]),
        "delta": float(counts["changed"]),
        "changed": int(counts["changed"]),
        "_checkpointed": True,
    }
    return new_state, metrics


def _mark_final(store: CheckpointStore, superstep: int) -> None:
    manifest = store._read_manifest()
    manifest["final_superstep"] = superstep
    store._write_manifest(manifest)


def _is_final(store: CheckpointStore, superstep: int) -> bool:
    return store._read_manifest().get("final_superstep") == superstep
