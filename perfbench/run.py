"""Link-graph benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload rank_mine_dense --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run generates (or reuses) the
seed's inputs, sets up a Spark session three times and reports the
median set-up, then runs whole passes of the workload until
``--seconds`` have gone by (at least one pass), checking every call's
output.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
runs one pass with Spark's event log on and prints the per-layer
metrics folded from that log (see README.md).  All files go under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CPUS = len(os.sched_getaffinity(0))
# Small graphs: one shuffle partition per core keeps task overhead down.
SHUFFLE_PARTITIONS = CPUS
DRIVER_MEMORY = "4g"
SETUPS = 3


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _warm(it):
    for pdf in it:
        yield pdf


def _shutdown_jvm() -> None:
    """Stop the gateway JVM pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _session(conf: dict[str, str]):
    from gminer_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )


def run_pass(ctx, wl) -> tuple[dict[str, float], list[str]]:
    """One pass over the workload's calls: seconds per span, errors."""
    sc = ctx.spark.sparkContext
    times: dict[str, float] = {}
    errors: list[str] = []
    for op in wl.ops:
        sc.setJobGroup(op.span, op.span)
        t0 = time.perf_counter()
        try:
            out = op.run(ctx)
            err = None
        except Exception as exc:  # a failed call is a measured outcome
            out, err = None, f"{op.span}: {type(exc).__name__}: {str(exc)[:300]}"
            traceback.print_exc(file=sys.stderr)
        times[op.span] = time.perf_counter() - t0
        sc.setJobGroup("perfbench.check", "output checks")
        t0 = time.perf_counter()
        if err is None:
            try:
                err = op.check(ctx, out)
            except Exception as exc:
                err = f"{op.span}: check raised {type(exc).__name__}: {str(exc)[:300]}"
        if err is not None:
            errors.append(err)
        ctx.facts["check_s"] = ctx.facts.get("check_s", 0.0) + time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    return times, errors


def measure(args, trace: bool) -> dict:
    from perfbench import inputs
    from perfbench.workloads import WORKLOADS, Ctx, load_tables

    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, "run", str(os.getpid()))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file:" + os.path.join(run_dir, "eventlog"),
            }
        )
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)

    t0 = time.perf_counter()
    input_dirs = {
        kind: inputs.ensure_inputs(kind, args.seed, os.path.join(WORK, "inputs"), ROOT)
        for kind in wl.inputs
    }
    ref = {}
    for d in input_dirs.values():
        ref.update(inputs.load_reference(d))
    inputs_s = time.perf_counter() - t0

    # The first set-up also launches the JVM and runs its first jobs; the
    # later ones get the running session back from get_spark, so the
    # median reports loading and warm-up in a running session.  The
    # traced run reports no set-up time, so it sets up once.
    setups = []
    for _ in range(1 if trace else SETUPS):
        t0 = time.perf_counter()
        spark = _session(conf)
        tables = load_tables(spark, wl, input_dirs)
        spark.range(0, CPUS * 1000, numPartitions=CPUS).mapInPandas(
            _warm, "id long"
        ).count()
        setups.append(time.perf_counter() - t0)

    fp_path = os.path.join(
        WORK, "fingerprints", f"{wl.name}-v{inputs.INPUT_VERSION}-seed{args.seed}.json"
    )
    fingerprints = {}
    if os.path.exists(fp_path):
        with open(fp_path) as fh:
            fingerprints = json.load(fh)
    ctx = Ctx(spark, args.seed, run_dir, ref, tables, input_dirs, fingerprints=fingerprints)

    passes, errors = [], []
    t0 = time.perf_counter()
    while True:
        times, errs = run_pass(ctx, wl)
        passes.append(times)
        errors.extend(errs)
        if trace or time.perf_counter() - t0 >= args.seconds:
            break

    os.makedirs(os.path.dirname(fp_path), exist_ok=True)
    with open(fp_path + ".tmp", "w") as fh:
        json.dump(ctx.fingerprints, fh)
    os.replace(fp_path + ".tmp", fp_path)

    app_id = spark.sparkContext.applicationId
    spark.stop()
    result = {
        "workload": wl.name,
        "seed": args.seed,
        "cpus": CPUS,
        "inputs_s": inputs_s,
        "setups_s": setups,
        "passes": passes,
        "attempted": len(passes) * len(wl.ops),
        "errors": errors,
        "facts": ctx.facts,
        "history": ctx.history,
    }
    if trace:
        result["eventlog"] = os.path.join(run_dir, "eventlog", app_id)
    return result


def end_to_end(res: dict) -> dict:
    walls = [sum(p.values()) for p in res["passes"]]
    return {
        "setup_s": {"value": statistics.median(res["setups_s"]), "unit": "s"},
        "wall_s": {"value": statistics.median(walls), "unit": "s"},
    }


def _artifact_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(WORK, "out", f"{workload}-seed{seed}-trace{trace}.json")


def _untraced_wall_s(args) -> tuple[float, dict | None]:
    """Untraced wall time of the same workload to set the traced pass
    against: the median over this checkout's untraced runs of it, or, if
    there are none yet, one untraced run in a child process (started
    before this process starts Spark).  Returns the wall time and the
    child's result, if one ran."""
    prefix = os.path.join(WORK, "out", f"{args.workload}-seed")
    walls = []
    for path in glob.glob(prefix + "*-trace0.json"):
        with open(path) as fh:
            walls.append(json.load(fh)["result"]["metrics"]["wall_s"]["value"])
    if walls:
        return statistics.median(walls), None
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=110)
    sys.stderr.write(proc.stderr[-4000:])
    if proc.returncode != 0:
        _die(f"untraced child run failed with code {proc.returncode}")
    child = json.loads(proc.stdout.strip().splitlines()[-1])
    return child["metrics"]["wall_s"]["value"], child


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gminer_spark", "__init__.py")):
        _die(f"no gminer_spark package under {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    if args.trace:
        untraced_wall_s, child = _untraced_wall_s(args)

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    import tempfile

    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    run_dir = os.path.join(WORK, "run", str(os.getpid()))
    try:
        res = measure(args, trace=bool(args.trace))
        if args.trace:
            from perfbench.eventlog import fold_file
            from perfbench.layers import layer_metrics

            groups = fold_file(res["eventlog"])
            metrics = layer_metrics(res, groups, untraced_wall_s)
            attempted = res["attempted"] + (child["attempted"] if child else 0)
            failed = len(res["errors"]) + (child["failed"] if child else 0)
        else:
            metrics, groups = end_to_end(res), None
            attempted, failed = res["attempted"], len(res["errors"])
    finally:
        _shutdown_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    artifact = dict(res, result=result)
    if groups is not None:
        from perfbench.layers import NOTES

        artifact.update(
            layers=groups, untraced_wall_s=untraced_wall_s, child=child, notes=NOTES
        )
        artifact.pop("eventlog")
    path = _artifact_path(args.workload, args.seed, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)

    per_op = {
        span: round(statistics.median(p[span] for p in res["passes"]), 3)
        for span in res["passes"][0]
    }
    print(f"# {args.workload} seed {args.seed}: {len(res['passes'])} pass(es), "
          f"median seconds per call {json.dumps(per_op)}")
    print(f"# error_rate {failed}/{attempted}")
    for err in res["errors"]:
        print(f"# error: {err}")
    print(f"# artifact: {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
