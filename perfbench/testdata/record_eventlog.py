"""Re-record ``eventlog_sample.jsonl``, the small log the folder test reads.

    python3 perfbench/testdata/record_eventlog.py

Runs a few tiny jobs under three job groups (an Arrow UDF, a shuffle,
and a job whose task fails) with an uncompressed event log, then keeps
only the events and fields ``perfbench.eventlog.fold`` reads.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

KEEP_METRICS = ("Executor Run Time", "Memory Bytes Spilled", "Disk Bytes Spilled")
KEEP_ACCUMS = ("time to run Python workers", "data sent to Python workers")


def _fail(it):
    for _ in it:
        raise ValueError("deliberate task failure")
    yield from ()


def _trim(ev: dict) -> dict | None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        group = ev.get("Properties", {}).get("spark.jobGroup.id")
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": kind, "Job ID": ev["Job ID"], "Stage IDs": ev["Stage IDs"],
                "Properties": props}
    if kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        metrics = {k: m[k] for k in KEEP_METRICS if k in m}
        metrics["Shuffle Write Metrics"] = {
            "Shuffle Bytes Written": (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
        }
        accs = [
            {"Name": a["Name"], "Update": a["Update"]}
            for a in ev["Task Info"].get("Accumulables", [])
            if a.get("Name") in KEEP_ACCUMS
        ]
        return {"Event": kind, "Stage ID": ev["Stage ID"],
                "Task End Reason": {"Reason": ev["Task End Reason"]["Reason"]},
                "Task Info": {"Accumulables": accs}, "Task Metrics": metrics}
    return None


def main() -> None:
    from pyspark.sql import functions as F

    from perfbench.eventlog import fold
    from gminer_spark.session import get_spark
    from gminer_spark.web.extract import links_table
    from gminer_spark.web.fixtures import pages_df, powerlaw_edges

    logdir = tempfile.mkdtemp()
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(logdir, "local")
    spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false", "spark.eventLog.dir": "file:" + logdir,
        "spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    sc.setJobGroup("udf", "udf")
    links_table(pages_df(spark, powerlaw_edges(20, 2, seed=1))).count()
    sc.setJobGroup("shuffle", "shuffle")
    spark.range(100).groupBy((F.col("id") % 7).alias("k")).count().collect()
    sc.setJobGroup("fail", "fail")
    try:
        spark.range(4, numPartitions=1).mapInPandas(_fail, "id long").collect()
    except Exception:
        pass
    spark.stop()
    (path,) = glob.glob(os.path.join(logdir, "local-*"))
    with open(path) as fh:
        events = [json.loads(line) for line in fh if line.strip()]
    shutil.rmtree(logdir)
    trimmed = [json.dumps(t) for t in map(_trim, events) if t is not None]
    full = fold(json.dumps(e) for e in events)
    if fold(trimmed) != full:
        raise SystemExit("trimming changed the folded counters")
    with open(os.path.join(HERE, "eventlog_sample.jsonl"), "w") as fh:
        fh.write("\n".join(trimmed) + "\n")
    print(json.dumps({g: {k: v for k, v in c.items()} for g, c in full.items()}, indent=1))


if __name__ == "__main__":
    main()
