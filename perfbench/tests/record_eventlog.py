"""Record the small Spark event log the parser tests read.

    python3 perfbench/tests/record_eventlog.py

Runs one traced raster pass over a 12-doc corpus at local[2] with an
uncompressed event log, keeps only the events and fields that
``perfbench.ledger`` reads (no host paths, no environment), and writes them
to ``perfbench/tests/data/eventlog.jsonl``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(HERE, "data", "eventlog.jsonl")

_TASK_METRICS = ("Executor CPU Time", "JVM GC Time", "Shuffle Read Metrics",
                 "Shuffle Write Metrics")


def _plan(node: dict) -> dict:
    return {
        "nodeName": node["nodeName"],
        "metrics": [
            {"name": m["name"], "accumulatorId": m["accumulatorId"]}
            for m in node.get("metrics", ())
        ],
        "children": [_plan(c) for c in node.get("children", ())],
    }


def scrub(ev: dict, phase_key: str) -> dict | None:
    """One event reduced to the fields the ledger reads, or None."""
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        return {
            "Event": kind, "Job ID": ev["Job ID"], "Stage IDs": ev["Stage IDs"],
            "Properties": {
                k: props[k] for k in (phase_key, "spark.sql.execution.id") if k in props
            },
        }
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": ev["Job ID"], "Completion Time": ev["Completion Time"]}
    if kind == "SparkListenerStageCompleted":
        si = ev["Stage Info"]
        return {"Event": kind, "Stage Info": {
            k: si[k] for k in ("Stage ID", "Stage Attempt ID", "Submission Time",
                               "Completion Time") if k in si
        }}
    if kind == "SparkListenerTaskEnd":
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        return {
            "Event": kind, "Stage ID": ev["Stage ID"],
            "Stage Attempt ID": ev["Stage Attempt ID"],
            "Task Info": {
                "Launch Time": info["Launch Time"], "Finish Time": info["Finish Time"],
                "Accumulables": [
                    {"ID": a["ID"], "Update": a["Update"]}
                    for a in info.get("Accumulables", ()) if "Update" in a
                ],
            },
            "Task Metrics": {k: m[k] for k in _TASK_METRICS if k in m},
        }
    if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
        return {"Event": kind, "executionId": ev["executionId"],
                "sparkPlanInfo": _plan(ev["sparkPlanInfo"])}
    if kind.endswith("SparkListenerDriverAccumUpdates"):
        return ev
    return None


def main() -> None:
    sys.path.insert(0, ROOT)
    from perfbench import run
    from perfbench.corpus import Spec, ensure_corpus
    from perfbench.ledger import read_event_log

    work = os.path.join(run.CACHE, "record")
    shutil.rmtree(work, ignore_errors=True)
    try:
        evdir = run._prepare_env(work, trace=True)
        spark = run._start(2)
        spec = Spec("raster", 0, list(range(12)), files=4)
        docs, blobs = ensure_corpus(spark, spec, work)
        from tableextraction_spark.pipeline import extract_spans

        spark.sparkContext.setLocalProperty(run.PHASE, "traced-0")
        extract_spans(spark, spark.read.parquet(docs), blobs).write.format(
            "noop"
        ).mode("overwrite").save()
        run._shutdown(spark)
        (log,) = [os.path.join(evdir, f) for f in os.listdir(evdir)]
        kept = [e for e in (scrub(ev, run.PHASE) for ev in read_event_log(log)) if e]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        for ev in kept:
            f.write(json.dumps(ev, sort_keys=True) + "\n")
    print(f"wrote {len(kept)} events to {OUT}")


if __name__ == "__main__":
    main()
