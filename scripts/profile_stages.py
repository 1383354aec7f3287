"""Per-stage profile of headline queries: where does wall time go?

Runs each query once warm + once timed in a session with the event
log enabled, then parses the event log to attribute stage time.

Usage: python scripts/profile_stages.py [query ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from canadiannewsdatapipeline_spark.queries import QUERIES  # noqa: E402
from canadiannewsdatapipeline_spark.session import get_spark  # noqa: E402

EVDIR = "/tmp/spark-events-profile"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:] or [n for n in HEADLINE if n in QUERIES]
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    # The session is the engine's own (session.get_spark), so this
    # profile runs under the same config as bench and tests; event
    # logging is the only addition, passed to the JVM at launch.
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir={EVDIR}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"),
        ]
    )
    spark = get_spark("profile-stages")
    windows = {}
    for name in names:
        df = QUERIES[name].fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()  # warm
        t0_ms = time.time() * 1000
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        windows[name] = (t0_ms, time.time() * 1000, wall)
    spark.stop()

    cand = []
    for root, _dirs, files in os.walk(EVDIR):
        for f in files:
            if f.startswith("events_") or f.startswith("local-"):
                cand.append(os.path.join(root, f))
    lines = []
    for log in cand:
        with open(log) as fh:
            lines.extend(fh.readlines())
    stages = []
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        if ev.get("Event") == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            if sub is None or comp is None:
                continue
            stages.append(
                (sub, comp, si.get("Number of Tasks"), si.get("Stage Name", "")[:70])
            )
    for name, (a, b, wall) in windows.items():
        mine = [s for s in stages if s[0] >= a - 50 and s[1] <= b + 2000]
        mine.sort()
        tot = sum((c - s) / 1000.0 for s, c, _, _ in mine)
        print(f"\n=== {name}: wall={wall:.3f}s stages={len(mine)} stage_sum={tot:.3f}s")
        for s, c, ntask, nm in mine:
            print(f"  +{(s - a)/1000.0:6.3f}s dur={(c - s)/1000.0:6.3f}s tasks={ntask:3d}  {nm}")


if __name__ == "__main__":
    main()
