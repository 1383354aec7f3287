"""Run the multiprobe's zero-knob shuffle tier on clustered
warehouses across NC cluster counts (16 -> 1024: from strongly
concentrated buckets toward uniform) under a tight disk budget, and
record for each NC

- the exact candidate count (x 70 B) and the resolved plan
  (``mp_mode_report``: tables per pass, pilot, pass count),
- the run: wall, peak scratch disk vs the budget, total shuffle-write
  bytes and their ratio to the exact count, the per-pass readings and
  the measured re-pack (``LAST_MP_SIZING_REPORT``),
- whether the run's first pass is the one the report predicted.

The observed/exact ratio of a single-pass rung is the evidence for
``MP_BYTE_DRIFT_GUARD`` (a single pass has no boundary at which a
measurement could correct it).

Usage:
  python scripts/skew_curve.py [--nc 16,64,256,1024] [--k 3]
      [--budget BYTES] [--out OUT.json]

One child subprocess per NC (fresh JVM + scratch dirs), warehouses
built by the parent via scale_ladder.build_rung (deterministic md5
content). ~1-4 min per NC at k=3 on a 4-core box.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/tmp/skew_curve"


def child(sf_dir: str, budget: int) -> int:
    from scale_ladder import _DiskTrace  # noqa: E402

    import canadiannewsdatapipeline_spark.operators.similarity as sim
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
        mp_mode_report,
    )
    from canadiannewsdatapipeline_spark.queries.llm import (
        _COS_THRESHOLD,
        _MP_BITS,
        _MP_HAMMING,
        _MP_POOL,
        _MP_RADIUS,
        _MP_TABLES,
    )
    from canadiannewsdatapipeline_spark.session import get_spark
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    spark = get_spark("skew-curve")
    tracer = _DiskTrace()
    emb = load_table(spark, sf_dir, "embeddings")
    common = dict(
        pool=_MP_POOL, n_bits=_MP_BITS, n_tables=_MP_TABLES,
        probe_radius=_MP_RADIUS, broadcast_corpus=False,
    )
    rep = mp_mode_report(
        emb, "vec_id", "embedding", disk_budget_bytes=budget, **common,
    )
    sim.LAST_MP_SIZING_REPORT = None
    sc = spark.sparkContext

    def shuffle_total():
        stages = sim._stage_shuffle_write_bytes(sc)
        return None if stages is None else sum(stages.values())

    shuf0 = shuffle_total()
    t0 = time.perf_counter()
    pairs = ann_lsh_multiprobe_pairs(
        emb, "vec_id", "embedding", threshold=_COS_THRESHOLD,
        hamming_max=_MP_HAMMING, disk_budget_bytes=budget, **common,
    )
    pairs.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    shuf1 = shuffle_total()
    disk = tracer.stop()
    fb = sim.LAST_MP_SIZING_REPORT
    passes = [p["tables"] for p in (fb or {}).get("passes", [])]
    shuffle = (
        shuf1 - shuf0 if shuf0 is not None and shuf1 is not None else None
    )
    rec = {
        "sf_dir": sf_dir,
        "n_rows": emb.count(),
        "exact_stream_bytes": rep["est_stream_bytes"],
        "decision": {
            k: rep[k]
            for k in ("regime", "tables_per_pass", "pilot_tables", "n_passes")
        },
        "run": {
            "sec": round(wall, 3),
            "budget_bytes": budget,
            "peak_disk_bytes": disk["peak_disk_bytes"],
            "budget_held": disk["peak_disk_bytes"] <= budget,
            "shuffle_write_bytes": shuffle,
            "observed_over_exact": (
                round(shuffle / rep["est_stream_bytes"], 3)
                if shuffle and rep["est_stream_bytes"]
                else None
            ),
            "pass_tables": passes,
            "first_pass_as_reported": (
                passes[:1]
                == [rep["pilot_tables"] or rep["tables_per_pass"]]
                if passes
                else rep["regime"] == "single-pass-shuffle"
            ),
            "mp_sizing_report": fb,
        },
    }
    print(json.dumps(rec))
    spark.stop()
    return 0


def main() -> int:
    argv = sys.argv[1:]
    if "--child" in argv:
        i = argv.index("--child")
        budget = int(argv[argv.index("--budget") + 1])
        return child(argv[i + 1], budget)

    def opt(name, default):
        return argv[argv.index(name) + 1] if name in argv else default

    ncs = [int(x) for x in opt("--nc", "16,64,256,1024").split(",")]
    k = int(opt("--k", "3"))
    budget = int(opt("--budget", str(2 * 1024**3)))
    out_path = opt("--out", "SKEW_CURVE.json")

    import duckdb

    from scale_ladder import build_rung  # noqa: E402

    curve = {}
    for nc in ncs:
        whs = f"{BASE}/nc{nc}_x{k}"
        if not os.path.isdir(whs) or not os.path.isfile(
            os.path.join(whs, "LADDER_MODE")
        ):
            shutil.rmtree(whs, ignore_errors=True)
            os.environ["SPARK_GRAFT_LADDER_CLUSTERS"] = str(nc)
            build_rung(duckdb.connect(), k, whs, "clustered")
        os.sync()
        proc = subprocess.run(
            [
                sys.executable, os.path.abspath(__file__),
                "--child", whs, "--budget", str(budget),
            ],
            capture_output=True, text=True,
        )
        sys.stderr.write(proc.stderr)
        if proc.returncode != 0:
            print(f"ERROR: nc={nc} child failed", file=sys.stderr)
            return proc.returncode or 1
        rec = json.loads(proc.stdout.strip().splitlines()[-1])
        rec["nc"] = nc
        curve[f"nc{nc}"] = rec
        print(json.dumps(rec))
    result = {
        "metric": "clustered_skew_curve_t04_tight_budget",
        "sizing": "exact count -> packed eager passes -> re-pack from the first pass",
        "k_replication": k,
        "budget_bytes": budget,
        "curve": curve,
    }
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({"written": out_path, "ncs": ncs}))
    if os.environ.get("SPARK_GRAFT_KEEP_LADDER") != "1":
        shutil.rmtree(BASE, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
