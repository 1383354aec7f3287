"""Scale-ladder bench: replicate the sf0.1 warehouse K-fold (with
consistent key offsets, so join integrity and key cardinality scale
together) and time the headline queries at each rung.

Why this exists: the driver's sf0.1 parquet is one row group per
table, so scan parallelism is 1 by data layout, and per-query wall is
dominated by fixed overhead — the bench alone can't distinguish "fast
because small" from "scales because the plans are right". The ladder
writes multi-row-group files (100k rows/group, the shape real
warehouses have), so scans actually fan out across cores and the
shuffle/agg plans are exercised at 10x the rows. Near-flat
wall-per-row across rungs is the evidence the 100 TB posture claims.

Replication scheme (copy i of K):
- every synthetic key gets +i*stride for its table (orderkey stride
  covers lineitem's FK, custkey covers orders', etc.), so PK/FK pairs
  stay consistent and distinct-key counts scale linearly;
- dims region/nation stay fixed (they are fixed-size in TPC-H too);
- documents/embeddings replicate under fresh ids with text/vectors
  unchanged — every doc gains K-1 exact twins, which *stresses* the
  dedup family (bigger LSH buckets, K-fold cluster sizes) rather than
  diluting it.

Usage: python scripts/scale_ladder.py [K] [out_dir] [--fresh]
[--clustered] [--clean-session] [--disk-trace]
(default K=10 -> ~sf1; prints one JSON line per rung plus a summary;
SPARK_GRAFT_KEEP_LADDER=1 keeps the generated warehouses for reruns;
SPARK_GRAFT_LADDER_QUERIES=a,b filters rows — EXTRA_QUERIES names are
selectable too; SPARK_GRAFT_LADDER_TRIALS=1 -> single-pass, no
warmup, for tens-of-minutes rows)

``--clean-session`` (round-9 addition, r8 verdict #5): time each rung
in its OWN subprocess — fresh JVM, fresh Spark session, fresh scratch
dirs. The r8 round caught by hand that in-ladder peak-disk traces are
contaminated by prior rungs' shuffle residue sharing the session (the
x30 auto rung read 59 GB apparent vs 29.7 GB true); this flag makes
the clean-session-per-rung methodology the tool's job instead of a
SCALE.md footnote. Mandatory for any peak-disk claim; also gives
cold-session walls. Warehouses are still built once by the parent.

``--disk-trace``: sample the Spark scratch dirs (/tmp/spark-*,
/tmp/blockmgr-*, or $SPARK_LOCAL_DIRS) every 2 s while a rung runs
and report the peak as ``peak_disk_bytes`` per rung — the r8
methodology (disk sampled over the same globs) as a flag. Combine
with --clean-session or the peak is not attributable to the rung.

``--clustered`` (round-9 addition, r8 verdict #2): like --fresh but
embeddings are CLUSTERED — every vector is a shared md5-derived
cluster center plus a tiny per-row md5 noise (distinct, so the
exact-dup cascade collapses nothing; near-identical, so cluster
members share LSH buckets). This is the shape that breaks the
auto-sizer's uniform-bucketing byte model: candidates concentrate in
NC = $SPARK_GRAFT_LADDER_CLUSTERS (default 16) buckets per table and
the true candidate stream exceeds the uniform estimate by
~2^k/(masks·NC). Documents get --fresh-style text. ALL copies
(including i=0) are clustered so no uniform originals dilute the
measurement. Knobs: SPARK_GRAFT_LADDER_CLUSTERS,
SPARK_GRAFT_LADDER_CLUSTER_EPS (default 0.01).

``--fresh`` mode (round-4 addition): the twin-replication rungs are
exactly the shape the exact-dedup cascade absorbs (every copy is an
identical twin, so the quadratic stages see a CONSTANT distinct
count). A flat twin ladder therefore proves the cascade works, but
says nothing about how the dedup/ANN family scales when the corpus
genuinely grows. --fresh replicates documents/embeddings with
hash-derived NEW content instead (fresh token sequences; fresh
uniform [-1,1]^64 vectors — same scheme as the fuzzer), so distinct
counts grow K-fold, the cascade can collapse nothing, and the
threshold-0.4 Theta(N^1.66) candidate bound + the production-0.85
regime are measured on real growth. Only the dedup/similarity subset
runs (the relational rows don't care how text was generated)."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DIMS = ["region", "nation"]
ROW_GROUP = 100_000

# key column -> offset stride (> max key at sf0.1, see TESTDATA.md)
STRIDES = {
    "o_orderkey": 1_000_000,
    "l_orderkey": 1_000_000,
    "o_custkey": 100_000,
    "c_custkey": 100_000,
    "p_partkey": 100_000,
    "l_partkey": 100_000,
    "s_suppkey": 10_000,
    "l_suppkey": 10_000,
    "event_id": 10_000_000,
    "user_id": 10_000,
    "doc_id": 100_000,
    "vec_id": 100_000,
}

def _ann_lsh_prod(spark, sf_dir):
    """Production-regime ANN: threshold 0.85, L=8 tables x k=12 planes.

    The registered ``sim_ann_lsh`` pins threshold 0.4 — a 66° angle,
    barely off random — where LSH theory says candidate volume over
    DISTINCT vectors is Theta(N^1.66) for constant recall (rho =
    ln p1 / ln p2 ≈ 0.66). On ladder data the exact-dedup cascade
    inside the operator absorbs the K-fold replication (distinct
    count stays constant), so both rows read near-flat; the N^1.66
    law would reappear if the rungs added NEW vectors near the
    threshold instead of twins. Near-dup dedup in practice runs at
    >= 0.85, where k=12 makes random collisions ~8*2^-12 of pairs
    while exact/near twins always collide: this row shows the
    operator in its intended regime. The ladder's K-fold replication
    gives every vector K-1 exact twins (cos = 1.0), so true
    positives exist at any K."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multitable_pairs,
    )
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_multitable_pairs(
        emb, "vec_id", "embedding", threshold=0.85, n_tables=8, n_planes=12
    )


def _ann_lsh_prod_mp(spark, sf_dir):
    """Production-regime ANN, bit-pool multi-probe configuration:
    threshold 0.85, pool=252, k=16 bits x L=16 tables, radius-1
    probes, Hamming screen at 70.

    Fresh-x100 (200k genuinely-distinct vectors) showed the flat
    8x12 multitable config above hits the same N^2/2^k candidate law
    as the threshold-0.4 row, one decade later: 9.1 s at x33 ->
    137.1 s at x100 (15x wall for 3x data; candidates ~N^2 * 8/4096,
    each paying a full 64-dim fold). The pool path fixes both
    factors: 16-bit buckets cut random collisions 16x per table,
    radius-1 probes recover the boundary recall deeper k loses, and
    the Hamming screen at 70 (boundary pairs expect 252*31.8/180
    ~= 45 +- 6; random pairs 126 +- 8) passes essentially no random
    candidate to the exact fold. Measured at fresh-x100: 5.9 s
    (23x less wall). Planted-pair recall (scripts/prod_recall.py,
    20k planted pairs at cos in [0.85, 0.98]): this config 98.8%
    vs the 8x12 multitable's 79.3%, zero false positives for both —
    strictly better on BOTH axes."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        prod_near_dup_pairs,
    )
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # the operating point lives in the library (PROD_NEAR_DUP_MP),
    # not here — the ladder measures what a user actually gets
    return prod_near_dup_pairs(emb, "vec_id", "embedding")


def _ann_mp_t04_count(spark, sf_dir):
    """Count-only twin of the threshold-0.4 multiprobe row: aggregate
    COUNT(*) over the verified pairs instead of materializing them.
    At threshold 0.4 the qualifying output is itself Theta(N^2) (a
    ~5e-4 constant fraction of all pairs qualifies on fresh random
    vectors), so the full row's rung-over-rung growth is output-bound
    by construction (SCALE.md §Round-5). This twin runs every stage —
    signature, probes, candidate join, Hamming screen, exact verify,
    pair-dedup — and returns ONE row, so the full-vs-count delta at a
    rung prices returned-row materialization, and the count row's own
    growth shows the pipeline cost with output volume factored out."""
    from pyspark.sql import functions as F

    from canadiannewsdatapipeline_spark.queries import QUERIES

    return (
        QUERIES["sim_ann_lsh_multiprobe"]
        .fn(spark, sf_dir)
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _mp_forced_shuffle_chunked(spark, sf_dir):
    """The threshold-0.4 multiprobe config forced to shuffle mode WITH
    the r7 chunked pass mode: 160 tables in 8 eager 20-table passes.
    The single-pass shuffle form exchanges the whole unscreened
    candidate stream (~1e9 rows at fresh-x30) and died filling >70 GB
    of shuffle files (SCALE.md §Round-6); each chunked pass exchanges
    ~1/8 of that and each eager pass's shuffle files are reclaimed
    before the next starts, so the same row completes with bounded
    disk. Timed against ann_mp_t04 (broadcast mode) on the same
    warehouse, this prices the above-gate chunked tier."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
    )
    from canadiannewsdatapipeline_spark.queries.llm import (
        _COS_THRESHOLD,
        _MP_BITS,
        _MP_HAMMING,
        _MP_POOL,
        _MP_RADIUS,
        _MP_TABLES,
    )
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_multiprobe_pairs(
        emb, "vec_id", "embedding",
        threshold=_COS_THRESHOLD, pool=_MP_POOL, n_bits=_MP_BITS,
        n_tables=_MP_TABLES, probe_radius=_MP_RADIUS,
        hamming_max=_MP_HAMMING, broadcast_corpus=False,
        tables_per_pass=20,
    )


def _mp_forced_shuffle(spark, sf_dir, prod: bool):
    """The registered/prod multiprobe config with the corpus-side
    joins FORCED to shuffle mode (broadcast_corpus=False) — the shape
    the auto gate picks past MP_BROADCAST_MAX_INPUT_BYTES. Timed
    against the broadcast-mode rows on the same warehouses, this
    prices the mode delta at ladder scale (the gate's crossover is
    memory-bound, not wall-bound: above it broadcast OOMs executors
    rather than losing on wall — see similarity.py).

    tables_per_pass is pinned to n_tables: a bare
    broadcast_corpus=False call above the disk budget would
    auto-chunk — the right default for a user, but this
    row exists to measure the SINGLE-PASS shuffle anchor, so it pins
    the pre-auto form explicitly (the documented opt-out)."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        PROD_NEAR_DUP_MP,
        ann_lsh_multiprobe_pairs,
    )
    from canadiannewsdatapipeline_spark.queries.llm import (
        _COS_THRESHOLD,
        _MP_BITS,
        _MP_HAMMING,
        _MP_POOL,
        _MP_RADIUS,
        _MP_TABLES,
    )
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    if prod:
        return ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding",
            **PROD_NEAR_DUP_MP, broadcast_corpus=False,
            tables_per_pass=PROD_NEAR_DUP_MP["n_tables"],
        )
    return ann_lsh_multiprobe_pairs(
        emb, "vec_id", "embedding",
        threshold=_COS_THRESHOLD, pool=_MP_POOL, n_bits=_MP_BITS,
        n_tables=_MP_TABLES, probe_radius=_MP_RADIUS,
        hamming_max=_MP_HAMMING, broadcast_corpus=False,
        tables_per_pass=_MP_TABLES,
    )


def _mp_prod_shuffle_chunked(spark, sf_dir):
    """r7 verdict #4: the PROD preset with the chunking knob engaged
    through its **overrides pass-through, in forced shuffle mode —
    pins that the knob composes with the preset at scale. The
    prod candidate stream is ~10^3x smaller than the t04 stress
    row's, so this is expected to be boring: 4-table eager passes
    over the preset's 16 tables."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        prod_near_dup_pairs,
    )
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return prod_near_dup_pairs(
        emb, "vec_id", "embedding",
        broadcast_corpus=False, tables_per_pass=4,
    )


def _mp_t04_shuffle_auto(spark, sf_dir):
    """r8: the t04 config in the shuffle tier with EVERYTHING ELSE
    default — what a user above the broadcast gate gets without
    knowing any knob exists. The operator counts the candidate
    stream exactly, packs eager passes under
    spark.cndp.mp.diskBudgetBytes (default 32 GiB), and re-packs the
    rest from its small first pass's measured bytes."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
    )
    from canadiannewsdatapipeline_spark.queries.llm import (
        _COS_THRESHOLD,
        _MP_BITS,
        _MP_HAMMING,
        _MP_POOL,
        _MP_RADIUS,
        _MP_TABLES,
    )
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_multiprobe_pairs(
        emb, "vec_id", "embedding",
        threshold=_COS_THRESHOLD, pool=_MP_POOL, n_bits=_MP_BITS,
        n_tables=_MP_TABLES, probe_radius=_MP_RADIUS,
        hamming_max=_MP_HAMMING, broadcast_corpus=False,
    )


def _mp_t04_auto_tight_budget(spark, sf_dir):
    """The t04 config in the shuffle tier, zero knobs except a TIGHT
    disk budget ($SPARK_GRAFT_MP_BUDGET bytes, default 2 GiB). On a
    --clustered warehouse the candidates concentrate in few buckets
    (the shape a uniform byte model once under-read 11.2x); the exact
    count sizes the passes and the first pass's measured bytes pack
    the rest. Run under --clean-session --disk-trace and compare
    peak_disk_bytes against the budget."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
    )
    from canadiannewsdatapipeline_spark.queries.llm import (
        _COS_THRESHOLD,
        _MP_BITS,
        _MP_HAMMING,
        _MP_POOL,
        _MP_RADIUS,
        _MP_TABLES,
    )
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    budget = int(
        os.environ.get("SPARK_GRAFT_MP_BUDGET", str(2 * 1024**3))
    )
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_multiprobe_pairs(
        emb, "vec_id", "embedding",
        threshold=_COS_THRESHOLD, pool=_MP_POOL, n_bits=_MP_BITS,
        n_tables=_MP_TABLES, probe_radius=_MP_RADIUS,
        hamming_max=_MP_HAMMING, broadcast_corpus=False,
        disk_budget_bytes=budget,
    )


EXTRA_QUERIES = {
    "ann_lsh_prod_thresh": _ann_lsh_prod,
    "ann_lsh_prod_mp": _ann_lsh_prod_mp,
    "ann_mp_t04_count": _ann_mp_t04_count,
    "ann_mp_t04_auto_tight_budget": _mp_t04_auto_tight_budget,
    # mode-comparison rows: select via SPARK_GRAFT_LADDER_QUERIES
    # (not in any default subset — they exist to measure the
    # broadcast-vs-shuffle delta, not to run every ladder)
    "ann_mp_t04_shuffle": lambda s, d: _mp_forced_shuffle(s, d, False),
    "ann_lsh_prod_mp_shuffle": lambda s, d: _mp_forced_shuffle(s, d, True),
    "ann_mp_t04_shuffle_chunked": _mp_forced_shuffle_chunked,
    "ann_lsh_prod_mp_shuffle_chunked": _mp_prod_shuffle_chunked,
    "ann_mp_t04_shuffle_auto": _mp_t04_shuffle_auto,
}

# the scale-safe headline set (quadratic CORRECTNESS-only baselines
# excluded by construction — bench.py's HEADLINE already is that set)
HEADLINE_SUBSET = [
    "q1_pricing_summary",
    "q2_enriched_join_dedup",
    "q8_top_words",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_volume",
    "tpch_q8_market_share",
    "j7_disjunctive_min",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_lsh_verified",
    # four similarity tiers on the same corpus: the exact baseline
    # (linear in N for fixed queries), the frozen-oracle threshold-0.4
    # LSH (Theta(N^1.66) by theory — superlinear here is EXPECTED, see
    # _ann_lsh_prod), the round-5 bit-pool multi-probe path (the
    # scale-safe threshold-0.4 configuration), and the
    # production-threshold LSH (near-flat)
    "sim_topk_cosine",
    "sim_topk_ann",
    "sim_ann_lsh",
    "sim_ann_lsh_multiprobe",
    "ann_lsh_prod_thresh",
    "ann_lsh_prod_mp",
    "text_quality",
    "events_sessionize_stats",
    "events_asof_attribution",
    "pack_token_shards",
    "scd2_user_history",
    "text_bigram_logprob",
]


# --fresh content generators: copy i = 0 passes the original through;
# copies i > 0 get hash-derived NEW content (md5-seeded, so reruns are
# deterministic). Documents keep their token count but draw fresh
# letter-only tokens (digits stripped from an md5 window — a small
# a-f alphabet, plenty of 3-gram shingle diversity). Embeddings get
# 64 fresh uniform [-1, 1] components (random 64-dim directions:
# pairwise cosines concentrate near 0, so threshold survivors stay
# rare and the measurement isolates CANDIDATE volume, the LSH cost
# driver, from true-pair output volume).
_FRESH_TEXT_TPL = """
    CASE WHEN i = 0 THEN text ELSE array_to_string(
      [regexp_replace(
         substr(md5({pre}CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)
                    || ':' || CAST(j AS VARCHAR)), 1, 10),
         '[0-9]', '', 'g')
       FOR j IN generate_series(
         1, GREATEST(len(regexp_extract_all(lower(text), '[a-z]+')), 1))],
      ' ')
    END AS text"""

_FRESH_VEC_TPL = """
    CASE WHEN i = 0 THEN embedding ELSE
      [CAST(CAST(concat('0x',
              substr(md5({pre}CAST(vec_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)
                         || ':' || CAST(j AS VARCHAR)), 1, 6)) AS BIGINT)
            / 8388607.5 - 1.0 AS FLOAT)
       FOR j IN generate_series(1, 64)]
    END AS embedding"""


def _content_seed_prefix() -> str:
    """SPARK_GRAFT_LADDER_CONTENT_SEED as an md5-key prefix (r12:
    extended from the clustered stressor to the --fresh generators
    too, r11 verdict #5 — the pilot-tax corpus must rotate per round
    so fixes are validated on unmemorized data). Empty/unset keeps
    every historical fresh warehouse bit-for-bit."""
    seed = os.environ.get("SPARK_GRAFT_LADDER_CONTENT_SEED", "")
    if not seed.isalnum() and seed != "":
        raise ValueError(
            "SPARK_GRAFT_LADDER_CONTENT_SEED must be alphanumeric, "
            f"got {seed!r}"
        )
    return f"'{seed}:' || " if seed else ""


def _fresh_cols() -> dict:
    pre = _content_seed_prefix()
    return {
        "text": _FRESH_TEXT_TPL.format(pre=pre),
        "embedding": _FRESH_VEC_TPL.format(pre=pre),
    }


def _cluster_vec_sql() -> str:
    """--clustered embedding generator: shared md5 cluster center
    (key: source vec_id % NC — spans replication copies, so cluster
    size = K·2000/NC) plus eps-scaled md5 per-row noise. Distinct
    floats w.h.p. (the cascade collapses nothing) but near-identical
    directions (within-cluster cosine ≈ 1 − O(eps²)), so cluster
    members share their n_bits LSH bucket in almost every table —
    the bucket-concentration shape the uniform byte model cannot
    see. No i=0 passthrough: uniform originals would dilute the
    skew under measurement.

    SPARK_GRAFT_LADDER_CONTENT_SEED (r11, r10 verdict #6) prefixes
    the md5 keys so each round's standing clustered stressor draws
    FRESH centers and noise — the adversarial content cannot be
    memorized by calibration. Empty/unset keeps the r9/r10 legacy
    corpus bit-for-bit (the measured history stays reproducible)."""
    nc = int(os.environ.get("SPARK_GRAFT_LADDER_CLUSTERS", "16"))
    eps = float(os.environ.get("SPARK_GRAFT_LADDER_CLUSTER_EPS", "0.01"))
    pre = _content_seed_prefix()
    unit = (
        "(CAST(concat('0x', substr(md5({key}), 1, 6)) AS BIGINT)"
        " / 8388607.5 - 1.0)"
    )
    center = unit.format(
        key=f"{pre}'c:' || CAST(vec_id % {nc} AS VARCHAR) || ':' "
        "|| CAST(j AS VARCHAR)"
    )
    noise = unit.format(
        key=f"{pre}'n:' || CAST(vec_id AS VARCHAR) || ':' "
        "|| CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)"
    )
    return (
        f"\n    [CAST({center} + {eps} * {noise} AS FLOAT)"
        "\n     FOR j IN generate_series(1, 64)] AS embedding"
    )


def build_rung(
    con: duckdb.DuckDBPyConnection, k: int, out: str, mode: str = "twin"
) -> None:
    os.makedirs(out, exist_ok=True)
    tables = [
        f.removesuffix(".parquet")
        for f in sorted(os.listdir(SRC))
        if f.endswith(".parquet")
    ]
    for t in tables:
        src = f"{SRC}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        # clustered mode regenerates embeddings even at k == 1 (the
        # originals are uniform — exactly what the mode must replace)
        if t in DIMS or (k == 1 and not (mode == "clustered" and t == "embeddings")):
            # fixed dims copy through (still rewritten so the row-group
            # layout is uniform across the rung)
            con.execute(
                f"COPY (SELECT * FROM '{src}') TO '{dst}' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP})"
            )
            continue
        cols = [
            r[0]
            for r in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()
        ]
        if mode == "clustered":
            gen_cols = dict(_fresh_cols(), embedding=_cluster_vec_sql())
        else:
            gen_cols = _fresh_cols()
        content_here = mode != "twin" and t in ("documents", "embeddings")
        proj = ", ".join(
            f"{c} + i * {STRIDES[c]} AS {c}"
            if c in STRIDES
            else (gen_cols[c] if content_here and c in gen_cols else c)
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {proj} FROM '{src}', "
            f"(SELECT unnest(generate_series(0, {k - 1})) AS i) g) "
            f"TO '{dst}' (FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP})"
        )
    # stamp the build mode LAST so the marker doubles as a completion
    # sentinel: an interrupted build leaves no marker, and a kept
    # warehouse can never be silently re-timed under the other mode's
    # label (fresh rows timed on twin data would measure the cascade's
    # collapse, not fresh scaling)
    with open(os.path.join(out, "LADDER_MODE"), "w") as fh:
        fh.write(mode)


# the cascade-sensitive subset --fresh measures (relational rows are
# content-agnostic; rerunning them would just repeat the twin ladder)
FRESH_SUBSET = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_lsh_verified",
    "sim_topk_cosine",
    "sim_topk_ann",
    "sim_ann_lsh",
    "sim_ann_lsh_multiprobe",
    "ann_mp_t04_count",
    "ann_lsh_prod_thresh",
    "ann_lsh_prod_mp",
]


def _scratch_usage_bytes() -> int:
    """Bytes currently held by Spark scratch dirs (shuffle files,
    block-manager spill, localCheckpoint blocks): /tmp/spark-* +
    /tmp/blockmgr-* (or $SPARK_LOCAL_DIRS roots) — the same globs the
    r8 by-hand methodology sampled. Files vanish mid-walk during GC;
    errors are expected and skipped."""
    import glob

    env = os.environ.get("SPARK_LOCAL_DIRS")
    roots = env.split(",") if env else ["/tmp"]
    total = 0
    for root in roots:
        for pat in ("spark-*", "blockmgr-*"):
            for d in glob.glob(os.path.join(root, pat)):
                for dirpath, _dirs, files in os.walk(d, onerror=lambda e: None):
                    for f in files:
                        try:
                            total += os.stat(os.path.join(dirpath, f)).st_size
                        except OSError:
                            pass
    return total


class _DiskTrace:
    """2-second peak sampler over the Spark scratch dirs for one rung.
    Reports the peak ABOVE the baseline at start — dead sessions'
    leftover dirs under /tmp must not inflate the rung's claim. Only
    attributable when the rung runs in its own session
    (--clean-session): a sibling rung's residue in the same session
    contaminated the r8 in-ladder trace by 2x."""

    def __init__(self) -> None:
        import threading

        self.baseline = _scratch_usage_bytes()
        self.peak = self.baseline
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(2.0):
            u = _scratch_usage_bytes()
            if u > self.peak:
                self.peak = u

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=10)
        u = _scratch_usage_bytes()
        if u > self.peak:
            self.peak = u
        return {
            "peak_disk_bytes": max(self.peak - self.baseline, 0),
            "baseline_disk_bytes": self.baseline,
        }


def main() -> int:
    argv = sys.argv[1:]
    fresh = "--fresh" in argv
    clustered = "--clustered" in argv
    clean_session = "--clean-session" in argv
    disk_trace = "--disk-trace" in argv
    if fresh and clustered:
        print("ERROR: --fresh and --clustered are exclusive", file=sys.stderr)
        return 2
    rung_only: str | None = None
    if "--rung-only" in argv:
        idx = argv.index("--rung-only")
        if idx + 1 >= len(argv):
            print("ERROR: --rung-only needs a rung label (e.g. x3)", file=sys.stderr)
            return 2
        rung_only = argv[idx + 1]
        argv = argv[:idx] + argv[idx + 2 :]
    args = [a for a in argv if not a.startswith("--")]
    mode = "clustered" if clustered else ("fresh" if fresh else "twin")
    k_top = int(args[0]) if len(args) > 0 else 10
    base = (
        args[1]
        if len(args) > 1
        else {
            "twin": "/tmp/scale_ladder",
            "fresh": "/tmp/scale_ladder_fresh",
            "clustered": "/tmp/scale_ladder_clustered",
        }[mode]
    )
    rungs = sorted({1, max(2, k_top // 3), k_top})
    if rung_only is not None:
        want_k = int(rung_only.removeprefix("x"))
        if want_k not in rungs:
            print(
                f"ERROR: --rung-only {rung_only} not in this ladder's "
                f"rungs {['x%d' % k for k in rungs]}",
                file=sys.stderr,
            )
            return 2
        rungs = [want_k]
    subset = FRESH_SUBSET if mode != "twin" else HEADLINE_SUBSET
    # optional row filter, e.g. to extend a regime's rungs without
    # re-timing rows whose scaling law is already measured (the
    # threshold-0.4 LSH row is ~N^2/2^k on fresh data BY DESIGN —
    # see SCALE.md §Round-4 — and dominates any deep fresh rung)
    only = os.environ.get("SPARK_GRAFT_LADDER_QUERIES")
    if only:
        wanted = set(only.split(","))
        # a filtered run may also select EXTRA_QUERIES rows outside
        # the mode's default subset (the broadcast-vs-shuffle
        # comparison rows exist only there)
        selectable = list(subset) + [
            q for q in EXTRA_QUERIES if q not in subset
        ]
        unknown = sorted(wanted - set(selectable))
        if unknown:
            print(
                f"WARNING: SPARK_GRAFT_LADDER_QUERIES names not in the "
                f"{mode} subset nor EXTRA_QUERIES, "
                f"dropped: {unknown}",
                file=sys.stderr,
            )
        subset = [q for q in selectable if q in wanted]
        if not subset:
            print("ERROR: query filter left nothing to time", file=sys.stderr)
            return 2

    con = duckdb.connect()
    for k in rungs:
        out = f"{base}/x{k}"
        marker = os.path.join(out, "LADDER_MODE")
        if os.path.isdir(out) and not os.path.isfile(marker):
            if rung_only is not None:
                # a child never rebuilds: the parent owns the builds,
                # and a partial warehouse here means the parent's
                # build was interrupted — fail loudly
                print(f"ERROR: {out} has no LADDER_MODE marker", file=sys.stderr)
                return 2
            # no completion sentinel => an interrupted build left a
            # partial warehouse; rebuild rather than time bad data
            print(f"NOTE: {out} exists without LADDER_MODE — rebuilding", file=sys.stderr)
            shutil.rmtree(out)
        if not os.path.isdir(out):
            if rung_only is not None:
                print(f"ERROR: {out} missing (parent builds, children time)", file=sys.stderr)
                return 2
            build_rung(con, k, out, mode)
        else:
            stamped = open(marker).read().strip()
            if stamped != mode:
                print(
                    f"ERROR: {out} was built in {stamped!r} mode but this is a "
                    f"{mode!r} run — timings would be silently mislabeled. "
                    f"Delete the directory or point at a different base.",
                    file=sys.stderr,
                )
                return 2
    # flush dirty pages before timing: parquet write-back racing the
    # first timed scans inflated x33 q1 4x vs the (settled) x100 rung
    os.sync()

    if clean_session and rung_only is None:
        # r8 verdict #5: one subprocess per rung — fresh JVM, fresh
        # Spark session, fresh scratch dirs — so peak-disk traces and
        # cold walls are attributable to THE rung, not to whatever
        # shuffle residue earlier rungs left in a shared session
        # (measured contamination: 59 GB apparent vs 29.7 GB true).
        import subprocess

        mode_flags = {"fresh": ["--fresh"], "clustered": ["--clustered"], "twin": []}[mode]
        child_env = dict(os.environ)
        child_env["SPARK_GRAFT_KEEP_LADDER"] = "1"  # parent owns deletion
        summary = {}
        for k in rungs:
            cmd = (
                [sys.executable, os.path.abspath(__file__), str(k_top), base]
                + mode_flags
                + (["--disk-trace"] if disk_trace else [])
                + ["--rung-only", f"x{k}"]
            )
            proc = subprocess.run(
                cmd, env=child_env, capture_output=True, text=True
            )
            sys.stderr.write(proc.stderr)
            sys.stdout.write(proc.stdout)
            sys.stdout.flush()
            if proc.returncode != 0:
                print(f"ERROR: rung x{k} child failed ({proc.returncode})", file=sys.stderr)
                return proc.returncode or 1
            rec = json.loads(proc.stdout.strip().splitlines()[-1])
            summary[f"x{k}"] = rec
        base_total = summary[f"x{rungs[0]}"]["total_sec"]
        print(
            json.dumps(
                {
                    "metric": f"scale_ladder_{mode}_clean_session",
                    "rungs": {
                        r: {
                            "total_sec": s["total_sec"],
                            "wall_vs_x1": round(s["total_sec"] / base_total, 2),
                            **(
                                {"peak_disk_bytes": s["peak_disk_bytes"]}
                                if "peak_disk_bytes" in s
                                else {}
                            ),
                        }
                        for r, s in summary.items()
                    },
                    "data_vs_x1": {f"x{k}": k for k in rungs},
                }
            )
        )
        if os.environ.get("SPARK_GRAFT_KEEP_LADDER") != "1":
            shutil.rmtree(base, ignore_errors=True)
        return 0

    from canadiannewsdatapipeline_spark.operators import similarity as _sim
    from canadiannewsdatapipeline_spark.queries import QUERIES
    from canadiannewsdatapipeline_spark.session import get_spark

    spark = get_spark("scale-ladder")
    summary = {}
    for k in rungs:
        out = f"{base}/x{k}"
        timings = {}
        tracer = _DiskTrace() if disk_trace else None
        _sim.LAST_MP_SIZING_REPORT = None
        # SPARK_GRAFT_LADDER_TRIALS=1 is single-pass mode for rows in
        # the tens-of-minutes class (fresh-x100 threshold-0.4: the
        # Theta(N^2) output alone makes any trial ~40 min): no untimed
        # warmup (plan build is seconds against such a row; label the
        # number single-pass in SCALE.md). Default stays warmup +
        # min-of-2.
        raw_trials = os.environ.get("SPARK_GRAFT_LADDER_TRIALS", "2")
        try:
            # clamp: 0/negative would skip every trial and crash on
            # min([]) with an unhelpful ValueError (r6 advice)
            n_trials = max(1, int(raw_trials))
        except ValueError:
            print(
                f"ERROR: SPARK_GRAFT_LADDER_TRIALS={raw_trials!r} is not an "
                "integer (use 1 for single-pass mode, >=2 for warmup + min-of-N)",
                file=sys.stderr,
            )
            return 2
        for name in subset:
            fn = EXTRA_QUERIES.get(name) or QUERIES[name].fn
            if n_trials > 1:
                fn(spark, out).write.format("noop").mode("overwrite").save()
            trials = []
            for _ in range(n_trials):
                t0 = time.perf_counter()
                fn(spark, out).write.format("noop").mode("overwrite").save()
                trials.append(time.perf_counter() - t0)
            timings[name] = round(min(trials), 3)
        total = round(sum(timings.values()), 3)
        rec = {"rung": f"x{k}", "total_sec": total, "queries": timings}
        if tracer is not None:
            rec.update(tracer.stop())
        if _sim.LAST_MP_SIZING_REPORT is not None:
            # per-pass record of the rung's LAST eager chunked
            # multiprobe run (attributable when the rung is filtered
            # to one such row)
            rec["mp_sizing_report"] = _sim.LAST_MP_SIZING_REPORT
        summary[f"x{k}"] = rec
        print(json.dumps(rec))

    if rung_only is None:
        base_total = summary[f"x{rungs[0]}"]["total_sec"]
        print(
            json.dumps(
                {
                    "metric": f"scale_ladder_{mode}" if mode != "twin" else "scale_ladder",
                    "rungs": {
                        r: {
                            "total_sec": s["total_sec"],
                            "wall_vs_x1": round(s["total_sec"] / base_total, 2),
                        }
                        for r, s in summary.items()
                    },
                    "data_vs_x1": {f"x{k}": k for k in rungs},
                }
            )
        )
    spark.stop()
    if rung_only is None and os.environ.get("SPARK_GRAFT_KEEP_LADDER") != "1":
        shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
