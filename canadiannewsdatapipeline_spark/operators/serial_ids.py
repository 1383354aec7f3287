"""Deterministic distributed serial-id assignment (r10 verdict #1).

The reference's raw_news primary key is a Postgres SERIAL
(init_db.py:18) feeding transformed.sql's unique test, so the engine
needs ids that are (a) dense 1..N in the global sort order —
deterministic across reruns so goldens and oracles agree (SURVEY.md
§7.4 item 3 chose row_number over monotonically_increasing_id for
exactly that) — and (b) assignable WITHOUT a global single-partition
window. The previous form, ``row_number().over(Window.orderBy(...))``
with no partitionBy, moves the ENTIRE ingest batch through one
partition (Spark's ``WindowExec: No Partition Defined`` warning): fine
at the reference's ~90 rows/run, a serializing funnel on a 100 TB
backfill.

This operator keeps the id contract bit-for-bit and distributes the
work as a three-phase plan, all linear, none single-partition:

1. **Boundary sample** (two tiny jobs: a count + a seeded key sample,
   collected to the driver — a few KB). The sampled keys become
   literal range boundaries; bucket(row) = #{boundaries <= key} is
   then a PURE FUNCTION of the row, so every downstream job re-derives
   the identical bucketing on recompute — no snapshot is needed for
   determinism, unlike ``repartitionByRange`` whose boundary sampling
   re-seeds per action. Balance (not correctness) depends on the
   sample: ids equal the global rank for ANY boundary set, because
   ``key >= boundary`` bucketing is order-consistent — every row of
   bucket b sorts before every row of bucket b+1.
2. **Per-bucket counts** (one map-side-combined aggregate job; the
   collect is one long per bucket). Driver-side cumulative sums give
   each bucket's id offset. A batch with one bucket (under
   ``_MIN_ROWS_PER_BUCKET`` rows, or an empty sample) skips the job:
   its one count is phase 1's total.
3. **Within-bucket row_number + offset** — the returned lazy plan.
   The window partitions by the bucket, so the sort parallelizes
   across buckets and the plan contains no SinglePartition exchange
   (plan-asserted in tests/test_serial_ids.py).

Snapshot pinning (``pin``, reworked r12 on the r11 advice): the
offsets are only correct if the counts job and the final pass see the
SAME row multiset, so an input whose lineage can drift between jobs —
a live Fetcher behind ``mapInPandas``, a mutable JDBC table, any
non-deterministic expression — must be pinned to one snapshot first.
The r11 form pinned with ``persist(MEMORY_AND_DISK)`` and claimed
ContextCleaner would reclaim it; that claim was wrong for Dataset
caches (the session CacheManager holds the plan until an explicit
unpersist, so every batch leaked a cache entry, and a later identical
ingest plan would silently plan-match the STALE snapshot). The pin is
now ``localCheckpoint(eager=True)``: one materialization, RDD-level
blocks with no CacheManager registration (no plan-matching, and the
blocks ARE weak-reference-reclaimed by ContextCleaner once the result
is unreferenced — true for RDD blocks, unlike Dataset caches). On a
cluster, losing an executor loses checkpoint blocks and fails the
job LOUDLY — the correct semantics for a snapshot whose silent
recompute is exactly the drift hazard being pinned away.

``pin=None`` (default) auto-detects: inputs whose optimized plan is
built entirely from recompute-stable leaves (file relations, Range,
local data) through MULTISET-stable operators skip the pin — a
parquet-backed batch cannot drift between the internal jobs and
the returned plan, and skipping the snapshot keeps column pruning
(the counts jobs scan only the sort keys) and the streaming write
path. Anything unrecognized pins: ``mapInPandas`` seams, UDFs
(python or scala — their deterministic flag is the user's assertion,
not a checkable property), non-deterministic expressions, cached
frames (eviction recomputes from a child the walk cannot see), and
order-sensitive operators that are Spark-'deterministic' but not
stable under shuffle-fetch reordering (first/last/collect aggregates,
rank windows over tied keys, dropDuplicates, un-sorted limits — r12
review). The auto-detector trusts RDD-backed inputs
(``LogicalRDD``) as content-stable; pass ``pin=True`` if yours
wraps a non-deterministic RDD.

Comparison semantics: buckets compare ``struct(sort_cols) >=
struct(literals)``. Spark's struct ordering is lexicographic with
interior NULLs ordered first — identical to ``Window.orderBy``'s
default asc_nulls_first — so NULL sort-key values bucket consistently
with the order the ids rank (verified empirically + pinned in tests).

Determinism contract: bit-identical to the global ``row_number`` for
UNIQUE sort keys (the pipeline's (source_name, url, title, author) is
unique per record); tied keys order arbitrarily within the tie in both
forms. Ids are INT by default for schema parity with the reference's
SERIAL — the same 2^31 ceiling Postgres has, enforced with a fail-fast
(Spark's non-ANSI long->int cast would silently WRAP past it where
Postgres errors). ``id_type='long'`` opts into a BIGSERIAL-style id
for >2^31-row backfills (r11 verdict #3: the hard stop needed a
sanctioned way through).

Cost disclosure: phases 1-2 RUN up to three small jobs at
plan-construction time, only the count for a one-bucket batch (the
same disclosed eagerness class as the multiprobe's exact count —
linear scans, trivial next to the ingest write they feed), plus one
full materialization when the input pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ~20 sampled keys per requested bucket: enough that boundaries
# balance bucket sizes within a small factor (load balance only —
# ids never depend on the sample), tiny to collect.
_BOUNDARY_OVERSAMPLE = 20

# Don't shatter small batches across hundreds of near-empty buckets:
# one bucket per this many rows, capped by the session's shuffle
# partitions. At ingest scale the cap binds; at golden-test scale a
# 3-row batch gets one bucket (physically the old plan, minus the
# global window).
_MIN_ROWS_PER_BUCKET = 1000

# Logical-plan node names whose output row MULTISET is stable across
# repeated jobs given stable leaves. Used by the ``pin``
# auto-detector — anything NOT listed conservatively pins. The list
# is deliberately narrower than "deterministic operators" (r12
# review): Spark's deterministic flag promises same-input-same-output
# per ROW, not a stable multiset under shuffle-fetch reordering —
# Aggregate (first/last/collect_*, float-sum ulp drift), Window
# (rank families over tied keys), Deduplicate (keeps an arbitrary
# row per key) and un-sorted Limits are all 'deterministic' yet can
# return different multisets on recompute, which is exactly the
# drift the pin exists to stop. InMemoryRelation is also excluded:
# its stability depends on cache blocks surviving (an evicted
# partition recomputes from a child this walk cannot see).
# LogicalRDD covers createDataFrame(local data) and prior
# checkpoints; see the module docstring for the RDD-backed caveat.
_STABLE_PLAN_NODES = frozenset(
    {
        "Project",
        "Filter",
        "LogicalRelation",
        "HiveTableRelation",
        "LocalRelation",
        "OneRowRelation",
        "Range",
        "LogicalRDD",
        "Union",
        "Join",
        "Sort",
        "Expand",
        "Generate",
        "Distinct",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "SubqueryAlias",
        "View",
        "Except",
        "Intersect",
    }
)


def _expr_is_stable(expr) -> bool:
    """Deterministic AND free of user-function nodes: a default
    ``F.udf`` (python or scala) is deterministic-FLAGGED — the user's
    assertion, not a property this detector can check — and the
    module contract promises UDF inputs pin (r12 review). Walks the
    expression tree for class names containing 'UDF'."""
    if not expr.deterministic():
        return False
    if "UDF" in expr.getClass().getSimpleName():
        return False
    children = expr.children()
    for i in range(children.size()):
        if not _expr_is_stable(children.apply(i)):
            return False
    return True


def _plan_is_recompute_stable(df: DataFrame) -> bool:
    """True when ``df``'s optimized logical plan is recompute-stable:
    every node is on the multiset-stable allowlist above and every
    expression is deterministic with no user-function nodes. Unknown
    node shapes — or any py4j failure while walking — return False,
    which routes the caller to the safe (pinned) path."""

    def walk(node) -> bool:
        if node.nodeName() not in _STABLE_PLAN_NODES:
            return False
        exprs = node.expressions()
        for i in range(exprs.size()):
            if not _expr_is_stable(exprs.apply(i)):
                return False
        children = node.children()
        for i in range(children.size()):
            if not walk(children.apply(i)):
                return False
        return True

    try:
        return walk(df._jdf.queryExecution().optimizedPlan())
    except Exception:
        return False


def assign_serial_ids(
    df: DataFrame,
    sort_cols: list[str],
    id_col: str = "id",
    n_buckets: int | None = None,
    id_type: str = "int",
    pin: bool | None = None,
) -> DataFrame:
    """Append ``id_col`` = the 1-based global rank of each row under
    ``ORDER BY sort_cols`` (asc, nulls first) — the distributed,
    recompute-deterministic replacement for an unpartitioned
    ``row_number()`` window. See the module docstring for the
    three-phase shape, the ``pin`` snapshot semantics, and the
    determinism contract. ``id_type``: 'int' (SERIAL parity, 2^31-1
    fail-fast ceiling) or 'long' (BIGSERIAL-style, for backfills past
    the INT ceiling)."""
    if not sort_cols:
        raise ValueError("sort_cols must be non-empty")
    if id_type not in ("int", "long"):
        raise ValueError(
            f"id_type must be 'int' or 'long' (got {id_type!r}); 'int' "
            "matches the reference's SERIAL, 'long' is the sanctioned "
            "path past the 2^31-row ceiling"
        )

    spark = df.sparkSession
    if pin is None:
        pin = not _plan_is_recompute_stable(df)
    if pin:
        # one pinned snapshot for the internal jobs AND the returned
        # plan — localCheckpoint, NOT persist (see the module
        # docstring: Dataset caches leak in the CacheManager and
        # plan-match later identical plans; checkpoint blocks do
        # neither and are weak-ref reclaimed once unreferenced)
        df = df.localCheckpoint(eager=True)
    key = F.struct(*[F.col(c).alias(c) for c in sort_cols])
    total = df.count()
    if id_type == "int" and total > 2**31 - 1:
        # the id is INT for schema parity with the reference's SERIAL;
        # Spark's non-ANSI long->int cast would WRAP past the ceiling
        # (duplicate/negative ids) where Postgres errors — fail fast
        # with the count already in hand
        raise ValueError(
            f"assign_serial_ids: {total} rows exceed the INT serial-id "
            "ceiling (2^31-1); pass id_type='long' to widen the id "
            "deliberately instead of wrapping"
        )
    if n_buckets is None:
        # default: one bucket per _MIN_ROWS_PER_BUCKET rows, capped at
        # the session's shuffle parallelism. An EXPLICIT n_buckets is
        # honored exactly (the caller knows the batch) — the clamp
        # would otherwise fold a small test batch to one constant
        # bucket and silently reintroduce the unpartitioned window.
        n_buckets = max(
            1,
            min(
                int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
                -(-total // _MIN_ROWS_PER_BUCKET),
            ),
        )
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1 (got {n_buckets})")

    key_fields = df.select(
        *[F.col(c).alias(c) for c in sort_cols]
    ).schema.fields

    def lit_key(row) -> F.Column:
        # literal struct boundary; fields aliased + cast so both sides
        # of the comparison carry the identical struct type
        return F.struct(
            *[
                F.lit(row[i]).cast(f.dataType).alias(f.name)
                for i, f in enumerate(key_fields)
            ]
        )

    bounds = []
    if n_buckets > 1:
        frac = min(1.0, (_BOUNDARY_OVERSAMPLE * n_buckets) / max(total, 1))
        samp = (
            df.select(key.alias("k"))
            .sample(False, frac, seed=42)
            .orderBy("k")  # Spark-side sort: driver can't order NULLs
            .collect()
        )
        seen = set()
        for i in sorted(
            {(j * len(samp)) // n_buckets for j in range(1, n_buckets)}
        ) if samp else []:  # an unlucky empty sample => one bucket
            b = samp[i]["k"]
            t = tuple(b)
            if t not in seen:  # duplicate splitters collapse to one
                seen.add(t)
                bounds.append(b)

    def bucket_expr(lo: int, hi: int) -> F.Column:
        """Bucket index for keys known to fall in [lo, hi] — a
        binary-search CASE tree over the boundary literals. bounds[i]
        is the lower edge of bucket i+1, so bucket(row) = #{bounds <=
        key}; the tree evaluates ~log2(n_buckets) struct compares per
        row where a linear when-chain would average n_buckets/2 —
        this expression runs in BOTH downstream scans (the counts job
        and the returned plan), on every row of the batch."""
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2  # key >= bounds[mid-1] => bucket >= mid
        return (
            F.when(key >= lit_key(bounds[mid - 1]), bucket_expr(mid, hi))
            .otherwise(bucket_expr(lo, mid - 1))
        )

    tagged = df.withColumn(
        "_sid_bucket", bucket_expr(0, len(bounds)).cast("int")
    )

    # one bucket: its count is the total already in hand, no job needed
    counts = {0: total} if not bounds else {
        r["_sid_bucket"]: r["count"]
        for r in tagged.groupBy("_sid_bucket").count().collect()
    }
    offsets, running = [], 0
    for b in range(len(bounds) + 1):
        offsets.append((b, running))
        running += counts.get(b, 0)
    offsets_df = spark.createDataFrame(
        offsets, "_sid_bucket int, _sid_offset long"
    )

    w = Window.partitionBy("_sid_bucket").orderBy(
        *[F.col(c) for c in sort_cols]
    )
    return (
        tagged.join(F.broadcast(offsets_df), "_sid_bucket")
        .withColumn(
            id_col,
            (F.col("_sid_offset") + F.row_number().over(w)).cast(id_type),
        )
        .drop("_sid_bucket", "_sid_offset")
    )
