"""Similarity search over embedding columns (BASELINE.json extensions).

Two tiers, as a 100 TB pipeline needs:

- ``cosine_pairs`` / ``cosine_topk``: exact brute force. The dot
  product is a sequential ``aggregate`` fold over ``zip_with`` — pure
  Catalyst expressions, no UDF, deterministic summation order.
  Quadratic: correct baseline, verification stage, and small-N path.
- ``ann_lsh_multitable_pairs`` / ``ann_lsh_multiprobe_pairs``: the
  scale path. Random-hyperplane LSH with md5-derived integer
  hyperplanes (engine-reproducible); docs sharing a bucket are
  candidates, verified exactly. Turns the quadratic scan into an
  equi-join on the bucket key.
"""

from __future__ import annotations

from collections import OrderedDict as _OrderedDict
from threading import Lock as _Lock

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _collapse_exact_dups, _expand_member_pairs
from .spread import spread


def _plane(key_parts: tuple[int, ...], dim: int) -> Column:
    """Literal hyperplane array for plane ``key_parts`` (e.g. (t, p)).

    Component j = (ascii(md5('t:p:j' )[0]) % 7) - 3 — the same formula
    the DuckDB oracles evaluate in SQL. Evaluating md5 inside a
    Catalyst higher-order function is NOT constant-folded (measured:
    ~8M per-row md5 calls = 30 s at sf0.1), so the components are
    computed once here with hashlib — bit-identical by construction —
    and embedded as a literal double array. The literal is built as ONE
    parsed expression string: element-wise F.lit() costs a py4j round
    trip per component (~7 s of driver time for 96 planes, measured),
    while a single F.expr is ~60x cheaper to construct. Components are
    exact small integers as doubles, so repr round-trips exactly."""
    import hashlib

    key = ":".join(str(k) for k in key_parts)
    vals = [
        float((ord(hashlib.md5(f"{key}:{j}".encode()).hexdigest()[0]) % 7) - 3)
        for j in range(dim)
    ]
    return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")


def _as_double(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _vec_key(col: Column) -> Column:
    """16-byte exact-vector grouping key: md5 over the canonical
    per-component string form — instead of shuffling the raw
    64-double array (~512 B/row) as the grouping key.

    ``x + 0.0`` normalizes -0.0 to 0.0 so the string key groups
    exactly like Spark's native array<double> grouping semantics
    (NormalizeFloatingNumbers rewrites -0.0 to 0.0 in grouping keys);
    NaN stringifies to 'NaN', matching grouping's NaN == NaN. Java's
    Double.toString is shortest-round-trip, so distinct normalized
    doubles always yield distinct strings; null components map to a
    sentinel no double can produce (concat_ws would otherwise SKIP
    nulls and conflate [1.0, null] with [1.0])."""
    canon = F.transform(
        col, lambda x: F.coalesce((x + F.lit(0.0)).cast("string"), F.lit("∅"))
    )
    return F.md5(F.concat_ws(",", canon))


def _dot(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm2(a: str) -> Column:
    return F.aggregate(F.col(a), F.lit(0.0), lambda acc, x: acc + x * x)


def _with_cosine_prenormed(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Add ``cos_sim`` (rounded to 4 dp for engine-portable compares)
    to frames that carry precomputed ``sqrt_na`` / ``sqrt_nb`` side
    norms. ``sqrt(norm2)`` of the same double is the same double
    whether it is computed per pair or per side, and the per-side form
    does the O(dim) norm fold N+Q times instead of N*Q times.

    ``try_divide``, not ``/``: a zero-norm vector makes the denominator
    0, and under ANSI mode a plain division turns ONE degenerate row
    into a whole-job failure (fuzz-caught). NULL is also exactly what
    DuckDB returns for double x/0, so the oracle pair agrees: undefined
    similarities drop out of thresholds and rank last (NULLS LAST on
    DESC in both engines) with the id tiebreaker deciding order."""
    cos = F.try_divide(_dot(a, b), F.col("sqrt_na") * F.col("sqrt_nb"))
    return pairs.withColumn("cos_sim", F.round(cos, 4))


def _pairs(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # Both sides spread (r12, guide §2.5): the nested-loop pair join
    # streams one side, and its partition count caps the parallelism of
    # the O(N^2) per-pair cosine folds. A byte-sized vector table scans
    # as one split, serializing the whole quadratic stage on one core
    # (measured 19.9 s -> 0.8 s at sf0.1). The round-robin exchange is
    # linear in N — always negligible against the pair work it spreads.
    a = spread(
        emb.select(F.col(id_col).alias("id_a"), _as_double(vec_col).alias("ea"))
    ).withColumn("sqrt_na", F.sqrt(_norm2("ea")))
    b = spread(
        emb.select(F.col(id_col).alias("id_b"), _as_double(vec_col).alias("eb"))
    ).withColumn("sqrt_nb", F.sqrt(_norm2("eb")))
    return a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))


def cosine_pairs(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding-cosine near-dup)."""
    return _with_cosine_prenormed(_pairs(emb, id_col, vec_col), "ea", "eb").filter(
        F.col("cos_sim") >= threshold
    ).select("id_a", "id_b", "cos_sim")


def cosine_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter: Column,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (brute force).

    The query side is filtered then broadcast; candidates stream
    partition-parallel. Rank is over the rounded cosine with id_b as
    tiebreaker (total order => engine-portable)."""
    q = emb.filter(query_filter).select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("ea"),
    )
    q = q.withColumn("sqrt_na", F.sqrt(_norm2("ea")))
    # candidates spread (r12): they are the streamed side of the
    # broadcast nested-loop join below, so their partition count caps
    # the parallelism of the |Q| x N cosine folds (measured 1.4x at
    # sf0.1 where the byte-tiny scan otherwise yields one task)
    c = spread(
        emb.select(F.col(id_col).alias("id_b"), _as_double(vec_col).alias("eb"))
    )
    c = c.withColumn("sqrt_nb", F.sqrt(_norm2("eb")))
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("id_b"))
    scored = _with_cosine_prenormed(pairs, "ea", "eb")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("id_b").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col("id_b").alias("neighbor_id"), "rnk", "cos_sim")
    )


def lsh_multitable_buckets(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int = 12,
    n_planes: int = 5,
    dim: int = 64,
) -> DataFrame:
    """(id, tbl, bucket) — ``n_tables`` independent sign-LSH tables of
    ``n_planes`` bits each (OR-of-ANDs amplification).

    A single k-bit table recalls ~p^k of true pairs (p = 1 - theta/pi);
    L independent tables lift that to 1-(1-p^k)^L while a candidate
    pair costs one equi-join row per colliding table. Plane component
    (t, p, j) = (ascii(md5(t ':' p ':' j)[0]) % 7) - 3 — reproducible
    in any engine with md5 + ascii (precomputed to literals here —
    see ``_plane``). One projection + one posexplode; no shuffle until
    the candidate join."""
    tables = []
    for t in range(n_tables):
        bucket = None
        for p in range(n_planes):
            plane = _plane((t, p), dim)
            dot = F.round(
                F.aggregate(
                    F.zip_with(F.col("v"), plane, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,  # engine-stable sign test (summation-order fp drift)
            )
            bit = F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * (2**p)
            bucket = bit if bucket is None else bucket + bit
        tables.append(bucket.cast("long"))
    e = emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    return e.select(
        "id", F.posexplode(F.array(*tables)).alias("tbl", "bucket")
    )


def _md5_plane_matrix(keys: list[str], dim: int):
    """The engine's md5 hyperplane formula (``_plane``: component j of
    key k = (ascii(md5('k:j')[0]) % 7) - 3) as one float64 numpy
    matrix, one row per key — the single construction both Arrow
    kernels (``_mp_signature_gen`` / ``_multitable_signature_gen``)
    build their sign tests from, so the formula the DuckDB oracles
    mirror lives in exactly one place."""
    import hashlib

    import numpy as np

    return np.array(
        [
            [
                (ord(hashlib.md5(f"{k}:{j}".encode()).hexdigest()[0]) % 7) - 3
                for j in range(dim)
            ]
            for k in keys
        ],
        dtype=np.float64,
    )


def _multitable_signature_gen(n_tables: int, n_planes: int, dim: int):
    """Arrow-batch bucket kernel for the multitable sign-LSH:
    (id, v) -> (id, per-table bucket array). Plane (t, p) component j
    uses the engine's md5 formula (``_plane``, key 't:p:j') evaluated
    once driver-side; bit p carries weight 2^p — both identical to the
    literal-fold form in ``lsh_multitable_buckets`` and mirrored in
    the DuckDB oracles (queries/llm.py::_LSH_BUCKETS_CTE)."""
    import numpy as np
    import pandas as pd

    planes = _md5_plane_matrix(
        [f"{t}:{p}" for t in range(n_tables) for p in range(n_planes)], dim
    )
    weights = (1 << np.arange(n_planes)).astype(np.int64)  # bit p -> 2^p

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            dots = np.round(vecs @ planes.T, 6)
            # NaN parity (r11 advice): Spark SQL orders NaN above
            # every value, so the fold form's `dot >= 0` yields bit 1
            # on a NaN dot (a vector with a NaN element) — numpy's
            # NaN >= 0 is False. OR-in isnan so the kernel stays
            # bit-identical to the fold form on NaN rows too.
            bits = ((dots >= 0) | np.isnan(dots)).astype(np.int64)
            buckets = (
                bits.reshape(len(pdf), n_tables, n_planes) * weights
            ).sum(axis=2)
            yield pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "bk": list(buckets)}
            )

    return gen


def lsh_multitable_buckets_kernel(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int = 12,
    n_planes: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Output-identical twin of ``lsh_multitable_buckets`` computed by
    ONE Arrow-batched numpy matmul instead of ``n_tables * n_planes``
    literal-array Catalyst folds — the multiprobe signature fix
    (``_mp_signature_gen``) ported to the multitable shape (r10
    verdict #2).

    Why: the fold form embeds L·k 64-literal plane arrays in the plan
    and Catalyst re-walks them at every analysis — measured 2.86 s of
    plan construction per ``sim_topk_ann`` build at sf0.1 (the slowest
    plan in the bench detail, BENCH_r10), all analyzer time, zero
    execution. The kernel keeps the planes in the task closure (zero
    plan footprint) and hashes a corpus batch as one matmul.

    Sign semantics: float64 accumulate, round to 6 dp, then >= 0 —
    the same two cross-engine divergence classes as the multiprobe
    kernel (closed half-even tie + the residual ~1-ulp summation-order
    window; see the signature-stage comment in
    ``_ann_lsh_multiprobe_distinct``). Degenerate vectors — NULL,
    any NULL element, or length != dim — are routed AROUND the kernel
    JVM-side and assigned bucket 0 in every table: exactly what the
    fold form yields for them, since any such vector's dot is NULL
    (zip_with pads length mismatches with nulls) and
    ``when(dot >= 0, ...).otherwise(0)`` zeroes every bit. Parity is
    pinned exactly in tests/test_similarity.py."""
    e = emb.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    )
    # the id passes through the kernel untouched — declare its REAL
    # type (the fold form never constrained it; a hardcoded `long`
    # would break string/UUID ids at the Arrow boundary)
    id_type = e.schema["id"].dataType.simpleString()
    degenerate = (
        F.col("v").isNull()
        | (F.size("v") != F.lit(dim))
        | F.exists(F.col("v"), lambda x: x.isNull())
    )
    clean = e.filter(~degenerate).mapInPandas(
        _multitable_signature_gen(n_tables, n_planes, dim),
        f"id {id_type}, bk array<long>",
    )
    zeros = e.filter(degenerate).select(
        "id", F.array_repeat(F.lit(0).cast("long"), n_tables).alias("bk")
    )
    return clean.unionByName(zeros).select(
        "id", F.posexplode("bk").alias("tbl", "bucket")
    )


def _ann_lsh_multitable_distinct(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_tables: int,
    n_planes: int,
    dim: int,
) -> DataFrame:
    """Multi-table LSH + exact verify over ALREADY-DISTINCT vectors.

    Candidate pairs are verified BEFORE pair dedup: a pair colliding in
    several tables costs a few extra map-side cosines (dup factor is
    bounded by n_tables, measured ~1.6 at sf1), while de-duplicating
    the raw candidate stream first costs a shuffle of the entire
    candidate volume — measured 350 s on 210M candidate rows at ~sf1
    vs map-side verify against a broadcast vector table. The distinct
    runs on post-threshold survivors, which the threshold has already
    cut by orders of magnitude.

    r12 optimization (guide §2.2/§2.5, measured 14x at sf0.1): the
    fold-form bucket stage costs n_tables x n_planes x dim interpreted
    lambda evaluations per row — the most compute-per-byte expression
    work in the engine — so (a) its input is ``spread`` (byte-based
    partitioning collapses the KB-sized vector frame to one task and
    serializes the folds), and (b) the bucket frame is persisted:
    both sides of the candidate self-join consume it, and without the
    persist Catalyst plans — and runs — the entire fold stage once per
    side ((id, tbl, bucket) ints, negligible to cache at any corpus
    scale). Same CacheManager lifecycle caveat as the cascade persists
    (see ``dedup._collapse_exact_dups``).

    Closing r12 optimization: the bucket stage is the output-identical
    Arrow kernel (``lsh_multitable_buckets_kernel``), not the literal-
    fold form — at the 16x4 operating point the fold embedded 64
    64-literal plane arrays whose analyzer walk dominated the query's
    cost (measured 2.66 s of plan construction per build at sf0.1, the
    same signal that ported ``sim_topk_ann`` in r11); the kernel keeps
    the planes in the task closure with zero plan footprint, and
    kernel/fold parity (NaN and degenerate rows included) is pinned in
    tests/test_similarity.py."""
    from pyspark.storagelevel import StorageLevel

    buckets = lsh_multitable_buckets_kernel(
        spread(emb), id_col, vec_col, n_tables, n_planes, dim
    ).persist(StorageLevel.MEMORY_AND_DISK)
    e = spread(
        emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    ).withColumn("sn", F.sqrt(_norm2("v")))
    a = buckets.select(F.col("id").alias("id_a"), "tbl", "bucket")
    b = buckets.select(F.col("id").alias("id_b"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .join(
            e.withColumnsRenamed({"id": "id_a", "v": "ea", "sn": "sqrt_na"}),
            "id_a",
        )
        .join(
            e.withColumnsRenamed({"id": "id_b", "v": "eb", "sn": "sqrt_nb"}),
            "id_b",
        )
    )
    return (
        _with_cosine_prenormed(cand, "ea", "eb")
        .filter(F.col("cos_sim") >= threshold)
        # pair-dedup via explicit aggregate, not dropDuplicates(subset):
        # duplicate rows carry identical cosines (same arrays, same
        # fold), so max() is value-exact — and the Deduplicate node's
        # aggregate rewrite breaks downstream set-op composition
        # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND under exceptAll, Spark
        # 4.1) where a plain aggregate does not
        .groupBy("id_a", "id_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )


def ann_lsh_multitable_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_tables: int = 12,
    n_planes: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Scale-path ANN with amplified recall: candidates collide in ANY
    of the ``n_tables`` hash tables and are verified with the exact
    cosine. Measured at sf0.01 (threshold 0.4, the hardest regime for
    sign-LSH — a 66° angle is barely off random): L=16 k=4 recovers
    58/59 true pairs (L=12 k=5: 41/59) vs 2/59 for the single 8-bit
    table. At production near-dup thresholds (>= 0.85) the same L x k
    is ~100% recall on <1% of pairs. The join key (tbl, bucket) keeps
    every table's buckets in one shuffle.

    **Scale warning (measured, round 5)**: do NOT take this operator's
    flat ladder curve at face value for production runs. Its candidate
    volume is Theta(N^2 * L / 2^k) — fixed overhead hides the term
    until N crosses the decade where it dominates, and every candidate
    pays a full ``dim``-double cosine fold (no Hamming prefilter). The
    production-threshold 8x12 config was flat to fresh-x33 (66k
    distinct vectors, 9.1 s) then hit 137.1 s at fresh-x100 (200k —
    15x wall for 3x data; SCALE_LADDER_FRESH_X100_r05.json). For
    production near-dup (threshold >= 0.85) use
    ``prod_near_dup_pairs`` / ``PROD_NEAR_DUP_MP``: 6.3 s at the same
    rung and +19 recall points on planted pairs
    (scripts/prod_recall.py). This operator remains the frozen-oracle
    correctness row (``sim_ann_lsh``) and a valid small-corpus path.

    Runs as the exact-dup cascade (``dedup._collapse_exact_dups``, via
    ``_exact_dup_cascade``): identical vectors are collapsed FIRST
    (min-id representative), the LSH + verify pipeline runs on distinct
    vectors only, and verified representative pairs are expanded back
    to member pairs at the end. Replicated corpora are exactly where
    near-dup volume explodes (every copy collides with every copy in
    every table, quadratically); the cascade makes the quadratic stage
    scale with DISTINCT vectors while the expansion is a linear join.
    The output set is provably identical: members share their
    representative's buckets (identical input -> identical hashes) and
    its cosines (identical doubles -> identical rounded values), and
    within-group pairs always collide, with the same self-cosine the
    pairwise formula yields. Exact-dedup-then-LSH is the cascade
    production near-dup pipelines run anyway."""
    return _exact_dup_cascade(
        emb,
        id_col,
        vec_col,
        threshold,
        lambda reps: _ann_lsh_multitable_distinct(
            reps, id_col, vec_col, threshold, n_tables, n_planes, dim
        ),
    )


def _exact_dup_cascade(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    rep_pairs_fn,
) -> DataFrame:
    """The vector side of the exact-dup cascade
    (``dedup._collapse_exact_dups``): collapse identical vectors on
    ``_vec_key`` — a 16-byte md5 of the canonical vector string, so the
    shuffle carrying vectors is keyed on 16 bytes instead of ~512 — run
    ``rep_pairs_fn(reps)`` (any pipeline whose candidate test depends
    only on the vector VALUE — identical inputs always collide and
    carry identical cosines) over distinct vectors, then expand the
    verified rep pairs back to member pairs. Equivalence with the
    per-member pipeline is pinned in test_similarity.py."""
    e = emb.select(
        F.col(id_col).alias("mid"), _as_double(vec_col).alias("mv")
    ).withColumn("vkey", _vec_key(F.col("mv")))
    groups, mapping = _collapse_exact_dups(e, "vkey", "mv")
    reps = groups.select(F.col("rid").alias(id_col), F.col("mv").alias(vec_col))
    rep_pairs = rep_pairs_fn(reps)
    # within-group pairs: identical vectors always share every bucket,
    # so every member pair of a multi-member group is a candidate; its
    # cosine is the group's self-cosine (1.0 after rounding for any
    # nonzero vector, NULL for zero-norm — dropped, as the pairwise
    # formula would), computed ONCE per group on the groups frame
    self_cos = F.round(
        F.try_divide(_dot("mv", "mv"), F.sqrt(_norm2("mv")) * F.sqrt(_norm2("mv"))),
        4,
    )
    grp = (
        groups.filter(F.col("gsz") > 1)
        .withColumn("cos_sim", self_cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("rid", "cos_sim")
    )
    return _expand_member_pairs(rep_pairs, mapping, grp, "cos_sim")


def _pool_subsets(pool: int, n_bits: int, n_tables: int) -> list[list[int]]:
    """Table ``t``'s bit subset: rank the pool bits by
    ``md5('sub:t:j')`` (hex-string order, ``j`` tiebreak) and take the
    first ``n_bits`` — reproducible in any engine with md5 (the DuckDB
    oracle derives the identical subsets with a ROW_NUMBER over the
    same ordering)."""
    import hashlib

    return [
        sorted(
            range(pool),
            key=lambda j: (hashlib.md5(f"sub:{t}:{j}".encode()).hexdigest(), j),
        )[:n_bits]
        for t in range(n_tables)
    ]


def _probe_masks(n_bits: int, probe_radius: int) -> list[int]:
    """XOR masks for multi-probe: the zero mask, every 1-bit flip, and
    (radius 2) every 2-bit flip of a ``n_bits``-wide bucket."""
    masks = [0]
    if probe_radius >= 1:
        masks += [1 << i for i in range(n_bits)]
    if probe_radius >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_bits)
            for j in range(i + 1, n_bits)
        ]
    return masks


_WORD_BITS = 63  # bits per packed signature word (bit 63 would overflow
# DuckDB's left shift and flip Spark's sign bit; 63 keeps both engines
# in well-defined positive-long territory)

# Auto-gate for the multiprobe's corpus-side joins (the packed
# signature words of the Hamming screen and both vector sides of the
# exact verify): broadcast while the INPUT embedding relation's
# Catalyst size estimate stays at or under this many bytes, pin
# SHUFFLE_HASH above it. Sizing: 128 MiB of source parquet is ~500k
# 64-dim float vectors (random floats barely compress, ~260 B/row);
# broadcast-side cost is then ~2 x 280 MB of in-memory rows for the
# exact-verify vector sides (64 DOUBLES after the cast, ~560 B/row)
# plus 2 x 20 MB of signature words — together the upper edge of what
# a 4-8 GiB executor holds comfortably next to its task memory. Past
# the gate the vector build sides alone are GBs at 1e7+ vectors and
# broadcasting would OOM the executors — exactly the swap the
# multiprobe docstring names.
MP_BROADCAST_MAX_INPUT_BYTES = 128 * 1024 * 1024

# Shuffle-disk budget for ONE multiprobe pass. Default sized for this
# box's shared local dirs: the single-pass shuffle tier died past
# >70 GB of shuffle files at threshold 0.4 x 60k vectors, while the
# measured 4x40-pass run peaked at 29.9 GB (SCALE.md §Round-7). A
# cluster whose executors own real shuffle volumes raises it via the
# ``spark.cndp.mp.diskBudgetBytes`` conf or the ``disk_budget_bytes``
# argument without editing the library.
MP_DISK_BUDGET_BYTES = 32 * 1024 * 1024 * 1024

# Sentinel returned by _plan_size_bytes when Catalyst's estimate is
# unreachable: large enough that the broadcast gate always resolves
# to the scale-safe shuffle mode. The pass sizing needs no Catalyst
# stats (it counts candidates exactly), so nothing else reads it.
PLAN_SIZE_UNKNOWN = 1 << 62

# Shuffle bytes per unscreened candidate (pair, table, probe) row —
# the one constant that turns the exact candidate count into bytes:
# the aggregate slope of peak shuffle disk over per-pass candidate
# volume at fresh-x30 / threshold 0.4 (the 4x40-pass run peaked at
# 29.9 GB for ~4.2e8 candidates/pass, SCALE.md §Round-7). The true
# bytes per candidate drift with the Hamming-screen pass fraction
# (survivors carry the exact verify's vector attach), which is why
# chunked runs re-pack from MEASURED bytes after their first pass
# and single-pass carries the headroom below.
_MP_CANDIDATE_ROW_BYTES = 70

# Single-pass headroom: single-pass only when count x 70 B x this
# fits the budget — a single-pass run has no pass boundary at which
# a measurement could correct it. Re-derived from the single-pass
# rungs' observed/exact shuffle ratios (SCALE.md "One sizing path"):
# 1.42 at NC=256 (r10), 1.93 at NC=1024 (r12) — the latter above the
# old 1.7. Estimates inside [budget/2, budget] pay a minimal 2-pass
# chunk, whose pilot reading then packs the rest.
MP_BYTE_DRIFT_GUARD = 2.0


def _mp_k_from_estimate(
    est: int,
    n_tables: int,
    disk_budget_bytes: int,
) -> int | None:
    """Pack the table list into passes under the disk budget:
    K = ceil(n_tables / ceil(est / budget)) tables per pass (at least
    two passes), or ``None`` (single-pass) when the stream fits with
    ``MP_BYTE_DRIFT_GUARD`` headroom or a 1-table list cannot be
    subdivided. ``est`` is the exact count's bytes at sizing time and
    the first pass's measured bytes per table x the remaining tables
    at re-pack time — one rule, two inputs."""
    if est * MP_BYTE_DRIFT_GUARD <= disk_budget_bytes:
        return None
    n_passes = min(max(-(-est // disk_budget_bytes), 2), n_tables)
    if n_passes <= 1:
        return None
    return -(-n_tables // n_passes)


def _mp_exact_candidate_count(
    e: DataFrame,
    pool: int,
    n_bits: int,
    n_tables: int,
    probe_radius: int,
    dim: int,
) -> int:
    """EXACT unscreened candidate count for the multiprobe over the
    (id, v) frame ``e`` — what the shuffle tier sizes its passes
    from. A uniform-bucketing byte model was measured 11.2x under the
    true stream on a 16-cluster corpus (SCALE.md §Round-9); the count
    is immune to bucket skew by construction.

    Counts candidates without materializing any pair: run the
    signature stage, count rows per (table, bucket), expand each home
    bucket by the XOR probe masks, and sum home-count x probe-count
    over matching buckets — a linear job over N rows whose shuffles
    carry at most L·2^k count rows. ``sum(pc*hc)`` counts ordered
    (probe, home) row pairs including each row's mask-0 self-match,
    so unordered candidates = (total − N·L) / 2 — the id_a < id_b
    filter's exact population.

    Cost disclosure: this RUNS A JOB at operator-construction time
    (one linear pass — negligible next to the quadratic work it
    sizes)."""
    n_words = pool // _WORD_BITS
    sig_schema = (
        "id long, "
        + ", ".join(f"w{m} long" for m in range(n_words))
        + ", bk array<long>"
    )
    homes = (
        e.mapInPandas(
            _mp_signature_gen(pool, n_bits, n_tables, dim), sig_schema
        )
        .select(F.posexplode("bk").alias("tbl", "bucket"))
    )
    hc = homes.groupBy("tbl", "bucket").agg(F.count(F.lit(1)).alias("hc"))
    masks = _probe_masks(n_bits, probe_radius)
    mask_arr = F.expr("array(" + ",".join(str(m) for m in masks) + ")")
    pc = (
        hc.select(
            "tbl",
            F.explode(mask_arr).alias("mask"),
            "bucket",
            F.col("hc").alias("pc"),
        )
        .select(
            "tbl",
            F.col("bucket").bitwiseXOR(F.col("mask")).alias("bucket"),
            "pc",
        )
        .groupBy("tbl", "bucket")
        .agg(F.sum("pc").alias("pc"))
    )
    row = (
        pc.join(hc, ["tbl", "bucket"])
        .agg(
            F.sum(F.col("pc") * F.col("hc")).alias("ordered"),
            F.sum("hc").alias("selfs"),
        )
        .collect()[0]
    )
    ordered = row["ordered"] or 0
    selfs = row["selfs"] or 0
    return max((ordered - selfs) // 2, 0)


def _stage_shuffle_write_bytes(sc, group: str | None = None) -> dict | None:
    """Shuffle bytes WRITTEN per stage, ``{stage_id: bytes}``, for the
    stages of ``group``'s jobs — or for every stage the driver's
    app-status store retains when ``group`` is None (the arm-time
    snapshot). The same aggregated task metrics the Spark UI's stage
    table shows, so it works identically on a real cluster.

    Scoping to the run's own job group (the ``spark.jobGroup.id``
    local property, thread-scoped) keeps a concurrent job from
    another thread in the same SparkSession out of a pass reading.
    Spark lists SKIPPED stages in a job's stageIds too — shuffle
    output computed BEFORE the group existed and merely reused — so
    the caller subtracts the ids of its arm-time snapshot. Residual
    (bounded the safe way): a pre-group stage that physically
    RE-RUNS inside the group keeps its id and its new bytes stay
    excluded — an under-read. ``None`` when the status-store
    internals are unreachable; stages evicted past
    ``spark.ui.retainedStages`` drop out of the map."""
    try:
        store = sc._jsc.sc().statusStore()
        wanted = None
        if group is not None:
            wanted = set()
            jobs = store.jobsList(None)
            for i in range(jobs.size()):
                j = jobs.apply(i)
                jg = j.jobGroup()
                if jg.isDefined() and jg.get() == group:
                    sids = j.stageIds()
                    for s in range(sids.size()):
                        wanted.add(sids.apply(s))
            if not wanted:
                return {}
        stages = store.stageList(
            None,
            getattr(store, "stageList$default$2")(),
            getattr(store, "stageList$default$3")(),
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        out: dict = {}
        for i in range(stages.size()):
            # bind once: each .apply/.stageId is a py4j round-trip,
            # and this reader runs at every pass barrier
            s = stages.apply(i)
            sid = s.stageId()
            if wanted is None or sid in wanted:
                out[sid] = out.get(sid, 0) + s.shuffleWriteBytes()
        return out
    except Exception:  # pragma: no cover - depends on py4j internals
        return None


# Deterministic inter-pass shuffle reclamation (r12). An eager loop
# that merely dropped a finished pass's references and nudged the JVM
# left the files to ContextCleaner's ASYNCHRONOUS queue, so whether
# consecutive passes' files overlapped on disk depended on cleanup
# timing, not the plan — SCALE_LADDER_PILOT_TAX_r11.json recorded a
# 6.45 GB peak vs 3.67 GB for a bit-identical twin run under a 4 GiB
# budget. The reclaimer drives the SAME cleanup synchronously:
# enumerate the shuffle ids registered with the driver's
# MapOutputTrackerMaster before/after each pass and call
# ContextCleaner.doCleanupShuffle(id, blocking=true) on the pass's
# ids once its result is checkpointed — after the call returns, the
# files are gone (a later job that needed a cleaned shuffle recomputes
# its map stage, Spark's normal lost-shuffle path). Ids are attributed
# by exclusion: a window in which any foreign job ran is not swept.


def _live_shuffle_ids(sc) -> frozenset | None:
    """Shuffle ids currently registered with the driver's
    MapOutputTrackerMaster — the live-shuffle census the reclaimer
    diffs around each eager pass. ``None`` when the py4j internals
    are unreachable (the reclaimer then degrades to the async-GC
    fallback with a one-time warning)."""
    try:
        tracker = sc._jvm.org.apache.spark.SparkEnv.get().mapOutputTracker()
        it = tracker.shuffleStatuses().keySet().iterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return frozenset(out)
    except Exception:  # pragma: no cover - depends on py4j internals
        return None


def _foreign_jobs_active(sc, group: str | None) -> bool | None:
    """True when jobs OUTSIDE ``group`` are currently active in this
    SparkContext — one of the two signals that make blanket shuffle
    sweeping unsafe (the other is ``_foreign_job_ids``): ids
    registered during our pass window may belong to an in-flight
    sibling job, and deleting a shuffle a running job depends on
    doesn't just force recompute — when the lost shuffle sits
    downstream of a python (mapInPandas) stage Spark marks it
    INDETERMINATE and ABORTS the consumer instead of rolling back
    (measured: a concurrent multiprobe run died in localCheckpoint).
    ``None`` (unknown) when the status tracker is unreachable — the
    caller treats unknown as foreign and declines to sweep."""
    try:
        st = sc.statusTracker()
        active = set(st.getActiveJobsIds())
        if not active:
            return False
        if group is not None:
            mine = set(st.getJobIdsForGroup(group))
            return bool(active - mine)
        return True
    except Exception:  # pragma: no cover - depends on py4j internals
        return None


def _foreign_job_ids(sc, group: str | None) -> frozenset | None:
    """Job ids in the status store that do NOT belong to ``group`` —
    the reclaimer's attribution-by-exclusion census. A sweep is only
    safe when the window since the last barrier contained OUR jobs
    exclusively: a sibling job that ran AND COMPLETED inside the
    window leaves shuffles (persisted-frame builds) its later jobs
    reuse as skipped stages, so `active jobs` alone misses it —
    measured in the full test suite as a concurrent run dying on a
    swept shuffle while idle at the instant of the check. New foreign
    ids since the last barrier => don't sweep. ``None`` when the
    status-store internals are unreachable (no attribution => no
    sweep). Job eviction past spark.ui.retainedJobs removes OLDEST
    ids first, so a foreign job submitted inside the window survives
    the store unless >retainedJobs (default 1000) newer jobs were
    submitted before the barrier — orders of magnitude beyond a
    pass's job count; within that bound an empty diff is trustworthy
    (r12 review: this is a practical bound, not an absolute one)."""
    try:
        store = sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        out = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jg = j.jobGroup()
            if not (group is not None and jg.isDefined() and jg.get() == group):
                out.add(j.jobId())
        return frozenset(out)
    except Exception:  # pragma: no cover - depends on py4j internals
        return None


def _persisted_shuffle_ids(sc) -> frozenset | None:
    """Shuffle ids reachable from the lineage of every CURRENTLY
    PERSISTED RDD (Dataset caches included — their column buffers
    register in ``SparkContext.getPersistentRDDs``). The reclaimer
    excludes these from any sweep (r12 review): a cached frame whose
    blocks evict (or whose executor dies, on a cluster) recomputes
    through its lineage, and ContextCleaner — the behavior the
    deterministic sweep replaces — would never have deleted a
    still-referenced shuffle. ``None`` when the py4j walk fails (the
    caller then declines to sweep this pass — attribution without
    the referenced-set is not safe)."""
    try:
        out: set = set()
        seen: set = set()

        def visit(rdd) -> None:
            rid = rdd.id()
            if rid in seen:
                return
            seen.add(rid)
            deps = rdd.dependencies()
            for i in range(deps.size()):
                d = deps.apply(i)
                if "ShuffleDependency" in d.getClass().getName():
                    out.add(d.shuffleId())
                visit(d.rdd())

        it = sc._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            visit(getattr(it.next(), "_2")())
        return frozenset(out)
    except Exception:  # pragma: no cover - depends on py4j internals
        return None


def _reclaim_shuffle_ids(sc, ids) -> int | None:
    """Synchronously delete the given shuffle ids via
    ContextCleaner.doCleanupShuffle(id, blocking=true) — the
    deterministic twin of the GC-triggered cleanup path. Returns the
    number of shuffles cleaned, or ``None`` when the cleaner is
    absent/unreachable (caller falls back to the async nudge)."""
    try:
        cleaner_opt = sc._jsc.sc().cleaner()
        if not cleaner_opt.isDefined():
            return None
        cleaner = cleaner_opt.get()
        cleaned = 0
        for sid in sorted(ids):
            cleaner.doCleanupShuffle(sid, True)
            cleaned += 1
        return cleaned
    except Exception:  # pragma: no cover - depends on py4j internals
        return None


def _reclaim_shuffles(sc, before: frozenset) -> int | None:
    """Delete every shuffle registered since ``before``; see
    ``_reclaim_shuffle_ids``."""
    now = _live_shuffle_ids(sc)
    if now is None:
        return None
    return _reclaim_shuffle_ids(sc, now - before)


class _ShuffleReclaimer:
    """Per-run inter-pass shuffle reclamation driver. Snapshots the
    live shuffle census at arm time; ``after_pass()`` deletes the
    shuffles the finished (checkpointed) pass registered and
    re-snapshots. Degrades to the async behavior (py4j ref drop +
    System.gc nudge) — recording ``None`` for that pass — in two
    cases: (a) internals unreachable (one-time warning: the budget is
    soft by up to ~one pass of cleanup overlap); (b) the pass window
    was NOT exclusively ours — a foreign job ran during it (new
    foreign job ids in the status store) or spans it (active now):
    the census diff cannot attribute ids, and sweeping a sibling's
    shuffle is not a benign recompute — downstream of a python stage
    Spark marks the lost shuffle INDETERMINATE and aborts the
    consumer (both failure shapes measured in the concurrent-runs
    test before this guard existed)."""

    def __init__(self, sc, job_group: str | None = None):
        self._sc = sc
        self._group = job_group
        self._snapshot = _live_shuffle_ids(sc)
        self._foreign_seen = _foreign_job_ids(sc, job_group)
        if self._foreign_seen is None:
            # no attribution census => never safe to sweep
            self._snapshot = None
        self._warned = False
        self.cleaned_per_pass: list = []

    def _warn_once(self, msg: str, stacklevel: int = 4) -> None:
        if self._warned:
            return
        self._warned = True
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=stacklevel)

    def _window_was_exclusive(self) -> bool | None:
        """Tri-state (r12 review — a bool form re-armed a degraded
        reclaimer and a later pass crashed on ``frozenset - None``):
        True = the window since the last barrier contained OUR
        group's jobs exclusively (no new foreign job ids — a sibling
        that ran-and-finished inside the window — and no foreign job
        active — one spanning it); False = shared window (skip this
        sweep, stay armed); None = the attribution internals are
        unreachable (caller disarms). Updates the foreign census on a
        readable store."""
        if self._foreign_seen is None:
            return None
        now_f = _foreign_job_ids(self._sc, self._group)
        if now_f is None:
            return None
        new_foreign = bool(now_f - self._foreign_seen)
        self._foreign_seen = now_f
        if new_foreign:
            return False
        active = _foreign_jobs_active(self._sc, self._group)
        if active is None:
            return None
        return not active

    def after_pass(self) -> int | None:
        cleaned = None
        if self._snapshot is not None:
            # fix the candidate sweep set BEFORE the exclusivity
            # check: a foreign job submitted in the gap between check
            # and sweep then cannot contribute ids to the set (its
            # pre-window shuffles are in the snapshot and never
            # swept). The residual race is a foreign shuffle
            # registered before this census whose job-submitted event
            # has not yet drained into the status store — an event-
            # queue-lag window of milliseconds, worst case one
            # recoverable stage retry on the sibling.
            census = _live_shuffle_ids(self._sc)
            exclusive = (
                None if census is None else self._window_was_exclusive()
            )
            if exclusive is None:
                self._snapshot = None  # internals degraded: disarm
            elif exclusive is False:
                # don't sweep — but DO re-snapshot, so the shared
                # window's ids never land in a later pass's diff
                self._warn_once(
                    "multiprobe eager passes: concurrent jobs ran in "
                    "this SparkSession during a pass window — "
                    "deterministic shuffle reclamation cannot "
                    "attribute shuffle ids and is skipped for such "
                    "passes (async GC cleanup instead). The disk "
                    "budget is soft by up to ~one pass of "
                    "shuffle-file overlap for those passes."
                )
                self._snapshot = census
            else:
                # never sweep a shuffle a live persisted lineage can
                # still recompute through (r12 review): cache
                # eviction / executor loss would re-need it, and the
                # ContextCleaner behavior this replaces only ever
                # deleted UNREFERENCED shuffles
                keep = _persisted_shuffle_ids(self._sc)
                if keep is None:
                    self._snapshot = None  # can't prove safety: disarm
                else:
                    cleaned = _reclaim_shuffle_ids(
                        self._sc, census - self._snapshot - keep
                    )
                if cleaned is not None:
                    self._snapshot = _live_shuffle_ids(self._sc)
                    if self._snapshot is None:  # degraded mid-run
                        cleaned = None
        if cleaned is None:
            # fallback: drop py4j refs to the pre-checkpoint plan and
            # nudge the JVM so ContextCleaner reclaims the pass's
            # shuffle files EVENTUALLY — peak disk is then soft by up
            # to one pass of overlap under cleanup lag
            import gc as _gc

            self._warn_once(
                "multiprobe eager passes: deterministic shuffle "
                "reclamation is unavailable — falling back to async GC "
                "cleanup; the disk budget is soft by up to ~one pass "
                "of shuffle-file overlap.",
                stacklevel=3,
            )
            _gc.collect()
            self._sc._jvm.System.gc()
        self.cleaned_per_pass.append(cleaned)
        return cleaned


# Per-run pass reports. LAST_MP_SIZING_REPORT is the last chunked
# run's report; MP_SIZING_REPORTS keeps one per run so racing runs do
# not clobber each other, keyed by the CALLER's spark.jobGroup.id when
# one was set at call time (the handle a concurrent caller can know),
# else by the run's internal cndp-mp-passes-<uuid> group (always in
# the report's "job_group" field). Bounded and insertion-ordered: the
# stalest entry evicts past MP_SIZING_REPORTS_MAX. Mutated only under
# _MP_REPORTS_LOCK.
LAST_MP_SIZING_REPORT: dict | None = None
MP_SIZING_REPORTS: "_OrderedDict[str, dict]" = _OrderedDict()
MP_SIZING_REPORTS_MAX = 32
_MP_REPORTS_LOCK = _Lock()

# The first pass of a budget-sized chunked run is small: 1/8 of the
# packed K (>= 1 table). It is the measurement the rest of the run is
# packed from, taken before any full-size pass can breach the budget:
# the count fixes the candidate ROWS, but bytes per candidate drift
# with the Hamming-screen pass fraction (up to 1.93x measured), and a
# full first pass pays any drift before it is seen — the r12 no-pilot
# control shuffled 5.43 GB in its first pass against a 4 GiB budget
# (SCALE_LADDER_PILOT_TAX_r12.json). Costs one extra pass barrier.
MP_PILOT_DIVISOR = 8

# A first pass that shuffled less than this is dominated by fixed
# per-pass floors (signature partials, bucket-count exchanges,
# shuffle-file metadata — ~0.9 MB on a sf0.001 pass), so its per-table
# rate is not evidence and the run is not re-packed from it. 64 MiB
# sits far above any observed floor and far below the passes the
# budget exists for.
MP_SIZING_FEEDBACK_MIN_BYTES = 64 * 1024 * 1024


class _MpSizingFeedback:
    """Measure each eager pass and re-pack the run from the first one.

    Snapshots the status store's stage ids at arm time, then reads
    the run's job-group-scoped shuffle-write bytes at each pass
    barrier (``_stage_shuffle_write_bytes``) and records the delta
    per pass. When the run was sized from a disk budget, ``repack``
    — called once, after the first pass — projects that pass's
    measured bytes per table over the next pass and, when the
    projection exceeds the budget, packs the REMAINING tables with
    the same K rule the sizer used (``_mp_k_from_estimate``). It only
    ever goes finer: a too-fine pack costs the bounded pass-barrier
    tax, a too-coarse one meets the disk wall.

    Disarms itself (never raises, never blocks the job) when the
    status store is unreachable or a delta goes negative (stage
    eviction past ``spark.ui.retainedStages`` — a stale reading is
    worse than none)."""

    def __init__(
        self,
        sc,
        n_tables: int,
        job_group: str,
        est_stream_bytes: int | None = None,
        disk_budget_bytes: int | None = None,
        pilot_tables: int | None = None,
        caller_group: str | None = None,
    ):
        self._sc = sc
        self._n_tables = n_tables
        self._group = job_group
        self._est = est_stream_bytes
        self._budget = disk_budget_bytes
        self._pilot = pilot_tables
        self._caller_group = caller_group
        self._passes: list[dict] = []
        self._repack: dict | None = None
        snap = _stage_shuffle_write_bytes(sc)
        self._preexisting = frozenset(snap or ())
        self._base = self._read()

    def _read(self) -> int | None:
        stages = _stage_shuffle_write_bytes(self._sc, self._group)
        if stages is None:
            return None
        return sum(b for s, b in stages.items() if s not in self._preexisting)

    def after_pass(self, tables_in_pass: int) -> None:
        if self._base is None:
            return
        now = self._read()
        if now is None or now < self._base:
            self._base = None
            return
        self._passes.append(
            {"tables": tables_in_pass, "observed_bytes": now - self._base}
        )
        self._base = now

    def repack(self, remaining_tables: int, current_k: int) -> int | None:
        """Tables per pass for the remaining list, packed from the
        first pass's measured bytes per table — or ``None`` to keep
        ``current_k``: no budget, no qualifying reading (below
        ``MP_SIZING_FEEDBACK_MIN_BYTES``), the projected next pass
        fits, or the packed K is not strictly finer."""
        if self._budget is None or remaining_tables <= 0 or not self._passes:
            return None
        first = self._passes[0]
        if first["observed_bytes"] < MP_SIZING_FEEDBACK_MIN_BYTES:
            return None
        rate = first["observed_bytes"] / first["tables"]
        if rate * min(current_k, remaining_tables) <= self._budget:
            return None
        new_k = _mp_k_from_estimate(
            int(rate * remaining_tables) + 1, remaining_tables, self._budget
        )
        if new_k is None or new_k >= current_k:
            return None
        self._repack = {
            "measured_bytes_per_table": int(rate),
            "old_tables_per_pass": current_k,
            "new_tables_per_pass": new_k,
            "remaining_tables": remaining_tables,
        }
        return new_k

    def finish(self, reclaimer: "_ShuffleReclaimer | None" = None) -> None:
        if not self._passes:
            return
        global LAST_MP_SIZING_REPORT
        cleaned = [] if reclaimer is None else reclaimer.cleaned_per_pass
        report = {
            "n_tables": self._n_tables,
            "est_stream_bytes": self._est,
            "disk_budget_bytes": self._budget,
            "adaptive": self._budget is not None,
            "pilot_tables": self._pilot,
            "passes": self._passes,
            "observed_total_bytes": sum(
                p["observed_bytes"] for p in self._passes
            ),
            "repack": self._repack,
            "reclaim": {
                # None entries: that pass fell back to the async nudge
                "deterministic": bool(cleaned)
                and all(c is not None for c in cleaned),
                "cleaned_per_pass": list(cleaned),
            },
            "job_group": self._group,
            "caller_group": self._caller_group,
        }
        LAST_MP_SIZING_REPORT = report
        key = self._caller_group or self._group
        with _MP_REPORTS_LOCK:
            # re-insert so an overwritten key moves to the fresh end —
            # eviction must drop the STALEST report
            MP_SIZING_REPORTS.pop(key, None)
            MP_SIZING_REPORTS[key] = report
            while len(MP_SIZING_REPORTS) > MP_SIZING_REPORTS_MAX:
                MP_SIZING_REPORTS.popitem(last=False)


def _int_conf(spark, key: str) -> int | None:
    """Read a Spark conf as an integer byte count; ``None`` if unset;
    a named ValueError (not a deep py4j failure) on a non-integer."""
    val = spark.conf.get(key, None)
    if val is None:
        return None
    try:
        return int(val)
    except ValueError:
        raise ValueError(
            f"{key} must be an integer byte count, got {val!r}"
        ) from None


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for ``df``'s optimized logical plan.

    Trustworthy where the multiprobe consults it — a file-source
    relation (sum of file sizes x column-prune fraction). NOT
    trustworthy after mapInPandas/explode (Catalyst carries the
    pre-explode estimate through; measured mis-broadcast of a
    41.6M-row side, see ``_ann_lsh_multiprobe_distinct``), which is
    why the gate reads the INPUT relation, never an intermediate.
    Unknown size degrades to the ``PLAN_SIZE_UNKNOWN`` sentinel so
    the auto gate fails toward the scale-safe shuffle joins — with a
    one-time warning, because a silently degraded gate is a quiet ~2x
    perf regression (the measured below-gate mode delta) if the
    py4j/Catalyst internals this touches ever change shape."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception as exc:  # pragma: no cover - depends on py4j internals
        import warnings

        warnings.warn(
            "Catalyst size estimate unavailable "
            f"({type(exc).__name__}: {exc}); the multiprobe auto-gate "
            "degrades to shuffle mode (scale-safe but ~2x slower below "
            "the broadcast gate). Pass broadcast_corpus explicitly to "
            "silence this.",
            RuntimeWarning,
            stacklevel=3,
        )
        return PLAN_SIZE_UNKNOWN


def _mp_signature_gen(pool: int, n_bits: int, n_tables: int, dim: int):
    """Arrow-batch signature kernel for the multi-probe pipeline:
    (id, v) -> (id, packed 63-bit words, per-table bucket array).

    Planes use the engine's md5 formula (``_plane`` family, ``mp:``
    namespace) evaluated once driver-side; subsets via
    ``_pool_subsets``. Word m packs pool bits [m*63, m*63+62] first-
    bit-most-significant; table t's bucket packs its subset bits the
    same way — both formulas are mirrored literally in the DuckDB
    oracle (queries/llm.py::sim_ann_lsh_multiprobe)."""
    import numpy as np
    import pandas as pd

    planes = _md5_plane_matrix([f"mp:{j}" for j in range(pool)], dim)
    subs = np.array(_pool_subsets(pool, n_bits, n_tables), dtype=np.int64)
    weights = (1 << np.arange(n_bits - 1, -1, -1)).astype(np.int64)
    n_words = pool // _WORD_BITS

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            dots = np.round(vecs @ planes.T, 6)
            # NaN parity (r11 advice): match Spark's NaN-is-largest
            # ordering (`dot >= 0` is TRUE on NaN in Spark SQL and in
            # the DuckDB oracle; numpy alone says False) — see the
            # multitable kernel's identical clause.
            bits = ((dots >= 0) | np.isnan(dots)).astype(np.int64)
            out = {"id": pdf["id"].to_numpy()}
            for m in range(n_words):
                seg = bits[:, m * _WORD_BITS : (m + 1) * _WORD_BITS]
                word = np.zeros(len(pdf), dtype=np.int64)
                for b in range(_WORD_BITS):
                    word = word * 2 + seg[:, b]
                out[f"w{m}"] = word
            buckets = (bits[:, subs] * weights).sum(axis=2)
            out["bk"] = list(buckets)
            yield pd.DataFrame(out)

    return gen


def _ann_lsh_multiprobe_distinct(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    pool: int,
    n_bits: int,
    n_tables: int,
    probe_radius: int,
    hamming_max: int,
    dim: int,
    broadcast_corpus: bool = True,
    tables_per_pass: int | None = None,
    est_stream_bytes: int | None = None,
    disk_budget_bytes: int | None = None,
    pilot_tables: int | None = None,
) -> DataFrame:
    """Bit-pool multi-probe sign-LSH over ALREADY-DISTINCT vectors.

    The round-4 ``sim_ann_lsh`` operating point (16 tables x 4 planes)
    is superlinear on genuinely-distinct vectors at threshold 0.4
    (measured 65 s at fresh-x10, SCALE_LADDER_FRESH_r04.json): 16
    buckets per table cannot prune at a 66-degree threshold, and every
    candidate pays a full 64-dim exact cosine. This pipeline attacks
    both factors:

    - **Bit pool**: hash each vector ONCE into a ``pool``-bit sign
      signature (md5-derived hyperplanes, the ``_plane`` formula under
      the ``mp:`` namespace, evaluated as one Arrow-batched numpy
      matmul — ``_mp_signature_gen``). Tables are
      ``n_bits``-subsets of the pool (md5-ranked, ``_pool_subsets``),
      so adding tables costs integer bit-gathers, not new hyperplane
      dots — L can be sized for recall without re-hashing. Measured
      (offline sweep, sf0.01 + ladder-fresh vectors): with free
      tables, selectivity-per-unit-recall favors deep k + neighbor
      probing over the shallow-k wide-bucket shape.
    - **Multi-probe**: each home bucket also probes its
      Hamming-``probe_radius`` neighbor buckets (XOR masks — flip 1
      [+2] of the ``n_bits`` bits), recovering the recall a deep k
      loses: a true pair colliding on k-1 of k bits is still found.
      Probe rows are (id, tbl, bucket) ints only — vectors and
      signatures never ride the bucket shuffle.
    - **Hamming prefilter**: candidate pairs are screened by popcount
      distance over the packed ``pool``-bit signature (4 xor + 4
      bit_count on 63-bit words via a broadcast signature table)
      BEFORE the exact cosine. At the default operating point the
      prefilter passes ~12% of candidates (measured), so ~88% of the
      candidate stream costs ~10 integer ops instead of a 64-dim
      double fold. ``hamming_max`` is part of the operator's contract
      (the oracle applies the same screen); recall vs the exact tier
      is measured and reported in SCALE.md, not assumed.

    Defaults (pool=252, k=12, L=160, r=1, H=112) measured at sf0.01:
    recall 59/59 true pairs at threshold 0.4 (the r4 operating point:
    58/59), candidate volume 0.67 of all pairs as popcount-only rows,
    exact verifies 12%. On ladder-fresh vectors (2000): 985/1005 =
    98.0% recall. At a production near-dup threshold (>= 0.85) the
    same pool supports deeper k at full recall.

    Scale notes: ``broadcast_corpus`` picks the physical shape of the
    four corpus-side joins (signature words wa/wb of the Hamming
    screen, both vector sides of the exact verify). True — the ladder-
    scale default ``ann_lsh_multiprobe_pairs`` auto-selects below
    ``MP_BROADCAST_MAX_INPUT_BYTES`` — broadcasts them (<= tens of MB
    of build side at ladder scale; the candidate stream is then born,
    screened and verified without ever shuffling past its
    (tbl, bucket) stage). False — the 1e7+-vector regime — swaps all
    four to SHUFFLE_HASH joins: the candidate stream pays one exchange
    per attach (hashed on id_a/id_b, two ints per row pre-screen,
    survivors only for the vector attach) and the corpus sides shuffle
    instead of OOMing the executors. The hint is pinned rather than
    left to AQE because every one of these joins sits downstream of
    the mapInPandas signature stage, where Catalyst's size stats are
    known-garbage (measured: a 41.6M-row probe side chosen as a
    broadcast build, 134 s). ``tables_per_pass`` slices the table list
    into eager K-table passes (see the chunking comment in the body).
    ``sigs`` is persisted: three consumers (homes, probes, signature
    words) — and every chunked pass reuses the one materialization.
    A chunked run unpersists it once its last pass is checkpointed;
    a single-pass result still reads it lazily, so there the cache
    entry lives in the session CacheManager until the caller
    unpersists or clears the cache (Dataset persists are NOT
    ContextCleaner-reclaimed)."""
    from pyspark.storagelevel import StorageLevel

    n_words = (pool + _WORD_BITS - 1) // _WORD_BITS
    if pool % _WORD_BITS:
        raise ValueError(f"pool must be a multiple of {_WORD_BITS}")

    # A vector with a NULL (or NULL-element) embedding can never reach
    # the output — its cosine is NULL and every threshold/screen drops
    # it — so excluding it from the signature stage is output-exact.
    e = emb.filter(
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    ).select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))

    # Signature stage: ONE Arrow-batched mapInPandas doing a numpy
    # matmul, NOT 252 per-plane Catalyst folds. Measured on the fold
    # shape at sf0.1: 35 s of analysis for the 252 wide-literal plane
    # trees plus ~10 s of optimizer work PER ACTION re-walking them —
    # the pool is 4x the 64-plane budget the r3 measurements sized the
    # literal-fold shape for, and the plan cost scales with it. The
    # matmul keeps the planes/subsets in the task closure (zero plan
    # footprint) and hashes a 60k-vector corpus in ~0.1 s. Sign
    # semantics: float64 accumulate, round to 6 dp, then >= 0. Two
    # cross-engine divergence classes, one closed, one residual:
    # (a) CLOSED — a tie at an exact .5e-6 boundary, where numpy's
    # half-even and the engines' half-up disagree BY RULE: no
    # dyadic-rational dot of float32-derived components can land on
    # .5e-6 exactly (5e-7 is not representable in binary).
    # (b) RESIDUAL, ~1-ulp window — the two engines need not compute
    # the SAME float64 dot: numpy's matmul accumulates pairwise/SIMD
    # while DuckDB's SUM is sequential, and np.round's scaled
    # round(x*1e6)/1e6 intermediate adds its own ulp. A true dot
    # within ~1 ulp of the decision boundary (-5e-7 after rounding)
    # can therefore produce a different sign bit per engine,
    # desyncing one pool bit (bucket + Hamming word) for that vector.
    # This window is IRREDUCIBLE for any finite decision boundary
    # once summation orders differ — a tolerance band only moves the
    # boundary, it does not remove it — so it is documented rather
    # than papered over: P(hit) ~ 2^-45 per (vector, plane) for unit
    # vectors, none observed across the fuzz + content-fresh parity
    # sweeps (r4-r6), and a hit perturbs candidate GENERATION only;
    # precision is preserved by the exact verify on both engines.
    sig_schema = (
        "id long, "
        + ", ".join(f"w{m} long" for m in range(n_words))
        + ", bk array<long>"
    )
    sigs = e.mapInPandas(
        _mp_signature_gen(pool, n_bits, n_tables, dim), sig_schema
    ).persist(StorageLevel.MEMORY_AND_DISK)
    masks = _probe_masks(n_bits, probe_radius)

    homes = sigs.select("id", F.posexplode("bk").alias("tbl", "bucket"))
    mask_arr = F.expr("array(" + ",".join(str(m) for m in masks) + ")")
    words = sigs.select("id", *[f"w{m}" for m in range(n_words)])
    wa = words.select(
        F.col("id").alias("id_a"),
        *[F.col(f"w{m}").alias(f"wa{m}") for m in range(n_words)],
    )
    wb = words.select(
        F.col("id").alias("id_b"),
        *[F.col(f"w{m}").alias(f"wb{m}") for m in range(n_words)],
    )
    hamming = None
    for m in range(n_words):
        term = F.bit_count(F.col(f"wa{m}").bitwiseXOR(F.col(f"wb{m}")))
        hamming = term if hamming is None else hamming + term
    # corpus-side join shape — see the docstring's Scale notes. Both
    # branches are explicit: broadcast below the gate, SHUFFLE_HASH
    # above it (never AQE's call — post-mapInPandas stats are garbage)
    if broadcast_corpus:
        corpus_side = F.broadcast
    else:
        corpus_side = lambda d: d.hint("SHUFFLE_HASH")  # noqa: E731
    ev = emb.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    ).withColumn("sn", F.sqrt(_norm2("v")))

    def pass_pairs(homes_p: DataFrame) -> DataFrame:
        """Candidate → Hamming screen → exact verify → threshold →
        pair-dedup over one homes subset (all tables, or one
        ``tables_per_pass`` slice). The single-pass call with the full
        ``homes`` frame produces exactly the pre-chunking plan."""
        probes = homes_p.select(
            F.col("id").alias("id_a"),
            "tbl",
            F.explode(mask_arr).alias("mask"),
            "bucket",
        ).select(
            "id_a",
            "tbl",
            F.col("bucket").bitwiseXOR(F.col("mask")).alias("bucket"),
        )
        # candidate pairs are born map-side inside this join's stage
        # and screened immediately — they never shuffle. id_a < id_b
        # keeps each (pair, table, flip) once (the XOR-difference mask
        # is symmetric) and drops the mask-0 self-join. SHUFFLE_HASH
        # hint: Catalyst cannot see the explode multiplicity behind
        # the mapInPandas signature stage and (measured, fresh-x10)
        # broadcast the 41.6M-row PROBE side as a BHJ build — 134 s
        # for the join; a shuffled hash join building the smaller
        # homes partition is 12.6 s and is the right plan at any scale
        # (both sides grow with L*N).
        cand = (
            probes.join(
                homes_p.select(F.col("id").alias("id_b"), "tbl", "bucket").hint(
                    "SHUFFLE_HASH"
                ),
                ["tbl", "bucket"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        screened = (
            cand.join(corpus_side(wa), "id_a")
            .join(corpus_side(wb), "id_b")
            .filter(hamming <= hamming_max)
            .select("id_a", "id_b")
        )
        verified = screened.join(
            corpus_side(
                ev.select(
                    F.col("id").alias("id_a"),
                    F.col("v").alias("ea"),
                    F.col("sn").alias("sqrt_na"),
                )
            ),
            "id_a",
        ).join(
            corpus_side(
                ev.select(
                    F.col("id").alias("id_b"),
                    F.col("v").alias("eb"),
                    F.col("sn").alias("sqrt_nb"),
                )
            ),
            "id_b",
        )
        return (
            _with_cosine_prenormed(verified, "ea", "eb")
            .filter(F.col("cos_sim") >= threshold)
            # pair-dedup AFTER the threshold via explicit aggregate (a
            # pair can collide in several tables/probes; duplicate rows
            # carry identical cosines so max() is value-exact — and see
            # _ann_lsh_multitable_distinct for why not dropDuplicates)
            .groupBy("id_a", "id_b")
            .agg(F.max("cos_sim").alias("cos_sim"))
        )

    if not tables_per_pass or tables_per_pass >= n_tables:
        return pass_pairs(homes)

    # Chunked pass mode (the above-gate scale path): one pipeline per
    # ``tables_per_pass`` slice of the table list, results unioned and
    # pair-deduped across passes. Output-identical to single-pass —
    # the per-table candidate sets partition the full candidate set by
    # table, and the cross-pass groupBy/max commutes with the per-pass
    # one (duplicate pairs carry identical cosines). Why: in shuffle
    # mode the UNSCREENED candidate stream is exchanged whole for the
    # wa/wb attach — measured ~1e9 rows / >70 GB of shuffle files at
    # threshold 0.4 x 60k vectors, which filled the box and died
    # (SCALE.md §Round-6).
    #
    # Every pass is MATERIALIZED (tiny post-threshold deduped pairs)
    # before the next is built, then its shuffle files are deleted
    # synchronously (_ShuffleReclaimer) before the next pass writes
    # its own, so peak shuffle DISK is bounded to ~one pass. The cost
    # is running jobs at operator-construction time (documented
    # deviation from the engine's lazy contract — the >500k-vector
    # shuffle tier only). Checkpoint tier: with a RELIABLE checkpoint
    # dir (SparkContext.setCheckpointDir — cluster storage), pass
    # results checkpoint there and survive executor loss; otherwise
    # localCheckpoint stores blocks on executors. Reliable checkpoint
    # FILES are only reclaimed by ContextCleaner when
    # spark.cleaner.referenceTracking.cleanCheckpoints=true — otherwise
    # each invocation leaves one small directory per pass on cluster
    # storage for the app lifetime.
    #
    # The passes run under a fresh job group (the thread-scoped
    # spark.jobGroup.id local property): the pass readings and the
    # reclaimer both tell this run's jobs from a concurrent sibling's
    # by it. A budget-sized run leads with the small pilot pass and
    # packs the rest from its measured bytes (_MpSizingFeedback).
    import uuid as _uuid

    sc = emb.sparkSession.sparkContext
    has_reliable_dir = sc._jsc.sc().getCheckpointDir().isDefined()
    group = f"cndp-mp-passes-{_uuid.uuid4().hex[:12]}"
    caller_group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    parts: list[DataFrame] = []
    try:
        feedback = _MpSizingFeedback(
            sc,
            n_tables,
            group,
            est_stream_bytes=est_stream_bytes,
            disk_budget_bytes=disk_budget_bytes,
            pilot_tables=pilot_tables,
            caller_group=caller_group,
        )
        reclaimer = _ShuffleReclaimer(sc, job_group=group)
        lo = 0
        k = tables_per_pass
        while lo < n_tables:
            size = pilot_tables if lo == 0 and pilot_tables else k
            hi = min(lo + size, n_tables)
            part = pass_pairs(
                homes.filter((F.col("tbl") >= lo) & (F.col("tbl") < hi))
            )
            if has_reliable_dir:
                # measured at fresh-x30 (SCALE.md §Round-8): 691.1 s vs
                # 526.3 s for localCheckpoint, same 29.7 GB shuffle
                # peak; persist-before-checkpoint measured WORSE
                # (772.9 s) — the pass outputs are tiny
                part = part.checkpoint(eager=True)
            else:
                part = part.localCheckpoint(eager=True)
            reclaimer.after_pass()
            feedback.after_pass(hi - lo)
            if lo == 0:
                k = feedback.repack(n_tables - hi, k) or k
            parts.append(part)
            lo = hi
    finally:
        sc.setLocalProperty("spark.jobGroup.id", caller_group)
        # every pass is checkpointed: nothing reads the signatures now
        sigs.unpersist()
    feedback.finish(reclaimer)
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.groupBy("id_a", "id_b").agg(F.max("cos_sim").alias("cos_sim"))


def _mp_resolve_mode(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    pool: int,
    n_bits: int,
    n_tables: int,
    probe_radius: int,
    dim: int,
    broadcast_corpus: bool | None,
    broadcast_max_input_bytes: int | None,
    tables_per_pass: int | None,
    disk_budget_bytes: int | None,
) -> dict:
    """THE multiprobe mode resolution — one code path shared by
    ``ann_lsh_multiprobe_pairs`` (which executes what this decides)
    and ``mp_mode_report`` (which shows it before a long run), so the
    report cannot drift from the behavior.

    Broadcast below the gate. In the shuffle tier with no explicit
    ``tables_per_pass``: count the candidates exactly
    (``_mp_exact_candidate_count``, one linear job, on the RAW input
    — duplicates only inflate it, erring toward chunking), convert at
    ``_MP_CANDIDATE_ROW_BYTES``, and pack the table list into eager
    passes under the disk budget (``_mp_k_from_estimate``); a chunked
    plan leads with the 1/``MP_PILOT_DIVISOR`` pilot pass whose
    measured bytes pack the rest. An explicit ``tables_per_pass``
    always wins and is never re-packed. ``disk_budget_bytes`` given
    where it is not consulted (explicit K, broadcast mode) warns.
    Returns the report dict; raises the operator's named errors."""
    import warnings

    if tables_per_pass is not None and tables_per_pass < 1:
        raise ValueError(
            f"tables_per_pass must be >= 1 (got {tables_per_pass}); "
            "use None for the single-pass default"
        )
    explicit_k = tables_per_pass is not None
    input_bytes: int | None = None
    gate: int | None = None
    if broadcast_corpus is None:
        gate = broadcast_max_input_bytes
        if gate is None:
            gate = _int_conf(
                emb.sparkSession, "spark.cndp.mp.broadcastMaxInputBytes"
            )
            if gate is None:
                gate = MP_BROADCAST_MAX_INPUT_BYTES
        input_bytes = _plan_size_bytes(emb)
        broadcast_corpus = input_bytes <= gate
        if input_bytes >= PLAN_SIZE_UNKNOWN:
            input_bytes = None
    if disk_budget_bytes is not None and (broadcast_corpus or explicit_k):
        why = (
            f"tables_per_pass={tables_per_pass} is explicit and "
            "always wins over the budget"
            if explicit_k
            else "the call resolved to broadcast mode, where the "
            "candidate stream is screened in-stage and never "
            "materialized — there is nothing for a disk budget to "
            "bound"
        )
        warnings.warn(
            f"disk_budget_bytes provided but not consulted: {why}. "
            "Pass broadcast_corpus=False and drop tables_per_pass to "
            "let the budget size the passes.",
            RuntimeWarning,
            stacklevel=3,
        )
    est: int | None = None
    pilot_tables: int | None = None
    budget_consulted = not broadcast_corpus and not explicit_k
    if budget_consulted:
        if disk_budget_bytes is None:
            disk_budget_bytes = _int_conf(
                emb.sparkSession, "spark.cndp.mp.diskBudgetBytes"
            )
            if disk_budget_bytes is None:
                disk_budget_bytes = MP_DISK_BUDGET_BYTES
        if disk_budget_bytes < 1:
            raise ValueError(
                "disk_budget_bytes must be >= 1 "
                f"(got {disk_budget_bytes})"
            )
        e = emb.filter(
            F.col(vec_col).isNotNull()
            & ~F.exists(F.col(vec_col), lambda x: x.isNull())
        ).select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
        est = _MP_CANDIDATE_ROW_BYTES * _mp_exact_candidate_count(
            e, pool, n_bits, n_tables, probe_radius, dim
        )
        tables_per_pass = _mp_k_from_estimate(
            est, n_tables, disk_budget_bytes
        )
        if tables_per_pass is not None:
            pilot_tables = max(1, tables_per_pass // MP_PILOT_DIVISOR)
            if pilot_tables >= tables_per_pass:
                pilot_tables = None
    chunked = tables_per_pass is not None and tables_per_pass < n_tables
    if broadcast_corpus:
        regime = "broadcast"
    elif chunked:
        regime = "chunked-shuffle"
    else:
        regime = "single-pass-shuffle"
    if chunked:
        rest = n_tables - (pilot_tables or 0)
        n_passes = -(-rest // tables_per_pass) + (1 if pilot_tables else 0)
        est_pass_bytes = (
            None if est is None else est * tables_per_pass // n_tables
        )
    else:
        n_passes = 1
        est_pass_bytes = est
    return {
        "regime": regime,
        "broadcast_corpus": broadcast_corpus,
        "input_bytes": input_bytes,
        "broadcast_gate_bytes": gate,
        "est_stream_bytes": est,
        "disk_budget_bytes": disk_budget_bytes,
        "budget_consulted": budget_consulted,
        "tables_per_pass": tables_per_pass if chunked else None,
        "pilot_tables": pilot_tables,
        "n_passes": n_passes,
        "est_pass_bytes": est_pass_bytes,
        "adaptive": budget_consulted and chunked,
    }


def mp_mode_report(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float | None = None,
    pool: int = 252,
    n_bits: int = 12,
    n_tables: int = 160,
    probe_radius: int = 1,
    hamming_max: int | None = None,
    dim: int = 64,
    broadcast_corpus: bool | None = None,
    broadcast_max_input_bytes: int | None = None,
    tables_per_pass: int | None = None,
    disk_budget_bytes: int | None = None,
) -> dict:
    """What WOULD ``ann_lsh_multiprobe_pairs`` do with these knobs —
    without running the quadratic job, so a cluster operator can
    audit the plan before a long run.

    Returns the resolution dict: ``regime`` ('broadcast' /
    'single-pass-shuffle' / 'chunked-shuffle'),
    ``input_bytes`` (the Catalyst estimate the gate read, None if
    unread or unreachable), ``broadcast_gate_bytes``,
    ``est_stream_bytes`` (exact candidate count x 70 B, when the
    budget was consulted), ``disk_budget_bytes`` +
    ``budget_consulted``, ``tables_per_pass`` / ``pilot_tables`` /
    ``n_passes`` (the first pass runs ``pilot_tables`` tables when
    set, else ``tables_per_pass``; a pilot's measurement may pack the
    later passes finer, see ``LAST_MP_SIZING_REPORT``),
    ``est_pass_bytes`` and ``adaptive``.

    This calls the SAME ``_mp_resolve_mode`` the operator calls,
    including its validation and warnings. Accepts (and ignores)
    ``threshold`` / ``hamming_max`` so a preset dict splats straight
    in: ``mp_mode_report(emb, "vec_id", "embedding",
    **PROD_NEAR_DUP_MP)``.

    Job cost: zero, except in the shuffle tier without an explicit
    ``tables_per_pass``, where it runs the one linear candidate-count
    job the operator itself would run."""
    del threshold, hamming_max  # resolution is independent of both
    return _mp_resolve_mode(
        emb, id_col, vec_col, pool, n_bits, n_tables, probe_radius, dim,
        broadcast_corpus, broadcast_max_input_bytes, tables_per_pass,
        disk_budget_bytes,
    )


def ann_lsh_multiprobe_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    pool: int = 252,
    n_bits: int = 12,
    n_tables: int = 160,
    probe_radius: int = 1,
    hamming_max: int = 112,
    dim: int = 64,
    broadcast_corpus: bool | None = None,
    broadcast_max_input_bytes: int | None = None,
    tables_per_pass: int | None = None,
    disk_budget_bytes: int | None = None,
) -> DataFrame:
    """Scale path for LOW-threshold ANN pairs: bit-pool multi-probe
    sign-LSH with a packed-signature Hamming prefilter, wrapped in the
    exact-dup cascade (identical vectors collapse to representatives
    before the quadratic stages — see ``ann_lsh_multitable_pairs``).
    The cascade is output-equivalent here too: identical vectors share
    every pool bit, hence every bucket, every probe, a zero Hamming
    distance, and the same rounded cosines. See
    ``_ann_lsh_multiprobe_distinct`` for the algorithm and measured
    operating point.

    ``broadcast_corpus``: physical shape of the four corpus-side
    joins. ``None`` (default) auto-gates on the input relation's
    Catalyst size estimate vs the broadcast gate — read HERE, on the
    file-source relation, the last point where Catalyst's stats are
    trustworthy (see ``_plan_size_bytes``). Booleans force a mode;
    output is identical either way (pinned by
    tests/test_similarity.py::test_multiprobe_shuffle_mode_output_equal).
    The gate sizes the RAW input while the build sides are post-cascade
    DISTINCT representatives, so a heavily duplicated corpus above the
    gate can (and should) pass ``broadcast_corpus=True``.

    ``broadcast_max_input_bytes``: the gate in bytes. ``None`` reads
    the ``spark.cndp.mp.broadcastMaxInputBytes`` conf if set, else
    ``MP_BROADCAST_MAX_INPUT_BYTES`` (128 MiB, sized for 4-8 GiB
    executors; a cluster with 32 GiB executors can run 8x that).

    **Bounded shuffle disk** (the shuffle tier, above the gate). With
    ``tables_per_pass=None`` the operator sizes its passes in four
    steps:

    1. count the unscreened candidates exactly — one linear job at
       construction time (``_mp_exact_candidate_count``), immune to
       bucket skew — and convert at ~70 B per candidate;
    2. pack the table list into eager passes under the disk budget
       (``disk_budget_bytes``, else the ``spark.cndp.mp.diskBudgetBytes``
       conf, else ``MP_DISK_BUDGET_BYTES`` = 32 GiB): single-pass when
       the stream fits with ``MP_BYTE_DRIFT_GUARD`` headroom, else
       K = ceil(n_tables / ceil(stream / budget)) tables per pass,
       led by a 1/8-size first pass;
    3. after that first pass, pack the remaining tables (finer only)
       from its measured, job-group-scoped shuffle-write bytes;
    4. after every pass, checkpoint its pairs and delete its shuffle
       files synchronously (``_ShuffleReclaimer``), so peak disk is
       ~one pass.

    An explicit ``tables_per_pass`` always wins (pass
    ``tables_per_pass=n_tables`` to pin single-pass) and is never
    re-packed; any chunked run is eager. Eager passes run jobs at
    construction time — a disclosed deviation from the engine's lazy
    contract. They checkpoint RELIABLY when the session has a
    checkpoint dir (``SparkContext.setCheckpointDir``; set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` there or
    the small per-pass dirs persist), else to executor blocks. Each
    chunked run's per-pass bytes, re-pack and reclaim record land in
    ``LAST_MP_SIZING_REPORT`` and ``MP_SIZING_REPORTS`` (keyed by the
    caller's job group). ``mp_mode_report`` shows the resolution
    without running the quadratic job."""
    res = _mp_resolve_mode(
        emb, id_col, vec_col, pool, n_bits, n_tables, probe_radius, dim,
        broadcast_corpus, broadcast_max_input_bytes, tables_per_pass,
        disk_budget_bytes,
    )
    return _exact_dup_cascade(
        emb,
        id_col,
        vec_col,
        threshold,
        lambda reps: _ann_lsh_multiprobe_distinct(
            reps,
            id_col,
            vec_col,
            threshold,
            pool,
            n_bits,
            n_tables,
            probe_radius,
            hamming_max,
            dim,
            broadcast_corpus=res["broadcast_corpus"],
            tables_per_pass=res["tables_per_pass"],
            est_stream_bytes=res["est_stream_bytes"],
            disk_budget_bytes=(
                res["disk_budget_bytes"] if res["adaptive"] else None
            ),
            pilot_tables=res["pilot_tables"],
        ),
    )


# The production near-dup operating point (threshold >= 0.85),
# measured-best across rounds 4-5 (SCALE.md §Round-5, fresh-x100 rung
# + scripts/prod_recall.py planted-pair study): flat to 200k
# genuinely-distinct vectors at 6.3 s where the 8x12 multitable hits
# its N^2/2^k law (137 s), and 98.8% vs 79.3% planted-pair recall at
# 20k pairs — strictly better on BOTH axes, zero false positives for
# either (the exact verify guarantees precision). Splat into
# ``ann_lsh_multiprobe_pairs`` / pass to ``prod_near_dup_pairs``; the
# scale ladder, scripts/prod_recall.py and the recall-floor test
# (tests/test_similarity.py) all import THIS constant so the library,
# the evidence scripts and the pinned floor cannot drift apart.
PROD_NEAR_DUP_MP = {
    "threshold": 0.85,
    "pool": 252,
    "n_bits": 16,
    "n_tables": 16,
    "probe_radius": 1,
    "hamming_max": 70,
}


def prod_near_dup_pairs(
    emb: DataFrame, id_col: str, vec_col: str, **overrides
) -> DataFrame:
    """Production near-dup pairs at the measured-best operating point
    (``PROD_NEAR_DUP_MP``): the config a user should reach for when
    deduplicating a real corpus at cosine >= 0.85. Prefer this over
    ``ann_lsh_multitable_pairs`` at production thresholds — the
    multitable config that looks flat at ladder scale is superlinear
    one decade later (see its docstring). ``overrides`` pass through
    to ``ann_lsh_multiprobe_pairs`` (e.g. ``dim``,
    ``broadcast_corpus``, or a tightened ``threshold`` — the LSH
    operating point stays valid for any threshold >= 0.85 since
    candidate recall only rises with the angle)."""
    return ann_lsh_multiprobe_pairs(
        emb, id_col, vec_col, **{**PROD_NEAR_DUP_MP, **overrides}
    )


def ann_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_filter: Column,
    k: int = 5,
    n_tables: int = 12,
    n_planes: int = 5,
    dim: int = 64,
) -> DataFrame:
    """ANN-backed top-k twin of ``cosine_topk``: candidates are the
    vectors sharing any (table, bucket) with the query under
    multi-table sign-LSH, ranked by exact cosine within the candidate
    set. Queries whose candidate set falls short of k fall back to
    brute force FOR THAT QUERY ONLY, so the output contract (k
    neighbors per query over a corpus of > k vectors) always holds
    while the common case costs one equi-join instead of a full scan
    per query.

    Scale shape: the query side is ``query_filter``-small and
    broadcast everywhere it appears; the only large-side work is the
    (tbl, bucket) equi-join against the corpus bucket table and one
    id equi-join to fetch candidate vectors. Candidate pairs are
    de-duplicated (a pair colliding in several tables must rank once)
    before vectors are attached, so the dedup shuffles ids only. The
    corpus bucket frame is persisted — the query side reads it too;
    the cache entry lives in the session CacheManager until explicitly
    unpersisted (not ContextCleaner-reclaimed — r11 advice). Brute-force
    fallback volume is |short queries| x N — bounded by the ANN
    operating point. Worst case (ALL queries short, i.e. mistuned
    tables) measured at sf0.1: 0.95 s vs 0.37 s for ``cosine_topk``
    and 0.67 s for the tuned point — i.e. the degradation is the
    exact tier PLUS the linear hash/bucket-count overhead, never
    quadratically worse; the fallback side is plan-asserted broadcast
    (tests/test_physical_plans.py::test_ann_topk_fallback_side_is_broadcast).

    Bucket stage: the Arrow-batched kernel twin
    (``lsh_multitable_buckets_kernel``, r10 verdict #2 — the fold
    form cost a measured 2.86 s of plan construction per build at
    the 12x5 operating point; output-identical, parity pinned in
    tests/test_similarity.py)."""
    from pyspark.storagelevel import StorageLevel

    qids = emb.filter(query_filter).select(F.col(id_col).alias("query_id"))
    buckets = lsh_multitable_buckets_kernel(
        emb, id_col, vec_col, n_tables, n_planes, dim
    ).persist(StorageLevel.MEMORY_AND_DISK)
    qb = buckets.join(
        F.broadcast(qids), F.col("id") == F.col("query_id")
    ).select("query_id", "tbl", "bucket")
    cand = (
        qb.join(
            buckets.select(F.col("id").alias("id_b"), "tbl", "bucket"),
            ["tbl", "bucket"],
        )
        .filter(F.col("id_b") != F.col("query_id"))
        .select("query_id", "id_b")
        .distinct()
    )
    cnt = cand.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_cand"))
    short = (
        qids.join(cnt, "query_id", "left")
        .filter(F.coalesce(F.col("n_cand"), F.lit(0)) < k)
        .select("query_id")
    )
    fallback = (
        F.broadcast(short)
        .crossJoin(emb.select(F.col(id_col).alias("id_b")))
        .filter(F.col("id_b") != F.col("query_id"))
    )
    full_cand = cand.join(short, "query_id", "left_anti").unionByName(fallback)
    qv = emb.filter(query_filter).select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("ea")
    ).withColumn("sqrt_na", F.sqrt(_norm2("ea")))
    cv = emb.select(
        F.col(id_col).alias("id_b"), _as_double(vec_col).alias("eb")
    ).withColumn("sqrt_nb", F.sqrt(_norm2("eb")))
    scored = _with_cosine_prenormed(
        full_cand.join(F.broadcast(qv), "query_id").join(cv, "id_b"), "ea", "eb"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("id_b").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col("id_b").alias("neighbor_id"), "rnk", "cos_sim")
    )


def ivf_cells(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_filter: Column,
    n_probe: int = 1,
) -> DataFrame:
    """(id, cell) — IVF-style coarse quantization: assign every vector
    to its ``n_probe`` nearest centroids (max cosine, ties to lowest
    centroid id). Multi-probe (n_probe > 1) trades candidate volume
    for recall. Measured sweep at sf0.01 (threshold 0.4, 124,750
    total pairs, 59 true): 8 cells/probe 1 -> 20/59; 8/2 -> 46/59 at
    57.6k candidates; 32/4 -> 47/59 at 52.7k; 32/6 -> 57/59 (the
    shipped default); 32/8 -> 59/59. More, finer cells + deeper probe
    dominates fewer, coarser cells at equal candidate budget.

    Centroids here are a deterministic subset (``centroid_filter``)
    rather than k-means output, so any engine reproduces the
    assignment; swap in trained centroids in production. Distances are
    rounded to 6 dp before the argmax so the ranking is engine-stable."""
    c = emb.filter(centroid_filter).select(
        F.col(id_col).alias("cid"), _as_double(vec_col).alias("cv")
    ).withColumn("snc", F.sqrt(_norm2("cv")))
    # spread (r12, guide §2.5): the corpus side streams through the
    # broadcast cross join below, so its partition count caps the
    # parallelism of the N x |centroids| assignment folds — the
    # heaviest map work in the IVF path (part of the measured 2.9x)
    e = spread(
        emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    ).withColumn("snv", F.sqrt(_norm2("v")))
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # try_divide: a zero-norm vector (or centroid) must degrade to a
    # NULL distance — which ranks last and falls to the cid tiebreak —
    # not abort the whole assignment job under ANSI mode. Norms are
    # precomputed per side (sqrt of the same double is the same double
    # wherever it is computed) so the O(dim) fold runs N+C times, not
    # N*C times.
    cos = F.round(F.try_divide(dot, F.col("snv") * F.col("snc")), 6)
    scored = e.crossJoin(F.broadcast(c)).withColumn("cos_c", cos)
    w = Window.partitionBy("id").orderBy(F.col("cos_c").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select("id", F.col("cid").alias("cell"))
    )


def ann_ivf_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    centroid_filter: Column,
    n_probe: int = 2,
) -> DataFrame:
    """IVF scale path: near-dup candidates share a coarse cell, then
    exact cosine verification — an equi-join on the cell id replaces
    the quadratic scan (recall tuned by cell granularity + n_probe).

    With multi-probe a pair can collide in more than one cell;
    duplicates are verified map-side first (at most n_probe extra
    cosines each) and de-duplicated AFTER the threshold via
    groupBy/max, avoiding a full-candidate-volume shuffle.

    ``cells`` is persisted (r12): both sides of the cell self-join
    consume it, and unpersisted Catalyst plans the assignment twice —
    the corpus x centroids cosine scan (the heaviest map work here)
    ran once per side, 6 corpus scans total (plan-verified). The
    cached frame is (id, cell) ints, n_probe rows per vector — a few
    dozen bytes against the 64-float vector it indexes — so it stays
    negligible at any corpus scale while halving assignment work; the
    two remaining per-side scans re-attach vector payload, the
    decide-on-small/re-attach shape that beats caching full vectors."""
    from pyspark.storagelevel import StorageLevel

    cells = ivf_cells(emb, id_col, vec_col, centroid_filter, n_probe).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    e = spread(
        emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    ).withColumn("sn", F.sqrt(_norm2("v")))
    ce = cells.join(e, "id")
    # in-cell verify spread (r12, guide §2.5, measured 2.9x at sf0.1
    # with the assignment spread above): the cell self-join multiplies
    # rows quadratically per cell, so the streamed side's partitioning
    # caps the verify-fold parallelism; byte-based coalescing collapses
    # the KB-sized inputs to one task. Hash layout: (cell, id_a) on the
    # probe side — cell alone has too few distinct values to fill the
    # partition space (guide §2.5's synthetic-key collision warning) —
    # and cell on the build side so a shuffle join still co-locates.
    a = spread(
        ce.select(
            F.col("id").alias("id_a"),
            F.col("v").alias("ea"),
            F.col("sn").alias("sqrt_na"),
            "cell",
        ),
        "cell",
        "id_a",
    )
    b = spread(
        ce.select(
            F.col("id").alias("id_b"),
            F.col("v").alias("eb"),
            F.col("sn").alias("sqrt_nb"),
            "cell",
        ),
        "cell",
    )
    cand = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b"))
    # verify before pair-dedup: a multi-probe pair duplicates at most
    # n_probe times (a few extra map-side cosines), while deduping the
    # raw candidate stream costs a full-volume shuffle; the dedup runs
    # on post-threshold survivors as an explicit aggregate (duplicate
    # rows carry identical cosines, so max() is value-exact; see
    # _ann_lsh_multitable_distinct for why not dropDuplicates(subset))
    return (
        _with_cosine_prenormed(cand, "ea", "eb")
        .filter(F.col("cos_sim") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
