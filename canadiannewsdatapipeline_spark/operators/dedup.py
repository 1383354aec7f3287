"""Large-scale deduplication operators (BASELINE.json extensions).

The reference only dedups exactly (content-hash surrogate keys +
latest-row windows, articles.sql:36-58); a 100 TB training-data
pipeline needs near-dup detection too. All operators here are pure
DataFrame compositions — no Python UDFs — so they whole-stage-codegen
and scale by partitioning:

- exact:   one groupBy on a 16-byte md5 — the cheapest possible dedup.
- n-gram Jaccard: shingle explode -> equi-join on shingle -> count
  ratio. The join key is the shingle string; at scale you'd hash it
  (md5) to bound shuffle width — semantics unchanged.
- MinHash+LSH: the scale path. Signatures are per-(doc, hash-index)
  MIN aggregates (map-side combinable); banding turns O(n^2) pair
  search into an equi-join on (band, band-signature).
- SimHash: 16-bit fingerprint via per-bit majority vote; near-dups
  collide on the fingerprint itself (a plain groupBy).

Hash functions are md5-derived so Spark and any SQL oracle agree
byte-for-byte (no engine-specific hash()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spread import spread

TOKEN_RE = "[a-z]+"


def tokens_col(text_col: str):
    return F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)


def normalize_text(c):
    """lower + collapse whitespace + trim — canonical form for exact dedup."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via md5 of normalized text: one row per content
    hash with the group size and the canonical (min-id) member."""
    return (
        df.select(
            F.md5(normalize_text(F.col(text_col))).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def _shingles_expr(n: int):
    parts = ", ".join(f"t[j + {k}]" for k in range(n))
    return F.expr(
        f"transform(sequence(0, size(t) - {n}), j -> concat_ws(' ', {parts}))"
    )


def shingle_set(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    ``array_distinct`` dedups inside each document's array *before* the
    explode, so the output rows are already distinct (ids are unique
    upstream) — no cross-row ``distinct()``, which would be a full
    shuffle of arbitrary-length shingle strings for nothing."""
    t = tokens_col(text_col)
    return (
        df.select(F.col(id_col).alias("id"), t.alias("t"))
        .filter(F.size("t") >= n)
        .select("id", F.explode(F.array_distinct(_shingles_expr(n))).alias("shingle"))
    )


# 2^31 - 1 (Mersenne prime) — the universal-hash modulus. Products
# (1000003*11 + 1) * (M31 - 1) stay < 2^55, exact in bigint on both
# engines.
M31 = 2147483647


def shingle_hash_set(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct 31-bit shingle hashes per document: (id, h) with
    h = bigint(first 15 hex chars of md5(shingle)) mod M31.

    The expensive digest runs ONCE per shingle — the ``num_hashes``
    signature hashes derive from h by exact integer universal hashing
    (see ``_mh_min``) — and every downstream shuffle/join carries an
    8-byte key instead of an arbitrary-length n-gram string. The hash
    and dedup both happen inside the per-document array, so the first
    shuffle in any consumer is the signature aggregation itself.
    Cross-doc hash collisions (~n_shingles/2^31) are reproduced
    identically by the oracle (same md5-derived values)."""
    t = tokens_col(text_col)
    return (
        df.select(F.col(id_col).alias("id"), t.alias("t"))
        .filter(F.size("t") >= n)
        .select("id", F.explode(_shingle_hashes_expr(n)).alias("h"))
    )


def _shingle_hashes_expr(n: int):
    """The distinct shingle hashes of token-array column ``t`` —
    bigint(first 15 hex chars of md5(shingle)) mod M31, deduped inside
    the array."""
    return F.array_distinct(
        F.transform(
            _shingles_expr(n),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
            % M31,
        )
    )


def jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """All document pairs with shingle-set Jaccard >= threshold.

    Exact (quadratic in colliding docs): the baseline near-dup oracle.
    Use minhash_lsh_candidates for the scale path and feed only its
    candidates through this verification.

    The shingle set feeds the sizes aggregate and both self-join
    branches — persisted so the explode runs once.
    """
    from pyspark.storagelevel import StorageLevel

    sh = shingle_set(df, text_col, id_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _mh_min(i: int):
    """Minhash aggregate i: MIN over the doc's shingle hashes of the
    universal hash ((1000003*i + 1)*h + i) mod M31.

    Pure bigint arithmetic off the single per-shingle digest — 12
    signatures cost 12 multiply-adds per row, not 12 md5s of the full
    n-gram text. Numeric (fixed-width) agg buffers keep the 12-way MIN
    inside HashAggregate; MIN over md5 *strings* silently degrades the
    stage to SortAggregate (variable-length buffers) with a
    per-partition sort over every shingle. Identical in any engine
    with exact 64-bit integer ops (products < 2^55)."""
    mult = 1000003 * i + 1
    return F.min((F.lit(mult) * F.col("h") + F.lit(i)) % M31).alias(f"mh{i}")


def _token_key(t) -> "F.Column":
    """16-byte exact-dedup key: md5 of the space-joined token array.

    Tokens are ``[a-z]+`` runs (never contain spaces), so the join is
    injective on token arrays up to md5 collision — the same collision
    budget ``exact_dup_groups`` already accepts. Every downstream
    quantity of the near-dup pipelines (shingle hashes, signatures,
    band sigs, Jaccard) is a pure function of the token array, so two
    docs with equal keys are interchangeable everywhere below."""
    return F.md5(F.concat_ws(" ", t))


def _collapse_exact_dups(keyed: DataFrame, key: str, payload: str):
    """Exact-dup cascade front end, shared by the text (token array)
    and vector (embedding) near-dup families: ``(groups, mapping)``
    from a keyed frame ``(mid, <key>, <payload>)`` whose ``key`` is a
    narrow digest of ``payload``. The cascade collapses identical
    inputs to a min-id representative, runs the LSH stage over the
    representatives only, and expands their pairs back to members
    (``_expand_member_pairs``) — output-identical to a per-member run
    whenever the stage's candidate test and pair value depend only on
    the payload VALUE.

    - ``groups``: one row per DISTINCT payload — ``(<key>, rid, gsz,
      <payload>)`` with rid = min member id (the representative) and
      gsz the member count. Built with groupBy/agg, NOT a window:
      partial aggregation collapses identical copies map-side, so the
      one shuffle that carries payloads moves ~|distinct inputs| rows
      regardless of the duplication factor (a K-fold-replicated corpus
      shuffles 1/K of itself), keyed on 16 bytes instead of the
      payload. ``F.first(<payload>)`` is value-deterministic — every
      row in a key group carries the identical payload.
    - ``mapping``: narrow ``(mid, rid, gsz)`` member->representative
      mapping (ids + the key only; payloads never ride this join).

    Both frames are persisted — groups feeds the representative
    pipeline and the within-group values, mapping feeds the expansion
    joins. Cache lifecycle (corrected r12, r11 advice): Dataset
    persists register in the session CacheManager and are NOT
    ContextCleaner-reclaimed — a long-lived session that rebuilds a
    cascade operator repeatedly should ``unpersist()``/``clearCache()``
    between runs; on a 100 TB run swap the persists for checkpoints to
    cluster storage (the two-phase shape plans/runner.py uses). The
    keyed frame's projection runs twice (once per frame), map-side
    only."""
    from pyspark.storagelevel import StorageLevel

    groups = (
        keyed.groupBy(key)
        .agg(
            F.min("mid").alias("rid"),
            F.count(F.lit(1)).alias("gsz"),
            F.first(payload).alias(payload),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mapping = (
        keyed.select("mid", key)
        .join(groups.select(key, "rid", "gsz"), key)
        .select("mid", "rid", "gsz")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return groups, mapping


def _expand_member_pairs(
    rep_pairs: DataFrame, mapping: DataFrame, rep_values: DataFrame, value_col: str
) -> DataFrame:
    """Cascade back end: representative pairs ``(id_a, id_b, <value>)``
    -> member pairs ``(id_a, id_b, <value>)``.

    - cross-group pairs: every member of group A x every member of
      group B, canonically ordered. Two narrow joins (ids + one value
      column); the quadratic-in-group-size blowup only happens here, in
      output rows, never in the LSH stage.
    - within-group pairs: all member pairs of multi-member groups, with
      their representative's value from ``rep_values`` (rid, <value>),
      which holds only representatives that self-collide and pass the
      pair filter — as in a per-member run.

    Disjoint by construction (cross pairs span two groups, within pairs
    stay inside one), so the union needs no dedup."""
    ma = mapping.select(F.col("rid").alias("id_a"), F.col("mid").alias("ma"))
    mb = mapping.select(F.col("rid").alias("id_b"), F.col("mid").alias("mb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            value_col,
        )
    )
    m2 = mapping.filter(F.col("gsz") > 1)
    within = (
        m2.select("rid", F.col("mid").alias("id_a"))
        .join(m2.select("rid", F.col("mid").alias("id_b")), "rid")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(rep_values, "rid")
        .select("id_a", "id_b", value_col)
    )
    return cross.unionByName(within)


def _token_groups(df: DataFrame, text_col: str, id_col: str):
    """The text cascade's ``(groups, mapping)``: documents keyed by
    their token array (``tkey``), groups carrying ``(tkey, rid, gsz,
    t)``."""
    t = tokens_col(text_col)
    # NOT spread (r12, measured): this cascade is exchange-dominated
    # cold — 8+ shuffles and four persisted frames over narrow keys —
    # so spreading the tokenize inputs ADDED wall (0.5x on
    # dedup_minhash_lsh / dedup_lsh_verified, cold interleaved A/B at
    # sf0.1); the per-row digest work here is one md5 per document,
    # not hundreds, and does not clear the spread bar
    keyed = df.select(F.col(id_col).alias("mid"), t.alias("t")).withColumn(
        "tkey", _token_key(F.col("t"))
    )
    return _collapse_exact_dups(keyed, "tkey", "t")


def _rep_shingle_hashes(groups: DataFrame, n: int) -> DataFrame:
    """``shingle_hash_set`` over the representatives' token arrays:
    (id=rid, gsz, h). gsz rides along (8 bytes/shingle row, map-side
    only) so the band clamp can weight representative rows by member
    count without a second join."""
    return (
        groups.select(F.col("rid").alias("id"), "gsz", "t")
        .filter(F.size("t") >= n)
        .select("id", "gsz", F.explode(_shingle_hashes_expr(n)).alias("h"))
    )


def _band_stack_expr(num_hashes: int, rows_per_band: int) -> str:
    n_bands = num_hashes // rows_per_band
    band_exprs = ", ".join(
        f"{b}, concat_ws('|', "
        + ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")"
        for b in range(n_bands)
    )
    return f"stack({n_bands}, {band_exprs}) AS (band, sig)"


def _clamp_bands(bands: DataFrame, max_band_freq: int | None) -> DataFrame:
    """Drop band signatures whose document frequency exceeds the skew
    clamp. Each representative row counts ``gsz`` members, so the
    frequency equals the per-member count — clamp decisions do not
    depend on the collapse."""
    if max_band_freq is None:
        return bands
    from pyspark.sql import Window

    freq = F.sum("gsz").over(Window.partitionBy("band", "sig"))
    return (
        bands.withColumn("_band_freq", freq)
        .filter(F.col("_band_freq") <= max_band_freq)
        .drop("_band_freq")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
    max_band_freq: int | None = None,
) -> DataFrame:
    """LSH banding: candidate pairs sharing >= 1 band signature, with
    the number of shared bands. Join key is (band, band_signature) —
    an equi-join, so AQE/skew handling applies; no quadratic scan.

    Band signatures come straight off the wide per-id signature row
    (single aggregation), unpivoted with ``stack`` — no second shuffle.

    ``max_band_freq`` is the 100 TB skew guard: a band signature shared
    by f docs fans out to f*(f-1)/2 candidate rows, so one boilerplate/
    empty-doc signature flooding a band turns the equi-join quadratic
    again. Signatures with frequency > max_band_freq are dropped before
    the self-join. Duplicate groups that large are still caught by
    exact dedup on the content hash; LSH only needs the *near*-dup
    tail. Default None = no clamp (exact oracle semantics).

    Runs as the exact-dup cascade (``_collapse_exact_dups``): identical
    documents (same token array) collapse to a min-id representative
    BEFORE shingling, the signature/banding stage
    (``_minhash_rep_pairs``) runs over distinct docs only, and
    representative pairs expand back to member pairs. The output equals
    that stage run with one group per document:

    - members share their representative's shingle-hash set, hence its
      signatures, band sigs, and candidate partners;
    - the band clamp weights each representative row by group size, so
      frequencies equal the per-member counts;
    - within-group pairs always collide — they share every surviving
      band, so their n_shared_bands is the rep's surviving-band count,
      and groups whose rep lost every band (or has < n tokens) emit
      nothing, exactly like a per-member run.

    On a replicated corpus the shingle explode, signature agg, and
    banding join all scale with DISTINCT documents; only the output
    expansion is quadratic in group size (the operator's pair-list
    contract — hand consumers ``dedup_clusters`` for group-shaped
    output)."""
    groups, mapping = _token_groups(df, text_col, id_col)
    rep_pairs, surv = _minhash_rep_pairs(
        groups, num_hashes, rows_per_band, n, max_band_freq
    )
    return _expand_member_pairs(rep_pairs, mapping, surv, "n_shared_bands")


def _minhash_rep_pairs(
    groups: DataFrame, num_hashes: int, rows_per_band: int, n: int,
    max_band_freq: int | None,
):
    """``minhash_lsh_candidates``' stage over ``(rid, gsz, t)`` groups:
    ``(rep_pairs, surv)`` — representative pairs ``(id_a, id_b,
    n_shared_bands)`` and each representative's surviving-band count
    ``(rid, n_shared_bands)``, the value of its within-group pairs."""
    from pyspark.storagelevel import StorageLevel

    sh = _rep_shingle_hashes(groups, n)
    wide = sh.groupBy("id").agg(
        *[_mh_min(i) for i in range(num_hashes)],
        F.min("gsz").alias("gsz"),
    )
    bands = wide.select(
        "id", "gsz", F.expr(_band_stack_expr(num_hashes, rows_per_band))
    )
    bands = _clamp_bands(bands, max_band_freq).persist(StorageLevel.MEMORY_AND_DISK)
    a = bands.select(F.col("id").alias("id_a"), "band", "sig")
    b = bands.select(F.col("id").alias("id_b"), "band", "sig")
    rep_pairs = (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    surv = bands.groupBy(F.col("id").alias("rid")).agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )
    return rep_pairs, surv


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    n: int = 3,
    threshold: float = 0.5,
    max_band_freq: int | None = None,
    verify_strategy: str = "array",
) -> DataFrame:
    """The production-shape near-dup pipeline: MinHash-LSH candidate
    generation followed by exact Jaccard verification of ONLY the
    candidates — never an all-pairs scan.

    Two verify strategies, same exact result:

    - ``"array"`` (default): the per-doc shingle-hash set rides along
      the signature aggregation as a ``collect_set`` column, so the
      WHOLE pipeline is one shuffle over the shingles; candidates then
      join the (small) per-doc row twice and the common count is a
      map-side ``array_intersect``. ~7x faster end-to-end than the
      join strategy at bench scale (one pass over the corpus, no
      shingle re-shuffle). The per-doc hash array must fit an agg
      buffer — fine for web/news documents (even 100 KB of text is
      ~20K x 8 B); cap pathological docs upstream if unbounded.
    - ``"join"``: fully streaming — each candidate pair joins its two
      shingle-hash sets via (id_a), then (id_b, h) equi-joins, never
      materializing a per-doc set. Use when single documents can be
      arbitrarily large.

    Jaccard is computed over the 31-bit hash sets; the oracle derives
    the same hashes, so collisions (~|shingles|/2^31) agree
    bit-for-bit. Candidate pairs with zero common shingles fall out of
    the inner join — identical to jaccard = 0 < threshold.

    Runs as the exact-dup cascade (``_collapse_exact_dups``): only
    representatives are banded and verified (``_verified_rep_pairs``),
    and verified pairs expand back to members (see
    ``minhash_lsh_candidates`` for the output-identity argument). The
    verified additions: a cross-group member pair's Jaccard IS its
    representatives' Jaccard (same hash sets), and a within-group
    pair's Jaccard is exactly 1.0 (n/(n+n-n) with n >= 1 distinct
    hashes — a per-member run computes the same double), emitted only
    for groups whose representative kept >= 1 band after the clamp,
    and only when 1.0 >= threshold.

    The signature aggregate is persisted (it feeds banding AND the
    verify lookups), under the cascade's cache lifecycle (see
    ``_collapse_exact_dups``). Shingle sizes ride along as one extra
    COUNT column instead of a second aggregation over the shingles.

    Exchange-count note (r7, measured — this is plan_audit's one
    exchange-count outlier, adjudicated NOT a defect): the static
    simple-mode explain shows 22 ``Exchange hashpartitioning`` lines,
    and that count is INVARIANT across num_hashes 32/64/128 — banding
    is one ``stack()`` projection, so bands add zero exchanges (no
    per-band unions exist in this pipeline). Most of the 22 are
    duplicate lineage re-prints: the four persisted frames (groups,
    mapping, signature aggregate, clamped bands) are each referenced
    2-4x and an unexecuted persisted reference re-prints its upstream
    exchanges; at runtime each computes once and later references are
    InMemoryTableScans (39 of them in the executed plan at sf0.001).
    Audits see ~64 whenever the shared cached subframes were already
    MATERIALIZED in the session — by executing this query, or merely
    by building ``dedup_clusters``, whose construction-time
    convergence loop executes them (reproduced: 22 in a fresh
    session, 64 right after ``dedup_clusters`` is built) — because
    each materialized cache prints as a finalized AdaptiveSparkPlan
    with both initial and final sections. Every exchange is keyed on
    ids / 16-byte token keys / (band, sig) — none grows with band
    count, text never shuffles."""
    groups, mapping = _token_groups(df, text_col, id_col)
    rep_pairs, surv = _verified_rep_pairs(
        groups, num_hashes, rows_per_band, n, threshold, max_band_freq,
        verify_strategy,
    )
    return _expand_member_pairs(rep_pairs, mapping, surv, "jaccard")


def _verified_rep_pairs(
    groups: DataFrame, num_hashes: int, rows_per_band: int, n: int,
    threshold: float, max_band_freq: int | None, verify_strategy: str,
):
    """``lsh_verified_pairs``' stage over ``(rid, gsz, t)`` groups:
    ``(rep_pairs, surv)`` — verified representative pairs ``(id_a,
    id_b, jaccard)`` and ``(rid, jaccard=1.0)`` for every
    representative whose within-group pairs are emitted."""
    from pyspark.storagelevel import StorageLevel

    sh = _rep_shingle_hashes(groups, n)
    if verify_strategy == "join":
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    extra = [] if verify_strategy == "join" else [F.collect_set("h").alias("hs")]
    wide = sh.groupBy("id").agg(
        *[_mh_min(i) for i in range(num_hashes)],
        F.count(F.lit(1)).alias("n_sh"),
        F.min("gsz").alias("gsz"),
        *extra,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bands = wide.select(
        "id", "gsz", F.expr(_band_stack_expr(num_hashes, rows_per_band))
    )
    bands = _clamp_bands(bands, max_band_freq).persist(StorageLevel.MEMORY_AND_DISK)
    ba = bands.select(F.col("id").alias("id_a"), "band", "sig")
    bb = bands.select(F.col("id").alias("id_b"), "band", "sig")
    cand = (
        ba.join(bb, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if verify_strategy == "array":
        wa = wide.select(
            F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"),
            F.col("hs").alias("hs_a"),
        )
        wb = wide.select(
            F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"),
            F.col("hs").alias("hs_b"),
        )
        n_common = F.size(F.array_intersect("hs_a", "hs_b"))
        jac = n_common.cast("double") / (
            F.col("n_a") + F.col("n_b") - n_common
        )
        scored = cand.join(wa, "id_a").join(wb, "id_b")
    else:
        a = sh.select(F.col("id").alias("id_a"), "h")
        b = sh.select(F.col("id").alias("id_b"), "h")
        common = (
            cand.join(a, "id_a")
            .join(b, ["id_b", "h"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        sa = wide.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
        sb = wide.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
        jac = F.col("n_common").cast("double") / (
            F.col("n_a") + F.col("n_b") - F.col("n_common")
        )
        scored = common.join(sa, "id_a").join(sb, "id_b")
    rep_pairs = scored.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
    # a rep with >= 1 surviving band self-collides; its members' pairwise
    # Jaccard is exactly 1.0 (identical nonempty hash sets)
    surv = (
        bands.select(F.col("id").alias("rid"))
        .distinct()
        .withColumn("jaccard", F.lit(1.0))
        .filter(F.col("jaccard") >= threshold)
    )
    return rep_pairs, surv


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """(id, simhash) — per-bit majority vote over distinct tokens;
    bit b of a token = parity of the first hex char of md5(b ':' tok)."""
    # spread (r12, guide §2.5): the vote stage below runs ``bits`` md5
    # digests per (id, token) row — compute-bound work whose input the
    # byte-based AQE coalescing collapses to one task after the
    # distinct's shuffle (measured 1.2x at sf0.1; the md5-to-bytes
    # ratio only grows with corpus scale)
    toks = spread(
        df.select(F.col(id_col).alias("id"), F.explode(tokens_col(text_col)).alias("tok"))
        .distinct()
    )
    votes = (
        toks.select("id", "tok", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"))
        .select(
            "id",
            "b",
            (
                F.ascii(
                    F.substring(
                        F.md5(F.concat(F.col("b").cast("string"), F.lit(":"), F.col("tok"))),
                        1,
                        1,
                    )
                )
                % 2
            ).alias("bit"),
        )
        .groupBy("id", "b")
        .agg(F.sum(F.col("bit") * 2 - 1).alias("vote"))
    )
    return votes.groupBy("id").agg(
        F.sum(
            F.when(F.col("vote") > 0, F.pow(F.lit(2), F.col("b")).cast("long")).otherwise(
                F.lit(0)
            )
        ).alias("simhash")
    )
