"""Output-identity of the exact-dedup cascade inside the text-dedup
family: ``minhash_lsh_candidates`` / ``lsh_verified_pairs`` (collapse
identical token arrays, LSH+verify representatives, expand member
pairs) must reproduce the per-member reference bit-for-bit — same
pairs, same counts, same Jaccards — including under the band-frequency
clamp.

The per-member reference is the operators' own representative stage
(``_minhash_rep_pairs`` / ``_verified_rep_pairs``) fed one group per
document (``gsz = 1``), the way test_similarity.py checks the
vector-side cascade against ``_ann_lsh_multiprobe_distinct``. With
``gsz = 1`` the weighted band clamp counts documents, so the clamp
weighting stays checked.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from canadiannewsdatapipeline_spark.operators.dedup import (
    _minhash_rep_pairs,
    _verified_rep_pairs,
    lsh_verified_pairs,
    minhash_lsh_candidates,
    tokens_col,
)
from canadiannewsdatapipeline_spark.sources.registry import load_table

_A = "the quick brown fox jumps over the lazy dog again and again"
_B = "the quick brown fox leaps over the lazy dog again and again"


def _twinned_corpus(spark):
    rows = [
        # group A: three exact copies + a punctuation/case variant
        # (identical token array, different raw text)
        (1, _A),
        (2, _A),
        (3, _A),
        (4, "The QUICK, brown fox -- jumps over the lazy dog again; and again!!"),
        # group B: near-dup of A (one word changed), twice
        (5, _B),
        (6, _B),
        # unrelated
        (7, "completely different content about catalyst optimizer internals today"),
        # degenerate docs: short (< n tokens), duplicated short, null, empty
        (8, "hi there"),
        (9, "hi there"),
        (10, None),
        (11, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs_multiset(df, value):
    out = [
        (r["id_a"], r["id_b"], round(r[value], 9) if isinstance(r[value], float) else r[value])
        for r in df.collect()
    ]
    assert len(out) == len(set(out)), "duplicate output pairs"
    return set(out)


def _per_member_groups(docs):
    """One ``(rid, gsz, t)`` group per document."""
    return docs.select(
        F.col("doc_id").alias("rid"),
        F.lit(1).cast("long").alias("gsz"),
        tokens_col("text").alias("t"),
    )


def _minhash_per_member(docs, max_band_freq=None):
    pairs, _ = _minhash_rep_pairs(_per_member_groups(docs), 12, 3, 3, max_band_freq)
    return pairs


def _verified_per_member(docs, max_band_freq=None, strategy="array"):
    pairs, _ = _verified_rep_pairs(
        _per_member_groups(docs), 12, 3, 3, 0.5, max_band_freq, strategy
    )
    return pairs


@pytest.mark.parametrize("max_band_freq", [None, 3])
def test_minhash_cascade_equivalent_twinned(spark, max_band_freq):
    docs = _twinned_corpus(spark)
    ref = _minhash_per_member(docs, max_band_freq)
    casc = minhash_lsh_candidates(
        docs, "text", "doc_id", max_band_freq=max_band_freq
    )
    got_r = _pairs_multiset(ref, "n_shared_bands")
    got_c = _pairs_multiset(casc, "n_shared_bands")
    assert got_c == got_r
    if max_band_freq is None:
        # sanity: the 4-member group alone contributes C(4,2)=6 pairs
        # sharing all 4 bands, and short/null/empty docs emit nothing
        full = {(a, b) for a, b, nb in got_c if nb == 4}
        assert {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)} <= full
        ids = {i for a, b, _ in got_c for i in (a, b)}
        assert ids.isdisjoint({8, 9, 10, 11})
    else:
        # freq weighting: group A's band sigs carry weight 4 > 3, so
        # every A band is clamped in BOTH paths -> no A pairs at all;
        # group B (weight 2) survives
        ids = {i for a, b, _ in got_c for i in (a, b)}
        assert ids.isdisjoint({1, 2, 3, 4})
        # B's bands that A doesn't share survive (weight 2 <= 3); the
        # shared ones are clamped by A's weight — the pair remains
        assert any((a, b) == (5, 6) for a, b, _ in got_c)


@pytest.mark.parametrize("strategy", ["array", "join"])
@pytest.mark.parametrize("max_band_freq", [None, 3])
def test_verified_cascade_equivalent_twinned(spark, strategy, max_band_freq):
    docs = _twinned_corpus(spark)
    ref = _verified_per_member(docs, max_band_freq, strategy)
    casc = lsh_verified_pairs(
        docs, "text", "doc_id", threshold=0.5, max_band_freq=max_band_freq,
        verify_strategy=strategy,
    )
    got_r = _pairs_multiset(ref, "jaccard")
    got_c = _pairs_multiset(casc, "jaccard")
    assert got_c == got_r
    if max_band_freq is None:
        # within-group pairs carry exact 1.0 (including the punctuation
        # variant: Jaccard is a function of the token array only)
        assert {(1, 2, 1.0), (1, 4, 1.0), (3, 4, 1.0), (5, 6, 1.0)} <= got_c


def test_verified_cascade_equivalent_real_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    ref = _verified_per_member(docs)
    casc = lsh_verified_pairs(docs, "text", "doc_id", threshold=0.5)
    got_r = _pairs_multiset(ref, "jaccard")
    got_c = _pairs_multiset(casc, "jaccard")
    assert got_c == got_r and len(got_c) > 0


def test_minhash_cascade_equivalent_real_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    ref = _minhash_per_member(docs)
    casc = minhash_lsh_candidates(docs, "text", "doc_id")
    assert _pairs_multiset(casc, "n_shared_bands") == _pairs_multiset(
        ref, "n_shared_bands"
    )
