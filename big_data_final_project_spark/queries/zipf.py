"""Dedup-screen VALUE differentials on a zipf natural-text corpus
(VERDICT r11 #2; north-star extension — SURVEY.md §2.6 dedup family).

The synthetic ``documents`` tables have a uniform-dense shingle df
shape, so the oracle differentials proved the screens' VALUES there
while the natural-text (zipf) df shape — where the prefix filter's
1158x cut and the df-cap's blind spot actually live — was covered only
by the Spark-side skew-sweep probe. This module runs the SAME screen
pipelines (identical code paths: queries/dedup.py's _from helpers)
over a committed zipf(a=1.2) parquet fixture with planted duplicate
structure, each with a full DuckDB oracle — hash-matched values on
the df shape that matters, at every sweep scale factor.

Fixture: fixtures/zipf_documents.parquet — 1,928 docs, token
frequencies zipf(a=1.2) over an 8k vocab; regenerate with
tools/gen_zipf_fixture.py (seeded, deterministic; the test suite pins
the corpus content hash). Planted ground truth by construction:
20 near-dup pairs (bigram J ~ 0.85), 10 rare-slice containment pairs
(containment ~ 0.58 through df = 2 shingles), 10 hot-slice containment
pairs (containment ~ 0.62 through STOP-SHINGLES only — a 62-doc/lang
boilerplate cohort pins their df above the cap, so the capped screen
is blind to them BY DESIGN and the recall audit must price exactly
that loss).

These queries ignore ``sf_dir`` (the fixture is the corpus); the sweep
machinery still runs them at every sf, which re-certifies the same
values per run. Scale posture: identical to the registered screens —
the fixture only swaps the df SHAPE under the same bounded plans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import _read_parquet, source_key
from ..operators.scale import session_cached
from ..registry import query
from .dedup import (
    MIN_EST_JACCARD,
    _containment_candidate_hits,
    _containment_oracle,
    _containment_verified,
    _minhash_ctes,
    _minhash_pairs_from,
    _recall_audit_from,
    _recall_audit_oracle,
    _shingle_index_from,
    _strict_jaccard_oracle,
    _strict_jaccard_screen_from,
    _volume_audit_from,
    _volume_audit_oracle,
    sig_rows,
)

FIXTURE_PATH = os.path.join(
    os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ),
    "fixtures",
    "zipf_documents.parquet",
)
_TABLE = f"read_parquet('{FIXTURE_PATH}')"

# Planted id ranges (shared with tools/gen_zipf_fixture.py, which
# imports them from here — one source of truth).
NEAR_DUP_BASE = 200_000
RARE_SUBSET_BASE = 300_000
HOT_SUBSET_BASE = 400_000
COHORT_BASE = 500_000
N_NEAR_DUP = 20
N_RARE_SUBSET = 10
N_HOT_SUBSET = 10


def _zipf_docs(spark: SparkSession) -> DataFrame:
    key = source_key(os.path.dirname(FIXTURE_PATH), "zipf_documents")
    return _read_parquet(spark, FIXTURE_PATH, key)


@query(
    "zipf_ngram_jaccard_strict",
    oracle=_strict_jaccard_oracle(_TABLE),
    tags=("dedup", "jaccard", "zipf", "fixture", "engine-addition"),
)
def zipf_ngram_jaccard_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_ngram_jaccard_strict (tau = 1/2, prefix-filtered generate
    + exact verify vs an UNFILTERED quadratic oracle) on the zipf
    corpus: the losslessness proof on natural-text df shape. Must
    contain all 20 planted near-dup pairs — pinned cross-engine by
    zipf_planted_pairs_found and in tests."""
    return _strict_jaccard_screen_from(*_shingle_index_from(_zipf_docs(spark)))


@query(
    "zipf_containment",
    oracle=_containment_oracle(_TABLE),
    tags=("dedup", "containment", "zipf", "fixture", "engine-addition"),
)
def zipf_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_containment (df-capped stop-shingle generation + exact
    uncapped verify) on the zipf corpus: the capped screen's VALUES
    hash-matched where stop-shingles are real (the boilerplate cohort
    pushes the hottest bigrams far over the cap, unlike the uniform
    corpora where no block reaches the floor below sf0.1)."""
    docs, ex = _shingle_index_from(_zipf_docs(spark))
    return _containment_verified(
        docs, _containment_candidate_hits(docs, ex).distinct()
    )


@query(
    "zipf_candidate_volume_audit",
    oracle=_volume_audit_oracle(_TABLE),
    tags=("dedup", "audit", "volume", "zipf", "fixture",
          "engine-addition"),
)
def zipf_candidate_volume_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_candidate_volume_audit on the zipf corpus: the
    unfiltered-vs-prefix-vs-stop-shingle candidate-volume ledger,
    cross-engine, on the df shape where the cuts are dramatic (heavy
    head: a handful of boilerplate bigrams carry most of Σ C(df,2);
    the tau = 1/2 and 4/5 prefixes shed them, the containment cap
    refuses them — both now NUMBERS DuckDB agrees with on natural
    text, not just on the uniform corpora)."""
    return _volume_audit_from(*_shingle_index_from(_zipf_docs(spark)))


@query(
    "zipf_containment_recall_audit",
    oracle=_recall_audit_oracle(_TABLE),
    tags=("dedup", "audit", "containment", "recall", "zipf", "fixture",
          "engine-addition"),
)
def zipf_containment_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_containment_recall_audit on the zipf corpus: the df-cap's
    recall as a cross-engine number ON NATURAL-TEXT DF SHAPE — the
    10 hot-slice planted pairs (plus any organic stop-shingle-only
    pairs) are exactly the capped-vs-uncapped gap this row prices.
    The uncapped leg is affordable here by construction (the fixture
    is audit-sized); at 100 TB this is the query a pipeline runs on a
    sampled stratum after the volume audit forecasts the f² mass."""
    return _recall_audit_from(*_shingle_index_from(_zipf_docs(spark)))


@query(
    "zipf_minhash_pairs",
    oracle=f"""
    WITH {_minhash_ctes(_TABLE)}
    SELECT doc_a, doc_b, est_jaccard FROM cand
    WHERE est_jaccard >= {MIN_EST_JACCARD}
    """,
    tags=("dedup", "minhash", "lsh", "zipf", "fixture",
          "engine-addition"),
)
def zipf_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_pairs (8-permutation MinHash + 4-band LSH bucket
    join) on the zipf corpus: banding's candidate generation and the
    signature-agreement estimate value-certified on heavy-tailed text,
    where hot shingles make MinHash permutation minima collide across
    unrelated docs far more often than on the uniform corpora — the
    est >= 1/2 filter and the banded join must still agree with DuckDB
    exactly. The banded signature table is session-cached like the
    registered query's."""
    hashed = session_cached(
        spark,
        (FIXTURE_PATH, "zipf_banded_sigs"),
        lambda: sig_rows(_zipf_docs(spark).select("doc_id", "text")),
    )
    return _minhash_pairs_from(hashed)


def _planted_pred(base: int, n: int):
    return (
        (F.col("doc_a") >= base)
        & (F.col("doc_a") < base + 2 * n)
        & (F.col("doc_a") % 2 == 0)
        & (F.col("doc_b") == F.col("doc_a") + 1)
    )


def _planted_sql(src: str, base: int, n: int) -> str:
    return (
        f"SELECT count(*) FROM {src} WHERE doc_a >= {base} "
        f"AND doc_a < {base + 2 * n} AND doc_a % 2 = 0 "
        "AND doc_b = doc_a + 1"
    )


@query(
    "zipf_planted_pairs_found",
    oracle=f"""
    WITH s AS ({_strict_jaccard_oracle(_TABLE)}),
         c AS ({_containment_oracle(_TABLE)})
    SELECT
      CAST(({_planted_sql('s', NEAR_DUP_BASE, N_NEAR_DUP)}) AS BIGINT)
          AS ndup_pairs_found,
      CAST(({_planted_sql('c', RARE_SUBSET_BASE, N_RARE_SUBSET)}) AS BIGINT)
          AS rare_subset_found,
      CAST(({_planted_sql('c', HOT_SUBSET_BASE, N_HOT_SUBSET)}) AS BIGINT)
          AS hot_subset_found
    """,
    tags=("dedup", "audit", "recall", "zipf", "fixture",
          "engine-addition"),
)
def zipf_planted_pairs_found(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-pair scoreboard, cross-engine: how many of each
    planted class the production screens recover. Expected (pinned in
    tests, and the differential makes BOTH engines agree): all 20
    near-dups via the strict jaccard screen, all 10 rare-slice subset
    pairs via the capped containment screen, and ZERO hot-slice pairs
    — the df-cap's documented blind spot, planted so the blindness is
    a measured number instead of a footnote (the cap-off conf and the
    recall audits are the escape hatch)."""
    docs, ex = _shingle_index_from(_zipf_docs(spark))
    strict = _strict_jaccard_screen_from(docs, ex)
    cont = _containment_verified(
        docs, _containment_candidate_hits(docs, ex).distinct()
    )
    nd = strict.where(_planted_pred(NEAR_DUP_BASE, N_NEAR_DUP)).agg(
        F.count(F.lit(1)).cast("bigint").alias("ndup_pairs_found")
    )
    rare = cont.where(_planted_pred(RARE_SUBSET_BASE, N_RARE_SUBSET)).agg(
        F.count(F.lit(1)).cast("bigint").alias("rare_subset_found")
    )
    hot = cont.where(_planted_pred(HOT_SUBSET_BASE, N_HOT_SUBSET)).agg(
        F.count(F.lit(1)).cast("bigint").alias("hot_subset_found")
    )
    # three 1-row frames -> one scoreboard row (anchor crossJoin)
    return nd.crossJoin(rare).crossJoin(hot)
