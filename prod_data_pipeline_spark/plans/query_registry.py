"""Query registry: the QuerySpec dataclass, the QUERIES dict, the
@query registration decorator, and the shared tiny helpers every
chunk module uses (split out of the former monolithic
plans/queries.py in round 10)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prod_data_pipeline_spark.schemas import TESTDATA_EVENT_TYPES
from prod_data_pipeline_spark.session import truncate_lineage, tune
from prod_data_pipeline_spark.sources.readers import load_table


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # None => driver records rows-only check
    tags: tuple = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple = ()):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, name)


def dsum(c, scale: int = 2) -> F.Column:
    """Deterministic fixed-point sum as double — the long-numerator recipe.

    ``floor(x * 10^scale + 0.5)`` quantizes each value to its integer
    numerator in pure codegen'd double ops (no BigDecimal anywhere —
    measured 5x cheaper than the former ``SUM(CAST(x AS DECIMAL(18,s)))``
    on the sf1-equivalent q1 shape: 1.3 s -> 0.28 s); the numerators sum
    exactly in int64 (order-independent), and the single final
    long->double cast + division by the exactly-representable 10^scale
    are the same IEEE ops in every engine.  The DuckDB oracle mirror is
    ``CAST(CAST(SUM(CAST(FLOOR((x) * 10^s.0 + 0.5) AS BIGINT)) AS
    BIGINT) AS DOUBLE) / 10^s.0`` (inner BIGINT cast because DuckDB's
    SUM(BIGINT) widens to HUGEINT, whose double conversion need not
    round like int64's).

    Bounds: requires ``|sum(x)| * 10^scale < 2^63`` (int64 numerator
    sum).  At scale=6 that is ~9.2e12 in summed value per group —
    petabyte-scale fact tables stay inside it for per-group sums; a
    global total approaching the bound should drop a digit of scale.
    NULLs are skipped identically in both engines (floor propagates
    NULL).  Values beyond 2^53 in the final sum round once in the
    long->double cast — deterministic, error <= 2^-53 relative."""
    c = F.col(c) if isinstance(c, str) else c
    m = F.lit(float(10**scale))
    return F.sum(F.floor(c * m + F.lit(0.5))).cast("double") / m


def dnum(c, scale: int = 2) -> F.Column:
    """The exact int64 numerator sum behind :func:`dsum` — for two-level
    aggregations (per-key partial sum re-aggregated upstream, salted
    two-phase counts).  Keep the LONG flowing through every intermediate
    level so each re-sum stays exact integer arithmetic, and convert once
    at the very end with ``num_to_double``.  Summing the *double* form
    level-by-level instead would accumulate order-dependent float error —
    exactly the nondeterminism dsum exists to rule out."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(F.floor(c * F.lit(float(10**scale)) + F.lit(0.5)))


#: Queries whose ORACLE legitimately sums DECIMAL-typed values — the
#: documented exception list of the round-11 dsum sweep (verdict #3).
#: Every other registered query must use the long-numerator recipe
#: (dsum/dnum or an explicit FLOOR(x*10^s+0.5) BIGINT sum); a pytest
#: (tests/test_queries_parity.py::test_no_unexempted_decimal_sums)
#: fails any NEW oracle that sums DECIMAL without an entry here, so the
#: 5x codegen'd-agg win is the default, not a retrofit.  Inventory with
#: per-site analysis: SCALE.md "Round-11 dsum inventory".
DSUM_EXCEPTIONS: dict[str, str] = {
    "lineitem_qty_price_corr": (
        "second moments: sxx/syy/sxy numerators exceed the int64 "
        "|sum|*10^s < 2^63 bound (documented round 10)"
    ),
    "customer_revenue_gini": (
        "wide-int: sum(rank*cents) exceeds int64 at warehouse scale — "
        "DECIMAL(38,0) exactness is the point (docstring)"
    ),
    "emb_topk_ivf": (
        "arbitrary-real centroid means at scale 12: per-cell row bound "
        "2^63/1e12 ~ 9.2e6 rows is not guaranteed at 100 TB — DECIMAL "
        "precision is unbounded; cell-count-bounded BigDecimal cost"
    ),
    "emb_ivf_append_panel": (
        "label-centroid codebook replay x2 (snapshot + union codebooks, "
        "the emb_topk_ivf decimal-mean recipe) — same arbitrary-real "
        "centroid-mean reasoning; carries the former emb_ivf_append_audit"
        "/emb_ivf_append_recall entries (r15 consolidation switch)"
    ),
    "emb_top_principal_component": (
        "PCA family ORACLE replay contract (DECIMAL(38,12) covariance "
        "means); the production path is int40/float64 (SCALE.md:610)"
    ),
    "emb_top2_principal_components": (
        "PCA family ORACLE replay contract — same as "
        "emb_top_principal_component"
    ),
    "docs_dup_pagerank": (
        "quantized-recurrence replay: per-iteration SUM(ROUND(.,12) as "
        "DECIMAL(20,12)) is the pinned cross-engine recurrence contract, "
        "mirrored bit-identically by the driver-fallback Decimal replay "
        "(operators/graph.py); node-relation-sized, not corpus-sized"
    ),
    "parts_related_by_ppr": "quantized-recurrence replay — see docs_dup_pagerank",
    "docs_textrank_keywords": (
        "quantized-recurrence replay — see docs_dup_pagerank "
        "(vocabulary-sized word graph, not corpus-sized)"
    ),
    "events_type_markov_stationary": (
        "quantized-recurrence replay — see docs_dup_pagerank"
    ),
    "docs_lang_source_chi2": (
        "chi2 magnitude grows with corpus count: |chi2|*1e10 exceeds "
        "2^63 past ~9.2e8 docs; BigDecimal cost is |langs|x|sources| "
        "cells, not corpus rows"
    ),
    "docs_dsir_weights": (
        "measured not-hot (round 10: the _DSIR_CTES DECIMAL sum was "
        "0.02 s of a 3 s query — conversion abandoned on measurement); "
        "per-doc bucket-bounded signed sums"
    ),
    "docs_dsir_selection": (
        "shares _DSIR_CTES with docs_dsir_weights — same measurement"
    ),
    "emb_centroid_drift": (
        "bounded cardinality: 64 product terms per label — BigDecimal "
        "cost is labels x dims, not corpus rows; 12-digit product grid"
    ),
}


#: Spark-SIDE decimal-sum allowances — the companion inventory to
#: DSUM_EXCEPTIONS for aggregations whose DECIMAL accumulator lives in
#: the DataFrame plan rather than (or as well as) the oracle SQL.  Keyed
#: by (plans/ file, context substring within ±2 lines of the F.sum
#: site); the Spark-side lint (tests/test_queries_parity.py::
#: test_no_unexempted_spark_side_decimal_sums) consumes this table and
#: fails on STALE entries, so the whole exception inventory is this one
#: module — a list, not a list plus scattered comments (round-11
#: verdict #6).
SPARK_DSUM_EXCEPTIONS: dict[tuple[str, str], str] = {
    ("queries_tpch_graph.py", "fingerprint"): (
        "tables_fingerprint_audit wide-int checksum: the sum of 48-bit "
        "per-row hashes exceeds int64 past ~32k rows, so the Spark side "
        "accumulates DECIMAL(28,0).  Its ORACLE sums BIGINT in DuckDB's "
        "native HUGEINT (128-bit, no decimal keyword), so the oracle "
        "lint cannot see the wide-int sum — this entry is the single "
        "recorded exemption for the query (no DSUM_EXCEPTIONS row)"
    ),
    ("queries_tpch_graph.py", "cents"): (
        "customer_revenue_gini wide-int sum(rank*cents) — Spark twin of "
        "its DSUM_EXCEPTIONS entry"
    ),
    ("queries_media_rank.py", "syy"): (
        "second moments (OLS trend / Mahalanobis syy blocks): squared "
        "numerators exceed the int64 |sum|*10^s < 2^63 bound — Spark "
        "twin of lineitem_qty_price_corr's DSUM_EXCEPTIONS reasoning"
    ),
    ("queries_media_rank.py", "chi2"): (
        "docs_lang_source_chi2 bounded-cells statistic — Spark twin of "
        "its DSUM_EXCEPTIONS entry"
    ),
}


#: Half-up report steps written as FLOOR((numerator + bias) / 10^k.0) —
#: float division of an int64 numerator — cap exactness at
#: |numerator| < 2^53 because of the long->double conversion; the r13
#: advisory converted parts_adamic_adar_links and docs_bm25_topk to the
#: LONG division form ((n + bias) div 10^k / Duck `//`), which holds to
#: the full int64 bound.  The lint (tests/test_queries_parity.py::
#: test_no_unexempted_float_div_half_up) fails any NEW float-division
#: half-up site so a refactor cannot silently reopen the 2^53 cap; the
#: entries below are the documented survivors.  `div`/`//` truncate
#: toward ZERO, so the long form is only value-identical to floor on
#: NON-NEGATIVE numerators — negative-capable numerators (signed noise,
#: signed log-likelihood sums) must keep the float floor form, whose
#: half-up-toward-+inf tie behavior both engines reproduce identically.
FLOORDIV_EXCEPTIONS: dict[str, str] = {
    "docs_nb_quality_gate": (
        "signed llr sums: `div` truncates toward zero and would shift "
        "half-up ties on negative score numerators; floor keeps the "
        "engine-identical toward-+inf tie.  Documented 2^53 cap: "
        "|wsum|*1e7 < 2^53 needs ~1.4e8 max-weight bucket hits per doc "
        "(operators/quality.py docstring)"
    ),
    "events_dp_noisy_counts": (
        "signed Laplace noise: the numerator n_true*1e9 + noise_n + 500 "
        "goes negative whenever noise < -n_true, so floor semantics are "
        "required; bound |n|*1e9 < 2^53 holds to ~9e6 events/day"
    ),
}
# q14_promo_revenue's non-negative deferral entry was retired in r15: the
# query now uses the long-division half-up form ((n + 50) div 100 /
# Duck `//`), exact to the full int64 bound.


#: Spark-side twins of FLOORDIV_EXCEPTIONS, keyed by (plans/ or
#: operators/ file name, context substring within the F.floor site's
#: surrounding lines) — same stale-entry discipline as
#: SPARK_DSUM_EXCEPTIONS.
SPARK_FLOORDIV_EXCEPTIONS: dict[tuple[str, str], str] = {
    ("quality.py", "wsum"): (
        "docs_nb_quality_gate signed llr sum — Spark twin of its "
        "FLOORDIV_EXCEPTIONS entry"
    ),
    ("queries_curation_gates.py", "n_released"): (
        "events_dp_noisy_counts signed noise — Spark twin of its "
        "FLOORDIV_EXCEPTIONS entry"
    ),
}


def num_to_double(c, scale: int = 2) -> F.Column:
    """Final numerator->value conversion for a dnum chain: one long->double
    cast then division by the exactly-representable 10^scale (same IEEE
    ops in Spark and DuckDB; oracle mirror ``CAST(CAST(x AS BIGINT) AS
    DOUBLE) / 10^s.0``)."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("double") / F.lit(float(10**scale))


_VALID_TYPES_SQL = ", ".join(f"'{t}'" for t in TESTDATA_EVENT_TYPES)


