"""Query registry: the QuerySpec dataclass, the QUERIES dict, the
@query registration decorator, the shared tiny helpers every chunk
module uses, and the SQL mirrors of the operator recipes the oracles
replay (split out of the former monolithic plans/queries.py in
round 10)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prod_data_pipeline_spark.operators.dedup import (
    LSH_BAND_SIZE,
    MINHASH_HASHES,
    SHINGLE_N,
    SNM_KEY_LEN,
    SNM_WINDOW,
)
from prod_data_pipeline_spark.operators.graph import DAMPING, RANK_SCALE
from prod_data_pipeline_spark.operators.linalg import INT40_LO, INT40_SCALE
from prod_data_pipeline_spark.operators.quality import (
    FT_BUCKETS,
    N_FOLDS,
    QUALITY_LABEL_CUTOFF,
    TRAIN_FOLDS,
)
from prod_data_pipeline_spark.operators.similarity import (
    PQ_QUANT,
    PQ_SUBSPACES,
    SRP_BAND_BITS,
    SRP_BITS,
    SRP_SEED,
)
from prod_data_pipeline_spark.operators.sketches import (
    CMS_DEPTH,
    CMS_SALT,
    CMS_WIDTH,
)
from prod_data_pipeline_spark.operators.text import STOPWORDS
from prod_data_pipeline_spark.schemas import TESTDATA_EVENT_TYPES
from prod_data_pipeline_spark.session import tune
from prod_data_pipeline_spark.sources.readers import load_table


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL over the same parquet tables


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle)
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


# ---------------------------------------------------------------------------
# SQL mirrors of operator recipes.  An oracle that replays an operator
# builds its CTEs from these helpers, and each helper reads the operator's
# own constants, so an operator and its oracles cannot drift apart.
# ---------------------------------------------------------------------------

#: functions.text.tokens: lowercased whitespace tokens, empties dropped.
_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

#: operators.text.STOPWORDS as DuckDB list literals.
_LANG_SQL_SETS = {
    lang: "[" + ",".join(f"'{w}'" for w in words) + "]"
    for lang, words in STOPWORDS.items()
}

#: In-order squared-L2 and cosine folds over two DOUBLE lists ``{a}``,
#: ``{b}`` (fill with ``.format(a=..., b=...)``).
_SQDIST_SQL = (
    "list_sum(list_transform(range(1, len({a})+1),"
    " i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
)
_COS_SQL = (
    "list_sum(list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i]))"
    " / (sqrt(list_sum(list_transform(range(1, len({a})+1), i -> {a}[i] * {a}[i])))"
    " * sqrt(list_sum(list_transform(range(1, len({b})+1), i -> {b}[i] * {b}[i]))))"
)


def shingles_sql(n: int = SHINGLE_N, distinct: bool = True) -> str:
    """functions.text.shingles over the token list ``toks``: word n-grams
    joined by single spaces, ``[]`` below n tokens; ``distinct`` adds the
    array_distinct that with_minhash and the Jaccard joins apply."""
    grams = (
        f"list_transform(range(1, len(toks) - {n - 2}),"
        f" i -> array_to_string(toks[i:i+{n - 1}], ' '))"
    )
    if distinct:
        grams = f"list_distinct({grams})"
    return f"CASE WHEN len(toks) >= {n} THEN {grams} ELSE [] END"


def jaccard_sql(a: str, b: str) -> str:
    """dedup.jaccard of two distinct-element lists, unrounded."""
    return (
        f"CAST(len(list_intersect({a}, {b})) AS DOUBLE)"
        f" / (len({a}) + len({b}) - len(list_intersect({a}, {b})))"
    )


def minhash_sql() -> str:
    """dedup.with_minhash's mh_0..mh_{MINHASH_HASHES-1} over shingle list ``sh``."""
    return ", ".join(
        f"list_aggregate(list_transform(sh, x -> md5('{j}:' || x)), 'min') AS mh_{j}"
        for j in range(MINHASH_HASHES)
    )


def minhash_sig_sql(src: str = "documents", materialize: bool = False) -> str:
    """CTEs ``t(doc_id, toks)``, ``s(doc_id, sh)`` and ``sig(doc_id, sh,
    mh_*)`` over relation ``src``: the distinct word-SHINGLE_N shingle set
    and MinHash signature of dedup.with_minhash."""
    m = " MATERIALIZED" if materialize else ""
    return f"""t AS{m} (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM {src}
    ), s AS (
      SELECT doc_id, {shingles_sql()} AS sh FROM t
    ), sig AS{m} (
      SELECT doc_id, sh, {minhash_sql()} FROM s
    )"""


def lsh_bands_sql() -> str:
    """dedup.lsh_bands over ``sig``: one (doc_id, band_id, band_key) row per
    LSH_BAND_SIZE-hash band; docs without shingles never collide."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || '|' || ".join(
            f"mh_{j}" for j in range(b * LSH_BAND_SIZE, (b + 1) * LSH_BAND_SIZE)
        )
        + " AS band_key FROM sig WHERE len(sh) > 0"
        for b in range(MINHASH_HASHES // LSH_BAND_SIZE)
    )


def lsh_candidates_sql() -> str:
    """Distinct (id_a < id_b) pairs sharing a band of ``bands``."""
    return """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id"""


def near_dup_pairs_sql(
    threshold: float, src: str = "documents", materialize: bool = False
) -> str:
    """CTE chain ``t, s, sig, bands, pairs(id_a, id_b, jaccard)`` — the SQL
    mirror of dedup._near_dup_pairs_lsh: MinHash-LSH candidates verified
    by exact shingle Jaccard, kept when the 4-digit rounded value reaches
    ``threshold`` (the operator's ``F.round(jaccard, 4) >= threshold``).
    ``materialize`` marks t, sig and pairs MATERIALIZED, for oracles that
    read the pair relation many times."""
    m = " MATERIALIZED" if materialize else ""
    return f"""{minhash_sig_sql(src, materialize)}, bands AS (
      {lsh_bands_sql()}
    ), pairs AS{m} (
      SELECT id_a, id_b, jaccard FROM (
        SELECT c.id_a, c.id_b, ROUND({jaccard_sql("sa.sh", "sb.sh")}, 4) AS jaccard
        FROM ({lsh_candidates_sql()}) c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
      ) WHERE jaccard >= {threshold}
    )"""


def pagerank_sql(n_iters: int) -> str:
    """CTEs ``sym, deg, nn, r0 .. r{n_iters}`` over ``pairs(id_a, id_b)``:
    graph.pagerank_quantized on the symmetrized pair graph — contributions
    rounded to RANK_SCALE digits and summed as exact DECIMAL, the DAMPING
    update rounded back.  Every level is MATERIALIZED: each one is read by
    the next, and an inlined chain recomputes its whole prefix per level."""
    dec = f"DECIMAL({RANK_SCALE + 8},{RANK_SCALE})"
    levels = "".join(
        f"""
    ), c{i} AS MATERIALIZED (
      SELECT e.dst, SUM(CAST(ROUND(r.rank / d.deg, {RANK_SCALE}) AS {dec})) AS s
      FROM sym e JOIN r{i} r ON r.node = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ), r{i + 1} AS MATERIALIZED (
      SELECT dst AS node,
             ROUND((1.0 - {DAMPING}) / (SELECT n FROM nn)
                   + {DAMPING} * CAST(s AS DOUBLE), {RANK_SCALE}) AS rank
      FROM c{i}"""
        for i in range(n_iters)
    )
    return f"""sym AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), deg AS MATERIALIZED (
      SELECT src, COUNT(*) AS deg FROM sym GROUP BY src
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg
    ), r0 AS MATERIALIZED (
      SELECT src AS node, ROUND(1.0 / (SELECT n FROM nn), {RANK_SCALE}) AS rank
      FROM deg{levels}
    )"""


def snm_key_sql() -> str:
    """dedup.sorted_neighborhood_pairs' sort key over ``text``."""
    return (
        f"substr(regexp_replace(lower(substr(text, 1, {4 * SNM_KEY_LEN})),"
        f" '[^a-z0-9]', '', 'g'), 1, {SNM_KEY_LEN})"
    )


def snm_window_sql() -> str:
    """Join predicate: row ``b`` is one of the SNM_WINDOW successors of ``a``
    in rank column ``rnk``."""
    return f"b.rnk > a.rnk AND b.rnk <= a.rnk + {SNM_WINDOW}"


def cms_bucket_sql(row: str, key: str) -> str:
    """sketches._bucket: first 12 md5 hex digits of CMS_SALT<row>:<key> as
    int64 mod CMS_WIDTH (values < 2^48, so C-signed % matches pmod)."""
    return (
        f"CAST(('0x' || substr(md5('{CMS_SALT}' || {row} || ':' || {key}), 1, 12))::BIGINT"
        f" % {CMS_WIDTH} AS INT)"
    )


def cms_cells_sql(src: str, key: str, cnt: str) -> str:
    """sketches.cms_build cells (j, bucket, cnt) of key ``key`` weighted by
    ``cnt`` over relation ``src``: CMS_DEPTH hash rows x CMS_WIDTH buckets."""
    return f"""SELECT j, {cms_bucket_sql("j", key)} AS bucket,
             CAST(SUM({cnt}) AS BIGINT) AS cnt
      FROM {src} CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS j)
      GROUP BY 1, 2"""


def srp_candidates_sql() -> str:
    """CTEs ``sig, bands, cand(id_a, id_b)`` over ``v(vec_id, e)``:
    similarity.srp_near_dup_pairs' SRP_BITS sign bits against md5
    hyperplanes seeded SRP_SEED, packed SRP_BAND_BITS per band, and the
    distinct id pairs sharing a band."""
    return f"""sig AS (
      SELECT vec_id, b,
             list_sum(list_transform(range(1, len(e)+1),
               i -> e[i] * (2.0 * (('0x' || substr(md5('{SRP_SEED}:' || b || ':' || (i-1)), 1, 13))::BIGINT
                                   / 4503599627370496.0) - 1.0))) AS d
      FROM v, range(0, {SRP_BITS}) t(b)
    ), bands AS (
      SELECT vec_id, CAST(b // {SRP_BAND_BITS} AS INT) AS band_id,
             CAST(SUM(CASE WHEN d > 0 THEN 1 << CAST(b % {SRP_BAND_BITS} AS INT) ELSE 0 END) AS BIGINT)
                 AS band_key
      FROM sig GROUP BY vec_id, b // {SRP_BAND_BITS}
    ), cand AS (
      SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.vec_id < r.vec_id
    )"""


def pq_adc_sql() -> str:
    """CTEs ``v, cent, carr, dist, codes, qd, adc(query_id, neighbor_id,
    dist)``: similarity.pq_codebook (label means rounded to 6), pq_encode
    (PQ_SUBSPACES in-order sub-distance folds quantized to 1/PQ_QUANT,
    (d, idx) tie-break) and pq_adc_topk's distance totals for the queries
    vec_id < 8 (the query set of every PQ builder)."""
    q = repr(PQ_QUANT)
    return f"""v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             len(embedding) // {PQ_SUBSPACES} AS dsub
      FROM embeddings
    ), cent AS (
      SELECT label, pos, ROUND(SUM(e[pos]) / COUNT(*), 6) AS c
      FROM v, unnest(range(1, len(e) + 1)) AS t(pos)
      GROUP BY 1, 2
    ), carr AS (
      SELECT label, list(c ORDER BY pos) AS carr,
             ROW_NUMBER() OVER (ORDER BY label) - 1 AS idx
      FROM cent GROUP BY label
    ), dist AS (
      SELECT v.vec_id, t.m, ca.idx,
             floor(list_sum(list_transform(range(1, v.dsub + 1),
                 i -> (v.e[v.dsub*t.m + i] - ca.carr[v.dsub*t.m + i])
                    * (v.e[v.dsub*t.m + i] - ca.carr[v.dsub*t.m + i])))
                   * {q}) / {q} AS d
      FROM v, unnest(range({PQ_SUBSPACES})) AS t(m), carr ca
    ), codes AS (
      SELECT vec_id, m, idx AS code FROM (
        SELECT vec_id, m, idx,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, idx) AS rn
        FROM dist) WHERE rn = 1
    ), qd AS (
      SELECT vec_id AS qid, m, idx, d FROM dist WHERE vec_id < 8
    ), adc AS (
      -- plain double SUM is EXACT here: quantized terms are multiples of
      -- 1/PQ_QUANT whose total stays far below 2^53 ulps, so order is free
      SELECT q.qid AS query_id, c.vec_id AS neighbor_id, SUM(q.d) AS dist
      FROM codes c JOIN qd q ON q.m = c.m AND q.idx = c.code
      WHERE q.qid <> c.vec_id
      GROUP BY 1, 2
    )"""


def int40_cov_sql() -> str:
    """CTEs ``x, nn, mu, cx, qt, cov(i, j, c)`` over ``embeddings``:
    linalg.covariance_matrix with the int40 quantizer — q =
    floor(ci*cj*INT40_SCALE) summed as exact hi/lo int64 partials split at
    INT40_LO (DuckDB ``%`` is C-signed: wrap with +m %m; ``//`` is the
    exact quotient), recombined in DOUBLE with the operator's op order."""
    s, lo = repr(float(INT40_SCALE)), INT40_LO
    return f"""x AS MATERIALIZED (
      SELECT vec_id AS rid, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS xi
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ), nn AS MATERIALIZED (
      SELECT COUNT(*) AS n FROM embeddings
    ), mu AS MATERIALIZED (
      SELECT i, CAST(SUM(CAST(xi AS DECIMAL(38,12))) AS DOUBLE)
                / (SELECT n FROM nn) AS mu
      FROM x GROUP BY i
    ), cx AS MATERIALIZED (
      SELECT rid, x.i, xi - mu AS ci FROM x JOIN mu USING (i)
    ), qt AS MATERIALIZED (
      SELECT a.i, b.i AS j,
             CAST(floor(a.ci * b.ci * {s}) AS BIGINT) AS q
      FROM cx a JOIN cx b USING (rid)
    ), cov AS MATERIALIZED (
      SELECT i, j,
             (CAST(SUM((q - ((q % {lo} + {lo}) % {lo})) // {lo})
                   AS DOUBLE) * {float(lo)!r}
              + CAST(SUM((q % {lo} + {lo}) % {lo}) AS DOUBLE))
             / {s} / ((SELECT n FROM nn) - 1) AS c
      FROM qt GROUP BY 1, 2
    )"""


def nb_train_sql(n_buckets: int, salt: str = "", carry: str = "") -> str:
    """CTEs ``t, lab, feats, ex, prior_counts, llr(b, w), prior(pr,
    n_train)``: the training half both trained quality gates share
    (operators.quality nb_quality_gate_eval / ft_trained_quality_scores).
    Labels are quality_score >= QUALITY_LABEL_CUTOFF, folds doc_id %
    N_FOLDS (folds < TRAIN_FOLDS train), features structural_feats hashed
    to md5([salt:]f) mod ``n_buckets`` with one vote per (doc, bucket), and
    llr/prior the smoothed Bernoulli-NB log-likelihood ratios rounded to
    7.  ``carry`` (e.g. ``", source"``) adds document columns to
    t/lab/feats/ex."""
    f = f"'{salt}:' || f" if salt else "f"
    return f"""t AS (
      SELECT doc_id{carry}, {_TOKS_SQL} AS tk FROM documents
    ), lab AS (
      SELECT doc_id{carry}, len(tk) AS n, len(list_distinct(tk)) AS nd,
             CASE WHEN ROUND(0.5 * LEAST(len(tk) / 100.0, 1.0)
                  + 0.5 * (len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE)), 4)
                  >= {QUALITY_LABEL_CUTOFF} THEN 1 ELSE 0 END AS y,
             CAST(doc_id % {N_FOLDS} AS INT) AS fold
      FROM t
    ), feats AS (
      SELECT doc_id{carry}, y, fold,
             ['len:' || CAST(LEAST(n // 5, 40) AS VARCHAR),
              'div:' || CAST((nd * 40) // n AS VARCHAR),
              'lxd:' || CAST(LEAST(n // 10, 20) AS VARCHAR) || '_'
                     || CAST((nd * 20) // n AS VARCHAR)] AS fs
      FROM lab
    ), ex AS (
      SELECT DISTINCT doc_id{carry}, y, fold,
             CAST(('0x' || substr(md5({f}), 1, 8))::BIGINT % {n_buckets}
                  AS BIGINT) AS b
      FROM (SELECT doc_id{carry}, y, fold, unnest(fs) AS f FROM feats)
    ), prior_counts AS (
      SELECT CAST(SUM(y) AS DOUBLE) AS npos,
             CAST(SUM(1 - y) AS DOUBLE) AS nneg,
             COUNT(*) AS n_train
      FROM lab WHERE fold < {TRAIN_FOLDS}
    ), llr AS (
      SELECT CAST(d.range AS BIGINT) AS b,
             ROUND(ln((COALESCE(cpos, 0) + 1.0) / (npos + 2.0))
                   - ln((COALESCE(cneg, 0) + 1.0) / (nneg + 2.0)), 7) AS w
      FROM range(0, {n_buckets}) d
      LEFT JOIN (SELECT b, SUM(y) AS cpos, SUM(1 - y) AS cneg
                 FROM ex WHERE fold < {TRAIN_FOLDS} GROUP BY 1) trainb
        ON trainb.b = d.range, prior_counts
    ), prior AS (
      SELECT ROUND(ln((npos + 1.0) / (nneg + 1.0)), 7) AS pr, n_train
      FROM prior_counts
    )"""


def ft_scored_sql(carry: str = "") -> str:
    """:func:`nb_train_sql` over FT_BUCKETS unsalted buckets, then
    ``perdoc`` and ``scored(doc_id, <carry>, n_feats, prob)``:
    ft_trained_quality_scores' presence-pooled sigmoid of (sum llr +
    prior) / n_feats, rounded to 6."""
    return f"""{nb_train_sql(FT_BUCKETS, carry=carry)}, perdoc AS (
      SELECT e.doc_id{carry}, COUNT(b) AS n_feats,
             CAST(CAST(COALESCE(SUM(CAST(FLOOR(w * 10000000.0 + 0.5) AS BIGINT)),
                                0) AS BIGINT) AS DOUBLE) / 10000000.0
               AS wsum
      FROM ex e JOIN llr USING (b)
      GROUP BY e.doc_id{carry}
    ), scored AS (
      SELECT doc_id{carry}, n_feats,
             ROUND(1.0 / (1.0 + exp(-(CASE WHEN n_feats > 0
                 THEN (wsum + (SELECT pr FROM prior)) / n_feats
                 ELSE 0.0 END))), 6) AS prob
      FROM perdoc
    )"""


def jaccard_prefix_sql(materialize: bool = False) -> str:
    """CTEs ``t, t2(doc_id, sh), tok, dfreq, ranked, prefix, pcand,
    exact(id_a, id_b)``: dedup.jaccard_prefix_pairs at threshold_pct=50
    over the non-empty distinct shingle sets — rarest-first prefix
    candidates verified by the all-integer rule 100*inter >= 50*union.
    ``materialize`` marks t2 and exact MATERIALIZED."""
    m = " MATERIALIZED" if materialize else ""
    return f"""t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), t2 AS{m} (
      SELECT doc_id, sh FROM (SELECT doc_id, {shingles_sql()} AS sh FROM t)
      WHERE len(sh) > 0
    ), tok AS (
      SELECT doc_id, unnest(sh) AS token, len(sh) AS sz FROM t2
    ), dfreq AS (
      SELECT token, COUNT(*) AS df FROM tok GROUP BY token
    ), ranked AS (
      SELECT doc_id, token, sz,
             row_number() OVER (PARTITION BY doc_id ORDER BY df, token) AS rn
      FROM tok JOIN dfreq USING (token)
    ), prefix AS (
      SELECT doc_id, token, sz FROM ranked
      WHERE rn <= sz - ((50 * sz + 99) // 100) + 1
    ), pcand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b
        ON a.token = b.token AND a.doc_id < b.doc_id
      WHERE 50 * greatest(a.sz, b.sz) <= 100 * least(a.sz, b.sz)
    ), exact AS{m} (
      SELECT c.id_a, c.id_b FROM pcand c
      JOIN t2 ta ON ta.doc_id = c.id_a
      JOIN t2 tb ON tb.doc_id = c.id_b
      WHERE 100 * len(list_intersect(ta.sh, tb.sh))
            >= 50 * (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)))
    )"""
