"""Named query registry: every operator from SURVEY.md §2 as a first-class,
oracle-checked query.

Each entry pairs a Spark DataFrame builder ``fn(spark, sf_dir) -> DataFrame``
with an equivalent ANSI-SQL string the DuckDB oracle runs over the same
parquet tables.  Conventions that make the value-hash comparison exact:

- every computed column is aliased identically on both sides;
- money-style double sums use the long-numerator recipe
  (query_registry.dsum/dnum: sum(floor(x*10^s + 0.5)) over int64 — exact,
  order-independent, fully codegen'd — one long->double cast + division by
  the exactly-representable 10^s at the end; identical IEEE ops in both
  engines, ~5x cheaper than the former DECIMAL(18,s) path).  Two-level
  re-aggregations keep the NUMERATOR flowing (dnum -> num_to_double);
  second moments whose numerators could overflow int64 stay DECIMAL;
- averages are written as (exact_sum_as_double) / count — one double
  division instead of engine-specific AVG accumulation;
- top-k queries always carry a unique tie-break key;
- an oracle that replays an operator recipe builds those CTEs from the
  query_registry SQL helpers (shingles_sql, minhash_sig_sql,
  near_dup_pairs_sql, jaccard_prefix_sql, snm_key_sql, cms_cells_sql,
  srp_candidates_sql, pq_adc_sql, int40_cov_sql, nb_train_sql,
  ft_scored_sql), which read the operators' constants, never from a
  hand copy (tests/test_queries_parity.py::
  test_operator_recipes_have_one_sql_mirror);
- ``events.ts`` is naive parquet TIMESTAMP(MICROS): Spark reads it as a
  session-UTC TIMESTAMP (sources.readers.load_table), DuckDB as a naive
  UTC TIMESTAMP — identical micros on both sides.

Reference parity notes cite /root/reference file:line in each docstring.
"""


from __future__ import annotations

from prod_data_pipeline_spark.plans.query_registry import QUERIES, QuerySpec  # noqa: F401

# Chunk imports REGISTER the queries as a side effect; the order below
# is the original monolithic file order, so QUERIES preserves the
# historical registration order exactly.
from prod_data_pipeline_spark.plans.queries_events_star import *  # noqa: F401,F403
from prod_data_pipeline_spark.plans.queries_text_dedup import *  # noqa: F401,F403
from prod_data_pipeline_spark.plans.queries_tpch_graph import *  # noqa: F401,F403
from prod_data_pipeline_spark.plans.queries_media_rank import *  # noqa: F401,F403
from prod_data_pipeline_spark.plans.queries_curation_gates import *  # noqa: F401,F403
# round-15 consolidation panels (verdict r14 directive #1) — registered
# LAST so the 223 surviving registration positions are unchanged
from prod_data_pipeline_spark.plans.queries_merged_panels import *  # noqa: F401,F403,E402
# underscore names are not carried by star imports; re-export the ones
# with external consumers (tests/test_property_text.py)
from prod_data_pipeline_spark.plans.queries_events_star import (  # noqa: F401
    _ENTROPY_ALPHABET,
)
