"""Skew mitigation + co-located join layout — the 100 TB join toolbox.

Three escalating strategies for joins whose shuffle would bottleneck a
large cluster:

1. AQE skew-join splitting (``spark.sql.adaptive.skewJoin.enabled``, on in
   session.RUNTIME_CONFS) — free, handles moderate skew at runtime.
2. ``salted_join`` — explicit key salting for pathological hot keys that
   AQE can't split (e.g. one key holding 30% of the fact table joined to a
   non-broadcastable right side): the fact side gets a random-but-bounded
   salt, the dimension side is replicated salt-ways, and the join key
   becomes (key, salt) — the hot key's rows spread over `salt` reducers.
3. ``write_bucketed`` / bucketed tables — amortized co-location: pay the
   shuffle once at write time (CLUSTERED BY key INTO n BUCKETS), then every
   subsequent equi-join or aggregation on that key runs with NO Exchange at
   all (verified by plan in tests/test_skew_bucketing.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | Sequence[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side salted and the small side replicated.

    The big side appends ``_salt = (deterministic hash of the whole row)
    % salt`` — xxhash64, not rand(), so reruns and retried tasks produce
    identical partitioning (a nondeterministic salt breaks speculative
    execution and recomputed lineage).  The small side explodes each row
    into `salt` copies.  Join on (key..., _salt); the hot key's rows now
    hash to `salt` different reducers.

    Use when the small side is too big to broadcast but small enough to
    replicate `salt` times; `salt` caps the per-key parallelism gain.

    Only inner/left/left_semi joins are supported: replicating the small
    side salt-ways would emit `salt` copies of every UNMATCHED small-side
    row under right/full-outer semantics, silently corrupting the result.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi"}
    if how.lower().replace("_", "") not in {h.replace("_", "") for h in allowed}:
        raise ValueError(
            f"salted_join supports inner/left/left_semi joins, got how={how!r}: "
            "outer joins on the replicated side would duplicate unmatched rows"
        )
    on = [on] if isinstance(on, str) else list(on)
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt))
    )
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<bigint>"))
    )
    return big_s.join(small_s, on + ["_salt"], how).drop("_salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | Sequence[str],
    num_buckets: int = 32,
    sort_cols: str | Sequence[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table, replacing
    any table of that name.

    Bucketing pre-shuffles the data by key at write time; joins and
    aggregations between tables bucketed the same way on the same key need
    no Exchange (and with sort_cols, no Sort) — the Spark-native equivalent
    of co-located/partitioned joins in MPP warehouses.  num_buckets should
    match across join partners and be sized so one bucket of the largest
    table fits an executor core's working memory at target scale.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
