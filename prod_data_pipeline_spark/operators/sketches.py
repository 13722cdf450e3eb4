"""Mergeable count-min sketches over DataFrames.

Companion to the HLL family (plans/queries.py `events_hll_users_panel`):
where HLL answers "how many distinct keys", a count-min sketch (CMS,
Cormode & Muthukrishnan 2005) answers "about how often does THIS key
occur" from sub-linear state — the standard streaming/heavy-hitter
sketch.  The reference ships no sketch operators; this is north-star
extension surface like the HLL entries (SURVEY.md §2.6).

Representation: a sketch is a relation (row, bucket, cnt) — `depth`
hash rows × `width` buckets, counts are exact integer sums of whatever
was added.  That relational form is what makes everything compose:

- **build** is one groupBy over (row, bucket) — map-side partial agg
  collapses local duplicates, the shuffle carries at most depth×width
  rows per task regardless of input size;
- **merge** of per-partition/per-day sketches is the SAME groupBy-sum
  (CMS cells are counters — addition is the merge), so daily sketches
  roll up to monthly ones without touching raw data;
- **estimate** for a key is min over its `depth` cells: join the key's
  (row, bucket) probes against the sketch and take MIN(cnt); the join
  side is depth rows per key, the sketch side is bounded state.

Guarantee: estimate >= true count always (cells only over-count via
collisions); with width w and depth d, the overestimate exceeds
2N/w with probability <= 2^-d (N = total additions).

Hashing follows operators/dedup.py's one recipe: the bucket comes from
the first 12 hex digits of md5 (48 bits, exact in int64, replayable in
any engine — the DuckDB oracle recomputes every cell bit-for-bit).  It is
deterministic per (``CMS_SALT``, row) — safe under task
retry/speculation — and a sketch built anywhere is read back by
`cms_estimate` with the same (depth, width).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Prefix of every hashed cell key: md5('cms<row>:<key>').
CMS_SALT = "cms"
# Default sketch shape: hash rows x buckets per row.
CMS_DEPTH = 4
CMS_WIDTH = 512


def _bucket(key: F.Column, row: int, width: int) -> F.Column:
    """Bucket of `key` in hash row `row`: non-negative int64 mod width."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{CMS_SALT}{row}:"), key)), 1, 12), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(width)).cast("int")


def cms_build(
    df: DataFrame,
    key_col: str,
    weight_col: str | None = None,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Build a count-min sketch of `key_col` occurrences (or weights).

    Returns (group_cols..., row, bucket, cnt).  With `group_cols` one
    independent sketch is built per group (e.g. per day) — the groups
    merge later with `cms_merge`, which is how a 100 TB corpus gets
    sketched incrementally: sketch each daily partition as it lands,
    never re-reading history.

    One wide-then-narrow pass: each input row explodes to `depth` cells
    (constant fan-out), then groupBy (group, row, bucket) sums — partial
    aggregation bounds the shuffle at groups × depth × width rows.
    """
    key = F.col(key_col).cast("string")
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _bucket(key, r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(*group_cols, F.explode(cells).alias("c"), w.alias("w"))
        .groupBy(*group_cols, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.sum("w").alias("cnt"))
    )


def cms_merge(sketch: DataFrame) -> DataFrame:
    """Merge per-group sketches into one: drop the group columns and sum
    cell-wise.  CMS cells are counters, so merge IS addition — the same
    property that makes the build retry-safe and the rollup incremental."""
    return sketch.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-estimate each key in `keys`: min over its depth cells.

    keys explodes to depth probe rows, equi-joins the sketch on
    (row, bucket), and MIN(cnt) per key is the estimate.  Cells missing
    from the sketch relation are zero-count (the key was never added):
    the left join + coalesce(0) keeps the min exact.  Probe cost is
    depth rows per key; the sketch side stays bounded, so Spark
    broadcast-joins it when small.
    """
    key = F.col(key_col).cast("string")
    probes = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(key, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p"),
    ).select(key_col, F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
    return (
        probes.join(sketch, on=["row", "bucket"], how="left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_count"))
    )


def value_histogram_build(
    df: DataFrame,
    value_col: str = "value",
    by: tuple = (),
    n_buckets: int = 64,
    vmax_cents: int = 50_000,
) -> DataFrame:
    """Equal-width bucket-count quantile sketch on CENTS integers: bucket
    = clamp(round(value*100) * n_buckets div vmax_cents).  Merge IS
    addition (same property as the CMS cells), the build bounds each
    group's contribution at n_buckets rows, and — unlike hash sketches —
    the structure is fully DETERMINISTIC, which is what lets
    events_value_sketch_quantiles hash-check it against DuckDB.  The
    estimate error is one bucket width by construction.

    ``by`` prepends group columns (e.g. a day column) so per-partition
    sketches can be maintained incrementally and folded later with
    value_histogram_merge.  Returns (*by, bucket, cnt).

    Both ends clamp: values above vmax_cents land in the top bucket and
    negative values in bucket 0 (without the low clamp a negative value
    would produce a negative bucket id — and Spark's `div` truncates
    toward zero while DuckDB's `//` floors, so negative numerators are
    also where the two engines' integer division disagrees; clamping
    first keeps the sketch total and cross-engine-deterministic on ANY
    value domain, not just the non-negative cents column it ships on)."""
    bucket = F.greatest(
        F.least(
            F.expr(
                f"(CAST(ROUND({value_col} * 100) AS BIGINT) * {n_buckets})"
                f" div {vmax_cents}"
            ),
            F.lit(n_buckets - 1).cast("long"),
        ),
        F.lit(0).cast("long"),
    ).alias("bucket")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*by, bucket)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def value_histogram_merge(sketch: DataFrame) -> DataFrame:
    """Fold per-group histogram sketches into one: drop the group columns
    and sum cell-wise — merge is addition, exactly like cms_merge."""
    return sketch.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def cms_inner_product(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Join-size estimate from two count-min sketches — the inner-product
    application (Cormode & Muthukrishnan §4.2): per hash row, sum over
    shared buckets of cntA*cntB; the estimate is the MIN across rows.

    Guarantee: every row's dot >= the true inner product
    sum_k fA(k)*fB(k)  (= the equi-join row count on the sketched keys),
    and the min overestimates by at most (e/width)*||fA||_1*||fB||_1 with
    probability >= 1 - exp(-depth).  This is how a planner sizes a join
    WITHOUT running it: the two sketches are (depth x width)-bounded
    relations, so the estimate never touches the underlying corpora —
    and because CMS cells are counters, both sides inherit cms_build's
    incremental/mergeable story (sketch daily partitions, merge, then
    estimate).  Both sketches MUST share (depth, width).

    The bucket join is INNER: a (row, bucket) cell missing from either
    side is zero-count and contributes 0 to the dot.  A hash row with NO
    shared buckets therefore yields no dot row at all — which can only
    happen when the true inner product is 0, so min-over-present-rows
    still upper-bounds the truth; both engines compute the identical row
    set, keeping the oracle comparison exact.  Returns (row, dot) so the
    caller can audit per-row spread; take MIN(dot) for the estimate —
    and COALESCE it to 0 (in Spark AND the oracle identically): when the
    two key sets are fully disjoint EVERY hash row can lack shared
    buckets, this relation is empty, and a bare MIN(dot) yields NULL
    where the provably-correct estimate is 0 (NULL would poison the
    downstream est_ge_exact / within_weak_bound booleans).

    Bounds: dot sums cntA*cntB over int64 — exact while
    ||fA||_1 * ||fB||_1 < 2^63 (~9.2e18; a quintillion-pair join).  The
    self-join case (sketch_a is sketch_b) estimates the second frequency
    moment F2 = sum_k f(k)^2 — the skew/blow-up signal a planner needs
    before attempting a key-level self-join.
    """
    a = sketch_a.select("row", "bucket", F.col("cnt").alias("_ca"))
    b = sketch_b.select("row", "bucket", F.col("cnt").alias("_cb"))
    return (
        a.join(b, ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).cast("long").alias("dot"))
    )
