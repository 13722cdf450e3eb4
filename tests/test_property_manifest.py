"""Model-based property test for merge-on-read delete sequencing.

The MOR subsystem is where this repo's subtlest bugs have lived (the
d35b610 resurrection bug was found by a hand-written race matrix): an
equality-delete ENTRY hides rows only in the files it scoped at delete
time, a later append of the same key must stay visible, and every
rewrite path (delete compaction, bin-pack, COW delete) must fold
pending entries without widening or narrowing their scope.

This test drives a RANDOM single-writer op sequence against both the
real manifest table and a 20-line in-memory model of the sequencing
semantics (a list of (key, value, seq_no) with per-delete cutoffs),
then asserts `read_snapshot` equals the model — any scope widening
(lost re-insert), scope narrowing (resurrected row), or fold-in error
surfaces as a multiset diff.  Hypothesis shrinks a failure to the
minimal op sequence, which the hand-written matrix cannot do.

Ops: append(keys) / mor_delete(key) / cow_delete(key) /
compact_deletes / binpack.  Values encode (key, seq) so two rows with
the same key from different appends are distinguishable.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from prod_data_pipeline_spark.sources.manifest import (
    commit_snapshot,
    compact_deletes,
    current_version,
    delete_where,
    delete_where_mor,
    read_manifest,
    read_snapshot,
    rewrite_small_files,
)

KEYS = [1, 2, 3]

_op = st.one_of(
    st.tuples(
        st.just("append"),
        st.lists(st.sampled_from(KEYS), min_size=1, max_size=3),
    ),
    st.tuples(st.just("mor_delete"), st.sampled_from(KEYS)),
    st.tuples(st.just("cow_delete"), st.sampled_from(KEYS)),
    st.tuples(st.just("compact"), st.none()),
    st.tuples(st.just("binpack"), st.none()),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_op, min_size=2, max_size=6))
def test_mor_sequencing_matches_model(spark, tmp_path_factory, ops):
    t = str(tmp_path_factory.mktemp("morseq") / "tbl")

    # model: multiset of (key, seq) rows currently visible
    model: list[tuple[int, int]] = []
    seq = 0

    def append(keys):
        nonlocal seq
        seq += 1
        s = seq
        rows = [(k, k * 1000 + s) for k in keys]
        df = spark.createDataFrame(rows, "user_id long, v long").coalesce(1)
        commit_snapshot(
            df, t, mode="append", stats_cols=("user_id",),
            bloom_cols=("user_id",),
        )
        model.extend((k, k * 1000 + s) for k in keys)

    # the table needs a first commit before deletes/maintenance
    append(KEYS)

    for op, arg in ops:
        if op == "append":
            append(arg)
        elif op in ("mor_delete", "cow_delete"):
            if op == "mor_delete":
                delete_where_mor(t, "user_id", arg)
            else:
                delete_where(spark, t, "user_id", arg)
            model[:] = [r for r in model if r[0] != arg]
        elif op == "compact":
            compact_deletes(spark, t)
        elif op == "binpack":
            rewrite_small_files(spark, t, target_file_bytes=1 << 20)

    got = sorted(
        (r.user_id, r.v)
        for r in read_snapshot(spark, t).select("user_id", "v").collect()
    )
    assert got == sorted(model), (
        f"table/model diverged after {ops}: table={got} model={sorted(model)}"
    )
    # maintenance ops must leave row counts consistent with the manifest:
    # each recorded per-file count is the file's physical count, and the
    # head's n_rows is their total (MOR-hidden rows included)
    final = read_snapshot(spark, t)
    assert final.filter(F.col("user_id").isNull()).count() == 0
    head = read_manifest(t, current_version(t))
    for f in head.files:
        assert head.file_rows[f] == spark.read.parquet(f).count(), f
    physical = spark.read.parquet(*head.files).count() if head.files else 0
    assert head.n_rows == physical
