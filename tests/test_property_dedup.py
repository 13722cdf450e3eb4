"""Property-based checks (hypothesis) for the dedup family: LSH results are
always a subset of brute-force truth, and true duplicates can never be
missed (identical shingle sets -> identical signatures -> same buckets)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from prod_data_pipeline_spark.operators.dedup import (
    exact_dedup_groups,
    near_dup_pairs,
)

# Tiny vocabulary forces token overlap -> real near-dup structure.
WORD = st.sampled_from("alpha beta gamma delta epsilon zeta".split())
DOC = st.lists(WORD, min_size=0, max_size=12).map(" ".join)
CORPUS = st.lists(DOC, min_size=1, max_size=12)


def _brute_jaccard_pairs(texts, n=3, threshold=0.5):
    def sh(t):
        toks = [w for w in t.lower().split() if w]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    out = set()
    sets = [sh(t) for t in texts]
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = sets[i], sets[j]
            union = len(a | b)
            if union and round(len(a & b) / union, 4) >= threshold:
                out.add((i, j))
    return out


@settings(max_examples=10, deadline=None)
@given(texts=CORPUS)
def test_near_dup_pairs_subset_of_truth_and_catches_identicals(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(df, threshold=0.5).collect()
    }
    truth = _brute_jaccard_pairs(texts, threshold=0.5)
    # verified LSH candidates never invent a pair
    assert got <= truth
    # identical non-empty shingle sets have identical signatures -> always caught
    for i, j in truth:
        a = [w for w in texts[i].lower().split() if w]
        if texts[i].lower().split() == texts[j].lower().split() and len(a) >= 3:
            assert (i, j) in got


@settings(max_examples=10, deadline=None)
@given(texts=CORPUS)
def test_exact_dedup_partitions_the_corpus(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    rows = exact_dedup_groups(df).collect()
    assert sum(r["n_copies"] for r in rows) == len(texts)
    by_text = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    keep = {r["keep_id"] for r in rows}
    assert keep == {min(ids) for ids in by_text.values()}

@settings(max_examples=8, deadline=None)
@given(texts=st.lists(st.lists(WORD, min_size=0, max_size=14).map(" ".join),
                      min_size=1, max_size=10))
def test_substring_dup_spans_equals_bruteforce_property(spark, texts):
    """Random tiny-vocab corpora (dense accidental window repeats): span
    boundaries from the operator must equal the plain-Python sliding-window
    reference exactly — including within-doc repeats and merged overlaps."""
    from prod_data_pipeline_spark.operators.dedup import substring_dup_spans
    from tests.test_dedup_text import _bruteforce_dup_spans

    W = 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in substring_dup_spans(df, window=W).collect()
    }
    assert got == _bruteforce_dup_spans(dict(enumerate(texts)), W)


def _brute_incremental(batch, snapshot_keys):
    """(id -> (dup_snapshot, dup_batch)) by definition."""
    first = {}
    for i, k in sorted(batch):
        first.setdefault(k, i)
    return {
        i: (1 if k in snapshot_keys else 0, 1 if first[k] < i else 0)
        for i, k in batch
    }


KEY = st.sampled_from("k1 k2 k3 k4".split())


@settings(max_examples=15, deadline=None)
@given(
    batch_keys=st.lists(KEY, min_size=1, max_size=10),
    snap_keys=st.lists(KEY, min_size=0, max_size=4),
)
def test_incremental_dedup_matches_bruteforce(spark, batch_keys, snap_keys):
    """incremental_dedup flags equal the brute-force definition on random
    key multisets: dup_snapshot iff key in snapshot; dup_batch iff a
    lower id shares the key."""
    from prod_data_pipeline_spark.operators.dedup import incremental_dedup

    batch = [(i, k) for i, k in enumerate(batch_keys)]
    expected = _brute_incremental(batch, set(snap_keys))
    bdf = spark.createDataFrame(batch, ["doc_id", "fp"])
    sdf = spark.createDataFrame([(k,) for k in set(snap_keys)] or [("__none__",)], ["fp"])
    got = {
        r["doc_id"]: (r["dup_snapshot"], r["dup_batch"])
        for r in incremental_dedup(bdf, sdf).collect()
    }
    assert got == expected


def _snm_truth(texts, window=5, key_len=16, threshold=0.3, n=3):
    import re

    def key(t):
        return re.sub(r"[^a-z0-9]", "", t[: 4 * key_len].lower())[:key_len]

    def sh(t):
        toks = [w for w in re.split(r"\s+", t.lower()) if w]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    rows = sorted(
        ((key(t), i, sh(t)) for i, t in enumerate(texts)), key=lambda r: (r[0], r[1])
    )
    out = {}
    for a in range(len(rows)):
        for gap in range(1, window + 1):
            b = a + gap
            if b >= len(rows):
                break
            sa, sb = rows[a][2], rows[b][2]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            jac = round(inter / (len(sa) + len(sb) - inter), 4)
            if jac >= threshold:
                out[(rows[a][1], rows[b][1])] = (gap, jac)
    return out


@settings(max_examples=8, deadline=None)
@given(texts=CORPUS)
def test_sorted_neighborhood_matches_pure_python_definition(spark, texts):
    """Arbitrary small corpora: the bucketed-rank operator reproduces the
    plain-sort sorted-neighborhood definition exactly — pairs, gaps, and
    rounded scores; the bucket-monotone key packing can't reorder."""
    from prod_data_pipeline_spark.operators.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        (r.id_a, r.id_b): (r.rank_gap, r.jaccard)
        for r in sorted_neighborhood_pairs(df).collect()
    }
    assert got == _snm_truth(texts)


@settings(max_examples=8, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda p: p[0] != p[1]),
        min_size=0,
        max_size=15,
    )
)
def test_adamic_adar_matches_brute_force(spark, pairs):
    """Random small graphs: adamic_adar equals the brute-force definition
    over all non-adjacent wedge endpoints."""
    import math

    from prod_data_pipeline_spark.operators.graph import adamic_adar

    edges = {(min(a, b), max(a, b)) for a, b in pairs}
    if not edges:
        return
    df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    got = {
        (r.id_a, r.id_b): (r.common_neighbors, r.aa_score)
        for r in adamic_adar(df).collect()
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if (u, v) in edges:
                continue
            common = adj[u] & adj[v]
            if not common:
                continue
            score = sum(
                round(1.0 / math.log(len(adj[z])), 12) for z in common
            )
            want[(u, v)] = (len(common), round(score, 6))
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-9, (k, got[k], want[k])


def _brute_containment_pairs(texts, t_pct=80, min_tokens=2, ratio=2):
    sets = {i: set(t.lower().split()) for i, t in enumerate(texts)}
    out = set()
    for a in sets:
        for b in sets:
            if (
                a != b
                and len(sets[a]) >= min_tokens
                and len(sets[b]) >= ratio * len(sets[a])
                and 100 * len(sets[a] & sets[b]) >= t_pct * len(sets[a])
            ):
                out.add((a, b))
    return out


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.lists(WORD, min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=12,
    )
)
def test_containment_pairs_equals_bruteforce_property(spark, texts):
    """EXACT operator: containment_pairs must equal brute force on any
    corpus — with hot_df forced to 2 so the tiny shared vocabulary makes
    every token hot and the chunk-split path is always exercised (the
    split redistributes work, never filters candidates)."""
    from prod_data_pipeline_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        (r["id_small"], r["id_container"])
        for r in containment_pairs(
            df, threshold_pct=80, min_tokens=2, min_container_ratio=2, hot_df=2
        ).collect()
    }
    assert got == _brute_containment_pairs(texts, 80, 2, 2)


@settings(max_examples=8, deadline=None)
@given(texts=CORPUS)
def test_collapse_exact_is_output_identical(spark, texts):
    """The collapse-then-expand optimization must emit EXACTLY the
    uncollapsed pair set on arbitrary corpora — the tiny vocabulary
    yields heavy exact duplication, short (shingle-free) docs, and
    near-dup structure all at once."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    off = {
        tuple(r)
        for r in near_dup_pairs(df, threshold=0.5, sort=False, collapse_exact=False).collect()
    }
    on = {
        tuple(r)
        for r in near_dup_pairs(df, threshold=0.5, sort=False, collapse_exact=True).collect()
    }
    assert on == off


# Embedding corpora with forced exact duplication: few distinct values per
# coordinate -> identical vectors and near-dup structure arise naturally.
COORD = st.sampled_from([0.0, 0.5, 1.0, -0.5])
VEC = st.lists(COORD, min_size=4, max_size=4)
EMB_CORPUS = st.lists(VEC, min_size=1, max_size=10)


@settings(max_examples=6, deadline=None)
@given(vecs=EMB_CORPUS)
def test_srp_collapse_exact_is_output_identical(spark, vecs):
    """SRP twin of the collapse-equivalence property: byte-identical
    embeddings (including all-zero vectors) must expand to exactly the
    uncollapsed pair set."""
    from prod_data_pipeline_spark.operators.similarity import srp_near_dup_pairs

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    kw = dict(dim=4, threshold=0.3, nbits=16, band_bits=4, sort=False)
    off = {
        tuple(r)
        for r in srp_near_dup_pairs(df, collapse_exact=False, **kw).collect()
    }
    on = {
        tuple(r)
        for r in srp_near_dup_pairs(df, collapse_exact=True, **kw).collect()
    }
    assert on == off
