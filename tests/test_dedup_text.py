"""Dedup + text operators on planted fixtures (recall/behavior checks the
rows-only queries can't express)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prod_data_pipeline_spark.operators.dedup import (
    drop_exact_dups,
    exact_dedup_groups,
    near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_bucket_pairs,
    with_minhash,
    with_simhash,
)
from prod_data_pipeline_spark.operators.text import predicted_lang, winnow_fingerprints
from prod_data_pipeline_spark.functions.text import distinct_tokens


BASE = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
NEAR = BASE.replace("green forest", "dark forest")  # 1-token edit => high jaccard
FAR = "completely different content about spark query engines and distributed columnar execution plans"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "en", "s1"),
        (2, BASE, "en", "s1"),  # exact dup of 1
        (3, NEAR, "en", "s1"),  # near dup of 1
        (4, FAR, "en", "s1"),
        (5, "tiny", "en", "s1"),  # < 3 tokens: no shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


def test_exact_dedup(docs):
    groups = exact_dedup_groups(docs).collect()
    by_hash = {r["content_hash"]: r for r in groups}
    assert len(groups) == 4  # 5 docs, one exact pair
    dup_group = [r for r in groups if r["n_copies"] == 2]
    assert len(dup_group) == 1 and dup_group[0]["keep_id"] == 1
    kept = drop_exact_dups(docs)
    assert kept.count() == 4
    assert kept.filter(F.col("doc_id") == 2).count() == 0


def test_minhash_lsh_finds_planted_pairs(docs):
    pairs = near_dup_pairs(docs, threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found  # exact dup: jaccard 1.0
    assert (1, 3) in found and (2, 3) in found  # near dup
    assert not any(4 in p for p in found)  # unrelated doc never pairs
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert j[(1, 2)] == 1.0
    assert 0.5 <= j[(1, 3)] < 1.0


def test_minhash_identical_docs_identical_signatures(docs):
    sig = with_minhash(docs, num_hashes=4).filter(F.col("doc_id").isin(1, 2)).collect()
    a, b = sorted(sig, key=lambda r: r["doc_id"])
    for jj in range(4):
        assert a[f"mh_{jj}"] == b[f"mh_{jj}"]


def test_minhash_empty_shingles_null_signature(docs):
    sig = with_minhash(docs).filter(F.col("doc_id") == 5).first()
    assert sig["mh_0"] is None  # "tiny" has <3 tokens -> no shingles -> null


def test_ngram_jaccard_blocked_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs


def test_simhash_near_dups_close_far_docs_far(spark, docs):
    sims = {r["doc_id"]: r["simhash"] for r in with_simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert sims[1] == sims[2]  # identical text -> identical simhash
    assert ham(sims[1], sims[3]) < ham(sims[1], sims[4])
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_bucket_pairs(docs, max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0


@pytest.mark.parametrize(
    "seed,pos,word", [(11, 45, "EDITED"), (7, 90, "CHANGED")], ids=["pos45", "pos90"]
)
def test_simhash_buckets_find_long_near_dups(spark, seed, pos, word):
    """SimHash bit-flip probability per bit is ~theta/pi, so near-dup
    detection needs long docs: a 1-word edit in a 180-token doc flips ~2
    of the 60 md5-derived bits, inside the <=3-Hamming 15-bit-chunk
    pigeonhole; a far doc stays apart."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(300)]
    long_base = " ".join(rng.choice(vocab) for _ in range(180))
    words = long_base.split()
    words[pos] = word
    long_near = " ".join(words)
    df = spark.createDataFrame(
        [(1, long_base), (2, long_near), (3, FAR)], ["doc_id", "text"]
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_bucket_pairs(df, max_hamming=6).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert not any(3 in p for p in pairs)


def test_winnow_fingerprint_containment(spark):
    """A doc and the same doc with extra prefix share most fingerprints —
    the winnowing containment property; unrelated docs share none.
    Fingerprints are md5 hex digests (lexicographic window minima)."""
    rows = [
        (1, BASE),
        (2, "breaking news today " + BASE),
        (3, FAR),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {r["doc_id"]: set(r["fingerprints"]) for r in winnow_fingerprints(df).collect()}
    assert all(len(fp) == 32 for fp in fps[1])  # md5 hex digests
    overlap_near = len(fps[1] & fps[2]) / len(fps[1])
    overlap_far = len(fps[1] & fps[3]) / len(fps[1])
    assert overlap_near > 0.6
    assert overlap_far == 0.0


def test_lang_id_on_real_sentences(spark):
    rows = [
        (1, "the cat is in the house and a dog"),
        (2, "el perro y el gato de la casa que ladra"),
        (3, "le chien et le chat de la maison les arbres"),
        (4, "der Hund und die Katze ist von das Haus"),
        (5, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["p"]
        for r in df.select("doc_id", predicted_lang(distinct_tokens(F.col("text"))).alias("p")).collect()
    }
    assert out == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "und"}


def test_approx_distinct_error_bound(spark):
    """The hashed projection keeps only oracle-replayable facts: the exact
    counts and the within-bound booleans (per event_type AND the '__all__'
    rollup total since the r15 events_hll_users_panel merge).  The tighter
    5%/absolute-3 bound the old projection exposed is re-derived here from
    the raw HLL agg."""
    from prod_data_pipeline_spark.plans.queries import QUERIES
    from prod_data_pipeline_spark.sources.readers import load_table

    rows = QUERIES["events_hll_users_panel"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 1  # per-type rows + the '__all__' rollup row
    assert sum(1 for r in rows if r["scope"] == "__all__") == 1
    for r in rows:
        assert r["direct_within_bound"] is True
        assert r["merged_within_bound"] is True
        assert r["rel_err_bound"] == 0.1
        assert r["exact_users"] > 0
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    raw = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.count_distinct(F.col("user_id")).alias("exact_users"),
        )
        .collect()
    )
    for r in raw:
        assert abs(r["approx_users"] - r["exact_users"]) <= max(3, 0.05 * r["exact_users"])


def test_curate_corpus_drops_planted_dups_and_low_quality(spark):
    """curate_corpus removes an exact copy AND a near-copy of a seed doc,
    keeps the lowest id, and enforces the quality floor."""
    from prod_data_pipeline_spark.operators.corpus import curate_corpus
    from prod_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    seed = docs.filter(F.col("doc_id") == 0)
    exact_copy = seed.select((F.col("doc_id") + 10_000).alias("doc_id"), "lang", "text")
    near_copy = seed.select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        "lang",
        F.concat(F.col("text"), F.lit(" tail tail")).alias("text"),
    )
    corpus = docs.unionByName(exact_copy).unionByName(near_copy)
    kept = curate_corpus(corpus, jaccard_threshold=0.5, min_quality=0.0)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 0 in ids and 10_000 not in ids and 20_000 not in ids
    gated = curate_corpus(corpus, jaccard_threshold=0.5, min_quality=0.45)
    assert all(r["quality"] >= 0.45 for r in gated.collect())
    assert 0 < gated.count() < kept.count()


def test_dup_clusters_transitive_chain(spark):
    """A chain a~b~c with no direct (a, c) pair collapses into ONE cluster
    labeled by the min id — the transitive upgrade over pairwise
    loser-dropping; disjoint components keep separate labels."""
    from prod_data_pipeline_spark.operators.corpus import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 31), (31, 32), (32, 33)],
        ["id_a", "id_b"],
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 30: 30, 31: 30, 32: 30, 33: 30}
    # driver union-find path (small graph)
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == want
    # distributed label-propagation path (threshold forced to 0)
    got_dist = {
        r["doc_id"]: r["cluster_id"]
        for r in dup_clusters(pairs, driver_edge_threshold=0).collect()
    }
    assert got_dist == want


def test_driver_gate_is_byte_aware(spark):
    """Round-9 verdict #8: the driver fast-path gates bounded ROWS, not
    bytes — the memory bound held only because every gate site casts to
    fixed-width longs first.  The gate now enforces that: a blown byte
    budget (or any variable-width collected schema) takes the
    distributed path, result unchanged."""
    from prod_data_pipeline_spark.operators.corpus import dup_clusters
    from prod_data_pipeline_spark.operators.gates import (
        driver_collect_allowed,
        fixed_row_bytes,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # a 16-byte budget cannot hold even one probe batch of (long, long)
    # rows -> distributed label propagation, same clusters
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dup_clusters(pairs, driver_byte_budget=16).collect()
    }
    assert got == want

    # schema reasoning: two longs are statically sized; any wide /
    # variable-width field (string ids, arrays) is unbounded -> never
    # admitted to a driver collect, regardless of row count
    two_longs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    assert fixed_row_bytes(two_longs.schema) == 18  # 2 x (8 + null byte)
    assert driver_collect_allowed(two_longs, 2_000_001)  # ~36 MB
    assert not driver_collect_allowed(two_longs, 2_000_001, byte_budget=1 << 20)
    wide = spark.createDataFrame([("a" * 100, "b")], "id_a string, id_b string")
    assert fixed_row_bytes(wide.schema) is None
    assert not driver_collect_allowed(wide, 1)


def test_curate_corpus_drops_transitive_chain(spark):
    """curate_corpus keeps only the min-id representative of a 3-doc
    near-dup chain: the (base, +tail) and (+tail, +tail tail) pairs collide
    but the endpoints need not — transitivity must drop both copies."""
    from prod_data_pipeline_spark.operators.corpus import curate_corpus
    from prod_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    seed = docs.filter(F.col("doc_id") == 0)
    mid = seed.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        "lang",
        F.concat(F.col("text"), F.lit(" alpha beta")).alias("text"),
    )
    far = seed.select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        "lang",
        F.concat(F.col("text"), F.lit(" alpha beta gamma delta")).alias("text"),
    )
    corpus = docs.unionByName(mid).unionByName(far)
    kept = curate_corpus(corpus, jaccard_threshold=0.5, min_quality=0.0)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 0 in ids and 10_000 not in ids and 20_000 not in ids


def test_near_dup_agrees_with_pyspark_ml_minhashlsh(spark):
    """Cross-check vs the built-in pyspark.ml MinHashLSH: on a corpus with
    one planted near-identical pair, both our shingle-MinHash pipeline
    (shingle_n=1 -> token-set Jaccard, the lib's similarity space) and the
    library's approxSimilarityJoin surface the planted pair."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from prod_data_pipeline_spark.operators.dedup import near_dup_pairs
    from prod_data_pipeline_spark.functions.text import tokens
    from prod_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).limit(100)
    seed = docs.filter(F.col("doc_id") == 0)
    near = seed.select(
        F.lit(90_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    corpus = docs.unionByName(near)

    ours = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(corpus, shingle_n=1, threshold=0.7).collect()
    }
    assert (0, 90_000) in ours

    toked = corpus.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    tf = HashingTF(inputCol="toks", outputCol="features", binary=True, numFeatures=1 << 18)
    feats = tf.transform(toked)
    model = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42).fit(feats)
    lib = model.approxSimilarityJoin(feats, feats, 0.3, distCol="dist")  # dist = 1 - jaccard
    lib_pairs = {
        (r["datasetA"]["doc_id"], r["datasetB"]["doc_id"])
        for r in lib.collect()
        if r["datasetA"]["doc_id"] < r["datasetB"]["doc_id"]
    }
    assert (0, 90_000) in lib_pairs
    # Library candidates at the same threshold should not contain a pair we
    # exhaustively verified as below-threshold... and vice versa: any pair
    # BOTH engines emit must agree on similarity space (sanity, not recall).
    assert ours <= lib_pairs | ours


def test_jaccard_prefix_pairs_equals_bruteforce(spark):
    """The prefix-filtering exact join's defining guarantee: zero false
    negatives AND zero false positives vs the brute-force all-pairs
    Jaccard computed in plain Python on the same token sets."""
    from itertools import combinations

    from prod_data_pipeline_spark.operators.dedup import jaccard_prefix_pairs

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over a lazy dog",     # near-dup of 0
        "the quick brown fox leaps over the lazy dog",   # near-dup of 0
        "entirely different content about spark engines",
        "content about spark engines entirely different",  # same set as 3
        "one more unrelated document with unique words",
        "short text",
        "short text",                                     # exact dup of 6
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    for t_pct in (50, 70, 92):
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_prefix_pairs(df, threshold_pct=t_pct).collect()
        }
        sets = {i: set(t.split()) for i, t in enumerate(texts)}
        want = {
            (a, b)
            for a, b in combinations(range(len(texts)), 2)
            if 100 * len(sets[a] & sets[b]) >= t_pct * len(sets[a] | sets[b])
        }
        assert got == want, (t_pct, got ^ want)


def _bruteforce_dup_spans(texts: dict[int, str], window: int, min_count: int = 2):
    """Plain-Python reference for substring_dup_spans: slide token windows,
    count occurrences corpus-wide, merge duplicated windows per doc."""
    wins: dict[int, list[tuple[int, tuple]]] = {}
    counts: dict[tuple, int] = {}
    for i, t in texts.items():
        toks = t.lower().split()
        wins[i] = []
        for p in range(len(toks) - window + 1):
            key = tuple(toks[p : p + window])
            wins[i].append((p + 1, key))  # 1-based
            counts[key] = counts.get(key, 0) + 1
    spans = set()
    for i, wlist in wins.items():
        dup = sorted(p for p, k in wlist if counts[k] >= min_count)
        cur = None
        for p in dup:
            s, e = p, p + window - 1
            if cur and s <= cur[1] + 1:
                cur = (cur[0], max(cur[1], e))
            else:
                if cur:
                    spans.add((i, cur[0], cur[1]))
                cur = (s, e)
        if cur:
            spans.add((i, cur[0], cur[1]))
    return spans


def test_substring_dup_spans_equals_bruteforce(spark):
    """Span-level exact substring dedup: boundaries match a plain-Python
    sliding-window reference exactly, on a corpus with cross-doc repeated
    boilerplate, within-doc repetition, and a too-short doc."""
    from prod_data_pipeline_spark.operators.dedup import substring_dup_spans

    boiler = "this document is provided as is without warranty of any kind either express or implied"
    texts = {
        1: boiler + " alpha beta gamma delta epsilon zeta eta theta unique one",
        2: "totally different opening words here then " + boiler + " trailing tail",
        3: "no repeated content at all just original words flowing along nicely today",
        4: "loop loop loop loop loop loop loop loop loop loop loop loop",  # self-repeat
        5: "short doc",  # below window
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    W = 6
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in substring_dup_spans(df, window=W).collect()
    }
    assert got == _bruteforce_dup_spans(texts, W)
    # the boilerplate span must cover the shared sentence in both docs
    assert any(d == 1 and s == 1 for d, s, e in got)
    assert not any(d in (3, 5) for d, s, e in got)


def test_jaccard_prefix_pairs_hot_token_guard(spark):
    """Skew guard: one token in ~50% of docs that SURVIVES prefixing
    (short docs => the prefix covers most tokens).  With hot_df forced
    tiny the hot posting list splits into m > 1 chunks — the result must
    still equal brute force exactly (the split redistributes work, never
    filters candidates), at several thresholds."""
    from itertools import combinations

    from prod_data_pipeline_spark.operators.dedup import jaccard_prefix_pairs

    # 40 docs, ~half contain the hot token "common"; 3-4 tokens each so the
    # 50%-threshold prefix is 2 tokens and "common" lands in many prefixes.
    texts = {}
    for i in range(40):
        uniq = f"u{i}"
        if i % 2 == 0:
            texts[i] = f"common {uniq} alpha"      # hot token up front
        else:
            texts[i] = f"{uniq} beta gamma delta"
    # planted near-dup pairs sharing the hot token
    texts[40] = "common shared phrase here"
    texts[41] = "common shared phrase there"
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])

    sets = {i: set(t.split()) for i, t in texts.items()}
    for t_pct in (50, 75):
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_prefix_pairs(df, threshold_pct=t_pct, hot_df=3).collect()
        }
        want = {
            (a, b)
            for a, b in combinations(sorted(texts), 2)
            if 100 * len(sets[a] & sets[b]) >= t_pct * len(sets[a] | sets[b])
        }
        assert got == want, (t_pct, got ^ want)
        if t_pct == 50:
            assert (40, 41) in got  # planted 60%-Jaccard pair found at 50


def test_substring_dup_spans_saturated_boilerplate(spark):
    """Pathological skew shape: EVERY doc carries the same 8-token
    boilerplate (one window hash holds the entire corpus in its posting
    list).  The pass must still complete with the exact per-doc span —
    the repeat groupBy collapses map-side and the span merge is keyed by
    doc, so no single key ever concentrates row volume."""
    from prod_data_pipeline_spark.operators.dedup import substring_dup_spans

    boiler = "standard license header applies to this file verbatim"
    rows = [(i, f"unique{i} alpha{i} beta{i} gamma{i} {boiler} trailing{i}") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    W = 8
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in substring_dup_spans(df, window=W).collect()
    }
    # tokens 1-4 and 13 are per-doc unique, boiler occupies positions 5..12:
    # the only repeated 8-window is exactly the boilerplate span
    assert got == {(i, 5, 12) for i in range(200)}


def test_incremental_dedup_flags(spark):
    """incremental_dedup invariants on a hand-built batch/snapshot: the
    kept-first rule marks only later duplicate ids, snapshot hits flag
    every batch row sharing the key, and ingestable rows are exactly the
    never-seen-first-occurrence set."""
    from prod_data_pipeline_spark.operators.dedup import incremental_dedup

    snapshot = spark.createDataFrame(
        [("k1",), ("k2",)], ["fp"]
    )
    batch = spark.createDataFrame(
        [(10, "k1"), (11, "k3"), (12, "k3"), (13, "k4"), (14, "k1")],
        ["doc_id", "fp"],
    )
    out = {r["doc_id"]: (r["dup_snapshot"], r["dup_batch"])
           for r in incremental_dedup(batch, snapshot).collect()}
    assert out == {
        10: (1, 0),   # in snapshot, first of its key in batch
        11: (0, 0),   # new key, first occurrence -> ingest
        12: (0, 1),   # new key, later occurrence
        13: (0, 0),   # new key -> ingest
        14: (1, 1),   # in snapshot AND a later batch occurrence
    }
    ingest = [k for k, (s, b) in out.items() if s == 0 and b == 0]
    assert sorted(ingest) == [11, 13]


def _snm_reference(docs, window=5, key_len=16, threshold=0.3):
    """Pure-python sorted-neighborhood: the definition the operator must
    reproduce (normalized prefix key sort, compare each doc with its
    `window` successors, 3-gram Jaccard verify)."""
    import re

    def key(text):
        return re.sub(r"[^a-z0-9]", "", text[: 4 * key_len].lower())[:key_len]

    def sh(text):
        toks = [t for t in re.split(r"\s+", text.lower()) if t]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    rows = sorted(((key(t), i, sh(t)) for i, t in docs), key=lambda r: (r[0], r[1]))
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


def test_sorted_neighborhood_matches_reference(spark):
    """40 docs, several shared-prefix families spanning bucket boundaries:
    the bucketed-rank operator must reproduce the plain-sort definition
    exactly (pairs, gaps, and scores)."""
    from prod_data_pipeline_spark.operators.dedup import sorted_neighborhood_pairs

    docs = []
    for i in range(40):
        fam = i % 4
        body = " ".join(f"tok{fam}{j}" for j in range(8))
        # family-shared prefix, per-doc tail edit -> near dups adjacent in key order
        docs.append((i, f"family {fam} shared head {body} tail{i}"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.rank_gap, r.jaccard)
        for r in sorted_neighborhood_pairs(df).collect()
    }
    want = _snm_reference(docs)
    assert got == want
    assert want, "reference produced no pairs - test corpus too weak"
    assert all(1 <= gap <= 5 for gap, _ in got.values())


def test_containment_pairs_hot_token_guard(spark):
    """Skew guard for the asymmetric containment join: one token in ~50%
    of docs that survives prefixing (short contained docs => the prefix
    is most of the doc).  With hot_df forced tiny the hot posting list
    splits into m > 1 chunks on both join sides — the result must still
    equal brute force exactly (the split redistributes work, never
    filters candidates), at several thresholds."""
    from prod_data_pipeline_spark.operators.dedup import containment_pairs

    texts = {}
    for i in range(30):
        uniq = f"u{i}"
        if i % 2 == 0:
            texts[i] = f"common {uniq} alpha"  # hot token up front
        else:
            texts[i] = f"{uniq} beta gamma"
    # planted containers engulfing two of the hot-token excerpts (>=2x size)
    texts[30] = "common u0 alpha beta gamma extra1 extra2 extra3"
    texts[31] = "common u2 alpha filler1 filler2 filler3 filler4"
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])

    sets = {i: set(t.split()) for i, t in texts.items()}
    for t_pct in (80, 100):
        got = {
            (r["id_small"], r["id_container"])
            for r in containment_pairs(
                df,
                threshold_pct=t_pct,
                min_tokens=2,
                min_container_ratio=2,
                hot_df=3,
            ).collect()
        }
        want = {
            (a, b)
            for a in sets
            for b in sets
            if a != b
            and len(sets[a]) >= 2
            and len(sets[b]) >= 2 * len(sets[a])
            and 100 * len(sets[a] & sets[b]) >= t_pct * len(sets[a])
        }
        assert got == want, (t_pct, got ^ want)
        assert (0, 30) in got and (2, 31) in got


def test_recall_audits_sample_pct_knob(spark):
    """The md5-bucketed sample_pct knob keeps the exact-recall audits
    runnable at 100x corpus scale: both sides restrict to the same
    deterministic doc subsample, counts shrink, and on the synthetic
    corpus the sampled recall matches the full-corpus recall."""
    from prod_data_pipeline_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    for name in ("docs_lsh_recall_vs_exact", "docs_snm_recall_vs_exact"):
        fn = QUERIES[name].fn
        full = fn(spark, sf).collect()[0]
        samp = fn(spark, sf, sample_pct=60).collect()[0]
        assert 0 < samp["n_exact"] < full["n_exact"], name
        assert samp["recall"] == full["recall"] == 1.0, name
        # determinism: same subsample every run
        again = fn(spark, sf, sample_pct=60).collect()[0]
        assert again == samp, name


def test_markup_blocks_classification_rules(spark):
    """jusText-style rules on hand-built pages: nav fails the link rule,
    footer the length rule, stopword-free soup the density rule, real
    prose survives; extract_main_content keeps document order and
    returns empty text (not null) for all-boilerplate pages."""
    from prod_data_pipeline_spark.operators.text import (
        extract_main_content,
        markup_blocks,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "runs away to the forest of tall trees where a river flows"
    )  # 25 tokens, 8 stopword hits
    soup = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    pages = spark.createDataFrame(
        [
            (
                1,
                "<html><body><nav>"
                '<a href="/a">home</a> <a href="/b">about</a>'
                f"</nav><p>{prose}</p><p>{soup}</p>"
                "<footer>copyright 2025 example corp all rights reserved"
                "</footer></body></html>",
            ),
            (2, "<html><body><nav><a>x</a></nav></body></html>"),
        ],
        "doc_id long, html string",
    )
    rows = {(r["doc_id"], r["block_pos"]): r for r in markup_blocks(pages).collect()}
    nav = rows[(1, 0)]
    assert nav["block_type"] == "nav" and nav["n_link_tokens"] == 2
    assert nav["is_good"] is False  # link density 1.0
    good = rows[(1, 1)]
    assert good["block_type"] == "p" and good["is_good"] is True
    assert good["n_tokens"] == 25 and good["n_stop_tokens"] == 8
    assert good["clean_text"] == prose
    bad_soup = rows[(1, 2)]
    assert bad_soup["is_good"] is False  # 12 tokens but 0 stopwords
    footer = rows[(1, 3)]
    assert footer["block_type"] == "footer" and footer["is_good"] is False

    main = {r["doc_id"]: r for r in extract_main_content(pages).collect()}
    assert main[1]["main_text"] == prose and main[1]["n_content_blocks"] == 1
    assert main[2]["main_text"] == "" and main[2]["n_content_blocks"] == 0


def test_synthetic_markup_pages_deterministic_geometry(spark):
    """The page builder's geometry is pure doc_id/text arithmetic (the
    contract the oracle replays): nav link count = doc_id%3+2, one <p>
    per 25 tokens, fixed footer, and re-running builds the same bytes."""
    from prod_data_pipeline_spark.operators.text import synthetic_markup_pages

    df = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(60)))], "doc_id long, text string"
    )
    h1 = synthetic_markup_pages(df).first()["html"]
    h2 = synthetic_markup_pages(df).first()["html"]
    assert h1 == h2
    assert h1.count("<a href=") == 7 % 3 + 2
    assert h1.count("<p>") == 3  # 60 tokens -> 25+25+10
    assert h1.endswith("</footer></body></html>")


def test_shingles_null_tokens_yield_empty_array(spark):
    """Null-contract pin (round-7 advisor): a NULL token array yields a
    typed EMPTY array — the zip_with rewrite alone would propagate NULL
    and silently change the contract for external callers."""
    from prod_data_pipeline_spark.functions.text import shingles

    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"]), (2, None), (3, ["x"])],
        "doc_id long, toks array<string>",
    )
    rows = {r["doc_id"]: r["sh"] for r in df.select("doc_id", shingles(F.col("toks")).alias("sh")).collect()}
    assert rows[1] == ["a b c", "b c d"]
    assert rows[2] == []  # NULL in -> typed empty array out, never NULL
    assert rows[3] == []  # fewer than n tokens


def test_jaccard_prefix_pairs_lazy_path_matches_materialized(spark):
    """materialize=False must return the identical verified pair set via
    plan-owned localCheckpoints (round-7 advisor: the old persist on this
    path leaked session-lifetime cache the caller could not release)."""
    from prod_data_pipeline_spark.operators.dedup import jaccard_prefix_pairs

    docs = [
        (i, "alpha beta gamma delta epsilon zeta " + ("eta theta" if i % 2 else "iota kappa"))
        for i in range(1, 9)
    ] + [(9, "totally different words here entirely unrelated content")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    eager = {
        (r["id_a"], r["id_b"], r["inter"], r["union_sz"])
        for r in jaccard_prefix_pairs(df, threshold_pct=70, materialize=True).collect()
    }
    lazy = {
        (r["id_a"], r["id_b"], r["inter"], r["union_sz"])
        for r in jaccard_prefix_pairs(df, threshold_pct=70, materialize=False).collect()
    }
    assert eager == lazy and eager  # same pairs, and the planted dups exist


def test_near_dup_pairs_collapse_equivalence(spark):
    """collapse_exact must emit EXACTLY the uncollapsed pair set on a
    corpus mixing exact-dup cliques, near dups, short (shingle-free)
    duplicates, and singletons — including the edge the expansion must
    NOT invent: identical sub-shingle-length docs never pair (their band
    keys are filtered), so the eligible flag has to exclude them."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog today"),     # near dup
        (4, "completely different text about distributed query engines"),
        (5, "tiny doc"),                                              # < shingle_n tokens
        (6, "tiny doc"),                                              # identical short doc
        (7, "the quick brown fox jumps over the lazy dog tonight"),   # 3rd clique member
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {tuple(r) for r in near_dup_pairs(docs, threshold=0.5, sort=False,
                                          collapse_exact=False).collect()}
    b = {tuple(r) for r in near_dup_pairs(docs, threshold=0.5, sort=False,
                                          collapse_exact=True).collect()}
    assert a == b
    found = {(x, y) for x, y, _ in b}
    assert {(1, 2), (1, 7), (2, 7)} <= found          # full clique expanded
    assert not any(5 in p or 6 in p for p in found)   # short dups excluded


def test_srp_pairs_collapse_equivalence(spark):
    """SRP twin of the collapse equivalence: bit-identical embeddings
    expand to full cliques with their rep's self-cosine; a zero vector's
    clique is excluded (self-cosine NULL, as the uncollapsed verify)."""
    from prod_data_pipeline_spark.operators.similarity import srp_near_dup_pairs

    rows = [
        (1, [1.0, 0.0, 0.5, 0.2]),
        (2, [1.0, 0.0, 0.5, 0.2]),      # exact dup of 1
        (3, [0.99, 0.01, 0.5, 0.2]),    # near dup
        (4, [-1.0, 0.3, -0.5, 0.1]),
        (5, [0.0, 0.0, 0.0, 0.0]),      # zero vector
        (6, [0.0, 0.0, 0.0, 0.0]),      # identical zero vector
        (7, [1.0, 0.0, 0.5, 0.2]),      # 3rd clique member
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(dim=4, threshold=0.3, nbits=16, band_bits=4, sort=False)
    a = {tuple(r) for r in srp_near_dup_pairs(emb, collapse_exact=False, **kw).collect()}
    b = {tuple(r) for r in srp_near_dup_pairs(emb, collapse_exact=True, **kw).collect()}
    assert a == b
    found = {(x, y) for x, y, _ in b}
    assert {(1, 2), (1, 7), (2, 7)} <= found
    assert not any(5 in p or 6 in p for p in found)


def test_lsh_steps_written_once():
    """Each shared LSH step has one home: the (band_id, band_key)
    equality self-join lives only in dedup.lsh_candidates, and the
    pre-sort compact_for_sort call of the operators only in
    dedup._finish_pairs.  A hand copy drifts: SimHash's sorted path once
    skipped the compact and so ran its verify pipeline twice."""
    import ast
    import pathlib
    import re

    import prod_data_pipeline_spark

    root = pathlib.Path(prod_data_pipeline_spark.__file__).parent
    band_join = re.compile(r'(band_key|chunk)"\)\s*==')
    hits = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        funcs = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]

        def owner(lineno):
            inner = [f for f in funcs if f[0] <= lineno <= f[1]]
            return min(inner, key=lambda f: f[1] - f[0])[2] if inner else None

        for i, line in enumerate(src.splitlines(), 1):
            if band_join.search(line) and owner(i) != "lsh_candidates":
                hits.append(f"{path.relative_to(root)}:{i} band self-join")
            if (
                "compact_for_sort(" in line
                and path.parent.name == "operators"
                and owner(i) != "_finish_pairs"
            ):
                hits.append(f"{path.relative_to(root)}:{i} compact_for_sort")
    assert not hits, hits

