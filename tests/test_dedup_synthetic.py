"""Dedup operators on *constructed* near-duplicates — the driver
testdata contains no real dups, so these prove the detectors actually
detect (and don't fire on unrelated docs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from simplex_mapreduce_spark.operators.dedup import (
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    shingle_sets,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm stone wall near the old garden gate "
    "and the birds sing in the tall green trees above"
)
NEAR_DUP = BASE.replace("lazy dog", "sleepy dog")  # one-word edit
UNRELATED = (
    "completely different content about distributed query engines "
    "processing columnar parquet data with adaptive execution and "
    "broadcast joins at petabyte scale every single day"
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR_DUP), (3, UNRELATED), (4, BASE)],
        "doc_id long, text string",
    )


def test_ngram_jaccard_detects_near_dup(spark):
    sets = shingle_sets(_docs(spark))
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(sets, threshold=0.5).collect()
    }
    sets.unpersist()
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0  # near dup
    assert not any(3 in p for p in pairs)  # unrelated never pairs


def test_minhash_lsh_finds_dup_candidates(spark):
    sets = shingle_sets(_docs(spark))
    cands = {(r["doc_a"], r["doc_b"]) for r in minhash_candidate_pairs(sets).collect()}
    sets.unpersist()
    assert (1, 4) in cands  # identical docs always share every band
    assert not any(3 in p for p in cands)


def test_minhash_degenerate_bucket_all_pairs(spark):
    """A degenerate bucket (many identical docs collapsing into one
    band bucket) must yield the complete pair set exactly once each —
    the posexplode + suffix-slice expansion neither drops nor
    duplicates pairs."""
    n = 40
    docs = spark.createDataFrame(
        [(i, BASE) for i in range(1, n + 1)] + [(99, UNRELATED)],
        "doc_id long, text string",
    )
    sets = shingle_sets(docs)
    rows = minhash_candidate_pairs(sets).collect()
    sets.unpersist()
    pairs = [(r["doc_a"], r["doc_b"]) for r in rows]
    want = {(a, b) for a in range(1, n + 1) for b in range(a + 1, n + 1)}
    assert set(pairs) == want
    assert len(pairs) == len(want)  # distinct — one row per pair
    assert not any(99 in p for p in pairs)


def test_pandas_shingling_matches_hof(spark):
    """The Arrow-batched shingling UDF must be byte-identical (values AND
    first-occurrence order) to the JVM higher-order-function pipeline on
    real corpus text."""
    from pyspark.sql import functions as F2

    from simplex_mapreduce_spark.functions.textfn import (
        pandas_shingles_udf,
        shingles_col,
        tokens_col,
    )
    from simplex_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    hof = F2.array_distinct(shingles_col(tokens_col("text"), 3))
    mismatches = (
        d.select(
            "doc_id",
            hof.alias("a"),
            pandas_shingles_udf(3)("text").alias("b"),
        )
        .filter(F2.col("a") != F2.col("b"))
        .count()
    )
    assert mismatches == 0


def _brute_force_pairs(docs, threshold):
    """Reference all-pairs Jaccard in plain Python."""
    sets = {}
    for doc_id, text in docs:
        toks = text.split()
        sets[doc_id] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= threshold:
                out[(a, b)] = round(inter / union, 4)
    return out


def test_ppjoin_matches_brute_force_randomized(spark):
    """PPJoin prefix filtering must return EXACTLY the brute-force pair
    set on a randomized corpus with planted near-dups (the no-false-
    negatives property of the prefix scheme)."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for doc_id in range(30):
        docs.append((doc_id, " ".join(rng.choices(vocab, k=rng.randint(5, 30)))))
    # planted near-dups: copies of doc 0 with small edits
    base = docs[0][1].split()
    for j, doc_id in enumerate(range(100, 104)):
        edited = list(base)
        if len(edited) > 3:
            edited[j % len(edited)] = "edited"
        docs.append((doc_id, " ".join(edited)))
    # planted EXACT mirrors (round-6 rep-collapse paths): a 3-clone
    # cluster of doc 0 (whose representative also has cross-group
    # near-dups above — exercises within-group emission AND rep-pair
    # member expansion) and a 2-clone cluster of doc 1
    for doc_id in (200, 201, 202):
        docs.append((doc_id, docs[0][1]))
    docs.append((300, docs[1][1]))
    for threshold in (0.1, 0.3, 0.5, 0.8):
        expect = _brute_force_pairs(docs, threshold)
        sets = shingle_sets(
            spark.createDataFrame(docs, "doc_id long, text string")
        )
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(sets, threshold=threshold).collect()
        }
        sets.unpersist()
        assert got == expect, (
            f"t={threshold}: missing={set(expect) - set(got)} "
            f"extra={set(got) - set(expect)}"
        )


def test_mirror_group_cap_bounds_arrays_and_preserves_pairs(spark):
    """A clone cluster far larger than the collect cap must (a) never
    build a member array above the cap and (b) emit exactly the
    brute-force pair set — the round-7 bound on the degenerate
    billion-clone single row (VERDICT r6 item 5).  cap=4 against a
    23-clone mirror forces 6 sub-arrays, exercising within-sub,
    straddling-sub, and rep-pair expansion across subs at once."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.dedup import (
        _capped_groups,
        minhash_candidate_pairs,
    )

    mirror = "a b c d e f g h"
    docs = [(doc_id, mirror) for doc_id in range(23)]
    docs.append((100, "a b c d e f g x"))  # near-dup of the mirror text
    docs.append((200, "p q r s t u v w"))
    docs.append((300, "p q r s t u v w"))  # second, 2-clone group
    docs.append((400, "z1 z2 z3 z4 z5 z6"))  # unrelated singleton
    cap = 4
    expect = _brute_force_pairs(docs, 0.5)
    sets = shingle_sets(spark.createDataFrame(docs, "doc_id long, text string"))
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(sets, threshold=0.5, group_cap=cap).collect()
    }
    assert got == expect, (
        f"missing={set(expect) - set(got)} extra={set(got) - set(expect)}"
    )
    # the cap is REAL: the 23-clone group splits into ceil(23/4) = 6
    # sub-arrays and none exceeds the cap
    subs = _capped_groups(
        sets.select("doc_id", F.md5(F.to_json("sh_ids")).alias("dg")), "dg", cap=cap
    )
    sizes = [r["n"] for r in subs.select(F.size("members").alias("n")).collect()]
    assert max(sizes) <= cap and sizes.count(cap) >= 5
    # LSH path under the same cap: every exact-mirror pair is a
    # candidate by construction (identical signatures); the capped
    # expansion must not lose any
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidate_pairs(sets, group_cap=cap).collect()
    }
    mirrors = {p for p, j in expect.items() if j == 1.0}
    assert mirrors <= cand
    sets.unpersist()


def test_ppjoin_prunes_hot_shingle_candidates(spark):
    """The scale-killer scenario: one shingle shared by k docs that are
    otherwise disjoint.  A plain inverted index yields k*(k-1)/2
    candidate pairs; the df-ordered prefix drops the hot shingle from
    every prefix, so PPJoin yields ZERO."""
    from pyspark.sql import functions as F2

    from simplex_mapreduce_spark.operators.dedup import prefix_candidates

    k = 40
    docs = [
        # 6 tokens -> 4 trigram shingles; "hot hot hot" shared by all
        (i, f"hot hot hot u{i}a u{i}b u{i}c")
        for i in range(k)
    ]
    sets = shingle_sets(spark.createDataFrame(docs, "doc_id long, text string"))
    n_candidates = prefix_candidates(sets, threshold=0.5).count()
    # sanity: the naive inverted index on the same corpus explodes
    idx = sets.select("doc_id", F2.explode("sh_ids").alias("sh"))
    naive = (
        idx.alias("a")
        .join(
            idx.alias("b"),
            (F2.col("a.sh") == F2.col("b.sh"))
            & (F2.col("a.doc_id") < F2.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    sets.unpersist()
    assert naive == k * (k - 1) // 2
    assert n_candidates == 0


def test_clear_shingle_cache_unpersists():
    from simplex_mapreduce_spark.operators import dedup

    dedup.clear_shingle_cache()
    assert dedup._SETS_CACHE == {}


def test_minhash_signature_stability(spark):
    """Same text -> identical signatures regardless of doc order."""
    from simplex_mapreduce_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(10, BASE), (20, BASE)], "doc_id long, text string"
    )
    sets = shingle_sets(docs)
    rows = {r["doc_id"]: r for r in minhash_signatures(sets).collect()}
    sets.unpersist()
    for i in range(8):
        assert rows[10][f"mh_{i}"] == rows[20][f"mh_{i}"]


def test_incremental_dedup_matches_batch(spark):
    """Two increments through merge_dedup_state must equal one batch
    exact_dedup over the union — same hashes, survivors, and counts —
    including a dup that SPANS the increments (doc 4 dups doc 1)."""
    from simplex_mapreduce_spark.operators.dedup import merge_dedup_state

    batch1 = spark.createDataFrame(
        [(1, BASE), (3, UNRELATED)], "doc_id long, text string"
    )
    batch2 = spark.createDataFrame(
        [(2, NEAR_DUP), (4, BASE)], "doc_id long, text string"
    )
    state = merge_dedup_state(None, batch1)
    state = merge_dedup_state(state, batch2)
    incremental = state.toPandas()

    batch = merge_dedup_state(None, batch1.unionByName(batch2)).toPandas()
    key = lambda df: sorted(  # noqa: E731
        zip(df["content_hash"], df["keep_doc_id"], df["n_copies"])
    )
    assert key(incremental) == key(batch)
    by_hash = dict(
        zip(incremental["content_hash"],
            zip(incremental["keep_doc_id"], incremental["n_copies"]))
    )
    # the cross-increment dup collapsed onto the older survivor
    assert (1, 2) in by_hash.values()


def test_incremental_dedup_property(spark):
    """Property: ANY partition of a corpus into increments folds to the
    same state as one batch — survivors, counts, and hash set all equal,
    regardless of how docs (including duplicates) land in increments."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from simplex_mapreduce_spark.operators.dedup import merge_dedup_state

    texts = [BASE, NEAR_DUP, UNRELATED, BASE, UNRELATED, BASE + " tail"]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(cut=st.lists(st.integers(0, len(texts)), min_size=0, max_size=3))
    def run(cut):
        docs = [(i, texts[i % len(texts)]) for i in range(len(texts))]
        bounds = sorted(set([0, *cut, len(docs)]))
        state = None
        for lo, hi in zip(bounds, bounds[1:]):
            if lo == hi:
                continue
            state = merge_dedup_state(
                state,
                spark.createDataFrame(docs[lo:hi], "doc_id long, text string"),
            )
        got = sorted(map(tuple, state.collect()))
        want = sorted(
            map(
                tuple,
                merge_dedup_state(
                    None, spark.createDataFrame(docs, "doc_id long, text string")
                ).collect(),
            )
        )
        assert got == want

    run()


def _union_find_components(edges):
    """Driver-side reference: classic union-find over the pair list."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark):
    """Distributed min-label propagation == exact union-find on a graph
    with a chain (diameter > 1), a triangle, an isolated pair, and
    nothing else — including a chain whose min id sits at one END so
    the label must propagate the full length."""
    from simplex_mapreduce_spark.operators.clusters import connected_components

    edges = [
        (5, 4), (4, 3), (3, 2), (2, 1),  # chain, min at the far end
        (10, 11), (11, 12), (10, 12),    # triangle
        (20, 21),                        # isolated pair
    ]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == _union_find_components(edges)


def test_connected_components_randomized_vs_union_find(spark):
    """Randomized graphs (seeded): the distributed fixpoint must agree
    with union-find on every node."""
    import random

    from simplex_mapreduce_spark.operators.clusters import connected_components

    rng = random.Random(7)
    for trial in range(3):
        nodes = list(range(trial * 100, trial * 100 + 60))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(40)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs).collect()
        }
        assert got == _union_find_components(edges), f"trial {trial}"


def test_star_cc_matches_union_find_and_label_propagation(spark):
    """Alternating large-star/small-star CC == union-find == min-label
    propagation on fixed graphs covering every shape that matters: a
    chain with the min at the far end, a triangle, an isolated pair,
    and a star already in canonical form."""
    from simplex_mapreduce_spark.operators.clusters import (
        connected_components,
        connected_components_star,
    )

    edges = [
        (5, 4), (4, 3), (3, 2), (2, 1),  # chain, min at the far end
        (10, 11), (11, 12), (10, 12),    # triangle
        (20, 21),                        # isolated pair
        (30, 31), (30, 32), (30, 33),    # star, center already the min
    ]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = _union_find_components(edges)
    star = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_star(pairs).collect()
    }
    prop = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert star == want
    assert prop == want


def test_star_cc_long_path_converges_in_log_rounds(spark):
    """The case that motivates the star algorithm: a 64-node path whose
    min sits at one end.  Label propagation moves the label one hop per
    round (needs 63 rounds — with max_rounds=8 it returns a WRONG
    fixpoint-in-progress); the star algorithm is exact within 8 rounds
    because each round roughly halves every node's distance-to-min."""
    from simplex_mapreduce_spark.operators.clusters import (
        connected_components_star,
    )

    n = 64
    edges = [(i + 1, i) for i in range(n - 1)]  # path 63-62-...-1-0
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_star(pairs, max_rounds=8).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_star_cc_randomized_vs_union_find(spark):
    """Seeded random graphs (including self-loop-free multi-component
    shapes): star CC must agree with union-find on every node."""
    import random

    from simplex_mapreduce_spark.operators.clusters import (
        connected_components_star,
    )

    rng = random.Random(13)
    for trial in range(3):
        nodes = list(range(trial * 100, trial * 100 + 60))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(40)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components_star(pairs).collect()
        }
        assert got == _union_find_components(edges), f"trial {trial}"


def test_neardup_clusters_survivor_rule(spark):
    """canonical_members marks exactly one canonical (the min doc_id)
    per cluster; on the synthetic corpus the near-dup family {1, 2, 4}
    collapses to canonical 1 and UNRELATED doc 3 stays out entirely."""
    from simplex_mapreduce_spark.operators.clusters import canonical_members

    sets = shingle_sets(_docs(spark))
    pairs = ngram_jaccard_pairs(sets, threshold=0.7).select("doc_a", "doc_b")
    rows = canonical_members(pairs).collect()
    sets.unpersist()
    by_doc = {r["doc_id"]: r for r in rows}
    assert set(by_doc) == {1, 2, 4}  # doc 3 never enters a cluster
    assert all(r["cluster_id"] == 1 for r in rows)
    assert [d for d, r in by_doc.items() if r["is_canonical"]] == [1]


def test_contamination_check_finds_planted_leak(spark):
    """A 13-gram from a 'benchmark' doc planted inside a training doc
    must surface as a collision with the right shared count; clean
    train docs must not appear.  Also pins the 64-bit-hash join against
    a raw-string shingle join (no collisions on this corpus)."""
    from simplex_mapreduce_spark.functions.textfn import shingles_col, tokens_col
    from simplex_mapreduce_spark.operators.clusters import contamination_check

    bench_text = (
        "what is the capital of france the answer is paris a city "
        "located on the seine river in northern europe known widely"
    )
    leaked = "some training prose then " + bench_text + " and more prose"
    train = spark.createDataFrame(
        [(1, leaked), (2, UNRELATED)], "doc_id long, text string"
    )
    eval_docs = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string"
    )
    got = contamination_check(train, eval_docs).collect()
    assert [(r["train_doc_id"], r["eval_doc_id"]) for r in got] == [(1, 100)]
    # n_shared = every distinct 13-gram of the bench text (all contained
    # in the leaked train doc): len(tokens) - 13 + 1
    n_bench_tokens = len(bench_text.split())
    assert got[0]["n_shared"] == n_bench_tokens - 13 + 1

    # raw-string twin: same result without the xxhash64 compression
    def raw(docs, id_out):
        return docs.select(
            F.col("doc_id").alias(id_out),
            F.explode(
                F.array_distinct(shingles_col(tokens_col("text"), 13))
            ).alias("sh"),
        )

    raw_pairs = (
        raw(train, "train_doc_id")
        .join(raw(eval_docs, "eval_doc_id"), "sh")
        .groupBy("train_doc_id", "eval_doc_id")
        .count()
        .collect()
    )
    assert [(r["train_doc_id"], r["eval_doc_id"], r["count"]) for r in raw_pairs] == [
        (1, 100, got[0]["n_shared"])
    ]


def test_jaccard_from_stored_shingle_table_matches_cached(spark):
    """The stored-shingle-stage path (build once at ingest, query from
    the bucketed table) must produce exactly the cached-pipeline pair
    set at the driver threshold."""
    from simplex_mapreduce_spark.operators.dedup import (
        _cached_sets,
        build_shingle_table,
        jaccard_pairs_from_table,
    )
    from tests.conftest import SF_DIR

    table = build_shingle_table(spark, SF_DIR)
    try:
        stored = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in jaccard_pairs_from_table(spark, table).collect()
        }
        cached = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(_cached_sets(spark, SF_DIR)).collect()
        }
        assert stored == cached
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_shingle_cache_auto_evicts_on_session_stop():
    """Cache entries owned by a STOPPED session are swept on the next
    cache access (VERDICT r5): no manual clear_shingle_cache() needed.
    Runs in a subprocess so stopping a SparkSession cannot disturb the
    shared session fixture."""
    import subprocess
    import sys

    code = """
import simplex_mapreduce_spark.operators.dedup as dd
from simplex_mapreduce_spark.session import get_spark

s1 = get_spark("evict-1", cpus="2")
dd._cached_base(s1, "/root/testdata/sf0.001")
assert len(dd._SETS_CACHE) == 1 and len(dd._AUX_PERSISTED) == 1
s1.stop()
s2 = get_spark("evict-2", cpus="2")
dd._sweep_dead_cache_entries()
assert dd._SETS_CACHE == {} and dd._AUX_PERSISTED == []
# and a fresh access rebuilds for the live session only
dd._cached_base(s2, "/root/testdata/sf0.001")
assert {k[0] for k in dd._SETS_CACHE} == {s2.sparkContext.applicationId}
s2.stop()
print("EVICT-OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert "EVICT-OK" in out.stdout, out.stderr[-2000:]


def test_stored_minhash_signatures_match_computed(spark):
    """build_shingle_table materializes mh_0..mh_{k-1} at ingest
    (round-6); reading them back must equal recomputing the md5
    min-hashes from the stored shingle arrays — and the stored-table
    LSH path must therefore reproduce the computed-path candidates."""
    from simplex_mapreduce_spark.operators.dedup import (
        MINHASH_K,
        build_shingle_table,
        minhash_candidate_pairs,
        minhash_cols,
    )
    from simplex_mapreduce_spark.sources.bucketing import read_bucketed
    from tests.conftest import SF_DIR

    table = build_shingle_table(spark, SF_DIR)
    try:
        stored = read_bucketed(spark, table)
        assert all(f"mh_{i}" in stored.columns for i in range(MINHASH_K))
        got = {
            r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(MINHASH_K))
            for r in stored.collect()
        }
        want = {
            r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(MINHASH_K))
            for r in stored.select("doc_id", *minhash_cols()).collect()
        }
        assert got == want
        # the stored columns feed the same LSH band join
        pairs_stored = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_candidate_pairs(stored).collect()
        }
        pairs_computed = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_candidate_pairs(
                stored.drop(*[f"mh_{i}" for i in range(MINHASH_K)])
            ).collect()
        }
        assert pairs_stored == pairs_computed
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def _py_dedup_lines(docs: dict[int, str]) -> dict[int, tuple[str, int, int]]:
    """Reference implementation: global first-occurrence keep on
    normalized lines, in (doc_id, pos) order."""
    seen: set[str] = set()
    out = {}
    for doc_id in sorted(docs):
        kept = []
        lines = docs[doc_id].split("\n")
        for line in lines:
            norm = line.strip().lower()
            if norm not in seen:
                seen.add(norm)
                kept.append(line)
        out[doc_id] = ("\n".join(kept), len(lines), len(kept))
    return out


def test_dedup_lines_matches_python_reference(spark):
    """Cross-document boilerplate (cookie banner, nav bar) survives only
    in its first-occurrence document; unique lines all survive; rebuilt
    text preserves original line order."""
    from simplex_mapreduce_spark.operators.dedup import dedup_lines

    docs = {
        1: "Welcome to Site A\nAccept our cookies\nunique article one",
        2: "Accept our cookies\nunique article two\nNav: home | about",
        3: "Nav: home | about\nAccept our cookies\nunique article three",
        4: "ACCEPT OUR COOKIES",  # normalization: case-insensitive dup -> empty doc
        5: "unique article one\nfresh final line",  # first line is a dup
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_lines_in"], r["n_lines_kept"])
        for r in dedup_lines(df).collect()
    }
    assert got == _py_dedup_lines(docs)
    assert got[4][0] == ""  # fully-boilerplate doc comes back empty, not dropped


def test_dedup_lines_no_window_in_plan(spark):
    """The keeper choice must be a partial-aggregated groupBy-min, not a
    per-line window — a window over partition-by-line has no map-side
    combine and a billion-occurrence boilerplate line would land on one
    reducer."""
    from simplex_mapreduce_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    plan = dedup_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_merge" in plan or "partial" in plan.lower()


def test_stored_shingle_table_rebuilds_on_corpus_change(spark, tmp_path):
    """The stored shingle table is keyed by the data directory's
    basename; the corpus fingerprint in its table properties must force
    a rebuild when the SAME directory gets different data (in-place
    regeneration — the scalegen factor-change hazard) instead of
    silently serving the old corpus's shingles."""
    import shutil

    from simplex_mapreduce_spark.operators.dedup import (
        _shingle_table_name,
        stored_shingle_sets,
    )

    d = tmp_path / "corpusA"
    d.mkdir()
    docs1 = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(8)],
        "doc_id long, text string",
    )
    docs1.write.parquet(str(d / "documents.parquet"))
    try:
        n1 = stored_shingle_sets(spark, str(d)).count()
        assert n1 == 8
        # regenerate the SAME directory with a different corpus
        shutil.rmtree(d / "documents.parquet")
        docs2 = spark.createDataFrame(
            [(i, "one two three four five six seven") for i in range(5)],
            "doc_id long, text string",
        )
        docs2.write.parquet(str(d / "documents.parquet"))
        assert stored_shingle_sets(spark, str(d)).count() == 5  # rebuilt
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {_shingle_table_name(str(d))}")


def test_keep_best_picks_highest_quality(spark):
    """keep_best_members must keep exactly one member per cluster — the
    max-quality one, SMALLEST id on ties — and the registered
    neardup_keep_best query must agree with neardup_clusters' grouping."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.operators.clusters import keep_best_members

    members = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.5)],
        "doc_id long, quality double",
    )
    out = {r["doc_id"]: r for r in keep_best_members(members, quality).collect()}
    kept = sorted(d for d, r in out.items() if r["is_kept"])
    # cluster 1: quality tie 2 vs 3 -> smaller doc_id (2) wins;
    # cluster 10: tie 10 vs 11 -> 10 wins
    assert kept == [2, 10]

    # the id column may be ANY orderable type (round-5 generalization:
    # only the quality score is negated in the struct-min tie-break):
    # same shape with STRING ids, including an unscored member that can
    # win only when no member has a score
    s_members = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1), ("x", 2), ("y", 2)],
        "doc_id string, cluster_id long",
    )
    s_quality = spark.createDataFrame(
        [("a", 0.1), ("b", 0.7), ("c", 0.7)], "doc_id string, quality double"
    )
    s_out = {
        r["doc_id"]: r for r in keep_best_members(s_members, s_quality).collect()
    }
    assert sorted(d for d, r in s_out.items() if r["is_kept"]) == ["b", "x"]
    assert s_out["y"]["quality"] is None  # unscored member retained, not kept

    from simplex_mapreduce_spark import registry
    from tests.conftest import SF_DIR

    rows = registry.QUERIES["neardup_keep_best"](spark, SF_DIR).collect()
    assert len(rows) > 0
    per_cluster: dict = {}
    for r in rows:
        per_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, rs in per_cluster.items():
        kept_rows = [r for r in rs if r["is_kept"]]
        assert len(kept_rows) == 1, cid
        assert kept_rows[0]["quality"] == max(r["quality"] for r in rs), cid


def test_incremental_shingle_append_matches_full_build(spark, tmp_path):
    """Incremental corpus growth: building the stored shingle table on
    half the corpus and APPENDING the other half must yield exactly the
    full build's jaccard pairs and MinHash candidates.  The delta is
    ordered under the ORIGINAL build's heavy-hitter map, so the two
    tables carry different ordered_ids internally (different hot maps)
    — PPJoin only needs each table's order to be self-consistent, and
    this pin is the proof."""
    import random

    from simplex_mapreduce_spark.operators.dedup import (
        append_to_shingle_table,
        build_shingle_table,
        jaccard_pairs_from_table,
        minhash_candidate_pairs,
    )
    from simplex_mapreduce_spark.sources.bucketing import read_bucketed

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(6, 25))))
        for i in range(40)
    ]
    # clones and near-dups STRADDLING the split point so cross-epoch
    # pairs exist (old doc vs appended doc)
    docs.append((100, docs[3][1]))                       # first half
    docs.append((101, docs[3][1]))                       # second half
    edited = docs[5][1].split()
    edited[0] = "edited"
    docs.append((102, " ".join(edited)))                 # second half
    half1, half2 = docs[:27], docs[27:]

    def write_docs(sub, name):
        d = str(tmp_path / name)
        spark.createDataFrame(
            sub, "doc_id long, text string"
        ).write.parquet(f"{d}/documents.parquet")
        return d

    full_dir = write_docs(docs, "full")
    inc_dir = write_docs(half1, "inc")
    t_full = build_shingle_table(spark, full_dir, table="shingle_drill_full")
    t_inc = build_shingle_table(spark, inc_dir, table="shingle_drill_inc")
    try:
        append_to_shingle_table(
            spark,
            spark.createDataFrame(half2, "doc_id long, text string"),
            t_inc,
        )
        assert (
            read_bucketed(spark, t_inc).count()
            == read_bucketed(spark, t_full).count()
        )
        pairs = lambda t: {  # noqa: E731
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in jaccard_pairs_from_table(spark, t).collect()
        }
        full_pairs, inc_pairs = pairs(t_full), pairs(t_inc)
        assert full_pairs, "no pairs planted?"
        assert inc_pairs == full_pairs
        # the clone pair (100, 101) straddles the epochs
        assert (100, 101) in inc_pairs and inc_pairs[(100, 101)] == 1.0
        mh = lambda t: {  # noqa: E731
            (r["doc_a"], r["doc_b"])
            for r in minhash_candidate_pairs(read_bucketed(spark, t)).collect()
        }
        assert mh(t_inc) == mh(t_full)
    finally:
        for t in (t_full, t_inc):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# ------------------------------------------------------------------ #
# Stored-table removal/upsert maintenance (round-9, VERDICT r8 item 3).
# ------------------------------------------------------------------ #


def _maint_corpus():
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(60)]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(8, 24))))
        for i in range(36)
    ]
    # clone pair whose FIRST member will be removed: the pair must
    # vanish from the maintained table's pair set
    docs.append((200, docs[2][1]))
    docs.append((201, docs[2][1]))
    # clone pair that survives untouched
    docs.append((210, docs[4][1]))
    docs.append((211, docs[4][1]))
    return docs


def test_bucket_id_expression_matches_physical_layout(spark, tmp_path):
    """compact_shingle_table_removals maps tombstoned ids to bucket
    FILES via pmod(hash(doc_id), n) — this pin proves that expression
    equals Spark's physical bucketBy placement (every row of every
    bucket file hashes to the file's name-embedded bucket id), so the
    compaction can never rewrite the wrong bucket or miss one."""
    import re

    from simplex_mapreduce_spark.operators.dedup import (
        SHINGLE_TABLE_BUCKETS,
        build_shingle_table_from_docs,
    )

    docs = spark.createDataFrame(
        _maint_corpus(), "doc_id long, text string"
    )
    t = "shingle_bucketpin"
    build_shingle_table_from_docs(spark, docs, t)
    try:
        loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:").rstrip("/")
        import os

        seen = 0
        for fn in os.listdir(f"{loc}/{t}"):
            m = re.search(r"_(\d{5})\.c\d+", fn)
            if not m or not fn.endswith(".parquet"):
                continue
            bucket = int(m.group(1))
            rows = (
                spark.read.parquet(f"{loc}/{t}/{fn}")
                .select(
                    F.pmod(
                        F.hash("doc_id"), F.lit(SHINGLE_TABLE_BUCKETS)
                    ).alias("b")
                )
                .distinct()
                .collect()
            )
            assert {r["b"] for r in rows} <= {bucket}, fn
            seen += 1
        assert seen > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_maintenance_matches_rebuild(spark, tmp_path):
    """The full diff->maintain->query pipeline on a corpus refresh with
    adds + removes + changes must be indistinguishable from rebuilding
    the table from the new corpus — including the VERDICT's headline
    case: removing one member of a clone pair makes that pair vanish
    from the maintained pair set."""
    from simplex_mapreduce_spark.operators.dedup import (
        apply_corpus_diff_to_shingle_table,
        build_shingle_table_from_docs,
        jaccard_pairs_from_table,
        minhash_candidate_pairs,
    )
    from simplex_mapreduce_spark.operators.versioning import corpus_diff
    from simplex_mapreduce_spark.sources.bucketing import read_bucketed

    docs = _maint_corpus()
    by_id = dict(docs)
    v2 = {i: t for i, t in docs if i not in (200, 7, 9)}  # removals
    v2[5] = by_id[5] + " freshly edited tokens"  # changed
    v2[300] = by_id[6]  # added clone of doc 6 -> NEW pair (6, 300)
    v2[301] = "entirely novel content words appear here only once"
    old_df = spark.createDataFrame(
        sorted(by_id.items()), "doc_id long, text string"
    )
    new_df = spark.createDataFrame(
        sorted(v2.items()), "doc_id long, text string"
    )
    t_maint = "shingle_maint_drill"
    t_rebuild = "shingle_maint_rebuild"
    build_shingle_table_from_docs(spark, old_df, t_maint)
    build_shingle_table_from_docs(spark, new_df, t_rebuild)
    try:
        diff = corpus_diff(old_df, new_df)
        stats = apply_corpus_diff_to_shingle_table(
            spark, diff, new_df, t_maint
        )
        assert stats["rows_removed"] == 4  # 3 removed + 1 changed
        assert stats["rows_appended"] == 3  # 1 changed + 2 added
        assert 1 <= stats["buckets_rewritten"] <= 16
        assert (
            read_bucketed(spark, t_maint).count()
            == read_bucketed(spark, t_rebuild).count()
        )
        pairs = lambda t: {  # noqa: E731
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in jaccard_pairs_from_table(spark, t).collect()
        }
        maint, rebuild = pairs(t_maint), pairs(t_rebuild)
        assert maint == rebuild
        assert (200, 201) not in maint  # removed clone's pair vanished
        assert maint.get((210, 211)) == 1.0  # untouched clone survives
        assert maint.get((6, 300)) == 1.0  # added clone's pair appears
        mh = lambda t: {  # noqa: E731
            (r["doc_a"], r["doc_b"])
            for r in minhash_candidate_pairs(
                read_bucketed(spark, t)
            ).collect()
        }
        assert mh(t_maint) == mh(t_rebuild)
    finally:
        for t in (t_maint, t_rebuild):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_maintenance_removals_only(spark):
    """A pure-takedown diff (no adds/changes) exercises the
    compaction-only path: no append runs, unaffected buckets' files
    are untouched on disk."""
    import os

    from simplex_mapreduce_spark.operators.dedup import (
        apply_corpus_diff_to_shingle_table,
        build_shingle_table_from_docs,
    )
    from simplex_mapreduce_spark.operators.versioning import corpus_diff
    from simplex_mapreduce_spark.sources.bucketing import read_bucketed

    docs = _maint_corpus()
    old_df = spark.createDataFrame(docs, "doc_id long, text string")
    new_df = old_df.filter(~F.col("doc_id").isin(1, 201))
    t = "shingle_maint_rm"
    build_shingle_table_from_docs(spark, old_df, t)
    try:
        loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:").rstrip("/")
        before = set(os.listdir(f"{loc}/{t}"))
        stats = apply_corpus_diff_to_shingle_table(
            spark, corpus_diff(old_df, new_df), new_df, t
        )
        assert stats["rows_appended"] == 0
        assert stats["rows_removed"] == 2
        after = set(os.listdir(f"{loc}/{t}"))
        # some original bucket files must have survived untouched
        assert before & after
        ids = {r["doc_id"] for r in read_bucketed(spark, t).collect()}
        assert 1 not in ids and 201 not in ids
        assert len(ids) == len(docs) - 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_winnow_maintenance_matches_rebuild(spark):
    """Round-10 (VERDICT r9 item 2): the winnow fingerprint table's
    diff->compact->append refresh must be indistinguishable from a
    rebuild — and for winnow the claim is STRONGER than pair-set
    equality: per-doc fingerprints carry no cross-corpus state, so the
    maintained table's ROWS must equal the rebuilt table's rows
    exactly."""
    from simplex_mapreduce_spark.operators.text import (
        apply_corpus_diff_to_winnow_table,
        build_winnow_table_from_docs,
        winnow_pairs_from_table,
    )
    from simplex_mapreduce_spark.operators.versioning import corpus_diff
    from simplex_mapreduce_spark.sources.bucketing import read_bucketed

    docs = _maint_corpus()
    by_id = dict(docs)
    v2 = {i: t for i, t in docs if i not in (200, 7, 9)}  # removals
    v2[5] = by_id[5] + " freshly edited tokens"  # changed
    v2[300] = by_id[6]  # added clone of doc 6
    v2[301] = "entirely novel content words appear here only once"
    old_df = spark.createDataFrame(
        sorted(by_id.items()), "doc_id long, text string"
    )
    new_df = spark.createDataFrame(
        sorted(v2.items()), "doc_id long, text string"
    )
    t_maint = "winnow_maint_drill"
    t_rebuild = "winnow_maint_rebuild"
    for t in (t_maint, t_rebuild):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    build_winnow_table_from_docs(spark, old_df, t_maint)
    build_winnow_table_from_docs(spark, new_df, t_rebuild)
    try:
        stats = apply_corpus_diff_to_winnow_table(
            spark, corpus_diff(old_df, new_df), new_df, t_maint
        )
        assert stats["rows_removed"] == 4  # 3 removed + 1 changed
        assert stats["docs_appended"] == 3  # 1 changed + 2 added
        rows = lambda t: sorted(  # noqa: E731
            (r["doc_id"], r["dg"], tuple(r["fps"]), r["n_fp"])
            for r in read_bucketed(spark, t).collect()
        )
        assert rows(t_maint) == rows(t_rebuild)
        pairs = lambda t: sorted(  # noqa: E731
            map(tuple, winnow_pairs_from_table(spark, t).collect())
        )
        maint = pairs(t_maint)
        assert maint == pairs(t_rebuild)
        # the added clone of doc 6 shares its FULL fingerprint set
        assert any(a == 6 and b == 300 for a, b, *_ in maint)
        # the removed clone's within pair is gone
        assert not any({a, b} == {200, 201} for a, b, *_ in maint)
    finally:
        for t in (t_maint, t_rebuild):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivf_maintenance_matches_rebuild(spark):
    """Round-10 (VERDICT r9 item 2): the IVF index's refresh — cell-
    targeted bucket compaction (tombstones arrive by vec_id, buckets
    are keyed by cell_id, targeting goes through centroid re-assign)
    plus original-centroid append — must reproduce the rebuilt index
    row for row, and the probed top-k must match."""
    import math

    import pytest

    from simplex_mapreduce_spark.operators.similarity import (
        IVF_CELLS,
        _centroid_cells,
        _maintained_vectors,
        _nearest_cell_expr,
        _vector_diff,
        apply_vector_diff_to_ivf_index,
        compact_ivf_index_removals,
        ivf_topk_from_table,
    )
    from simplex_mapreduce_spark.sources.bucketing import (
        read_bucketed,
        write_bucketed,
    )

    dim = 8
    vecs = [
        (i, [math.sin(0.7 * i + 0.3 * j) for j in range(dim)])
        for i in range(120)
    ]
    old = spark.createDataFrame(vecs, "vec_id long, e array<double>")
    new = _maintained_vectors(old)

    def build(v, table):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        assigned = v.crossJoin(F.broadcast(_centroid_cells(v))).select(
            "vec_id", "e", _nearest_cell_expr().alias("cell_id")
        )
        write_bucketed(
            assigned, table, "cell_id", n_buckets=IVF_CELLS,
            sort_key="vec_id",
        )

    t_maint, t_rebuild = "ivf_maint_drill", "ivf_maint_rebuild"
    build(old, t_maint)
    build(new, t_rebuild)
    try:
        stats = apply_vector_diff_to_ivf_index(
            spark, _vector_diff(old, new), old, new, t_maint
        )
        n_rm = len([i for i in range(IVF_CELLS, 120) if i % 13 == 5])
        n_ch = len([i for i in range(IVF_CELLS, 120) if i % 13 == 7])
        n_ad = len([i for i in range(IVF_CELLS, 120) if i % 13 == 9])
        assert stats["rows_removed"] == n_rm + n_ch
        assert stats["vectors_appended"] == n_ch + n_ad
        rows = lambda t: sorted(  # noqa: E731
            (r["vec_id"], r["cell_id"], tuple(r["e"]))
            for r in read_bucketed(spark, t).collect()
        )
        assert rows(t_maint) == rows(t_rebuild)
        topk = lambda t: [  # noqa: E731
            tuple(r) for r in ivf_topk_from_table(spark, t).collect()
        ]
        assert topk(t_maint) == topk(t_rebuild)
        # tombstoning a centroid-source vector is refused, not absorbed
        with pytest.raises(ValueError, match="centroid"):
            compact_ivf_index_removals(
                spark, old.filter(F.col("vec_id") == 3), t_maint
            )
    finally:
        for t in (t_maint, t_rebuild):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# ------------------------------------------------------------------ #
# decontaminate_spans (round-8): span-level benchmark surgery.
# ------------------------------------------------------------------ #


def test_decontaminate_spans_planted_leak(spark):
    """Plant a 13-gram leak from an eval doc into the middle of a train
    doc (doc_ids chosen so the md5 split buckets them train/eval) and
    check exactly the leaked window is cut, innocents untouched."""
    import hashlib
    import tempfile

    from simplex_mapreduce_spark.operators.clusters import (
        CONTAM_NGRAM,
        decontaminate_spans,
    )

    def bucket(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:6], 16) % 100

    train_ids = [i for i in range(200) if bucket(i) < 90]
    eval_ids = [i for i in range(200) if bucket(i) >= 95]
    assert train_ids and eval_ids
    leak = " ".join(f"L{i}" for i in range(CONTAM_NGRAM))
    t_leaky, t_clean = train_ids[0], train_ids[1]
    e_id = eval_ids[0]
    pre = " ".join(f"a{i}" for i in range(5))
    post = " ".join(f"b{i}" for i in range(5))
    rows = [
        (t_leaky, f"{pre} {leak} {post}"),
        (t_clean, " ".join(f"c{i}" for i in range(20))),
        (e_id, f"intro words {leak} outro words"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.parquet(f"{d}/documents.parquet")
        got = {
            r["doc_id"]: r for r in decontaminate_spans(spark, d).collect()
        }
    # only train docs appear
    assert set(got) == {t_leaky, t_clean}
    leaky = got[t_leaky]
    assert leaky["n_tokens"] == 5 + CONTAM_NGRAM + 5
    assert leaky["n_removed"] == CONTAM_NGRAM
    assert leaky["clean_text"] == f"{pre} {post}"
    clean = got[t_clean]
    assert clean["n_removed"] == 0
    assert clean["clean_text"] == rows[1][1]


def test_decontaminate_overlapping_leaks_merge(spark):
    """Two overlapping leaked grams merge into one maximal cut (the
    gaps-and-islands path), removing the union of covered tokens."""
    import hashlib
    import tempfile

    from simplex_mapreduce_spark.operators.clusters import (
        CONTAM_NGRAM,
        decontaminate_spans,
    )

    def bucket(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:6], 16) % 100

    train_ids = [i for i in range(200) if bucket(i) < 90]
    eval_ids = [i for i in range(200) if bucket(i) >= 95]
    # train doc: w0..w19; eval docs leak w0..w12 and w5..w17 — union
    # covers w0..w17, leaving w18 w19
    words = [f"w{i}" for i in range(20)]
    g1 = " ".join(words[0:CONTAM_NGRAM])
    g2 = " ".join(words[5:5 + CONTAM_NGRAM])
    rows = [
        (train_ids[0], " ".join(words)),
        (eval_ids[0], f"pad {g1} pad"),
        (eval_ids[1], f"pad {g2} pad"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.parquet(f"{d}/documents.parquet")
        got = {
            r["doc_id"]: r for r in decontaminate_spans(spark, d).collect()
        }
    r = got[train_ids[0]]
    assert r["n_removed"] == 18
    assert r["clean_text"] == "w18 w19"


def test_split_leakage_reports_planted_cross_split_mirror(spark):
    """A near-identical doc pair planted across the split boundary is
    reported with the right split labels; a same-split mirror pair is
    not."""
    from unittest import mock

    import simplex_mapreduce_spark.operators.dedup as dedup_mod
    from simplex_mapreduce_spark.operators.dedup import split_leakage_report

    # md5-bucket split of small ints (engine convention): pick ids on
    # both sides of the boundary
    import hashlib

    def split_of(i):
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16) % 100
        return "train" if b < 90 else ("val" if b < 95 else "test")

    ids = list(range(200))
    train_ids = [i for i in ids if split_of(i) == "train"]
    eval_ids = [i for i in ids if split_of(i) != "train"]
    assert train_ids and eval_ids
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (train_ids[0], base),                    # mirror in train ...
        (eval_ids[0], base),                     # ... leaks into eval
        (train_ids[1], base + " extra"),         # near-dup of both
        (train_ids[2], "totally different words here nothing shared"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with mock.patch.object(
        dedup_mod, "stored_shingle_sets",
        lambda spark, sf_dir: dedup_mod.shingle_sets(docs=df),
    ), mock.patch.object(dedup_mod, "load_table", lambda *a, **k: df):
        out = split_leakage_report(spark, "unused").collect()
    pairs = {(r["doc_a"], r["doc_b"]): (r["split_a"], r["split_b"], r["jaccard"])
             for r in out}
    leak = (min(train_ids[0], eval_ids[0]), max(train_ids[0], eval_ids[0]))
    assert leak in pairs
    assert set(pairs[leak][:2]) == {"train", split_of(eval_ids[0])}
    assert pairs[leak][2] == 1.0
    # the train-train near-dup pair must NOT appear (same split)
    same = (min(train_ids[0], train_ids[1]), max(train_ids[0], train_ids[1]))
    assert same not in pairs
    # every reported pair crosses the boundary
    assert all(a != b for a, b, _ in pairs.values())


def test_group_sidecars_lifecycle(spark, tmp_path):
    """Round-10 mirror-group sidecars: written at build, byte-equal to
    the inline recompute, DROPPED by both mutation paths (append /
    compaction) so a stale sidecar can never serve wrong groups, and
    restorable via refresh_group_sidecars with unchanged output."""
    import random

    from simplex_mapreduce_spark.operators import dedup as D

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(6, 20))))
        for i in range(30)
    ]
    docs += [(200, docs[2][1]), (201, docs[2][1])]  # a mirror group
    ddir = str(tmp_path / "corpus")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{ddir}/documents.parquet"
    )
    t = D.build_shingle_table(spark, ddir, table="shingle_sidecar_drill")
    try:
        for kind in ("dg", "sg"):
            assert D._stored_groups(spark, t, kind, D.MIRROR_GROUP_CAP) is not None
        # a non-default cap must NOT use the sidecar
        assert D._stored_groups(spark, t, "dg", 3) is None

        pairs = lambda: {  # noqa: E731
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.jaccard_pairs_from_table(spark, t).collect()
        }
        cands = lambda: {  # noqa: E731
            (r["doc_a"], r["doc_b"])
            for r in D.minhash_pairs_from_table(spark, t).collect()
        }
        from simplex_mapreduce_spark.sources.bucketing import read_bucketed

        sets = read_bucketed(spark, t)
        with_sidecar_p, with_sidecar_c = pairs(), cands()
        assert with_sidecar_p == {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(sets).collect()
        }
        assert with_sidecar_c == {
            (r["doc_a"], r["doc_b"])
            for r in D.minhash_candidate_pairs(sets).collect()
        }
        assert (200, 201) in with_sidecar_p  # the planted mirror pair

        # append invalidates ...
        D.append_to_shingle_table(
            spark,
            spark.createDataFrame(
                [(300, docs[2][1])], "doc_id long, text string"
            ),
            t,
        )
        assert D._stored_groups(spark, t, "dg", D.MIRROR_GROUP_CAP) is None
        # ... and the fallback path sees the new member immediately
        post_append = pairs()
        assert (201, 300) in post_append and post_append[(201, 300)] == 1.0

        # refresh restores the fast path with identical output
        D.refresh_group_sidecars(spark, t)
        assert D._stored_groups(spark, t, "dg", D.MIRROR_GROUP_CAP) is not None
        assert pairs() == post_append

        # compaction invalidates too
        gone = spark.createDataFrame([(300,)], "doc_id long")
        D.compact_shingle_table_removals(spark, gone, t)
        assert D._stored_groups(spark, t, "dg", D.MIRROR_GROUP_CAP) is None
        assert pairs() == with_sidecar_p  # back to the pre-append set
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_group_sidecar_crash_drill_stale_rejected(spark, tmp_path):
    """Round-11 crash drill (VERDICT r10 item 2): simulate the OLD
    failure mode — the table mutation commits but the sidecar drop
    never runs (a kill between the two) — by no-opping
    _drop_group_sidecars around an append.  The leftover sidecar is
    PRE-mutation state; the epoch stamp must reject it and the pair
    query must return the correct POST-append pair set via the inline
    fallback.  Also drills the orphan case (round-10 advisory): an
    out-of-band same-named rebuild must invalidate surviving sidecars."""
    import random
    from unittest import mock

    from simplex_mapreduce_spark.operators import dedup as D
    from simplex_mapreduce_spark.sources.bucketing import write_bucketed

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(6, 20))))
        for i in range(30)
    ]
    docs += [(200, docs[2][1]), (201, docs[2][1])]  # a mirror group
    ddir = str(tmp_path / "corpus")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{ddir}/documents.parquet"
    )
    t = D.build_shingle_table(spark, ddir, table="shingle_crash_drill")
    try:
        assert D._stored_groups(spark, t, "dg", D.MIRROR_GROUP_CAP) is not None

        # planted crash: the drop call is swallowed, the sidecar files
        # survive the append on disk
        with mock.patch.object(D, "_drop_group_sidecars", lambda *a: None):
            D.append_to_shingle_table(
                spark,
                spark.createDataFrame(
                    [(300, docs[2][1])], "doc_id long, text string"
                ),
                t,
            )
        # the stale sidecar parquet still exists ...
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(D._groups_path(spark, t, "dg"))
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        assert fs.exists(p)
        # ... but the epoch stamp no longer validates
        assert D._stored_groups(spark, t, "dg", D.MIRROR_GROUP_CAP) is None
        assert D._stored_groups(spark, t, "sg", D.MIRROR_GROUP_CAP) is None
        # and the pair queries see the appended doc's mirror pairs
        post = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.jaccard_pairs_from_table(spark, t).collect()
        }
        assert (201, 300) in post and post[(201, 300)] == 1.0
        assert (200, 300) in post
        cands = {
            (r["doc_a"], r["doc_b"])
            for r in D.minhash_pairs_from_table(spark, t).collect()
        }
        assert (201, 300) in cands

        # orphan drill: refresh the sidecars, then rebuild the table
        # OUT OF BAND (plain write_bucketed, no sidecar management) —
        # the surviving sidecar must stop validating because the
        # rebuild bumped the table epoch
        D.refresh_group_sidecars(spark, t)
        assert D._stored_groups(spark, t, "dg", D.MIRROR_GROUP_CAP) is not None
        from simplex_mapreduce_spark.sources.bucketing import read_bucketed

        rows = (
            read_bucketed(spark, t).filter("doc_id <> 300").localCheckpoint()
        )
        write_bucketed(
            rows, t, "doc_id",
            n_buckets=D.SHINGLE_TABLE_BUCKETS, sort_key="doc_id",
        )
        assert D._stored_groups(spark, t, "dg", D.MIRROR_GROUP_CAP) is None
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_posting_list_candidates_equal_selfjoin(spark):
    """Round-12 A/B pin (VERDICT r11 item 1): the posting-list
    candidate generator (the measured — and rejected — alternative)
    must emit EXACTLY the candidate set (including na/nb payloads) of
    the shipped exploded self-join, on a corpus mixing mirrors,
    near-dups, a hot shared shingle, and size outliers — the shapes
    that exercise the size filter, the positional filter, and the
    suffix-slice pair expansion.  This equality is what makes the
    u1000 spill A/B (scale_bench --ppjoin-spill) attributable to plan
    shape alone."""
    from simplex_mapreduce_spark.operators.dedup import (
        _prefix_candidates_posting,
        prefix_candidates,
    )

    docs = [(i, f"alpha beta gamma delta epsilon u{i}") for i in range(6)]
    docs += [(100 + i, "one two three four five six seven") for i in range(4)]
    docs += [(200 + i, f"hot hot hot x{i}a x{i}b x{i}c") for i in range(10)]
    docs.append((300, "one two three four five six seven eight nine ten "
                      "eleven twelve thirteen fourteen"))
    docs.append((301, "solo"))
    sets = shingle_sets(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    for t in (0.5, 0.8):
        new = {
            tuple(r)
            for r in _prefix_candidates_posting(sets, threshold=t).collect()
        }
        old = {
            tuple(r) for r in prefix_candidates(sets, threshold=t).collect()
        }
        assert new == old, (
            f"t={t}: only_posting={new - old} only_selfjoin={old - new}"
        )
        assert len(new) > 0
    sets.unpersist()


def test_stored_pair_plans_follow_every_mutation(spark, tmp_path):
    """The stored near-dup pair plan is analyzed once per table epoch
    (dedup._stored_pairs).  A warm call reuses it through a fresh
    QueryExecution; each mutation of the table or its sidecar (drop,
    same-epoch refresh, bucket compaction, append, full rebuild)
    yields a freshly built plan whose output matches an uncached build
    over the mutated table; and a plan of another application (a
    stopped session) is dropped, never served."""
    import random
    from unittest import mock

    from simplex_mapreduce_spark.operators import dedup as D

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(6, 20))))
        for i in range(30)
    ]
    docs += [(200, docs[2][1]), (201, docs[2][1])]  # a mirror group
    ddir = str(tmp_path / "corpus")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{ddir}/documents.parquet"
    )
    t = D._shingle_table_name(ddir)
    builds = mock.Mock(wraps=D.ngram_jaccard_pairs)

    def stored():
        """(pairs, whether the plan was built rather than reused)"""
        n = builds.call_count
        rows = D.stored_jaccard_pairs(spark, ddir).collect()
        return {(r.doc_a, r.doc_b): r.jaccard for r in rows}, builds.call_count > n

    def uncached():
        rows = D.jaccard_pairs_from_table(spark, t).collect()
        return {(r.doc_a, r.doc_b): r.jaccard for r in rows}

    def after(mutation):
        mutation()
        got, built = stored()
        assert built
        assert got == uncached()
        return got

    try:
        with mock.patch.object(D, "ngram_jaccard_pairs", builds):
            first, built = stored()
            assert built and (200, 201) in first
            assert stored() == (first, False)
            a = D.stored_jaccard_pairs(spark, ddir)._jdf.queryExecution()
            b = D.stored_jaccard_pairs(spark, ddir)._jdf.queryExecution()
            assert a != b  # Java identity: QueryExecution has no equals

            app = spark.sparkContext.applicationId
            D._PAIR_PLANS[("local-stopped", t, "dg")] = D._PAIR_PLANS.pop(
                (app, t, "dg")
            )
            assert stored() == (first, True)
            assert ("local-stopped", t, "dg") not in D._PAIR_PLANS

            assert after(lambda: D._drop_group_sidecars(spark, t)) == first
            assert after(lambda: D.refresh_group_sidecars(spark, t)) == first
            # same epoch, same stamp, rewritten sidecar files
            assert after(lambda: D.refresh_group_sidecars(spark, t)) == first
            gone = spark.createDataFrame([(201,)], "doc_id long")
            compacted = after(
                lambda: D.compact_shingle_table_removals(spark, gone, t)
            )
            assert (200, 201) not in compacted and compacted != first
            # an append poisons the ingest fingerprint: the next call
            # rebuilds the table from the corpus directory
            extra = spark.createDataFrame(
                [(300, docs[2][1])], "doc_id long, text string"
            )
            assert after(lambda: D.append_to_shingle_table(spark, extra, t)) == first
            assert after(lambda: D.build_shingle_table(spark, ddir, t)) == first
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_unlicensed_sets_never_get_a_pair_plan(spark):
    """A patched ``stored_shingle_sets`` returns a frame without the
    table license: both pair queries then recompute their groups
    inline and leave no entry in the plan cache."""
    from unittest import mock

    from simplex_mapreduce_spark.operators import dedup as D

    docs = _docs(spark)
    before = set(D._PAIR_PLANS)
    with mock.patch.object(
        D, "stored_shingle_sets", lambda spark, sf_dir: D.shingle_sets(docs=docs)
    ):
        jac = D.stored_jaccard_pairs(spark, "unused")
        lsh = D.stored_minhash_pairs(spark, "unused")
    assert set(D._PAIR_PLANS) == before
    assert (1, 4) in {(r.doc_a, r.doc_b) for r in jac.collect()}
    assert (1, 4) in {(r.doc_a, r.doc_b) for r in lsh.collect()}
