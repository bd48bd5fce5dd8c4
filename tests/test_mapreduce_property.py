"""Property-based parity: MapReduceJob word count vs a plain-Python
reference (collections.Counter) on arbitrary token streams — the
generalization of the reference's fixed golden test (test_test.go:81-119)."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from simplex_mapreduce_spark.mapreduce import (
    MapReduceJob,
    word_count_map,
    word_count_reduce,
)

tokens = st.lists(
    st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
        min_size=1,
        max_size=8,
    ),
    min_size=0,
    max_size=200,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tokens)
def test_wordcount_matches_counter(spark, tmp_path_factory, toks):
    p = tmp_path_factory.mktemp("prop") / "in.txt"
    # arbitrary line structure: ~5 tokens per line
    lines = [" ".join(toks[i : i + 5]) for i in range(0, len(toks), 5)]
    p.write_text("\n".join(lines) + "\n")
    job = MapReduceJob(word_count_map, word_count_reduce, 3, 2)
    rows = job.run(spark, str(p)).collect()
    got = {r["key"]: int(r["value"]) for r in rows}
    expected = dict(Counter(toks))
    assert got == expected
    # output keys are lexicographically sorted (sort.Strings semantics)
    keys = [r["key"] for r in rows]
    assert keys == sorted(keys)
