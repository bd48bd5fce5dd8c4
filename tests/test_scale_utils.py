"""Scale-posture utilities: salted joins return identical results;
bucketed joins eliminate the exchange; the applyInPandas custom
operator agrees with the built-in regression aggregate."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from simplex_mapreduce_spark.functions.skew import salted_join
from simplex_mapreduce_spark.operators.custom import customer_spend_trend_df
from simplex_mapreduce_spark.plans.explain import simple_plan
from simplex_mapreduce_spark.sources.bucketing import read_bucketed, write_bucketed
from simplex_mapreduce_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_salted_join_matches_plain_join(spark):
    o = load_table(spark, SF_DIR, "orders", convert_ts=False).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_name")
    plain = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_custkey", "c_name"
    )
    salted = salted_join(o, c, "o_custkey", "c_custkey", salt=4).select(
        "o_orderkey", "c_custkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "zz")], "k long, v string")
    right = spark.createDataFrame([(1, "x"), (2, "y")], "rk long, rv string")
    out = salted_join(left, right, "k", "rk", salt=4, how="left").collect()
    assert len(out) == 3
    assert {r["v"]: r["rv"] for r in out}["zz"] is None


def test_salted_join_rejects_dim_preserving_modes(spark):
    import pytest

    left = spark.createDataFrame([(1, "a")], "k long, v string")
    right = spark.createDataFrame([(1, "x")], "rk long, rv string")
    for how in ("right", "full_outer", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(left, right, "k", "rk", salt=4, how=how)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = load_table(spark, SF_DIR, "orders", convert_ts=False).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        li = load_table(spark, SF_DIR, "lineitem", convert_ts=False).select(
            "l_orderkey", "l_quantity"
        )
        write_bucketed(o, "orders_b", "o_orderkey", 8)
        write_bucketed(li, "lineitem_b", "l_orderkey", 8)
        ob, lb = read_bucketed(spark, "orders_b"), read_bucketed(spark, "lineitem_b")
        j = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        plan = simple_plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() == o.join(li, o.o_orderkey == li.l_orderkey).count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_broadcast_if_small_applies_hint_only_under_bound(spark):
    """The probe-guarded broadcast (functions/scale.py): a frame under
    the row bound gets the hint, one over it does not (AQE decides), and
    join results are identical either way."""
    from simplex_mapreduce_spark.functions.scale import broadcast_if_small
    from simplex_mapreduce_spark.plans.explain import broadcast_hint_count

    small = spark.range(100).withColumnRenamed("id", "k")
    big = spark.range(5000).withColumnRenamed("id", "k")
    assert broadcast_hint_count(broadcast_if_small(small, max_rows=1000)) == 1
    assert broadcast_hint_count(broadcast_if_small(big, max_rows=1000)) == 0

    fact = spark.range(2000).withColumnRenamed("id", "fk")
    guarded = fact.join(
        broadcast_if_small(small, max_rows=1000), F.col("fk") == F.col("k")
    )
    plain = fact.join(small, F.col("fk") == F.col("k"))
    assert sorted(map(tuple, guarded.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_custom_trend_matches_builtin_regr_slope(spark):
    o = load_table(spark, SF_DIR, "orders")
    custom = customer_spend_trend_df(o).toPandas().set_index("o_custkey")
    x = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).cast("double")
    builtin = (
        o.groupBy("o_custkey")
        .agg(F.regr_slope(F.col("o_totalprice"), x).alias("slope"))
        .toPandas()
        .set_index("o_custkey")
    )
    joined = custom.join(builtin, how="inner")
    assert len(joined) == len(custom)
    both = joined.dropna(subset=["spend_trend", "slope"])
    assert (
        (pd.Series(both["spend_trend"]) - pd.Series(both["slope"])).abs() < 1e-3
    ).all()


def test_clean_corpus_observed_metrics(spark):
    """Observation metrics must report per-stage row counts from the ONE
    pipeline action — input = corpus size, deduped = distinct hashes,
    output = the returned row count — with no extra counting jobs."""
    from simplex_mapreduce_spark.operators.text import clean_corpus_with_metrics
    from simplex_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    df, obs = clean_corpus_with_metrics(spark, SF_DIR)
    out_rows = df.count()  # the single action that also fills the metrics

    n_input = load_table(spark, SF_DIR, "documents").count()
    from pyspark.sql import functions as F

    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    n_distinct = (
        load_table(spark, SF_DIR, "documents")
        .select(F.md5(norm).alias("h"))
        .distinct()
        .count()
    )
    assert obs["input"].get["n"] == n_input
    assert obs["deduped"].get["n"] == n_distinct
    assert obs["output"].get["n"] == out_rows > 0


def test_key_skew_report_quantifies_hot_key(spark):
    """A planted 80%-hot key must surface as top-1 with the right count,
    fraction and skew ratio; totals must be exact."""
    from simplex_mapreduce_spark.functions.skew import key_skew_report

    rows = [(7, i) for i in range(800)] + [(k, 0) for k in range(100, 300)]
    df = spark.createDataFrame(rows, "k long, v long")
    rep = key_skew_report(df, "k", k=5)
    assert rep.total_rows == 1000
    assert rep.n_keys == 201
    assert rep.max_key_rows == 800
    top = rep.top[0]
    assert top["key_value"] == "7" and top["n"] == 800
    assert abs(top["frac_of_total"] - 0.8) < 1e-9
    # mean rows/key = 1000/201 ≈ 4.975 → ratio ≈ 160.8
    assert abs(rep.max_skew_ratio - 800 / (1000 / 201)) < 1e-6
    assert top["skew_ratio"] == round(800 / (1000 / 201), 2)
    # remaining slots are the singleton keys, tie-broken by key value
    assert [r["n"] for r in rep.top[1:]] == [1, 1, 1, 1]


def test_key_skew_report_empty_frame(spark):
    from simplex_mapreduce_spark.functions.skew import key_skew_report

    df = spark.createDataFrame([], "k long, v long")
    rep = key_skew_report(df, "k")
    assert rep.total_rows == 0 and rep.n_keys == 0 and rep.top == []
    assert rep.max_skew_ratio == 0.0


def test_redact_pii_patterns(spark):
    """Each PII class redacts to its typed token, JVM-side (no Python in
    the plan), and clean text passes through byte-identical."""
    from simplex_mapreduce_spark.functions.textfn import redact_pii

    cases = [
        ("mail me at john.doe+spam@example.co.uk today", "mail me at <EMAIL> today"),
        ("see https://example.com/a?b=1#c for docs", "see <URL> for docs"),
        ("host is 192.168.001.1 ok", "host is <IP> ok"),
        ("ssn 123-45-6789 on file", "ssn <SSN> on file"),
        ("call (555) 867-5309 now", "call <PHONE> now"),
        ("card 4111 1111 1111 1111 declined", "card <CCNUM> declined"),
        ("no pii here, just 42 words", "no pii here, just 42 words"),
        # URL containing an IP collapses to one <URL>, not <URL><IP>
        ("http://10.0.0.1/admin", "<URL>"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    got = [r["red"] for r in df.select(redact_pii("text").alias("red")).collect()]
    assert got == [want for _, want in cases]
    plan = df.select(redact_pii("text").alias("red"))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_redact_pii_matches_duckdb(spark):
    """PII_PATTERNS are written to the Java-regex/RE2 common subset (no
    backreferences, no lookaround) so the same redaction can run in a
    SQL engine; pin that claim: chained regexp_replace in DuckDB yields
    byte-identical output on PII-dense text."""
    import duckdb

    from simplex_mapreduce_spark.functions.textfn import PII_PATTERNS, redact_pii

    texts = [
        "contact a.b-c_d%x@sub.example.io or +1 (212) 555-0187 asap",
        "posted from 203.0.113.9 see https://ex.org/p?q=1 ssn 987-65-4320",
        "cards: 4012 8888 8888 1881 and 5105-1051-0510-5100.",
        "edge: notanemail@nope, 999.999.999.999, 12-34, tel 555 123 4567",
        "clean line with no sensitive content at all",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    spark_out = [
        r["red"] for r in df.select(redact_pii("text").alias("red")).collect()
    ]

    expr = "text"
    for pat, token in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    duck_out = [
        r[0]
        for r in duckdb.connect()
        .execute(
            f"SELECT {expr} AS red FROM (SELECT unnest(?) AS text)", [texts]
        )
        .fetchall()
    ]
    assert spark_out == duck_out


def test_ingest_table_reattaches_across_sessions(tmp_path):
    """The at-ingest derived tables must be built once per ENVIRONMENT,
    not once per session: a second Spark application finding the
    warehouse data + matching fingerprint sidecar re-registers the
    bucketed table (CREATE TABLE ... LOCATION) without rewriting a
    byte.  Run in subprocesses so each gets a genuinely fresh
    session-scoped catalog, with cwd-isolated warehouses."""
    import json
    import os
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import glob, json, os, sys, time
        sys.path.insert(0, %r)
        from simplex_mapreduce_spark import get_spark
        from simplex_mapreduce_spark.operators.dedup import (
            ensure_dedup_ingest, _shingle_table_name)
        spark = get_spark("reattach-drill")
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        ensure_dedup_ingest(spark, "/root/testdata/sf0.001")
        wall = time.perf_counter() - t0
        files = sorted(
            (os.path.basename(f), os.path.getmtime(f))
            for f in glob.glob("spark-warehouse/shingle_sets_sf0_001/*.parquet")
        )
        n = spark.table(_shingle_table_name("/root/testdata/sf0.001")).count()
        print("RESULT" + json.dumps({"wall": wall, "files": files, "rows": n}))
        spark.stop()
        """
    ) % os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run():
        out = subprocess.run(
            [sys.executable, "-c", script],
            cwd=tmp_path,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        line = [l for l in out.stdout.splitlines() if l.startswith("RESULT")][0]
        return json.loads(line[len("RESULT"):])

    first, second = run(), run()
    assert first["rows"] == second["rows"] > 0
    # the data files were NOT rewritten (same names and mtimes) ...
    assert first["files"] == second["files"]
    # ... and the second session skipped the build entirely
    assert second["wall"] < first["wall"] / 2


def test_unique_corpus_has_disjoint_token_spaces(spark, tmp_path):
    """scalegen unique mode (round-9): replicas must share ZERO tokens
    (cross-replica similarity exactly zero), so pair-generation probes
    on it measure engine cost with bounded near-dup clusters."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.sources.scalegen import ensure_unique

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "alpha beta gamma", "en", "web"),
         (2, "delta epsilon zeta", "en", "web")],
        "doc_id long, text string, lang string, source string",
    ).write.parquet(f"{src}/documents.parquet")
    out = ensure_unique(spark, src, str(tmp_path / "u"), replicate=3, tag="r")
    d = spark.read.parquet(f"{out}/documents.parquet")
    assert d.count() == 6
    toks = d.select(
        (F.col("doc_id") / 10).cast("int").alias("replica"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    # every token belongs to exactly one replica
    multi = (
        toks.groupBy("tok")
        .agg(F.count_distinct("replica").alias("nr"))
        .filter(F.col("nr") > 1)
        .count()
    )
    assert multi == 0
    # layering keeps spaces disjoint
    out2 = ensure_unique(
        spark, out, str(tmp_path / "u2"), replicate=2, tag="s"
    )
    d2 = spark.read.parquet(f"{out2}/documents.parquet")
    assert d2.count() == 12
    assert d2.select("doc_id").distinct().count() == 12


def test_repetition_corpus_preserves_residues_and_mirrors(spark, tmp_path):
    """scalegen repetition mode (round-9): planting happens BEFORE
    replication, so replicas are byte-identical mirrors and the
    doc_id % rep_mod residue marks planted docs at every replica
    (the stride is a power of ten, rep_mod divides it)."""
    from pyspark.sql import functions as F

    from simplex_mapreduce_spark.sources.scalegen import ensure_repetition

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"tok{i}a tok{i}b tok{i}c tok{i}d", "en", "web")
         for i in range(1, 11)],
        "doc_id long, text string, lang string, source string",
    ).write.parquet(f"{src}/documents.parquet")
    out = ensure_repetition(
        spark, src, str(tmp_path / "rep"), replicate=3, rep_mod=5
    )
    d = spark.read.parquet(f"{out}/documents.parquet").collect()
    by_id = {r["doc_id"]: r["text"] for r in d}
    assert len(by_id) == 30
    stride = 100
    for i in range(1, 11):
        # replicas byte-identical to their source row
        assert by_id[i] == by_id[i + stride] == by_id[i + 2 * stride]
        planted = i % 5 == 0
        # planted docs repeat their opening tokens; clean docs don't
        assert (by_id[i].count(f"tok{i}a") >= 4) == planted


def test_session_sized_to_the_box(spark, monkeypatch):
    """The driver heap defaults to ~60% of MemTotal rather than a fixed
    16g the box may not have; an explicit SPARK_DRIVER_MEMORY or
    extra_conf still wins; shuffle partitions follow the core count."""
    from simplex_mapreduce_spark.session import default_driver_memory, session_conf

    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    assert abs(int(default_driver_memory().removesuffix("m")) - kb * 0.6 / 1024) <= 1

    # the suite's own session was built from the same defaults
    sc_conf = spark.sparkContext.getConf()
    heap = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    assert sc_conf.get("spark.driver.memory") == heap
    cores = spark.sparkContext.defaultParallelism
    assert sc_conf.get("spark.sql.shuffle.partitions") == str(cores)

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    conf = session_conf("4")
    assert conf["spark.driver.memory"] == default_driver_memory()
    assert conf["spark.sql.shuffle.partitions"] == "4"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session_conf("4")["spark.driver.memory"] == "3g"
    extra = {"spark.driver.memory": "2g"}
    assert session_conf("4", extra_conf=extra)["spark.driver.memory"] == "2g"
