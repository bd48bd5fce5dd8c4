"""The per-process parquet schema cache (``sources.tables.read_parquet``).

A cached schema may only be served while the files and the confs that
shape schema inference are unchanged; every test here changes one of
them and expects the schema Spark itself would infer.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from simplex_mapreduce_spark.sources.tables import _fingerprint, read_parquet
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def conf(spark):
    """Set session confs for one test; restores the previous values."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path).columns == ["a"]  # served from the cache
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_directory_gaining_a_part_file_is_fingerprinted_anew(spark, conf, tmp_path):
    conf("spark.sql.parquet.mergeSchema", "true")
    path = str(tmp_path / "d")
    spark.range(3).write.parquet(path)
    before = _fingerprint(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3, 5).selectExpr("id", "id * 2 AS twice").write.mode(
        "append"
    ).parquet(path)
    assert _fingerprint(path) != before
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(df.columns) == ["id", "twice"]
    assert df.count() == 5


def test_schema_confs_are_part_of_the_key(spark, conf, tmp_path):
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))}),
        nanos,
    )
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert read_parquet(spark, nanos).dtypes == [("ts", "bigint")]
    # without the flag Spark cannot read TIMESTAMP(NANOS) at all; the
    # cached bigint schema must not hide that
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
        read_parquet(spark, nanos)
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert read_parquet(spark, nanos).dtypes == [("ts", "bigint")]

    raw = str(tmp_path / "binary.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), raw)
    conf("spark.sql.parquet.binaryAsString", "false")
    assert read_parquet(spark, raw).dtypes == [("b", "binary")]
    conf("spark.sql.parquet.binaryAsString", "true")
    assert read_parquet(spark, raw).dtypes == [("b", "string")]


def test_vanilla_session_reads_events_as_ntz():
    """A session built with none of the repo's confs (as a caller of
    ``__spark_entry__`` builds it) loads ``events`` twice, the second
    time from the cache, with ``ts`` as TIMESTAMP_NTZ both times."""
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
from simplex_mapreduce_spark.sources.tables import load_table
spark = (SparkSession.builder.master("local[2]").appName("vanilla")
         .config("spark.ui.enabled", "false").getOrCreate())
for _ in range(2):
    print(dict(load_table(spark, {SF_DIR!r}, "events").dtypes)["ts"])
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/",
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == ["timestamp_ntz", "timestamp_ntz"]
