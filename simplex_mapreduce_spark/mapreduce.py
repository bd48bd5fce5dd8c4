"""MapReduce parity facade — the reference's user-facing API, on Spark.

The reference engine (src/mapreduce.go) runs a fixed pipeline
``Split -> Map -> hash-partition -> Reduce(group+key-sort) -> Merge``:

- ``Split`` chunks one text file on line boundaries (mapreduce.go:72-110);
- ``DoMap`` feeds each whole chunk to a user ``Map(contents) -> [(k,v)]``
  closure (mapreduce.go:173-212);
- map output is hash-partitioned by key into nReduce buckets
  (FNV-32a % nReduce, mapreduce.go:167-171, 194-211);
- ``DoReduce`` groups each bucket by key, sorts keys lexicographically,
  and applies user ``Reduce(key, values) -> value`` (mapreduce.go:218-259);
- ``Merge`` produces one text file of ``"key: value"`` lines in global
  lexicographic key order (mapreduce.go:291-329).

This facade preserves the reference's *semantics contract* (SURVEY.md
§2.1) while delegating execution to Spark:

1. output ordering is lexicographic **string** sort of keys
   (``sort.Strings``: "10" < "2");
2. the reduce closure sees values grouped but in no guaranteed order
   (the reference only guarantees map-task order; commutative reducers
   are the contract);
3. exactly-once output via deterministic re-execution (Spark lineage ==
   the reference's idempotent file overwrite, mapreduce.go:195,249).

Deliberate non-replications (SURVEY.md §4.2): no JSON shuffle files on a
shared FS (Spark's sort-based binary shuffle is the same contract), no
single-node in-memory Merge (a distributed range-partitioned sort is
strictly better and required at 100 TB), no infinite task retry.

Execution is one DataFrame pipeline with Python only at the two closure
boundaries, both Arrow-batched (``mapInArrow``, one call per map
partition and one ``reduce_fn`` call per key): map over the ``n_map``
fan-out -> ``groupBy(key).agg(collect_list(value))`` in the JVM ->
range-partition + ``sortWithinPartitions`` on key (the range sample is
drawn from the grouped output, so no closure re-runs) -> reduce.
``collect_list`` is appropriate *only because* the API contract hands
the reduce closure the full value list, like the reference
(mapreduce.go:255).  ``run_combinable`` folds an associative combiner
per key inside the map task (a Hadoop combiner) — the optimization the
reference lacks (it shuffles every raw pair, mapreduce.go:193).
"""

from __future__ import annotations

import functools
import itertools
from collections.abc import Callable, Iterable
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplex_mapreduce_spark.sources.tables import _estimated_scan_splits

MapFn = Callable[[str], Iterable[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]
CombineFn = Callable[[str, str], str]

_KV_SCHEMA = "key string, value string"


def _kv_batches(pairs: Iterable[tuple[str, str]]):
    """(key, value) string pairs -> Arrow record batches."""
    it = iter(pairs)
    while chunk := list(itertools.islice(it, 10_000)):
        cols = [pa.array(c, pa.string()) for c in zip(*chunk)]
        yield pa.RecordBatch.from_arrays(cols, names=["key", "value"])


@dataclass
class MapReduceJob:
    """``MapReduceJob(map_fn, reduce_fn).run(spark, path)``.

    ``map_fn(chunk_text)`` yields ``(key, value)`` string pairs for one
    whole input chunk (the reference's Map sees a whole split, not one
    line — mapreduce.go:186-192 reads the entire file into one string).
    ``reduce_fn(key, values)`` returns one string value.
    """

    map_fn: MapFn
    reduce_fn: ReduceFn
    n_map: int | None = None
    n_reduce: int | None = None

    def _pipeline(
        self, lines: DataFrame, reduce_fn: ReduceFn, combine: CombineFn | None = None
    ) -> DataFrame:
        """Split/Map -> group -> global string sort -> Reduce over a
        one-column string DataFrame; returns DataFrame[key, value]
        (globally string-sorted, like the reference's merged output)."""
        map_fn, spark = self.map_fn, lines.sparkSession

        def map_task(batches):
            # one whole chunk per map partition, like DoMap (mapreduce.go:186)
            text = "\n".join(s or "" for b in batches for s in b[0].to_pylist())
            pairs = map_fn(text)
            if combine is not None:
                acc: dict[str, str] = {}
                for k, v in pairs:
                    acc[k] = combine(acc[k], v) if k in acc else v
                pairs = acc.items()
            yield from _kv_batches(pairs)

        def reduce_task(batches):
            for b in batches:
                keys, values = b[0].to_pylist(), b[1].to_pylist()
                yield from _kv_batches(zip(keys, map(reduce_fn, keys, values)))

        # a single small file scans as one partition; spread the Python
        # map work (mirrors Split's nMap fan-out, mapreduce.go:84-97)
        n_map = self.n_map or spark.sparkContext.defaultParallelism
        if _estimated_scan_splits(lines) < n_map:
            lines = lines.repartition(n_map)
        kv = lines.mapInArrow(map_task, _KV_SCHEMA)
        grouped = kv.groupBy("key").agg(F.collect_list("value").alias("values"))
        # lexicographic total order == sort.Strings at mapreduce.go:316
        n_red = [self.n_reduce] if self.n_reduce else []
        ranged = grouped.repartitionByRange(*n_red, "key").sortWithinPartitions("key")
        return ranged.mapInArrow(reduce_task, _KV_SCHEMA)

    def run(self, spark: SparkSession, input_path: str) -> DataFrame:
        """Full pipeline over a text file."""
        return self._pipeline(spark.read.text(input_path), self.reduce_fn)

    def run_on_column(self, df: DataFrame, column: str) -> DataFrame:
        """Same pipeline with a DataFrame string column as the 'file'."""
        return self._pipeline(df.select(column), self.reduce_fn)

    def run_combinable(
        self, spark: SparkSession, input_path: str, combine: CombineFn
    ) -> DataFrame:
        """Same pipeline for associative+commutative reducers: ``combine``
        folds each key's values inside the map task, and again over the
        partial results in the reduce."""
        fold = lambda _key, values: functools.reduce(combine, values)  # noqa: E731
        return self._pipeline(spark.read.text(input_path), fold, combine)

    def save_text(
        self, result: DataFrame, output_path: str, single_file: bool = False
    ) -> None:
        """Merge-format sink: ``"key: value"`` lines (mapreduce.go:325).

        Default is the distributed shape (one part per reduce
        partition, globally ordered by part-file concatenation order) —
        at 100 TB a single merged file is the anti-pattern the
        reference's single-node ``Merge()`` embodies (it re-reads every
        reduce output on one machine, mapreduce.go:291-329).

        ``single_file=True`` opts into EXACT parity with that sink: one
        sorted text file of ``"key: value"`` lines, byte-identical to
        the reference's ``mr.out`` for the same input (golden-pinned in
        tests/test_mapreduce_parity.py).  The coalesce(1) funnels the
        already-sorted partitions through one writer task — correct for
        parity/debug output, deliberate bottleneck at scale."""
        # single_file: one partition, re-sorted on KEY with no second
        # exchange (sorting the joined line mis-orders keys with ':' or ' ')
        src = result.coalesce(1).sortWithinPartitions("key") if single_file else result
        line = F.concat_ws(": ", "key", "value").alias("value")
        src.select(line).write.mode("overwrite").text(output_path)


def word_count_map(chunk: str) -> Iterable[tuple[str, str]]:
    """The reference's golden-test Map closure (src/test_test.go:56-65):
    tokenize on whitespace, emit (word, "1")."""
    for w in chunk.split():
        yield (w, "1")


def word_count_reduce(_key: str, values: list[str]) -> str:
    """The reference's golden-test Reduce (src/test_test.go:68-79):
    sum integer-valued strings."""
    return str(sum(int(v) for v in values))
