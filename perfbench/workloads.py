"""The benchmark's workloads.

Each workload turns a seed into a sequence of passes. Every pass holds the
same multiset of operations; the seed sets their order and the ingest
batches. Pass -1 is the warm-up, run before timing starts, so the measured
passes find every operation's code already compiled and JIT-warm. Reads
carry the answer the DuckDB oracle expects; the runner counts any other
answer as a failure.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_zoomcamp_my_test_spark.operators import all_oracle_sql, all_queries
from data_engineering_zoomcamp_my_test_spark.plans.sql import run_sql
from data_engineering_zoomcamp_my_test_spark.sinks.writers import (
    compact_parquet,
    land_sorted,
    save_table,
    upsert_table,
)
from data_engineering_zoomcamp_my_test_spark.sources import tables

from oracle import expected_counts

PACKAGE = "data_engineering_zoomcamp_my_test_spark"


@dataclass
class Op:
    """One timed operation. A read builds a DataFrame inside the ``layer``
    span and runs ``fetch`` on it; a write runs ``write`` inside the
    ``layer`` span and leaves its files under ``target``."""

    kind: str  # "read" | "readback" | "write"
    label: str
    layer: str
    build: Callable[[], DataFrame] | None = None
    fetch: Callable[[DataFrame], object] = field(default=lambda df: df.count())
    expected: object = None
    write: Callable[[], None] | None = None
    target: str | None = None


class Workload:
    name: str

    def __init__(self, testdata: str, run_dir: str, seed: int) -> None:
        self.testdata = testdata
        self.run_dir = run_dir
        self.seed = seed

    def _dir(self, sf: str) -> str:
        return os.path.join(self.testdata, f"sf{sf}")

    def input_dirs(self) -> list[str]:
        raise NotImplementedError

    def prepare(self) -> None:
        """Compute the oracle answers; runs before the session starts."""

    def pass_ops(self, spark: SparkSession, index: int) -> list[Op]:
        raise NotImplementedError

    def stored_ratio(self) -> float | None:
        """Bytes stored per input byte after the last pass, if it wrote."""
        return None

    def _rng(self, index: int) -> random.Random:
        return random.Random(f"{self.name}:{self.seed}:{index}")


def part_files(path: str) -> tuple[int, int]:
    """(bytes, count) of the parquet part files under ``path``."""
    size = count = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if name.startswith("part-"):
                size += os.path.getsize(os.path.join(dirpath, name))
                count += 1
    return size, count


def _oracle(sf_dir: str, queries: dict[str, str]) -> dict[str, int]:
    return expected_counts(sf_dir, list(tables.TABLE_NAMES), queries)


class Headline(Workload):
    """bench.py's 16 headline declared queries, each built then counted."""

    name = "headline-sf0.1"
    # c33_minhash_jvm has no SQL oracle (DuckDB lacks Spark's hash family).
    # Its row count is structural: one row per document per LSH band, and
    # operators/dedup.py fixes 8 bands.
    EXTRA_ORACLE = {
        "c33_minhash_jvm": "SELECT d.doc_id, b.band FROM documents d CROSS JOIN range(8) b(band)",
    }

    def input_dirs(self):
        return [self._dir("0.1")]

    def prepare(self) -> None:
        import bench

        self.names = list(bench.BENCH_QUERIES)
        sql = {**all_oracle_sql(), **self.EXTRA_ORACLE}
        self.expected = _oracle(self._dir("0.1"), {n: sql[n] for n in self.names})
        self.queries = all_queries()

    def pass_ops(self, spark, index):
        names = list(self.names)
        self._rng(index).shuffle(names)
        sf_dir = self._dir("0.1")
        return [
            Op("read", n, "operators.build",
               build=lambda fn=self.queries[n]: fn(spark, sf_dir), expected=self.expected[n])
            for n in names
        ]


class IngestAdhoc(Workload):
    """The reference's CLI shape (cli.py): land a source as a managed table,
    then append, upsert, sort-land and compact it, reading every write back
    with ``spark.sql``; between the writes, forward ad-hoc SQL strings
    through ``run_sql``, which re-registers every table before ``spark.sql``.

    A read-back must show its seeded batch, so a stale read fails the op.
    The ad-hoc strings are Tier A/B oracle strings that Spark SQL accepts
    unchanged."""

    name = "ingest-adhoc"
    INGEST_SF, SQL_SF = "0.1", "0.01"
    # Three strings keep a run inside the benchmark's time budget: each
    # run_sql call costs about 2 s, nearly all of it register_tables.
    SQL = ("b3_groupby_agg", "b46_q18_big_orders", "b55_q2_min_cost_supplier")
    # Each batch takes the orders whose key satisfies (k*a + b) % 100 < pct
    # for a seeded (a, b): integer arithmetic both engines agree on. ``a`` is
    # coprime to 100, so over dense keys every batch holds pct% of the rows.
    APPEND_PCT, UPSERT_EXISTING_PCT, UPSERT_NEW_PCT = 2, 2, 1
    APPEND_KEY_OFFSET = 1_000_000_000
    UPSERT_KEY_OFFSET = 2_000_000_000

    def input_dirs(self):
        return [self._dir(self.INGEST_SF), self._dir(self.SQL_SF)]

    def prepare(self) -> None:
        sql = all_oracle_sql()
        self.sql = {n: sql[n] for n in self.SQL}
        self.sql_expected = _oracle(self._dir(self.SQL_SF), self.sql)
        # Batch sizes are counted over keys 0..n-1, exact only if o_orderkey
        # is dense there; the oracle checks that.
        self.source_dir = self._dir(self.INGEST_SF)
        c = _oracle(self.source_dir, {
            "rows": "SELECT * FROM orders",
            "keys": "SELECT DISTINCT o_orderkey FROM orders",
            "outside": "SELECT * FROM orders WHERE o_orderkey < 0 OR o_orderkey >= "
                       "(SELECT count(DISTINCT o_orderkey) FROM orders)",
        })
        if c["rows"] != c["keys"] or c["outside"]:
            raise RuntimeError(f"{self.source_dir}/orders.parquet: o_orderkey is not dense 0..n-1")
        self.source_rows = c["rows"]
        self.table = "ingested_orders"
        self.table_dir = os.path.join(self.run_dir, "warehouse", self.table)
        self.landed = os.path.join(self.run_dir, "out", f"{self.table}_sorted")

    def pass_ops(self, spark, index):
        rng = self._rng(index)
        names = list(self.SQL)
        rng.shuffle(names)
        sf_dir = self._dir(self.SQL_SF)
        ops = []
        for op in self._cycle(spark, rng, index):
            ops.append(op)
            if op.kind == "readback" and names:
                name = names.pop()
                ops.append(Op("read", name, "plans.run_sql",
                              build=lambda sql=self.sql[name]: run_sql(spark, sql, sf_dir),
                              expected=self.sql_expected[name]))
        return ops

    def stored_ratio(self) -> float:
        """Part-file bytes of the managed table plus its sorted, compacted
        copy, per byte of the two source-file copies they hold."""
        stored = sum(part_files(p)[0] for p in (self.table_dir, self.landed))
        return stored / (2 * os.path.getsize(os.path.join(self.source_dir, "orders.parquet")))

    def _cycle(self, spark: SparkSession, rng: random.Random, index: int) -> list[Op]:
        sf_dir, n0 = self.source_dir, self.source_rows
        rules = [(10 * rng.randrange(1 << 16) + rng.choice((1, 3, 7, 9)), rng.randrange(100), pct)
                 for pct in (self.APPEND_PCT, self.UPSERT_EXISTING_PCT, self.UPSERT_NEW_PCT)]
        n_append, n_upsert, n_new = (
            sum((k * a + b) % 100 < pct for k in range(n0)) for a, b, pct in rules)
        tag_a, tag_u = f"bench-append-{index}", f"bench-upsert-{index}"
        table, table_dir, landed = self.table, self.table_dir, self.landed
        key, prio = F.col("o_orderkey"), "o_orderpriority"

        def src() -> DataFrame:
            # Through the module attribute, so the traced run's rebinding
            # counts this read as a sources.load_table call.
            return tables.load_table(spark, sf_dir, "orders")

        def batch(rule: tuple[int, int, int], offset: int, tag: str) -> DataFrame:
            a, b, pct = rule
            return (
                src().where((key * a + b) % 100 < pct)
                .withColumn("o_orderkey", key + F.lit(offset))
                .withColumn(prio, F.lit(tag))
            )

        def read_back(what: str, source: str, tag: str, expected: tuple[int, int]) -> Op:
            sql = f"SELECT count(*), count_if({prio} = '{tag}') FROM {source}"
            return Op("readback", f"read-{what}", "spark.sql",
                      build=lambda: spark.sql(sql),
                      fetch=lambda df: tuple(df.collect()[0]), expected=expected)

        def write(what: str, layer: str, fn: Callable[[], object], target: str) -> Op:
            return Op("write", what, layer, write=fn, target=target)

        total, tagged = n0 + n_append + n_new, n_upsert + n_new
        parquet_src = f"parquet.`{landed}`"
        return [
            write("replace", "sinks.save_table",
                  lambda: save_table(src(), table, if_exists="replace"), table_dir),
            read_back("replace", table, tag_a, (n0, 0)),
            write("append", "sinks.save_table",
                  lambda: save_table(batch(rules[0], self.APPEND_KEY_OFFSET, tag_a), table,
                                     if_exists="append"), table_dir),
            read_back("append", table, tag_a, (n0 + n_append, n_append)),
            write("upsert", "sinks.upsert_table",
                  lambda: upsert_table(
                      spark, table,
                      batch(rules[1], 0, tag_u).unionByName(
                          batch(rules[2], self.UPSERT_KEY_OFFSET, tag_u)),
                      "o_orderkey"), table_dir),
            read_back("upsert", table, tag_u, (total, tagged)),
            write("land_sorted", "sinks.land_sorted",
                  lambda: land_sorted(spark.table(table), landed, ["o_orderdate"]), landed),
            read_back("land_sorted", parquet_src, tag_u, (total, tagged)),
            write("compact", "sinks.compact_parquet",
                  lambda: compact_parquet(spark, landed), landed),
            read_back("compact", parquet_src, tag_u, (total, tagged)),
        ]


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (Headline, IngestAdhoc)}
