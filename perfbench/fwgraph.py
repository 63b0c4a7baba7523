"""The framework graph the `fw_*` workloads build.

raw (date-partitioned parquet, written here with pyarrow)
  -> DailyTotals (1:1 per date via a custom ``map``; groupBy date, category)
  -> Rollup (one non-partitioned output over every daily partition)

Amounts are integer cents, so every total is exact and the rollup can be
checked against a pyarrow sum over the raw files.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from artigraph_spark import types as at
from artigraph_spark.artifacts import Artifact
from artigraph_spark.backends import JsonFileBackend
from artigraph_spark.formats import Parquet
from artigraph_spark.graphs import Graph
from artigraph_spark.producers import Producer
from artigraph_spark.storage import LocalFile, StoragePartition
from artigraph_spark.versions import SemVer

GRAPH_NAME = "fwbench"
CATEGORIES = ("books", "games", "garden", "music", "tools", "toys")
FIRST_DAY = datetime.date(2024, 1, 1)

RAW_TYPE = at.Collection(
    element=at.Struct(
        fields={"date": at.Date(), "category": at.String(), "amount": at.Int64()}
    ),
    partition_by=("date",),
)
DAILY_TYPE = at.Collection(
    element=at.Struct(
        fields={
            "date": at.Date(),
            "category": at.String(),
            "total": at.Int64(),
            "n": at.Int64(),
        }
    ),
    partition_by=("date",),
)
ROLLUP_TYPE = at.Collection(
    element=at.Struct(
        fields={"category": at.String(), "total": at.Int64(), "n": at.Int64()}
    )
)


class Raw(Artifact):
    pass


class Daily(Artifact):
    pass


class Totals(Artifact):
    pass


class DailyTotals(Producer):
    version = SemVer(major=1)

    raw: Raw

    def map(self, raw: tuple[StoragePartition, ...]) -> dict:
        return {p.partition_key: {"raw": (p,)} for p in raw}

    def build(self, raw: DataFrame) -> DataFrame:
        return raw.groupBy("date", "category").agg(
            F.sum("amount").alias("total"), F.count("*").alias("n")
        )


class Rollup(Producer):
    version = SemVer(major=1)

    daily: Daily

    def build(self, daily: DataFrame) -> DataFrame:
        return daily.groupBy("category").agg(
            F.sum("total").alias("total"), F.sum("n").alias("n")
        )


def day(i: int) -> datetime.date:
    return FIRST_DAY + datetime.timedelta(days=i)


def raw_dir(root: str, i: int) -> str:
    return os.path.join(root, GRAPH_NAME, "raw", "raw", f"date={day(i).isoformat()}")


def write_raw_partition(root: str, i: int, rows: int, seed: int) -> None:
    """(Re)write raw partition ``i`` with content drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    table = pa.table(
        {
            "date": pa.array([day(i)] * rows, type=pa.date32()),
            "category": pa.array(rng.choice(CATEGORIES, size=rows)),
            "amount": pa.array(rng.integers(1, 100_000, size=rows), type=pa.int64()),
        }
    )
    d = raw_dir(root, i)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, ".part-0.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(d, "part-0.parquet"))


def generate_raw(root: str, partitions: int, rows: int, seed: int) -> None:
    for i in range(partitions):
        write_raw_partition(root, i, rows, seed * 1_000_003 + i)


def make_graph(root: str, spark: SparkSession) -> tuple[Graph, Artifact]:
    """The graph over ``root`` with its JsonFileBackend catalog there too."""
    backend = JsonFileBackend(os.path.join(root, "catalog.json"))
    storage = LocalFile(root=root)
    with Graph(GRAPH_NAME, backend=backend, spark=spark) as g:
        g.artifacts.raw = Raw(type=RAW_TYPE, format=Parquet(), storage=storage)
        g.artifacts.daily = DailyTotals(raw=g.artifacts.raw).out(
            Daily(type=DAILY_TYPE, format=Parquet(), storage=storage)
        )
        g.artifacts.totals = Rollup(daily=g.artifacts.daily).out(
            Totals(type=ROLLUP_TYPE, format=Parquet(), storage=storage)
        )
    return g, g.artifacts.totals


def expected_totals(root: str, partitions: int) -> dict[str, tuple[int, int]]:
    """category -> (sum of amount, row count), straight from the raw files."""
    tables = [
        pq.read_table(os.path.join(raw_dir(root, i), "part-0.parquet"))
        for i in range(partitions)
    ]
    grouped = pa.concat_tables(tables).group_by("category").aggregate(
        [("amount", "sum"), ("amount", "count")]
    )
    rows = grouped.to_pylist()
    return {r["category"]: (r["amount_sum"], r["amount_count"]) for r in rows}


def built_totals(graph: Graph, snapshot_id, totals: Artifact) -> dict[str, tuple[int, int]]:
    """The rollup this snapshot recorded, read with pyarrow (not Spark)."""
    (part,) = graph.backend.read_snapshot_partitions(snapshot_id, totals.fingerprint)
    rows = pq.read_table(part.path).to_pylist()
    return {r["category"]: (r["total"], r["n"]) for r in rows}
