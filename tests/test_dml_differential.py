"""Cross-path DML differential: the same UPDATE, DELETE and MERGE run
through every table writer must leave identical rows.

Writers: the whole-table parquet functions, the partition-scoped
variants (MERGE has no partition-scoped form, so that table takes the
whole-table MERGE), ``TxTable``, and ``StatsTxTable``'s range ops. All
of them build their rows from ``sources.mutations`` (``match``,
``updated_rows``, ``surviving_rows``, ``upserted_rows``); this test
pins that no storage protocol drifts from those semantics.

The fixture is built to catch the known ways to drift: rows whose key
is NULL sit in the partitions the UPDATE and DELETE touch (a NULL
predicate matches nothing, so they must survive both), and the MERGE
target holds one key twice (both rows collapse to the one source row).
"""

from __future__ import annotations

from collections import Counter

import pytest

from etl_generator_demo_spark.sources.mutations import (
    delete_parquet,
    delete_parquet_partitioned,
    merge_parquet,
    update_parquet,
    update_parquet_partitioned,
)
from etl_generator_demo_spark.sources.txlog import StatsTxTable, TxTable

DDL = "k long, v long, p long"
# p = k div 5 for non-NULL keys, so each statement's key range lies in one
# partition; NULL keys sit in both partitions the statements touch
ROWS = [
    (0, 0, 0), (3, 30, 0), (4, 40, 0), (None, 1, 0),
    (5, 50, 1), (7, 70, 1), (None, 2, 1),
    (12, 120, 2), (12, 121, 2), (14, 140, 2),
]
SOURCE = [(12, 999, 2), (3, 333, 0), (20, 200, 4)]

AFTER_UPDATE = Counter([
    (0, 1000, 0), (3, 1030, 0), (4, 1040, 0), (None, 1, 0),
    (5, 50, 1), (7, 70, 1), (None, 2, 1),
    (12, 120, 2), (12, 121, 2), (14, 140, 2),
])
AFTER_DELETE = AFTER_UPDATE - Counter([(5, 50, 1), (7, 70, 1)])
AFTER_MERGE = (
    AFTER_DELETE - Counter([(3, 1030, 0), (12, 120, 2), (12, 121, 2)]) + Counter(SOURCE)
)


class _Parquet:
    """Whole-table read-modify-overwrite."""

    def __init__(self, spark, path, df):
        self.spark, self.path = spark, path
        df.write.parquet(path)

    def rows(self):
        return self.spark.read.parquet(self.path)

    def update(self):
        return update_parquet(self.spark, self.path, {"v": "v + 1000"}, "k BETWEEN 0 AND 4")

    def delete(self):
        return delete_parquet(self.spark, self.path, "k BETWEEN 5 AND 9")

    def merge(self, source):
        return merge_parquet(self.spark, self.path, source, ["k"])


class _Partitioned(_Parquet):
    """Per-partition swap for UPDATE/DELETE."""

    def __init__(self, spark, path, df):
        self.spark, self.path = spark, path
        df.write.partitionBy("p").parquet(path)

    def update(self):
        return update_parquet_partitioned(
            self.spark, self.path, {"v": "v + 1000"}, "k BETWEEN 0 AND 4", "p", "p = 0"
        )

    def delete(self):
        return delete_parquet_partitioned(
            self.spark, self.path, "k BETWEEN 5 AND 9", "p", "p = 1"
        )


class _Tx:
    """Txlog manifest commits."""

    def __init__(self, spark, path, df):
        self.tab = TxTable.create(spark, path, df)

    def rows(self):
        return self.tab.read()

    def update(self):
        return self.tab.update({"v": "v + 1000"}, "k BETWEEN 0 AND 4")

    def delete(self):
        return self.tab.delete("k BETWEEN 5 AND 9")

    def merge(self, source):
        return self.tab.merge(source, ["k"])


class _StatsTx(_Tx):
    """Zone-map-scoped range ops of the stats-keeping txlog table."""

    def __init__(self, spark, path, df):
        StatsTxTable.create(spark, path, df)
        self.tab = StatsTxTable(spark, path, stat_cols=["k"])

    def update(self):
        return self.tab.update_range("k", 0, 4, {"v": "v + 1000"})

    def delete(self):
        return self.tab.delete_range("k", 5, 9)


WRITERS = {
    "parquet": _Parquet,
    "partitioned": _Partitioned,
    "txlog": _Tx,
    "stats_txlog": _StatsTx,
}


def _state(writer) -> Counter:
    return Counter(tuple(r) for r in writer.rows().select("k", "v", "p").collect())


def test_every_writer_leaves_the_same_rows(spark, tmp_path):
    df = spark.createDataFrame(ROWS, DDL).coalesce(1)
    source = spark.createDataFrame(SOURCE, DDL)
    writers = {
        name: cls(spark, str(tmp_path / name), df) for name, cls in WRITERS.items()
    }
    for step, want in (
        (lambda w: w.update(), AFTER_UPDATE),
        (lambda w: w.delete(), AFTER_DELETE),
        (lambda w: w.merge(source), AFTER_MERGE),
    ):
        for w in writers.values():
            step(w)
        for name, w in writers.items():
            assert _state(w) == want, name


@pytest.mark.parametrize("cls", [_Parquet, _Partitioned], ids=["parquet", "partitioned"])
def test_parquet_writers_report_the_same_counts(spark, tmp_path, cls):
    """The parquet writers return row counts: 3 matched by the UPDATE,
    2 deleted (the NULL-key row in the same partition is not), and a
    MERGE that updates 2 keys (one held twice) and inserts 1."""
    w = cls(spark, str(tmp_path / "t"), spark.createDataFrame(ROWS, DDL).coalesce(1))
    assert w.update() == 3
    assert w.delete() == 2
    assert w.merge(spark.createDataFrame(SOURCE, DDL)) == (2, 1)
