"""Upsert-sink regression pins that need their own module: the
touched-partition predicate's expression DEPTH (the round-13
stream_gauge_qc 100x probe found the old left-fold OR chain
overflowing the JVM stack when a store-bootstrapping batch touched
10,000 hash_id partitions), and the first write's in-plan row count.
The merge semantics themselves are pinned in
tests/test_sources_sinks.py and tests/test_streaming.py."""

from __future__ import annotations

import pytest
from pyspark.sql import Row


def test_touched_predicate_shallow_at_10k_partitions(spark):
    """Single-column form must compile to ONE flat isin/InSet and
    plan+run at 10k touched partitions; NULL partition values route
    through the isNull branch; the multi-column form balances the OR
    tree to log2 depth (width 200 here — a 200-term exact tuple
    predicate costs Catalyst real time and depth, not width, is what
    the regression was about; the 10k case is covered by the
    single-column form every current caller uses)."""
    from curw_wrf_data_pusher_spark.sinks.upsert import _touched_predicate

    df = spark.createDataFrame(
        [(f"g{i:05d}", i % 7, float(i)) for i in range(200)],
        "hash_id string, batch int, value double",
    )
    touched1 = [Row(hash_id=f"g{i:05d}") for i in range(10_000)]
    pred1 = _touched_predicate(["hash_id"], touched1)
    assert df.filter(pred1).count() == 200  # plans + runs, no overflow
    # NULL partition value routes through the isNull branch
    touched_null = [Row(hash_id="g00001"), Row(hash_id=None)]
    assert df.filter(
        _touched_predicate(["hash_id"], touched_null)
    ).count() == 1
    # multi-column: balanced tuple membership, exact
    touched2 = [
        Row(hash_id=f"g{i:05d}", batch=i % 7) for i in range(200)
    ]
    pred2 = _touched_predicate(["hash_id", "batch"], touched2)
    assert df.filter(pred2).count() == 200
    # exactness: tuples not in the touched set don't match
    touched3 = [Row(hash_id="g00001", batch=5)]  # real batch is 1
    assert df.filter(
        _touched_predicate(["hash_id", "batch"], touched3)
    ).count() == 0


@pytest.mark.parametrize("partition_cols", [["d"], None])
def test_first_write_reads_nothing_back(spark, tmp_path, monkeypatch,
                                        partition_cols):
    """A fresh store's row count is observed in the write's plan: the
    first write opens no parquet (the missing-store probe raises
    before it returns a frame) and returns the rows it wrote."""
    from pyspark.sql.readwriter import DataFrameReader

    from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

    df = spark.createDataFrame(
        [(i, f"d{i % 3}", float(i)) for i in range(50)],
        "k long, d string, v double",
    )
    opened = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        out = real(self, *paths, **kw)
        opened.append(paths)
        return out

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    store = str(tmp_path / "store")
    n = upsert_parquet(
        spark, df, store, keys=["k"], partition_cols=partition_cols
    )
    assert n == 50
    assert opened == []
    monkeypatch.undo()
    assert spark.read.parquet(store).count() == 50
