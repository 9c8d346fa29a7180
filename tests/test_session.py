"""Session defaults that follow the host."""

from __future__ import annotations

import os

from data_warehouse_spark import session


def test_shuffle_partitions_default_to_the_task_slots(monkeypatch):
    """One shuffle partition per local task slot: SPARK_GRAFT_CPUS when
    set, else the core count — never the 32 of the retired 32-core box
    (a stateful stream runs that many state-store tasks per batch)."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_shuffle_partitions() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.default_shuffle_partitions() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "32")   # the retired knob
    assert session.default_shuffle_partitions() == os.cpu_count()


def test_parquet_is_written_with_zstd(spark, tmp_path):
    import pyarrow.parquet as pq

    spark.range(10).write.parquet(str(tmp_path / "t"))
    f = next((tmp_path / "t").glob("*.parquet"))
    assert pq.ParquetFile(f).metadata.row_group(0).column(0).compression == "ZSTD"
