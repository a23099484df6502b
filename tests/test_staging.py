"""One staging path for every Spark-written object.

Every executor-written object (bulk ingest, OPTIMIZE, UPDATE, DV masks,
DV materialization) is staged in the store's own staging area and
published from there, and the engine picks between two per-file stats
passes (driver footer pass vs distributed aggregation) that must agree.
"""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_experiment_spark.client import (
    IDX_COL,
    TX_COL,
    DeltaLakeClient,
    _parquet_file_stats,
    _parquet_idx_max,
)
from test_s3_storage import _MirroredS3Client, _SparkReadableS3Storage


def _data_objects(api) -> set:
    return {
        k
        for k in api.objects
        if k.rsplit("/", 1)[-1].startswith(("table_", "dv_"))
    }


def test_s3_rewrites_publish_by_server_side_copy(spark, tmp_path):
    """OPTIMIZE, UPDATE, a DV delete and DV materialization on an S3
    store stage in the bucket and publish every new data object and
    mask with CopyObject: no PutObject carries their bytes from the
    driver, no staging key survives, and a fresh client reads the
    result back."""
    api = _MirroredS3Client(str(tmp_path / "mirror"), page_size=3)
    store = _SparkReadableS3Storage("lake", prefix="tables/rw", client=api)
    c = DeltaLakeClient(spark, store, dataobject_size=1000)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.write_dataframe(
        "t",
        spark.range(40)
        .selectExpr("id AS k", "CAST(id AS STRING) AS v")
        .repartition(4),
    )
    c.commit_tx()
    puts_before = len(api.put_keys)

    steps = {
        "compact": lambda: c.compact("t"),
        "update_rows": lambda: c.update_rows("t", "k", 0, 4, {"v": "upd"}),
        "delete_rows_dv": lambda: c.delete_rows("t", "k", 10, 14, use_dv=True),
        "materialize_dvs": lambda: c.materialize_dvs("t", 0.0),
    }
    for label, step in steps.items():
        before = _data_objects(api)
        c.new_tx()
        step()
        c.commit_tx()
        new = _data_objects(api) - before
        assert new, label
        assert new <= set(api.copy_keys), (label, new - set(api.copy_keys))

    driver_puts = [
        k
        for k in api.put_keys[puts_before:]
        if k.rsplit("/", 1)[-1].startswith(("table_", "dv_"))
    ]
    assert driver_puts == []
    assert not [k for k in api.objects if "/.tmp/" in k]

    c2 = DeltaLakeClient(spark, store)
    c2.new_tx()
    got = sorted(c2.scan_iter("t"))
    exp = sorted(
        (k, "upd" if k <= 4 else str(k)) for k in range(40) if not 10 <= k <= 14
    )
    assert got == exp
    c2.commit_tx()


def test_empty_dv_mask_leaves_no_object(spark, store_dir):
    """A DV delete whose stat-pruned candidate holds no matching row
    reads the staged mask, finds it empty and never publishes it:
    nothing is logged and no ``dv_`` object or staging directory stays."""
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.write_row("t", [0, "a"])
    c.write_row("t", [10, "b"])
    c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 5, 5, use_dv=True)
    tx = c._require_tx()
    assert tx.read_files["t"]  # min/max 0..10 admitted the file
    assert not tx.actions
    c.commit_tx()
    assert c.store.list_prefix_ordered("dv_") == []
    assert os.listdir(os.path.join(store_dir, ".tmp")) == []
    c.new_tx()
    assert sorted(c.scan_iter("t")) == [(0, "a"), (10, "b")]
    c.commit_tx()


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_footer_and_distributed_stats_passes_agree(spark, store_dir, tz):
    """The footer pass and the distributed pass are interchangeable:
    per staged file they report the same row count and min/max stats,
    and the same largest ``_row_idx`` stamp, under any session zone."""
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.create_table("s", "k BIGINT, name STRING, ts TIMESTAMP, d DATE, x DOUBLE")
    tx = c._require_tx()
    base_ts = datetime.datetime(2024, 3, 10, 1, 30)
    rows = [
        (
            i * 7 - 40,
            None if i % 5 == 0 else f"n{i:03d}",
            base_ts + datetime.timedelta(hours=i * 5),
            datetime.date(2023, 12, 25) + datetime.timedelta(days=i * 3),
            None if i % 4 == 0 else i * 1.25 - 10.0,
        )
        for i in range(30)
    ]
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    area = c.store.begin_staging()
    try:
        df = (
            spark.createDataFrame(
                rows, "k BIGINT, name STRING, ts TIMESTAMP, d DATE, x DOUBLE"
            )
            .repartition(3)
            .select(
                "*",
                F.lit(tx.id).cast("long").alias(TX_COL),
                F.monotonically_increasing_id().alias(IDX_COL),
            )
        )
        c._write_parquet_staging(df, area.uri)
        staged = area.list_staged()
        assert len(staged) == 3
        by_file, _, max_idx = c._staged_stats_distributed("s", tx, area.uri)
        for path in staged:
            num_rows, stats = _parquet_file_stats(path)
            assert num_rows > 0
            assert by_file[os.path.basename(path)] == {
                "num_rows": num_rows,
                "stats": stats,
            }, path
            assert set(stats) == {"k", "name", "ts", "d", "x"}
        assert max_idx == max(_parquet_idx_max(p) for p in staged)
    finally:
        area.discard()
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        c.abort_tx()
