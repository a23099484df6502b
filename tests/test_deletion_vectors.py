"""The deletion-vector file has one owner: ``plans/deletion_vectors.py``.

- a guard test keeps every other package module off the DV object
  naming (``dv_`` literals) and its ``row_idx`` column;
- every read path (Spark anti-join, bucketed hex-key join, the streaming
  source's executor Arrow read, the driver COW delete, materialization)
  keeps the same rows for an object masked by two DVs, one of which
  spans three objects;
- an empty mask is never published, and a driver COW delete reads each
  covering DV once.
"""

import ast
import os
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from delta_lake_experiment_spark.client import DeltaLakeClient
from delta_lake_experiment_spark.plans import deletion_vectors as dvfile
from delta_lake_experiment_spark.plans.snapshot import replay_log
from delta_lake_experiment_spark.storage.objectstore import LocalObjectStorage
from delta_lake_experiment_spark.streaming.engine_source import read_table_stream
from test_s3_storage import _MirroredS3Client, _SparkReadableS3Storage

PACKAGE = Path(__file__).resolve().parent.parent / "delta_lake_experiment_spark"
OWNER = PACKAGE / "plans" / "deletion_vectors.py"
# the AddDeletionVector log field, owned by plans/actions.py
_LOG_FIELD = "dv_name"


def _dv_leaks(path: Path) -> list[str]:
    """String constants in ``path`` (f-string parts included) that name
    the DV column ``row_idx`` or start with the DV object prefix."""
    return [
        f"literal {node.value!r}"
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and (
            node.value == "row_idx"
            or (node.value.startswith("dv_") and node.value != _LOG_FIELD)
        )
    ]


def test_only_the_owner_knows_the_dv_file_format():
    leaks = {
        str(p.relative_to(PACKAGE)): found
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != OWNER and (found := _dv_leaks(p))
    }
    assert leaks == {}
    # the guard itself sees the owner's definitions
    assert _dv_leaks(OWNER)


def test_read_positions_reads_each_dv_once(tmp_path):
    """Positions per object, filtered to the asked objects, with a DV
    listed for several objects opened once."""
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(
        pa.table({"obj": ["x", "y", "z", "x"], "row_idx": [0, 1, 2, 5]}), a
    )
    pq.write_table(pa.table({"obj": ["x"], "row_idx": [3]}), b)
    opened = []

    def read(path, columns=None):
        opened.append(path)
        return pq.read_table(path, columns=columns)

    got = dvfile.read_positions(read, [a, b, a, a], ["x", "z"])
    assert got == {"x": {0, 3, 5}, "z": {2}}
    assert sorted(opened) == [a, b]
    tbl = pa.table({"k": list(range(6))})
    assert dvfile.apply_mask(tbl, got["x"])["k"].to_pylist() == [1, 2, 4]
    assert dvfile.apply_mask(tbl, None) is tbl


# -- one object under two DVs, one DV over three objects ----------------------

_N = 30
# stride-3 objects: object r holds k = r, r+3, ..., so every object's
# [min, max] spans almost all of 0..29 and a range predicate admits all
# three as candidates
_OBJECTS = [[k for k in range(_N) if k % 3 == r] for r in range(3)]


def _row(k):
    return (k, f"v{k}")


def _spy_driver_deletes(monkeypatch) -> list:
    """Record the candidate count of every driver-side COW delete."""
    calls = []
    orig = DeltaLakeClient._delete_rows_driver

    def spy(self, *a, **kw):
        calls.append(len(a[-1]))
        return orig(self, *a, **kw)

    monkeypatch.setattr(DeltaLakeClient, "_delete_rows_driver", spy)
    return calls


def _build_masked_table(spark, c):
    """Table ``t`` (one bucket) with three objects, DV1 masking k in
    10..20 across all three and DV2 masking k = 24 of the first;
    returns the keys a scan keeps."""
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING", bucket_by=(["k"], 1))
    c.commit_tx()
    for keys in _OBJECTS:
        c.new_tx()
        c.write_dataframe(
            "t", spark.createDataFrame([_row(k) for k in keys], "k BIGINT, v STRING")
        )
        c.commit_tx()
    for lo, hi in ((10, 20), (24, 24)):
        c.new_tx()
        c.delete_rows("t", "k", lo, hi, use_dv=True)
        c.commit_tx()
    dvs = replay_log(c.store).table_dvs("t")
    assert len(dvs) == 3
    names = {d for per_obj in dvs.values() for d in per_obj}
    assert len(names) == 2
    assert max(len(v) for v in dvs.values()) == 2  # one object, two DVs
    # one DV over three objects
    assert any(sum(d in v for v in dvs.values()) == 3 for d in names)
    return sorted(k for k in range(_N) if not (10 <= k <= 20 or k == 24))


def _rows_of(df):
    return sorted((r.k, r.v) for r in df.select("k", "v").collect())


def test_every_read_path_keeps_the_same_rows(spark, tmp_path, monkeypatch):
    store_dir = str(tmp_path / "store")
    c = DeltaLakeClient(spark, store_dir)
    keep = _build_masked_table(spark, c)
    want = [_row(k) for k in keep]

    c.new_tx()
    assert _rows_of(c.scan("t", with_stamps=False)) == want  # Spark anti-join
    c.clone_table("t", "t_clone")
    c.clone_table("t", "t_cow")
    c.commit_tx()

    c.new_tx()
    # bucketed scan of a clone: the join keys on the object's uuid hex
    assert _rows_of(c.scan_bucketed("t_clone", with_stamps=False)) == want
    c.abort_tx()

    # the streaming source's initial snapshot: executor Arrow reads
    q = (
        read_table_stream(spark, store_dir, "t")
        .writeStream.format("memory")
        .queryName("dv_parity_snapshot")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _rows_of(spark.sql("select * from dv_parity_snapshot")) == want

    # driver COW delete of an unmasked key of the doubly-masked object:
    # the rewrite applies both masks on the driver
    driver_calls = _spy_driver_deletes(monkeypatch)
    c.new_tx()
    c.delete_rows("t_cow", "k", 27, 27)
    c.commit_tx()
    assert driver_calls == [3]
    c.new_tx()
    assert _rows_of(c.scan("t_cow", with_stamps=False)) == [
        _row(k) for k in keep if k != 27
    ]
    c.abort_tx()

    c.new_tx()
    assert c.materialize_dvs("t", 0.0) == 3
    c.commit_tx()
    assert replay_log(c.store).table_dvs("t") == {}
    c.new_tx()
    assert _rows_of(c.scan("t", with_stamps=False)) == want
    c.abort_tx()


# -- store traffic --------------------------------------------------------------


class _DvCountingStore(LocalObjectStorage):
    """Local store that counts publishes and deletes of ``dv_`` objects."""

    def __init__(self, root):
        super().__init__(root)
        self.dv_publishes = 0
        self.dv_deletes = 0

    def put_file_if_absent(self, name, src_path):
        self.dv_publishes += name.startswith(dvfile.DV_PREFIX)
        return super().put_file_if_absent(name, src_path)

    def delete(self, name):
        self.dv_deletes += name.startswith(dvfile.DV_PREFIX)
        return super().delete(name)


class _DvCountingS3Client(_MirroredS3Client):
    """Mirrored S3 double that counts GetObject, CopyObject and
    DeleteObject calls on ``dv_`` keys."""

    def __init__(self, mirror_root):
        super().__init__(mirror_root, page_size=3)
        self.dv_gets = self.dv_copies = self.dv_deletes = 0

    @staticmethod
    def _is_dv(key):
        return key.rsplit("/", 1)[-1].startswith(dvfile.DV_PREFIX)

    def get_object(self, Bucket, Key):
        self.dv_gets += self._is_dv(Key)
        return super().get_object(Bucket, Key)

    def copy_object(self, **kw):
        self.dv_copies += self._is_dv(kw["Key"])
        return super().copy_object(**kw)

    def delete_object(self, Bucket, Key):
        self.dv_deletes += self._is_dv(Key)
        return super().delete_object(Bucket, Key)


def _empty_mask_delete(spark, c):
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.write_row("t", [0, "a"])
    c.write_row("t", [10, "b"])
    c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 5, 5, use_dv=True)  # 0..10 admits, no row matches
    assert c._require_tx().read_files["t"]
    assert not c._require_tx().actions
    c.commit_tx()


def test_empty_dv_mask_is_never_published_local(spark, store_dir):
    store = _DvCountingStore(store_dir)
    _empty_mask_delete(spark, DeltaLakeClient(spark, store))
    assert (store.dv_publishes, store.dv_deletes) == (0, 0)


def test_empty_dv_mask_is_never_published_s3(spark, tmp_path):
    api = _DvCountingS3Client(str(tmp_path / "mirror"))
    store = _SparkReadableS3Storage("lake", prefix="tables/e", client=api)
    _empty_mask_delete(spark, DeltaLakeClient(spark, store))
    assert (api.dv_copies, api.dv_deletes) == (0, 0)
    assert not [k for k in api.objects if "/.tmp/" in k]


def test_driver_cow_delete_reads_each_dv_once(spark, tmp_path, monkeypatch):
    """One DV covering three candidate objects is fetched once by a
    driver COW delete whose range admits all three."""
    api = _DvCountingS3Client(str(tmp_path / "mirror"))
    store = _SparkReadableS3Storage("lake", prefix="tables/r", client=api)
    c = DeltaLakeClient(spark, store)
    c.new_tx()
    c.create_table("t", "k BIGINT, v STRING")
    c.commit_tx()
    for keys in _OBJECTS:
        c.new_tx()
        for k in keys:
            c.write_row("t", list(_row(k)))
        c.commit_tx()
    c.new_tx()
    c.delete_rows("t", "k", 10, 20, use_dv=True)
    c.commit_tx()
    dvs = replay_log(store).table_dvs("t")
    assert len(dvs) == 3 and len({d for v in dvs.values() for d in v}) == 1

    driver_calls = _spy_driver_deletes(monkeypatch)
    api.dv_gets = 0
    c.new_tx()
    c.delete_rows("t", "k", 26, 26)
    c.commit_tx()
    assert driver_calls == [3]
    assert api.dv_gets == 1
    c.new_tx()
    assert sorted(c.scan_iter("t")) == [
        _row(k) for k in range(_N) if not (10 <= k <= 20 or k == 26)
    ]
    c.commit_tx()
