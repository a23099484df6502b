"""Deletion-vector files: positional soft deletes.

A deletion vector (DV) is a Parquet object ``dv_<table>_<hex>.parquet``
of ``(obj, row_idx)`` pairs; every scan drops the rows it names (the
reference's README.md:38 roadmap item, Delta's remove-without-rewrite
pattern). The log carries only :class:`AddDeletionVector` actions that
attach a DV to the objects it masks; this module is the only one that
knows the DV object naming and its columns. It provides:

- :func:`write_mask` — stage, check and publish the mask of a write;
- :func:`join_mask` — the Spark mask frame, joined against a scan's
  ``(__obj, __ridx)`` position columns;
- :func:`read_positions` — the Arrow reader, positions per object, each
  DV read once per call (a path on executors, store bytes on the
  driver);
- :func:`apply_mask` — drop masked positions from an Arrow table;
- :func:`covering` — the DV names that mask any of some objects.
"""

from __future__ import annotations

import uuid
from typing import Any, Callable, Iterable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from delta_lake_experiment_spark.plans.actions import AddDeletionVector

DV_PREFIX = "dv_"
_OBJ, _ROW = "obj", "row_idx"


def covering(table_dvs: dict[str, Iterable[str]], objects: Iterable[str]) -> list[str]:
    """Sorted names of the DVs that mask any of ``objects``
    (``table_dvs`` maps object -> DV names, as ``Snapshot.table_dvs``)."""
    return sorted({dv for o in objects for dv in table_dvs.get(o, ())})


def write_mask(
    store, write_parquet: Callable, table: str, tx_id: int, positions: DataFrame
) -> Optional[AddDeletionVector]:
    """Publish the masked positions of ``positions`` (a scan frame with
    ``__obj``/``__ridx`` columns) as one DV object and return its log
    action, or None when no row is masked.

    The mask is written by ``write_parquet(df, uri)`` into a staging
    area, its ``obj`` column is read from the staged file, and only a
    mask with rows is published (hard link locally, server-side copy on
    S3) — an empty mask never reaches the store's namespace."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    area = store.begin_staging()
    try:
        write_parquet(
            positions.select(
                F.col("__obj").alias(_OBJ), F.col("__ridx").alias(_ROW)
            ).coalesce(1),
            area.uri,
        )
        staged = area.list_staged()
        if not staged:
            return None
        objs = pq.read_table(
            pa.BufferReader(area.read(staged[0])), columns=[_OBJ]
        )[_OBJ].to_pylist()
        if not objs:
            return None
        name = f"{DV_PREFIX}{table}_{uuid.uuid4().hex}.parquet"
        area.publish(staged[0], name)
        return AddDeletionVector(
            table=table,
            dv_name=name,
            objects=sorted(set(objs)),
            tx_id=tx_id,
            num_deleted=len(objs),
        )
    finally:
        area.discard()


def join_mask(
    df: DataFrame,
    store,
    dv_names: list[str],
    how: str = "left_anti",
    objects: Optional[Iterable[str]] = None,
    key: Optional[Callable[[Column], Column]] = None,
) -> DataFrame:
    """Join ``df``'s ``__obj``/``__ridx`` position columns against the
    mask of DVs ``dv_names``. ``"left_anti"`` drops the masked rows: a
    scan, which broadcasts the mask (deletion vectors are small by
    design: materialization folds them before they grow).
    ``"left_semi"`` keeps only them: the change feed, whose join
    strategy stays the planner's. ``objects`` restricts the mask to
    those objects; ``key`` maps the mask's object name to the join key
    when ``__obj`` holds something else (the bucketed scan's uuid hex)."""
    mask = df.sparkSession.read.parquet(*[store.path_of(n) for n in dv_names])
    if objects is not None:
        mask = mask.filter(F.col(_OBJ).isin(sorted(objects)))
    obj = F.col(_OBJ)
    mask = mask.select(
        (key(obj) if key else obj).alias("__dv_obj"),
        F.col(_ROW).alias("__dv_ridx"),
    )
    return df.join(
        F.broadcast(mask) if how == "left_anti" else mask,
        (F.col("__obj") == F.col("__dv_obj"))
        & (F.col("__ridx") == F.col("__dv_ridx")),
        how,
    )


def read_positions(
    read: Callable[..., Any],
    dvs: Iterable[str],
    objects: Optional[Iterable[str]] = None,
) -> dict[str, set[int]]:
    """``{object: masked row positions}`` from DV files ``dvs``, each
    read once; only ``objects`` when given. ``read(ref, columns=...)``
    opens one DV as an Arrow table: ``pyarrow.parquet.read_table`` on a
    path (executors), the client's store-byte reader on the driver.
    Pure pyarrow — no Spark job, runs in Python data source workers."""
    wanted = None if objects is None else set(objects)
    out: dict[str, set[int]] = {}
    for ref in dict.fromkeys(dvs):
        tbl = read(ref, columns=[_OBJ, _ROW])
        for o, i in zip(tbl[_OBJ].to_pylist(), tbl[_ROW].to_pylist()):
            if wanted is None or o in wanted:
                out.setdefault(o, set()).add(int(i))
    return out


def apply_mask(tbl, positions: Optional[set[int]]):
    """``tbl`` (one data object read as Arrow) without the rows at the
    masked ``positions``; O(mask) to build, not O(rows) in Python."""
    if not positions:
        return tbl
    import numpy as np
    import pyarrow as pa

    keep = np.ones(tbl.num_rows, dtype=bool)
    keep[np.fromiter(positions, dtype=np.int64, count=len(positions))] = False
    return tbl.filter(pa.array(keep))
