"""The commit-log record format has one owner: ``plans/snapshot.py``.

- a guard test keeps every other package module off the record naming
  (``LOG_PREFIX``, ``log_name``, the ``"_log_"`` literal), and every
  module outside ``plans/`` off the checkpoint payload's ``"live_ref"``;
- the single in-commit-timestamp bisect (``ts_bisect``) agrees with a
  linear scan for each of its callers' predicates, legacy records
  without a timestamp included, and reads an unreadable record as
  young only when asked to;
- the shared reader returns nothing for a record that is gone and
  re-raises for one that exists but fails to read;
- ``history()`` survives a ``vacuum_log`` reclaiming records between
  its listing and its reads.
"""

import ast
import json
import os
import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from delta_lake_experiment_spark.client import DeltaLakeClient
from delta_lake_experiment_spark.plans.snapshot import (
    LOG_PREFIX,
    log_name,
    log_versions,
    read_record,
    replay_log,
    ts_bisect,
    write_record,
)
from delta_lake_experiment_spark.storage.objectstore import (
    LocalObjectStorage,
    MemoryObjectStorage,
)

PACKAGE = Path(__file__).resolve().parent.parent / "delta_lake_experiment_spark"
OWNER = PACKAGE / "plans" / "snapshot.py"


def _format_leaks(path: Path) -> list[str]:
    """Where ``path`` touches the log record naming: an import of
    ``LOG_PREFIX``/``log_name`` (or attribute access to them) or a
    string constant starting with ``_log_`` (f-string parts included)."""
    leaks = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom):
            leaks += [
                f"imports {a.name}"
                for a in node.names
                if a.name in ("LOG_PREFIX", "log_name")
            ]
        elif isinstance(node, ast.Attribute) and node.attr in (
            "LOG_PREFIX",
            "log_name",
        ):
            leaks.append(f"uses .{node.attr}")
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.startswith("_log_")
        ):
            leaks.append(f"literal {node.value!r}")
    return leaks


def _checkpoint_payload_leaks(path: Path) -> list[str]:
    """Where ``path`` reads a checkpoint payload's part references: a
    ``"live_ref"`` string constant."""
    return [
        f"literal {node.value!r}"
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Constant) and node.value == "live_ref"
    ]


def test_only_snapshot_module_knows_the_log_record_naming():
    leaks = {
        str(p.relative_to(PACKAGE)): found
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != OWNER and (found := _format_leaks(p))
    }
    assert leaks == {}
    # the guard itself sees the owner's definitions
    assert _format_leaks(OWNER)
    # the checkpoint payload is parsed in plans/ only
    payload_leaks = {
        str(p.relative_to(PACKAGE)): found
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.parent != OWNER.parent and (found := _checkpoint_payload_leaks(p))
    }
    assert payload_leaks == {}
    assert _checkpoint_payload_leaks(OWNER)


# -- the single ICT bisect ----------------------------------------------------


def _commit(store, version: int, ts: int, txn=None) -> None:
    """Write record ``version`` stamped exactly ``ts`` (a writer clock
    at epoch 0 with ``ts - 1`` as the newest stamp seen)."""
    write_record(store, version, [], 0.0, ts - 1, txn)


def _build_log(n_legacy: int, stamps: list[int]) -> tuple[MemoryObjectStorage, list]:
    """A log of ``n_legacy`` records without ``ts`` followed by one
    record per (monotone) stamp; returns the store and the per-version
    timestamps (0 for legacy records) in version order."""
    store = MemoryObjectStorage()
    ts_by_version = []
    for v in range(1, n_legacy + 1):
        store.put_if_absent(
            log_name(v), json.dumps({"id": v, "actions": []}).encode()
        )
        ts_by_version.append(0)
    for k, ts in enumerate(stamps):
        _commit(store, n_legacy + 1 + k, ts)
        ts_by_version.append(ts)
    return store, ts_by_version


def _first(ts_by_version: list[int], pred) -> int:
    return next(
        (i for i, t in enumerate(ts_by_version) if pred(t)), len(ts_by_version)
    )


@settings(max_examples=150, deadline=None)
@given(
    n_legacy=st.integers(0, 4),
    gaps=st.lists(st.integers(1, 5), max_size=24),
    start=st.integers(1, 1_000),
    bound_off=st.integers(-3, 130),
)
def test_ts_bisect_matches_linear_scan(n_legacy, gaps, start, bound_off):
    # strictly increasing stamps, as ICT commits write them
    stamps, t = [], start
    for g in gaps:
        t += g
        stamps.append(t)
    store, ts_by_version = _build_log(n_legacy, stamps)
    versions = log_versions(store)
    assert versions == list(range(1, len(ts_by_version) + 1))
    # bounds before the first commit, inside, and after the last
    bound = start + bound_off

    # TIMESTAMP AS OF: the newest version with ts <= bound
    i = ts_bisect(store, versions, lambda ts: ts > bound)
    newest = [v for v, ts in zip(versions, ts_by_version) if ts <= bound]
    assert (versions[i - 1] if i > 0 else None) == (
        newest[-1] if newest else None
    )
    # startingTimestamp: the first version with ts >= bound
    assert ts_bisect(store, versions, lambda ts: ts >= bound) == _first(
        ts_by_version, lambda ts: ts >= bound
    )
    # vacuum_log's age cut: the first version with ts > cutoff
    assert ts_bisect(
        store, versions, lambda ts: ts > bound, young_if_unreadable=True
    ) == _first(ts_by_version, lambda ts: ts > bound)


class _UnreadableStore(MemoryObjectStorage):
    """Reads of one object fail although it still exists."""

    def __init__(self, bad: str):
        super().__init__()
        self.bad = bad

    def read(self, name):
        if name == self.bad:
            raise OSError(f"transient read failure on {name}")
        return super().read(name)


def test_ts_bisect_unreadable_record_reads_as_young():
    store = _UnreadableStore(log_name(5))
    for v in range(1, 6):
        _commit(store, v, 100 * v)
    versions = log_versions(store)
    cutoff = 10_000  # every readable record is older than the cutoff
    # vacuum_log's rule: the unreadable newest record is young, so the
    # age cut keeps it (spares more, never reclaims more)
    assert ts_bisect(
        store, versions, lambda ts: ts > cutoff, young_if_unreadable=True
    ) == 4
    # without the rule the read error surfaces
    with pytest.raises(OSError, match="transient"):
        ts_bisect(store, versions, lambda ts: ts > cutoff)


def test_ts_bisect_gone_record_reads_as_oldest():
    store, _ = _build_log(0, [10, 20, 30, 40])
    versions = log_versions(store)
    store.delete(log_name(2))  # reclaimed after the listing
    assert ts_bisect(store, versions, lambda ts: ts >= 25) == 2
    assert ts_bisect(
        store, versions, lambda ts: ts > 15, young_if_unreadable=True
    ) == 1


# -- the shared reader ----------------------------------------------------------


def test_read_record_gone_vs_unreadable():
    store = _UnreadableStore(log_name(2))
    _commit(store, 1, 7, txn=("app", 3))
    _commit(store, 2, 8)
    rec = read_record(store, 1)
    assert (rec.version, rec.ts, rec.cv, rec.txn, rec.actions) == (
        1, 7, 2, ("app", 3), []
    )
    assert read_record(store, 9) is None  # gone: nothing, no error
    with pytest.raises(OSError):
        read_record(store, 2)  # exists but fails: re-raised


def test_record_layout_is_unchanged():
    """The record layout existing logs carry: the same keys in the same
    order, so records stay byte-compatible with older readers."""
    store = MemoryObjectStorage()
    _commit(store, 3, 42, txn=("a", 1))
    assert json.loads(store.read(log_name(3))) == {
        "id": 3, "cv": 2, "ts": 42, "actions": [],
        "txn": {"app_id": "a", "batch": 1},
    }
    assert list(json.loads(store.read(log_name(3)))) == [
        "id", "cv", "ts", "actions", "txn"
    ]


def test_write_record_stamps_monotonic_ict():
    """The writer stamps max(now, newest seen + 1): a clock running
    behind the log never makes recorded timestamps regress."""
    store = MemoryObjectStorage()
    write_record(store, 1, [], 2.0, 0)  # clock ahead: its own time
    write_record(store, 2, [], 1.0, 2_000_000)  # clock behind: floor + 1
    assert [read_record(store, v).ts for v in (1, 2)] == [2_000_000, 2_000_001]


# -- history() racing vacuum_log ----------------------------------------------


class _VacuumAfterListStore(LocalObjectStorage):
    """Once armed, deletes the oldest record right after the first full
    log listing — a ``vacuum_log`` landing between ``history()``'s
    LIST and its reads."""

    armed = False

    def list_prefix_ordered(self, prefix, start_after=None):
        names = super().list_prefix_ordered(prefix, start_after=start_after)
        if self.armed and prefix == LOG_PREFIX and start_after is None:
            self.armed = False
            self.delete(names[0])
        return names


def test_history_skips_records_reclaimed_after_listing(spark, store_dir):
    store = _VacuumAfterListStore(store_dir)
    c = DeltaLakeClient(spark, store)
    c.new_tx()
    c.create_table("t", "k BIGINT")
    c.commit_tx()
    for i in range(3):
        c.new_tx()
        c.write_row("t", [i])
        c.commit_tx()
    assert replay_log(store).version == 4
    store.armed = True
    rows = c.history().collect()
    assert [r.version for r in rows] == [4, 3, 2]
    assert [r.operation for r in rows] == ["WRITE"] * 3
