"""Out-of-program tracing for the benchmark's traced runs.

The program is not edited: :class:`Tracer` patches the public entry
points of each layer from outside and restores them on
:meth:`Tracer.uninstall`. Functions imported by name into other modules
(``replay_log`` is looked up in ``client``, ``streaming.engine_source``
and ``plans``) are replaced in every module that holds them, and
``LocalObjectStorage`` methods are wrapped on the class, so every store
instance is seen.

Span names are ``<layer>.<boundary>``. Each wrapped call records a span
``(id, name, start, end, parent, request, error, thread)``; spans stay
in memory and are written out once, at the end. Counts (bytes, entries,
files kept) are taken at the same boundaries, outside the span's own
interval.

An op runs on one thread, but a streaming query's ``foreachBatch``
callbacks run on PySpark's callback-server thread while the op's thread
waits for the query. A span that opens with nothing open on its own
thread while an op's top-level span is open on the op thread is made a
child of that span, with the op's request id, so its time is counted
once: under its own layer, not also as the op's self time.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from statistics import median


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: Counter = Counter()
        # counts and start time at the start of the measured window
        self.window_counts: Counter = Counter()
        self.t_window = float("-inf")
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.active = False
        # the thread that runs ops, and the (id, request) of the
        # top-level span open on it, if any
        self._op_thread: int | None = None
        self._op_root: tuple[int, str | None] | None = None

    # -- request / span bookkeeping ------------------------------------

    def set_request(self, rid: str | None) -> None:
        """Called by the op thread when an op starts (``rid``) and ends
        (``None``)."""
        self._tls.rid = rid
        self._op_thread = threading.get_ident() if rid is not None else None

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def in_span(self, name: str) -> bool:
        return any(n == name for _, n, _ in self._stack())

    def wrap(self, fn, name: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            st = tracer._stack()
            sid = next(tracer._ids)
            me = threading.get_ident()
            op_root = False
            if st:
                parent, rid = st[-1][0], st[-1][2]
            elif me != tracer._op_thread and tracer._op_root is not None:
                parent, rid = tracer._op_root  # a callback working for the op
            else:
                parent, rid = None, getattr(tracer._tls, "rid", None)
                op_root = me == tracer._op_thread
                if op_root:
                    tracer._op_root = (sid, rid)
            st.append((sid, name, rid))
            err = out = None
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                return out
            except BaseException as e:
                err = type(e).__name__
                raise
            finally:
                t1 = time.perf_counter()
                st.pop()
                if op_root:
                    tracer._op_root = None
                tracer.spans.append((sid, name, t0, t1, parent, rid, err, me))
                tracer.counts[name] += 1
                if after is not None:
                    after(args, out, err)

        return wrapper

    # -- patching ------------------------------------------------------

    def _patch(self, owner, attr: str, name: str, after=None) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(raw, classmethod):
            new = classmethod(self.wrap(raw.__func__, name, after))
        else:
            new = self.wrap(raw, name, after)
        self._patches.append((owner, attr, raw))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every layer boundary. Idempotent."""
        if self.active:
            return
        from delta_lake_experiment_spark import client as client_mod
        from delta_lake_experiment_spark.plans import snapshot as snap_mod
        from delta_lake_experiment_spark.storage.objectstore import LocalObjectStorage

        C = client_mod.DeltaLakeClient
        for attr in ("new_tx", "commit_tx", "run_tx", "write_row", "write_dataframe",
                     "scan", "delete_rows", "merge", "compact", "scan_latest",
                     "_reconcile_interleaved", "_restamp_tables", "_maybe_checkpoint"):
            self._patch(C, attr, f"client.{attr.lstrip('_')}")
        # the Spark data path the client drives
        self._patch(C, "_read_live", "spark.read_live")
        self._patch(C, "_write_parquet_staging", "spark.write_staging")

        S = snap_mod.Snapshot
        self._patch(S, "from_checkpoint", "snapshot.checkpoint_load")
        self._patch(S, "to_checkpoint", "snapshot.to_checkpoint")
        self._patch(S, "apply", "snapshot.apply")
        self._patch(S, "live_files", "snapshot.live_files", self._after_live_files)

        # replay_log is imported by name: patch every module holding it
        orig = snap_mod.replay_log
        wrapped = self.wrap(orig, "snapshot.replay_log")
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("delta_lake_experiment_spark")
                    and getattr(mod, "replay_log", None) is orig):
                self._patches.append((mod, "replay_log", orig))
                setattr(mod, "replay_log", wrapped)

        L = LocalObjectStorage
        self._patch(L, "put_if_absent", "store.put_if_absent", self._after_put)
        self._patch(L, "put", "store.put", self._after_put)
        self._patch(L, "put_file_if_absent", "store.put_file_if_absent", self._after_put_file)
        self._patch(L, "read", "store.read", self._after_read)
        self._patch(L, "list_prefix_ordered", "store.list", self._after_list)
        self._patch(L, "delete", "store.delete")
        self.active = True

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()
        self.active = False

    # -- counters taken at the boundaries ------------------------------

    def _after_put(self, args, out, err) -> None:
        name, data = args[1], args[2]
        if not name.startswith("_log_"):
            if err is None:
                self.counts["store.write_bytes"] += len(data)
            return
        # one log put is one commit attempt; a collision is a lost race
        self.counts["store.log_put_attempts"] += 1
        if err is None:
            self.counts["store.write_bytes"] += len(data)
            self.counts["store.log_bytes"] += len(data)
            self.counts["store.log_puts_ok"] += 1
        elif err == "ObjectExistsError":
            self.counts["store.log_put_collisions"] += 1

    def _after_put_file(self, args, out, err) -> None:
        if err is None:
            self.counts["store.write_bytes"] += os.path.getsize(args[0].path_of(args[1]))

    def _after_read(self, args, out, err) -> None:
        if err is not None:
            return
        self.counts["store.read_bytes"] += len(out)
        if args[1].startswith("_log_") and self.in_span("snapshot.replay_log"):
            self.counts["snapshot.records_folded"] += 1

    def _after_list(self, args, out, err) -> None:
        self.counts["store.root_entries"] += len(os.listdir(args[0].root))

    def _after_live_files(self, args, out, err) -> None:
        if err is not None:
            return
        snap, table = args[0], args[1]
        self.counts["snapshot.files_kept"] += len(out)
        self.counts["snapshot.files_live"] += len(snap.live_objects(table))

    # -- output ----------------------------------------------------------

    def dump(self, path: str, t_base: float) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, rid, err, thread in self.spans:
                f.write(json.dumps({
                    "id": sid, "name": name, "start_ms": (t0 - t_base) * 1e3,
                    "end_ms": (t1 - t_base) * 1e3, "parent": parent,
                    "request": rid, "error": err, "thread": thread,
                }) + "\n")

    def mark_window(self) -> None:
        """Start of the measured window: per-op ratios count from here."""
        self.window_counts = Counter(self.counts)
        self.t_window = time.perf_counter()

    def window_counts_delta(self) -> Counter:
        return self.counts - self.window_counts

    def durations(self, name: str) -> list[float]:
        """Durations of the ``name`` spans that started in the window."""
        return [t1 - t0 for _, n, t0, t1, *_ in self.spans
                if n == name and t0 >= self.t_window]

    def quarters(self, name: str) -> tuple[list[float], list[float]]:
        """Durations of the first and the last quarter of all ``name``
        spans in start order, set-up included: on a growing log these
        show the cost as a function of log length."""
        xs = [t1 - t0 for _, n, t0, t1, *_ in sorted(s for s in self.spans if s[1] == name)]
        k = len(xs) // 4
        return (xs[:k], xs[-k:]) if k else ([], [])

    def self_time_by_layer(self, t_from: float) -> dict[str, float]:
        """Seconds of self time per layer, over spans that started at or
        after ``t_from``: span duration minus the time its direct
        children cover. Children run nested on the parent's thread, or
        on a callback thread while the parent's thread waits."""
        child = defaultdict(float)
        for _, _, t0, t1, parent, *_ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, name, t0, t1, *_ in self.spans:
            if t0 >= t_from:
                out[name.split(".")[0]] += max(0.0, (t1 - t0) - child[sid])
        return out

    def children_named(self, parent_name: str, child_name: str) -> set[int]:
        """Ids of ``parent_name`` spans with at least one ``child_name`` child."""
        ids = {sid for sid, n, *_ in self.spans if n == parent_name}
        return {p for _, n, _, _, p, *_ in self.spans if n == child_name and p in ids}


class StreamRuns:
    """Run ids of the streaming queries started since the last
    :meth:`take`. A streaming query runs its micro-batch jobs under a
    job group named after its run id, not under the job group of the op
    that started it."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        runs = self._runs = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                runs.append(str(event.runId))

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def take(self) -> list[str]:
        out = self._runs[:]
        del self._runs[:len(out)]
        return out


def p50_ms(xs: list[float]) -> float:
    return median(xs) * 1e3 if xs else 0.0
