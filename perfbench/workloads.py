"""The benchmark's closed-loop workloads.

Every caller waits for its transaction (or query) to finish before it
sends the next one. A workload sees only keys, values and op sequences
generated from the run's seed. Op mixes are drawn per block: every
block of an OLTP workload holds the same number of ops of each type in
a seeded order, so two runs with different seeds do the same work and
their throughputs compare.

Each workload function gets a :class:`Run` and fills it: one
:class:`Op` per operation, one duration per cycle (a fixed set of
transactions or one query pass), the set-up time, correctness checks
and a ``detail`` dict of workload-specific figures.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable, Optional

from datagen import write_tables

KEY_SPACE = 1 << 40
# oltp_point block: 60% appends, 25% point deletes, 15% point reads of
# live keys
OLTP_BLOCK = ["append"] * 12 + ["point_delete"] * 5 + ["point_read"] * 3
# commits in the seeded store every oltp_point cycle starts from: the
# log has passed 8 checkpoint intervals (CHECKPOINT_INTERVAL = 32)
OLTP_SEED_COMMITS = 256
OLTP_CYCLE_BLOCKS = 2
OLTP_WARMUP_CYCLES = 2
# One query pass must fit the benchmark's per-run time budget, so this
# is an 8-query cut across the registry's modules: relational
# aggregates and joins, temporal windows, exact and MinHash dedup (the
# latter has no oracle), an engine COW and DV range delete, the change
# feed, and a streaming HLL sketch through the exactly-once engine sink.
ANALYTIC_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "hourly_event_windows",
    "dedup_exact_documents", "near_dup_minhash", "engine_delete_range",
    "engine_change_feed", "streaming_cardinality_sketch",
]


@dataclass
class Op:
    kind: str
    start: float
    end: float
    ok: bool
    traced: bool
    jobs: int = 0


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    sf: float
    work: str
    repo: str
    tracer: object = None  # tracing.Tracer in a traced run
    stream_runs: object = None  # tracing.StreamRuns, made by the first traced op
    ops: list = field(default_factory=list)
    cycles: list = field(default_factory=list)  # seconds per measured cycle
    setup_s: float = 0.0
    window: tuple = (0.0, 0.0)
    checks: int = 0
    check_failures: list = field(default_factory=list)
    loose_failures: int = 0
    op_errors: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str, op: Optional["Op"] = None) -> bool:
        """Record one correctness check. A failure fails ``op``, or, for a
        check made outside any op, counts as one more failed op."""
        self.checks += 1
        if not ok:
            self.check_failures.append(what)
            if op is not None:
                op.ok = False
            else:
                self.loose_failures += 1
        return ok

    # -- tracing helpers: no-ops in untraced runs -------------------------

    def set_traced(self, on: bool) -> None:
        if self.tracer is not None:
            (self.tracer.install if on else self.tracer.uninstall)()

    def mark_window(self) -> float:
        """Start the measured window; returns its start time."""
        if self.tracer is not None:
            self.tracer.mark_window()
        return time.perf_counter()

    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.active

    def spark_action(self, df):
        """``df.collect()``, traced as a span of the Spark data path."""
        if self.traced():
            return self.tracer.wrap(df.collect, "spark.collect")()
        return df.collect()

    def timed(self, kind: str, fn: Callable, rid: str):
        """Run one op in a closed loop; returns (ok, result)."""
        sc = self.spark.sparkContext
        traced = self.traced()
        if traced:
            if self.stream_runs is None:
                from tracing import StreamRuns

                self.stream_runs = StreamRuns(self.spark)
            self.stream_runs.take()  # queries of earlier, untraced ops
            self.tracer.set_request(rid)
            sc.setJobGroup(rid, kind)
        ok, out = True, None
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # an op failure is counted, not fatal
            ok = False
            out = e
            self.op_errors.append(f"{kind}: {type(e).__name__}: {e}"[:300])
        t1 = time.perf_counter()
        jobs = 0
        if traced:
            # the op's own jobs, and the micro-batch jobs of the streaming
            # queries it started
            tracker = sc.statusTracker()
            jobs = sum(len(tracker.getJobIdsForGroup(g))
                       for g in [rid] + self.stream_runs.take())
            self.tracer.set_request(None)
        self.ops.append(Op(kind, t0, t1, ok, traced, jobs))
        return ok, out


def _new_client(run: Run, root: str, **kw):
    from delta_lake_experiment_spark.client import DeltaLakeClient

    return DeltaLakeClient(run.spark, root, **kw)


def _tx(c, fn):
    """One transaction: begin, ``fn(c)``, commit; aborts on failure."""
    c.new_tx()
    try:
        out = fn(c)
    except BaseException:
        c.abort_tx()
        raise
    c.commit_tx()
    return out


def _dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def space_amp(root: str, tables: list[str]) -> float:
    """Bytes under the store root / bytes of the live data objects."""
    from delta_lake_experiment_spark.plans.snapshot import replay_log
    from delta_lake_experiment_spark.storage.objectstore import LocalObjectStorage

    store = LocalObjectStorage(root)
    snap = replay_log(store)
    live = sum(store.size(o.name) or 0 for t in tables for o in snap.live_objects(t))
    return _dir_bytes(root) / live if live else 0.0


class _Keys:
    """Live keys with O(1) insert, delete and seeded random choice."""

    def __init__(self) -> None:
        self.vals: dict[int, int] = {}
        self._list: list[int] = []
        self._pos: dict[int, int] = {}

    def add(self, k: int, v: int) -> None:
        self.vals[k] = v
        self._pos[k] = len(self._list)
        self._list.append(k)

    def remove(self, k: int) -> None:
        del self.vals[k]
        i = self._pos.pop(k)
        last = self._list.pop()
        if last != k:
            self._list[i] = last
            self._pos[last] = i

    def choice(self, rng: random.Random) -> int:
        return self._list[rng.randrange(len(self._list))]


def _block(rng: random.Random, block: list[str]) -> list[str]:
    b = list(block)
    rng.shuffle(b)
    return b


def _clone(template: str, root: str) -> str:
    """A store holding the template's objects, by hard link (no bytes
    copied). Objects are immutable and every store write creates or
    replaces a name, so writes to the clone never reach the template."""
    os.makedirs(root)
    for name in os.listdir(template):
        src = os.path.join(template, name)
        if os.path.isfile(src):
            os.link(src, os.path.join(root, name))
    return root


def _measure(run: Run, t_setup: float, warmup: int, cycle: Callable[[int], float],
             toggle: bool = True, trace_min: int = 4) -> None:
    """``warmup`` cycles (set-up, numbered -1, -2, ...), then measured
    cycles until ``run.seconds`` have passed. ``cycle(i)`` returns the
    cycle's duration. A traced run makes at least ``trace_min`` cycles;
    with ``toggle`` its odd cycles run traced and its even ones
    untraced, otherwise the cycle switches tracing itself."""
    for i in range(warmup):
        cycle(-1 - i)
    # warm-up ops leave the op list, but their failures still count
    warm_failed = sorted({o.kind for o in run.ops if not o.ok})
    if warm_failed:
        run.loose_failures += sum(not o.ok for o in run.ops)
        run.check_failures.append(f"failed warm-up ops: {', '.join(warm_failed)}")
    run.ops.clear()
    w0 = run.mark_window()
    run.setup_s = w0 - t_setup
    i = 0
    while time.perf_counter() - w0 < run.seconds or (run.tracer is not None and i < trace_min):
        if toggle:
            run.set_traced(i % 2 == 1)
        run.cycles.append(cycle(i))
        i += 1
    run.set_traced(False)
    run.window = (w0, time.perf_counter())


# ---------------------------------------------------------------------------
# oltp_point
# ---------------------------------------------------------------------------

def oltp_point(run: Run) -> None:
    """Every cycle starts from a hard-link clone of one seeded store, so
    each cycle does the same work at the same log length however fast
    the previous ones ran: a cycle's 34 commits take the log from
    version 257 past the checkpoint at 288."""
    t_setup = time.perf_counter()
    rng = random.Random(run.seed)
    template = os.path.join(run.work, "oltp_template")
    seeder = _new_client(run, template, dataobject_size=10)
    _tx(seeder, lambda c: c.create_table("kv", "k BIGINT, v BIGINT"))
    used: set[int] = set()

    def fresh_key() -> int:
        while True:
            k = rng.randrange(KEY_SPACE)
            if k not in used:
                used.add(k)
                return k

    seeded: list[tuple[int, int]] = []
    # a traced run also traces the seeding: the trace then covers the
    # log from its first commit (snapshot/store cost vs log length)
    run.set_traced(True)
    for _ in range(OLTP_SEED_COMMITS):
        k, v = fresh_key(), rng.randrange(KEY_SPACE)
        _tx(seeder, lambda c: c.write_row("kv", [k, v]))
        seeded.append((k, v))
    run.set_traced(False)
    last: dict = {}

    def cycle(ci: int) -> float:
        root = _clone(template, os.path.join(run.work, f"oltp_{ci}"))
        c = _new_client(run, root, dataobject_size=10)
        live = _Keys()
        for k, v in seeded:
            live.add(k, v)
        kinds = [k for _ in range(OLTP_CYCLE_BLOCKS) for k in _block(rng, OLTP_BLOCK)]
        t0 = time.perf_counter()
        for n, kind in enumerate(kinds):
            rid = f"c{ci}op{n}"
            if kind == "append":
                k, v = fresh_key(), rng.randrange(KEY_SPACE)
                ok, _ = run.timed(kind, lambda: _tx(c, lambda c: c.write_row("kv", [k, v])), rid)
                if ok:
                    live.add(k, v)
            elif kind == "point_delete":
                k = live.choice(rng)
                ok, _ = run.timed(kind, lambda: _tx(c, lambda c: c.delete_rows("kv", "k", k, k)),
                                  rid)
                if ok:
                    live.remove(k)
            else:
                k = live.choice(rng)
                ok, rows = run.timed(kind, lambda: _tx(c, lambda c: run.spark_action(c.scan(
                    "kv", prune={"k": (k, k)}, with_stamps=False))), rid)
                if ok:
                    got = sorted(tuple(r) for r in rows)
                    want = [(k, live.vals[k])]
                    run.check(got == want, f"point read k={k}: got {got}, want {want}",
                              run.ops[-1])
        dt = time.perf_counter() - t0
        if last:
            shutil.rmtree(last["root"], ignore_errors=True)
        last.update(root=root, live=live)
        return dt

    _measure(run, t_setup, OLTP_WARMUP_CYCLES, cycle)

    # every acknowledged commit must survive a restart: a fresh client
    # replays the last cycle's store from disk and must return the model
    fresh = _new_client(run, last["root"], dataobject_size=10)
    rows = _tx(fresh, lambda c: c.scan("kv", with_stamps=False).collect())
    got = sorted(tuple(r) for r in rows)
    run.check(got == sorted(last["live"].vals.items()),
              f"restart replay: {len(got)} rows vs {len(last['live'].vals)} in the model")
    run.detail["log_versions"] = len(fresh.store.list_prefix_ordered("_log_"))
    run.detail["space_amp"] = space_amp(last["root"], ["kv"])


# ---------------------------------------------------------------------------
# analytic_queries
# ---------------------------------------------------------------------------

def _load_oracle_checker(repo: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(repo, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def analytic_queries(run: Run) -> None:
    import duckdb

    from delta_lake_experiment_spark.functions.cache import release_caches
    from delta_lake_experiment_spark.workloads import all_oracles, all_queries

    t_setup = time.perf_counter()
    spark = run.spark
    data = os.path.join(run.work, "data")
    sizes = write_tables(data, run.seed, run.sf)
    run.detail["source_bytes"] = sizes
    queries, oracles = all_queries(), all_oracles()
    canon = _load_oracle_checker(run.repo).canon_rows
    con = duckdb.connect()
    for t in sizes:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    digests: dict[str, str] = {}
    paused = 0.0

    def collect(name: str):
        release_caches(spark)
        df = queries[name](spark, data)
        return df.columns, [tuple(r) for r in df.collect()]

    def digest(cols, rows) -> str:
        return hashlib.sha256(repr(canon(rows, cols)).encode()).hexdigest()

    # first pass (set-up): collect every result; the oracle comparison
    # itself is left out of the set-up time
    for name in ANALYTIC_QUERIES:
        try:
            cols, rows = collect(name)
        except Exception as e:
            run.check(False, f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        p0 = time.perf_counter()
        if name in oracles:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            run.check(len(rows) == len(orows) and sorted(cols) == sorted(ocols)
                      and canon(rows, cols) == canon(orows, ocols),
                      f"{name}: {len(rows)} rows differ from the DuckDB oracle ({len(orows)} rows)")
        else:
            digests[name] = digest(cols, rows)
        paused += time.perf_counter() - p0
    con.close()

    def run_query(name: str) -> None:
        queries[name](spark, data).write.mode("overwrite").format("noop").save()

    def one_pass(p: int) -> float:
        t0 = time.perf_counter()
        for qi, name in enumerate(ANALYTIC_QUERIES):
            release_caches(spark)
            # a traced run traces every other query, alternating by pass
            run.set_traced(p >= 0 and (qi + p) % 2 == 0)
            fn = (lambda name=name: run.tracer.wrap(run_query, f"query.{name}")(name)) \
                if run.traced() else (lambda name=name: run_query(name))
            run.timed(name, fn, f"p{p}{name}")
        run.set_traced(False)
        return time.perf_counter() - t0

    # the second warm-up pass (through the noop sink, as measured) leaves
    # the first measured pass as fast as the later ones
    _measure(run, t_setup, 1, one_pass, toggle=False, trace_min=2)
    run.setup_s -= paused
    # a query without an oracle must repeat its first result
    for name, want in digests.items():
        cols, rows = collect(name)
        run.check(digest(cols, rows) == want, f"{name}: result differs between passes")
    release_caches(spark)


WORKLOADS = {
    "oltp_point": oltp_point,
    "analytic_queries": analytic_queries,
}
