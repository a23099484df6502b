"""Turn a finished :class:`workloads.Run` into the result record.

End-to-end metrics (untraced run) are defined on every workload; an op
is one transaction (``oltp_point``) or one query (``analytic_queries``),
and a cycle is a fixed set of ops: 40 transactions on a fresh store
clone, or one query pass. As every cycle does the same work, the cycle
time is the throughput metric (the detail line gives it as ops_per_s,
next to op latencies, which repeat less well from run to run).
Per-layer metrics (traced run) use only the ops and spans of traced
cycles; a layer the workload never enters reads 0.
"""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from tracing import p50_ms
from workloads import ANALYTIC_QUERIES

OLTP_KINDS = ["append", "point_delete", "point_read"]
LAYERS = ["client", "snapshot", "store", "spark", "query"]


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(run) -> dict:
    return {
        "setup_s": _m(run.setup_s, "s"),
        "cycle_s": _m(median(run.cycles), "s"),
    }


def detail_figures(run) -> dict:
    """Per-op-type latencies and workload-specific figures (untraced)."""
    ok = [o for o in run.ops if o.ok]
    by_kind = defaultdict(list)
    for o in ok:
        by_kind[o.kind].append((o.end - o.start) * 1e3)
    lat = sorted(x for xs in by_kind.values() for x in xs)
    out = {
        "ops": len(run.ops), "cycles": len(run.cycles),
        "failed_op_frac": (sum(not o.ok for o in run.ops) + run.loose_failures)
        / max(1, len(run.ops) + run.loose_failures),
        "op_p50_ms": median(lat) if lat else 0.0,
        "op_p50_ms_by_kind": {k: median(v) for k, v in sorted(by_kind.items())},
        "ops_by_kind": {k: len(v) for k, v in sorted(by_kind.items())},
    }
    # a tail percentile counts only with at least 10 samples beyond it
    for q, label in ((0.99, "op_p99_ms"), (0.9, "op_p90_ms")):
        if len(lat) * (1 - q) >= 10:
            out[label] = lat[min(len(lat) - 1, int(q * len(lat)))]
            break
    if run.cycles:
        # every cycle is the same set of ops: throughput per median cycle
        out["ops_per_s"] = len(run.ops) / len(run.cycles) / median(run.cycles)
    return out


def per_layer(run) -> dict:
    tr = run.tracer
    c = tr.window_counts_delta()
    ops = [o for o in run.ops if o.traced]
    n_tx = max(1, len(ops))
    commits = c["store.log_puts_ok"]
    replay_q = [p50_ms(x) for x in tr.quarters("snapshot.replay_log")]
    list_q = [p50_ms(x) for x in tr.quarters("store.list")]
    # checkpoint writes: the commits' checkpoint hooks that serialized one
    ckpt_writes = tr.children_named("client.maybe_checkpoint", "snapshot.to_checkpoint")
    t_win = tr.t_window

    def per(a: str, b: float) -> float:
        return c[a] / b if b else 0.0

    m = {
        "snapshot.replay_log_ms": _m(p50_ms(tr.durations("snapshot.replay_log")), "ms"),
        "snapshot.replay_log_ms_first_quarter": _m(replay_q[0], "ms"),
        "snapshot.replay_log_ms_last_quarter": _m(replay_q[1], "ms"),
        "snapshot.replay_calls_per_tx": _m(per("snapshot.replay_log", n_tx), "calls/tx"),
        "snapshot.records_folded_per_replay": _m(
            per("snapshot.records_folded", c["snapshot.replay_log"]), "records/replay"),
        "snapshot.checkpoint_write_ms": _m(p50_ms([
            t1 - t0 for sid, n, t0, t1, *_ in tr.spans if sid in ckpt_writes and t0 >= t_win]),
            "ms"),
        "snapshot.checkpoint_load_ms": _m(p50_ms(tr.durations("snapshot.checkpoint_load")), "ms"),
        "snapshot.live_files_ms": _m(p50_ms(tr.durations("snapshot.live_files")), "ms"),
        "snapshot.files_kept_frac": _m(
            per("snapshot.files_kept", c["snapshot.files_live"]), "ratio"),
        "store.list_ms": _m(p50_ms(tr.durations("store.list")), "ms"),
        "store.list_ms_first_quarter": _m(list_q[0], "ms"),
        "store.list_ms_last_quarter": _m(list_q[1], "ms"),
        "store.list_calls_per_tx": _m(per("store.list", n_tx), "calls/tx"),
        "store.root_entries_per_list": _m(
            per("store.root_entries", c["store.list"]), "entries/list"),
        "store.read_calls_per_tx": _m(per("store.read", n_tx), "calls/tx"),
        "store.read_bytes_per_tx": _m(per("store.read_bytes", n_tx), "B/tx"),
        "store.write_bytes_per_tx": _m(per("store.write_bytes", n_tx), "B/tx"),
        "store.log_bytes_per_commit": _m(per("store.log_bytes", commits), "B/commit"),
        "store.put_if_absent_collision_frac": _m(
            per("store.log_put_collisions", c["store.log_put_attempts"]), "ratio"),
        "store.space_amp": _m(run.detail.get("space_amp", 0.0), "ratio"),
        "client.commit_attempts_per_tx": _m(per("store.log_put_attempts", commits), "attempts/tx"),
    }
    # run_tx retries and conflicts, from the commit_tx spans under run_tx
    spans = [s for s in tr.spans if s[2] >= t_win]
    run_tx = {s[0] for s in spans if s[1] == "client.run_tx"}
    commits_under = [s for s in spans if s[1] == "client.commit_tx" and s[4] in run_tx]
    m["client.run_tx_retries_per_tx"] = _m(
        (len(commits_under) - len(run_tx)) / len(run_tx) if run_tx else 0.0, "retries/tx")
    all_commits = [s for s in spans if s[1] == "client.commit_tx"]
    m["client.conflict_frac"] = _m(
        sum(s[6] == "ConcurrentCommitError" for s in all_commits) / len(all_commits)
        if all_commits else 0.0, "ratio")
    for name in ("new_tx", "commit_tx"):
        m[f"client.{name}_ms"] = _m(p50_ms(tr.durations(f"client.{name}")), "ms")
    m["client.scan_plan_ms"] = _m(p50_ms(tr.durations("client.scan")), "ms")
    for name in ("write_dataframe", "delete_rows"):
        m[f"client.{name}_s"] = _m(p50_ms(tr.durations(f"client.{name}")) / 1e3, "s")
    m["spark.read_live_ms"] = _m(p50_ms(tr.durations("spark.read_live")), "ms")
    m["spark.write_staging_ms"] = _m(p50_ms(tr.durations("spark.write_staging")), "ms")
    m["spark.collect_ms"] = _m(p50_ms(tr.durations("spark.collect")), "ms")

    jobs = defaultdict(list)
    for o in ops:
        jobs[o.kind].append(o.jobs)
    m["spark.jobs_per_op"] = _m(sum(o.jobs for o in ops) / n_tx, "jobs/op")
    for k in OLTP_KINDS:
        m[f"spark.jobs_per_{k}"] = _m(
            sum(jobs[k]) / len(jobs[k]) if jobs[k] else 0.0, "jobs/op")
    q_jobs = [j for k in ANALYTIC_QUERIES for j in jobs[k]]
    m["spark.jobs_per_query"] = _m(sum(q_jobs) / len(q_jobs) if q_jobs else 0.0, "jobs/op")
    for name in ANALYTIC_QUERIES:
        xs = [o.end - o.start for o in ops if o.kind == name]
        m[f"query.{name}_s"] = _m(median(xs) if xs else 0.0, "s")

    busy = sum(o.end - o.start for o in ops)
    self_t = tr.self_time_by_layer(t_win)
    for layer in LAYERS:
        m[f"layer.{layer}_self_frac"] = _m(self_t.get(layer, 0.0) / busy if busy else 0.0, "ratio")

    # tracing overhead: traced vs untraced latency of the same op kinds
    lat = defaultdict(lambda: ([], []))
    for o in run.ops:
        if o.ok:
            lat[o.kind][0 if o.traced else 1].append(o.end - o.start)
    num = den = 0.0
    for kind, (on, off) in lat.items():
        if on and off:
            num += len(on) * (median(on) - median(off))
            den += len(on) * median(off)
    m["trace.overhead_frac"] = _m(num / den if den else 0.0, "ratio")
    m["trace.spans"] = _m(len(spans), "count")
    return m


def summarize(run, traced: bool) -> tuple[dict, dict]:
    # a failed check made outside any op counts as one more failed op
    failed = sum(not o.ok for o in run.ops) + run.loose_failures
    detail = dict(run.detail)
    detail.update(detail_figures(run), checks=run.checks,
                  check_failures=run.check_failures[:20], op_errors=run.op_errors[:20])
    result = {
        "correct": not run.check_failures,
        "attempted": len(run.ops) + run.loose_failures,
        "failed": failed,
        "metrics": per_layer(run) if traced else end_to_end(run),
    }
    return result, detail
