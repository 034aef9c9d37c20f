"""Metrics of one benchmark run, from the JVM's run record and the check.

End-to-end metrics come from untraced passes; per-layer metrics from the
traced passes of a traced run, as the median over those passes of each
pass's total.
"""
import math
import statistics

MB = float(1 << 20)

# name, unit, in print order; perfbench/README.md defines each
END_TO_END = [
    ("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_p90_s", "s"),
    ("error_rate", "ratio"), ("door_batch_p50_s", "s"), ("write_amp", "ratio"),
    ("live_heap_peak_mb", "MB"),
]

PER_LAYER = [
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("operators.build_task_s", "s"), ("operators.driver_result_mb", "MB"),
    ("catalyst.plan_s", "s"), ("catalyst.optimize_s", "s"), ("catalyst.planning_s", "s"),
    ("plans.nodes", "count"), ("plans.exchanges", "count"),
    ("plans.reused_exchanges", "count"), ("plans.topk_nodes", "count"),
    ("execution.wall_s", "s"), ("execution.jobs", "count"), ("execution.stages", "count"),
    ("execution.tasks", "count"), ("execution.task_s", "s"), ("execution.cpu_s", "s"),
    ("execution.gc_s", "s"), ("execution.parallel_eff", "ratio"),
    ("execution.shuffle_write_mb", "MB"), ("execution.shuffle_read_mb", "MB"),
    ("execution.spill_mb", "MB"), ("execution.peak_exec_mem_mb", "MB"),
    ("execution.failed_tasks", "count"),
    ("tables.bytes_read_mb", "MB"), ("tables.rows_read", "count"),
    ("writers.bytes_written_mb", "MB"), ("writers.rows_written", "count"),
    ("writers.files_written", "count"), ("writers.live_files", "count"),
    ("writers.live_mb", "MB"), ("writers.write_amp", "ratio"),
    ("models.build_s", "s"), ("models.driver_result_mb", "MB"),
    ("streaming.batches", "count"), ("streaming.batch_p50_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.latest_offset_ms", "ms"),
    ("streaming.rows_per_s", "1/s"),
    ("self.bench_s", "s"), ("self.operators_s", "s"), ("self.catalyst_s", "s"),
    ("self.execution_s", "s"), ("self.models_s", "s"), ("self.streaming_s", "s"),
    ("trace.pass_s", "s"), ("trace.untraced_pass_s", "s"), ("trace.overhead_s", "s"),
]

# the layer a span's self time is booked to
SELF_LAYER = {"bench": "bench", "op": "bench", "operators": "operators",
              "catalyst": "catalyst", "execution": "execution", "models": "models",
              "streaming": "streaming"}


def percentile(values, q: float, min_beyond: int = 10):
    """Nearest-rank q-quantile of `values`, or None unless at least
    `min_beyond` samples lie beyond it."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def self_times(spans: list) -> dict:
    """span id -> duration minus the part of it its children cover (ns)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cursor = 0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], cursor), min(c["end_ns"], hi)
            if b > a:
                covered += b - a
                cursor = b
        out[s["id"]] = (hi - lo) - covered
    return out


def descendants(spans: list, root: int) -> list:
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


def failed_ops(rec: dict, verdicts: dict) -> set:
    """names of operations whose output check failed or could not run"""
    bad = set()
    names = {o["op"] for o in rec["ops"]}
    for n in names:
        v = verdicts.get(n, "no output captured")
        if isinstance(v, tuple):
            if any(verdicts.get(t, "no output captured") is not None for t in v[1]):
                bad.add(n)
        elif v is not None:
            bad.add(n)
    return bad


def unchecked_ops(verdicts: dict) -> list:
    return sorted(n for n, v in verdicts.items() if isinstance(v, tuple) and not v[1])


def end_to_end(rec: dict, verdicts: dict) -> dict:
    """metric name -> value, or None where the metric does not apply"""
    bad = failed_ops(rec, verdicts)
    ops = [o for o in rec["ops"] if not rec["trace"] or not _traced_pass(rec, o["pass"])]
    passes = [p for p in rec["passes"] if not p["traced"]]
    good = [(o["build_ns"] + o["plan_ns"] + o["exec_ns"]) / 1e9
            for o in ops if o["ok"] and o["op"] not in bad]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["op"] in bad)
    walls = [p["wall_ns"] / 1e9 for p in passes if p["ok"]]
    door = [b["trigger_ms"] / 1e3 for p in passes for b in p["door"]]
    upsert = sum(p["upsert_bytes"] for p in passes)
    return {
        "setup_s": rec["setup_s"],
        "pass_s": statistics.median(walls) if walls else None,
        "op_p50_s": statistics.median(good) if good else None,
        "op_p90_s": percentile(good, 0.9),
        "error_rate": failed / attempted if attempted else None,
        "door_batch_p50_s": statistics.median(door) if door else None,
        "write_amp": sum(p["upsert_written_bytes"] for p in passes) / upsert if upsert else None,
        "live_heap_peak_mb": max(p["old_gen_bytes"] for p in passes) / MB,
        "_attempted": attempted, "_failed": failed, "_samples": len(good),
    }


def _traced_pass(rec: dict, index: int) -> bool:
    return any(p["pass"] == index and p["traced"] for p in rec["passes"])


def pass_layers(rec: dict, p: dict, selfs: dict) -> dict:
    """every per-layer metric of one traced pass"""
    spans = descendants(rec["spans"], p["span"])
    counters = rec["counters"]
    ops = [o for o in rec["ops"] if o["pass"] == p["pass"]]

    def c(span_list, key):
        return sum(counters.get(str(s["id"]), {}).get(key, 0) for s in span_list)

    def dur(span_list):
        return sum(s["end_ns"] - s["start_ns"] for s in span_list) / 1e9

    builds = [s for s in spans if s["name"] == "build"]
    op_build = [s for s in builds if s["layer"] == "operators"]
    model_build = [s for s in builds if s["layer"] == "models"]
    plan = [s for s in spans if s["name"] == "plan"]
    execute = [s for s in spans if s["name"] == "execute"]
    everything = spans + [s for s in rec["spans"] if s["id"] == p["span"]]
    exec_wall = dur(execute)
    task_s = c(execute, "task_ns") / 1e9
    door = p["door"]
    door_s = sum(b["trigger_ms"] for b in door) / 1e3

    m = {
        "operators.build_s": dur(op_build),
        "operators.build_jobs": c(op_build, "jobs"),
        "operators.build_task_s": c(op_build, "task_ns") / 1e9,
        "operators.driver_result_mb": c(op_build, "result_bytes") / MB,
        "catalyst.plan_s": dur(plan),
        "catalyst.optimize_s": sum(o["optimize_ms"] or 0 for o in ops) / 1e3,
        "catalyst.planning_s": sum(o["planning_ms"] or 0 for o in ops) / 1e3,
        "execution.wall_s": exec_wall,
        "execution.jobs": c(execute, "jobs"),
        "execution.stages": c(execute, "stages"),
        "execution.tasks": c(execute, "tasks"),
        "execution.task_s": task_s,
        "execution.cpu_s": c(execute, "cpu_ns") / 1e9,
        "execution.gc_s": c(execute, "gc_ns") / 1e9,
        "execution.parallel_eff": task_s / (exec_wall * rec["nproc"]) if exec_wall else 0.0,
        "execution.shuffle_write_mb": c(execute, "shuffle_write") / MB,
        "execution.shuffle_read_mb": c(execute, "shuffle_read") / MB,
        "execution.spill_mb": c(execute, "spill") / MB,
        "execution.peak_exec_mem_mb": max([counters.get(str(s["id"]), {}).get("peak_exec_mem", 0)
                                           for s in execute] + [0]) / MB,
        "execution.failed_tasks": c(execute, "failed_tasks"),
        "tables.bytes_read_mb": c(everything, "in_bytes") / MB,
        "tables.rows_read": c(everything, "in_rows"),
        "writers.bytes_written_mb": c(everything, "out_bytes") / MB,
        "writers.rows_written": c(everything, "out_rows"),
        "writers.files_written": p["files_written"],
        "writers.live_files": p["live_files"],
        "writers.live_mb": p["live_bytes"] / MB,
        "writers.write_amp": (p["upsert_written_bytes"] / p["upsert_bytes"]
                              if p["upsert_bytes"] else 0.0),
        "models.build_s": dur(model_build),
        "models.driver_result_mb": c(model_build, "result_bytes") / MB,
        "streaming.batches": len(door),
        "streaming.batch_p50_ms": statistics.median([b["trigger_ms"] for b in door]) if door else 0.0,
        "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in door),
        "streaming.query_planning_ms": sum(b["query_planning_ms"] for b in door),
        "streaming.wal_commit_ms": sum(b["wal_commit_ms"] for b in door),
        "streaming.latest_offset_ms": sum(b["latest_offset_ms"] for b in door),
        "streaming.rows_per_s": sum(b["rows"] for b in door) / door_s if door_s else 0.0,
    }
    for o in ops:
        for k, v in (o.get("plan") or {}).items():
            m["plans." + k] = m.get("plans." + k, 0) + v
    for k in ("nodes", "exchanges", "reused_exchanges", "topk_nodes"):
        m.setdefault("plans." + k, 0)
    for layer in set(SELF_LAYER.values()):
        m[f"self.{layer}_s"] = 0.0
    for s in everything:
        m[f"self.{SELF_LAYER[s['layer']]}_s"] += selfs[s["id"]] / 1e9
    return m


def per_layer(rec: dict) -> dict:
    selfs = self_times(rec["spans"])
    traced = [p for p in rec["passes"] if p["traced"] and p["ok"]]
    untraced = [p for p in rec["passes"] if not p["traced"] and p["ok"]]
    rows = [pass_layers(rec, p, selfs) for p in traced]
    out = {name: (statistics.median([r[name] for r in rows]) if rows else None)
           for name, _ in PER_LAYER if not name.startswith("trace.")}
    tw = statistics.median([p["wall_ns"] / 1e9 for p in traced]) if traced else None
    uw = statistics.median([p["wall_ns"] / 1e9 for p in untraced]) if untraced else None
    out["trace.pass_s"] = tw
    out["trace.untraced_pass_s"] = uw
    out["trace.overhead_s"] = tw - uw if tw is not None and uw is not None else None
    return out
