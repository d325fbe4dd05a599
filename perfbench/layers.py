"""Per-layer metrics of a traced run. Every metric is reported on every
workload; a layer that does no work on a workload reads 0 there (for
example `gate.*` and `functions.*` on drain_keyed, `sources.*` and
`scaling.*` on gate_mix). The trace itself (spans with run id, parent id and
self time) is written once, at the end, to .bench_build/trace/."""
import json
import os
import re
import statistics
import uuid

import benchlib


def _gates():
    """The gate list, read from GateMix.scala so it is written once."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "scala", "GateMix.scala")) as f:
        block = re.search(r"val Gates: Seq\[String\] = Seq\(([^)]*)\)", f.read()).group(1)
    return tuple(re.findall(r'"(q\w+)"', block))


GATES = _gates()
FUNCTIONS = ("vector_dot", "shingle_hashes", "array_jaccard")

# (name, unit, better); BENCHMARK.json's per_layer list is this list.
METRICS = [
    ("sources.read_rows_per_s", "1/s", "higher"),
    ("sources.latest_offset_ms", "ms", "lower"),
    ("sources.get_batch_ms", "ms", "lower"),
    ("sources.backlog_rows", "count", "lower"),
    ("operators.rows_in", "count", "higher"),
    ("operators.rows_out", "count", "higher"),
    ("operators.add_batch_ms", "ms", "lower"),
    ("operators.cpu_us_per_row", "us", "lower"),
    ("state.rows_total", "count", "higher"),
    ("state.rows_updated", "count", "higher"),
    ("state.memory_bytes", "bytes", "lower"),
    ("state.commit_ms", "ms", "lower"),
    ("state.update_ms", "ms", "lower"),
    ("state.rocksdb_flush_ms", "ms", "lower"),
    ("state.rocksdb_checkpoint_ms", "ms", "lower"),
    ("state.rocksdb_sst_bytes", "bytes", "lower"),
    ("wal.wal_commit_ms", "ms", "lower"),
    ("wal.commit_offsets_ms", "ms", "lower"),
    ("plan.query_planning_ms", "ms", "lower"),
    ("trigger.ms_p50", "ms", "lower"),
    ("trigger.count", "count", "higher"),
    ("trigger.self_ms", "ms", "lower"),
    ("exec.jobs_per_trigger", "count", "lower"),
    ("plan.analysis_ms", "ms", "lower"),
    ("plan.optimization_ms", "ms", "lower"),
    ("plan.planning_ms", "ms", "lower"),
    ("plan.exchanges", "count", "lower"),
    ("plan.smj", "count", "lower"),
    ("plan.bhj", "count", "lower"),
    ("plan.bnlj_cartesian", "count", "lower"),
] + [("gate.%s.%s" % (g, k), u, "lower") for g in GATES
     for k, u in (("wall_ms", "ms"), ("jobs", "count"), ("cold_ms", "ms"))] + [
    ("functions.%s.rows_per_s" % f, "1/s", "higher") for f in FUNCTIONS] + [
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.cpu_ms", "ms", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("exec.task_wait_ms", "ms", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("shuffle.skew", "ratio", "lower"),
    ("shuffle.spill_bytes", "bytes", "lower"),
    ("self.workload_ms", "ms", "lower"),
    ("self.trigger_ms", "ms", "lower"),
    ("self.phase_ms", "ms", "lower"),
    ("self.gate_ms", "ms", "lower"),
    ("self.qe_phase_ms", "ms", "lower"),
    ("self.job_ms", "ms", "lower"),
    ("self.stage_ms", "ms", "lower"),
    ("trace.overhead_p50_pct", "%", "lower"),
    ("trace.overhead_cpu_pct", "%", "lower"),
    ("scaling.local1_rows_per_s", "1/s", "higher"),
    ("scaling.speedup", "ratio", "higher"),
]
UNITS = {name: unit for name, unit, _ in METRICS}


def per_layer(workload, untraced, traced, local1, build_dir, seed):
    """All per-layer metrics as {name: (value, unit)}."""
    res = traced["result"]
    tr, m = res["trace"], res["measure"]
    v = dict.fromkeys(UNITS, 0.0)
    v.update(res["layer"])
    prog = [p for p in tr["progress"] if p["rows_in"] > 0]
    n_trig = len(prog)

    def per_trigger(key):
        return sum(p["duration"].get(key, 0) for p in prog) / n_trig if n_trig else 0.0

    def state_sum(key):
        return sum(o[key] for p in prog for o in p["state"])

    def custom_mean(key):
        return sum(o["custom"].get(key, 0) for p in prog for o in p["state"]) / n_trig if n_trig else 0.0

    jobs = tr["jobs"]
    if n_trig:
        triggers = [(p["start"], p["start"] + p["duration"]["triggerExecution"]) for p in prog]
        v.update({
            "sources.latest_offset_ms": per_trigger("latestOffset"),
            "sources.get_batch_ms": per_trigger("getBatch"),
            "operators.rows_in": sum(p["rows_in"] for p in prog),
            "operators.rows_out": sum(max(0, p["rows_out"]) for p in prog),
            "operators.add_batch_ms": per_trigger("addBatch"),
            "state.rows_total": sum(o["rows_total"] for o in prog[-1]["state"]),
            "state.rows_updated": state_sum("rows_updated"),
            "state.memory_bytes": sum(o["memory_bytes"] for o in prog[-1]["state"]),
            "state.commit_ms": state_sum("commit_ms") / n_trig,
            "state.update_ms": state_sum("update_ms") / n_trig,
            "state.rocksdb_flush_ms": custom_mean("rocksdbCommitFlushLatency"),
            "state.rocksdb_checkpoint_ms": custom_mean("rocksdbCommitCheckpointLatency"),
            "state.rocksdb_sst_bytes": sum(o["custom"].get("rocksdbSstFileSize", 0) for o in prog[-1]["state"]),
            "wal.wal_commit_ms": per_trigger("walCommit"),
            "wal.commit_offsets_ms": per_trigger("commitOffsets"),
            "plan.query_planning_ms": per_trigger("queryPlanning"),
            "trigger.ms_p50": benchlib.percentile([p["duration"]["triggerExecution"] for p in prog], 50),
            "trigger.count": n_trig,
            "trigger.self_ms": statistics.fmean(
                (e - s) - benchlib.union_length([(max(s, j[1]), min(e, j[2])) for j in jobs])
                for s, e in triggers),
            "exec.jobs_per_trigger": sum(1 for j in jobs if any(s <= j[1] <= e for s, e in triggers)) / n_trig,
        })
        rows = v["operators.rows_in"]
        v["operators.cpu_us_per_row"] = tr["counters"]["cpu_ms"] * 1000.0 / rows if rows else 0.0
        backlogs = [float(s["latest"]) - float(s["end"]) for p in prog for s in p["sources"]
                    if s.get("latest") not in (None, "null")]
        v["sources.backlog_rows"] = statistics.fmean(backlogs) if backlogs else 0.0
    if workload == "gate_mix":
        passes = len(m["passes"])
        gate_spans = [s for s in tr["spans"] if s["kind"] == "gate"]
        for g in GATES:
            v["gate.%s.cold_ms" % g] = m["cold_ms"][g]
            v["gate.%s.wall_ms" % g] = statistics.median(p["gate_ms"][g] for p in m["passes"])
            v["gate.%s.jobs" % g] = sum(
                1 for j in jobs for s in gate_spans if s["name"] == g and s["start"] <= j[1] <= s["end"]) / passes
        ex = tr["executions"]
        for k in ("analysis", "optimization", "planning"):
            v["plan.%s_ms" % k] = sum(e["phases"][k][1] - e["phases"][k][0]
                                      for e in ex if k in e["phases"]) / passes
        for k in ("exchanges", "smj", "bhj", "bnlj_cartesian"):
            v["plan." + k] = sum(e["plan"][k] for e in ex) / passes
    c = tr["counters"]
    v.update({
        "exec.jobs": len(jobs), "exec.stages": len(tr["stages"]), "exec.tasks": c["tasks"],
        "exec.cpu_ms": c["cpu_ms"], "exec.gc_ms": c["gc_ms"], "exec.task_wait_ms": c["task_wait_ms"],
        "shuffle.write_bytes": c["shuffle_write_bytes"], "shuffle.read_bytes": c["shuffle_read_bytes"],
        "shuffle.skew": benchlib.skew(tr["stages"]), "shuffle.spill_bytes": c["spill_bytes"],
    })

    run_id = uuid.uuid4().hex
    spans = benchlib.build_spans(tr, run_id)
    self_ms = benchlib.self_times(spans)
    for kind, ms in self_ms.items():
        v["self.%s_ms" % kind] = ms
    p50 = next(k for k in traced["extra"] if k.endswith("_latency_p50_ms"))
    v["trace.overhead_p50_pct"] = 100.0 * (traced["extra"][p50][0] / untraced["extra"][p50][0] - 1)
    v["trace.overhead_cpu_pct"] = 100.0 * (
        traced["metrics"]["cpu_ms_per_op"][0] / untraced["metrics"]["cpu_ms_per_op"][0] - 1)
    if local1 is not None:
        one = local1["extra"]["drain_rows_per_s"][0]
        v["scaling.local1_rows_per_s"] = one
        v["scaling.speedup"] = untraced["extra"]["drain_rows_per_s"][0] / one

    os.makedirs(os.path.join(build_dir, "trace"), exist_ok=True)
    path = os.path.join(build_dir, "trace", "%s-seed%d.json" % (workload, seed))
    with open(path, "w") as f:
        json.dump({"run": run_id, "workload": workload, "spans": spans, "self_ms": self_ms}, f)
    print("trace: %d spans written to %s" % (len(spans), os.path.relpath(path, os.path.dirname(build_dir))))
    return {k: (float(v[k]), UNITS[k]) for k in UNITS}
