"""Pure helpers of the benchmark: percentiles, span trees, self times and
the metrics derived from a workload's raw result. No I/O here, so
`test_bench.py` can check each piece on its own."""
import math
import statistics
from collections import defaultdict

# Percentiles printed for a timing; the highest one with at least ten
# samples beyond it is the one to read as the tail.
PRINTED = (50, 90, 99)


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, q):
    """How many of n samples lie beyond the q-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentile(n, candidates=PRINTED):
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the median has fewer."""
    ok = [q for q in candidates if beyond(n, q) >= 10]
    return max(ok) if ok else None


def describe(name, values, unit):
    """One line: p50/p90/p99 with the sample count, and which percentile
    has at least ten samples beyond it."""
    n = len(values)
    parts = ["p%d=%.4g %s" % (q, percentile(values, q), unit) for q in PRINTED]
    tail = tail_percentile(n)
    tail_s = "p%d" % tail if tail else "none"
    return "%s: %s (n=%d samples; tail with >=10 beyond: %s)" % (name, ", ".join(parts), n, tail_s)


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Set `self` on each span: its duration minus the part of it that its
    children cover. Returns the summed self time per span kind."""
    children = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append(s)
    per_kind = defaultdict(float)
    for s in spans:
        cover = union_length([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                              for c in children[s["id"]]])
        s["self"] = (s["end"] - s["start"]) - cover
        per_kind[s["kind"]] += s["self"]
    return dict(per_kind)


LEVEL = {"workload": 0, "trigger": 1, "gate": 1, "phase": 2, "qe_phase": 2, "job": 3, "stage": 4}
PHASE_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def nest(spans):
    """Give every span without a parent the innermost span of a higher
    level whose interval contains its start."""
    by_level = sorted(spans, key=lambda s: (LEVEL[s["kind"]], s["start"]))
    for s in by_level:
        if s.get("parent") is not None:
            continue
        best = None
        for p in by_level:
            if LEVEL[p["kind"]] >= LEVEL[s["kind"]]:
                break
            if p["start"] <= s["start"] <= p["end"] and (
                    best is None or (LEVEL[p["kind"]], p["start"]) > (LEVEL[best["kind"]], best["start"])):
                best = p
        s["parent"] = best["id"] if best else None
    return spans


def build_spans(trace, run_id):
    """The span tree of one traced run: workload → trigger → phase → job →
    stage for streaming, workload → gate → query-execution phase → job →
    stage for the gate mix. Trigger phases come from progress durations
    laid end to end in execution order; every other span has measured
    start and end times (ms since the epoch)."""
    spans = []

    def add(kind, name, start, end, parent=None):
        spans.append({"run": run_id, "id": len(spans), "parent": parent, "kind": kind,
                      "name": name, "start": float(start), "end": float(end)})
        return len(spans) - 1

    for s in trace["spans"]:
        add(s["kind"], s["name"], s["start"], s["end"])
    for p in trace["progress"]:
        d = p["duration"]
        t = add("trigger", "batch %d" % p["batch"], p["start"], p["start"] + d.get("triggerExecution", 0))
        at = p["start"]
        for ph in PHASE_ORDER:
            if ph in d:
                add("phase", ph, at, at + d[ph], t)
                at += d[ph]
    for e in trace["executions"]:
        ph = e["phases"]
        for k in ("analysis", "optimization", "planning"):
            if k in ph:
                add("qe_phase", k, ph[k][0], ph[k][1])
        if "planning" in ph:
            add("qe_phase", "execution", ph["planning"][1], ph["planning"][1] + e["exec_ms"])
    job_span = {}
    for job_id, start, end, _ in trace["jobs"]:
        job_span[job_id] = add("job", "job %d" % job_id, start, end if end >= start else start)
    for st in trace["stages"]:
        add("stage", "stage %d" % st["stage"], st["start"], max(st["start"], st["end"]),
            job_span.get(st["job"]))
    return nest(spans)


def skew(stages):
    """Mean over stages with at least two tasks of max/median task time."""
    ratios = []
    for st in stages:
        ms = st["task_ms"]
        if len(ms) >= 2 and statistics.median(ms) > 0:
            ratios.append(max(ms) / statistics.median(ms))
    return statistics.fmean(ratios) if ratios else 0.0


def end_to_end(workload, m):
    """End-to-end figures over the workload's operations. Returns
    (metrics, extra, latencies): metrics keyed by BENCHMARK.json name;
    extra the printed, ungated figures, among them the latency
    percentiles under the workload's own names; latencies the operation
    latencies in ms. CPU is process CPU seconds."""
    if workload == "drain_keyed":
        lat = [float(x) for x in m["batch_ms"]]
        cpu_op = 1000.0 * m["cpu_s"] / len(lat)
        extra = {"drain_rows_per_s": (m["rows"] / m["seconds"], "1/s"),
                 "drain_cpu_s_per_mrow": (cpu_op / m["batch_rows"] * 1000.0, "s")}
        prefix = "drain_batch"
    elif workload == "gate_mix":
        passes = m["passes"]
        lat = [ms for p in passes for ms in p["gate_ms"].values()]
        cpu_op = 1000.0 * sum(p["cpu_s"] for p in passes) / len(lat)
        extra = {"gate_mix_wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
                 "gate_mix_cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
                 "gate_mix_passes": (len(passes), "count")}
        prefix = "gate"
    else:
        raise ValueError(workload)
    for q in PRINTED:
        extra["%s_latency_p%d_ms" % (prefix, q)] = (percentile(lat, q), "ms")
    return {"cpu_ms_per_op": (cpu_op, "ms")}, extra, lat
