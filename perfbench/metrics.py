"""Statistics of one benchmark run, computed from the harness's JSON.

Latency metrics use successful executions only; failed ones count in
`error_frac`. Per-layer metrics take each query's median over its traced
executions and sum those medians over the workload's queries.
"""
import math
import statistics

MIN_BEYOND = 10

# (name, unit) of every per-layer metric a traced run reports; layers that
# saw no work report 0
PER_LAYER = [
    ("build.s", "s"), ("build.jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimizer_s", "s"), ("catalyst.planning_s", "s"),
    ("catalyst.codegen_fallbacks", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"), ("exec.core_util", "ratio"),
    ("exec.max_task_s", "s"), ("exec.task_wait_s", "s"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_fetch_wait_s", "s"), ("exec.spill_bytes", "bytes"),
    ("exec.input_bytes", "bytes"), ("exec.output_bytes", "bytes"), ("exec.failed_tasks", "count"),
    ("scan.rows", "count"), ("scan.partitions", "count"), ("scan.task_s", "s"),
    ("scan.rows_kept_frac", "ratio"),
    ("write.rows", "count"), ("write.bytes", "bytes"), ("write.files", "count"),
    ("stream.batches", "count"), ("stream.batch_s", "s"), ("stream.plan_s", "s"),
    ("stream.commit_s", "s"), ("stream.state_rows", "count"), ("stream.state_mem_bytes", "bytes"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MiB"),
    ("span.query_self_s", "s"), ("span.build_self_s", "s"), ("span.action_self_s", "s"),
    ("span.job_self_s", "s"), ("span.stage_self_s", "s"), ("trace.overhead_s", "s"),
    ("error_frac", "ratio"), ("wrong_results", "count"),
]


def tail_percentile(n):
    """Highest whole percentile that leaves at least MIN_BEYOND of `n`
    samples above it; the median when n is too small for that."""
    return max(50, (100 * (n - MIN_BEYOND)) // n)


def percentile(samples, p):
    """Nearest-rank percentile."""
    s = sorted(samples)
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def core_util(task_s, exec_s, cores):
    """Share of the action's core time that tasks kept busy: summed task
    time over (action wall time x cores)."""
    return task_s / (exec_s * cores) if exec_s > 0 else 0.0


def per_query(execs, key):
    """{id: [time, ...]} of the successful executions `key` selects."""
    out = {}
    for e in execs:
        if e["ok"] and key(e):
            out.setdefault(e["id"], []).append(e["build_s"] + e["action_s"])
    return out


def end_to_end(res):
    execs = res["execs"]
    warm = per_query(execs, lambda e: e["pass"] > 0 and not e["traced"])
    medians = [statistics.median(v) for v in warm.values()]
    samples = [t for v in warm.values() for t in v]
    p = tail_percentile(len(samples))
    tail = percentile(samples, p)
    cold = per_query(execs, lambda e: e["pass"] == 0)
    m = {
        "setup_s": (res["setup_s"], "s"),
        "cold_s": (sum(t for v in cold.values() for t in v), "s"),
        "warm_s": (sum(medians), "s"),
        "query_p50_s": (statistics.median(samples), "s"),
        "query_tail_s": (tail, "s"),
        "query_geomean_s": (geomean(medians), "s"),
        "peak_rss_mb": (res["jvm"]["peak_rss_mb"], "MiB"),
    }
    info = {"tail_percentile": p, "tail_beyond": sum(1 for t in samples if t > tail),
            "warm_samples": len(samples)}
    return m, info


def errors(execs):
    """(executions attempted, executions that threw)."""
    return len(execs), sum(1 for e in execs if not e["ok"])


def union_length(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """{exec: {kind: self seconds}}; a span's self time is its duration
    minus the part of it that its child spans cover."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        covered = union_length(kids.get(sp["id"], []), sp["start"], sp["end"])
        d = out.setdefault(sp["exec"], {})
        d[sp["kind"]] = d.get(sp["kind"], 0.0) + (sp["end"] - sp["start"] - covered) / 1000.0
    return out


def per_layer(res, spans, cores, n_wrong):
    """{name: value} for every PER_LAYER metric of a traced run."""
    traced = [e for e in res["execs"] if e["traced"] and e["ok"]]
    selfs = self_times(spans)
    by_q = {}
    for e in traced:
        layers = dict(e["layers"])
        for kind, v in selfs.get(f"{e['id']}#{e['pass']}", {}).items():
            layers[f"span.{kind}_self_s"] = v
        by_q.setdefault(e["id"], []).append(layers)
    keys = {k for runs in by_q.values() for r in runs for k in r}
    tot = {k: sum(statistics.median([r.get(k, 0.0) for r in runs]) for runs in by_q.values())
           for k in keys}
    tot["exec.core_util"] = core_util(tot.get("exec.task_s", 0.0), tot.get("exec.s", 0.0), cores)
    rows = tot.get("scan.rows", 0.0)
    tot["scan.rows_kept_frac"] = tot.get("scan.rows_kept", 0.0) / rows if rows else 1.0
    # warm passes keep getting faster while the JIT compiles; leaving out
    # pass 1 puts the untraced and the traced passes at the same mean position
    untraced = per_query(res["execs"], lambda e: e["pass"] > 1 and not e["traced"])
    traced_t = per_query(res["execs"], lambda e: e["traced"])
    common = untraced.keys() & traced_t.keys()
    tot["trace.overhead_s"] = (sum(statistics.median(traced_t[q]) for q in common)
                               - sum(statistics.median(untraced[q]) for q in common))
    tot["jvm.gc_s"] = res["jvm"]["gc_s"]
    tot["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
    attempted, failed = errors(res["execs"])
    tot["error_frac"] = failed / attempted
    tot["wrong_results"] = float(n_wrong)
    return {name: tot.get(name, 0.0) for name, _ in PER_LAYER}
