"""Full-result benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the program with
`perfbench/build.py`, writes the workload's input tables from the seed
(`perfbench/gen.py`), runs the JVM harness (`perfbench/src`) on one
`local[nproc]` context with a fresh session per query execution, checks
every timed query's result against the DuckDB oracle (`tools/check.py`),
and prints each metric by name and unit. The last stdout line is one
JSON object: `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`).

Workloads and their queries are in `perfbench/workloads.json`; the ids
were picked from a probe of their whole families by the rule in
`perfbench/choose.py`, and `warm_passes` is how many warm passes a run
makes. The JVM runs with the program's own compiler and collector
defaults (C2, G1) on a fixed 2 GiB heap. Each run
works in its own empty directory under `.bench_work/` (java.io.tmpdir and
spark.local.dir included) and removes it at the end; the JVM log, the
harness's per-execution times and the trace spans are kept under
`.bench_out/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 150
# The smallest JVM heap the program's tests run with, fixed: with a
# growable heap, G1 sized it differently in each run, and peak RSS for one
# input ranged from 1.5 to 2.9 GiB.
HEAP = "2g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classpath, work, args, log_path, timeout=JVM_TIMEOUT_S):
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = (["java"] + ADD_OPENS + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, "perfbench.Harness"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=timeout)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"perfbench: harness exited with {code} (log: {log_path})")


def check(sf_dir, check_dir, ids, write_errors):
    """Runs tools/check.py on the written results; returns the wrong ids."""
    tool = os.path.join(build.ROOT, "tools", "check.py")
    p = subprocess.run([sys.executable, tool, sf_dir, check_dir] + ids,
                       capture_output=True, text=True, timeout=120)
    wrong = {l.split()[1].rstrip(":"): l for l in p.stdout.splitlines() if l.startswith("FAIL ")}
    for i, err in write_errors.items():
        wrong[i] = f"FAIL {i}: no result: {err}"
    if p.returncode not in (0, 1):
        raise SystemExit(f"perfbench: check.py failed:\n{p.stderr[-2000:]}")
    return wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(build.ROOT, "src", "main", "scala")):
        sys.exit("perfbench: the program sources (src/main/scala) are missing")
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload!r}; choose from {sorted(workloads)}")
    wl = workloads[a.workload]
    cores = len(os.sched_getaffinity(0))

    classpath = build.build()
    out_dir = os.path.join(build.ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(build.ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=os.path.join(build.ROOT, ".bench_work"))
    try:
        sf_dir = os.path.join(work, "data", f"sf{wl['sf']}")
        t0 = time.time()
        gen.write(sf_dir, wl["sf"], a.seed)
        t1 = time.time()
        stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        res_path, check_dir = stem + ".result.json", os.path.join(work, "check")
        args = ["--sf-dir", sf_dir, "--ids", ",".join(wl["ids"]), "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
                "--min-passes", str(wl["warm_passes"]),
                "--out", res_path, "--check-dir", check_dir, "--probes", ",".join(wl.get("probes", []))]
        if a.trace:
            args += ["--trace-out", stem + ".spans.jsonl"]
        run_jvm(classpath, work, args, stem + ".log")
        t2 = time.time()
        with open(res_path) as fh:
            res = json.load(fh)
        wrong = check(sf_dir, check_dir, wl["ids"], res["check_errors"])
        t3 = time.time()
        spans = []
        if a.trace:
            with open(stem + ".spans.jsonl") as fh:
                spans = [json.loads(l) for l in fh if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = metrics.errors(res["execs"])
    warm_passes = res["passes"] - 1
    print(f"wall: inputs {t1 - t0:.1f} s, harness {t2 - t1:.1f} s, oracle check {t3 - t2:.1f} s")
    print(f"workload={a.workload} seed={a.seed} cores={cores} sf={wl['sf']} queries={len(wl['ids'])} "
          f"passes=1 cold + {warm_passes} warm trace={a.trace}")
    for i, status in res["probes"].items():
        print(f"known failure {i} (not timed), two fresh sessions: {' | '.join(status)}")
    for i, line in sorted(wrong.items()):
        print(line)
    for e in res["execs"]:
        if not e["ok"]:
            print(f"error {e['id']} pass {e['pass']}: {e['error']}")
    out = {}
    if a.trace:
        values = metrics.per_layer(res, spans, cores, len(wrong))
        out = {name: (values[name], unit) for name, unit in metrics.PER_LAYER}
    else:
        e2e, info = metrics.end_to_end(res)
        out.update(e2e)
        print(f"query_tail_s is the p{info['tail_percentile']:g} of {info['warm_samples']} warm samples "
              f"({info['tail_beyond']} beyond it)")
    print(f"error_frac {failed / attempted:.4f} ({failed} of {attempted} executions failed)")
    print(f"wrong_results {len(wrong)} count ({len(wl['ids'])} ids checked against the DuckDB oracle)")
    for k, (v, unit) in out.items():
        print(f"{k} {v:.6g} {unit}")
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))


if __name__ == "__main__":
    main()
