"""Chooses a workload's ids from a measured probe of its whole families.

    python3 perfbench/choose.py --workload <name> [--seed <n>] [--reuse]

Runs every id of the workload's families (`families` in
perfbench/workloads.json; members as perfbench.Families lists them)
through the harness at the workload's scale: one cold pass, then an
untraced and a traced warm pass. Each id's result is then
checked against its DuckDB oracle, and the check is timed. The probe goes
to .bench_out/choose-<workload>.json; `--reuse` selects again from that
file instead of probing.

An id is eligible when it has a DuckDB oracle, is not one of the
workload's `probes`, no execution of it failed, and its result matches
the oracle in a check that takes at most ORACLE_MAX_S (every run checks
every timed id, so a slow oracle would take the run's time from the
queries). The rule: the workload's `include` ids are taken whatever their
rank. Each family's other eligible ids are sorted by their untraced warm
time and cut into k equal-count strata (k from `families`); from the
middle half of each stratum, the id whose builder share of its traced
time (`build.s` over `build.s` + `exec.s`) is closest to the family's is
taken. So the chosen ids spread over the family's latency range and split
their time between builder and action as the family does.

Prints the chosen ids and, for each family next to its chosen ids, the
latency quantiles and the traced per-layer shares.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

ORACLE_MAX_S = 5.0


def families(classpath):
    """{family: [(id, has_oracle), ...]} in registry order."""
    out = subprocess.run(["java", "-cp", classpath, "perfbench.Families"],
                         capture_output=True, text=True, check=True).stdout
    fams = {}
    for line in out.splitlines():
        fam, i, oracle = line.split("\t")
        fams.setdefault(fam, []).append((i, oracle == "true"))
    return fams


def oracle_checks(sf_dir, check_dir, ids):
    """{id: [matches the oracle, seconds the check took]}."""
    tool = os.path.join(build.ROOT, "tools", "check.py")
    out = {}
    for i in ids:
        t0 = time.time()
        p = subprocess.run([sys.executable, tool, sf_dir, check_dir, i], capture_output=True, timeout=600)
        out[i] = [p.returncode == 0, time.time() - t0]
    return out


def probe(wl, name, seed, res_path):
    """Runs and checks the workload's whole families; writes `res_path`."""
    classpath = build.build()
    fams = families(classpath)
    skip = set(wl.get("probes", []))
    pool = {f: [i for i, oracle in fams[f] if oracle and i not in skip] for f in wl["families"]}
    ids = [i for f in wl["families"] for i in pool[f]]
    os.makedirs(os.path.join(build.ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"choose-{name}-", dir=os.path.join(build.ROOT, ".bench_work"))
    try:
        sf_dir, check_dir = os.path.join(work, "data", f"sf{wl['sf']}"), os.path.join(work, "check")
        gen.write(sf_dir, wl["sf"], seed)
        args = ["--sf-dir", sf_dir, "--ids", ",".join(ids), "--seed", str(seed), "--seconds", "0",
                "--trace", "1", "--cores", str(len(os.sched_getaffinity(0))), "--min-passes", "2",
                "--out", res_path, "--check-dir", check_dir]
        run.run_jvm(classpath, work, args, res_path[:-len(".json")] + ".log", timeout=3600)
        checks = oracle_checks(sf_dir, check_dir, ids)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(res_path) as fh:
        res = json.load(fh)
    res.update(pool=pool, oracle_checks=checks)
    with open(res_path, "w") as fh:
        json.dump(res, fh)


def build_share(layers):
    t = layers.get("build.s", 0.0) + layers.get("exec.s", 0.0)
    return layers.get("build.s", 0.0) / t if t else 0.0


def pick(ranked, k, share, target):
    """From the middle half of each of k equal-count strata of `ranked`,
    the id whose `share` is closest to `target`."""
    n, out = len(ranked), []
    for s in range(min(k, n)):
        lo, hi = s * n / k, (s + 1) * n / k
        mid = ranked[int(lo + (hi - lo) / 4):max(int(lo + (hi - lo) / 4) + 1, int(hi - (hi - lo) / 4))]
        out.append(min(mid, key=lambda i: abs(share[i] - target)))
    return out


def summary(ids, warm, layers, cores):
    """Latency quantiles of the ids' warm times and their per-layer shares."""
    lat = sorted(warm[i] for i in ids)
    tot = {k: sum(layers[i].get(k, 0.0) for i in ids) for k in (
        "build.s", "exec.s", "exec.task_s", "catalyst.analysis_s", "catalyst.optimizer_s",
        "catalyst.planning_s", "build.jobs", "exec.jobs", "exec.shuffle_write_bytes")}
    t = tot["build.s"] + tot["exec.s"]
    catalyst = tot["catalyst.analysis_s"] + tot["catalyst.optimizer_s"] + tot["catalyst.planning_s"]
    return {
        "n": len(ids), "p10_s": metrics.percentile(lat, 10), "p50_s": metrics.percentile(lat, 50),
        "p90_s": metrics.percentile(lat, 90), "build_share": tot["build.s"] / t,
        "catalyst_share": catalyst / t, "exec_share": tot["exec.s"] / t,
        "core_util": metrics.core_util(tot["exec.task_s"], tot["exec.s"], cores),
        "jobs_per_query": (tot["build.jobs"] + tot["exec.jobs"]) / len(ids),
        "shuffle_mb_per_query": tot["exec.shuffle_write_bytes"] / 1048576 / len(ids),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reuse", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        wl = json.load(fh)[a.workload]
    out_dir = os.path.join(build.ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    res_path = os.path.join(out_dir, f"choose-{a.workload}.json")
    if not a.reuse:
        probe(wl, a.workload, a.seed, res_path)
    with open(res_path) as fh:
        res = json.load(fh)
    cores = len(os.sched_getaffinity(0))

    checks = res["oracle_checks"]
    failed = {e["id"] for e in res["execs"] if not e["ok"]} | set(res["check_errors"])
    failed |= {i for i, (ok, _) in checks.items() if not ok}
    slow = {i for i, (ok, secs) in checks.items() if ok and secs > ORACLE_MAX_S}
    untraced = metrics.per_query(res["execs"], lambda e: e["pass"] > 0 and not e["traced"])
    warm = {i: statistics.median(v) for i, v in untraced.items()}
    layers = {e["id"]: e["layers"] for e in res["execs"] if e["traced"] and e["ok"]}
    share = {i: build_share(v) for i, v in layers.items()}
    include = wl.get("include", [])
    print(f"workload={a.workload} sf={wl['sf']} cores={cores} probed={len(checks)} "
          f"failed or wrong={sorted(failed)} oracle over {ORACLE_MAX_S:g} s={sorted(slow)}")
    chosen, rows = list(include), []
    for f, k in wl["families"].items():
        ran = [i for i in res["pool"][f] if i in warm and i in layers]
        ok = [i for i in ran if i not in failed | slow and i not in include]
        picked = pick(sorted(ok, key=warm.get), k, share, summary(ran, warm, layers, cores)["build_share"])
        chosen += picked
        rows.append((f, ran, picked + [i for i in include if i in ran]))
    for f, ran, picked in rows:
        for name, group in ((f"{f} (all {len(ran)})", ran), (f"{f} (chosen)", picked)):
            s = summary(group, warm, layers, cores)
            print(f"  {name:20s} " + " ".join(f"{k}={v:.3g}" for k, v in s.items()))
    print(f"  chosen: {' '.join(f'{i}={warm[i]:.3f}s' for i in chosen)}")
    print(json.dumps(chosen))


if __name__ == "__main__":
    main()
