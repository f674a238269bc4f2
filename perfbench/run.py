#!/usr/bin/env python3
"""Repo benchmark: builds the program with the harness, runs one workload
and prints its metrics as one JSON line (the last line of stdout).

    python3 perfbench/run.py --workload iterate --seed 1 --seconds 5 --trace 0

Run it from the repository root. `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer ones. See perfbench/README.md for the workloads,
the metrics and how each is measured.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402
import host  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170
# a reference pinned by value (a query with no oracle, pr_converged) holds
# if each number is within TOL of the pinned one: far above the float noise
# of summation order, far below the change of one PageRank superstep
TOL = 1e-4


def median(xs):
    return statistics.median(xs) if xs else 0.0


def jvm_command(root, classes, work, args):
    return ([build.java(), "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + build.ADD_OPENS
            + ["-cp", classes + os.pathsep + build.spark_jars(root), "graft.perfbench.Harness"]
            + ["work=" + work] + ["%s=%s" % kv for kv in args.items()])


def run_jvm(cmd, timeout):
    """Runs the harness in its own process group and waits for it to end."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def self_times(p, layers):
    """Charges each instant of the pass to the innermost running Spark job
    (the one started last); instants with no job running are the driver's
    serial time. Self times plus serial time equal the pass's span."""
    lo, hi = p["start_ms"], p["end_ms"]
    events = []
    for k, (s, e, layer) in enumerate(p["jobs"]):
        s, e = max(s, lo), min(e, hi)
        if e > s:
            events += [(s, 1, k, layer), (e, 0, k, layer)]
    events.sort()
    own = dict.fromkeys(layers, 0.0)
    active, last = {}, lo
    for t, kind, k, layer in events:
        if active:
            top = max(active.values())
            own[top[1]] += t - last
        last = t
        if kind:
            active[k] = (t, layer, k)
        else:
            active.pop(k, None)
    busy = sum(own.values())
    return {l: v / 1e3 for l, v in own.items()}, (hi - lo - busy) / 1e3, (hi - lo) / 1e3


def layer_metrics(passes, layers, cores):
    """Per layer: self time and job time; for the layers the harness counts
    work of (all but `other`), its counters and CPU use."""
    per = []
    for p in passes:
        own, serial, span = self_times(p, layers)
        row = {"driver.serial_s": serial, "driver.serial_frac": serial / span if span else 0.0}
        for l in layers:
            job_s = sum(max(0, e - s) for s, e, layer in p["jobs"] if layer == l) / 1e3
            row[l + ".self_s"] = own[l]
            row[l + ".job_s"] = job_s
            c = p["layers"].get(l)
            if c is None:
                continue
            for k, v in c.items():
                if k != "task_run_s":
                    row[l + "." + k] = v
            row[l + ".cpu_util"] = c["task_run_s"] / (job_s * cores) if job_s else 0.0
        bms = p["batch_ms"]
        row["streaming.batches"] = len(bms)
        row["streaming.batch_ms_p50"] = median(bms)
        row["streaming.overhead_s"] = p["stream_s"] - sum(bms) / 1e3 if bms else 0.0
        per.append(row)
    return {k: median([r[k] for r in per]) for k in per[0]}


def engine_metrics(runs):
    steps = sum(r["supersteps"] for r in runs)
    batches = [b for r in runs for b in r["batches"]]
    empty = sum(int(b["batch"]) for b in batches if int(b["changed"]) == 0)
    per_step_ms = [int(b["wallMs"]) / int(b["batch"]) for b in batches]
    frontier = sum(int(b["frontier"]) * int(b["batch"]) for b in batches)
    rows = sum(int(b["rows"]) * int(b["batch"]) for b in batches)
    return {
        "engine.supersteps": steps,
        "engine.empty_supersteps": empty,
        "engine.round_ms_p50": median(per_step_ms),
        "engine.active_frac": frontier / rows if rows else 0.0,
    }


def close(values, pinned):
    """Whether two result tables agree, numbers within TOL."""
    if len(values) != len(pinned):
        return False
    for row, ref in zip(values, pinned):
        if len(row) != len(ref):
            return False
        for a, b in zip(row, ref):
            if a != b and not (is_number(a) and is_number(b) and abs(float(a) - float(b)) <= TOL):
                return False
    return True


def is_number(s):
    try:
        float(s)
        return True
    except ValueError:
        return False


def check(res, refs):
    """Compares every collected result with its pinned reference: by digest,
    or by value where the reference pins values. A query that threw fails."""
    attempted = failed = 0
    bad = []
    for c in res["warm_checks"] + [c for p in res["passes"] for c in p["checks"]]:
        ref = refs[c["name"]]
        attempted += 1
        if "error" in c:
            ok = False
            print("perfbench: %s threw %s" % (c["name"], c["error"]), file=sys.stderr)
        elif "values" in ref:
            ok = close(c["values"], ref["values"])
        else:
            ok = c["rows"] == ref["rows"] and c["sha"] == ref["sha"]
        if not ok:
            failed += 1
            bad.append(c["name"])
    for r in res["engine"]:
        attempted += 1
        if not r["converged"]:
            failed += 1
            bad.append("engine/converged")
    return attempted, failed, bad


def main():
    # a SIGTERM unwinds through run_jvm, which stops the harness JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        sys.exit("perfbench: run from the repository root (no src/main/scala here)")
    cores = os.cpu_count() or 1
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(root, out)
    with open(os.path.join(HERE, "reference.json")) as f:
        refs = json.load(f)

    h0 = host.sample()
    work = os.path.join(out, "run-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    traces = os.path.join(out, "traces")
    os.makedirs(traces, exist_ok=True)
    result = os.path.join(work, "result.json")
    args = {"mode": "run", "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": cores, "out": result,
            "spans": os.path.join(traces, "%s-seed%d.json" % (a.workload, a.seed))}
    try:
        code = run_jvm(jvm_command(root, classes, work, args), JVM_TIMEOUT_S)
        if code != 0 or not os.path.isfile(result):
            sys.exit("perfbench: harness failed (exit %s)" % code)
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    h1 = host.sample()
    noise = host.delta(h0, h1)

    attempted, failed, bad = check(res, refs)
    if bad:
        print("perfbench: mismatched results: " + ", ".join(sorted(set(bad))), file=sys.stderr)
    timed = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    print("perfbench: %s seed %d: setup %.2f s (warm-up pass %.2f s); passes %s s (%d traced)"
          % (a.workload, a.seed, res["setup_s"], res["warm_s"],
             ["%.2f" % p["wall_s"] for p in res["passes"]], len(traced)))
    print("host " + json.dumps(noise, sort_keys=True))

    if a.trace == 0:
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "wall_s": (median([p["wall_s"] for p in timed]), "s"),
            "task_cpu_s": (median([p["task_cpu_s"] for p in timed]), "s"),
            "shuffle_mb": (median([p["shuffle_mb"] for p in timed]), "MB"),
            "cached_mb_peak": (median([p["cached_mb_peak"] for p in timed]), "MB"),
            "pass_frac": (1.0 - failed / attempted, "ratio"),
        }
    else:
        per = layer_metrics(traced, res["layers"], cores)
        per.update(engine_metrics(res["engine"]))
        for q in [q for qs in res["queries"].values() for q in qs]:
            per["queries.%s_s" % q] = median(
                [s for p in res["passes"] for n, s in p["steps"] if n == q])
        per["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                                   - median([p["wall_s"] for p in timed]))
        per["fail_frac"] = failed / attempted
        for k, v in noise.items():
            per["host." + k] = v
        metrics = {k: (v, unit_of(k)) for k, v in per.items()}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def unit_of(name):
    tail = name.rsplit(".", 1)[-1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_ms") or "_ms_" in tail:
        return "ms"
    if tail.endswith("_mb"):
        return "MB"
    if tail.endswith("_frac") or tail == "cpu_util":
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
