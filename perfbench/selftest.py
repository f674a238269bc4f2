#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

For each workload: one untraced run and two traced runs with the same
seed. Checks that every run is correct, that the untraced run prints every
end-to-end metric of BENCHMARK.json and the traced runs every per-layer
metric, that counts which must repeat exactly agree between the two traced
runs, and that the bypass predictions hold: no engine jobs on
`motifs_stream`, no micro-batches on `iterate`.

Two layers' job, stage and task counts depend on run-time ordering, so
they are held to 10 % instead of exact agreement: `algos` on `iterate`
(Louvain's rounds run under AQE, whose re-planning after each finished
stage depends on which stage finishes first) and `streaming` on
`motifs_stream` (the replay reads its staged files in modification-time
order, so stream_cc's folds and their star-contraction rounds vary).
"""
import json
import subprocess
import sys

SEED = 7
ORDER_DEPENDENT = {("iterate", "algos"), ("motifs_stream", "streaming")}
PREDICTIONS = [("motifs_stream", "engine.jobs", 0), ("iterate", "streaming.batches", 0)]


def bench(cmd, workload, trace):
    out = subprocess.run(cmd + ["--workload", workload, "--seed", str(SEED), "--seconds", "1",
                                "--trace", str(trace)],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                         check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    exact = [m["name"] for m in spec["per_layer"]
             if m["name"].rsplit(".", 1)[-1] in ("jobs", "stages", "tasks")
             or m["name"] in ("engine.supersteps", "streaming.batches")]
    failures = []

    def expect(cond, what):
        print(("ok    " if cond else "FAIL  ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in [x["name"] for x in spec["workloads"]]:
        plain = bench(spec["command"], w, 0)
        t1, t2 = bench(spec["command"], w, 1), bench(spec["command"], w, 1)
        for r in (plain, t1, t2):
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                   "%s: results match the references" % w)
        expect(set(plain["metrics"]) == {m["name"] for m in spec["end_to_end"]},
               "%s: untraced run prints exactly the end-to-end metrics" % w)
        for t in (t1, t2):
            expect(set(t["metrics"]) == {m["name"] for m in spec["per_layer"]},
                   "%s: traced run prints exactly the per-layer metrics" % w)
        for k in exact:
            a, b = t1["metrics"][k]["value"], t2["metrics"][k]["value"]
            if (w, k.split(".")[0]) in ORDER_DEPENDENT and k.split(".")[1] != "batches":
                expect(abs(a - b) <= 0.1 * max(a, b), "%s: %s within 10%% (%s, %s)" % (w, k, a, b))
            else:
                expect(a == b, "%s: %s repeats exactly (%s, %s)" % (w, k, a, b))
        for pw, k, v in PREDICTIONS:
            if pw == w:
                expect(t1["metrics"][k]["value"] == v, "%s: %s = %s" % (w, k, v))
    if failures:
        sys.exit("selftest: %d failed" % len(failures))


if __name__ == "__main__":
    main()
