#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload portfolio_eod --seed 1 --seconds 17 --trace 0

Run from the repository root. Builds the library and the harness from
source (perfbench/build.py), generates the workload's inputs from the
seed (perfbench/gen.py), runs the harness JVM (perfbench/src) on
`local[<cores>]`, checks every query's rows against its DuckDB oracle
(perfbench/oracle.py) and prints the metrics. The last stdout line is
one JSON object: `correct`, `attempted`, `failed`, `metrics`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they
are the per-layer ones from the run's spans (perfbench/layers.py).
Everything the run writes stays under .bench_build/, .bench_data/ and
.bench_runs/ in the current directory.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("portfolio_eod", "streaming_replay")
JVM_HEAP = "3g"
JVM_DEADLINE_S = 150      # after the build, which only a fresh checkout pays
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
    "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
    "sun.nio.cs sun.security.action sun.util.calendar").split()]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, workload, data, out, seconds, trace, ncores, deadline):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cp = classes + os.pathsep + build.spark_jars()
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    # -Xms = -Xmx: a heap that grows during the run changes GC work
    # from one pass to the next.
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Harness", workload, data, out,
                          str(seconds), str(trace), str(ncores)])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, start_new_session=True)
        try:
            rc = p.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"harness did not finish in time; see {out}/jvm.log")
    if rc != 0:
        raise SystemExit(f"harness exited with {rc}; see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def end_to_end(res, untraced_passes):
    """The gated end-to-end metrics, and the warm samples they came from.

    Throughput is the median over passes of a pass's queries per second:
    a pass that the host slowed moves a median less than it moves a sum.
    """
    samples = [s for _, s, p in res["samples"] if p in untraced_passes]
    passes = [p for i, p in enumerate(res["passes"]) if i in untraced_passes]
    return {
        "queries_per_s": (statistics.median(p["n"] / p["wall_s"] for p in passes), "1/s"),
        "query_s.p50": (statistics.median(samples), "s"),
        "cold_pass_s": (res["cold_pass_s"], "s"),
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "heap_live_peak_mb": (res["heap_live_peak_mb"], "MB"),
    }, samples


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("run from the root of a graft checkout (src/main/scala/graft is missing)")

    classes = build.build()
    data = gen.generate(os.path.join(root, ".bench_data"), a.seed)
    deadline = time.monotonic() + JVM_DEADLINE_S
    out = os.path.join(root, ".bench_runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    ncores = cores()
    try:
        res = run_jvm(classes, a.workload, data, out, a.seconds, a.trace, ncores, deadline)
        checks = oracle.check(data, os.path.join(out, "dump"), res["oracle_sql"])
    finally:
        for d in ("dump", "tmp", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    queries = res["queries"]
    failures = dict(res["errors"])
    for name, reason in checks.items():
        if reason is not None and name not in failures:
            failures[name] = reason
    unchecked = [q for q in queries if q not in res["oracle_sql"]]
    for name, reason in sorted(failures.items()):
        print(f"FAILED {name}: {reason}")
    print(f"unchecked (no oracle): {', '.join(unchecked) or '-'}")
    passed = sum(1 for q in queries if checks.get(q, "") is None and q not in failures)
    print(f"queries: {len(queries)} attempted, {passed} oracle-equal, "
          f"{len(failures)} failed, {len(unchecked)} unchecked")

    untraced = {i for i, p in enumerate(res["passes"]) if not p["traced"]}
    e2e, samples = end_to_end(res, untraced)
    for k, (v, u) in e2e.items():
        print(f"{k} = {v:.6g} {u}" + (f"  (n={len(samples)})" if k.startswith("query_s") else ""))
    # Printed, not gated: a p90 needs 100 samples (ten beyond it), more
    # than a run of this length holds, and a failure share is 0 when
    # the program is right (the result line's `failed` gates it).
    p90 = layers.tail_percentile(samples, 0.9)
    print("query_s.p90 = " + (f"{p90:.6g} s" if p90 is not None else "n/a")
          + f"  (n={len(samples)}; needs 100)")
    print(f"failed_share = {len(failures) / len(queries):.6g}  "
          f"({len(failures)} failed / {len(queries)} attempted)")

    if a.trace:
        with open(os.path.join(out, "spans.jsonl")) as fh:
            spans = [json.loads(line) for line in fh]
        traced = [i for i, p in enumerate(res["passes"]) if p["traced"]]
        per_layer, rows = layers.metrics(spans, len(traced), ncores)
        qps_traced = statistics.median(res["passes"][i]["n"] / res["passes"][i]["wall_s"]
                                       for i in traced)
        per_layer["trace.overhead_share"] = e2e["queries_per_s"][0] / qps_traced - 1.0
        with open(os.path.join(out, "layers.json"), "w") as fh:
            json.dump({"metrics": per_layer, "queries": rows}, fh, indent=1)
        for name, r in rows:
            if not layers.reconciles(r):
                print(f"UNRECONCILED {name}: wall {r['wall_ms']:.1f} ms, "
                      f"residual {r['residual_ms']:.1f} ms")
        for k, (u, _) in layers.LAYER_METRICS.items():
            print(f"{k} = {per_layer[k]:.6g} {u}")
        metrics = {k: {"value": per_layer[k], "unit": u}
                   for k, (u, _) in layers.LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": not failures, "attempted": len(queries),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
