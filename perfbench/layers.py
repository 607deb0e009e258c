"""Per-layer metrics from the traced run's spans (spans.jsonl).

A span is a dict with `id`, `parent`, `kind`, `name`, `start`, `end`
(epoch milliseconds) and `attrs`. The tree a query produces:

    query
      build                  the SparkEntry builder call
        job                  a job the builder ran (a pin, or an eager
                             action such as parquet schema inference)
        stream               a structured-streaming replay
          batch              one micro-batch (progress event)
          job                a job the stream ran
      write                  the noop write
        phase                analysis / optimization / planning
        job                  the write's jobs
          stage

A span's self time is its duration minus the part of its interval its
children cover. Per query:

    entry   = self time of build (children: its jobs and streams)
    stream  = non-job time of the streams (stream minus its jobs)
    plans   = the write's planning phases
    jobs    = union of every job interval in the query
    gap     = self time of query + self time of write
    wall    = entry + stream + plans + jobs + gap     (checked)
"""
import statistics
from collections import defaultdict

MB = 1048576.0
# Per-query reconciliation tolerance: the layers must add up to the wall
# within this share of it, or within a millisecond per job boundary,
# since Spark's job events carry whole milliseconds.
RECONCILE_SHARE = 0.05


def union_ms(intervals, lo=float("-inf"), hi=float("inf")):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    segs = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in segs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """Duration of `span` not covered by any of `children`."""
    return (span["end"] - span["start"]) - union_ms(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


class Tree:
    def __init__(self, spans):
        self.spans = {s["id"]: s for s in spans}
        self.children = defaultdict(list)
        for s in spans:
            self.children[s["parent"]].append(s)

    def kids(self, span, kind=None):
        return [c for c in self.children[span["id"]] if kind is None or c["kind"] == kind]

    def descendants(self, span, kind):
        out, todo = [], list(self.children[span["id"]])
        while todo:
            s = todo.pop()
            if s["kind"] == kind:
                out.append(s)
            todo += self.children[s["id"]]
        return out


def query_layers(tree, q):
    """Layer breakdown (milliseconds and counts) of one query span."""
    build, = tree.kids(q, "build")
    write, = tree.kids(q, "write")
    jobs = tree.descendants(q, "job")
    streams = tree.kids(build, "stream")
    stages = tree.descendants(q, "stage")
    phases = tree.kids(write, "phase")
    build_jobs = tree.kids(build, "job")
    pins = [j for j in build_jobs if j["attrs"]["pin"]]
    wall = q["end"] - q["start"]
    job_ms = union_ms([(j["start"], j["end"]) for j in jobs], q["start"], q["end"])
    entry = self_ms(build, build_jobs + streams)
    stream_nonjob = sum(self_ms(s, tree.kids(s, "job")) for s in streams)
    phase_ms = {p["name"]: p["end"] - p["start"] for p in phases}
    plans = sum(phase_ms.values())
    gap = self_ms(q, [build, write]) + self_ms(write, phases + tree.kids(write, "job"))
    st = [s["attrs"] for s in stages]
    sa = [s["attrs"] for s in streams]
    return {
        "wall_ms": wall,
        "entry_ms": entry,
        "stream_nonjob_ms": stream_nonjob,
        "plans_ms": plans,
        "job_ms": job_ms,
        "gap_ms": gap,
        "residual_ms": wall - (entry + stream_nonjob + plans + job_ms + gap),
        "n_jobs": len(jobs),
        "pin_jobs": len(pins),
        "pin_job_ms": union_ms([(j["start"], j["end"]) for j in pins], build["start"], build["end"]),
        "pin_bytes": q["attrs"]["rdd_block_bytes"],
        "analysis_ms": phase_ms.get("analysis", 0.0),
        "optimize_ms": phase_ms.get("optimization", 0.0),
        "plan_ms": phase_ms.get("planning", 0.0),
        "exchanges": sum(p["attrs"].get("exchanges", 0) for p in phases),
        "stages": len(stages),
        "stages_skipped": sum(j["attrs"]["stages_skipped"] for j in jobs),
        "tasks": sum(a["tasks"] for a in st),
        "task_run_ms": sum(a["task_run_ms"] for a in st),
        "task_cpu_ms": sum(a["task_cpu_ns"] for a in st) / 1e6,
        "straggler_ms": sum(a["straggler_ms"] for a in st),
        "shuffle_write_bytes": sum(a["shuffle_write_bytes"] for a in st),
        "shuffle_read_bytes": sum(a["shuffle_read_bytes"] for a in st),
        "spill_bytes": sum(a["spill_bytes"] for a in st),
        "input_rows": sum(a["input_rows"] for a in st),
        "input_bytes": sum(a["input_bytes"] for a in st),
        "codegen_compiles": q["attrs"]["codegen_compiles"],
        "gc_ms": q["attrs"]["gc_ms"],
        "stream_ms": sum(s["end"] - s["start"] for s in streams),
        "stage_s": q["attrs"]["replay_stage_s"],
        "replay_wall_s": q["attrs"]["replay_wall_s"],
        "add_batch_ms": sum(a["add_batch_ms"] for a in sa),
        "batches": sum(a["batches"] for a in sa),
        "state_rows": sum(a["state_rows"] for a in sa),
        "state_bytes": sum(a["state_bytes"] for a in sa),
        "state_commit_ms": sum(a["state_commit_ms"] for a in sa),
        "wal_ms": sum(a["wal_ms"] for a in sa),
    }


def reconciles(row):
    tol = max(RECONCILE_SHARE * row["wall_ms"], 2.0 * (row["n_jobs"] + 1))
    return abs(row["residual_ms"]) <= tol


def metrics(spans, passes, cores):
    """Per-layer metrics, each summed over one traced pass (the mean over
    the traced passes), plus the per-query reconciliation rows."""
    tree = Tree(spans)
    rows = [(q["name"], query_layers(tree, q)) for q in spans if q["kind"] == "query"]
    n = max(passes, 1)

    def tot(k, scale=1.0):
        return sum(r[k] for _, r in rows) / n / scale

    s = 1000.0
    job_wall = tot("job_ms", s)
    wall = tot("wall_ms", s)
    driver = wall - job_wall
    stream_s = tot("stream_ms", s)
    m = {
        "entry.build_s": tot("entry_ms", s),
        "entry.pin_jobs": tot("pin_jobs"),
        "entry.pin_job_s": tot("pin_job_ms", s),
        "entry.pin_mb": tot("pin_bytes", MB),
        "plans.analysis_s": tot("analysis_ms", s),
        "plans.optimize_s": tot("optimize_ms", s),
        "plans.plan_s": tot("plan_ms", s),
        "plans.exchanges": tot("exchanges"),
        "driver.s": driver,
        "driver.gap_s": tot("gap_ms", s),
        "driver.ms_per_job": driver * 1000.0 / max(tot("n_jobs"), 1e-9),
        "exec.jobs": tot("n_jobs"),
        "exec.stages": tot("stages"),
        "exec.stages_skipped": tot("stages_skipped"),
        "exec.tasks": tot("tasks"),
        "exec.job_wall_s": job_wall,
        "exec.task_run_s": tot("task_run_ms", s),
        "exec.task_cpu_s": tot("task_cpu_ms", s),
        "exec.core_util": tot("task_run_ms", s) / max(job_wall * cores, 1e-9),
        "exec.straggler_s": tot("straggler_ms", s),
        "exec.shuffle_write_mb": tot("shuffle_write_bytes", MB),
        "exec.shuffle_read_mb": tot("shuffle_read_bytes", MB),
        "exec.spill_mb": tot("spill_bytes", MB),
        "exec.codegen_compiles": tot("codegen_compiles"),
        "sources.input_rows": tot("input_rows"),
        "sources.input_mb": tot("input_bytes", MB),
        "streaming.stage_s": tot("stage_s"),
        "streaming.start_s": max(tot("replay_wall_s") - tot("add_batch_ms", s), 0.0),
        "streaming.add_batch_s": tot("add_batch_ms", s),
        "streaming.batches": tot("batches"),
        "streaming.state_rows": tot("state_rows"),
        "streaming.state_mb": tot("state_bytes", MB),
        "streaming.state_commit_s": tot("state_commit_ms", s),
        "streaming.wal_s": tot("wal_ms", s),
        "jvm.gc_s": tot("gc_ms", s),
        "share.driver": driver / wall if wall else 0.0,
        "share.exec": job_wall / wall if wall else 0.0,
        "share.streaming": stream_s / wall if wall else 0.0,
        "reconcile.failed_queries": float(sum(not reconciles(r) for _, r in rows)),
        "reconcile.max_residual_share": max(
            (abs(r["residual_ms"]) / r["wall_ms"] for _, r in rows if r["wall_ms"] > 0),
            default=0.0),
    }
    return m, rows


# Unit and better direction of every per-layer metric, in print order.
LAYER_METRICS = {
    "entry.build_s": ("s", "lower"), "entry.pin_jobs": ("count", "lower"),
    "entry.pin_job_s": ("s", "lower"), "entry.pin_mb": ("MB", "lower"),
    "plans.analysis_s": ("s", "lower"), "plans.optimize_s": ("s", "lower"),
    "plans.plan_s": ("s", "lower"), "plans.exchanges": ("count", "lower"),
    "driver.s": ("s", "lower"), "driver.gap_s": ("s", "lower"),
    "driver.ms_per_job": ("ms", "lower"),
    "exec.jobs": ("count", "lower"), "exec.stages": ("count", "lower"),
    "exec.stages_skipped": ("count", "higher"), "exec.tasks": ("count", "lower"),
    "exec.job_wall_s": ("s", "lower"), "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"), "exec.core_util": ("share", "higher"),
    "exec.straggler_s": ("s", "lower"), "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.shuffle_read_mb": ("MB", "lower"), "exec.spill_mb": ("MB", "lower"),
    "exec.codegen_compiles": ("count", "lower"),
    "sources.input_rows": ("count", "lower"), "sources.input_mb": ("MB", "lower"),
    "streaming.stage_s": ("s", "lower"), "streaming.start_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"), "streaming.batches": ("count", "lower"),
    "streaming.state_rows": ("count", "lower"), "streaming.state_mb": ("MB", "lower"),
    "streaming.state_commit_s": ("s", "lower"), "streaming.wal_s": ("s", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "share.driver": ("share", "lower"), "share.exec": ("share", "higher"),
    "share.streaming": ("share", "lower"),
    "reconcile.failed_queries": ("count", "lower"),
    "reconcile.max_residual_share": ("share", "lower"),
    "trace.overhead_share": ("share", "lower"),
}


def tail_percentile(samples, q):
    """The q-quantile of `samples`, only when at least ten samples lie
    beyond it (so p90 needs 100 samples); None otherwise."""
    if len(samples) * (1.0 - q) < 10 - 1e-9:
        return None
    return statistics.quantiles(samples, n=100, method="inclusive")[round(q * 100) - 1]
