"""Derives the benchmark's metrics from what one JVM run recorded.

`result.json` holds the wall time, the Java threads' CPU time and the whole
JVM's CPU time of the warm-up and timed passes and of each op (the wall time
in its two halves); `spans.json` (traced runs only) holds the span
tree pass -> op -> construct | execute -> job -> stage, with each action and
stream micro-batch under its op. Every per-layer value is the median, over
the timed passes, of that pass's sum or count, unless it is a run-level one.
"""
import json
import math
import statistics
from collections import defaultdict

MB = 1e6


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quartile_spread(xs):
    """Distance between the first and third quartile, as a share of the
    median, with the quartiles `statistics.quantiles(xs, n=4)` gives."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


def op_values(result, key):
    """op -> its `key` values ("wall_s" or "thread_cpu_s") over the timed passes in
    which it did not fail; an op's wall time is its two halves together."""
    vals = defaultdict(list)
    for p in result["passes"]:
        for o in p["ops"]:
            if not o["failed"]:
                vals[o["op"]].append(o["construct_s"] + o["execute_s"]
                                     if key == "wall_s" else o[key])
    return vals


def end_to_end(result):
    """The end-to-end metrics, and the wall-clock figures that go with them.

    A pass and an op count by their median over the timed passes, and
    `setup_s` is the set-up from JVM start to the first timed pass. The gated
    times are CPU seconds of the JVM's Java threads: on a shared host the
    wall time of the same pass moves by half or more with the load of other
    guests, while the kernel leaves the time they take (steal) out of a
    thread's CPU time. The JIT compiler's and the garbage collector's
    threads are left out too: their CPU time per pass doubled from one run
    to the next with no change in the work (`jvm.vm_cpu_s` reports it). The
    wall-clock medians are returned as `wall` for the summary line."""
    cpu, wall = op_values(result, "thread_cpu_s"), op_values(result, "wall_s")
    if not cpu:
        raise SystemExit("perfbench: every op failed in every timed pass")
    op_cpu = {op: median(v) for op, v in cpu.items()}
    op_wall = {op: median(v) for op, v in wall.items()}
    metrics = {
        "setup_s": (result["setup_cpu_s"], "s"),
        "suite_cpu_s": (median([p["thread_cpu_s"] for p in result["passes"]]), "s"),
        "op_cpu_s.geomean": (geomean(op_cpu.values()), "s"),
    }
    return metrics, {
        "setup_s": result["setup_s"],
        "suite_s": median([p["wall_s"] for p in result["passes"]]),
        "op_s.geomean": geomean(op_wall.values()),
        "op_s": op_wall, "op_cpu_s": op_cpu,
    }


def covered_ms(start, end, intervals):
    """How much of [start, end] the union of `intervals` covers."""
    total, cursor = 0.0, start
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= cursor:
            continue
        total += e - max(s, cursor)
        cursor = e
    return total


def add_self_times(spans):
    """Sets each span's `self_ms`: its duration minus the part of it that
    its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    for s in spans:
        s["self_ms"] = (s["end_ms"] - s["start_ms"]
                        - covered_ms(s["start_ms"], s["end_ms"], children[s["id"]]))
    return spans


# per-layer metric -> (unit, how one pass's spans give its value)
def _sum(kind, attr, scale=1.0):
    return lambda by_kind: sum(s.get(attr, 0.0) for s in by_kind[kind]) / scale


def _count(kind):
    return lambda by_kind: float(len(by_kind[kind]))


def _dur(kind):
    return lambda by_kind: sum(s["end_ms"] - s["start_ms"] for s in by_kind[kind]) / 1e3


def _last_state_rows(by_kind):
    last = {}
    for b in by_kind["batch"]:
        run = b["id"].rsplit("/", 1)[0]
        if run not in last or b["start_ms"] >= last[run]["start_ms"]:
            last[run] = b
    return float(sum(b.get("state_rows", 0.0) for b in last.values()))


PER_PASS = {
    "entry.construct_s": ("s", _dur("construct")),
    "entry.execute_s": ("s", _dur("execute")),
    "entry.self_s": ("s", lambda k: sum(s["self_ms"] for s in k["construct"]) / 1e3),
    "entry.eager_jobs": ("count", lambda k: float(len(k["eager_job"]))),
    "plan.actions": ("count", _count("action")),
    "plan.analysis_s": ("s", _sum("action", "analysis_ms", 1e3)),
    "plan.optimization_s": ("s", _sum("action", "optimization_ms", 1e3)),
    "plan.planning_s": ("s", _sum("action", "planning_ms", 1e3)),
    "plan.exchanges": ("count", _sum("action", "exchanges")),
    "plan.sort_merge_joins": ("count", _sum("action", "sort_merge_joins")),
    "plan.broadcast_joins": ("count", _sum("action", "broadcast_joins")),
    "plan.generates": ("count", _sum("action", "generates")),
    "spark.jobs": ("count", _count("job")),
    "spark.stages": ("count", _count("stage")),
    "spark.tasks": ("count", _sum("stage", "tasks")),
    "task.run_s": ("s", _sum("stage", "run_ms", 1e3)),
    "task.cpu_s": ("s", _sum("stage", "cpu_ms", 1e3)),
    "task.gc_s": ("s", _sum("stage", "gc_ms", 1e3)),
    "io.input_mb": ("MB", _sum("stage", "input_bytes", MB)),
    "io.output_mb": ("MB", _sum("stage", "output_bytes", MB)),
    "io.shuffle_read_mb": ("MB", _sum("stage", "shuffle_read_bytes", MB)),
    "io.shuffle_write_mb": ("MB", _sum("stage", "shuffle_write_bytes", MB)),
    "io.spill_mb": ("MB", _sum("stage", "spill_bytes", MB)),
    "artifacts.scans": ("count", _sum("action", "artifact_scans")),
    "stream.batches": ("count", _count("batch")),
    "stream.batch_s": ("s", _sum("batch", "duration_ms", 1e3)),
    "stream.input_rows": ("count", _sum("batch", "input_rows")),
    "stream.state_rows": ("count", _last_state_rows),
}


def per_layer(result, spans):
    """Every per-layer metric, as name -> (value, unit)."""
    add_self_times(spans)
    by_id = {s["id"]: s for s in spans}
    timed = {p["index"] for p in result["passes"]}
    by_pass = defaultdict(lambda: defaultdict(list))
    for s in spans:
        if s["pass"] in timed:
            by_pass[s["pass"]][s["kind"]].append(s)
            if s["kind"] == "job" and by_id[s["parent"]]["kind"] == "construct":
                by_pass[s["pass"]]["eager_job"].append(s)
    out = {}
    for name, (unit, fn) in PER_PASS.items():
        out[name] = (median([fn(by_pass[i]) for i in sorted(timed)]), unit)
    # the store is landed by the first consumers of the warm-up pass and
    # kept, so landing is counted over every pass
    landing = [s for s in spans if s["kind"] == "pass"]
    out["artifacts.built"] = (sum(s["artifacts_built"] for s in landing), "count")
    out["artifacts.mb"] = (sum(s["artifacts_bytes"] for s in landing) / MB, "MB")
    out["tables.load_s"] = (result["tables_load_s"], "s")
    out["jvm.warmup_s"] = (result["warmups"][0]["wall_s"]
                           - median([p["wall_s"] for p in result["passes"]]), "s")
    for name, key in (("jvm.gc_s", "gc_s"), ("jvm.jit_s", "jit_s"),
                      ("codegen.compiles", "codegens")):
        out[name] = (float(median([p[key] for p in result["passes"]])),
                     "count" if key == "codegens" else "s")
    out["jvm.vm_cpu_s"] = (median([p["cpu_s"] - p["thread_cpu_s"] for p in result["passes"]]), "s")
    out["jvm.heap_peak_mb"] = (result["heap_peak_mb"], "MB")
    return out


def self_by_kind(spans):
    """Total self time in seconds of each span kind (after add_self_times)."""
    out = defaultdict(float)
    for s in spans:
        out[s["kind"]] += s["self_ms"] / 1e3
    return dict(out)


def summarize(lines):
    """metric -> (median, q1, q3, spread) over two or more runs, given the
    last stdout line of each; the quartiles are those of
    `statistics.quantiles(values, n=4)`."""
    values = defaultdict(list)
    for line in lines:
        for name, m in json.loads(line)["metrics"].items():
            values[name].append(m["value"])
    out = {}
    for name, xs in values.items():
        q1, _, q3 = statistics.quantiles(xs, n=4)
        out[name] = (median(xs), q1, q3, quartile_spread(xs))
    return out


if __name__ == "__main__":
    # python3 perfbench/report.py run1.out run2.out ...  (saved stdout of runs)
    import sys
    last = [open(f).read().strip().splitlines()[-1] for f in sys.argv[1:]]
    print(f"{len(last)} runs")
    for name, (med, q1, q3, spread) in sorted(summarize(last).items()):
        print(f"{name:20s} median={med:.4f} q1={q1:.4f} q3={q3:.4f} spread={spread:.4f}")
