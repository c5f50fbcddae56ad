"""The engine's benchmark: one workload, one run.

    python3 perfbench/run.py --workload olap_relational --seed 1 --seconds 8 --trace 0

Builds the engine if its sources changed (perfbench/build.py), starts one JVM
straight on the compiled classpath with the flags build.sbt gives the forked
run, and runs the workload in it (perfbench/src/PerfBench.scala): set-up with
two warm-up passes, the first of which also writes every op's output, then
timed passes for `--seconds` (at least two). The outputs are compared with
their DuckDB oracle twins (perfbench/check.py). The seed sets the op order of each pass; the
engine receives only the fixed sf0.1 fixtures, read from $SPARK_GRAFT_SF_DIR
or ~/testdata/sf0.1.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` -- the end-to-end metrics with `--trace 0`, the
per-layer ones with `--trace 1`. The line before it names the workload, the
scale factor and the CPU count, and gives the wall-clock medians next to
the CPU-time ones the metrics are. A traced run also writes its spans to
.bench_out/trace-<workload>-seed<seed>.json.

Each run gets its own java.io.tmpdir and SPARK_LOCAL_DIRS under .bench_run/,
deleted when it exits, together with the `graft_*_<appId>` directories the
engine writes to /tmp.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import check  # noqa: E402
import report  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["olap_relational", "corpus_serve"]
TIME_LIMIT_S = 170
# the --add-opens list build.sbt gives the forked run (Spark on JDK 17)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# C1 only, and after 10 calls instead of 200: with C2, the JIT threads spent
# 4-19 CPU-seconds per 4-9 s pass compiling, still falling five passes after
# the warm-up; with C1 at the default thresholds, planner code that runs a
# few dozen times a pass was compiled only in the third or fourth pass
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:Tier3InvocationThreshold=10",
             "-XX:Tier3MinInvocationThreshold=10", "-XX:Tier3CompileThreshold=100",
             "-XX:Tier3BackEdgeThreshold=1000", "-XX:ReservedCodeCacheSize=512m"]
# where the engine writes its stream stores and scratch tables, whatever
# java.io.tmpdir says
ENGINE_TMP = Path("/tmp")


def driver_mem():
    """$SPARK_DRIVER_MEM, else half the machine's memory, within 2g..8g."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{min(8, max(2, int(total_gb / 2)))}g"


def run_jvm(args, classes, jars, run_dir, sf_dir, cpus, deadline):
    tmp, local, out = run_dir / "tmp", run_dir / "local", run_dir / "out"
    for d in (tmp, local, out):
        d.mkdir(parents=True)
    cmd = [build.java(), f"-Xmx{driver_mem()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += JIT_FLAGS
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}{os.pathsep}{jars}/*", "graft.perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf", str(sf_dir), "--out", str(out)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=str(local))
    log = run_dir / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                cwd=run_dir, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM or an error here: no JVM outlives the run
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    lines = log.read_text(errors="replace").splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: JVM run failed ({rc})")
    # the JVM's own notes, such as an op that threw, outlive its log
    sys.stderr.writelines(line + "\n" for line in lines if line.startswith("[perfbench]"))
    return out


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, where the kernel says."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return None


def cleanup(run_dir):
    app_id = run_dir / "out" / "app_id"
    if app_id.is_file():
        for d in ENGINE_TMP.glob(f"graft_*_{app_id.read_text().strip()}"):
            shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes, jars = build.build()
    deadline = time.monotonic() + TIME_LIMIT_S
    sf_dir = Path(os.environ.get("SPARK_GRAFT_SF_DIR")
                  or Path.home() / "testdata" / "sf0.1")
    if not (sf_dir / "lineitem.parquet").exists():
        raise SystemExit(f"perfbench: no fixtures in {sf_dir} (set SPARK_GRAFT_SF_DIR)")
    cpus = len(os.sched_getaffinity(0))
    run_dir = ROOT / ".bench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0, ticks0 = time.monotonic(), cpu_ticks()
        out = run_jvm(args, classes, jars, run_dir, sf_dir, cpus, deadline)
        t1, ticks1 = time.monotonic(), cpu_ticks()
        if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
            # time the hypervisor gave to other guests: the usual cause of a
            # run that is slow across all its ops
            sys.stderr.write("perfbench: CPU steal during the JVM run "
                             f"{100 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.1f}%\n")
        result = json.loads((out / "result.json").read_text())
        mismatched = check.oracle_check(sf_dir, out / "check", result["ops"],
                                        timeout=max(1, deadline - time.monotonic()))
        sys.stderr.write(f"perfbench: JVM {t1 - t0:.1f} s, "
                         f"oracle compare {time.monotonic() - t1:.1f} s\n")
        if args.trace:
            spans = json.loads((out / "spans.json").read_text())
            metrics = report.per_layer(result, spans)
            _, wall = report.end_to_end(result)
            trace_file = ROOT / ".bench_out" / f"trace-{args.workload}-seed{args.seed}.json"
            trace_file.parent.mkdir(exist_ok=True)
            trace_file.write_text(json.dumps({
                "workload": args.workload, "seed": args.seed, "cpus": cpus,
                "per_layer": {k: v for k, (v, _) in metrics.items()},
                "op_s": wall["op_s"], "op_cpu_s": wall["op_cpu_s"],
                "self_s_by_kind": report.self_by_kind(spans),
                "spans": spans}, indent=1))
        else:
            metrics, wall = report.end_to_end(result)
        all_passes = result["warmups"] + result["passes"]
        for key, fmt in (("wall_s", "{:.3f}s"), ("thread_cpu_s", "{:.3f}s"),
                         ("cpu_s", "{:.3f}s"), ("jit_s", "{:.2f}s"),
                         ("steal", "{:.1%}"), ("codegens", "{}")):
            sys.stderr.write(f"perfbench: pass {key} (warm-ups first) "
                             + " ".join(fmt.format(p[key]) for p in all_passes) + "\n")
        for key in ("op_s", "op_cpu_s"):
            sys.stderr.write(f"perfbench: median {key} " + " ".join(
                f"{op}={v:.3f}s" for op, v in sorted(wall[key].items())) + "\n")
    finally:
        cleanup(run_dir)

    ops, passes = result["ops"], len(result["passes"])
    failed_ops = set(result["failed_ops"]) | set(mismatched)
    for op, why in sorted(mismatched.items()):
        sys.stderr.write(f"perfbench: {op} does not match its oracle: {why}\n")
    summary = " ".join(f"{k}={v:.4f}{u}" for k, (v, u) in sorted(metrics.items()))
    summary += (f" wall: setup_s={wall['setup_s']:.4f}s suite_s={wall['suite_s']:.4f}s "
                f"op_s.geomean={wall['op_s.geomean']:.4f}s")
    print(f"perfbench workload={args.workload} sf={sf_dir.name} cpus={result['cpus']} "
          f"seed={args.seed} passes={passes} ops={len(ops)} "
          f"failed_ops={len(failed_ops)} {summary}")
    print(json.dumps({
        # an op that failed at run time is counted in `failed`; `correct`
        # speaks of the outputs of the others
        "correct": not (set(mismatched) - set(result["failed_ops"])),
        "attempted": len(ops) * passes,
        "failed": len(failed_ops) * passes,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
