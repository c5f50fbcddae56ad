"""The correctness check: each op's output, written once after the timed
passes, against its `SparkEntry.oracleSql` twin run in DuckDB over the same
parquet fixtures, with the repo's canonical compare in
tools/local_oracle_check.py.
"""
import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
COMPARE = ROOT / "tools" / "local_oracle_check.py"
SUMMARY = re.compile(r"^(\d+) pass / (\d+) fail / (\d+) err of (\d+) oracled$")


def oracle_check(sf_dir, check_dir, ops, timeout=None):
    """Returns {op: reason} for every op of `ops` whose output does not
    match its oracle, or that has no oracle to match; {} when all match.

    `check_dir` holds one parquet directory per op and `oracle_sql.json`."""
    oracle = json.loads((Path(check_dir) / "oracle_sql.json").read_text())
    failures = {op: "no oracle SQL" for op in ops if op not in oracle}
    r = subprocess.run([sys.executable, str(COMPARE), str(sf_dir), str(check_dir)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=timeout)
    lines = r.stdout.strip().splitlines()
    summary = SUMMARY.match(lines[-1]) if lines else None
    if r.returncode != 0 or summary is None:
        tail = " | ".join(lines[-3:])
        return {op: f"compare did not run: {tail}" for op in ops}
    for line in lines[:-1]:
        op, _, reason = line.partition(": ")
        if op in oracle:
            failures[op] = reason
    passed = int(summary.group(1))
    if passed != len(oracle) - sum(op in oracle for op in failures):
        return {op: f"compare summary disagrees: {lines[-1]}" for op in ops}
    return failures
