"""Contract self-test for the wire benchmark, at sf0.001.

Runs the benchmark's one command (perfbench/run.py) for every workload it
knows (light, analytic, bulk), untraced and traced, on the small fixture and asserts
that the last stdout line parses as the result object, with exactly the
keys correct/attempted/failed/metrics, and that every end-to-end metric
(untraced) or per-layer metric (traced) is present, numeric and carries
the unit BENCHMARK.json names. It also asserts that the line before the
result is the full report.

    python3 perfbench/selftest.py [WORKLOAD ...]
"""
import json
import numbers
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload, trace, bench):
    cmd = bench["command"] + ["--workload", workload, "--seed", "1", "--seconds", "5",
                              "--trace", str(trace), "--scale", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        return [f"exit code {out.returncode}"]
    lines = out.stdout.strip().splitlines()
    problems = []
    try:
        result = json.loads(lines[-1])
        report = json.loads(lines[-2])
    except (IndexError, ValueError) as e:
        return [f"output does not parse: {e}"]
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        problems.append(f"attempted {result.get('attempted')!r}")
    if not isinstance(result.get("failed"), int):
        problems.append(f"failed {result.get('failed')!r}")
    want = bench["per_layer"] if trace else bench["end_to_end"]
    metrics = result.get("metrics", {})
    for m in want:
        got = metrics.get(m["name"])
        if got is None:
            problems.append(f"missing metric {m['name']}")
        elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), numbers.Number):
            problems.append(f"metric {m['name']} = {got}")
    extra = set(metrics) - {m["name"] for m in want}
    if extra:
        problems.append(f"unexpected metrics {sorted(extra)}")
    for key in ("nproc", "SPARK_GRAFT_CPUS", "heap", "seed", "fixture", "source_sha256"):
        if key not in report:
            problems.append(f"report lacks {key}")
    if (workload == "analytic" or (workload == "light" and trace == 1)) and "dialect_gaps" not in report:
        problems.append("report lacks dialect_gaps")
    return problems


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = sys.argv[1:] or ["light", "analytic", "bulk"]
    failed = False
    for w in names:
        for trace in (0, 1):
            problems = check(w, trace, bench)
            print(f"{'FAIL' if problems else 'ok  '} {w} trace={trace} {'; '.join(problems)}",
                  flush=True)
            failed |= bool(problems)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
