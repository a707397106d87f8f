"""Fast self-test of the benchmark at tiny size (sf0.001, feed scale 0.05).

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` it runs one untraced and one
traced run and checks that:

* the last output line is the result object, with ``correct`` true;
* the untraced run prints every end-to-end metric with its unit, the
  traced run every per-layer metric with its unit, and nothing else;
* the per-layer self times plus ``untraced_s`` add up to the op time.

It also checks that the benchmark refuses to run, without printing a
result, in a directory that holds only ``BENCHMARK.json`` and the
benchmark's own files. Exits 0 when every check passes.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import SELF_SPANS  # noqa: E402


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    done = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return done.returncode, done.stdout.strip().splitlines()


def check_metrics(result: dict, specs: list[dict], where: str) -> list[str]:
    problems = []
    got = result["metrics"]
    want = {s["name"]: s["unit"] for s in specs}
    if set(got) != set(want):
        problems.append(
            f"{where}: missing {sorted(set(want) - set(got))},"
            f" unexpected {sorted(set(got) - set(want))}"
        )
    for name, unit in want.items():
        m = got.get(name)
        if m is not None and (m.get("unit") != unit or not math.isfinite(m["value"])):
            problems.append(f"{where}: {name} = {m}, unit should be {unit}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems: list[str] = []
    for workload in (w["name"] for w in bench["workloads"]):
        for trace, specs in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            where = f"{workload} --trace {trace}"
            code, lines = run(ROOT, workload, trace)
            if code != 0 or not lines:
                problems.append(f"{where}: exit code {code}")
                continue
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                problems.append(f"{where}: not correct ({lines[-2][:300]})")
            problems += check_metrics(result, specs, where)
            if trace:
                m = {k: v["value"] for k, v in result["metrics"].items()}
                parts = sum(m[name] for name in SELF_SPANS) + m["untraced_s"]
                if not math.isclose(parts, m["trace.op_s"], rel_tol=1e-6):
                    problems.append(
                        f"{where}: self times + untraced_s = {parts},"
                        f" op time = {m['trace.op_s']}"
                    )
            print(f"selftest: {where} done", flush=True)

    # a checkout holding only the benchmark must refuse to run
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, lines = run(bare, bench["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(bare))
    if code == 0 or any(line.startswith("{") for line in lines):
        problems.append(f"bare checkout: exit code {code}, output {lines[-1:]}")

    for p in problems:
        print("selftest FAIL:", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
