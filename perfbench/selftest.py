"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all in BENCHMARK.json) it checks that
``run.py`` prints every end-to-end metric (``--trace 0``) and every
per-layer metric (``--trace 1``) named in BENCHMARK.json with its unit,
that a run whose first output is corrupted reports it as failed, and
that the benchmark exits non-zero without a result when the package is
missing. Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT) -> tuple[int, dict | None]:
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    base = ["--seed", "3", "--seconds", "1", "--size", "tiny"]
    for w in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, out = run(["--workload", w, "--trace", str(trace), *base])
            expect(code == 0 and out is not None, f"{w} trace={trace}: exits 0 with a result")
            expect(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1,
                   f"{w} trace={trace}: outputs correct")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            expect(got == want, f"{w} trace={trace}: prints every {key} metric with its unit")
            expect(all(isinstance(v["value"], (int, float)) for v in out["metrics"].values()),
                   f"{w} trace={trace}: every value is a number")
        code, out = run(["--workload", w, "--trace", "0", "--corrupt", *base])
        expect(code == 0 and out is not None and not out["correct"] and out["failed"] >= 1,
               f"{w}: a corrupted output counts as failed")

    # a directory holding only the benchmark: no package, no result
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, out = run(["--workload", names[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
                    cwd=bare)
    expect(code != 0 and out is None, "without the package: exits non-zero, prints no result")
    shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
