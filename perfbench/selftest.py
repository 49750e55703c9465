"""Self-test of the benchmark itself, at a minimal size.

    python3 perfbench/selftest.py

Run from the checkout root.  For every workload it checks that

- a small plain run exits 0 with ``correct: true`` and prints exactly the
  end-to-end metrics of ``BENCHMARK.json``, in their units;
- a small traced run exits 0 and prints exactly its per-layer metrics;
- a run whose expected output is deliberately wrong is counted as failed
  (``correct: false``, ``failed`` > 0) and exits 1;

and that a directory holding only ``BENCHMARK.json`` and the benchmark's
files makes ``run.py`` exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

SIZE = "0.25"
SECONDS = "8"


def _run(cwd: str, *extra: str) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", SECONDS, *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    e2e_names = {m["name"] for m in bench["end_to_end"]}
    layer_names = {m["name"] for m in bench["per_layer"]}
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in (x["name"] for x in bench["workloads"]):
        rc, res = _run(root, "--workload", w, "--trace", "0", "--size", SIZE)
        ok = rc == 0 and res is not None and res["correct"] and res["failed"] == 0
        expect(ok, f"{w}: small plain run is correct")
        if res:
            got = res["metrics"]
            expect(set(got) == e2e_names, f"{w}: plain run prints every end-to-end metric")
            expect(all(v["unit"] == units.get(k) and v["value"] > 0 for k, v in got.items()),
                   f"{w}: metric units match BENCHMARK.json and values are positive")
            expect(res["attempted"] >= 1, f"{w}: attempted counted")

        rc, res = _run(root, "--workload", w, "--trace", "1", "--size", SIZE)
        ok = rc == 0 and res is not None and res["correct"]
        expect(ok, f"{w}: small traced run is correct")
        if res:
            got = res["metrics"]
            expect(set(got) == layer_names, f"{w}: traced run prints every per-layer metric")
            expect(all(v["unit"] == units.get(k) for k, v in got.items()),
                   f"{w}: per-layer units match BENCHMARK.json")

        rc, res = _run(root, "--workload", w, "--trace", "0", "--size", SIZE, "--wrong-expectation")
        expect(rc == 1 and res is not None and not res["correct"] and res["failed"] > 0,
               f"{w}: a wrong expectation is counted as failed")

    bare = os.path.join(root, ".perfbench_work", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy("BENCHMARK.json", bare)
        for path in bench["paths"]:
            shutil.copytree(path, os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = _run(bare, "--workload", bench["workloads"][0]["name"], "--trace", "0")
        expect(rc != 0 and res is None, "without the engine: non-zero exit and no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
