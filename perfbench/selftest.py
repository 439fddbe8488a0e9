"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

From the repository root, for every workload in BENCHMARK.json: an
untraced and a traced run must emit exactly the named metrics with their
units and pass every output check, and a run whose outputs are
deliberately corrupted must report failures and exit non-zero. Finally
the runner must refuse, without a result line, to run in a directory
that holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

RUN = [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1"]


def run(args: list[str], cwd: str = ".") -> tuple[int, dict | None, str]:
    proc = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result, proc.stderr[-2000:]


def check(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    failures: list[str] = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = run(["--workload", wl, "--trace", str(trace), "--scale", "tiny"])
            what = f"{wl} trace={trace}"
            check(code == 0 and res is not None and res["correct"] and res["failed"] == 0
                  and res["attempted"] >= 1, f"{what}: correct run", failures)
            if res is None:
                print(err)
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{what}: every metric named with its unit", failures)
            if trace == 0:
                check(all(v["value"] > 0 for v in res["metrics"].values()),
                      f"{what}: no end-to-end metric is 0", failures)
        code, res, _ = run(["--workload", wl, "--scale", "tiny", "--corrupt"])
        check(code == 1 and res is not None and not res["correct"] and res["failed"] > 0,
              f"{wl}: corrupted output is counted as failed", failures)
    os.makedirs(".perfbench", exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=".perfbench")
    try:
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, res, _ = run(["--workload", spec["workloads"][0]["name"]], cwd=bare)
        check(code != 0 and res is None, "bare directory: refused without a result", failures)
    finally:
        shutil.rmtree(bare)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
