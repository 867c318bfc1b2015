#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Checks, in a few minutes on four cores:

* the copied transactions generator at seed 42 and 500,000 rows yields the
  314,214 survivors the reference implementation loaded;
* every workload runs once untraced and once traced at the tiny size
  (sf0.001 tables, a 20,000-row CSV), and prints every metric of
  ``BENCHMARK.json`` with its unit;
* a deliberately corrupted result is counted as failed and makes the run
  incorrect;
* in a directory holding only ``BENCHMARK.json`` and the benchmark's files,
  ``run.py`` exits non-zero without printing a result.

Scratch files go under ``.perfbench/selftest`` in the checkout.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from datagen import write_transactions_csv  # noqa: E402

SCRATCH = ROOT / ".perfbench" / "selftest"


def expect(cond: bool, what) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def run_bench(cwd: Path, *args: str) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
    return proc.returncode, proc.stdout


def result_line(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def check_metrics(result: dict, wanted: list[dict], label: str) -> None:
    expect(set(result) == {"correct", "attempted", "failed", "metrics"}, (label, sorted(result)))
    expect(isinstance(result["attempted"], int) and result["attempted"] >= 1, label)
    got = result["metrics"]
    names = [m["name"] for m in wanted]
    expect(sorted(got) == sorted(names), (label, sorted(set(names) ^ set(got))))
    for m in wanted:
        v = got[m["name"]]
        expect(v["unit"] == m["unit"], (label, m["name"], v["unit"]))
        expect(isinstance(v["value"], (int, float)), (label, m["name"], v))


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    shutil.rmtree(SCRATCH, ignore_errors=True)
    SCRATCH.mkdir(parents=True)
    records = str(SCRATCH / "records")

    counts = write_transactions_csv(str(SCRATCH / "golden.csv"), 500_000, 42)
    expect(counts == {"rows": 500_000, "survivors": 314_214}, counts)
    print("generator: seed 42, 500,000 rows -> 314,214 survivors")

    for w in spec["workloads"]:
        common = ["--workload", w["name"], "--seed", "3", "--seconds", "1", "--size", "tiny", "--record-dir", records]
        rc, out = run_bench(ROOT, *common, "--trace", "0")
        expect(rc == 0, (w["name"], "untraced", rc))
        res = result_line(out)
        check_metrics(res, spec["end_to_end"], f"{w['name']} untraced")
        expect(res["correct"] and res["failed"] == 0, res)
        print(f"{w['name']}: untraced ok, {res['attempted']} operations, all correct")

        rc, out = run_bench(ROOT, *common, "--trace", "1", "--corrupt-first")
        expect(rc == 0, (w["name"], "traced", rc))
        res = result_line(out)
        check_metrics(res, spec["per_layer"], f"{w['name']} traced")
        expect(res["failed"] == 1 and res["correct"] is False, res)
        print(f"{w['name']}: traced ok; the corrupted result counted as failed")

    bare = SCRATCH / "bare"
    bare.mkdir()
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in spec["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    w = spec["workloads"][0]["name"]
    proc = subprocess.run(
        [*spec["command"], "--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare,
        capture_output=True,
        text=True,
        timeout=180,
    )
    expect(proc.returncode != 0 and not proc.stdout.strip(), (proc.returncode, proc.stdout))
    print(f"bare directory: exit code {proc.returncode}, no result printed")

    shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
