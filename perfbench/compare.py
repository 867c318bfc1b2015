#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records written by ``run.py`` (any depth; pass
``--record-dir`` to ``run.py`` to collect a set). For every workload and
end-to-end metric it prints each side's median and quartiles, the share of
pairs the new side won (runs paired by seed; ties count for neither side)
and a verdict:

* ``improved``: the new side wins at least 9 of 10 pairs and the medians
  differ by more than the base side's own quartile distance;
* ``worse``: the new median is worse than the base median by more than the
  metric's bound in ``BENCHMARK.json``;
* ``unresolved``: either side's quartile distance exceeds the bound (as a
  share of its median), unless every new run reads better than every base
  run, or there are fewer than two runs a side;
* ``no worse``: otherwise.

Traced runs (``--trace 1``) get a per-layer diff of the medians, and the
span self times per operation. Where a side has traced and untraced runs of
one workload, the tracing overhead on ``latency_p50_s`` is printed.

Runs made with different core counts, input sizes or run lengths are never
compared: the command stops and names the difference. When the two sides
ran at host steal shares more than 0.03 apart it prints a warning.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETTINGS = ("cores", "size", "seconds")
STEAL_GAP = 0.03
# Measured in every run but not bounded in BENCHMARK.json (README.md says
# why): printed for context, with the pairs won, never with a verdict
# other than "improved".
UNBOUNDED = {
    "setup_wall_s": "lower",
    "ops_per_s": "higher",
    "latency_p50_s": "lower",
    "peak_rss_mb": "lower",
}


def load(directory: str) -> list[dict]:
    out = []
    for p in sorted(Path(directory).rglob("*.json")):
        try:
            rec = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(rec, dict) and "provenance" in rec and "measured" in rec:
            out.append(rec)
    return out


def summary(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def verdict(base: dict[int, float], new: dict[int, float], better: str, bound: float):
    """(verdict, share of pairs won by new) for one metric; ``base`` and
    ``new`` map seed -> value."""
    sign = 1.0 if better == "higher" else -1.0
    b_vals, n_vals = list(base.values()), list(new.values())
    seeds = sorted(set(base) & set(new))
    if seeds:
        pairs = [(base[s], new[s]) for s in seeds]
    else:  # no shared seeds: pair in the order the runs were made
        pairs = list(zip(b_vals, n_vals))
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    won = wins / len(pairs) if pairs else 0.0
    if len(b_vals) < 2 or len(n_vals) < 2:
        return "unresolved", won
    bq1, bmed, bq3 = summary(b_vals)
    nq1, nmed, nq3 = summary(n_vals)
    if won >= 0.9 and sign * (nmed - bmed) > (bq3 - bq1):
        return "improved", won
    spread = max((bq3 - bq1) / abs(bmed), (nq3 - nq1) / abs(nmed))
    all_better = min(sign * v for v in n_vals) > max(sign * v for v in b_vals)
    if spread > bound and not all_better:
        return "unresolved", won
    if sign * (bmed - nmed) > bound * abs(bmed):
        return "worse", won
    return "no worse", won


def check_settings(base: list[dict], new: list[dict]) -> list[str]:
    """Differences in run settings that make two sets incomparable."""
    problems = []
    for key in SETTINGS:
        seen = {(r["workload"], r["provenance"][key]) for r in base + new}
        per_wl: dict[str, set] = {}
        for wl, v in seen:
            per_wl.setdefault(wl, set()).add(v)
        for wl, vals in sorted(per_wl.items()):
            if len(vals) > 1:
                problems.append(f"{wl}: runs differ in {key}: {sorted(map(str, vals))}")
    return problems


def fmt(v: float) -> str:
    return f"{v:.4g}"


def compare(base: list[dict], new: list[dict], spec: dict) -> None:
    e2e = spec["end_to_end"]
    workloads = sorted({r["workload"] for r in base + new})
    for wl in workloads:
        b_runs = [r for r in base if r["workload"] == wl and not r["provenance"]["trace"]]
        n_runs = [r for r in new if r["workload"] == wl and not r["provenance"]["trace"]]
        print(f"\n== {wl}: {len(b_runs)} base runs, {len(n_runs)} new runs (untraced)")
        for side, runs in (("base", b_runs), ("new", n_runs)):
            if runs:
                steal = statistics.median(r["provenance"]["steal_share"] for r in runs)
                failed = sum(r["info"]["failed"] for r in runs)
                attempted = sum(r["info"]["attempted"] for r in runs)
                code = sorted(
                    {f"{(r['provenance']['commit'] or '-')[:12]} src {r['provenance']['source_sha256'][:12]}" for r in runs}
                )
                print(f"   {side}: commit {', '.join(code)}; steal share {steal:.3f}; failed {failed}/{attempted}")
        if b_runs and n_runs:
            steals = [statistics.median(r["provenance"]["steal_share"] for r in runs) for runs in (b_runs, n_runs)]
            if abs(steals[0] - steals[1]) > STEAL_GAP:
                # measured on a 4-core host: sets at 0.2% and 11% steal differed
                # by 34% in set-up wall time with the same code
                print(f"   WARNING: the sides ran at different host steal ({steals[0]:.3f} vs {steals[1]:.3f}); wall verdicts reflect the host as much as the code")
            print(f"   {'metric':16s} {'base q1/med/q3':>30s} {'new q1/med/q3':>30s} {'won':>5s}  verdict")
            for m in e2e:
                bv = {r["provenance"]["seed"]: r["measured"][m["name"]] for r in b_runs}
                nv = {r["provenance"]["seed"]: r["measured"][m["name"]] for r in n_runs}
                v, won = verdict(bv, nv, m["better"], m["bound"])
                bs = "/".join(fmt(x) for x in summary(list(bv.values())))
                ns = "/".join(fmt(x) for x in summary(list(nv.values())))
                print(f"   {m['name']:16s} {bs:>30s} {ns:>30s} {won:5.2f}  {v} (bound {m['bound']})")
            for name, better in UNBOUNDED.items():
                bv = {r["provenance"]["seed"]: r["measured"][name] for r in b_runs}
                nv = {r["provenance"]["seed"]: r["measured"][name] for r in n_runs}
                v, won = verdict(bv, nv, better, float("inf"))
                bs = "/".join(fmt(x) for x in summary(list(bv.values())))
                ns = "/".join(fmt(x) for x in summary(list(nv.values())))
                print(f"   {name:16s} {bs:>30s} {ns:>30s} {won:5.2f}  {'improved' if v == 'improved' else '-'} (no bound)")
        overhead(wl, base, "base")
        overhead(wl, new, "new")
        layer_diff(wl, base, new)


def overhead(wl: str, runs: list[dict], side: str) -> None:
    traced = [r["measured"]["latency_p50_s"] for r in runs if r["workload"] == wl and r["provenance"]["trace"]]
    plain = [r["measured"]["latency_p50_s"] for r in runs if r["workload"] == wl and not r["provenance"]["trace"]]
    if traced and plain:
        t, p = statistics.median(traced), statistics.median(plain)
        print(f"   tracing overhead ({side}): latency_p50_s {fmt(t)} traced vs {fmt(p)} untraced ({t / p - 1:+.1%})")


def layer_diff(wl: str, base: list[dict], new: list[dict]) -> None:
    b_runs = [r for r in base if r["workload"] == wl and r["provenance"]["trace"]]
    n_runs = [r for r in new if r["workload"] == wl and r["provenance"]["trace"]]
    if not (b_runs and n_runs):
        return
    print(f"   per-layer medians, traced ({len(b_runs)} base, {len(n_runs)} new):")
    keys = [k for k in b_runs[0]["per_layer"] if k != "trace.self_s"]
    for k in keys:
        b = statistics.median(r["per_layer"][k] for r in b_runs)
        n = statistics.median(r["per_layer"].get(k, float("nan")) for r in n_runs)
        ratio = f"{n / b:6.3f}x" if b else "     -"
        print(f"     {k:34s} {fmt(b):>12s} {fmt(n):>12s} {ratio}")
    print("   span self time per operation, seconds:")
    names = sorted({k for r in b_runs + n_runs for k in r["per_layer"]["trace.self_s"]})
    for k in names:
        b = statistics.median(r["per_layer"]["trace.self_s"].get(k, 0.0) / r["info"]["attempted"] for r in b_runs)
        n = statistics.median(r["per_layer"]["trace.self_s"].get(k, 0.0) / r["info"]["attempted"] for r in n_runs)
        print(f"     {k:34s} {fmt(b):>12s} {fmt(n):>12s}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=str(ROOT / "BENCHMARK.json"))
    args = ap.parse_args(argv)
    spec = json.loads(Path(args.benchmark).read_text())
    base, new = load(args.base), load(args.new)
    if not base or not new:
        print("compare: a side holds no run records", file=sys.stderr)
        return 2
    problems = check_settings(base, new)
    if problems:
        print("compare: refusing to compare runs made with different settings:", file=sys.stderr)
        for p in problems:
            print(f"  {p}", file=sys.stderr)
        return 2
    compare(base, new, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
