#!/usr/bin/env python3
"""Render BASELINE_BENCH.md from a Bench run's bench.json, and list the
movers of a run against a committed BASELINE_BENCH.md.

Usage:
  python3 tools/bench_table.py [bench.json]                  > BASELINE_BENCH.md
  python3 tools/bench_table.py [bench.json] --movers [BASELINE_BENCH.md]

A row's structure is its (jobs, stages, tasks) over the memo-cold reruns
Bench counted (bench.json "structure": one [jobs, stages, tasks, task_s]
per rerun). A row whose reruns disagree is unstable; the table then shows
each count as its lo-hi range. The table and the movers also show each
row's regime (bench.json "regime": small or large, see queries.Regime). --movers lists, and exonerates none of:
  1. every stable row whose structure differs from the committed row
     (a count outside the committed range), whatever its wall-clock;
  2. every row whose median is more than 2x the committed median with the
     same structure: a slower expression keeps its structure;
  3. every unstable row.
"""
import json
import re
import sys
from datetime import date

RATIO_GATE = 2.0
COUNTS = ("jobs", "stages", "tasks")
ROUTE = {
    "changed": "structure changed: `graft.Probe plan`/`stages`",
    "slower": "same structure: ≥3-rep `graft.Probe time`",
    "unstable": "unstable: `graft.Probe stages`",
}


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def ranges(reruns: list) -> tuple:
    """Per count, the (lo, hi) over a row's reruns."""
    return tuple((min(r[i] for r in reruns), max(r[i] for r in reruns))
                 for i in range(len(COUNTS)))


def stable(rng: tuple) -> bool:
    return all(lo == hi for lo, hi in rng)


def cell(lo_hi: tuple) -> str:
    lo, hi = lo_hi
    return str(lo) if lo == hi else f"{lo}-{hi}"


def render_table(b: dict) -> None:
    cold = b["queries"]
    med = b.get("queries_median", {})
    structure = b.get("structure", {})
    regime = b.get("regime", {})
    print("# Per-query bench baseline")
    print()
    print(f"Generated {date.today().isoformat()} from `bench.json` "
          f"(sf `{b['sf']}`, local[{b.get('cores', '?')}]). "
          f"Total {b['value']:.1f} s cold / {b['median_total']:.1f} s median; "
          f"failed: {b['failed'] or 'none'}.")
    print()
    print("`cold s` is each query's first run in one session, memo caches "
          "warm across siblings. `median s` is the median of the cold run "
          "and 2 reruns (4 when cold is under 2 s), each rerun with every "
          "library memo cache cleared; the reruns run as two sweeps after "
          "the cold sweep. `jobs`, `stages` and `tasks` are the Spark work "
          "of each memo-cold rerun, counted by `graft.obs.JobStats` "
          "(stages = `JobStart.stageIds.size`, skipped stages included). A "
          "`lo-hi` range marks an unstable row: its reruns disagreed. "
          "`regime` is the row's execution regime (`queries.Regime`): "
          "`small` runs with AQE off and one shuffle partition. "
          "`_`-prefixed rows are engine fixtures (warmup, layout demos), "
          "not queries.")
    print()
    print("## Movers")
    print()
    print("`python3 tools/bench_table.py bench.json --movers BASELINE_BENCH.md` "
          "compares a run with this table and lists, exonerating none:")
    print()
    print("1. every stable row whose structure differs from its row here "
          "(a count outside the committed range), whatever its wall-clock, "
          f"as \"{ROUTE['changed']}\";")
    print(f"2. every row whose median is more than {RATIO_GATE:.0f}x its "
          f"median here with the same structure, as \"{ROUTE['slower']}\";")
    print(f"3. every unstable row, as \"{ROUTE['unstable']}\".")
    print()
    print("Wall-clock on this shared host is not evidence on its own: a row "
          "moves only after its probe says why.")
    print()
    print("| query | cold s | median s | jobs | stages | tasks | regime |")
    print("|---|---:|---:|---:|---:|---:|---|")
    for name in sorted(cold):
        m = med.get(name)
        ms = f"{m:.3f}" if m is not None else "—"
        rs = structure.get(name)
        counts = (" | ".join(cell(r) for r in ranges(rs)) if rs
                  else " | ".join("—" for _ in COUNTS))
        print(f"| {name} | {cold[name]:.3f} | {ms} | {counts} | {regime.get(name, '—')} |")


ROW = re.compile(r"^\|\s*([A-Za-z0-9_]+)\s*\|\s*[-0-9.]+\s*\|\s*([-0-9.]+)\s*\|"
                 r"\s*([0-9-]+)\s*\|\s*([0-9-]+)\s*\|\s*([0-9-]+)\s*\|")


def span(c: str) -> tuple:
    """(lo, hi) of a rendered count cell: `42` or `42-43`."""
    lo, _, hi = c.partition("-")
    return int(lo), int(hi or lo)


def parse_baseline(path: str) -> dict:
    """name -> (median, per-count (lo, hi)) from a BASELINE_BENCH.md table."""
    rows = {}
    with open(path) as f:
        for line in f:
            m = ROW.match(line)
            if m and not m.group(1).startswith("_"):
                rows[m.group(1)] = (float(m.group(2)),
                                    tuple(span(c) for c in m.group(3, 4, 5)))
    return rows


def movers(b: dict, committed: dict) -> list:
    """(name, kind, detail) for every row the rule lists, in rule order."""
    med = b.get("queries_median", {})
    out = {"changed": [], "slower": [], "unstable": []}
    for name, reruns in sorted(b.get("structure", {}).items()):
        now = ranges(reruns)
        shown = " / ".join(cell(r) for r in now)
        if not stable(now):
            out["unstable"].append((name, "unstable", shown))
            continue
        if name not in committed:
            continue
        base_med, base = committed[name]
        if any(v < lo or v > hi for (v, _), (lo, hi) in zip(now, base)):
            was = " / ".join(cell(r) for r in base)
            out["changed"].append((name, "changed", f"{was} → {shown}"))
        elif base_med > 0 and med.get(name, -1) > RATIO_GATE * base_med:
            out["slower"].append(
                (name, "slower", f"{base_med:.3f} → {med[name]:.3f} s"))
    return out["changed"] + out["slower"] + out["unstable"]


def movers_report(b: dict, baseline_path: str) -> None:
    rows = movers(b, parse_baseline(baseline_path))
    print(f"## Movers — generated {date.today().isoformat()} from bench.json "
          f"vs `{baseline_path}`")
    print()
    if not rows:
        print("No movers.")
        return
    regime = b.get("regime", {})
    print("| query | jobs / stages / tasks or median | regime | route |")
    print("|---|---|---|---|")
    for name, kind, detail in rows:
        print(f"| {name} | {detail} | {regime.get(name, '—')} | {ROUTE[kind]} |")


def main() -> None:
    args = sys.argv[1:]
    if "--movers" in args:
        i = args.index("--movers")
        baseline = args[i + 1] if len(args) > i + 1 else "BASELINE_BENCH.md"
        bench = args[0] if i > 0 else "bench.json"
        movers_report(load(bench), baseline)
    else:
        render_table(load(args[0] if args else "bench.json"))


if __name__ == "__main__":
    try:
        main()
    except BrokenPipeError:  # e.g. piped into head
        import os
        os._exit(0)
