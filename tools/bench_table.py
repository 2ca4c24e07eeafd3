#!/usr/bin/env python3
"""Render BASELINE_BENCH.md — the per-query honest-median baseline table —
from a Bench run's bench.json (round-7 directive, landed round 9), and
auto-flag movers against a committed baseline (round-12 directive: the
adjudication table used to be hand-assembled from memory each round).

Usage:
  python3 tools/bench_table.py [bench.json]                 > BASELINE_BENCH.md
  python3 tools/bench_table.py [bench.json] --movers [BASELINE_BENCH.md]
  python3 tools/bench_table.py [bench.json] --merge-lower OLD.md \
      [--new-rows x214,x219,...]   # committed-table update rule: per query
      # elementwise MIN with the committed table (lower-run policy);
      # --new-rows prefixes (code changed this round) take the new run's
      # values outright so a deliberate perf trade is never hidden

--movers parses the committed per-query medians out of the baseline table,
computes this run's median/committed ratios, flags >2x movers, and — using
the per-sample [start_epoch, duration] series Bench.scala records — groups
each mover's SLOW samples into wall-clock contention windows (samples
within 60 s of each other share a window). Because Bench schedules reruns
as two temporally-separated sweeps, a genuine host-contention episode can
poison at most a minority of any query's samples: a mover whose slow
samples all share one window while its other-sweep samples sit in-band is
exonerated BY THE ARTIFACT, no manual rerun session needed.

Round 14: bench.json additionally carries a "canaries" series — pinned,
memo-free queries rerun at fixed slot offsets through the whole session.
Each canary reading divided by its committed median measures the HOST
FACTOR at that instant. --movers interpolates that factor at every mover
sample's timestamp (median of the 3 nearest readings) and reports a
NORMALIZED ratio next to the raw one: a mover whose normalized ratio sits
inside the gate is host-degradation, provably from the artifact; one that
stays outside is a genuine regression candidate. Factors below 1 are
clamped to 1 — a fast host never inflates a mover's normalized ratio.

Round 14d: the host factor proved MAGNITUDE-DEPENDENT (one session read
the sub-0.2 s view-read canary at 3.9x while the compute canaries read
~1x — fixed per-job scheduler overhead inflates small jobs more), so
--movers additionally normalizes each mover against the canary whose
committed median is log-closest to the mover's own. Canaries are pinned
unchanged-forever code, so each one's ratio is the host factor for its
magnitude class by construction — a real regression in a non-canary
query still stands out against its matched canary.

Round 15 (judge directive + advisor): the round-14 union rule ("inside
the gate under EITHER normalization exonerates") strictly weakened the
gate — one noisy canary in a mover's magnitude class could exonerate a
genuine regression. Now: both normalizations inside -> exonerated; both
outside -> regression candidate; a DISAGREEMENT is resolved by the
magnitude-matched normalization — in EITHER direction — only when its
canary's own factor series is TIGHT (>= 3 readings, max/min <= 2, a
consistent band rather than one noisy reading); a disagreement under a
noisy matched series is AMBIGUOUS and goes to graft.Probe time.

Round 15 staleness policy (round-14 verdict directive): committed rows
are historical-best minima under the merge-lower ratchet, and four
consecutive sessions showed the q01 canary 3.3-5.0x its committed row
while plans stayed pinned — golden-era pricing this host no longer
reproduces. --movers now keeps a small state file (bench_staleness.json
next to the baseline): per tracked row, the session-median/committed
ratio; a row >= 2x committed for 3 consecutive sessions is flagged
STALE and a REBASED current-host value (median of the breaching
sessions' medians) is reported alongside — both numbers are kept, the
committed row still records the code's best-known cost. The movers
report then distinguishes "host band, row STALE" from "host band,
transient".
"""
import json
import re
import sys
from datetime import date


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def render_table(b: dict) -> None:
    cold = b["queries"]
    med = b.get("queries_median", {})
    mn = b.get("queries_min", {})
    print("# Per-query bench baseline (honest medians)")
    print()
    print(f"Generated {date.today().isoformat()} from `bench.json` "
          f"(sf `{b['sf']}`, local[32]).")
    print(f"Total {b['value']:.1f} s cold / {b['median_total']:.1f} s median; "
          f"failed: {b['failed'] or 'none'}.")
    print()
    print("Median methodology: EVERY query reruns 2x (4x when cold is under "
          "2 s) — no single-sample entries — with the library's "
          "model/candidate caches cleared before every rerun (incl. the "
          "Report monthly rollup since round 13), so the median "
          "measures steady-state computation, not a memo lookup. The ONE "
          "deliberate exception is the S3 materialized view (View.dw): "
          "derived-view reuse is that operator itself, so q/r-family reruns "
          "read the warm view and its build cost is the q-family cold. "
          "Reruns are "
          "scheduled as two full sweeps AFTER the cold sweep (round 12), so "
          "each query's samples span three disjoint wall-clock windows and "
          "no single host-contention episode can poison a median. The cold "
          "series is the end-to-end session number (memo caches warm across "
          "siblings within the sweep; the three canary queries' colds are "
          "codegen-warm since round 14 — see below). `min s` is the "
          "smallest of the query's samples — the standing treat-the-LOWER-"
          "same-code-run-as-the-code's-cost policy, machine-readable. "
          "Pinned memo-free canaries (q01/x05/x83) rerun at fixed slot "
          "offsets through the session; their reading/committed ratios are "
          "the session host-factor series `--movers` normalizes movers by. "
          "`_`-prefixed rows are engine "
          "fixtures (warmup, layout demos), not queries.")
    print()
    print("| query | cold s | median s | min s |")
    print("|---|---:|---:|---:|")
    for name in sorted(cold):
        c = cold[name]
        m = med.get(name)
        ms = f"{m:.3f}" if m is not None else "—"
        lo = mn.get(name)
        los = f"{lo:.3f}" if lo is not None else "—"
        print(f"| {name} | {c:.3f} | {ms} | {los} |")


def parse_baseline(path: str) -> dict:
    """Committed medians from a BASELINE_BENCH.md table."""
    meds = {}
    row = re.compile(r"^\|\s*([A-Za-z0-9_]+)\s*\|\s*[-0-9.]+\s*\|\s*([0-9.]+)\s*\|")
    with open(path) as f:
        for line in f:
            m = row.match(line)
            if m and not m.group(1).startswith("_"):
                meds[m.group(1)] = float(m.group(2))
    return meds


def parse_baseline_full(path: str) -> dict:
    """(cold, median) per query from a BASELINE_BENCH.md table."""
    rows = {}
    row = re.compile(r"^\|\s*([A-Za-z0-9_]+)\s*\|\s*([-0-9.]+)\s*\|\s*([0-9.]+)\s*\|")
    with open(path) as f:
        for line in f:
            m = row.match(line)
            if m and not m.group(1).startswith("_"):
                rows[m.group(1)] = (float(m.group(2)), float(m.group(3)))
    return rows


def merge_lower(b: dict, old_path: str, new_rows: list) -> None:
    """The committed-table UPDATE RULE, mechanized: per query, the code's
    cost is the elementwise MIN of the committed table and the new run
    (the standing lower-run policy — same-code sessions differ by a host
    contention band, so the lower reading is the code). Queries whose
    CODE changed this round (--new-rows prefixes) and queries absent from
    the old table take the new run's values outright, so a deliberate
    perf trade is never hidden by a stale lower row. Mutates b in place;
    render_table then prints the merged table."""
    old = parse_baseline_full(old_path)
    changed = tuple(new_rows)
    # Auto-rebase (round-16 policy): a row whose breach streak reached
    # REBASE_SESSIONS with green plan pins takes the new session's
    # values outright, exactly like a --new-rows entry — the committed
    # value was historical-best pricing this host has not reproduced in
    # 6+ sessions, and keeping it re-flags the same family every round.
    # The state file is resolved NEXT TO THE BASELINE (the same rule
    # movers_report uses) — a CWD-relative read would silently skip the
    # rebase when the tool runs from another directory. Corruption is
    # tolerated like update_staleness tolerates it (fresh state), but a
    # MISSING file is only fine because a repo without the tracker has
    # nothing to rebase.
    rebased = set()
    import os
    spath = os.path.join(os.path.dirname(os.path.abspath(old_path)),
                         "bench_staleness.json")
    state = None
    try:
        with open(spath) as f:
            state = json.load(f)
        for name, row in state.get("rows", {}).items():
            if row.get("streak", 0) >= REBASE_SESSIONS:
                rebased.add(name)
    except (FileNotFoundError, json.JSONDecodeError, KeyError):
        pass
    # Round-17 instrument rule: every reprice (auto-rebase, adjudicated
    # --new-rows move, or a brand-new first-priced row) is RECORDED in
    # the state file and RESETS the row's breach streak — the committed
    # value is now current-host by construction, so (a) the next
    # sessions read it ~1x and the old streak must not linger into a
    # spurious cascade, and (b) --movers can tell a current-era row (a
    # credible GENUINE flag) from a golden-era row (an instrument gap:
    # graft.Probe time + reprice, never a streak wait) when a canary in its
    # magnitude class stops measuring the band after its own rebase.
    # NOTE this makes --merge-lower STATEFUL: render only tables you
    # intend to commit. Re-rendering the SAME bench.json is idempotent
    # — the record carries the session's first-sample timestamp, and a
    # rebase decision recorded for this session re-applies even though
    # the first render already reset the streak.
    if state is not None:
        today = date.today().isoformat()
        samples = b.get("samples", {})
        t0 = min((ss[0][0] for ss in samples.values() if ss), default=None)
        repriced = state.setdefault("repriced", {})
        for name, rec in repriced.items():
            if (rec.get("kind") == "auto-rebase" and t0 is not None
                    and rec.get("t0") == t0):
                rebased.add(name)
        # ONE membership rule for record + reset, with kind precedence:
        # an auto-rebase is never relabeled by an overlapping --new-rows
        # prefix, and a row absent from the old table is "first-priced"
        # (it IS current-host, so the era note must treat it as such).
        moved = {name: "auto-rebase" for name in rebased}
        for name in b["queries"]:
            if name.startswith("_") or name in moved:
                continue
            if changed and name.startswith(changed):
                moved[name] = "new-rows" if name in old else "first-priced"
            elif name not in old:
                # Absent from the committed table: merge_lower takes the
                # session's values outright, so the row is current-host
                # priced whether or not a --new-rows prefix names it.
                moved[name] = "first-priced"
        for name, kind in sorted(moved.items()):
            repriced[name] = {"t": today, "kind": kind, "t0": t0}
            row = state.get("rows", {}).get(name)
            if row is not None:
                row.update(streak=0, breach_medians=[], stale=False,
                           rebased=None)
        with open(spath, "w") as f:
            json.dump(state, f, indent=1, sort_keys=True)
    if rebased:
        print(f"<!-- auto-rebased rows (breach streak >= {REBASE_SESSIONS} "
              f"sessions): {', '.join(sorted(rebased))} -->")
    for name in list(b["queries"]):
        if name.startswith("_") or name not in old:
            continue
        if name in rebased:
            continue
        if changed and name.startswith(changed):
            continue
        oc, om = old[name]
        nc = b["queries"][name]
        if oc >= 0 and (nc < 0 or oc < nc):
            b["queries"][name] = oc
        nm = b.get("queries_median", {}).get(name)
        if nm is not None and om > 0 and om < nm:
            b["queries_median"][name] = om
    # Recompute the headline totals from the merged rows (warmup + query
    # colds / medians — the same accounting Bench.scala uses).
    warm = b["queries"].get("_warmup", 0.0)
    b["value"] = warm + sum(v for k, v in b["queries"].items()
                            if not k.startswith("_") and v >= 0)
    b["median_total"] = warm + sum(v for v in b["queries_median"].values()
                                   if v >= 0)


def canary_factors(b: dict, committed: dict):
    """(ts, factor) host-factor series from the canary readings, a
    per-canary summary, and the per-canary series keyed by name (with
    that canary's committed median) for magnitude-matched normalization.
    factor = reading / committed median."""
    pts = []
    summary = {}
    series = {}
    for name, ss in b.get("canaries", {}).items():
        base = committed.get(name)
        if base is None or base <= 0:
            continue
        fs = [(ts, dur / base) for ts, dur in ss if dur > 0]
        pts.extend(fs)
        if fs:
            vals = sorted(f for _, f in fs)
            summary[name] = (len(vals), vals[len(vals) // 2],
                             vals[0], vals[-1])
            series[name] = (base, sorted(fs))
    pts.sort()
    return pts, summary, series


def factor_at(pts, ts: float) -> float:
    """Host factor at a timestamp: median of the 3 nearest canary
    readings (robust to one outlier reading), clamped at >= 1 so a
    fast host never inflates a normalized ratio."""
    if not pts:
        return 1.0
    near = sorted(pts, key=lambda p: abs(p[0] - ts))[:3]
    fs = sorted(f for _, f in near)
    return max(1.0, fs[len(fs) // 2])


def matched_canary(series: dict, base: float):
    """The canary whose committed median sits closest (in log space) to
    the mover's committed median. Round-14d finding: the host factor is
    MAGNITUDE-DEPENDENT — the same session measured the sub-0.2 s
    view-read canary at 3.9x while the 0.2-0.4 s compute canaries read
    ~1x (fixed per-job scheduler overhead inflates small jobs
    proportionally more) — so exonerating a small mover against the
    blended factor under-corrects, and a manual probe session was
    needed. Canaries are pinned unchanged-forever code, so each one's
    ratio IS the host factor for its magnitude class by construction."""
    import math
    if not series:
        return None
    return min(series, key=lambda n: abs(math.log(series[n][0])
                                         - math.log(max(base, 1e-6))))


STALE_GATE = 2.0     # session median >= this x committed counts as a breach
STALE_SESSIONS = 3   # consecutive breaching sessions before a row is STALE
REBASE_SESSIONS = 6  # consecutive breaches after which the rebased value
                     # REPLACES the committed one at the next merge (the
                     # round-16 policy: a STALE row that breaches for 3
                     # FURTHER sessions is golden-era pricing this host
                     # demonstrably never reproduces — keeping it only
                     # re-flags the same latency-band family every round;
                     # the historical best stays in git history)


def update_staleness(state_path: str, b: dict, committed: dict,
                     exclude: set = frozenset()) -> dict:
    """Consecutive-session committed-row breach tracking (round-15
    policy). For every query with samples this session, the session
    median / committed ratio either extends that row's consecutive-
    breach streak (ratio >= STALE_GATE) or resets it. A row whose streak
    reaches STALE_SESSIONS is STALE: its committed value is a historical-
    best minimum the current host no longer reproduces (plan pins green
    — a pinned-plan regression would be caught by the movers gate, not
    here). Both prices are kept: the committed row stays the code's
    best-known cost; `rebased` (median of the breaching sessions'
    medians) is the current-host cost. Sessions are deduplicated by the
    run's first sample timestamp against the full SET of recorded
    sessions (not just the latest), so re-rendering ANY older
    bench.json never re-counts it into a streak out of order.

    `exclude` names rows whose breach this session carries a GENUINE or
    AMBIGUOUS movers verdict: those are unadjudicated possible CODE
    regressions, and counting them toward the band streak would let a
    real sustained regression ride the streak into the round-16
    auto-rebase and get baked into the committed table. Excluded rows
    are skipped for the session — neither incremented nor reset — and
    resume accumulating once adjudication exonerates (or repricing
    resets) them."""
    try:
        with open(state_path) as f:
            state = json.load(f)
    except (OSError, json.JSONDecodeError):
        state = {"seen_session_t0s": [], "rows": {}}
    med = b.get("queries_median", {})
    samples = b.get("samples", {})
    t0 = min((ss[0][0] for ss in samples.values() if ss), default=None)
    seen = state.setdefault("seen_session_t0s", [])
    if state.get("last_session_t0") is not None:  # migrate pre-set state
        if state["last_session_t0"] not in seen:
            seen.append(state["last_session_t0"])
        state.pop("last_session_t0", None)
    if t0 is None or t0 in seen:
        return state  # no samples, or this session already recorded
    seen.append(t0)
    state["seen_session_t0s"] = seen[-64:]
    for name, m in med.items():
        base = committed.get(name)
        if base is None or base <= 0 or m < 0:
            continue
        if name in exclude:
            continue
        row = state["rows"].setdefault(name, {"streak": 0, "breach_medians": []})
        if m >= STALE_GATE * base:
            row["streak"] += 1
            row["breach_medians"].append(round(m, 3))
            row["breach_medians"] = row["breach_medians"][-8:]
        else:
            row["streak"] = 0
            row["breach_medians"] = []
        bm = sorted(row["breach_medians"])
        row["stale"] = row["streak"] >= STALE_SESSIONS
        row["rebased"] = bm[len(bm) // 2] if row["stale"] else None
    with open(state_path, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)
    return state


def stale_rows(state: dict) -> dict:
    return {n: r for n, r in state.get("rows", {}).items() if r.get("stale")}


def movers_report(b: dict, baseline_path: str, ratio_gate: float = 2.0,
                  staleness_path: str = None) -> None:
    committed = parse_baseline(baseline_path)
    med = b.get("queries_median", {})
    samples = b.get("samples", {})
    pts, canary_summary, canary_series = canary_factors(b, committed)
    if staleness_path is None:
        import os
        staleness_path = os.path.join(
            os.path.dirname(os.path.abspath(baseline_path)),
            "bench_staleness.json")
    # Previous state (read-only) feeds the per-row stale notes; the
    # tracker itself updates AFTER the verdict loop so GENUINE/AMBIGUOUS
    # breaches can be excluded from streak accumulation (a possible code
    # regression must be adjudicated, never ridden into an auto-rebase).
    repriced = {}
    try:
        with open(staleness_path) as f:
            _st = json.load(f)
        stale = stale_rows(_st)
        repriced = _st.get("repriced", {})
    except (OSError, json.JSONDecodeError):
        stale = {}
    unadjudicated = set()
    movers = []
    for name, m in sorted(med.items()):
        base = committed.get(name)
        if base is None or base <= 0 or m < 0:
            continue
        if m > ratio_gate * base:
            movers.append((name, base, m))
    # Slow samples across ALL queries (not just median movers): a sample
    # >2x its committed median AND >= 1 s over it is contention evidence
    # for the window map (the absolute floor keeps sub-second ratio
    # chatter — 0.3 s vs a 0.1 s committed median — from chaining
    # unrelated windows together).
    slow = []  # (ts, dur, name)
    for name, ss in samples.items():
        base = committed.get(name)
        if base is None or base <= 0:
            continue
        for ts, dur in ss:
            if dur > ratio_gate * base and dur - base >= 1.0:
                slow.append((ts, dur, name))
    slow.sort()
    # Chain on the previous slow sample's END (ts + dur), not its start:
    # samples run sequentially, so a single >60 s slow sample (or 60 s of
    # intervening fast samples inside one episode) must not split the
    # episode into two "windows" and understate the contention evidence.
    windows = []  # list of (t_lo, t_hi, [(name, dur)...])
    for ts, dur, name in slow:
        if windows and ts - windows[-1][1] <= 60.0:
            lo, hi, members = windows[-1]
            windows[-1] = (lo, max(hi, ts + dur), members + [(name, dur)])
        else:
            windows.append((ts, ts + dur, [(name, dur)]))
    t0 = min((ss[0][0] for ss in samples.values() if ss), default=0.0)

    print(f"## Mover adjudication — generated {date.today().isoformat()} "
          f"from bench.json vs `{baseline_path}`")
    print()
    if canary_summary:
        all_f = sorted(f for _, f in pts)
        print(f"Session host factor (canary readings / committed medians): "
              f"median {all_f[len(all_f) // 2]:.2f}x over {len(all_f)} "
              f"readings, range {all_f[0]:.2f}x..{all_f[-1]:.2f}x.")
        for name, (n, med_f, lo, hi) in sorted(canary_summary.items()):
            print(f"- {name}: {n} readings, median {med_f:.2f}x "
                  f"({lo:.2f}x..{hi:.2f}x)")
        print()
    else:
        print("No canary series in bench.json (pre-round-14 artifact): "
              "normalized ratios fall back to raw.")
        print()
    if not movers:
        print(f"No median movers (> {ratio_gate}x committed). "
              f"{len(slow)} slow SAMPLE(s) in {len(windows)} contention "
              "window(s) were absorbed by the sweep-split medians.")
    else:
        print("| query | committed s | median s | ratio | norm ratio | "
              "mag-matched (canary) | slow/total samples | verdict |")
        print("|---|---:|---:|---:|---:|---:|---:|---|")
        for name, base, m in movers:
            ss = samples.get(name, [])
            n_slow = sum(1 for _, d in ss if d > ratio_gate * base)
            # Normalized median: each sample deflated by the host factor
            # measured nearest it in time, then the same median rule.
            norm = sorted(d / factor_at(pts, ts) for ts, d in ss if d >= 0)
            nm = norm[len(norm) // 2] if norm else m
            nr = nm / base
            # Magnitude-matched normalization: same rule, but against the
            # committed-median-closest canary's own factor series.
            mc = matched_canary(canary_series, base)
            if mc is not None:
                mpts = canary_series[mc][1]
                mnorm = sorted(d / factor_at(mpts, ts)
                               for ts, d in ss if d >= 0)
                mr = (mnorm[len(mnorm) // 2] if mnorm else m) / base
                mcell = f"{mr:.1f}x ({mc.split('_')[0]})"
            else:
                mr = nr
                mcell = "—"
            in_n = nr <= ratio_gate
            in_m = mr <= ratio_gate
            # Trust gate for the magnitude-matched series (round-15
            # advisor rule): >= 3 readings whose factors span <= 2x —
            # a consistently elevated band, not one noisy reading.
            cs = canary_summary.get(mc) if mc is not None else None
            tight = (cs is not None and cs[0] >= 3
                     and cs[3] <= 2.0 * max(cs[2], 1e-9))
            stale_note = ""
            if name in stale:
                stale_note = (f" — row STALE ({stale[name]['streak']} "
                              f"consecutive sessions >= {STALE_GATE:.0f}x; "
                              f"current-host ~{stale[name]['rebased']:.3f} s)")
            if in_n and in_m:
                verdict = ("EXONERATED: both normalizations inside the "
                           "gate — host factor explains the ratio"
                           + stale_note)
            elif in_n != in_m and tight:
                # A tight magnitude-matched series is trusted in BOTH
                # directions: it exonerates when inside the gate, and it
                # convicts when outside (the blended factor under- or
                # over-corrects across magnitude classes).
                if in_m:
                    verdict = (f"EXONERATED by MAGNITUDE-MATCHED canary "
                               f"({mc.split('_')[0]}: tight elevated band)"
                               + stale_note)
                else:
                    verdict = (f"GENUINE REGRESSION CANDIDATE: the tight "
                               f"magnitude-matched canary "
                               f"({mc.split('_')[0]}) stays outside the "
                               "gate — adjudicate with graft.Probe time")
            elif in_n != in_m:
                verdict = ("AMBIGUOUS: normalizations disagree (matched "
                           "canary series noisy) — adjudicate with "
                           "graft.Probe time before moving the row")
            elif 2 * n_slow > len(ss):
                verdict = ("GENUINE REGRESSION CANDIDATE: majority of "
                           "samples slow even after host-factor "
                           "normalization — adjudicate with graft.Probe time")
            else:
                verdict = ("artifact-exonerable: median poisoned by a "
                           "minority window (should not happen under "
                           "sweep split — check)")
            if verdict.startswith(("GENUINE", "AMBIGUOUS")):
                unadjudicated.add(name)
                # Era context (round-17 instrument rule): a canary that
                # was itself repriced reads ~1x by construction and can
                # no longer measure the band for GOLDEN-ERA committed
                # rows in its magnitude class — such a flag is an
                # instrument gap (graft.Probe time + reprice at adjudication,
                # never a streak wait). A flag on a row whose own
                # committed value is current-host-priced has no such
                # excuse and is credible as filed.
                if name in repriced:
                    verdict += (" — row committed value is current-host "
                                f"(repriced {repriced[name]['t']}): "
                                "flag is credible")
                elif mc is not None and mc in repriced:
                    verdict += (f" — matched canary {mc.split('_')[0]} was "
                                f"repriced {repriced[mc]['t']} and reads "
                                "~1x by construction; this row's committed "
                                "value predates that reprice — likely an "
                                "instrument gap: graft.Probe time, then reprice "
                                "per the round-17 rule")
            print(f"| {name} | {base:.3f} | {m:.3f} | {m / base:.1f}x | "
                  f"{nr:.1f}x | {mcell} | {n_slow}/{len(ss)} | {verdict} |")
    # The tracker updates AFTER the verdicts so unadjudicated
    # (GENUINE/AMBIGUOUS) breaches never accumulate toward the
    # auto-rebase streak — a real sustained code regression must be
    # adjudicated, not ridden into the committed table. The per-row
    # stale notes above reflect the PREVIOUS session's state; the list
    # below is post-update.
    stale = stale_rows(update_staleness(staleness_path, b, committed,
                                        exclude=unadjudicated))
    print()
    if windows:
        print("Contention windows (each slow sample starting <= 60 s after "
              "the previous one ENDS):")
        print()
        for lo, hi, members in windows:
            names = ", ".join(f"{n} ({d:.1f}s)" for n, d in members)
            print(f"- run offset +{lo - t0:.0f}s..+{hi - t0:.0f}s: {names}")
    if stale:
        print()
        print(f"STALE committed rows (session median >= {STALE_GATE:.0f}x "
              f"committed for {STALE_SESSIONS}+ consecutive sessions, plan "
              "pins green — 'host band, row stale', vs transient movers "
              "above). The committed value stays until the streak reaches "
              f"{REBASE_SESSIONS}; from then on merge-lower REBASES the row "
              "to the next session's own values (round-16 policy — the "
              "historical best lives on in git history).")
        print()
        for n, r in sorted(stale.items()):
            due = (" — REBASE DUE at next merge"
                   if r["streak"] >= REBASE_SESSIONS else "")
            print(f"- {n}: committed {committed.get(n, 0.0):.3f} s, rebased "
                  f"~{r['rebased']:.3f} s ({r['streak']} sessions){due}")


def main() -> None:
    args = [a for a in sys.argv[1:]]
    if "--movers" in args:
        i = args.index("--movers")
        baseline = args[i + 1] if len(args) > i + 1 else "BASELINE_BENCH.md"
        bench = args[0] if i > 0 else "bench.json"
        spath = None
        if "--staleness" in args:
            spath = args[args.index("--staleness") + 1]
        movers_report(load(bench), baseline, staleness_path=spath)
    elif "--merge-lower" in args:
        i = args.index("--merge-lower")
        old = args[i + 1]
        new_rows = []
        if "--new-rows" in args:
            j = args.index("--new-rows")
            new_rows = args[j + 1].split(",")
        bench = args[0] if i > 0 else "bench.json"
        b = load(bench)
        merge_lower(b, old, new_rows)
        render_table(b)
    else:
        bench = args[0] if args else "bench.json"
        render_table(load(bench))


if __name__ == "__main__":
    try:
        main()
    except BrokenPipeError:  # e.g. piped into head
        import os
        os._exit(0)
