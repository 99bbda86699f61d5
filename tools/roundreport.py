#!/usr/bin/env python3
"""Generate the README's per-round bench numbers block from the round's
committed artifacts (VERDICT r19 next #4: the r19 README paragraph was
written before the final artifact fold and drifted on totals/run-counts/
floors — every number in the round headline must come FROM the final
artifacts, the same drift-proofing SCALE_TABLE.md gets from
`scalereport.py table`).

Usage: python3 tools/roundreport.py <round> [prev_round]

Reads BENCH_full_r{N}.json / BENCH_full_SF1_r{N}.json for the round and
its predecessor and prints a markdown bullet whose numbers are computed
from those files alone. Paste the output verbatim into README's
"Per-round bench history" list; re-run after ANY late artifact fold.
"""
import json
import statistics
import sys


def load(path):
    try:
        with open(path) as f:
            return json.load(f)
    except OSError:
        return None


def minima(artifact):
    """Per-query minimum walls: full-precision 'passes' mins where
    present (the committed shape), else the rounded 'queries' map."""
    if artifact is None:
        return {}
    out = {}
    for name, v in (artifact.get("queries") or {}).items():
        if isinstance(v, (int, float)):
            out[name] = float(v)
    for name, passes in (artifact.get("passes") or {}).items():
        ok = [p for p in passes if isinstance(p, (int, float))]
        if ok:
            out[name] = min(ok)
    return out


def fmt(x, nd=3):
    return f"{x:.{nd}f}"


def main():
    rnd = int(sys.argv[1])
    prev = int(sys.argv[2]) if len(sys.argv) > 2 else rnd - 1
    cur = load(f"BENCH_full_r{rnd}.json")
    old = load(f"BENCH_full_r{prev}.json")
    cur_sf1 = load(f"BENCH_full_SF1_r{rnd}.json")
    old_sf1 = load(f"BENCH_full_SF1_r{prev}.json")
    if cur is None:
        sys.exit(f"BENCH_full_r{rnd}.json not found")

    q, p = minima(cur), minima(old)
    shared = [(n, q[n], p[n]) for n in sorted(set(q) & set(p))]
    big = [(n, c, o) for n, c, o in shared if o >= 0.3]
    ratios = sorted((c / o, n) for n, c, o in big if o > 0)
    cur_sum = sum(c for _, c, _ in shared)
    prev_sum = sum(o for _, _, o in shared)
    over2 = [n for r, n in ratios if r > 2.0]
    worst = ratios[-1] if ratios else (float("nan"), "-")
    med = statistics.median(r for r, _ in ratios) if ratios else float("nan")
    failed = cur.get("failed") or []
    runs = cur.get("merged_runs", 1)
    calib = cur.get("calibration") or {}

    lines = []
    lines.append(
        f"- **Round-{rnd} bench** (`BENCH_full_r{rnd}.json`, "
        f"{len(q)} queries, minima min-merged across {runs} full sf0.1 "
        f"run{'s' if runs != 1 else ''}, {len(failed)} failed): total "
        f"**{fmt(cur.get('value', sum(q.values())))} s**"
        + (f" vs r{prev}'s {fmt(old.get('value', prev_sum))} s "
           f"(shared-sum ratio {fmt(cur_sum / prev_sum)}"
           f", median per-query ratio {fmt(med)} over the "
           f"{len(big)} shared queries above 0.3 s, worst "
           f"{fmt(worst[0], 2)}x `{worst[1]}`, "
           f"{len(over2)} above the 2x bar"
           + (f": {', '.join('`%s`' % n for n in over2)}" if over2 else "")
           + ")" if old else "")
        + ".")
    lines.append(
        f"  Calibration probe: "
        f"{fmt(calib.get('start', float('nan')))} s at start, "
        f"{fmt(calib.get('end', float('nan')))} s at end.")
    if cur_sf1 is not None:
        q1, p1 = minima(cur_sf1), minima(old_sf1)
        runs1 = cur_sf1.get("merged_runs", 1)
        shared1 = [(n, q1[n], p1[n]) for n in sorted(set(q1) & set(p1))
                   if p1[n] > 0]
        r1 = sorted((c / o, n) for n, c, o in shared1)
        lines.append(
            f"  The sf1 decade (`BENCH_full_SF1_r{rnd}.json`, pinned "
            f"{len(q1)}, min-merged across {runs1} runs): "
            f"**{fmt(cur_sf1.get('value', 0.0))} s, "
            f"{len(cur_sf1.get('failed') or [])} failed**"
            + (f" — {fmt(sum(c for _, c, _ in shared1) / sum(o for _, _, o in shared1))}x "
               f"vs r{prev}, worst per-query {fmt(r1[-1][0], 2)}x "
               f"`{r1[-1][1]}`" if shared1 else "")
            + ".")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
