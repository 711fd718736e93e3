#!/usr/bin/env python3
"""Cross-round per-query bench median diff (round-13 verdict item 3).

The in-run symmetric re-measure only sees INTRA-run spread; a query
that regresses 3x with a clean spread (round 13's q93) slips every
in-run gate. This tool is the cross-round check: it compares the
current bench detail file's per-query medians against the previous
committed version (git show <ref>:<file>) and prints every query whose
median moved past the threshold while its spread stayed low enough to
count as signal rather than weather.

Probe anchoring: both records carry probe_median_sec for a frozen
scan+agg plan, so uniform machine-weather differences between the two
runs are divided out before the per-query ratio is judged (the raw
ratio is still printed).

Layer attribution: when both records carry a per-query `layers` block
(build / plan / exec / gap seconds of one pass, written by graft.Bench),
each flagged query also gets the layer whose seconds moved most, so a
speed claim names the layer that moved, and the layer seconds and
build-time jobs summed over the common queries are printed. Records
without `layers` diff exactly as before.

Usage:
  tools/bench_diff.py [detail_file] [--ref HEAD | --prev FILE]
                      [--thresh 1.5] [--spread-max 50] [--min-sec 0.2]
                      [--strict]

`--prev FILE` diffs against another record on disk (a same-window
before/after pair) instead of the committed version of detail_file.

Exit: 0 unless --strict and at least one probe-adjusted regression
passed the threshold.
"""
import argparse
import json
import subprocess
import sys

LAYERS = (("build", "build_s"), ("plan", "plan_s"),
          ("execute", "exec_s"), ("gap", "gap_s"))


def load_prev(ref: str, path: str):
    out = subprocess.run(
        ["git", "show", f"{ref}:{path}"],
        capture_output=True, text=True, cwd=".")
    if out.returncode != 0:
        return None
    return json.loads(out.stdout)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("detail", nargs="?",
                    default="bench_history/detail_sf0.1.json")
    ap.add_argument("--ref", default="HEAD")
    ap.add_argument("--prev", help="previous record file (default: "
                    "detail_file as committed at --ref)")
    ap.add_argument("--thresh", type=float, default=1.5)
    ap.add_argument("--spread-max", type=float, default=50.0,
                    help="ignore queries whose current spread_pct is "
                         "above this (weather, not signal)")
    ap.add_argument("--min-sec", type=float, default=0.2,
                    help="ignore sub-threshold medians (scheduling noise)")
    ap.add_argument("--strict", action="store_true")
    args = ap.parse_args()

    try:
        with open(args.detail) as f:
            cur = json.load(f)
    except OSError as e:
        print(f"[bench-diff] no current detail file: {e}")
        return 0
    if args.prev:
        with open(args.prev) as f:
            prev = json.load(f)
    else:
        prev = load_prev(args.ref, args.detail)
    if prev is None:
        print(f"[bench-diff] no committed {args.detail} at {args.ref}; "
              "nothing to diff")
        return 0
    against = args.prev or args.ref

    cur_q = cur.get("queries", {})
    prev_q = prev.get("queries", {})
    cur_probe = float(cur.get("probe_median_sec") or 0) or None
    prev_probe = float(prev.get("probe_median_sec") or 0) or None
    weather = (cur_probe / prev_probe) if cur_probe and prev_probe else 1.0
    # shuffle-path weather (round-16 lesson: the scan probe is blind to
    # shuffle-path slowdowns — the box ran its shuffle path ~2x slower
    # than at the r15 record while the scan probe moved 3%). Entries
    # since round 17 carry a 5th element: "x" = plan has an Exchange
    # (judge against the shuffle probe), "s" = scan-only.
    cur_shuf = float(cur.get("shuffle_probe_median_sec") or 0) or None
    prev_shuf = float(prev.get("shuffle_probe_median_sec") or 0) or None
    shuf_weather = (cur_shuf / prev_shuf) if cur_shuf and prev_shuf \
        else weather

    def weather_of(rec):
        shape = rec[4] if len(rec) > 4 else None
        return shuf_weather if shape == "x" else weather

    def adj_median(rec):
        # detail entries are [median, spread_pct, n, probe_adj_median]
        # since round 15; older records lack the 4th element, so fall
        # back to the raw median (factor 1)
        return float(rec[3]) if len(rec) > 3 else float(rec[0])

    regress, improve = [], []
    for name, cur_rec in sorted(cur_q.items()):
        prev_rec = prev_q.get(name)
        if prev_rec is None:
            continue  # new query this round: no prior median
        cur_med, cur_spread = float(cur_rec[0]), float(cur_rec[1])
        prev_med = float(prev_rec[0])
        if max(cur_med, prev_med) < args.min_sec or prev_med <= 0:
            continue
        raw = cur_med / prev_med
        # probe-adjusted ratio: per-query local-pressure correction
        # (the bracketing-probe scaling baked into each record) plus
        # the run-level probe weather between the two records
        w = weather_of(cur_rec)
        prev_adj = adj_median(prev_rec)
        adj = (adj_median(cur_rec) / prev_adj / w
               if prev_adj > 0 else raw / w)
        if adj >= args.thresh and cur_spread <= args.spread_max:
            regress.append((name, prev_med, cur_med, raw, adj, cur_spread))
        elif adj <= 1.0 / args.thresh:
            improve.append((name, prev_med, cur_med, raw, adj, cur_spread))

    shuf_note = (f", shuffle weather x{shuf_weather:.2f}"
                 if cur_shuf and prev_shuf else "")
    print(f"[bench-diff] {args.detail} vs {against} "
          f"({len(set(cur_q) & set(prev_q))} common queries, "
          f"probe weather x{weather:.2f}{shuf_note})")
    if not regress:
        print(f"[bench-diff] no regression >= {args.thresh}x "
              f"(probe-adjusted, spread <= {args.spread_max}%)")
    else:
        print(f"[bench-diff] REGRESSIONS >= {args.thresh}x "
              f"(probe-adjusted, spread <= {args.spread_max}%):")
        print(f"  {'query':36} {'prev_s':>8} {'cur_s':>8} "
              f"{'raw_x':>6} {'adj_x':>6} {'spread%':>7}")
        for name, p, c, raw, adj, sp in sorted(
                regress, key=lambda r: -r[4]):
            print(f"  {name:36} {p:8.3f} {c:8.3f} "
                  f"{raw:6.2f} {adj:6.2f} {sp:7.0f}")
    if improve:
        print(f"[bench-diff] improvements >= {args.thresh}x: "
              + ", ".join(f"{n} ({raw:.2f}x)"
                          for n, _, _, raw, _, _ in
                          sorted(improve, key=lambda r: r[4])[:10]))
    cur_l, prev_l = cur.get("layers"), prev.get("layers")
    flagged = [r[0] for r in sorted(regress, key=lambda r: -r[4])] + \
        [r[0] for r in sorted(improve, key=lambda r: r[4])]
    moved = [n for n in flagged if n in (cur_l or {}) and n in (prev_l or {})]
    if moved:
        print("[bench-diff] layer that moved most per flagged query "
              "(cur - prev, s):")
        for name in moved:
            deltas = [(label, float(cur_l[name].get(k, 0)) -
                       float(prev_l[name].get(k, 0))) for label, k in LAYERS]
            label, d = max(deltas, key=lambda x: abs(x[1]))
            print(f"  {name:36} {label:7} {d:+8.3f}  (" + " ".join(
                f"{lb} {dv:+.3f}" for lb, dv in deltas) + ")")
    both = sorted(set(cur_l or {}) & set(prev_l or {}))
    if both:
        def total(rec, key):
            return sum(float(rec[n].get(key, 0)) for n in both)

        def zero_build(rec):
            return sum(1 for n in both if rec[n].get("build_jobs", 0) == 0)
        print(f"[bench-diff] layer totals over {len(both)} queries "
              "(prev -> cur): " + ", ".join(
                  f"{label} {total(prev_l, k):.2f} -> {total(cur_l, k):.2f} s"
                  for label, k in LAYERS) +
              f"; build jobs {total(prev_l, 'build_jobs'):.0f} -> "
              f"{total(cur_l, 'build_jobs'):.0f}, queries with 0 build "
              f"jobs {zero_build(prev_l)} -> {zero_build(cur_l)}")
    return 1 if (args.strict and regress) else 0


if __name__ == "__main__":
    sys.exit(main())
