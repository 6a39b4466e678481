#!/usr/bin/env python3
"""Mechanical bench-posture drift check between two bench artifacts.

Usage: python3 tools/bench_diff.py <old> <new> [--ratio 2.0] [--floor 0.5]

<old>/<new> are either driver artifacts (BENCH_r{N}.json with the bench
line wrapped in "tail") or raw graft.Bench JSON lines. Prints the
pass-total brackets of both runs, every per-query delta whose new/old
ratio exceeds --ratio with new >= --floor seconds (the absolute floor
keeps sub-second jitter out), and the exact `graft.Bench --only` command
that attributes the flagged queries on an idle box (the artifact's
pass semantics and memo-slot accounting). Exits 1 when anything is flagged, so
the round-close sequence can gate on it.

Dev-tool only (driver-side python, like check_oracle.py).
"""
import argparse
import json
import re
import sys


def load_bench(path):
    with open(path) as f:
        raw = f.read()
    try:
        d = json.loads(raw)
    except json.JSONDecodeError:
        d = None
    if d is None and '"metric"' in raw:
        # multi-line raw graft.Bench output: salvage with the same
        # regex path as a truncated driver tail
        d = {"tail": raw, "sf": None}
    if isinstance(d, dict) and "tail" in d and "queries" not in d:
        # driver artifact: the bench line lives in "tail", which the
        # driver TRUNCATES from the head — salvage fields by regex
        # instead of a full JSON parse (early queries may be lost)
        t = d["tail"]
        sf = d.get("sf")
        if sf is None:
            ms = re.search(r'"sf":"([^"]+)"', t)
            sf = ms.group(1) if ms else None
        d = {"queries": {q: float(v) for q, v in
                         re.findall(r'"(q\d+_\w+)":([0-9.]+)', t)},
             "sf": sf, "truncated": True}
        mv = re.search(r'"value":([0-9.]+)', t)
        d["value"] = float(mv.group(1)) if mv else None
        mp = re.search(r'"pass_totals":\[([0-9.,\s]*)\]', t)
        if mp and mp.group(1).strip():
            d["pass_totals"] = [float(x) for x in mp.group(1).split(",")]
        for field in ("memo_groups", "slots"):
            mm = re.findall(r'"%s":\{([^}]*)\}' % field, t)
            if mm:
                d[field] = {k: float(v) for k, v in
                            re.findall(r'"([a-z0-9_]+)":([0-9.]+)', mm[-1])}
        for field in ("pass_cpu_ratios", "loadavg"):
            mm = re.search(r'"%s":\[([0-9.,\s]*)\]' % field, t)
            if mm and mm.group(1).strip():
                d[field] = [float(x) for x in mm.group(1).split(",")]
    if not isinstance(d, dict) or not d.get("queries"):
        sys.exit(f"{path}: not a bench artifact (no queries map)")
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--ratio", type=float, default=2.0,
                    help="flag when new/old exceeds this (default 2.0)")
    ap.add_argument("--floor", type=float, default=0.5,
                    help="ignore queries whose new time is below this "
                         "many seconds (default 0.5)")
    args = ap.parse_args()

    old = load_bench(args.old)
    new = load_bench(args.new)
    for name, d in (("old", old), ("new", new)):
        brk = d.get("pass_totals", [])
        tot = f"{d['value']:.1f}s" if d.get("value") is not None else "?"
        trunc = " (tail-truncated)" if d.get("truncated") else ""
        print(f"{name}: total={tot} sf={d.get('sf')} "
              f"queries={len(d['queries'])}{trunc} "
              f"passes={['%.1f' % p for p in brk]}")
    if old.get("pass_totals") and new.get("pass_totals"):
        r = min(new["pass_totals"]) / min(old["pass_totals"])
        print(f"min-pass ratio new/old: {r:.2f}")

    # Posture verdict (round 17, mechanical): a counted pass whose
    # process-CPU/wall ratio sits well below the run's own max was
    # descheduled mid-pass — min-of-N over such a pass is not a
    # structural measurement. Rule from the round-16 close run (pass 1
    # at 2.61 vs clean 4.20): flag cpu_ratio < 0.75 x max(ratios).
    # loadavg is printed as context only — the 1-min average can still
    # carry a just-drained workload while every pass measures clean.
    def posture(name, d):
        ratios = d.get("pass_cpu_ratios") or []
        load = d.get("loadavg")
        if not ratios:
            print(f"posture[{name}]: UNPROVEN — no pass_cpu_ratios in "
                  "the artifact (pre-round-16 bench); its pass totals "
                  "cannot be adjudicated")
            return False
        mx = max(ratios)
        bad = [(i, r) for i, r in enumerate(ratios) if r < 0.75 * mx]
        ctx = f"cpu_ratios={ratios} loadavg={load}"
        if bad:
            print(f"posture[{name}]: CONTAMINATED — "
                  + ", ".join(f"pass {i + 1} cpu_ratio {r:.2f} < 0.75x "
                              f"max {mx:.2f}" for i, r in bad)
                  + f" (descheduled); re-run idle. {ctx}")
            return True
        print(f"posture[{name}]: CLEAN — every counted pass within "
              f"0.75x of max cpu_ratio {mx:.2f}. {ctx}")
        return False

    posture("old", old)
    new_contaminated = posture("new", new)

    # memoized-group deltas NET of the shared memo build (round-15 close
    # rule, mechanical): a group that moved while its memo slots' build
    # moved the same amount is first-toucher accounting, not a plan
    # regression. Slot -> group join mirrors Bench.scala's memoGroups.
    SLOT_GROUP = {
        "cv_seed27": "cv_shap", "q73_tree_shap": "cv_shap",
        "rf_bag": "rf_bag", "semdedup": "semdedup",
        "pq_codebook": "pq", "pq_codes": "pq",
        "ivfpq_coarse": "ivfpq", "ivfpq_codes": "ivfpq",
        "ivfpq_codebook": "ivfpq", "pca_components": "pca",
        "quality_lr_model": "qlr", "bpe_table": "bpe",
        "null_imp": "null_imp", "fs_sweep": "null_imp",
        "q34_minhash_pairs": "minhash", "q69_ngram_pairs": "ngram",
        "funnel": "funnel", "copurchase": "graph", "imgpairs": "image",
        "fuzzypairs": "fuzzy",
    }
    if old.get("memo_groups") and new.get("memo_groups"):
        def net(d):
            build = {}
            for slot, s in (d.get("slots") or {}).items():
                g = SLOT_GROUP.get(slot)
                if g:
                    build[g] = build.get(g, 0.0) + s
            return {g: (v, v - build.get(g, 0.0))
                    for g, v in d["memo_groups"].items()}
        no, nn = net(old), net(new)
        print("\nmemo groups, gross -> net of memo_build "
              "(old | new, net delta):")
        for name, d in (("old", old), ("new", new)):
            if not d.get("slots"):
                print(f"  NOTE: {name} artifact carries no memo_build "
                      "slots — its net column equals gross")
        for g in sorted(set(no) & set(nn)):
            (og, on_), (ng, nn_) = no[g], nn[g]
            print(f"  {g:<10} {og:7.2f}/{on_:7.2f}s | "
                  f"{ng:7.2f}/{nn_:7.2f}s  net {nn_ - on_:+6.2f}s")

    flagged = []
    shared = sorted(set(old["queries"]) & set(new["queries"]))
    for q in shared:
        o, n = old["queries"][q], new["queries"][q]
        if n >= args.floor and o > 0 and n / o >= args.ratio:
            flagged.append((n / o, q, o, n))
    only_new = sorted(set(new["queries"]) - set(old["queries"]))
    if only_new:
        print(f"new-only queries (no baseline): {', '.join(only_new)}")

    if not flagged:
        print(f"OK: no per-query drift >= {args.ratio}x above "
              f"{args.floor}s across {len(shared)} shared queries")
        if new_contaminated:
            print("EXIT 1: new artifact failed the posture gate — "
                  "its totals are not comparable; re-run idle")
            sys.exit(1)
        return
    print(f"\nFLAGGED ({len(flagged)} queries >= {args.ratio}x, "
          f"new >= {args.floor}s):")
    for r, q, o, n in sorted(flagged, reverse=True):
        print(f"  {q:<30} {o:7.2f}s -> {n:7.2f}s  ({r:.1f}x)")
    names = ",".join(q for _, q, _, _ in sorted(flagged, reverse=True))
    sf = new.get("sf")
    if sf is None:
        sf_dir = "<sfDir>"
    else:
        sf = str(sf)
        sf_dir = sf if sf.startswith("/") else f"/root/testdata/sf{sf}"
    print("\nattribute on an idle box with:")
    print(f"  SPARK_GRAFT_SF_DIR={sf_dir} SPARK_GRAFT_BENCH_REPS=3 "
          f"sbt -batch \"runMain graft.Bench --only {names}\"")
    sys.exit(1)


if __name__ == "__main__":
    main()
