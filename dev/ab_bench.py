#!/usr/bin/env python3
"""Standing per-query A/B(/C) machine control for the bench (r12 verdict #1).

The r12 round-over-round drift was suite-attributable (a full-rebuild
interleaved control) but not QUERY-attributable: a per-query tail that
moves >1.5x can hide a real regression inside a host-throughput window.
This script alternates FULL solo runs of the same query set across N
binaries (current HEAD worktree + any prior-round commits), interleaved
A,B,C,A,B,C,... on the same box in one sitting, so every query gets
paired samples under near-identical host conditions. Output: per-query
per-binary median lists + pairwise ratios, archived as
bench_control_r{N}.json next to the round's bench artifacts.

Usage:
  python3 dev/ab_bench.py --only '^src_hive_acid' \
      --binaries HEAD,3b6cd47,5a5adc0 --rounds 3 \
      --out bench_control_r13.json [--sf /root/testdata/sf0.1]

HEAD means the CURRENT working tree (not a commit); an existing
directory is used as a checkout as-is; anything else is a commit-ish
checked out into a scratch worktree under .ab/ (gitignored) and
compiled there once. NOT part of the shipped library.
"""
import argparse, json, os, re, statistics, subprocess, sys, time

REPO = "/root/repo"

def sh(cmd, cwd=REPO, env=None, check=True):
    e = dict(os.environ)
    if env:
        e.update(env)
    r = subprocess.run(cmd, cwd=cwd, env=e, capture_output=True, text=True)
    if check and r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + "\n" + r.stderr[-2000:] + "\n")
        raise SystemExit(f"FAILED: {' '.join(cmd)} (cwd={cwd})")
    return r

def worktree_for(commit):
    if commit == "HEAD":
        return REPO
    if os.path.isdir(commit):  # an existing checkout (e.g. a git clone)
        return os.path.abspath(commit)
    sha = sh(["git", "rev-parse", "--short", commit]).stdout.strip()
    wt = os.path.join(REPO, ".ab", sha)
    if not os.path.isdir(wt):
        os.makedirs(os.path.join(REPO, ".ab"), exist_ok=True)
        sh(["git", "worktree", "add", "--detach", wt, sha])
    return wt

def compile_tree(wt):
    t0 = time.time()
    sh(["sbt", "-batch", "compile"], cwd=wt)
    print(f"  compiled {wt} in {time.time()-t0:.0f}s", flush=True)

def run_bench(wt, only, sf, iters, cpus):
    env = {"SPARK_GRAFT_SF_DIR": sf, "SPARK_GRAFT_CPUS": str(cpus),
           "SPARK_GRAFT_ITERS": str(iters), "SPARK_GRAFT_ONLY": only}
    sh(["sbt", "-batch", "runMain graft.Bench"], cwd=wt, env=env)
    with open(os.path.join(wt, "bench_full.json")) as f:
        return json.load(f)

def movers_between(old_path, new_path, ratio, min_sec):
    """Every query moving >= ratio AND >= min_sec between two bench
    archives — the adjudication set, computed instead of hand-picked
    (r13 verdict #6: a hand-picked set can let a mover escape)."""
    def qload(p):
        d = json.load(open(p))
        if not isinstance(d.get("queries"), dict):
            raise SystemExit(f"{p}: no queries map")
        return d
    da, db = qload(old_path), qload(new_path)
    # refuse cross-environment comparisons (r14 verdict: the r14b/c
    # archives ran at 16 cpus vs the driver's 32 — raw per-query ratios
    # between different core counts are apples-to-oranges). Mirror
    # benchdiff.py: refuse only when BOTH archives record a count — an
    # older archive predating the cpus field stays comparable
    # (ADVICE r15).
    ca, cb = da.get("cpus"), db.get("cpus")
    if ca is not None and cb is not None and str(ca) != str(cb):
        raise SystemExit(
            f"REFUSED: {old_path} ran at cpus={ca} but {new_path} at "
            f"cpus={cb} — mover ratios across core counts are not "
            "comparable; re-run one side at the other's cpu count")
    a, b = da["queries"], db["queries"]
    out = []
    for q in sorted(set(a) & set(b)):
        x, y = a[q], b[q]
        if min(x, y) <= 0:
            continue
        if max(x, y) / min(x, y) >= ratio and abs(x - y) >= min_sec:
            out.append(q)
    return out

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--only",
                    help="regex over query names (or use --movers)")
    ap.add_argument("--movers", metavar="OLD.json,NEW.json",
                    help="derive the query set automatically: every query "
                         "moving >= --mover-ratio AND >= --mover-sec between "
                         "two bench archives")
    ap.add_argument("--mover-ratio", type=float, default=1.25)
    ap.add_argument("--mover-sec", type=float, default=0.3)
    ap.add_argument("--binaries", default="HEAD",
                    help="comma list; HEAD = current tree, a directory = "
                         "that checkout, else commit-ish")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--note", default="")
    args = ap.parse_args()

    mover_list = None
    if args.movers:
        old_p, new_p = args.movers.split(",")
        mover_list = movers_between(old_p, new_p, args.mover_ratio,
                                    args.mover_sec)
        if not mover_list:
            out = {"what": (f"mover-derived A/B control: NO movers >= "
                            f"{args.mover_ratio}x and >= {args.mover_sec}s "
                            f"between {old_p} and {new_p} — nothing to "
                            "adjudicate"),
                   "movers": [], "binaries": args.binaries.split(","),
                   "note": args.note}
            with open(os.path.join(REPO, args.out), "w") as f:
                json.dump(out, f, indent=1)
            print(f"no movers; wrote {args.out}")
            return
        # re.escape: a future query name carrying regex metacharacters
        # must not silently select the wrong set (ADVICE r14)
        args.only = "^(" + "|".join(re.escape(q) for q in mover_list) + ")$"
        print(f"movers ({len(mover_list)}): {mover_list}", flush=True)
    if not args.only:
        raise SystemExit("need --only or --movers")

    bins = args.binaries.split(",")
    trees = {}
    for b in bins:
        wt = worktree_for(b)
        trees[b] = wt
        compile_tree(wt)

    # results[binary][query] = list of per-run medians (one per round)
    results = {b: {} for b in bins}
    raw = {b: {} for b in bins}
    loads = []
    for r in range(args.rounds):
        for b in bins:  # interleaved: A,B,C per round, same box, same hour
            print(f"round {r+1}/{args.rounds} binary {b}", flush=True)
            full = run_bench(trees[b], args.only, args.sf, args.iters, args.cpus)
            loads.append({"round": r, "binary": b,
                          "iter_load1m": full.get("iter_load1m", {})})
            for q, t in full.get("queries", {}).items():
                results[b].setdefault(q, []).append(t)
                raw[b].setdefault(q, []).extend(
                    full.get("iter_times", {}).get(q, []))

    queries = sorted({q for b in bins for q in results[b]})
    summary = {}
    for q in queries:
        row = {}
        for b in bins:
            ts = results[b].get(q, [])
            if ts:
                row[b] = {"medians": [round(t, 3) for t in ts],
                          "median": round(statistics.median(ts), 3),
                          "min": round(min(raw[b][q]), 3)}
        base = bins[0]
        if base in row:
            for b in bins[1:]:
                if b in row:
                    row[f"ratio_{b}_vs_{base}"] = round(
                        row[b]["median"] / row[base]["median"], 3)
        summary[q] = row

    out = {
        "what": ("per-query interleaved A/B machine control: full solo runs of "
                 f"'{args.only}' alternated across binaries {bins} on the same "
                 "box in one sitting; each cell is the median of "
                 f"{args.rounds} run-medians ({args.iters} timed iters each, "
                 "1 untimed warm-up)"),
        "sf": args.sf, "cpus": args.cpus, "rounds": args.rounds,
        "iters": args.iters, "binaries": bins,
        "movers": mover_list,
        "queries": summary, "loads": loads, "note": args.note,
    }
    with open(os.path.join(REPO, args.out), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({q: {k: v for k, v in row.items() if k.startswith("ratio") or k == bins[0]}
                      for q, row in summary.items()}, indent=1))
    print(f"wrote {args.out}")

if __name__ == "__main__":
    main()
