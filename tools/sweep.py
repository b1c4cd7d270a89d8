#!/usr/bin/env python3
"""Publication bench sweep with the median-of-3 noise protocol.

Round-5 verdict, item 3: single-run sweep entries that regress >1.3x
against the prior round's numbers must be re-measured (3 serialized
runs, median committed) before publication — this host shows +-2-4x
CPU-steal noise on shuffle-heavy stages, and a single sample cannot
distinguish that from a real regression.

For each scale point this script:
  1. runs the full headline bench once (serialized, nothing else
     running — the numbers are invalid otherwise, see
     graft-build-workflow memory / BASELINE.md);
  2. compares per-query times against a reference JSON (the committed
     prior-round sweep for the same SF, when one exists);
  3. when any entry exceeds 1.3x its reference (or is force-listed),
     runs the FULL headline two more times and commits each suspect's
     per-query MEDIAN of the three samples — the re-runs must share
     the first run's conditions (a BENCH_ONLY subset run pays JIT/
     codegen warm-up the in-sweep sample amortizes, and measured
     2-3x high for exactly the queries under investigation);
  4. writes the final BENCH_sf*.json plus a markdown report of every
     re-measured entry with all three samples.

Usage: python3 tools/sweep.py [--points sf0.1,sf1,sf3,sf10]
                              [--force q_zorder,q_tfidf,q_dq_entropy]
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CP = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"

POINTS = {
    "sf0.1": ("/root/testdata/sf0.1", "BENCH_sf01.json"),
    "sf1": ("/tmp/sf1", "BENCH_sf1.json"),
    "sf3": ("/tmp/sf3", "BENCH_sf3.json"),
    "sf10": ("/tmp/sf10", "BENCH_sf10.json"),
}
THRESHOLD = 1.3


def run_bench(sf_dir, only=None):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    if only:
        env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(only)
    out = subprocess.run(
        ["java", "-cp", CP, "graft.Bench"],
        env=env, capture_output=True, text=True, cwd=REPO)
    line = [l for l in out.stdout.splitlines() if l.startswith('{"metric"')]
    if not line:
        sys.exit(f"bench produced no JSON for {sf_dir} (only={only}):\n"
                 f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
    # Bench prints the full per-query line (kind=full) first and a
    # compact tail-safe summary (kind=compact, slowest-40, 3-decimal)
    # last. Select the full line BY KEY — the old longest-line
    # heuristic could mis-pick the compact line on small --only
    # subsets (its extra n_queries key can outweigh a short map).
    parsed = [json.loads(l) for l in line]
    full = [d for d in parsed if d.get("kind") == "full"]
    # pre-kind Bench builds: fall back to the longest line
    d = full[0] if full else json.loads(max(line, key=len))
    if d.get("errors"):
        sys.exit(f"bench errors at {sf_dir}: {d['errors']}")
    return d["queries"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--points", default="sf0.1,sf1,sf3,sf10")
    ap.add_argument("--force", default="")
    ap.add_argument("--report", default="tools/sweep_report_r7.md")
    # Per-point sample count for re-measured suspects. sf10 defaults to
    # 5: its early-headline entries showed 5-88 s steal dispersion in
    # round 6, and a median of 3 can still land on a stolen sample.
    ap.add_argument("--samples", default="3,sf10:5",
                    help="default count, plus point:count overrides "
                         "(e.g. '3,sf10:5')")
    args = ap.parse_args()
    force = [q for q in args.force.split(",") if q]
    sample_default, sample_over = 3, {}
    for part in args.samples.split(","):
        if ":" in part:
            p, n = part.split(":")
            sample_over[p] = int(n)
        elif part:
            sample_default = int(part)

    report = ["# Sweep noise-protocol report", ""]
    for point in args.points.split(","):
        sf_dir, ref_name = POINTS[point]
        ref_path = os.path.join(REPO, ref_name)
        ref = {}
        if os.path.exists(ref_path):
            ref = json.load(open(ref_path)).get("queries", {})
        print(f"[sweep] {point}: full headline run ...", flush=True)
        first = run_bench(sf_dir)

        # Entries with no reference row (brand-new queries) can't trip
        # the ratio check, so a stolen first sample would enter the
        # record unchallenged (round 11: q_dedup_sorted_neighborhood's
        # sf10 single sample read 39.9 s vs a 5.8 s warm re-measure) —
        # median them unconditionally.
        suspects = sorted(set(
            [q for q, t in first.items()
             if q in ref and ref[q] > 0 and t / ref[q] > THRESHOLD]
            + [q for q in first if ref and q not in ref]
            + [q for q in force if q in first]))
        samples = {q: [first[q]] for q in first}
        n_samples = sample_over.get(point, sample_default)
        if suspects:
            print(f"[sweep] {point}: re-measuring {len(suspects)} "
                  f"outliers via {n_samples - 1} more full runs: "
                  f"{suspects}", flush=True)
            for rerun in range(n_samples - 1):
                again = run_bench(sf_dir)
                for q in suspects:
                    if q in again:
                        samples[q].append(again[q])

        final = {q: (statistics.median(ts) if len(ts) > 1 else ts[0])
                 for q, ts in samples.items()}
        total = sum(final.values())
        out = {"metric": "total", "value": total, "unit": "sec",
               "queries": final, "errors": {}, "sf": sf_dir,
               "protocol": {"threshold": THRESHOLD,
                            "remeasured": suspects,
                            "samples": n_samples,
                            "reference": ref_name if ref else None}}
        out_path = os.path.join(REPO, f"BENCH_{point.replace('.', '')}.json"
                                if point != "sf0.1" else "BENCH_sf01.json")
        json.dump(out, open(out_path, "w"), indent=1)
        print(f"[sweep] {point}: total {total:.1f} s -> {out_path}", flush=True)

        report.append(f"## {point} (total {total:.1f} s)")
        if not suspects:
            report.append("No entries exceeded the 1.3x threshold; "
                          "all numbers are single serialized runs.")
        for q in suspects:
            ts = ", ".join(f"{t:.2f}" for t in samples[q])
            if q in ref and ref[q] > 0:
                r = f" (ref {ref[q]:.2f}, ratio {samples[q][0] / ref[q]:.2f}x)"
            elif q in force:
                r = " (forced)"
            else:
                r = " (new entry, no reference row)"
            report.append(f"- `{q}`: samples [{ts}] s -> median "
                          f"{statistics.median(samples[q]):.2f}{r}")
        report.append("")

    open(os.path.join(REPO, args.report), "w").write("\n".join(report) + "\n")
    print(f"[sweep] report -> {args.report}", flush=True)


if __name__ == "__main__":
    main()
