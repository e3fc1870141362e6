#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark between two checkouts.

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload exact --seeds 11-20 [--seconds 20] [--trace 0] [--json out.json]

Each seed is one pair: `perfbench/run.py` runs once in each checkout with
that seed, and the side that goes first alternates from pair to pair, so a
drift of the host's speed during the series falls on both sides alike. For
every metric of BENCHMARK.json that the runs report (the end-to-end ones,
or the per-layer ones of a traced run) the script prints both sides'
median, quartiles and IQR, the relative change of the medians, the number
of pairs the change won (direction from BENCHMARK.json's `better`), and
whether the gap between the medians exceeds the parent's IQR.

Beside the two independent medians it prints the median and quartiles of
the per-pair ratio (change / parent of the same seed). Both runs of a pair
are adjacent in time, so a drift of the host's speed moves them together
and cancels in their ratio; for a workload whose timings are not scaled by
the host probe (`curate`) the paired ratio is the figure to read.

Below that table it prints, per side, the medians of the unscaled
`setup_s`, `call_p50_s` and `items_per_s` and of the host-probe time,
read from each run's record (the file whose path `run.py` prints on
standard error). A host-scaled workload divides by the run's median probe
time, and the probe also times whatever a call leaves behind, so a change
that makes calls faster can read a higher scaled `setup_s`; the unscaled
figures tell that artifact from a real regression.

It exits non-zero as soon as a run fails (non-zero exit, a failed
operation or a failed check), and refuses to start when a checkout's
class-data-sharing archive is stale (see `stale_archive`). It reads
`perfbench/` and writes nothing under it; the runs themselves write where
`perfbench/README.md` says.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def stale_archive(root):
    """Why `root`'s class-data-sharing archive is stale, or None.

    Any sbt run in a checkout (tests, `graft.Verify`) repacks the engine
    jar, and the JVM then silently rejects the archive recorded against
    the old one: start-up doubles and `setup_s` reads several seconds
    too high, with no error anywhere."""
    archive = os.path.join(root, "perfbench", "target", "bench-classes.jsa")
    stamp = os.path.join(root, "perfbench", "target", "bench-build.stamp")
    if not os.path.exists(archive) or not os.path.exists(stamp):
        return None  # the next run builds and records it
    jars = [j for j in glob.glob(os.path.join(root, "target", "scala-2.13", "*.jar"))
            if os.path.getmtime(j) > os.path.getmtime(archive)]
    if not jars:
        return None
    return (f"{jars[0]} is newer than {archive}: the archive would be rejected. "
            f"Delete {stamp} so the next run rebuilds and re-records it.")


RECORD_PREFIX = "[perfbench] run record: "


def read_record(stderr):
    """The unscaled end-to-end figures and the median host-probe time of
    the run whose record path `stderr` names ({} when it names none)."""
    paths = [line[len(RECORD_PREFIX):].strip() for line in stderr.splitlines()
             if line.startswith(RECORD_PREFIX)]
    if not paths or not os.path.exists(paths[-1]):
        return {}
    with open(paths[-1]) as f:
        rec = json.load(f)
    out = {f"unscaled {k}": v for k, v in rec.get("end_to_end_unscaled", {}).items()}
    probes = rec.get("env", {}).get("host_probe_s")
    if probes:
        out["host_probe_s"] = statistics.median(probes)
    return out


def run_once(root, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        record = json.loads(lines[-1])
    except (IndexError, ValueError):
        record = None
    if proc.returncode != 0 or record is None or record.get("failed", 1) != 0 \
            or not record.get("correct", False):
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"[ab_pairs] run failed: {root} seed {seed} "
                         f"(rc={proc.returncode}, record={record})")
    return {k: v["value"] for k, v in record["metrics"].items()}, read_record(proc.stderr)


def summary(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") \
        if len(xs) > 1 else (xs[0], xs[0], xs[0])
    return med, q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 5,7,9-12")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", help="write every run's metrics to this file")
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    for name, root in sides.items():
        why = stale_archive(root)
        if why:
            raise SystemExit(f"[ab_pairs] {name}: {why}")
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    # a traced run reports the per-layer metrics in place of the gated ones
    gated = [(m["name"], m["better"])
             for m in bench["end_to_end"] + bench.get("per_layer", [])]

    runs = {"parent": [], "change": []}
    records = {"parent": [], "change": []}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for name in order:
            m, rec = run_once(sides[name], args.workload, seed, args.seconds, args.trace)
            runs[name].append(dict(m, seed=seed))
            records[name].append(rec)
            print(f"[ab_pairs] seed {seed} {name}: " +
                  " ".join(f"{k}={m[k]:.4g}" for k in [k for k, _ in gated if k in m][:5]),
                  file=sys.stderr, flush=True)
        # a build in a checkout between pairs would show up here first
        for name, root in sides.items():
            why = stale_archive(root)
            if why:
                raise SystemExit(f"[ab_pairs] {name}: {why}")

    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "seeds": args.seeds,
                       "seconds": args.seconds, "trace": args.trace, "runs": runs,
                       "records": records},
                      f, indent=1)
    n = len(runs["parent"])
    print(f"{args.workload}: {n} pairs, seeds {args.seeds}, --seconds {args.seconds} "
          f"--trace {args.trace}")
    print(f"{'metric':<32} {'parent median [q1, q3] IQR':>38} "
          f"{'change median [q1, q3] IQR':>38} {'delta':>8} {'wins':>6} {'gap>IQR':>8} "
          f"{'pair ratio median [q1, q3]':>28}")
    for name, better in gated:
        if any(name not in r for r in runs["parent"] + runs["change"]):
            continue
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        pm, pq1, pq3 = summary(p)
        cm, cq1, cq3 = summary(c)
        sign = -1 if better == "lower" else 1
        wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
        delta = (cm - pm) / pm if pm else float("nan")
        ratios = [b / a for a, b in zip(p, c) if a]
        ratio = ("{:.4g} [{:.4g}, {:.4g}]".format(*summary(ratios))
                 if ratios else "n/a")
        print(f"{name:<32} {pm:>10.4g} [{pq1:.4g}, {pq3:.4g}] {pq3 - pq1:.3g} "
              f"{cm:>10.4g} [{cq1:.4g}, {cq3:.4g}] {cq3 - cq1:.3g} "
              f"{delta:>+8.1%} {wins:>3}/{n:<2} "
              f"{'yes' if abs(cm - pm) > pq3 - pq1 else 'no':>8} {ratio:>28}")
    print("from the run records (medians):")
    print(f"{'figure':<32} {'parent':>12} {'change':>12} {'delta':>8}")
    for name in ["unscaled setup_s", "unscaled call_p50_s", "unscaled items_per_s",
                 "host_probe_s"]:
        if any(name not in r for r in records["parent"] + records["change"]):
            continue
        pm = statistics.median(r[name] for r in records["parent"])
        cm = statistics.median(r[name] for r in records["change"])
        delta = (cm - pm) / pm if pm else float("nan")
        print(f"{name:<32} {pm:>12.4g} {cm:>12.4g} {delta:>+8.1%}")


if __name__ == "__main__":
    main()
