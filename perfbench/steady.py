"""Two-set steadiness check of the benchmark.

    python3 perfbench/steady.py [--sets 2] [--seeds 10] [--workload NAME]

Run from the repository root. For each workload of BENCHMARK.json it
runs `--seeds` runs (seeds 1..N) per set and prints, per end-to-end
metric, each set's median and spread (interquartile range over median,
quartiles from statistics.quantiles(values, n=4)), and how much worse
the last set's median is than the first's, as a share. A metric passes
when every spread and that change stay within its bound. (The driver's
acceptance rule leaves setup_s's spread out; this check holds it to its
bound too.) Exits 1 if any metric fails or any run fails.
"""
import argparse
import json
import statistics
import subprocess
import sys


def run_once(cfg, workload, seed):
    cmd = cfg["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(cfg["run_seconds"]), "--trace", "0"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if done.returncode != 0:
        return None
    return json.loads(done.stdout.strip().split("\n")[-1])


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def worse(first, last, better):
    change = (last - first) / first
    return change if better == "lower" else -change


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workload")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        cfg = json.load(fh)
    ok = True
    for w in [x["name"] for x in cfg["workloads"]]:
        if a.workload and w != a.workload:
            continue
        sets = []
        for s in range(a.sets):
            values = {m["name"]: [] for m in cfg["end_to_end"]}
            for seed in range(1, a.seeds + 1):
                r = run_once(cfg, w, seed)
                if r is None or not r["correct"]:
                    print(f"{w} set {s + 1} seed {seed}: run failed", flush=True)
                    ok = False
                    continue
                for k in values:
                    values[k].append(r["metrics"][k]["value"])
                print(json.dumps({"workload": w, "set": s + 1, "seed": seed,
                                  "metrics": {k: v[-1] for k, v in values.items()}}), flush=True)
            sets.append(values)
        for m in cfg["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = [statistics.median(v[name]) for v in sets if len(v[name]) >= 2]
            spreads = [spread(v[name]) for v in sets if len(v[name]) >= 2]
            change = worse(meds[0], meds[-1], m["better"]) if len(meds) > 1 else 0.0
            passed = change <= bound and all(x <= bound for x in spreads)
            ok &= passed
            print(json.dumps({"workload": w, "metric": name, "bound": bound,
                              "medians": meds, "spreads": [round(x, 4) for x in spreads],
                              "worse_by": round(change, 4), "pass": passed}), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
