#!/usr/bin/env python3
"""Interleaved-pairs benchmark protocol (round 14).

The 2x gate is a ratio of two totals that each wander 20-40% with
machine state; a single pair is a coin flip. This runner pins the
protocol the band is stamped from:

  - N >= 3 pairs, each pair = one full graft corpus run and one full
    DuckDB oracle run BACK TO BACK; the engine order alternates between
    pairs so neither engine systematically inherits the other's page
    cache or thermal state.
  - Every leg starts only after the 1-minute loadavg settles under the
    threshold (default 3.0 on a 32-core box); if it never settles within
    the timeout, the run is recorded but the band is NOT stamped
    ("stamped": false) -- a loaded record is self-identifying.
  - The band is the per-pair ratio list, its MEDIAN, and its spread;
    stamping requires spread <= 0.15 x median.

Usage:
  python3 tools/bench_pairs.py <sfDir> <verifyOutDir> [--pairs N]
      [--conc N] [--settle LOAD] [--out FILE]

--conc N pairs the serving-throughput posture (SPARK_GRAFT_CONC=N vs
bench_duckdb.py --jobs N); default is the sequential-latency posture
the historical BENCH_r*.json artifacts record. Each graft leg runs at
SPARK_GRAFT_CPUS cores (default: this machine's os.cpu_count()) and
times every query twice (graft.Bench's fixed repeat: cold, then steady)
with SPARK_GRAFT_BENCH_GC=1; the band is stamped from the steady totals.
"""
import json, os, statistics, subprocess, sys, time


def loadavg1():
    return float(open("/proc/loadavg").read().split()[0])


def cpu_ticks():
    """(total jiffies, steal jiffies) — the hypervisor steal counter.

    loadavg gating misses host-level steal bursts entirely (r17: two
    conc8 bands refused with loadavg calm at every launch while the
    steal counter moved ~254k jiffies mid-leg), so every leg is also
    stamped with the steal percentage measured ACROSS the leg."""
    f = open("/proc/stat").readline().split()[1:]
    vals = [int(x) for x in f]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def settle(threshold, timeout=240):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if loadavg1() <= threshold:
            return True
        time.sleep(10)
    return False


def run_graft(sf_dir, conc, out):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
               SPARK_GRAFT_BENCH_GC="1",
               SPARK_GRAFT_BENCH_OUT=out)
    if conc > 1:
        env["SPARK_GRAFT_CONC"] = str(conc)
    subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                   check=True, capture_output=True, text=True, env=env)
    return json.load(open(out))


def run_duck(sf_dir, out_dir, conc):
    cmd = [sys.executable, "tools/bench_duckdb.py", sf_dir, out_dir]
    if conc > 1:
        cmd += ["--jobs", str(conc)]
    r = subprocess.run(cmd, check=True, capture_output=True, text=True)
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    argv = sys.argv[1:]
    opts = {"--pairs": 3, "--conc": 1, "--settle": 3.0}
    rest, i = [], 0
    out_file = "bench_pairs.json"
    while i < len(argv):
        a = argv[i]
        if a in ("--pairs", "--conc"):
            opts[a] = int(argv[i + 1]); i += 2
        elif a == "--settle":
            opts[a] = float(argv[i + 1]); i += 2
        elif a == "--out":
            out_file = argv[i + 1]; i += 2
        else:
            rest.append(a); i += 1
    sf_dir, vout = rest[0], rest[1]
    pairs, conc, thr = opts["--pairs"], opts["--conc"], opts["--settle"]
    records = []
    all_settled = True
    for p in range(pairs):
        legs = ["graft", "duck"] if p % 2 == 0 else ["duck", "graft"]
        rec = {"pair": p + 1, "order": "/".join(legs)}
        for leg in legs:
            ok = settle(thr)
            all_settled = all_settled and ok
            la = loadavg1()
            tick0, steal0 = cpu_ticks()
            t0 = time.time()
            if leg == "graft":
                g = run_graft(sf_dir, conc, f"/tmp/bp_graft_{p}.json")
                rec["graft_steady"] = round(g["steady"], 2)
                rec["graft_cold"] = round(g["cold"], 2)
                rec["graft_errors"] = g.get("errors", 0)
            else:
                d = run_duck(sf_dir, vout, conc)
                rec["duck_steady"] = round(d.get("steady", d["value"]), 2)
                rec["duck_cold"] = round(d.get("cold", d["value"]), 2)
                if "errors" in d:
                    rec["duck_errors"] = d["errors"]
                else:  # sequential mode: failures are -1.0 per-query times
                    rec["duck_errors"] = sum(
                        1 for v in d.get("queries", {}).values()
                        if isinstance(v, float) and v < 0)
            rec[f"{leg}_launch_loadavg"] = la
            rec[f"{leg}_wall"] = round(time.time() - t0, 1)
            tick1, steal1 = cpu_ticks()
            rec[f"{leg}_steal_pct"] = round(
                100.0 * (steal1 - steal0) / max(1, tick1 - tick0), 2)
        rec["ratio"] = round(rec["graft_steady"] / rec["duck_steady"], 3)
        records.append(rec)
        print(json.dumps(rec), flush=True)
    ratios = [r["ratio"] for r in records]
    med = statistics.median(ratios)
    spread = max(ratios) - min(ratios)
    # A leg with failing queries silently SHRINKS its total (both
    # engines sum only successful queries), so an erroring run could
    # otherwise stamp a deceptively good band — require zero errors on
    # every leg.
    total_errors = sum(r.get("graft_errors", 0) + r.get("duck_errors", 0)
                       for r in records)
    summary = {
        "metric": "pair_band", "sf": sf_dir, "pairs": pairs, "conc": conc,
        "settle_threshold": thr,
        "graft_steady": [r["graft_steady"] for r in records],
        "duck_steady": [r["duck_steady"] for r in records],
        "ratios": ratios, "median_ratio": round(med, 3),
        "spread": round(spread, 3), "errors": total_errors,
        "stamped": bool(all_settled and total_errors == 0
                        and spread <= 0.15 * med),
        "records": records,
    }
    with open(out_file, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "records"}))


if __name__ == "__main__":
    main()
