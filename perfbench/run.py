"""The repo benchmark: HTTP /api/query over Iceberg-lite tables.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and
the program under test from source (sbt, offline) and generates the base
tables; later runs reuse both while the sources are unchanged. Each run
then starts one JVM (perfbench.Harness) that writes Iceberg-lite copies
of the tables, serves them with gateway.HttpApi and drives the workload
through HTTP clients. This script checks every answer against DuckDB over
the same parquet, prints a stamped run record and, as the last line, the
result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 1 the run replays each request layer by layer and the
metrics are the per-layer ones (see perfbench/README.md).
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import metrics  # noqa: E402

# Scale factor of the base tables each workload reads. `gw-ingest` and
# `corpus` are not in BENCHMARK.json; perfbench/README.md says why.
WORKLOADS = {"gw-short": 0.01, "gw-analytic": 0.01, "gw-ingest": 0.01, "corpus": 0.001}
# The ingest workload's GROUP BY reads events of users below this id.
INGEST_USER_CUT = 40
JVM_TIMEOUT_S = 170
CORPUS_TIMEOUT_S = 900
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the harness and the main sources unless they are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no src/main/scala in this checkout: nothing to benchmark", 3)
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, env=env, stdout=out,
                                stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def base_tables(sf):
    """The generated parquet tables at scale `sf`, made once per checkout."""
    d = os.path.join(WORK, f"data-sf{sf}")
    done = os.path.join(d, "_done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.write(d, sf)
        open(done, "w").close()
    return d


def write_expect(oracle, path):
    """Facts the harness needs about the base tables: row counts for key
    domains, and the `events` state the ingest checks start from."""
    rows = {t: oracle(f"SELECT COUNT(*) FROM {t}")[1][0][0] for t in gen_data.TABLES}
    max_id, max_ts, max_user = oracle(
        "SELECT max(event_id), max(epoch_us(ts)), max(user_id) FROM events")[1][0]
    groups = oracle(
        "SELECT event_type, COUNT(*), CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) "
        f"FROM events WHERE user_id < {INGEST_USER_CUT} GROUP BY event_type")[1]
    with open(path, "w") as fh:
        json.dump({"rows": rows, "events": {
            "user_cut": INGEST_USER_CUT, "max_event_id": max_id, "max_ts_micros": max_ts,
            "max_user_id": max_user,
            "groups": {t: {"rows": n, "cents": c} for t, n, c in groups}}}, fh)


def run_jvm(classes, args, data, expect):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME must name a Spark 4.1 install")
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "raw.json")
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/tmp", f"-Dspark.sql.warehouse.dir={run_dir}/warehouse"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--expect", expect, "--work", run_dir, "--out", out, "--cores", str(cores)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/tmp")
    log = os.path.join(WORK, "harness.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=CORPUS_TIMEOUT_S if args.workload == "corpus" else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness failed ({rc}); log in {log}")
    with open(out) as fh:
        raw = json.load(fh)
    for a in raw["answers"]:
        with open(a.pop("body_file")) as fh:
            a["body"] = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    return raw


class Oracle:
    """DuckDB over the same parquet tables the Iceberg-lite copies came from."""

    def __init__(self, data):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in gen_data.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        self.cache = {}

    def __call__(self, sql):
        if sql not in self.cache:
            cur = self.con.execute(sql)
            self.cache[sql] = ([d[0] for d in cur.description], cur.fetchall())
        return self.cache[sql]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build()
    data = base_tables(WORKLOADS[args.workload])
    oracle = Oracle(data)
    expect = os.path.join(WORK, "expect.json")
    write_expect(oracle, expect)
    raw = run_jvm(classes, args, data, expect)

    verdicts = {a["id"]: metrics.judge_answer(a, oracle) for a in raw["answers"]}
    outs = metrics.outcomes(raw, verdicts)
    e2e, extra = metrics.end_to_end(raw, outs)
    wrong = sorted({f"{a['op']}: {verdicts[a['id']]}" for a in raw["answers"]
                    if verdicts[a["id"]] not in ("ok", "known")})
    notes = sorted({f"{s['op']}: {s['note']}" for s in raw["samples"] if s["note"]})
    failed = sum(o == "failed" for o in outs)
    known = sorted({s["op"] for s, o in zip(raw["samples"], outs) if o == "known"})
    chosen = metrics.per_layer(raw) if args.trace else e2e

    artifact = None
    if args.trace:
        artifact = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        with open(artifact, "w") as fh:
            json.dump(raw["trace_records"], fh)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "trace_file": artifact,
        "nproc": raw["nproc"], "cores": raw["cores"], "clients": raw["clients"],
        "loadavg": raw["loadavg"], "steal_pct": raw["steal_pct"], "window_s": raw["window_s"],
        "windows": raw["windows"], "chosen_window": raw["chosen"],
        "setup_parts_s": raw["setup_parts"], "known_defects": known,
        "wrong_answers": wrong, "failure_notes": notes,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**chosen, **extra}.items()},
    }
    print("record " + json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(outs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
