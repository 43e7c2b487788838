"""Pure functions that turn one harness run into checked metrics.

The harness JVM writes every raw observation (timed samples, the distinct
answers it received, traced spans); this module judges the answers
against the DuckDB oracle and reduces the samples to the benchmark's
metrics. It has no I/O of its own beyond the DuckDB connection it is
given, so the unit tests drive it directly.
"""

import datetime
import decimal
import math
import re
import statistics
from collections import Counter

# Gateway defects the gw-analytic mix keeps on purpose: each answer must
# fail exactly this way. It then counts in error_rate as a known defect,
# not as a failed operation; any other outcome of these statements is
# judged like every other answer.
KNOWN_DEFECTS = {
    "q36_casts": lambda status, detail: status == 400 and detail == "Invalid SQL: ",
    "q46_higher_order": lambda status, detail: status == 400 and detail == "Invalid SQL: ",
    "q38_json_extract": lambda status, detail: status == 400 and "json_extract_string" in detail,
    "q45_array_agg": lambda status, detail: status == 400 and "`list`" in detail,
}

_TS = re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}")


def _canon_ts(dt):
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return dt.strftime("%Y-%m-%d %H:%M:%S.%f")


def canon_val(v):
    """One cell, as a string both engines' values map to identically."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
            return repr(v)
        d = decimal.Decimal(repr(v)) if isinstance(v, float) else decimal.Decimal(v)
        if d == d.to_integral_value():
            return str(int(d))
        return repr(float(d))
    if isinstance(v, datetime.datetime):
        return _canon_ts(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str):
        if _TS.match(v):
            try:
                return _canon_ts(datetime.datetime.fromisoformat(v.replace("Z", "+00:00")))
            except ValueError:
                pass
        return v
    if isinstance(v, dict):
        return "{" + ",".join(canon_val(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_val(x) for x in v) + "]"
    return str(v)


def canon(cols, rows):
    """Columns sorted by name, rows as a multiset of canonical tuples."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            Counter(tuple(canon_val(r[i]) for i in order) for r in rows))


def judge_answer(ans, oracle):
    """'ok', 'known' (an expected known defect) or a reason it is wrong.

    `ans` is one distinct answer from the harness; `oracle(sql)` returns
    the DuckDB (columns, rows) for the statement.
    """
    status, body = ans["status"], ans["body"]
    detail = body.get("detail", "") if isinstance(body, dict) else ""
    known = KNOWN_DEFECTS.get(ans["op"])
    if known and known(status, detail):
        return "known"
    if status != 200:
        return f"status {status}: {detail}"
    cols, rows = oracle(ans["duck_sql"])
    gc, gr = canon(body["columns"], body["rows"])
    ec, er = canon(cols, rows)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if body["truncated"] and len(body["rows"]) == ans["row_limit"]:
        if gr - er:
            return "truncated answer holds rows the oracle does not"
        return "ok"
    if gr != er:
        return f"rows differ: got {sum(gr.values())}, expected {sum(er.values())}"
    return "ok"


def pick_percentile(n, want=95, beyond=10):
    """Highest whole percentile <= `want` with at least `beyond` of `n`
    samples above it (0 when even the median has fewer)."""
    q = want
    while q >= 50:
        if n * (100 - q) / 100.0 >= beyond:
            return q
        q -= 1
    return 0


def percentile(values, q):
    """The q-th percentile (linear interpolation between closest ranks)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def outcomes(raw, verdicts):
    """Per timed sample: 'ok', 'known' or 'failed'.

    A sample fails when the harness already judged it wrong (a stale read,
    an error status) or when its answer's verdict is not 'ok'.
    """
    out = []
    for s in raw["samples"]:
        v = verdicts.get(s["variant"]) if s["variant"] >= 0 else None
        if v == "known":
            out.append("known")
        elif s["ok"] and v in (None, "ok"):
            out.append("ok")
        else:
            out.append("failed")
    return out


def error_rate(outs):
    """Failed, refused, wrong or stale operations, known defects included,
    over operations attempted."""
    return sum(o != "ok" for o in outs) / len(outs) if outs else 0.0


def statement_p50(samples):
    """Median latency of each statement, averaged over the statements.

    Every statement of a mix weighs the same, and the figure does not jump
    between the latency clusters of different statements the way the
    pooled median of a mixed workload does.
    """
    by_op = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["ms"])
    return sum(statistics.median(v) for v in by_op.values()) / len(by_op)


def end_to_end(raw, outs):
    """The reported window's end-to-end figures, and the `extra` ones for
    the run record: the sample count and percentile behind
    latency_tail_ms, error_rate over every window, and the figures only
    some workloads have."""
    chosen = [(s, o) for s, o in zip(raw["samples"], outs) if s["window"] == raw["chosen"]]
    ok_reads = [s for s, o in chosen if s["kind"] == "read" and o == "ok"]
    reads = [s["ms"] for s in ok_reads]
    commits = [s["ms"] for s, o in chosen if s["kind"] == "commit" and o == "ok"]
    if not reads:
        raise ValueError("no successful read in the timed window")
    q = pick_percentile(len(reads))
    metrics = {
        "latency_p50_ms": (statement_p50(ok_reads), "ms"),
        "latency_tail_ms": (percentile(reads, q) if q else max(reads), "ms"),
        "throughput_rps": (len(reads) / raw["window_s"], "1/s"),
        "heap_live_mb": (raw["heap_live_mb"], "MiB"),
        "setup_s": (raw["setup_s"], "s"),
    }
    extra = {
        "error_rate": (error_rate(outs), "ratio"),
        "samples": (len(reads), "count"),
        "tail_percentile": (q, "pct"),
    }
    if commits:
        extra["commit_p50_ms"] = (statistics.median(commits), "ms")
    sweeps = [s["ms"] / 1e3 for s, _ in chosen if s["kind"] == "sweep"]
    if sweeps:
        extra["corpus_cold_s"] = (sweeps[0], "s")
        extra["corpus_steady_s"] = (sweeps[-1], "s")
    return metrics, extra


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(raw):
    """Per-layer figures of a traced run: medians per request for times,
    means per request for counts and sizes; sums over one sweep for the
    corpus."""
    recs = raw["trace_records"]
    if raw["workload"] == "corpus":
        return corpus_layers([r for r in recs if "rows" in r])
    reqs = [r for r in recs if "total_ms" in r]
    writes = [r for r in recs if r["op"] in ("append", "compact")]
    if not reqs:
        raise ValueError("traced run recorded no request")

    def span(name):
        return _median([r["steps"].get(name, 0.0) for r in reqs])

    def counter(step, key, scale=1.0):
        return _mean([r["counters"].get(step, {}).get(key, 0) / scale for r in reqs])

    ok = [r for r in reqs if r["engine_resp_ms"] is not None]
    appends = [w for w in writes if w["op"] == "append"]
    compacts = [w for w in writes if w["op"] == "compact"]
    return {
        "http.overhead_ms": (_median([r["http_ms"] - r["engine_resp_ms"] for r in ok]), "ms"),
        "http.resp_kb": (_median([r["resp_kb"] for r in reqs]), "KiB"),
        "engine.session_ms": (span("session"), "ms"),
        "engine.total_ms": (_median([r["total_ms"] for r in reqs]), "ms"),
        "engine.unattributed_ms": (
            _median([r["total_ms"] - sum(r["steps"].values()) for r in reqs]), "ms"),
        "rewrite.ms": (span("rewrite"), "ms"),
        "rewrite.binders": (_mean([r["extra"].get("binders", 0) for r in reqs]), "count"),
        "guard.ms": (span("guard"), "ms"),
        "bind.ms": (span("bind"), "ms"),
        "bind.read_ops": (counter("bind", "read_ops"), "count"),
        "bind.read_kb": (counter("bind", "read_bytes", 1024.0), "KiB"),
        "analyze.ms": (span("analyze"), "ms"),
        "plan.ms": (span("plan"), "ms"),
        "exec.ms": (span("exec"), "ms"),
        "exec.jobs": (counter("exec", "jobs"), "count"),
        "exec.tasks": (counter("exec", "tasks"), "count"),
        "exec.task_cpu_s": (counter("exec", "cpu_ns", 1e9), "s"),
        "exec.shuffle_kb": (counter("exec", "shuffle_bytes", 1024.0), "KiB"),
        "exec.gc_ms": (counter("exec", "gc_ms"), "ms"),
        "scan.files": (_mean([r["extra"].get("scan_files", 0) for r in reqs]), "count"),
        "scan.kb": (_mean([r["extra"].get("scan_bytes", 0) / 1024.0 for r in reqs]), "KiB"),
        "trace.overhead_pct": (100.0 * (_median([r["replay_ms"] for r in reqs])
                                        / _median([r["total_ms"] for r in reqs]) - 1.0), "%"),
        "write.append_ms": (_median([w["write_ms"] for w in appends]), "ms"),
        "write.compact_ms": (_median([w["write_ms"] for w in compacts]), "ms"),
        "write.meta_json_kb": (_median([w["meta_json_kb"] for w in appends]), "KiB"),
        "write.live_files": (_median([w["live_files"] for w in appends]), "count"),
    }


def corpus_layers(queries):
    """Sums over the first timed sweep of the corpus: one record per query."""
    sweep = queries[:len({q["op"] for q in queries})]

    def span_s(step):
        return sum(q["steps"].get(step, 0.0) for q in sweep) / 1e3

    def count(key, steps=None, scale=1.0):
        return sum(c.get(key, 0) for q in sweep for step, c in q["counters"].items()
                   if steps is None or step in steps) / scale
    return {
        "corpus.build_s": (span_s("build"), "s"),
        "corpus.eager_jobs": (count("jobs", ("build",)), "count"),
        "corpus.plan_s": (span_s("plan"), "s"),
        "corpus.exec_s": (span_s("exec"), "s"),
        "corpus.jobs": (count("jobs"), "count"),
        "corpus.tasks": (count("tasks"), "count"),
        "corpus.task_cpu_s": (count("cpu_ns", scale=1e9), "s"),
        "corpus.shuffle_mb": (count("shuffle_bytes", scale=1024.0 * 1024.0), "MiB"),
    }
