"""Metrics of one benchmark run, derived from the raw record the JVM writes.

End-to-end metrics come from operations alone; per-layer metrics from the
spans, listener samples and counters of a traced run. A failed operation
is counted in `failed` and contributes to no latency and no rate.
"""
import json
import math
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def percentile(xs, q):
    """Linearly interpolated q-quantile of `xs`, or None.

    The median needs one sample. A higher percentile is reported only when
    at least ten samples lie beyond it, so that it is a tail and not the
    largest sample renamed.
    """
    if not xs:
        return None
    n = len(xs)
    if q > 0.5 and math.floor(n * (1 - q) + 1e-9) < 10:
        return None
    s = sorted(xs)
    pos = (n - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def ok_ops(raw):
    return [op for op in raw["ops"] if op["ok"]]


def samples(raw, key):
    return [x for op in ok_ops(raw) for x in op[key]]


def end_to_end(raw):
    ok = ok_ops(raw)
    return {
        "setup_s": raw["setup_s"],
        "cpu_ms_per_op": raw["cpu_s"] * 1000.0 / len(ok) if ok else None,
        "meta_bytes_per_data_byte":
            raw["meta_bytes"] / raw["data_bytes"] if raw["data_bytes"] else None,
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0 if raw["peak_rss_kb"] else None,
    }


def wall_clock(raw):
    """Throughput and latency as a user sees them. On a shared machine their
    spread between runs exceeds any bound BENCHMARK.json may set, so they
    are reported with the per-layer metrics, without a bound."""
    ok = ok_ops(raw)
    return {
        "ops_per_s": len(ok) / raw["measured_s"] if ok else None,
        "op_ms_p50": percentile([op["ms"] for op in ok], 0.5),
        "read_ms_p50": percentile(samples(raw, "reads"), 0.5),
        "read_ms_p90": percentile(samples(raw, "reads"), 0.9),
        "write_ms_p50": percentile(samples(raw, "writes"), 0.5),
        "maintain_ms_p50": percentile(samples(raw, "maintains"), 0.5),
    }


def self_time(span, children):
    """Duration of `span` minus the part of it its children cover."""
    covered, end = 0, span[4]
    for c in sorted(children, key=lambda c: c[4]):
        lo, hi = max(c[4], end), min(c[5], span[5])
        if hi > lo:
            covered += hi - lo
            end = hi
    return (span[5] - span[4]) - covered


def per_layer(raw):
    n_ops = len(ok_ops(raw)) or 1
    failed_ids = {op["id"] for op in raw["ops"] if not op["ok"]}
    spans = [s for s in raw.get("spans", []) if s[2] not in failed_ids]
    top = [s for s in spans if s[1] == -1 and s[2] >= 0]
    by_name = {}
    for s in spans:
        by_name.setdefault(s[3], []).append(s)

    def dur(name):
        return [(s[5] - s[4]) / 1e6 for s in sorted(by_name.get(name, []), key=lambda s: s[4])]

    def p50(name):
        return percentile(dur(name), 0.5)

    def decile(name, last):
        d = dur(name)
        if not d:
            return None
        k = max(1, math.ceil(len(d) / 10))
        return percentile(d[-k:] if last else d[:k], 0.5)

    g = raw.get("gauges", {})

    def ratio(a, b):
        return g.get(a, 0) / g[b] if g.get(b) else None

    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    plans = raw.get("plans", [])
    m = dict(wall_clock(raw))
    m.update({
        "sql.connect_ms_p50": p50("sql.connect"),
        "sql.execute_ms_p50": p50("sql.execute"),
        "sql.fetch_ms_p50": p50("sql.fetch"),
        "sql.rows_per_stmt": ratio("sql.rows", "sql.stmts"),
        "plan.analysis_ms_p50": percentile([p[0] for p in plans], 0.5),
        "plan.optimizer_ms_p50": percentile([p[1] for p in plans], 0.5),
        "plan.physical_ms_p50": percentile([p[2] for p in plans], 0.5),
        "exec.jobs_per_op": g.get("exec.jobs", 0) / n_ops,
        "exec.tasks_per_op": g.get("exec.tasks", 0) / n_ops,
        "exec.task_ms_per_op": g.get("exec.task_ms", 0) / n_ops,
        "exec.shuffle_bytes_per_op": g.get("exec.shuffle_bytes", 0) / n_ops,
        "exec.spill_bytes_per_op": g.get("exec.spill_bytes", 0) / n_ops,
        "scan.files_read_per_stmt": ratio("scan.files_read", "scan.stmts"),
        "scan.files_live_per_stmt": ratio("scan.files_live", "scan.stmts"),
        "scan.files_read_ratio":
            ratio("scan.files_read", "scan.files_live") if g.get("scan.stmts") else None,
        "catalog.commit_ms_p50": p50("catalog.commit"),
        "catalog.commit_ms_first_decile": decile("catalog.commit", last=False),
        "catalog.commit_ms_last_decile": decile("catalog.commit", last=True),
        "catalog.load_ms_p50": p50("catalog.load"),
        "catalog.load_ms_last_decile": decile("catalog.load", last=True),
        "catalog.meta_json_bytes_last": g.get("catalog.meta_json_bytes_last"),
        "catalog.meta_dir_bytes": g.get("catalog.meta_dir_bytes"),
        "catalog.snapshots_end": g.get("catalog.snapshots_end"),
        "catalog.files_live_end": g.get("catalog.files_live_end"),
        "etl.sanitize_ms_p50": p50("etl.sanitize"),
        "etl.optimize_ms_p50": p50("etl.optimize"),
        "etl.expire_ms_p50": p50("etl.expire"),
        "etl.rewrite_bytes_per_ingested_byte": ratio("etl.rewrite_bytes", "ingest.bytes"),
        "etl.mor_write_ms_p50": p50("etl.mor_write"),
        "etl.materialize_ms_p50": p50("etl.materialize"),
        "dml.cow_write_ms_p50": p50("dml.cow"),
        "dml.files_rewritten_per_stmt": ratio("dml.files_rewritten", "dml.stmts"),
        "dml.bytes_written_per_stmt": ratio("dml.bytes_written", "dml.stmts"),
        "jvm.gc_ms_per_op": g.get("jvm.gc_ms", 0) / n_ops,
        "jvm.heap_used_peak_mb": g.get("jvm.heap_used_peak_bytes", 0) / 2**20,
        "bench.self_ms_per_op":
            sum(self_time(s, kids.get(s[0], [])) for s in top) / 1e6 / n_ops,
    })
    return m


def declared(path=None):
    """(end_to_end, per_layer) as lists of (name, unit) from BENCHMARK.json."""
    with open(path or os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


def report(raw, trace, decl=None):
    """The result line: every declared metric of the run's kind, by name
    and unit. An end-to-end metric with no samples is an error; a per-layer
    metric of a layer the workload leaves idle reads 0."""
    e2e, layer = decl or declared()
    ok = ok_ops(raw)
    if trace:
        values, want = per_layer(raw), layer
    else:
        values, want = end_to_end(raw), e2e
    missing = sorted(set(n for n, _ in want) - set(values))
    extra = sorted(set(values) - set(n for n, _ in want))
    if missing or extra:
        raise ValueError(f"metrics differ from BENCHMARK.json: missing {missing}, undeclared {extra}")
    metrics = {}
    for name, unit in want:
        v = values[name]
        if v is None:
            if not trace:
                raise ValueError(f"end-to-end metric {name} has no samples")
            v = 0
        metrics[name] = {"value": v, "unit": unit}
    return {"correct": bool(raw["correct"]), "attempted": len(raw["ops"]),
            "failed": len(raw["ops"]) - len(ok), "metrics": metrics}
