"""Tiny-size smoke of every workload, untraced and traced.

    python3 perfbench/smoke.py [workload ...]

For each run it asserts that the command exits 0, that the result line
carries exactly the BENCHMARK.json metrics with their units (end-to-end
untraced, per-layer traced), that every named metric of the report is
printed with its unit, that the metrics the workload exercises were
measured, and that every correctness check passed.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "query", "mixed", "operators")
NAMED = {
    "setup_s": "s", "ingest_events_per_s": "events/s", "ingest_p50_ms": "ms",
    "ingest_p90_ms": "ms", "query_p50_ms": "ms", "counts_p50_ms": "ms",
    "search_p50_ms": "ms", "read_p90_ms": "ms", "read_ops_per_s": "ops/s",
    "ops_failed_frac": "ratio", "stored_bytes_per_input_byte": "ratio",
    "operators_total_s": "s", "peak_rss_mb": "MB",
}
# the named metrics each workload must fill in (the rest print as null)
EXERCISED = {
    "ingest": {"ingest_events_per_s", "ingest_p50_ms", "ingest_p90_ms",
               "stored_bytes_per_input_byte"},
    "query": {"query_p50_ms", "counts_p50_ms", "search_p50_ms", "read_p90_ms",
              "read_ops_per_s", "stored_bytes_per_input_byte"},
    "mixed": {"ingest_events_per_s", "ingest_p50_ms", "ingest_p90_ms",
              "query_p50_ms", "counts_p50_ms", "search_p50_ms", "read_p90_ms",
              "read_ops_per_s", "stored_bytes_per_input_byte"},
    "operators": {"operators_total_s"},
}
# the per-layer metrics a traced run of each workload must measure above 0
READ_LAYERS = {
    "catalog.resolve_ms", "catalog.files", "query.parse_ms", "query.analyze_ms",
    "query.optimize_ms", "query.plan_ms", "query.execute_ms",
    "query.counts_fastpath_ms", "plans.files_scanned", "plans.bytes_scanned",
    "plans.rows_scanned_per_row_returned", "ml.search_ms", "ml.index_build_ms",
    "http.response_bytes", "engine.jobs_per_op", "engine.tasks_per_op",
    "engine.task_time_ms"} | {
    "read.%s.span_ms" % s for s in ("sql_narrow", "sql_wide", "sql_topk",
                                     "count_star", "counts", "counts_where",
                                     "context", "search")}
INGEST_LAYERS = {
    "ingest.prepare_ms", "ingest.infer_ms", "ingest.count_ms", "ingest.write_ms",
    "ingest.files_per_request", "catalog.commit_ms", "catalog.commit_jobs",
    "catalog.bytes_rewritten_per_commit", "catalog.vacuum_ms",
    "catalog.versions", "catalog.files", "http.response_bytes",
    "engine.jobs_per_op", "engine.tasks_per_op", "engine.task_time_ms"}
TRACED = {
    "ingest": INGEST_LAYERS,
    "query": READ_LAYERS,
    "mixed": INGEST_LAYERS | READ_LAYERS,
    "operators": {"operators.analyze_ms", "operators.optimize_ms",
                  "operators.plan_ms", "operators.execute_ms", "operators.jobs",
                  "engine.jobs_per_op", "engine.tasks_per_op"},
}


def run(workload, trace, spec):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "8", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    where = "%s trace=%d" % (workload, trace)
    assert p.returncode == 0, "%s: exit %d\n%s" % (where, p.returncode, p.stderr[-2000:])
    lines = p.stdout.strip().splitlines()
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    assert result["correct"] and result["failed"] == 0, \
        "%s: failures %s" % (where, report["failures"])
    assert result["attempted"] >= 1, where
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}, "%s: metric names differ" % where
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], "%s: unit of %s" % (where, m["name"])
        assert isinstance(got[m["name"]]["value"], (int, float)), where
    named = report["named_metrics"]
    for name, unit in NAMED.items():
        assert named[name]["unit"] == unit, "%s: unit of %s" % (where, name)
    if trace:
        for name in TRACED[workload]:
            assert got[name]["value"] > 0, "%s: %s not measured" % (where, name)
    else:
        for name in EXERCISED[workload] | {"setup_s", "peak_rss_mb", "ops_failed_frac"}:
            v = named[name]["value"]
            assert v is not None and v >= 0, "%s: %s not measured" % (where, name)
    return report["stamp"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in sys.argv[1:] or WORKLOADS:
        for trace in (0, 1):
            stamp = run(w, trace, spec)
            print("ok  %-9s trace=%d  seed=%s nproc=%s" % (w, trace, stamp["seed"], stamp["nproc"]))
    print("smoke passed")


if __name__ == "__main__":
    main()
