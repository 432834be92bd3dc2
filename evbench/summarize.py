"""Turn the traced run's passes into the per-layer metrics listed in
BENCHMARK.json.

The traced run is a ladder of four fresh-JVM passes of the workload, each
stopping every unit one layer later:

    read   inputs -> noop sink                          graft.core.Readers
    parse  parser output -> noop sink                   + graft.parsers
    write  parser output -> raw K1 writeJsonGzSingle    + graft.core.Writers
    qc     Pipelines.runToFile, contract observed       + graft.core.Qc

Every rung starts as cold as a measured pass (fresh JVM, empty codegen
cache), so adjacent rungs differ by one layer's work. A layer's self time
is its rung's execution time minus the previous rung's. Rungs are separate
passes, so a self time carries their pass-to-pass noise (about 1-2 s).

evidence_serial: a rung's execution time is the sum of its unit wall
times minus the Catalyst and codegen time taken in that pass, and
Catalyst and codegen are their own layers, read from the full (qc) pass:

    readers + parsers + writers + qc + catalyst + codegen + gap = wall_s

with trace.gap_s the pass time spent outside every unit.

evidence_dag: units overlap, and Catalyst and codegen run on several
threads at once (their times are summed over threads), so a rung's
execution time is simply its pass wall time; self times include their
layer's Catalyst and codegen time, readers + parsers + writers + qc =
wall_s, and the gap is 0.

trace.overhead_s is the time the traced full pass spent recording spans,
measured in-process.

Counts come from the benchmark's SparkListener, summed over job groups:
"<unit>|eager" while the readers build their DataFrames (schema inference
runs a job there), "<unit>" for the rest of the unit.

Usage: python3 summarize.py TRACE.json   (print a saved trace's metrics)
"""
import json
import sys

PREFIXES = ("read", "parse", "write", "qc")
CATALYST = ("analysis_s", "optimization_s", "planning_s")


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("cpu_util"):
        return "ratio"
    return "count"


def totals(report, suffix=""):
    """Counts summed over the job groups whose name ends with suffix."""
    tot = {}
    for g, m in report["groups"].items():
        if g.endswith(suffix):
            for k, v in m.items():
                tot[k] = tot.get(k, 0.0) + v
    return tot


def _execution_s(report, workload):
    if workload != "evidence_serial":
        return report["wall_s"]
    ph = report["phases"]
    return sum(u["wall_s"] for u in report["units"] if u["ok"]) - sum(ph[k] for k in CATALYST) - ph["compile_s"]


def scheduler(report):
    """Whole-pass scheduler counts; cpu_util = executor CPU / (wall x cores)."""
    t = totals(report)
    core_s = report["wall_s"] * report["cpus"]
    return {"jobs": t.get("jobs", 0.0), "tasks": t.get("tasks", 0.0),
            "executor_run_s": t.get("executor_run_s", 0.0), "executor_cpu_s": t.get("executor_cpu_s", 0.0),
            "gc_s": t.get("gc_s", 0.0), "cpu_util": t.get("executor_cpu_s", 0.0) / core_s,
            "idle_core_s": core_s - t.get("executor_run_s", 0.0)}


def per_layer(workload, ladder):
    """ladder: {prefix: traced pass report}."""
    full = ladder["qc"]
    m = {"session.build_s": full["session_build_s"], "session.first_job_s": full["session_first_job_s"]}

    e = {p: _execution_s(ladder[p], workload) for p in PREFIXES}
    read, parse, sink = totals(ladder["read"]), totals(ladder["parse"]), totals(full)

    m["readers.self_s"] = e["read"]
    m["readers.eager_s"] = sum(u["eager_s"] for u in full["units"])
    m["readers.eager_jobs"] = totals(full, "|eager").get("jobs", 0.0)
    m["readers.input_bytes"] = read.get("input_bytes", 0.0)
    m["readers.input_rows"] = read.get("input_rows", 0.0)

    m["parsers.self_s"] = e["parse"] - e["read"]
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"parsers.{k}"] = parse.get(k, 0.0)
    m["parsers.stages"] = parse.get("stages", 0.0) - read.get("stages", 0.0)

    for k in CATALYST:
        m[f"catalyst.{k}"] = full["phases"][k]
    m["codegen.compiles"] = full["phases"]["compiles"]
    m["codegen.compile_s"] = full["phases"]["compile_s"]

    m["qc.self_s"] = e["qc"] - e["write"]
    m["qc.violations"] = float(full["contract_violations"])

    m["writers.self_s"] = e["write"] - e["parse"]
    m["writers.output_bytes"] = sink.get("output_bytes", 0.0)
    m["writers.output_rows"] = sink.get("output_rows", 0.0)
    m["writers.sink_tasks"] = sink.get("sink_tasks", 0.0)
    m["writers.sink_task_s"] = sink.get("sink_task_s", 0.0)

    for k, v in scheduler(full).items():
        m[f"scheduler.{k}"] = v
    for u in full["units"]:
        m[f"pipeline.{u['name']}.wall_s"] = u["wall_s"] if u["ok"] else 0.0

    m["trace.overhead_s"] = full["span_cost_s"]
    layers = sum(m[f"{l}.self_s"] for l in ("readers", "parsers", "writers", "qc"))
    phases = sum(m[f"catalyst.{k}"] for k in CATALYST) + m["codegen.compile_s"]
    m["trace.gap_s"] = full["wall_s"] - layers - (phases if workload == "evidence_serial" else 0.0)
    return m


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        t = json.load(f)
    for k, v in sorted(t["per_layer"].items()):
        print(f"{k:45s} {v:14.4f} {unit_of(k)}")
