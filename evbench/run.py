#!/usr/bin/env python3
"""Benchmark entry point: the 26 evidence pipelines, serial and as a DAG.

Run from the root of a checkout of the repository:

    python3 evbench/run.py --workload evidence_serial --seed 1 --seconds 30 --trace 0

Builds the program and the benchmark from source (once per checkout),
generates the seeded inputs (once per seed and scale, in a separate
process), then runs fresh-JVM passes of the workload for --seconds (see
measure), checks every pass's outputs, and prints one JSON line as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics. --trace 1 instead runs the
traced layer ladder (summarize.py) and reports the per-layer metrics.
See evbench/README.md for the metric definitions.
"""
import argparse
import gzip
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import summarize

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".evbench_work")
WORKLOADS = ("evidence_serial", "evidence_dag")
SCALE = 1.0
SETUP_SAMPLES = 3
PASS_TIMEOUT = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[evbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def run_checked(cmd, timeout, logfile, env=None, cwd=None):
    """Run a child to completion (it is always waited for); on a non-zero
    exit print the tail of its log and stop."""
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=cwd)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(logfile, errors="replace") as lf:
            tail = lf.read()[-3000:]
        fail(f"{' '.join(cmd[:3])}... exited {rc}; log tail:\n{tail}")


# ----------------------------------------------------------------------
# build
# ----------------------------------------------------------------------

def source_digest():
    """Digest of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source not found ({need} missing under {ROOT}); "
                 "run from the root of a full checkout")
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip(), digest
    log("building program and benchmark (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    logfile = os.path.join(WORK, "build.log")
    run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile", "export Runtime/fullClasspath"], 840, logfile, env=env, cwd=HERE)
    with open(logfile) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines) if "evbench/target" in l and ":" in l and not l.startswith("[")), None)
    if cp is None:
        fail("could not read the runtime classpath from the build log")
    with open(cp_file, "w") as f:
        f.write(digest + "\n" + cp)
    return cp, digest


# ----------------------------------------------------------------------
# inputs
# ----------------------------------------------------------------------

def inputs(seed, violate=None):
    tag = f"_violate-{violate}" if violate else ""
    d = os.path.join(WORK, "data", f"evidence_seed{seed}_scale{SCALE}{tag}")
    if not os.path.exists(d):
        cmd = [sys.executable, os.path.join(HERE, "gen_inputs.py"), "--seed", str(seed), "--scale", str(SCALE),
               "--out", d]
        if violate:
            cmd += ["--violate", violate]
        run_checked(cmd, 170, os.path.join(WORK, "gen.log"))
    return d


# ----------------------------------------------------------------------
# one pass in a fresh JVM
# ----------------------------------------------------------------------

def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_mem():
    return os.environ.get("SPARK_DRIVER_MEM", "3g")


def run_pass(cp, workload, data, seed, trace, tag, prefix="qc"):
    out = os.path.join(WORK, "out", f"{workload}-{tag}")
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(tmp, exist_ok=True)
    report = os.path.join(WORK, "out", f"{workload}-{tag}.report.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -Xmn fixes G1's young generation: peak RSS then follows the program's
    # retained data instead of the collector's adaptive sizing, which made
    # it vary by 17% between passes of the same inputs (2% with it).
    cmd = [java, f"-Xmx{driver_mem()}", "-Xmn512m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "evbench.BenchMain", "--workload", workload, "--data", data, "--out", out,
            "--report", report, "--cpus", str(cpus()), "--trace", str(trace), "--seed", str(seed),
            "--tmp", tmp, "--prefix", prefix]
    run_checked(cmd, PASS_TIMEOUT, os.path.join(WORK, f"pass-{workload}.log"))
    with open(report) as f:
        return json.load(f), out


# ----------------------------------------------------------------------
# output checks
# ----------------------------------------------------------------------

def load_json(path, default):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return default


def evidence_digest(path):
    """(rows, order-independent digest): the sum of per-line SHA-1
    prefixes mod 2^64, so row order inside the file does not matter."""
    rows, acc = 0, 0
    with gzip.open(path, "rb") as f:
        for line in f:
            line = line.rstrip(b"\n")
            if not line:
                continue
            rows += 1
            acc = (acc + int.from_bytes(hashlib.sha1(line).digest()[:8], "big")) % (1 << 64)
    return rows, f"{acc:016x}"


class Checker:
    """Pins: row counts per unit at a scale hold for every seed (the
    generators fix them); digests are pinned per seed in pins.json, and a
    seed not pinned there is pinned on first sight in the work dir, so
    every later pass of that seed, in any workload, must reproduce it."""

    def __init__(self, seed):
        self.seed = str(seed)
        pins = load_json(os.path.join(HERE, "pins.json"), {}).get(str(SCALE), {})
        self.rows = pins.get("rows", {})
        self.digests = pins.get("digests", {}).get(self.seed)
        self.local_path = os.path.join(WORK, f"digests-scale{SCALE}.json")
        self.local = load_json(self.local_path, {})
        if self.digests is None:
            self.digests = self.local.setdefault(self.seed, {})
        self.problems = []

    def check_unit(self, name, rows, digest):
        ok = True
        if rows != self.rows.get(name):
            self.problems.append(f"{name}: {rows} rows, pinned {self.rows.get(name)}")
            ok = False
        want = self.digests.setdefault(name, digest)
        if want != digest:
            self.problems.append(f"{name}: digest {digest}, pinned {want}")
            ok = False
        return ok

    def save(self):
        with open(self.local_path, "w") as f:
            json.dump(self.local, f, indent=1, sort_keys=True)


def check_evidence(report, out, checker):
    """Per unit: exactly one gzip file, pinned rows and digest. Returns
    {unit: ok}, total bytes, total rows."""
    ok, total_bytes, total_rows = {}, 0, 0
    # The local file system keeps a hidden .<file>.crc beside each file.
    leftovers = sorted(f for f in os.listdir(out)
                       if not (f.endswith(".json.gz") or (f.startswith(".") and f.endswith(".json.gz.crc"))))
    if leftovers:
        checker.problems.append(f"unexpected files in the output dir: {leftovers[:5]}")
    for u in report["units"]:
        name = u["name"]
        if not u["ok"]:
            ok[name] = False
            checker.problems.append(f"{name} failed: {u['error']}")
            continue
        path = os.path.join(out, f"{name}.json.gz")
        if not os.path.isfile(path):
            ok[name] = False
            checker.problems.append(f"{name}: no single evidence file")
            continue
        with open(path, "rb") as f:
            if f.read(2) != b"\x1f\x8b":
                ok[name] = False
                checker.problems.append(f"{name}: not a gzip file")
                continue
        rows, dg = evidence_digest(path)
        ok[name] = checker.check_unit(name, rows, dg)
        total_bytes += os.path.getsize(path)
        total_rows += rows
    if report["contract_violations"] != 0:
        checker.problems.append(f"contract counters non-zero: {report['contract_violations']}")
    n_ok = sum(1 for u in report["units"] if u["ok"])
    if report["contract_writes"] != n_ok:
        checker.problems.append(f"{report['contract_writes']} contract readbacks for {n_ok} written units")
    return ok, total_bytes, total_rows


# ----------------------------------------------------------------------
# metrics
# ----------------------------------------------------------------------

def med(xs):
    return statistics.median(xs) if xs else 0.0


def stamp(args, digest, reports):
    r = reports[-1]
    sha = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                                 timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"nproc": cpus(), "spark_driver_mem": driver_mem(), "jvm": r["jvm"],
            "spark_version": r["spark_version"], "git_sha": sha, "source_digest": digest,
            "seed": args.seed, "scale": SCALE,
            "workload": args.workload, "passes": len(reports),
            "scheduler.cpu_util": round(med([summarize.scheduler(r)["cpu_util"] for r in reports]), 4)}


def measure(cp, workload, seed, seconds, checker, data):
    """Fresh-JVM passes for `seconds`: one, then another while it would
    still end within `seconds` at the last pass's pace. Then set-up-only
    JVMs until there are SETUP_SAMPLES set-up samples."""
    reports, unit_times, attempted, failed = [], [], 0, 0
    out_bytes = out_rows = 0
    t0 = last = time.monotonic()
    while not reports or (time.monotonic() - t0) + (time.monotonic() - last) <= seconds:
        last = time.monotonic()
        report, out = run_pass(cp, workload, data, seed, 0, f"p{len(reports)}")
        ok, out_bytes, out_rows = check_evidence(report, out, checker)
        attempted += len(report["units"])
        failed += sum(1 for v in ok.values() if not v)
        # A failed unit gets no time.
        unit_times.append([u["wall_s"] for u in report["units"] if ok.get(u["name"])])
        reports.append(report)
    setups = [r["setup_s"] for r in reports]
    while len(setups) < SETUP_SAMPLES:
        setups.append(run_pass(cp, "setup", data, seed, 0, f"s{len(setups)}")[0]["setup_s"])
    return reports, unit_times, setups, attempted, failed, out_bytes, out_rows


def self_test(cp):
    """Forced contract violation: one planted row breaks tep's URL pattern.
    tep must fail (no time, counted in failed_ratio); the other 25 pass."""
    data = inputs(1, violate="tep")
    report, out = run_pass(cp, "evidence_serial", data, 1, 0, "selftest")
    checker = Checker(1)
    ok, _, _ = check_evidence(report, out, checker)
    tep = next(u for u in report["units"] if u["name"] == "tep")
    failed = sorted(n for n, v in ok.items() if not v)
    result = {
        "failed_units": failed,
        "failed_ratio": len(failed) / len(ok),
        "tep_error": tep["error"],
        "tep_wall_s": tep["wall_s"],
        "passed": failed == ["tep"] and tep["wall_s"] is None and "pattern:url=1" in tep["error"],
    }
    print(json.dumps(result))
    return 0 if result["passed"] else 1


def main():
    if sys.argv[1:] == ["--self-test"]:
        sys.exit(self_test(build()[0]))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, digest = build()
    data = inputs(args.seed)
    checker = Checker(args.seed)
    if args.trace == 0:
        reports, unit_times, setups, attempted, failed, out_bytes, out_rows = measure(
            cp, args.workload, args.seed, args.seconds, checker, data)
        metrics = {
            "setup_s": (med(setups), "s"),
            "wall_s": (med([r["wall_s"] for r in reports]), "s"),
            "unit_p50_s": (med([med(ts) for ts in unit_times]), "s"),
            "peak_rss_mb": (med([r["peak_rss_mb"] for r in reports]), "MiB"),
            "out_bytes_per_row": (out_bytes / max(out_rows, 1), "bytes/row"),
        }
        extra = {"setup_samples": setups, "out_bytes": out_bytes, "out_rows": out_rows}
    else:
        # The layer ladder: one traced fresh-JVM pass per cumulative
        # prefix, each as cold as a measured pass. Only the full (qc) pass
        # writes contracted evidence, so only its outputs are checked.
        ladder = {}
        for prefix in summarize.PREFIXES:
            ladder[prefix], out = run_pass(cp, args.workload, data, args.seed, 1, f"trace-{prefix}", prefix)
        ok, _, _ = check_evidence(ladder["qc"], out, checker)
        attempted, failed = len(ok), sum(1 for v in ok.values() if not v)
        reports = [ladder["qc"]]
        layer = summarize.per_layer(args.workload, ladder)
        metrics = {k: (v, summarize.unit_of(k)) for k, v in layer.items()}
        extra = {}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    checker.save()

    for p in checker.problems[:20]:
        log(f"check: {p}")
    st = stamp(args, digest, reports)
    if args.trace == 1:
        with open(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"stamp": st, "per_layer": layer,
                       "ladder": {k: {key: r[key] for key in ("wall_s", "phases", "span_cost_s", "units",
                                                              "groups", "spans")}
                                  for k, r in ladder.items()}}, f, indent=1)
    print(json.dumps({"stamp": st, "failed_ratio": failed / attempted, **extra}))
    print(json.dumps({
        "correct": not checker.problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
