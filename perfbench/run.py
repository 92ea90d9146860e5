#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the harness and the program from
source on first use (sbt, offline), runs one workload in one JVM at
local[nproc] for S seconds, checks its outputs, and prints one JSON object
as the last line of standard output. The full run record, with the host
state, is kept under perfbench/.records/.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

BENCH = Path(__file__).resolve().parent
WORK = BENCH / ".work"
RECORDS = BENCH / ".records"
TARGET = BENCH / "target"

WORKLOADS = ("pipeline_fresh", "pipeline_resume", "ops_mix")
# The ops mix and the curation funnel profiled with it; Fixtures.scala
# (OpsFixture.queries, OpsFixture.funnel) holds the same names.
OPS_QUERIES = ("dedup_simhash", "q_join_salted", "text_curate")
FORMATS = ("fortinet", "syslog", "combined", "error", "kern", "json", "mini",
           "malformed")
SINKS = ("utm", "access", "system", "other", "quarantine")
LADDER = ("scan", "parse", "enrich", "route")
PHASES = ("manifest.read", "write", "audit", "tail")

END_TO_END = {
    "op_s": "s", "rows_per_s": "rows/s", "task_cpu_s": "s",
    "ok_ratio": "ratio", "setup_s": "s",
}


def per_layer_units():
    """Every per-layer metric with its unit, in report order."""
    units = {"scan.s": "s", "scan.bytes": "bytes",
             "parse.self_s": "s", "parse.task_cpu_s": "s"}
    units.update({f"parse.rows.{f}": "rows" for f in FORMATS})
    units["parse.hit_ratio"] = "ratio"
    units["enrich.self_s"] = "s"
    units["route.self_s"] = "s"
    units.update({f"route.rows.{s}": "rows" for s in SINKS})
    units.update({"write.s": "s", "write.task_cpu_s": "s",
                  "write.shuffle_bytes": "bytes", "write.spill_bytes": "bytes",
                  "write.task_skew": "ratio", "write.files": "count",
                  "write.bytes": "bytes", "audit.s": "s", "tail.s": "s",
                  "unattributed.s": "s", "pipeline.op_s": "s",
                  "manifest.read_s": "s", "manifest.pairs": "count",
                  "resume.rows_parsed": "rows", "resume.rows_written": "rows",
                  "resume.useful_ratio": "ratio", "resume.write_s": "s",
                  "resume.op_s": "s"})
    for q in OPS_QUERIES:
        units.update({f"ops.{q}.s": "s", f"ops.{q}.task_cpu_s": "s",
                      f"ops.{q}.shuffle_bytes": "bytes",
                      f"ops.{q}.spill_bytes": "bytes"})
    units.update({"streaming.stream_dedup.s": "s",
                  "streaming.stream_dedup.task_cpu_s": "s",
                  "streaming.stream_dedup.shuffle_bytes": "bytes",
                  "streaming.stream_dedup.spill_bytes": "bytes",
                  "streaming.stream_dedup.batches": "count",
                  "streaming.stream_dedup.batch_ms": "ms",
                  "streaming.stream_dedup.state_commit_ms": "ms"})
    units.update({"jvm.gc_s": "s", "jvm.retained_heap_mb": "MB",
                  "core_util": "ratio", "trace.overhead_s": "s"})
    return units


# --------------------------------------------------------------- building

def source_digest(root):
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (root / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root):
    """Compile with sbt unless the last build saw the same sources; returns
    the runtime classpath and the JVM's module opens."""
    stamp, cp = TARGET / "build.stamp", TARGET / "classpath.txt"
    opens = TARGET / "add-opens.txt"
    digest = source_digest(root)
    if stamp.exists() and stamp.read_text() == digest:
        return cp.read_text(), opens.read_text().split()
    TARGET.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(TARGET / "build.log", "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "compile", "writeClasspath"],
            cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    if proc.returncode != 0 or not (cp.exists() and opens.exists()):
        sys.exit(f"build failed; see {TARGET / 'build.log'}")
    stamp.write_text(digest)
    return cp.read_text(), opens.read_text().split()


# ------------------------------------------------------------- host state

def heap_gb():
    """A quarter of physical memory, 2..8 GiB: the rest stays for the page
    cache, tmpfs and other tenants."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(8, kb // (4 * 1024 * 1024)))


def steal_seconds():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------- metrics

def end_to_end(rec):
    measured = [o for o in rec["ops"] if not o["warmup"]]
    op_s = stats.median([o["wall_s"] for o in measured])
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if o["error"])
    gen = [s["s"] for s in rec["setup"] if s["step"] == "generate"]
    rest = sum(s["s"] for s in rec["setup"] if s["step"] != "generate")
    return {
        "op_s": op_s,
        "rows_per_s": rec["input_rows"] / op_s,
        "task_cpu_s": stats.median([o["cpu_s"] for o in measured]),
        "ok_ratio": (attempted - failed) / attempted,
        "setup_s": rec["session_s"] + stats.median(gen) + rest + rec["warmup_s"],
    }


def per_layer(rec):
    spans = rec["spans"]
    selfs = stats.self_times(spans)

    def dur(s):
        return (s["end"] - s["start"]) / 1e9

    def named(name):
        return [s for s in spans if s["name"] == name]

    def med(xs):
        return stats.median(xs) if xs else 0.0

    out = dict(rec["counts"])
    cum = {k: med([dur(s) for s in named(f"ladder.{k}")]) for k in LADDER}
    cpu = {k: med([s["usage"]["cpuS"] for s in named(f"ladder.{k}")]) for k in LADDER}
    layer = stats.ladder_self(cum, LADDER)
    out["scan.s"] = layer["scan"]
    out["scan.bytes"] = med([s["usage"]["inputBytes"] for s in named("ladder.scan")])
    out["parse.self_s"] = layer["parse"]
    out["parse.task_cpu_s"] = cpu["parse"] - cpu["scan"]
    out["enrich.self_s"] = layer["enrich"]
    out["route.self_s"] = layer["route"]
    total = sum(out.get(f"parse.rows.{f}", 0) for f in FORMATS)
    out["parse.hit_ratio"] = (total - out.get("parse.rows.malformed", 0)) / total

    def breakdown(runs):
        """Phases of the pipeline run whose wall is the (lower) median."""
        run = sorted(runs, key=dur)[(len(runs) - 1) // 2]
        kids = {s["name"]: s for s in spans if s["parent"] == run["id"]}
        return run, {p: (dur(kids[p]) if p in kids else 0.0) for p in PHASES}, kids

    fresh = [s for s in named("pipeline.run") if s["parent"] == -1]
    run, ph, kids = breakdown(fresh)
    w = kids.get("write")
    out["write.s"] = ph["write"] - cum["route"]
    out["write.task_cpu_s"] = (w["usage"]["cpuS"] if w else 0.0) - cpu["route"]
    out["write.shuffle_bytes"] = w["usage"]["shuffleBytes"] if w else 0
    out["write.spill_bytes"] = w["usage"]["spillBytes"] if w else 0
    out["write.task_skew"] = w["usage"]["taskSkew"] if w else 0.0
    out["audit.s"] = ph["audit"]
    out["tail.s"] = ph["tail"]
    out["pipeline.op_s"] = dur(run)
    # op wall = ladder layers + write self + audit + tail + this remainder
    out["unattributed.s"] = selfs[run["id"]] / 1e9

    resumed = [s for s in named("pipeline.run") if s["parent"] != -1]
    run, ph, _ = breakdown(resumed)
    out["manifest.read_s"] = ph["manifest.read"]
    out["resume.write_s"] = ph["write"] - cum["route"]
    out["resume.op_s"] = dur(run)
    out["resume.useful_ratio"] = out["resume.rows_written"] / out["resume.rows_parsed"]

    for prefix in [f"ops.{q}" for q in OPS_QUERIES] + ["streaming.stream_dedup"]:
        qs = named(prefix)
        out[f"{prefix}.s"] = med([dur(s) for s in qs])
        for key, name in (("cpuS", "task_cpu_s"), ("shuffleBytes", "shuffle_bytes"),
                          ("spillBytes", "spill_bytes")):
            out[f"{prefix}.{name}"] = med([s["usage"][key] for s in qs])

    measured = [o for o in rec["ops"] if not o["warmup"]]
    out["jvm.gc_s"] = med([o["gc_s"] for o in measured])
    out["jvm.retained_heap_mb"] = med([o["heap_mb"] for o in measured])
    out["core_util"] = (sum(o["run_s"] for o in measured)
                        / (sum(o["wall_s"] for o in measured) * rec["cores"]))
    own = {"pipeline_fresh": [dur(s) for s in fresh],
           "pipeline_resume": [dur(s) for s in named("pipeline.resume")],
           "ops_mix": [dur(s) for s in named("ops.pass")]}[rec["workload"]]
    out["trace.overhead_s"] = med(own) - med([o["wall_s"] for o in measured])
    return out


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", metavar="FILE",
                    help="write the ops mix's row counts and fingerprints to FILE "
                         "(to re-pin them after an intended change of results)")
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("run from the repository root: the program's sources "
                 "(src/main/scala/graft) are not here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        sys.exit("sbt and java must be on PATH")

    classpath, opens = build(root)

    # every run starts from the same clean state
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    RECORDS.mkdir(exist_ok=True)

    cores = len(os.sched_getaffinity(0))
    heap = heap_gb()
    load0 = os.getloadavg()
    steal0 = steal_seconds()
    # The workloads are mostly query planning and code generation,
    # which the JIT takes many operations to compile at its default
    # thresholds; lower C2 thresholds reach the steady speed in a few
    # operations, so the measured ones do not sit on the warm-up slope.
    cmd = (["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", "-XX:Tier4InvocationThreshold=1000",
            "-XX:Tier4MinInvocationThreshold=200", "-XX:Tier4CompileThreshold=1500",
            f"-Djava.io.tmpdir={WORK / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
           + opens
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(WORK), "--data", str(BENCH / "data" / "sf0.1"),
              "--expected", str(BENCH / "ops_expected.tsv")]
           + (["--record-expected", str(Path(args.record_expected).resolve())]
              if args.record_expected else []))
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"

    def host():
        return {"nproc": cores, "heap_gb": heap, "loadavg_start": load0,
                "steal_s": steal_seconds() - steal0, "run_wall_s": time.time() - t0}

    def fail(why):
        """Keep what the failed run left (host state, the JVM log's tail) as
        its record, then exit without a result."""
        tail = (WORK / "jvm.log").read_text().splitlines()[-30:]
        (RECORDS / name).write_text(json.dumps(
            {"workload": args.workload, "seed": args.seed, "error": why,
             "host": host(), "jvm_log_tail": tail}, indent=1))
        sys.exit(f"{why}:\n" + "\n".join(tail))

    # A run measures for --seconds, then builds its metrics or profiles the
    # layers; far beyond that the JVM is hung, so it is stopped.
    limit = 150 + 2 * args.seconds
    t0 = time.time()
    with open(WORK / "jvm.log", "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=limit)
        except subprocess.TimeoutExpired:
            proc = None
    if proc is None:
        fail(f"benchmark JVM stopped after {limit:.0f} s without finishing")
    if proc.returncode != 0:
        fail(f"benchmark JVM failed with exit code {proc.returncode}")

    rec = json.loads((WORK / "record.json").read_text())
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if o["error"])
    if args.trace:
        values, units = per_layer(rec), per_layer_units()
    else:
        values, units = end_to_end(rec), END_TO_END
    measured = [o["wall_s"] for o in rec["ops"] if not o["warmup"]]
    tail = stats.tail_percentile(measured)
    rec["host"] = host()
    rec["summary"] = {"measured_ops": len(measured),
                      "op_s_tail": ({"percentile": tail[0], "value": tail[1]}
                                    if tail else None),
                      "errors": [o["error"] for o in rec["ops"] if o["error"]],
                      "metrics": values}
    (RECORDS / name).write_text(json.dumps(rec, indent=1))

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
