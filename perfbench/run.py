#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (sbt, offline) on first use,
generates the seeded inputs, runs the harness JVM (perfbench.Main), checks
the outputs, and prints as its last stdout line one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). --report FILE also writes the full record of
the run (per-pass values and spreads, per-query table, self time per
layer); --append-to FILE appends the result line for compare.py.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # a run writes nothing outside .bench_build/
import check  # noqa: E402
import inputs  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("relational", "llm-corpus", "lake-rw", "metric-stream")
# the per-layer metric prefixes each workload produces (README "Metrics")
LAYERS = {
    "relational": ("operators.", "plans.", "core.", "io.", "trace."),
    "llm-corpus": ("llm.", "core.", "io.", "trace."),
    "lake-rw": ("lake.", "trace."),
    "metric-stream": ("sources.", "streaming.", "state.", "trace."),
}
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Xmx2g",
}
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
START = time.monotonic()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        files += sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(p) and "/target/" not in p and "/project/project/" not in p)
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def classpath():
    """Compile engine + harness once per source state; the runtime classpath.

    sbt compiles into the shared target/ directories, which hold whatever
    was built last (another source state, or a developer's own `sbt
    compile`). So right after the build the class directories are copied
    to .bench_build/classes-<digest>/, and the classpath saved there points
    at those copies: a later run of the same sources uses exactly the
    classes built from them."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"{ROOT} holds no graft sources (build.sbt, src/main/scala/graft); "
             "run from the repository root")
    snap = os.path.join(build_dir(), f"classes-{sources_digest()}")
    cache = os.path.join(snap, "classpath.txt")
    if os.path.isfile(cache):
        return open(cache).read().strip()
    log("building engine and harness (sbt, offline)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env={**os.environ, **SBT_ENV}, capture_output=True, text=True,
        timeout=max(60, 850 - (time.monotonic() - START)))
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    shutil.rmtree(snap, ignore_errors=True)
    os.makedirs(snap)
    entries = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            shutil.copytree(entry, os.path.join(snap, str(i)))
            entry = os.path.join(snap, str(i))
        entries.append(entry)
    with open(cache + ".tmp", "w") as f:
        f.write(os.pathsep.join(entries))
    os.replace(cache + ".tmp", cache)
    return open(cache).read()


def self_times(spans):
    """Self time per layer: each span's duration minus the part of its
    interval that its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"] / 1e3, s["start_ms"] / 1e3 + s["dur_s"]
        covered, end = 0.0, lo
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            c_lo = max(c["start_ms"] / 1e3, end)
            c_hi = min(c["start_ms"] / 1e3 + c["dur_s"], hi)
            if c_hi > c_lo:
                covered += c_hi - c_lo
                end = c_hi
        out[s["layer"]] = out.get(s["layer"], 0.0) + s["dur_s"] - covered
    return {k: round(v, 6) for k, v in sorted(out.items())}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report")
    ap.add_argument("--append-to")
    a = ap.parse_args()
    cpus = len(os.sched_getaffinity(0))  # nproc

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = classpath()

    # fresh per run (the pid is in the name), and kept afterwards: deleting a
    # stream run's ~1,600 state-store files takes 10-16 s on the reference
    # disk, half the run budget again; remove .bench_build/runs/ when done
    run_dir = os.path.join(build_dir(), "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    input_dir = os.path.join(run_dir, "input")
    t0 = time.perf_counter()
    if a.workload == "metric-stream":
        inputs.stream(a.seed, input_dir)
    else:
        inputs.tables(a.seed, input_dir)
    gen_s = time.perf_counter() - t0

    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dgraft.fixtures.dir={run_dir}/fixtures", "-cp", cp,
           "perfbench.Main", "--workload", a.workload, "--input", input_dir,
           "--run-dir", run_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cpus", str(cpus), "--seed", str(a.seed)]
    t_jvm = time.monotonic()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        try:
            rc = subprocess.run(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                timeout=170).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.isfile(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness JVM exited with {rc}")
    for line in open(os.path.join(run_dir, "jvm.log")):
        if line.startswith("[perfbench]"):
            sys.stderr.write(line)
    with open(result_path) as f:
        res = json.load(f)

    t_checks = time.monotonic()
    checks = res["checks"]
    if a.workload in ("relational", "llm-corpus"):
        wrong = check.batch(checks, input_dir, log)
    elif a.workload == "lake-rw":
        wrong = check.lake(checks, input_dir, log)
    else:
        wrong = check.stream(checks, log)

    ops = res["ops"]
    untraced = {p["idx"] for p in res["passes"] if not p["traced"]}
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong or o["kind"] in wrong)
    correct = not wrong and failed == 0 and attempted > 0

    # medians over the run's untraced passes: of the pass times, and of
    # every operation's latency in them
    pass_s = [p["s"] for p in res["passes"] if not p["traced"]]
    op_s = [o["s"] for o in ops if o["pass"] in untraced]
    traced_pass_s = [p["s"] for p in res["passes"] if p["traced"]]
    end_to_end = {
        "setup_s": gen_s + res["setup_s"],
        "pass_s": statistics.median(pass_s),
        "op_p50_s": statistics.median(op_s),
        "ok_ratio": 1.0 - failed / max(1, attempted),
        "peak_rss_mb": res["peak_rss_mb"],
    }

    layers = {k: statistics.median(v) for k, v in res["layers"].items()}
    spread = {k: [min(v), max(v)] for k, v in res["layers"].items()}

    def p50(kind):
        return statistics.median(o["s"] for o in ops if o["kind"] == kind and o["pass"] in untraced)
    if a.workload == "lake-rw":
        layers.update({"lake.commit_p50_s": p50("commit"), "lake.read_p50_s": p50("read"),
                       "lake.pruned_read_p50_s": p50("pruned_read"),
                       "lake.write_amp": checks["write_amp"], "lake.space_amp": checks["space_amp"]})
    if a.workload == "metric-stream":
        layers.update({"streaming.batch_p50_s": p50("batch"),
                       "streaming.ticks_per_s": inputs.TRACE_TICKS / statistics.median(pass_s)})
    if traced_pass_s:
        layers.update({"trace.untraced_pass_s": statistics.median(pass_s),
                       "trace.traced_pass_s": statistics.median(traced_pass_s),
                       "trace.overhead_s": statistics.median(traced_pass_s) - statistics.median(pass_s)})

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else end_to_end
    # a layer the workload does not touch reads 0; a metric of a layer it
    # does touch must have been measured
    missing = [m["name"] for m in names if m["name"] not in values and
               (not a.trace or m["name"].startswith(LAYERS[a.workload]))]
    if missing:
        fail(f"{a.workload} produced no value for {', '.join(missing)}")
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in names}
    line = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}

    if a.report:
        spans = []
        if os.path.isfile(os.path.join(run_dir, "spans.jsonl")):
            spans = [json.loads(l) for l in open(os.path.join(run_dir, "spans.jsonl"))]
        report = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "cpus": cpus,
            "result": line, "end_to_end": end_to_end, "per_layer": layers,
            "per_layer_spread": spread, "input_gen_s": gen_s,
            "passes": res["passes"], "op_samples": len(op_s),
            "self_time_s": {str(p): self_times([s for s in spans if s["pass"] == p])
                            for p in sorted({s["pass"] for s in spans})},
            "per_op": res.get("per_op", []),
        }
        with open(a.report, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    if a.append_to:
        with open(a.append_to, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                "result": line}) + "\n")
    log(f"{a.workload} seed {a.seed}: jvm {t_checks - t_jvm:.1f} s, "
        f"checks {time.monotonic() - t_checks:.1f} s, run {time.monotonic() - START:.1f} s")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
