#!/usr/bin/env python3
"""Ingest benchmark: build the engine and the benchmark from source, then run.

Run from the repository root:

    python3 ingestbench/run.py --workload json_poll --seed 1 --seconds 10 --trace 0
    python3 ingestbench/run.py --workload all --seed 1 --seconds 10

One workload prints human-readable lines and, last, one JSON object with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). `all`
runs every workload untraced and traced, prints the end-to-end table, the
tracing overhead, and checks that json_poll and avro_poll stored the same
records for the same seed.

The build is cached under ingestbench/target and redone whenever a source or
build file of the engine or the benchmark changes.
"""
import argparse
import hashlib
import json
import os
import pathlib
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["json_poll", "avro_poll", "stress_mix"]
MAIN = "ingestbench.Main"
BUILD_STAMP = HERE / "target" / "bench-build.json"
RUN_TIMEOUT_S = 170
HEAP = "2g"
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[ingestbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = []
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for base in (ROOT, HERE):
        files += sorted(p for p in [base / "build.sbt"] if p.is_file())
        files += sorted(p for p in (base / "project").glob("*") if p.is_file())
    return files


def fingerprint():
    # the cached classpath holds absolute paths, so a moved checkout rebuilds
    h = hashlib.sha256(str(ROOT).encode())
    for p in build_inputs():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "streaming" / "IngestStream.scala").is_file():
        log("engine sources not found next to the benchmark (expected src/main/scala/graft)")
        sys.exit(2)
    fp = fingerprint()
    if BUILD_STAMP.is_file():
        stamp = json.loads(BUILD_STAMP.read_text())
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export ingestbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if not l.startswith("[") and (".jar" in l or "classes" in l)]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        log(f"build failed (exit {proc.returncode})")
        sys.exit(2)
    BUILD_STAMP.parent.mkdir(parents=True, exist_ok=True)
    BUILD_STAMP.write_text(json.dumps({"fingerprint": fp, "classpath": cp[-1].strip()}))
    log(f"build done in {time.time() - t0:.1f} s")
    return cp[-1].strip()


def java_cmd(classpath, work, extra):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    # a fixed heap keeps peak RSS steady from run to run (G1 otherwise sizes
    # the heap from GC timing); live_heap_mb follows what the engine retains
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false"] + opts + ["-cp", classpath, MAIN] + extra)


def run_one(classpath, workload, seed, seconds, trace, hooks=(), echo=True):
    """One JVM run; returns (exit code, stdout lines)."""
    work = HERE / "work" / f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    extra = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "1" if trace else "0", "--work", str(work)]
    if trace:
        extra += ["--trace-out", str(HERE / "work" / "traces" / f"{workload}-seed{seed}.json")]
    extra += list(hooks)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(java_cmd(classpath, work, extra), cwd=ROOT, env=env,
                            stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if echo:
                print(line, end="", flush=True)
        code = proc.wait()
    finally:
        timer.cancel()
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code < 0:
        log(f"{workload} run was stopped after {RUN_TIMEOUT_S} s")
        code = 3
    return code, lines


def result_of(lines):
    for line in reversed(lines):
        if line.startswith("{"):
            return json.loads(line)
    return None


def e2e_of(lines):
    out = {}
    for line in lines:
        m = re.match(r"\[e2e\] (\S+)\s+(-?[0-9.]+) (\S+)", line)
        if m:
            out[m.group(1)] = (float(m.group(2)), m.group(3))
    return out


def prefix_of(lines):
    for line in lines:
        if line.startswith("[verify] prefix"):
            return line.split(" ", 2)[2]
    return None


def run_all(classpath, seed, seconds):
    """Every workload untraced, then traced; summary table and cross-checks."""
    ok = True
    untraced, traced = {}, {}
    for w in WORKLOADS:
        for trace in (False, True):
            code, lines = run_one(classpath, w, seed, seconds, trace, echo=False)
            res = result_of(lines)
            (traced if trace else untraced)[w] = lines
            status = "ok" if code == 0 and res and res["correct"] else f"FAILED (exit {code})"
            print(f"[all] {w} trace={int(trace)}: {status}", flush=True)
            if status != "ok":
                ok = False
                print("\n".join(lines[-40:]))
    names = ["records_per_s", "batch_p50_ms", "batch_tail_ms", "cpu_s_per_mrec",
             "peak_rss_mb", "live_heap_mb", "sink_bytes_per_rec", "failed_share", "setup_s"]
    print(f"\n{'metric':<22}" + "".join(f"{w:>24}" for w in WORKLOADS))
    for n in names:
        row = f"{n:<22}"
        for w in WORKLOADS:
            v = e2e_of(untraced[w]).get(n)
            row += f"{(f'{v[0]:.4g} {v[1]}' if v else 'omitted (<20 batches)'):>24}"
        print(row)
    print("\ntracing overhead (records_per_s, traced vs untraced):")
    for w in WORKLOADS:
        a = e2e_of(untraced[w]).get("records_per_s")
        b = e2e_of(traced[w]).get("records_per_s")
        if a and b:
            print(f"  {w:<12} untraced {a[0]:.0f}  traced {b[0]:.0f}  ratio {b[0] / a[0]:.3f}")
    pj, pa = prefix_of(untraced["json_poll"]), prefix_of(untraced["avro_poll"])
    agree = pj is not None and pj == pa
    print(f"\njson_poll vs avro_poll per-collection counts and value checksums "
          f"(first groups, seed {seed}): {'agree' if agree else 'DISAGREE'}")
    if not agree:
        print(f"  json_poll: {pj}\n  avro_poll: {pa}")
    ok = ok and agree
    print(json.dumps({"correct": ok, "workloads": WORKLOADS,
                      "e2e": {w: {k: v[0] for k, v in e2e_of(untraced[w]).items()} for w in WORKLOADS}}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-sink", action="store_true",
                    help="test hook: duplicate one sink file before verification")
    ap.add_argument("--unlabelled-frames", action="store_true",
                    help="test hook: leave every engine frame unattributed in the trace")
    ap.add_argument("--build-only", action="store_true", help="compile and exit")
    ap.add_argument("--gen-only", type=pathlib.Path, metavar="DIR",
                    help="write two input groups into DIR and print their SHA-256")
    args = ap.parse_args()
    if not args.build_only and not args.workload:
        ap.error("--workload is required")
    classpath = build()
    if args.build_only:
        return 0
    if args.gen_only:
        args.gen_only.mkdir(parents=True, exist_ok=True)
        cmd = java_cmd(classpath, args.gen_only, ["--gen-only", "--workload", args.workload,
                                                  "--seed", str(args.seed), "--work", str(args.gen_only)])
        return subprocess.run(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S).returncode
    if args.workload == "all":
        return run_all(classpath, args.seed, args.seconds)
    hooks = [f for f, on in (("--corrupt-sink", args.corrupt_sink),
                             ("--unlabelled-frames", args.unlabelled_frames)) if on]
    code, _ = run_one(classpath, args.workload, args.seed, args.seconds, args.trace == 1, hooks)
    return code


if __name__ == "__main__":
    sys.exit(main())
