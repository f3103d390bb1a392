#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload fleet_cycle --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run compiles the program
(src/main/scala) together with the benchmark (perfbench/src) into
.bench_build/ with the Scala compiler that ships in Spark's jars
directory; later runs reuse the build while the sources are unchanged.
The workload then runs in one JVM on Spark local[<cores>]. Its Spark
state lives in a fresh directory under .bench_out/runs/, deleted when the
run ends; the result, stamped with the machine and the sources, is kept
in .bench_out/results/ (and the spans of a traced run next to it).

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics named in
BENCHMARK.json when --trace is 0, its per-layer metrics when it is 1.
The exit code is 0 only when every output check passed.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "graftbench")
OUT_DIR = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("fleet_cycle", "paced_delivery", "corpus_recipe", "ann_search")
HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 500
JAR = "graftbench.jar"
ARCHIVE = "classes.jsa"

# Per-layer metrics a workload must report; any other per-layer metric
# belongs to a layer the workload never calls, which did no work: 0.
OWNED = {
    "fleet_cycle": ("blueprint.", "engine.", "generators.exec_s", "transforms.exec_s",
                    "dispatch.exec_s", "dispatch.rows_out", "sinks.fake_objects_s",
                    "sinks.fake_objects_rows", "sinks.get_requests_s", "sinks.metric_data_s",
                    "trace.", "jvm."),
    "paced_delivery": ("paced.", "dispatch.exec_s", "sinks.metric_data_s", "trace.", "jvm."),
    "ann_search": ("similarity.", "trace.", "jvm."),
    "corpus_recipe": ("textstats.quality_s", "textstats.kept_frac", "dedup.near_dup_s",
                      "dedup.candidate_pairs", "dedup.verify_yield", "dedup.clusters",
                      "dedup.apply_s", "corpus.", "trace.", "jvm."),
}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the directory the
    repository's build.sbt names as `unmanagedBase`."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            cands.append(m.group(1))
    for jars in cands:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark jars with a Scala compiler found; set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"program sources not found at {main}; run from the root of a checkout")
    files = []
    for base in (main, os.path.join(BENCH_DIR, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(jars, files, digest):
    """Compile program + benchmark once per source digest into a jar, and
    record a class-data-sharing archive of the classes a run loads, so
    later JVMs start in seconds instead of tens of seconds. Returns the
    build directory."""
    out = os.path.join(BUILD_DIR, digest)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        classes = os.path.join(tmp, "classes")
        os.makedirs(classes)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files))
        cp = os.path.join(jars, "*")
        t0 = time.time()
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
        try:
            r = subprocess.run(
                ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                 "-nowarn", "-classpath", cp, "-d", classes, "@" + argfile],
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("compilation timed out")
        if r.returncode != 0:
            fail("compilation failed")
        with zipfile.ZipFile(os.path.join(tmp, JAR), "w") as z:
            for d, _, names in os.walk(classes):
                for n in names:
                    f = os.path.join(d, n)
                    z.write(f, os.path.relpath(f, classes))
        shutil.rmtree(classes)
        print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
        # the archive must be recorded with the jar at its final path
        os.rename(tmp, out)
        train = os.path.join(out, "train")
        os.makedirs(os.path.join(train, "tmp"))
        run_jvm(out, jars, ["corpus_recipe", "1", "1", "0"], train,
                ["-XX:ArchiveClassesAtExit=" + os.path.join(out, ARCHIVE)])
        shutil.rmtree(train, ignore_errors=True)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        return out


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def run_jvm(build_dir, jars, args, run_dir, extra=()):
    """Run graftbench.Main with `args` in `run_dir`; returns its exit code,
    or None when it had to be killed."""
    # no hsperfdata file in /tmp: a run writes only inside its checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}"]
    archive = os.path.join(build_dir, ARCHIVE)
    if not extra and os.path.isfile(archive):
        cmd.append("-XX:SharedArchiveFile=" + archive)
    cmd += list(extra)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{os.path.join(build_dir, JAR)}:{os.path.join(jars, '*')}", "graftbench.Main"]
    cmd += list(args) + [run_dir]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    files = sources()
    jars = spark_jars()
    digest = source_digest(files)
    build_dir = build(jars, files, digest)

    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    run_dir = os.path.join(OUT_DIR, "runs", name)
    os.makedirs(os.path.join(run_dir, "tmp"))
    load0 = loadavg()
    cpu0 = cpu_times()
    t0 = time.time()
    code = run_jvm(build_dir, jars, [args.workload, str(args.seed), str(args.seconds),
                                     str(args.trace)], run_dir)
    wall = time.time() - t0
    load1 = loadavg()
    cpu1 = cpu_times()

    result_path = os.path.join(run_dir, "result.json")
    if code is None or not os.path.isfile(result_path):
        tail = open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-3000:]
        print(tail, file=sys.stderr)
        fail("the benchmark JVM " + ("timed out" if code is None else f"exited with {code}")
             + " without a result", 1)
    with open(result_path) as fh:
        res = json.load(fh)

    section = "per_layer" if args.trace else "end_to_end"
    owned = OWNED[args.workload]
    metrics, missing = {}, []
    for m in spec[section]:
        v = res["metrics"].get(m["name"])
        if v is None and args.trace and not m["name"].startswith(owned):
            v = 0.0
        if v is None:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failures = list(res["failures"]) + [f"metric {n} was not measured" for n in missing]
    correct = code == 0 and res["failed"] == 0 and not failures

    record = dict(res)
    record.update({
        "correct": correct, "process_wall_s": wall, "exit_code": code,
        "stamps": {"nproc": len(os.sched_getaffinity(0)),
                   "spark_master": res["spark_master"], "loadavg_start": load0,
                   "loadavg_end": load1,
                   # share of CPU time the host took from this VM during the run
                   "cpu_steal_frac": (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]),
                   "jvm_xmx": HEAP, "spark_version": res["spark_version"],
                   "git_commit": git_commit(), "source_digest": digest, "seed": args.seed},
    })
    results = os.path.join(OUT_DIR, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, name + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace and os.path.isfile(os.path.join(run_dir, "spans.json")):
        shutil.copy(os.path.join(run_dir, "spans.json"), os.path.join(results, name + ".spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"stamps={json.dumps(record['stamps'], sort_keys=True)}")
    for k, v in sorted(res["notes"].items()):
        print(f"# note {k} = {json.dumps(v)}")
    for n, m in metrics.items():
        print(f"# {n} = {m['value']:.6g} {m['unit']}")
    for f in failures:
        print(f"# FAILED: {f}")
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]) + len(missing), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
