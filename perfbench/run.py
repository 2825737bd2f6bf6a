#!/usr/bin/env python3
"""The benchmark's one command: build, make inputs, run, check, report.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the runner with
sbt (once per source state), generates the workload's inputs from the seed,
runs `perfbench.Runner` in a fresh JVM with its own temp and Spark local
dirs, checks the outputs, and prints one JSON line as the last line of
stdout. With `--trace 0` that line holds the end-to-end metrics; with
`--trace 1` the per-layer ones. Everything it writes stays under
`.perfbench/` in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

import pyarrow.parquet as pq

import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("wordcount_corpus", "stream_commit")
JVM_TIMEOUT_S = 150
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, d)):
            dirnames[:] = sorted(x for x in dirnames if x != "target")
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties"))]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the runner; returns the runtime classpath."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        sys.exit("perfbench: no program to build here (build.sbt and src/main are missing)")
    stamp = os.path.join(STATE, "build", "stamp")
    cp_file = os.path.join(STATE, "build", "classpath")
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log("building with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        sys.exit("perfbench: build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, args, work):
    """Runs the runner to completion in its own process group, so that a
    timeout takes down everything it started."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    # A fixed heap, so that peak RSS reflects the program rather than how far
    # the collector happened to grow the heap.
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Runner"] + args
    with open(os.path.join(work, "jvm.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=err, stderr=err,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"perfbench: runner exited with {code}")


def check_wordcount(work, expected):
    """Names of wrong outputs: the sink must hold exactly the generated
    counts, and the top-N must be the first 20 by (cnt DESC, word ASC)."""
    wrong = []
    got = {}
    for f in glob.glob(os.path.join(work, "check", "sink", "part-*")):
        with open(f) as fh:
            for line in fh:
                word, cnt = line.rstrip("\n").split(" ")
                got[word] = got.get(word, 0) + int(cnt)
    if got != expected:
        missing = len(expected.keys() - got.keys())
        extra = len(got.keys() - expected.keys())
        log(f"sink mismatch: {len(got)} words, {missing} missing, {extra} unexpected")
        wrong.append("writeWordCounts")
    top = pq.read_table(os.path.join(work, "check", "wordcount_corpus")).to_pylist()
    want = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    if [(r["word"], r["cnt"]) for r in top] != want:
        log(f"top-N mismatch: got {top[:3]}..., want {want[:3]}...")
        wrong.append("topN")
    return wrong


def check_registry(work, data):
    """Names of ops whose check-pass output differs from the DuckDB oracle,
    as judged by the repo's own compare script."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "compare.py"), data,
         os.path.join(work, "check")],
        capture_output=True, text=True, stdin=subprocess.DEVNULL)
    wrong = re.findall(r"^FAIL (\S+?):", proc.stdout, flags=re.M)
    if proc.returncode != 0 and not wrong:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
        sys.exit("perfbench: the compare script failed")
    for name in wrong:
        log(f"wrong result: {name}")
    return wrong


def cpu_steal():
    """(steal, total) jiffies so far, from /proc/stat: time the host gave
    this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def tree_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(STATE, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    for d in ("tmp", "local", "check"):
        os.makedirs(os.path.join(work, d))
    if a.workload == "wordcount_corpus":
        expected = gen.corpus(a.seed, data)
    else:
        gen.fixture(a.seed, data)
    input_bytes = tree_bytes(data)

    steal0 = cpu_steal()
    run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--data", data, "--work", work], work)
    steal1 = cpu_steal()
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    with open(os.path.join(work, "raw.json")) as fh:
        raw = json.load(fh)

    threw = [o for o in raw["ops"] if o["error"] is not None]
    # An op that threw in the check pass is already counted; its missing
    # output is not a second failure.
    check_threw = {o["name"] for o in threw if o["phase"] == "check"}
    if a.workload == "wordcount_corpus":
        wrong = [] if check_threw else check_wordcount(work, expected)
    else:
        wrong = [n for n in check_registry(work, data) if n not in check_threw]
    attempted = len(raw["ops"])
    failed = len(threw) + len(wrong)

    e2e, ctx = metrics.end_to_end(raw, input_bytes)
    layers = metrics.per_layer(raw) if a.trace else {}
    artifact = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "master": raw["master"], "passes": raw["passes"], "setup_s_all": raw["setup_s"],
        "fail_ratio": failed / attempted, "failed_ops": sorted({o["name"] for o in threw}),
        "wrong_ops": wrong, "input_bytes": input_bytes,
        "loadavg_1m": [raw["loadavg_start"], raw["loadavg_end"]], "cpu_steal": steal,
        "leaks": raw["leaks"], "end_to_end": e2e, **ctx, "per_layer": layers}
    with open(os.path.join(STATE, f"result_{a.workload}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    log(f"{a.workload}: {ctx['timed_samples']} timed ops in {raw['passes']} passes, "
        f"tail = p{ctx['latency_tail_percentile']:.0f} "
        f"({ctx['latency_tail_samples_beyond']} beyond), fail_ratio {failed}/{attempted}, "
        f"loadavg {raw['loadavg_start']:.2f} -> {raw['loadavg_end']:.2f}, "
        f"cpu steal {100 * steal:.1f}%, "
        f"leaks {raw['leaks']}")
    if raw["leaks"]["streaming.active_after"]:
        log("WARNING: streaming queries were left running")
    # Counted above; the private temp and local dirs go only now.
    for d in ("tmp", "local", "data"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    if a.trace:
        shown = {k: {"value": v, "unit": metrics.layer_unit(k)} for k, v in sorted(layers.items())}
    else:
        shown = {k: {"value": e2e[k], "unit": metrics.UNITS[k]} for k in metrics.END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": shown}))


if __name__ == "__main__":
    main()
