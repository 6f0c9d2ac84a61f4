#!/usr/bin/env python3
"""Pipeline benchmark: builds the library and the benchmark from the checkout
it sits in, then runs one workload in a fresh JVM.

    python3 pipebench/run.py --workload pit_regen|curate --seed N \
        --seconds S --trace 0|1

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. See pipebench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "pipebench")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("pit_regen", "curate")
HEAP = "3g"
RUN_LIMIT_S = 170

# Spark on JDK 17 needs these when it is not started through spark-submit;
# the library's own build passes the same list to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.abspath(__file__),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds with sbt when the sources changed; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to the benchmark: it must run from a checkout of the library")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["digest"] == digest:
            return cached["classpath"]
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True, timeout=800)
        fh.write(proc.stdout)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    entries = lines[-1].strip().split(os.pathsep)
    if not all(os.path.exists(p) for p in entries):
        fail(f"unexpected classpath from the build, see {log}")
    cp = os.pathsep.join(entries)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


def run_one(cp, workload, seed, seconds, trace):
    """Runs one workload in a fresh JVM; returns its output and result line."""
    work = os.path.join(ROOT, ".bench_build", "work", f"{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # The first run after a build archives the classes it loads (JDK
    # class-data sharing); later runs map the archive and reach a Spark
    # session ~3 s sooner, which the run budget needs. Every metric starts
    # after the session is up. A missing or unusable archive only makes
    # start-up slower.
    first = not os.path.exists(ARCHIVE + ".tried")
    if first:
        open(ARCHIVE + ".tried", "w").close()
    share = f"-XX:ArchiveClassesAtExit={ARCHIVE}" if first else f"-XX:SharedArchiveFile={ARCHIVE}"
    cmd = (["java", "-Xlog:disable", share, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "pipebench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", trace, "--work", work])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"{workload} exceeded {RUN_LIMIT_S} s")
    finally:
        # on a timeout, or when this launcher is terminated, the JVM goes too
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"{workload} exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    return out, result


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = classpath()
    if a.workload != "all":
        out, _ = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
        sys.stdout.write(out)
        return
    # every workload in turn, each in its own JVM; metrics keyed workload/metric
    results = {}
    for w in WORKLOADS:
        out, results[w] = run_one(cp, w, a.seed, a.seconds, a.trace)
        sys.stdout.write(f"# == {w}\n" + "".join(line + "\n" for line in out.splitlines()[:-1]))
        sys.stdout.flush()
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}/{k}": v for w, r in results.items() for k, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
