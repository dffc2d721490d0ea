#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads driven through graft's public API.

    python3 perfbench/run.py --workload scd2_daily --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles graft
(src/main/scala) and the benchmark (perfbench/scala) with the Scala
compiler that ships in Spark's jars, into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the classes while the sources are
unchanged. The run then starts one JVM that sets the workload up, loops
for --seconds, checks its outputs and writes raw samples; this script
turns them into metrics. The last stdout line is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The exit code is 0 only when every operation and output check passed.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

WORKLOADS = ["store_daily", "dedup_corpus"]
# JVM run time allowed beyond --seconds (start, setup, final checks).
SLACK_S = 150
HEAP = "2g"
YOUNG = "512m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"perfbench: no jars under {home}/jars")
    return jars


def scala_files(root, pattern):
    return sorted(glob.glob(os.path.join(root, pattern), recursive=True))


def compile_scala(root, name, files, classpath, build_dir, jars):
    """Compile `files` into build_dir/name unless its stamp (a digest of
    the sources and the class path) is unchanged; returns the directory."""
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(os.pathsep.join(classpath).encode())
    stamp = h.hexdigest()
    out = os.path.join(build_dir, name)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    log(f"compiling {len(files)} Scala files into {name}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).split("-2.")[0]
                in ("scala-compiler", "scala-library", "scala-reflect")]
    args_file = out + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-nowarn", "-classpath", os.pathsep.join(classpath), "-d", tmp]
                           + files))
    t0 = time.time()
    done = subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}",
                           "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                           "scala.tools.nsc.Main", "@" + args_file], stdout=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"perfbench: compiling {name} failed")
    log(f"compiled {name} in {time.time() - t0:.1f} s")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def build(root, build_dir, jars):
    """Compile graft, then the benchmark against it; returns the class path."""
    graft_src = scala_files(root, "src/main/scala/**/*.scala")
    if not graft_src:
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    graft = compile_scala(root, "graft-classes", graft_src, jars, build_dir, jars)
    bench = compile_scala(root, "bench-classes", scala_files(root, "perfbench/scala/*.scala"),
                             [graft] + jars, build_dir, jars)
    return [bench, graft]


def java_cmd(classpath, work, main_args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and young generation keep the peak-heap metric from
    # following the collector's adaptive sizing
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"] + opens
            + ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + main_args)


def run_jvm(cmd, work, timeout_s):
    """Run the JVM with its output in work/jvm.log; kill it on timeout."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout_s)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    return code


def prepare(root):
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    return build_dir, build(root, build_dir, jars) + jars


def fresh_work(build_dir, name):
    work = os.path.join(build_dir, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    # a terminated run must still stop its JVM (run_jvm kills it on exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    build_dir, classpath = prepare(root)
    work = fresh_work(build_dir, a.workload)
    raw_path = os.path.join(work, "raw.json")
    launch = time.monotonic_ns()
    code = run_jvm(java_cmd(classpath, work,
                            ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                             work, raw_path]),
                   work, a.seconds + SLACK_S)
    if code != 0 or not os.path.exists(raw_path):
        log(f"benchmark JVM exited with {code}")
        return 1
    with open(raw_path) as fh:
        raw = json.load(fh)
    for f in raw["failures"]:
        log(f"check failed: {f}")
    if not raw.get("complete") or not raw["ops"]:
        log("run did not complete")
        return 1
    tail = metrics.tail_percentile(len(raw["reads"]))
    log(f"{a.workload} seed {a.seed}: {len(raw['ops'])} ops, {len(raw['reads'])} reads "
        f"(highest percentile with ten reads beyond it: {tail or 'none'}), "
        f"{raw['attempted']} attempted, {raw['failed']} failed; inputs {json.dumps(raw['inputs'])}")
    result = metrics.per_layer(raw) if a.trace else metrics.end_to_end(raw, launch)
    correct = raw["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": result}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
