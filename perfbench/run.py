#!/usr/bin/env python3
"""One command per workload: build graft + the benchmark if needed, run the
workload in one JVM on local[nproc], check its outputs, print every metric.

    python3 perfbench/run.py --workload mount_io --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --committer-verbs

The last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``; it is printed only when
the run completed. Human-readable lines (environment record, each metric
with its unit) come before it. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("mount_io", "fs_meta", "curation_funnel", "ann_index")
# Hard wall for one JVM run; the benchmark's own deadlines end every
# operation well before it.
JVM_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_opts():
    # AlwaysPreTouch: the whole heap is faulted in while the JVM boots (part
    # of setup_s), so no measured operation pays first-touch page faults.
    # graft's FileSystem.create allocates an 8 MB sub-block buffer; without
    # it, create times differed from run to run, most likely by whether that
    # buffer landed on pages touched before.
    opts = ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-Xss8m",
            "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"]
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts


def java_cmd(jar, run_dir, main, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + jvm_opts() + ["-Djava.io.tmpdir=" + tmp]
    # -Xshare:on: a run that cannot map the archive fails instead of
    # silently loading every class from the jars (a slower set-up)
    cmd += ["-XX:SharedArchiveFile=" + build.archive_path(), "-Xshare:on",
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    cmd += ["-cp", os.pathsep.join([jar, os.path.join(build.spark_jars(),
                                                       "*")])]
    return cmd + [main] + args


def run_jvm(cmd, run_dir):
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, cwd=build.ROOT)
        lines = []
        start = time.time()
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            print(out, end="")
            print("perfbench: JVM passed its %d s wall; killed"
                  % JVM_TIMEOUT_S, file=sys.stderr)
            return 124, lines
        lines = out.splitlines()
    if proc.returncode != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(tail)
        print("perfbench: JVM exited %d after %.1f s"
              % (proc.returncode, time.time() - start), file=sys.stderr)
    return proc.returncode, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the metric-math self-tests and exit")
    ap.add_argument("--committer-verbs", action="store_true",
                    help="count the verbs a stock parquet write and "
                    "read-back issue against a mount, and exit")
    a = ap.parse_args()
    tool = ("perfbench.SelfTest" if a.selftest else
            "perfbench.CommitterVerbs" if a.committer_verbs else None)
    if not tool and not a.workload:
        ap.error("--workload is required")

    jar = build.build(jvm_opts())
    run_dir = os.path.join(build.build_dir(), "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if tool:
            arg = build.ROOT if a.selftest else run_dir
            code, lines = run_jvm(java_cmd(jar, run_dir, tool, [arg]),
                                  run_dir)
            print("\n".join(lines))
            return code
        result = os.path.join(run_dir, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--run-dir", run_dir,
                "--out-dir", build.build_dir(), "--result", result]
        code, lines = run_jvm(java_cmd(jar, run_dir, "perfbench.Main",
                                       args), run_dir)
        if code != 0 or not os.path.exists(result):
            print("\n".join(lines))
            return code or 1
        with open(result) as fh:
            obj = json.load(fh)
        print("\n".join(lines))
        print(json.dumps(obj, separators=(", ", ": ")))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
