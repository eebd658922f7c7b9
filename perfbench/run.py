#!/usr/bin/env python3
"""Seeded workload benchmark: crawl_extract, selector_dense, curate_commit.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --smoke      # tiny runs; a tampered expectation must fail

The first run builds the library and the benchmark from source into
.bench_build/perfbench/classes, with the Scala compiler that ships with
Spark; later runs reuse that build while the sources are unchanged. Each
run first starts a generator JVM that writes the workload's tables from the
seed, then starts the benchmark JVM, which measures set-up (process start
to the end of an untimed warm-up pass), runs a fixed number of untimed
settle passes, then closed-loop passes for --seconds. --trace 0 prints the
end-to-end metrics; --trace 1 runs traced passes and the layer tables and
prints the per-layer metrics. The last stdout line is one JSON object.
Records and span files go to .bench_build/perfbench/records/.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
BUILD = os.path.join(REPO, ".bench_build", "perfbench")
WORKLOADS = ("crawl_extract", "selector_dense", "curate_commit")
PROC_TIMEOUT_S = 150  # per JVM start
BUILD_TIMEOUT_S = 400  # per compile attempt; at most two

# Same module opens as ../build.sbt: Spark on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME/jars, else the
    directory beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return sorted(os.path.join(jars, n) for n in os.listdir(jars) if n.endswith(".jar"))


def source_files():
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = []
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile the library and the benchmark into .bench_build when the
    sources changed; return the classpath.

    The compiler is the Scala compiler in Spark's jar directory, run on the
    sources and options of build.sbt, so a build needs only java and Spark:
    no sbt launcher, dependency cache or network, and it writes nothing
    outside .bench_build.
    """
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) are missing; nothing to build")
    jars = spark_jars()
    srcs = source_files()
    classes = os.path.join(BUILD, "classes")
    digest = hashlib.sha256("\n".join(jars).encode())
    for f in srcs:
        digest.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp = os.pathsep.join([classes] + jars)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return cp
    scala = [j for j in jars
             if re.fullmatch(r"scala-(compiler|library|reflect)-[\d.]+\.jar", os.path.basename(j))]
    if len(scala) != 3:
        fail("Spark's jar directory holds no Scala compiler")
    tmp = os.path.join(BUILD, "tmp")
    out = classes + ".new"
    os.makedirs(tmp, exist_ok=True)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(f'"{a}"' for a in
                           ["-deprecation", "-d", out, "-classpath", os.pathsep.join(jars)] + srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(scala), "scala.tools.nsc.Main", "@" + args_file]
    log_path = os.path.join(BUILD, "build.log")
    for _ in range(2):  # a second try, in case the first was killed from outside
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        with open(log_path, "w") as log:
            rc = run_child(cmd, BENCH, dict(os.environ), log, BUILD_TIMEOUT_S)
        if rc == 0:
            break
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (exit {rc}); see {log_path}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_child(cmd, cwd, env, log, timeout):
    """Run a child process to completion; kill it (and wait) on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        return -9


def jvm(cp, work, args, k):
    out = os.path.join(work, f"result-{k}.json")
    # fixed heap and generation sizes: GCs, and so the ContextCleaner's
    # frees inside a pass, fall at the same points in every JVM
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Runner", "--work", work, "--out", out] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, f"jvm-{k}.log"), "w") as log:
        rc = run_child(cmd, REPO, dict(os.environ), log, PROC_TIMEOUT_S)
    res = {}
    if os.path.exists(out):
        with open(out) as fh:
            res = json.load(fh)
    if rc != 0 and "error" not in res:
        res["error"] = f"JVM exited with {rc}"
    if "error" in res:
        with open(os.path.join(work, f"jvm-{k}.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-20:]))
        sys.stderr.write(f"perfbench: JVM {k}: {res['error']}\n")
    return res


def load_spec():
    path = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def run(a, cp):
    spec = load_spec()
    nproc = len(os.sched_getaffinity(0))  # the cores this process may use, as nproc counts
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    common = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--nproc", str(nproc), "--scale", str(a.scale),
              "--tamper", "1" if a.tamper else "0",
              "--spans", os.path.join(records, tag + ".spans.jsonl")]
    try:
        results = [jvm(cp, work, common + ["--gen", "1"], 0)]
        if "error" not in results[0]:
            results.append(jvm(cp, work, common, 1))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    last = results[-1]
    errors = [r["error"] for r in results if "error" in r]
    warm = [f for r in results for f in r.get("warmup_failures", [])]
    attempted = max(1, int(last.get("attempted", 0)))
    failed = attempted if errors else int(last.get("failed", 0))
    correct = not errors and not warm and failed == 0
    setup = last.get("setup_s")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    print(f"[perfbench] workload={a.workload} seed={a.seed} trace={a.trace} nproc={nproc} "
          f"jdk={last.get('jdk')} spark={last.get('spark')} docs={last.get('docs')}")
    print(f"[perfbench] properties: {json.dumps(last.get('props', {}), sort_keys=True)}")
    for msg in (last.get("failures", []) + warm + errors)[:20]:
        print(f"[perfbench] CHECK FAILED: {msg}")
    walls = last.get("pass_walls_s", [])
    if a.trace:
        layer = last.get("per_layer", {})
        values = layer.get("metrics", {})
        names = [m["name"] for m in spec["per_layer"]]
        if not errors and set(values) != set(names):
            fail(f"per-layer metrics differ from BENCHMARK.json: "
                 f"{sorted(set(values) ^ set(names))}")
        print(f"[perfbench] traced passes={layer.get('traced_passes')} "
              f"untraced passes={layer.get('untraced_passes')} "
              f"task tail percentile=p{100 * layer.get('task_tail_percentile', 0):g} "
              f"spans={last.get('spans_file')}")
        for n in names:
            if values.get(n) is not None:
                print(f"[perfbench]   {n} = {values[n]:.6g} {units[n]}")
        metrics = {n: {"value": values[n], "unit": units[n]}
                   for n in names if values.get(n) is not None}
    else:
        if setup is not None:
            print(f"[perfbench] setup_s = {setup:.4f} s (session {last['session_s']:.3f} s, "
                  f"warm-up pass {last['warmup_s']:.3f} s; generator {results[0].get('gen_s', 0):.3f} s "
                  f"in its own process, not counted)")
        if walls:
            print(f"[perfbench] docs_per_s = {last['docs_per_s']:.2f} docs/s "
                  f"(median pass {statistics.median(walls):.4f} s over {len(walls)} passes, "
                  f"min {min(walls):.4f}, max {max(walls):.4f})")
            print(f"[perfbench] peak_storage_mb = {last['peak_storage_mb']:.6f} MB "
                  f"(median per-pass peak over {len(walls)} passes)")
        print(f"[perfbench] failed_ratio = {failed / attempted:.4f} ({failed} of {attempted} passes)")
        values = {
            "docs_per_s": last.get("docs_per_s"),
            "setup_s": setup,
            "peak_storage_mb": last.get("peak_storage_mb"),
            "success_ratio": 1.0 - failed / attempted,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"] if values.get(m["name"]) is not None}
    record = {"args": vars(a), "correct": correct, "attempted": attempted, "failed": failed,
              "results": results}
    with open(os.path.join(records, tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return correct


def smoke(cp):
    """Tiny runs of every workload: each must pass as generated and fail
    when one expected value is tampered with."""
    ok = True
    for w in WORKLOADS:
        for tamper in (False, True):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", "7",
                   "--seconds", "1", "--trace", "0", "--scale", "0.05"]
            if tamper:
                cmd.append("--tamper")
            p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
            good = p.returncode == 0 and res.get("correct") is (not tamper)
            ok &= good
            print(f"[smoke] {w} tamper={tamper}: correct={res.get('correct')} "
                  f"failed={res.get('failed')}/{res.get('attempted')} -> "
                  f"{'as expected' if good else 'UNEXPECTED'}")
            if not good:
                sys.stdout.write(p.stdout[-2000:] + p.stderr[-2000:])
    print(f"[smoke] {'PASS' if ok else 'FAIL'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (1 = the benchmark's size)")
    ap.add_argument("--tamper", action="store_true",
                    help="perturb one expected value; the output check must fail")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and a.workload is None:
        ap.error("--workload is required")
    cp = build()
    if a.smoke:
        sys.exit(0 if smoke(cp) else 1)
    run(a, cp)


if __name__ == "__main__":
    main()
