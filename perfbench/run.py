#!/usr/bin/env python3
"""graft's benchmark: three closed-loop workloads, timed end to end and
counted per layer.

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one table

Run from the repository root (or anywhere: paths are resolved from this
file). The first run builds the harness with sbt, together with graft's
sources from ../src/main/scala, and generates the input lake into
perfbench/.work/ (ignored by git). A run then starts one JVM
(graft.perfbench.Main) that sets up, warms up, measures passes over
the workload's ops for --seconds, and writes raw timings.
This script checks the ops' outputs and prints, as its last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; a traced run also writes its spans and a self-time
summary under perfbench/.work/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
sys.path.insert(0, BENCH)

WORKLOADS = ["lake_sql", "train_funnel"]
HEAP = "4g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(f"perfbench: {msg}")
    sys.exit(code)


def run_proc(cmd, cwd, logfile, timeout, env=None):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it, so that nothing it started outlives the benchmark."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness and graft's sources unless nothing changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala) are not beside perfbench/", 2)
    if shutil.which("sbt") is None or not os.environ.get("SPARK_HOME"):
        fail("needs sbt on PATH and SPARK_HOME set", 2)
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    logfile = os.path.join(WORK, "build.log")
    t0 = time.time()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                   f"-Djava.io.tmpdir={tmp}", "compile"],
                  BENCH, logfile, timeout=800)
    if rc != 0:
        fail(f"build failed (rc={rc}):\n{tail(logfile)}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")


def inputs():
    """Generate the input lake once per checkout and check it against the
    row counts and digests recorded in inputs.json."""
    import gen
    path = os.path.join(WORK, "data", "sf0.1")
    if not os.path.exists(os.path.join(path, "_inputs.json")):
        recorded = json.load(open(os.path.join(BENCH, "inputs.json")))
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        summary = gen.write_lake(tmp)
        if summary != recorded:
            fail(f"generated lake differs from inputs.json: {summary}")
        with open(os.path.join(tmp, "_inputs.json"), "w") as f:
            json.dump(summary, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        log(f"perfbench: generated the input lake in {time.time() - t0:.1f} s")
    return path


def java(args, heap, log, cwd=None, tmp=None, timeout=RUN_TIMEOUT_S):
    """Run graft.perfbench.Main; `--t0-ms` tells it when its JVM was
    launched, the start of its set-up time."""
    tmp = tmp or os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Keep every scratch file inside the checkout: JVM perf data, Java,
    # Spark and Hadoop temporary directories.
    cmd += [f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}{os.pathsep}{jars}", "graft.perfbench.Main"] + args
    cmd += ["--t0-ms", str(int(time.time() * 1000))]
    rc = run_proc(cmd, cwd or WORK, log, timeout)
    if rc != 0:
        fail(f"harness exited with {rc}:\n{tail(log)}")


def link_tree(src, dst):
    """A private copy of a lake whose files are hard links: instant, and
    safe because neither Spark nor the refresh cycle writes a file in
    place (a new table version is written beside the lake and swapped)."""
    for d, _, fs in os.walk(src):
        rel = os.path.relpath(d, src)
        os.makedirs(os.path.join(dst, rel), exist_ok=True)
        for f in fs:
            if not f.startswith("_inputs"):
                os.link(os.path.join(d, f), os.path.join(dst, rel, f))


def run_workload(workload, seed, seconds, trace):
    lake = inputs()
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    private_lake = os.path.join(run_dir, "lake")
    link_tree(lake, private_lake)
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--lake", private_lake,
            "--source-lake", lake, "--work", run_dir, "--out", out]
    if trace:
        args += ["--spans", os.path.join(traces, f"{workload}-seed{seed}.spans.jsonl")]
    java(args, HEAP, os.path.join(run_dir, "jvm.log"), cwd=run_dir,
         tmp=os.path.join(run_dir, "tmp"))
    res = json.load(open(out))
    wrong = check(workload, res)
    shutil.copy(out, os.path.join(WORK, f"last-{workload}-trace{trace}.json"))
    if trace:
        summary = {k: res[k] for k in ("workload", "cores", "setup_s", "pass_s",
                                       "layers", "self_s")}
        with open(os.path.join(traces, f"{workload}-seed{seed}.summary.json"), "w") as f:
            json.dump(summary, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    return res, wrong


def check(workload, res):
    """Ops whose output does not match the oracle, or refresh cycles whose
    rewrite does not match their batch."""
    import oracle
    expected = json.load(open(os.path.join(BENCH, "expected.json"))).get(workload, {})
    wrong = {}
    ops = {r["op"] for r in res["ops"]}
    for op in sorted(ops):
        if op == "refresh_cycle":
            continue
        if op not in res["checks"]:
            wrong[op] = "no output written"
        elif op not in expected:
            wrong[op] = "no expected digest"
        else:
            rows, d = oracle.digest_dir(res["checks"][op])
            if d != expected[op]["digest"]:
                wrong[op] = f"{rows} rows, expected {expected[op]['rows']}; digest differs"
    for c in res["refresh_checks"]:
        if not c["ok"]:
            wrong[f"refresh_cycle@{c['pass']}"] = c["detail"]
    return wrong


def summarize(res, wrong, trace):
    measured = [r for r in res["ops"] if r["measured"]]
    measured_passes = {r["pass"] for r in measured}
    failed = 0
    for r in measured:
        if r["error"] is not None or r["op"] in wrong \
                or f"refresh_cycle@{r['pass']}" in wrong:
            failed += 1
    # A wrong or failed warm-up op makes the run incorrect as well.
    warm_errors = [r for r in res["ops"] if r["pass"] not in measured_passes
                   and r["error"] is not None]
    attempted = len(measured)
    if trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()}
    else:
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "pass_s": (statistics.median(res["pass_s"]), "s"),
            "ok_frac": ((attempted - failed) / attempted, "frac"),
            "peak_mem_mb": (res["heap_after_gc_peak_mb"], "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    for r in res["ops"]:
        if r["error"] is not None:
            log(f"perfbench: {r['op']} (pass {r['pass']}) failed: {r['error']}")
    for op, why in wrong.items():
        log(f"perfbench: output check failed for {op}: {why}")
    correct = not wrong and not warm_errors and failed == 0
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


LAYER_UNITS = {"_s": "s", "_mb": "MB", "_jobs": "count", "_rows": "count",
               "_util": "frac", "_user_byte": "ratio"}


def unit_of(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    build()
    if a.workload != "all":
        res, wrong = run_workload(a.workload, a.seed, a.seconds, a.trace)
        print(json.dumps(summarize(res, wrong, a.trace)))
        return
    # Every workload untraced (end-to-end metrics and the output check);
    # with --trace 1 also traced (per-layer metrics, self time per layer
    # and the tracing overhead: traced pass_s minus untraced pass_s).
    for w in WORKLOADS:
        res, wrong = run_workload(w, a.seed, a.seconds, 0)
        line = summarize(res, wrong, 0)
        print(f"== {w}: output check {'passed' if line['correct'] else 'FAILED'}, "
              f"attempted {line['attempted']}, failed {line['failed']}, "
              f"failed_frac {line['failed'] / line['attempted']:.4f}")
        for k, m in line["metrics"].items():
            print(f"   {k:<30} {m['value']:>14.4f} {m['unit']}")
        if a.trace:
            tres, twrong = run_workload(w, a.seed, a.seconds, 1)
            tline = summarize(tres, twrong, 1)
            for k, m in tline["metrics"].items():
                print(f"   {k:<30} {m['value']:>14.4f} {m['unit']}")
            over = tline["metrics"]["trace.pass_s"]["value"] - line["metrics"]["pass_s"]["value"]
            print(f"   {'tracing overhead (pass_s)':<30} {over:>14.4f} s")
            for k, v in sorted(tres["self_s"].items(), key=lambda kv: -kv[1]):
                print(f"   self {k:<25} {v:>14.4f} s/pass")

if __name__ == "__main__":
    main()
