#!/usr/bin/env python3
"""graft benchmark: one workload run, measured for --seconds.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the repo root. Builds graft and the harness from source
(perfbench/build.py), runs the workload in one JVM on local[N] with
N = min(4, CPUs), checks every op's output, and prints the metrics: with
--trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. The last stdout line is the JSON result. Exit code 1
means a wrong output, 2 a failed build or run. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources

import build  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("etl_daily", "curation_index")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("[perfbench] " + msg, file=sys.stderr)
    sys.exit(code)


def java_cmd(classes, jars, main_args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseG1GC",
             "-Duser.timezone=UTC",
             "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
             "-Djava.io.tmpdir=" + work] + opens +
            ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main"] + main_args)


def run_jvm(cmd, cwd, log_path):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def log_tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-reference", action="store_true",
                    help="store this run's key fingerprints as the reference "
                         "(after a change to the committed data or the key list)")
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("run from the repo root: BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    try:
        classes, jars = build.build(root)
    except build.BuildError as e:
        fail("build failed: %s" % e)

    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(root, ".perfbench", "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    load_before = os.getloadavg()
    rc = run_jvm(java_cmd(os.path.abspath(classes), jars,
                          ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                           os.path.join(HERE, "data"), work, str(cores), out], work),
                 work, log)
    load_after = os.getloadavg()
    if rc != 0 or not os.path.exists(out):
        tail = log_tail(log)
        shutil.rmtree(work, ignore_errors=True)
        fail("benchmark JVM %s\n%s" % ("timed out" if rc is None else "exited %s" % rc, tail))
    res = json.load(open(out))
    shutil.rmtree(work, ignore_errors=True)

    if a.write_reference:
        fps = res.get("report", {}).get("fingerprints", {})
        unstable = {k: v for k, v in fps.items() if len(v) != 1}
        if not fps or unstable:
            fail("no stable fingerprints to store: %s" % json.dumps(unstable))
        ref = os.path.join(HERE, "reference", a.workload + ".json")
        with open(ref, "w") as fh:
            json.dump({k: v[0] for k, v in sorted(fps.items())}, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print("[perfbench] wrote %s" % ref)
        return 0

    attempted, failed = report.counts(res)
    correct = failed == 0
    section = "per_layer" if a.trace else "end_to_end"
    values = report.layer_metrics(res) if a.trace else report.e2e_metrics(res)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in spec[section]}
    unknown = sorted(set(values) - set(metrics))

    meas = [o for o in res["ops"] if o["phase"] == "measure"]
    rep = res.get("report", {})
    print("[perfbench] %s seed=%d cores=%d: %d measured ops in %.1f s, %d/%d ops failed, setups %s s"
          % (a.workload, a.seed, cores, len(meas), res["measure_s"], failed, attempted,
             ", ".join("%.3f" % s for s in res["setup_s"])))
    for o in res["ops"]:
        if o["error"] is not None:
            print("[perfbench] FAILED %s (%s): %s" % (o["key"], o["phase"], o["error"][:300]))
    for k, why in res.get("bad_keys", {}).items():
        print("[perfbench] FAILED %s: %s" % (k, why))
    for k in ("known_defects", "known_defect_failures", "known_defect_attempts", "recall_at_10"):
        if k in rep:
            print("[perfbench] %s: %s" % (k, json.dumps(rep[k], sort_keys=True)))
    print("[perfbench] failed_frac=%.4f spin_ms before/after=%.1f/%.1f loadavg before/after=%.2f/%.2f"
          % (failed / attempted, res["spin_before_ms"], res["spin_after_ms"], load_before[0], load_after[0]))
    by_key = {}
    for o in meas:
        by_key.setdefault(o["key"], []).append(o["wall_ms"])
    print("[perfbench] measured median ms by key: %s" % ", ".join(
        "%s=%.0f" % (k, statistics.median(v)) for k, v in sorted(by_key.items())))
    print("[perfbench] phase ends (JVM uptime, s): %s" % ", ".join(
        "%s=%.1f" % kv for kv in sorted(res["phase_end_s"].items(), key=lambda kv: kv[1])))
    if unknown:
        print("[perfbench] metrics not in BENCHMARK.json: %s" % ", ".join(unknown))
    for name, m in metrics.items():
        print("[perfbench] %-40s %14.4f %s" % (name, m["value"], m["unit"]))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
