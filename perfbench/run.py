#!/usr/bin/env python3
"""graft benchmark: builds the engine from this checkout, runs one seeded
workload in one JVM, checks its results and prints one JSON line.

    python3 perfbench/run.py --workload catalog_reads --seed 7 --seconds 10 --trace 0

Workloads: catalog_reads, stream_replay, index_churn (perfbench/README.md).
`--trace 1` adds a traced phase and prints the per-layer metrics instead of
the end-to-end ones. `--selftest` runs the benchmark's own tests.
Build output and run records go to `.bench_build/` at the checkout root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORKLOADS = ("catalog_reads", "stream_replay", "index_churn")
JVM_TIMEOUT_S = 170
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

sys.path.insert(0, HERE)
import oracle  # noqa: E402


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, log, **kw):
    """Runs cmd in its own process group, output to `log`; kills the whole
    group on timeout and always waits for it to end."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
            raise


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    open(log, "w").close()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], 840, log, cwd=HERE, env=sbt_env())
    lines = open(log, errors="replace").read().splitlines()
    cps = [l.strip() for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        die("build failed; see " + log + "\n" + "\n".join(lines[-15:]), 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def metric_list(key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[key]]


def main():
    # a terminated run still stops and waits for its JVM (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no engine sources at " + os.path.join(ROOT, "src", "main", "scala", "graft") +
            "; run from a checkout of the repository")
    if a.selftest:
        log = os.path.join(BUILD, "selftest.log")
        os.makedirs(BUILD, exist_ok=True)
        open(log, "w").close()
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"], 900, log,
                       cwd=HERE, env=sbt_env())
        print(open(log, errors="replace").read()[-4000:])
        sys.exit(rc)
    if a.workload is None or a.seed is None or a.seconds is None:
        die("--workload, --seed and --seconds are required")
    cp = build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    out_dir = os.path.join(BUILD, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "scratch"))
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(out_dir, tag + ".json")
    if os.path.exists(result):
        os.remove(result)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Djava.io.tmpdir=" + work, "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result,
            "--spans", os.path.join(out_dir, tag + "-spans.jsonl"),
            "--queries", os.path.join(HERE, "catalog_queries.txt")])
    log = os.path.join(out_dir, tag + ".log")
    open(log, "w").close()
    t0 = time.time()
    rc = run_child(cmd, JVM_TIMEOUT_S, log, cwd=ROOT, env=env)
    if rc != 0 or not os.path.exists(result):
        tail = open(log, errors="replace").read().splitlines()[-25:]
        die(f"{a.workload} run failed (exit {rc}); see {log}\n" + "\n".join(tail), 1)
    with open(result) as f:
        rec = json.load(f)

    failed_ops = {f["op"]: f["error"] for f in rec["failures"]}
    if a.workload == "catalog_reads":
        mismatched, unverified = oracle.check(rec)
        for op in rec["ops"]:
            if op["name"] in mismatched and op["id"] not in failed_ops:
                failed_ops[op["id"]] = "check: DuckDB oracle: " + mismatched[op["name"]]
        rec["oracle"] = {"checked": len(rec["oracle_sql"]) - len(unverified),
                         "mismatched": mismatched, "unverified": unverified}
        rec["failures"] = [{"op": k, "error": v} for k, v in sorted(failed_ops.items())]
    shutil.rmtree(work, ignore_errors=True)
    attempted = rec["attempted"]
    failed = len(failed_ops)
    rec["workload_metrics"]["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    rec["wall_s"] = time.time() - t0
    with open(result, "w") as f:
        json.dump(rec, f, indent=1)

    if a.trace:
        got = rec["per_layer"]
        names = metric_list("per_layer")
    else:
        got = rec["end_to_end"]
        names = metric_list("end_to_end")
    metrics = {n: {"value": got.get(n, {}).get("value", 0.0), "unit": u} for n, u in names}
    missing = [n for n, _ in names if n not in got] if not a.trace else []
    print(f"perfbench: {a.workload} seed={a.seed} nproc={rec['nproc']} "
          f"loadavg {rec['loadavg_start']:.2f}->{rec['loadavg_end']:.2f} "
          f"input_digest={rec['input_digest'][:16]} record={os.path.relpath(result, ROOT)}")
    print("perfbench: workload metrics " + json.dumps(rec["workload_metrics"], sort_keys=True))
    for f in rec["failures"]:
        print(f"perfbench: FAILED {f['op']}: {f['error']}")
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
