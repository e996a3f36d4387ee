#!/usr/bin/env python3
"""Benchmark entry point; run it from the root of a checkout:

    python3 perfbench/run.py --workload migrate_merge --seed 1 --seconds 16 --trace 0

Builds the engine and the benchmark's Scala code from source (once per source
state), generates the seeded inputs and their expected outputs (once
per seed), runs the workload in one JVM, checks every unit's published
output against the expected one, and prints one JSON line last.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("migrate_merge", "curate_dedup", "ingest_daily")
JVM_TIMEOUT_S = 150
HEAP = "2g"
KEEP_SEEDS = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile the engine and perfbench with sbt when the sources changed; return
    the runtime classpath."""
    target = os.path.join(root, "perfbench", "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=os.path.join(root, "perfbench"), stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def inputs(work, workload, seed):
    """Generated inputs and expected outputs for (workload, seed), cached."""
    import gen
    import oracle
    base = os.path.join(work, "inputs", workload)
    path = os.path.join(base, f"seed-{seed}")
    meta = os.path.join(path, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        stats = gen.generate(workload, seed, tmp)
        stats["expected"] = oracle.expected(workload, tmp, gen.INGEST_FIRST_DAY, gen.INGEST_LAST_DAY)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(stats, fh)
        os.rename(tmp, path)
        # keep the cache small: only the most recently generated seeds
        old = sorted((os.path.getmtime(os.path.join(base, d)), d) for d in os.listdir(base))
        for _, d in old[:-KEEP_SEEDS]:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return path, json.load(open(meta))


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def jvm(classpath, run_dir, cores, args):
    """One benchmark JVM with every writable location inside `run_dir`."""
    for d in ("tmp", "derby", "local", "warehouse", "hive-scratch", "hive-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    j = lambda d: os.path.join(run_dir, d)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={j('tmp')}", f"-Dderby.system.home={j('derby')}",
           f"-Dspark.local.dir={j('local')}", f"-Dspark.sql.warehouse.dir={j('warehouse')}",
           f"-Dspark.hadoop.hive.exec.scratchdir={j('hive-scratch')}",
           f"-Dspark.hadoop.hive.exec.local.scratchdir={j('hive-local')}",
           f"-Dspark.hadoop.hive.downloaded.resources.dir={j('hive-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--cores", str(cores)] + args
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    with open(j("jvm.log"), "ab") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(j("jvm.log"), errors="replace").read()[-4000:])
        fail(f"benchmark JVM failed ({rc})", 4)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft not found")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # build output, generated inputs and per-run scratch all live under
    # perfbench/target, which git ignores
    work = os.path.join(root, "perfbench", "target", "work")
    os.makedirs(work, exist_ok=True)
    cores = max(1, min(4, len(os.sched_getaffinity(0))) // 2)
    classpath = build(root, work)
    inp, meta = inputs(work, a.workload, a.seed)

    load_before = loadavg()
    run_dir = os.path.join(work, "run")
    try:
        fresh_dir(run_dir)
        out = os.path.join(run_dir, "result.json")
        jvm(classpath, run_dir, cores, [
            "--workload", a.workload, "--in", inp, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(run_dir, "work"), "--out", out])
        res = json.load(open(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after = loadavg()

    units = res["units"]
    exp = meta["expected"]
    failed, errors, self_test_ok = 0, [], True
    for n, u in enumerate(units):
        want = exp["hash"] if a.workload != "ingest_daily" else (
            "{events}/{docs}".format(**exp["days"][u["key"]]) if u["key"] in exp["days"] else None)
        if u["error"] or u["hash"] != want:
            failed += 1
            errors.append(u["error"] or f"unit {n}: output hash {u['hash']} != expected {want}")
        if u["perturbed_hash"] and u["perturbed_hash"].split("/")[0] == (want or "").split("/")[0]:
            self_test_ok = False
            errors.append("self-test: a perturbed output passed the check")
    if not any(u["perturbed_hash"] for u in units):
        self_test_ok = False

    timed = [u for u in units if not u["traced"] and not u["error"]]
    # units repeat identical work, so the fastest one is the one least
    # disturbed by the host's other load
    job_s = min((u["wall_s"] for u in timed), default=0.0)
    summary = {
        "workload": a.workload, "seed": a.seed, "cores": cores,
        "input_rows_per_unit": meta["input_rows"], "input_bytes": meta["input_bytes"],
        "units": len(units), "unit_s": [round(u["wall_s"], 3) for u in units],
        "self_test": "pass" if self_test_ok else "FAIL",
        "loadavg_before": load_before, "loadavg_after": load_after,
        "setup": {k: res[k] for k in ("session_create_s", "prepare_s", "warmup_s")},
        "failed_ratio": failed / max(1, len(units)), "errors": errors[:5],
    }
    if a.trace == 0:
        values = {
            "setup_s": res["setup_s"],
            "job_s": job_s,
            "rows_per_s": meta["input_rows"] / job_s if job_s else 0.0,
            "peak_rss_mb": res["peak_rss_mb"],
            "stored_bytes_ratio": median([u["out_bytes"] / meta["input_bytes"] for u in timed]),
        }
    else:
        traced = [u for u in units if u["traced"] and not u["error"]]
        keys = {k for u in traced for k in u["layers"]}
        values = {k: median([u["layers"].get(k, 0.0) for u in traced]) for k in keys}
        values["trace.coverage"] = min((u["layers"]["trace.coverage"] for u in traced), default=0.0)
        # units 1-2, 3-4, ... are traced/untraced pairs (see Main.scala)
        pairs = [(units[i], units[i + 1]) for i in range(1, len(units) - 1, 2)]
        values["trace_overhead"] = median([
            (x["wall_s"] / y["wall_s"] if x["traced"] else y["wall_s"] / x["wall_s"]) - 1
            for x, y in pairs if not (x["error"] or y["error"])])
        values["session.create_s"] = res["session_create_s"]
        values["session.warmup_s"] = res["warmup_s"]
    summary["layers" if a.trace else "metrics"] = values
    declared = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in declared}
    print(json.dumps(summary))
    print(json.dumps({"correct": failed == 0 and self_test_ok, "attempted": len(units),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
