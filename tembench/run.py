#!/usr/bin/env python3
"""Benchmark of the paper's sensor pipeline (batch and stream) and of a
multistage suite of headline entries. See tembench/README.md.

Usage, from the repository root:
    python3 tembench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the program and the harness from source.
Inputs are generated from the seed. One JVM does one cold set-up and then
times a closed loop of operations for S seconds. Every output is checked.
The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}; a readable summary and Spark's log go to stderr, and
the full record to .bench_work/records/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CLASSES = os.path.join(BUILD, "harness", "scala-2.13", "classes")

JVM_TIMEOUT_S = 160
# Fixed heap; the driver's live set after a cycle or pass is 85-135 MB.
HEAP = "1g"

WORKLOADS = ["sensor_pipeline", "multistage_suite"]
# Rows of the seeded sensor CSV, so of one sensor cycle.
SENSOR_ROWS = 10000

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[tembench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """$SPARK_HOME, else the first Spark distribution on PATH that has its
    jars (a pip pyspark's spark-submit may come first)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "spark-core_*.jar")):
            return h
    sys.exit("[tembench] no Spark distribution found; set SPARK_HOME")


def source_digest():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return digest
    log("building the program and the harness from source")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the sbt launcher starts keeps its temporary files in the checkout
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += f" -Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=os.path.join(HERE, "harness"), env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=840)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        sys.exit("[tembench] build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def run_jvm(workload, seconds, trace, work, inputs, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{CLASSES}:{spark_home()}/jars/*", "tembench.Harness",
              "--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
              "--work", work, "--inputs", inputs, "--out", out])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"harness exceeded {JVM_TIMEOUT_S} s and was stopped")
        return -1
    finally:
        # also on SIGTERM or an exception: never leave the JVM running
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def host_fingerprint(host, digest):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        sha = r.stdout.strip() or None
    return {"nproc": host["nproc"], "mem_total_mb": mem_kb // 1024, "jdk": host["jdk"],
            "spark": host["spark"], "master": host["master"], "max_heap_mb": host["max_heap_mb"],
            "git_sha": sha, "source_sha256": digest}


def check_ops(workload, res, expected, tables_dir):
    """Run every gate; each op gets its list of `problems`."""
    ops = res["ops"]
    if workload == "sensor_pipeline":
        def check(o):
            bad = checks.check_sensor_op(o, expected)
            shutil.rmtree(os.path.dirname(o["sink"]), ignore_errors=True)
            return bad
    else:
        outputs = res["finish"]["outputs"]
        verdict = checks.check_suite(tables_dir, {q: v["path"] for q, v in outputs.items()},
                                     res["finish"]["oracle"])
        reference = {q: v["fingerprint"] for q, v in outputs.items()}
        fact_rows = gen.fact_rows()

        def check(o):
            o["rows"] = fact_rows
            return checks.check_suite_op(o, reference, verdict)
    for o in ops:
        o["problems"] = check(o) if o["ok"] else [o["error"]]


def layer_metrics(workload, traced, plain, res, gen_s):
    layers = {}
    for key in sorted({k for o in traced for k in o["layers"]}):
        layers[key] = statistics.median([o["layers"][key] for o in traced if key in o["layers"]])
    if workload == "sensor_pipeline" and traced:
        layers.update(checks.stream_layers(traced))
    if traced and plain:
        t, u = checks.op_p50_s(traced), checks.op_p50_s(plain)
        layers["trace.overhead_pct"] = (t - u) / u * 100.0
    s, h = res["setup"], res["host"]
    layers.update({"setup.gen_s": gen_s, "setup.session_s": s["session_s"],
                   "setup.first_op_s": s["first_op_s"], "setup.warm_s": s["warm_s"],
                   "setup.warm_ops": float(s["warm_ops"]), "host.steal_pct": h["steal_pct"],
                   "host.calib_ms": (h["calib_ms_before"] + h["calib_ms_after"]) / 2})
    return layers


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("[tembench] terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[tembench] no program sources at src/main/scala/graft; nothing to measure")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    digest = build()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(inputs, "tables"))

    t0 = time.time()
    expected = {}
    if a.workload == "sensor_pipeline":
        expected = gen.sensor_csv(os.path.join(inputs, "sensor.csv"), a.seed, SENSOR_ROWS)
    else:
        gen.tables(os.path.join(inputs, "tables"), a.seed)
    gen_s = time.time() - t0

    out = os.path.join(work, "result.json")
    rc = run_jvm(a.workload, a.seconds, a.trace, work, inputs, out)
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"[tembench] harness failed (exit {rc}); no result")
    with open(out) as f:
        res = json.load(f)

    check_ops(a.workload, res, expected, os.path.join(inputs, "tables"))
    ops = res["ops"]
    setup_bad = [o for o in ops if o["phase"] != "timed" and o["problems"]]
    for o in ops:
        for p in o["problems"][:5]:
            log(f"FAILED op {o['i']} ({o['phase']}): {p}")
    if setup_bad:
        sys.exit("[tembench] a set-up operation failed its checks; no result")
    timed = [o for o in ops if o["phase"] == "timed"]
    good = [o for o in timed if not o["problems"]]
    plain = [o for o in good if not o["traced"]]
    traced = [o for o in good if o["traced"]]

    e2e = {}
    if plain:
        e2e = {"setup_s": res["setup"]["setup_s"], "rows_per_s": checks.rows_per_s(plain),
               "op_p50_s": checks.op_p50_s(plain),
               "heap_peak_mb": max(o["heap_mb"] for o in plain)}
    layers = layer_metrics(a.workload, traced, plain, res, gen_s)
    spans_path = os.path.join(work, "spans.jsonl")
    self_s = {}
    if a.trace and os.path.exists(spans_path):
        with open(spans_path) as f:
            self_s = checks.self_time_by_name([json.loads(x) for x in f if x.strip()])

    if a.trace:
        names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        vals = layers
    else:
        names = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
        vals = e2e
    attempted, failed = len(timed), len(timed) - len(good)
    correct = failed == 0 and all(n in vals for n, _ in names if not a.trace)
    metrics = {n: {"value": float(vals.get(n, 0.0)), "unit": u} for n, u in names}

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "host": host_fingerprint(res["host"], digest), "correct": correct,
              "attempted": attempted, "failed": failed, "setup": res["setup"],
              "window": res["window"], "thirds": checks.thirds(plain) if plain else None,
              "end_to_end": e2e, "op_count": len(plain), "per_layer": layers,
              "self_time_s": self_s,
              "ops": [{k: v for k, v in o.items() if k not in ("progress", "batch_ms")}
                      for o in ops]}
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    with open(os.path.join(rec_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if self_s:
        shutil.copy(spans_path, os.path.join(rec_dir, stem + ".spans.jsonl"))
    for n, u in names:
        log(f"{a.workload} {n} = {metrics[n]['value']:.6g} {u}")
    if record["thirds"]:
        log(f"{a.workload} warm-up {res['setup']['warm_ops']} ops; op p50 first third "
            f"{record['thirds']['first_third_p50_s']:.4f} s, last third "
            f"{record['thirds']['last_third_p50_s']:.4f} s")
    log(f"{a.workload} {failed} failed of {attempted} attempted; steal "
        f"{res['host']['steal_pct']:.2f} %; record {stem}.json")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
