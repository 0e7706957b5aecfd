#!/usr/bin/env python3
"""Corpus-build benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload audio_ingest --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and
the harness (perfbench/build.sbt) and caches the runtime classpath; each
run then generates the seeded inputs, replays the face's DuckDB oracle
on them once per seed (untimed), starts Spark at local[nproc], measures
the workload for --seconds, checks every repetition's output against
the oracle, and prints the metrics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import metrics as M  # noqa: E402
import oracle  # noqa: E402

E2E = [("setup_s", "s"), ("wall_s", "s"), ("items_per_s", "1/s"), ("cpu_s", "s"),
       ("out_mb", "MB")]
RUN_LIMIT_S = 175
RECONCILE_TOLERANCE = 0.02  # |sum of span self times - job wall| / wall
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(root, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, deadline):
    """Compile library + harness once per source state; returns the
    runtime classpath and the faces' oracle SQL."""
    target = os.path.join(BENCH, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "stamp")
    oracles = os.path.join(target, "oracles.json")
    stamp = source_stamp(root)
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(oracles)):
        log("building library and harness (sbt)")
        os.makedirs(target, exist_ok=True)
        tmp = os.path.join(target, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # every JVM the build starts keeps its temp files in the checkout
        env = dict(os.environ,
                   SBT_OPTS=" ".join([os.environ.get("SBT_OPTS", ""), f"-Djava.io.tmpdir={tmp}"]),
                   JAVA_TOOL_OPTIONS=" ".join([os.environ.get("JAVA_TOOL_OPTIONS", ""),
                                               "-XX:-UsePerfData"]))
        with open(os.path.join(target, "build.log"), "w") as out:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(60, deadline - time.time())).returncode
        if rc != 0:
            fail(f"build failed (see {target}/build.log)")
        cp = open(cp_file).read().strip()
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.DumpOracles", oracles],
                       check=True,
                       stdin=subprocess.DEVNULL, timeout=120)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return open(cp_file).read().strip(), json.load(open(oracles)), stamp


def prepare_inputs(workload, seed, work, oracle_sql):
    """Seeded inputs + oracle expectations, made once per (workload, seed)."""
    import gen
    d = os.path.join(work, "inputs", f"{workload}-{seed}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        return d, json.load(open(manifest))
    shutil.rmtree(d, ignore_errors=True)
    t = time.time()
    props, digest = gen.write_inputs(workload, seed, d)
    t_gen = time.time() - t
    lines = oracle.expected(workload, oracle_sql, d)
    with open(os.path.join(d, "expected.tsv"), "w") as f:
        f.writelines(f"{op}\t{dg}\t{n}\n" for op, dg, n in lines)
    info = {"seed": seed, "input_sha256": digest, "properties": props,
            "generate_s": round(t_gen, 3), "oracle_s": round(time.time() - t - t_gen, 3),
            "expected_rows": {op: n for op, _, n in lines}}
    with open(manifest, "w") as f:
        json.dump(info, f, indent=1)
    return d, info


def run_jvm(cp, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = str(len(os.sched_getaffinity(0)))
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] +
           [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-cp", cp, "perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded the run limit (log: {work}/jvm.log)")
    if rc != 0:
        fail(f"harness exited {rc} (log: {work}/jvm.log)")


def e2e_metrics(rec):
    reps = [r for r in rec["reps"] if not r["traced"]]
    setup = rec["setup"]
    wall = M.median([r["wall_s"] for r in reps])
    out = {
        "setup_s": setup["session_s"] + M.median(setup["load_s"]) + setup["warmup_s"],
        "wall_s": wall,
        "items_per_s": rec["items"] / wall if wall else 0.0,
        "cpu_s": M.median([r["cpu_s"] for r in reps]),
        "out_mb": M.median([r["out_bytes"] for r in reps]) / 1e6,
    }
    inc = [x for r in reps for x in r["inc_ms"]]
    extra = {}
    if inc:
        extra["increment_p50_ms"] = M.median(inc)
        t = M.tail(inc)
        if t:
            extra["increment_tail_ms"] = t[1]
            extra["increment_tail_percentile"] = t[0]
            extra["increment_tail_beyond"] = t[2]
        extra["increment_samples"] = len(inc)
    return out, extra


def layer_report(rec, root):
    src = os.path.join(root, "src", "main", "scala", "graft", "text", "CurationPipeline.scala")
    lines = M.curation_stage_lines(open(src).read()) if os.path.exists(src) else {}
    traced = [r for r in rec["reps"] if r["traced"]]
    plain = [r for r in rec["reps"] if not r["traced"]]
    per = [M.layer_metrics(r, rec["cores"], lines) for r in traced]
    out = {k: M.median([p[k] for p in per]) for k in M.PER_LAYER}
    for k, v in rec.get("after_trace", {}).items():
        out[k] = v
    out["trace.overhead_s"] = (M.median([r["wall_s"] for r in traced]) -
                               M.median([r["wall_s"] for r in plain]))
    out["trace.reconcile_error"] = max(p["trace.reconcile_error"] for p in per)
    plans = {}
    for r in traced:
        for k, v in r["engine"]["plan_metrics"].items():
            plans[k] = plans.get(k, 0) + v / len(traced)
    return out, plans


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(oracle.FACES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")

    cp, oracle_sql, stamp = build(root, time.time() + 850)
    deadline = max(deadline, time.time() + 120)
    work = os.path.join(BENCH, "work")
    data, info = prepare_inputs(a.workload, a.seed, work, oracle_sql)
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    record, face_out = os.path.join(run_dir, "record.json"), os.path.join(run_dir, "face")
    # the face check runs once per seed and program state
    face_file = os.path.join(data, "face.json")
    face = json.load(open(face_file)) if os.path.exists(face_file) else {}
    args = ["--workload", a.workload, "--data", data, "--work", run_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--record", record]
    run_jvm(cp, args + ([] if face.get("stamp") == stamp else ["--face-out", face_out]),
            run_dir, deadline)
    rec = json.load(open(record))

    if face.get("stamp") != stamp:
        ok, detail = oracle.check_face(root, oracle.FACES[a.workload], data, face_out)
        face = {"stamp": stamp, "passed": ok, "detail": str(detail)}
        with open(face_file, "w") as f:
            json.dump(face, f)
    face_ok, face_detail = face["passed"], face["detail"]
    reps = [r for r in rec["reps"] if not r["traced"]]
    attempted = sum(r["ops"] for r in rec["reps"])
    failed = sum(r["failed"] for r in rec["reps"])
    correct = face_ok and failed == 0 and rec["setup"]["warmup_failed"] == 0

    e2e, extra = e2e_metrics(rec)
    extra["fail_ratio"] = failed / attempted if attempted else 1.0
    report = {"workload": a.workload, "seed": a.seed, "cores": rec["cores"],
              "items": rec["items"], "timed_reps": len(reps),
              "face_check": {"face": oracle.FACES[a.workload], "passed": face_ok,
                             "detail": str(face_detail)},
              "inputs": info, "setup": rec["setup"], "extra": extra}
    if a.trace:
        layers, plans = layer_report(rec, root)
        report["per_layer"], report["plans"] = layers, plans
        report["reconcile_tolerance"] = RECONCILE_TOLERANCE
        reconciled = layers["trace.reconcile_error"] <= RECONCILE_TOLERANCE
        correct = correct and reconciled
        values = {k: {"value": layers[k], "unit": M.unit_of(k)} for k in layers}
    else:
        report["end_to_end"] = e2e
        values = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    with open(os.path.join(work, f"last-{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)

    units = dict(E2E, increment_p50_ms="ms", increment_tail_ms="ms", fail_ratio="ratio")
    for k, v in list(e2e.items()) + list(extra.items()):
        print(f"{k} = {v:.6g} {units.get(k, '')}".rstrip())
    print(f"face {oracle.FACES[a.workload]}: {'PASS' if face_ok else 'FAIL'} ({face_detail})")
    if a.trace:
        print(f"span self times vs job wall: error {layers['trace.reconcile_error']:.4f}, "
              f"tolerance {RECONCILE_TOLERANCE} ({'ok' if reconciled else 'EXCEEDED'}); "
              f"tracing overhead {layers['trace.overhead_s']:.3f} s")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": values}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
