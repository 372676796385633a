#!/usr/bin/env python3
"""The graft benchmark: one command per seeded workload run.

    python3 perfbench/run.py --workload corpus_curation|model_project \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (cached in .bench_build/ until a source
file changes); every run then

1. generates its inputs from the seed (perfbench/gen.py, DuckDB),
2. runs graftbench.Main on one JVM with local[nproc] (closed loop: one
   operation at a time),
3. checks every output (DuckDB oracles, generator truth), and
4. prints a report line with every metric, then, as the last line, the
   result object: {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics of a separate traced run.
See perfbench/README.md for what each metric and workload measures.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import check  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("corpus_curation", "model_project")
CORPUS_OPS = ["d2_dedup_minhash", "d6_dedup_clusters", "s8_bm25", "t12_tfidf",
              "fn_hashes"]
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; returns the JVM classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine's sources (build.sbt, src/main/scala/graft) are missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the engine")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def make_inputs(workload, seed, inputs):
    """Generate the run's inputs; returns the generator's truth."""
    tables = os.path.join(inputs, "tables")
    truth = {}
    if workload == "corpus_curation":
        truth = gen.write_corpus(os.path.join(inputs, "corpus"), seed)
        truth["docs"] = gen.DOCS
        truth["vecs"] = gen.VECS
        with open(os.path.join(inputs, "ops.txt"), "w") as f:
            f.write("\n".join(CORPUS_OPS) + "\n")
    else:
        gen.write_tables(tables, seed)
        truth = gen.model_project(os.path.join(inputs, "project"), tables, seed)
        e = truth["edit"]
        with open(os.path.join(inputs, "edit.txt"), "w") as f:
            f.write(e["file"] + "\n" + e["variants"][0].strip() + "\n"
                    + e["variants"][1].strip() + "\n")
    return truth


def run_jvm(cp, args, out, timeout_s):
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={out}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args + ["--cpus", cpus]
    with open(os.path.join(out, "jvm.stdout"), "w") as so, \
            open(os.path.join(out, "jvm.stderr"), "w") as se:
        p = subprocess.Popen(cmd, stdout=so, stderr=se, cwd=out)
        try:
            code = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM did not finish within {timeout_s:.0f} s")
    if code != 0:
        sys.stderr.write(open(os.path.join(out, "jvm.stderr")).read()[-3000:])
        fail(f"the JVM exited with code {code}")
    with open(os.path.join(out, "record.json")) as f:
        return json.load(f)


def quantile(values, q):
    """Linear-interpolated quantile (numpy's default)."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "out")
    os.makedirs(inputs)
    t_gen = time.time()
    truth = make_inputs(a.workload, a.seed, inputs)
    t_launch = time.time()
    rec = run_jvm(cp, ["--workload", a.workload, "--inputs", inputs, "--out", out,
                       "--seconds", str(a.seconds), "--trace", str(a.trace)], out,
                  # the timed phase grows with --seconds; a traced run does three rounds
                  (120 + 3 * a.seconds) * (2 if a.trace else 1))
    t_check = time.time()
    problems, op_ok = check.verify(a.workload, rec, truth, inputs, out)
    ops = rec["ops"]
    good = [o for o, ok in zip(ops, op_ok) if ok]
    failed = len(ops) - len(good)
    lat = [o["s"] for o in ops]
    op_s = {}
    for o in ops:
        op_s.setdefault(o["name"], []).append(round(o["s"], 4))
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "ops": len(ops), "failed": failed, "problems": problems[:20],
              "host.canary_s": rec["canary_s"], "op_s": op_s,
              "phases_s": {"generate": t_launch - t_gen, "jvm": t_check - t_launch,
                           "check": time.time() - t_check}}
    if a.trace == 0:
        wall = rec["timed_wall_s"]
        metrics = {
            "setup_s": (t_launch - t_gen) + (rec["first_op_epoch_ms"] / 1e3 - t_launch),
            "ops_per_s": len(good) / wall,
            "op_p50_s": quantile(lat, 0.5),
            "op_p90_s": quantile(lat, 0.9),
            "driver_heap_mb": rec["heap_mb"],
        }
        units = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
                 "op_p90_s": "s", "driver_heap_mb": "MB"}
        extra = {"error_rate": (failed / len(ops), "fraction"),
                 "samples": (len(ops), "count")}
        if a.workload == "corpus_curation":
            passes = len(good) / len(CORPUS_OPS)
            extra["docs_per_s"] = (truth["docs"] * passes / wall, "docs/s")
        if a.workload == "model_project":
            for cmd, name in (("check", "check_s"), ("build", "build_s"),
                              ("test", "test_s"), ("slim_ci", "slim_ci_s")):
                extra[name] = (statistics.median(o["s"] for o in ops if o["name"] == cmd), "s")
        report["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        report["metrics"].update({k: {"value": v, "unit": u} for k, (v, u) in extra.items()})
        result = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        layers = dict(rec["layers"])
        layers["host.canary_s"] = statistics.median(rec["canary_s"])
        # the traced round runs between two untraced ones, so warm-up drift
        # falls on both sides of it
        layers["trace.overhead"] = rec["traced_wall_s"] / statistics.mean(rec["untraced_wall_s"]) - 1
        report["self_s"] = rec["self_s"]
        result = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
        report["metrics"] = result
    check_names(result, "per_layer" if a.trace else "end_to_end")
    print(json.dumps(report))
    # keep the run's record, spans and logs; drop inputs and outputs
    shutil.rmtree(inputs, ignore_errors=True)
    for d in ("verify", "warehouse", "spark-local", "spark-warehouse", "tmp"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": len(ops),
                      "failed": failed, "metrics": result}))


def check_names(result, section):
    """The printed metrics must be exactly BENCHMARK.json's, with its units."""
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        return
    want = {m["name"]: m["unit"] for m in json.load(open(spec))[section]}
    got = {k: v["unit"] for k, v in result.items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json {section}: "
             f"{sorted(set(got.items()) ^ set(want.items()))}")


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name in ("model.slot_util", "model.rebuilt_ratio", "trace.overhead"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
