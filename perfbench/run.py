#!/usr/bin/env python3
"""The repository benchmark: the paper's multi-file CSV ingest pipeline.

    python3 perfbench/run.py --workload ingest_many_files --seed 1 --seconds 8 --trace 0

Run from the repository root. It builds the benchmark program
(perfbench.Main) together with the program's sources (sbt, offline; rebuilt
only when a source changes), generates the workload's corpus from the seed,
runs perfbench.Main on local[4], checks every iteration against the generator's manifest, and
prints one JSON line: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. See perfbench/README.md for the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

SETUPS = 3
DEADLINE_S = 170  # a run must end within 180 s, the building run excepted
BUILD_TIMEOUT_S = 700  # with the run, within the 900 s a building run may take
SPANS = ["meta.discover", "meta.extract", "validate.sequence", "load.build", "load.exec",
         "ts.continuity", "ts.resample.build", "ts.resample.exec"]
SPAN_COUNTERS = [("jobs", "count"), ("tasks", "count"), ("input_bytes", "bytes"),
                 ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                 ("task_skew", "ratio"), ("cpu_busy", "ratio")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def build(root, work):
    """Compiles perfbench.Main and the program when any source changed."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no program sources (src/main/scala) next to the benchmark; run from the repository root")
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
                                f"-Djava.io.tmpdir={tmp}"])
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                          env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME to a Spark installation")
    return home


def run_bench(corpus, warmup, out, seconds, trace, work, deadline, setups=SETUPS):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap, so that heap resizing does not differ from run to run
    cmd += ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                                    os.path.join(spark_home(), "jars", "*")]),
            "perfbench.Main", "--corpus", corpus, "--warmup", warmup, "--out", out,
            "--seconds", str(seconds), "--setups", str(setups),
            "--trace", str(trace), "--work", work]
    timeout = None if deadline is None else deadline - time.monotonic()
    if timeout is not None and timeout <= 0:
        fail("no time left to run")
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=timeout)
    if proc.returncode != 0:
        fail(f"perfbench.Main failed (exit {proc.returncode})")
    with open(out) as f:
        return json.load(f)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(raw, manifest):
    iters = [r["wall_s"] for r in raw["iters"]]
    p50 = med(iters)
    return {
        "setup_s": metric(med([s["setup_s"] for s in raw["setups"]]), "s"),
        "iter_s_p50": metric(p50, "s"),
        "rows_per_s": metric(manifest["rows"] / p50 if p50 else 0.0, "1/s"),
        "live_heap_mb": metric(max(r["heap_mb"] for r in raw["iters"]), "MB"),
    }


def per_layer(raw, manifest, attempted, failed):
    iters = [r for r in raw["iters"] if "spans" in r]
    by_name = [{s["name"]: s for s in r["spans"]} for r in iters]
    out = {}
    for name in SPANS:
        spans = [b[name] for b in by_name if name in b]
        out[f"{name}_s"] = metric(med([s["end_s"] - s["start_s"] for s in spans]), "s")
        for key, unit in SPAN_COUNTERS:
            out[f"{name}.{key}"] = metric(med([s[key] for s in spans]), unit)
    obs = [r["obs"] for r in iters if r.get("obs")]
    out["meta.valid_ratio"] = metric(med([o["files_valid"] / o["files_listed"] for o in obs]), "ratio")
    out["load.scan_amplification"] = metric(
        med([sum(s["input_records"] for s in r["spans"]) / manifest["rows"] for r in iters]), "ratio")
    out["spark.plan_s"] = metric(med([sum(s["plan_s"] for s in r["spans"]) for r in iters]), "s")
    out["iter.unspanned_s"] = metric(
        med([r["wall_s"] - sum(s["end_s"] - s["start_s"] for s in r["spans"]) for r in iters]), "s")
    out["trace.iter_s_p50"] = metric(med([r["wall_s"] for r in iters]), "s")
    out["first_iter_s"] = metric(raw["first"]["wall_s"], "s")
    out["first_iter.codegen_compiles"] = metric(raw["first_codegen"]["compiles"], "count")
    out["first_iter.codegen_compile_s"] = metric(raw["first_codegen"]["compile_s"], "s")
    out["jvm.gc_s"] = metric(med([r["gc_s"] for r in iters]), "s")
    out["failed_ops_ratio"] = metric(failed / attempted, "ratio")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(HERE, ".work")
    build(root, work)  # the building run may take longer: the deadline starts after it
    deadline = time.monotonic() + DEADLINE_S

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        # corpora are generated outside every timing; the program sees files only
        manifest = gen.write(os.path.join(run_dir, "corpus"), gen.WORKLOADS[args.workload], args.seed)
        warm = gen.write(os.path.join(run_dir, "warmup"), gen.WARMUP[args.workload], args.seed)
        raw = run_bench(os.path.join(run_dir, "corpus", "files"), os.path.join(run_dir, "warmup", "files"),
                         os.path.join(run_dir, "raw.json"), args.seconds, args.trace, work, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not raw["iters"]:
        fail("no measured iteration")

    ops = [(raw["first"], manifest)] + [(s["iter"], warm) for s in raw["setups"]] + \
          [(r, manifest) for r in raw["iters"]]
    problems = [checks.check_iteration(rec, m) for rec, m in ops]
    print("perfbench: first %.3f s, set-ups %s s, iterations %s s" % (
        raw["first"]["wall_s"], " ".join("%.3f" % s["setup_s"] for s in raw["setups"]),
        " ".join("%.3f" % r["wall_s"] for r in raw["iters"])), file=sys.stderr)
    failed = sum(1 for p in problems if p)
    for i, p in enumerate(problems):
        if p:
            print(f"perfbench: operation {i} failed: {'; '.join(p)}", file=sys.stderr)

    metrics = per_layer(raw, manifest, len(ops), failed) if args.trace else end_to_end(raw, manifest)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
