#!/usr/bin/env python3
"""NSHM end-to-end benchmark: one closed-loop client on a warm Spark session.

    python3 nshmbench/run.py --workload serve-small --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the program (under its
own build definition) and the harness on top of it, with `sbt` in this
directory; later runs reuse the build while the sources are unchanged.
Each run generates its inputs from the seed, builds the database through
the program's ingest path, replays the call script for at least
`--seconds` (ending on a whole cycle), checks every answer, and prints one JSON
object as its last stdout line. `--trace 1` prints the per-layer figures
instead of the end-to-end ones; see README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch.json")
STAMP = os.path.join(HERE, "target", "bench-build.stamp")
JVM_TIMEOUT_S = 165
SCRIPT_CYCLES = 250
MIN_CYCLES = 2
# The program's build takes the heap size from this variable (default 8g);
# the largest database here is a few MB, and the machine's memory is shared.
DRIVER_MEM = "3g"

# Ops whose median latency is an end-to-end metric. The traced run reports
# them again, with the MFD query's, for the tracing overhead.
LATENCY_OPS = ("search", "hydrate", "rupture_lookup", "fault_lookup")
TRACED_OPS = LATENCY_OPS + ("mfd",)


def log(msg):
    print("[nshmbench] %s" % msg, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256(ROOT.encode())  # the launch file holds absolute paths
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness, unless already built, and write
    the launch file: the runtime classpath and the program's JVM options."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("nshmbench: program sources not found under %s/src/main" % ROOT)
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.exists(LAUNCH) and open(STAMP).read() == digest:
        return
    log("building program and harness (sbt launch)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=DRIVER_MEM, SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=%s"
        % os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true", "-Xmx2g"]))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit("nshmbench: build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def run_jvm(plan_path, result_path):
    with open(LAUNCH) as f:
        launch = json.load(f)
    tmp = os.path.join(os.path.dirname(plan_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + launch["java_options"] + ["-Djava.io.tmpdir=%s" % tmp, "-cp",
           os.pathsep.join(launch["classpath"]), "nshmbench.Main", plan_path, result_path])
    log_path = result_path + ".log"
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("nshmbench: harness timed out")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit("nshmbench: harness failed (exit %d)" % rc)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build()
    t_start = time.time()  # set-up starts here: the compile is a one-off

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".bench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    out_dir = os.path.join(os.getcwd(), ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, model, gen_s = execute(args, cores, work, out_dir)
        report(args, result, model, gen_s, out_dir, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def execute(args, cores, work, out_dir):
    t0 = time.time()
    model = gen.Model(args.workload, args.seed)
    cycle = gen.cycle_len(all_ops=bool(args.trace))
    manifest = model.write(os.path.join(work, "branches"))
    plan = {
        "cores": cores,
        "trace": bool(args.trace),
        "manifest": manifest,
        "store_dir": os.path.join(work, "store"),
        "spark_local": os.path.join(work, "spark-local"),
        "seconds": args.seconds,
        "cycle": cycle,
        # two cycles at least, which time every op in the traced run
        "min_calls": cycle * MIN_CYCLES,
        "warmup": model.warmup(all_ops=bool(args.trace)),
        "script": model.script(SCRIPT_CYCLES, all_ops=bool(args.trace)),
        "spans_out": os.path.join(out_dir, "spans-%s-%d.jsonl" % (args.workload, args.seed)),
    }
    gen_s = time.time() - t0
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    result_path = os.path.join(work, "result.json")
    t_jvm = time.time()
    run_jvm(plan_path, result_path)
    with open(result_path) as f:
        result = json.load(f)
    result["jvm_s"] = time.time() - t_jvm
    result["script"] = plan["script"]
    result["store_dir"] = plan["store_dir"]
    return result, model, gen_s


def report(args, result, model, gen_s, out_dir, t_start):
    t_check = time.time()
    script = result.pop("script")
    store = oracle.Store(result["store_dir"])

    # every answer is checked; a failed or wrong call counts once
    cache, wrong = {}, []
    answered = {idx: ans for idx, ans in result["answers"]}
    for idx, _ in result["errors"]:
        wrong.append(idx)
    for idx, ans in answered.items():
        if not oracle.check_call(model, store, script[idx % len(script)], ans, cache):
            wrong.append(idx)
    store_ok = oracle.check_store(model, store)
    attempted = result["calls"] + 1
    failed = len(wrong) + (0 if store_ok else 1)
    if wrong or not store_ok:
        log("failed checks: store_ok=%s calls=%s" % (store_ok, sorted(wrong)[:20]))

    by_op = {}
    for op, ms in result["latency_ms"]:
        by_op.setdefault(op, []).append(ms)
    rows = sum(model.expected_counts().values())
    build_s = result["build_s"]
    extra = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": result["host"], "calls": result["calls"],
        "samples": {op: len(v) for op, v in sorted(by_op.items())},
        "latency_ms": result["latency_ms"],
        "tail_ms": {op: stats.tail(v) for op, v in sorted(by_op.items())},
        "build_s": result["build_s"], "session_s": result["session_s"],
        "gen_s": gen_s, "warmup_s": result["warmup_s"], "timed_s": result["timed_s"],
        "jvm_s": result["jvm_s"],
        "check_s": time.time() - t_check, "wall_s": time.time() - t_start,
    }
    if args.trace:
        layers = dict(result["layers"])
        layers["client.heap_after_gc_mb"] = result["heap_after_gc_mb"]
        for op in TRACED_OPS:
            layers["traced.%s_p50_ms" % op] = stats.median(by_op[op])
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
    else:
        m = {
            "setup_s": (result["timed_start_ms"] / 1e3 - t_start, "s"),
            "ops_per_s": (result["calls"] / result["timed_s"], "1/s"),
            "ingest_rows_per_s": (rows / build_s, "rows/s"),
            "store_bytes_per_row": (store.bytes() / rows, "B/row"),
        }
        for op in LATENCY_OPS:
            m["%s_p50_ms" % op] = (stats.median(by_op[op]), "ms")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}

    with open(os.path.join(out_dir, "run-%s-%d-trace%d.json"
                           % (args.workload, args.seed, args.trace)), "w") as f:
        json.dump(dict(extra, metrics=metrics, failed_calls=sorted(wrong)), f, indent=1)
    print(json.dumps({"host": extra["host"], "samples": extra["samples"],
                      "tail_ms": extra["tail_ms"], "build_s": extra["build_s"]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def layer_unit(name):
    suffix = name.rsplit(".", 1)[-1]
    for end, unit in (("per_s", "1/s"), ("_ms", "ms"), ("_us", "us"), ("_mb", "MB"), ("_s", "s"),
                      ("bytes", "B"), ("_frac", "ratio"), ("per_result", "rows/row")):
        if suffix.endswith(end):
            return unit
    return "count"


if __name__ == "__main__":
    main()
