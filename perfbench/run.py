#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. It builds the engine
and the harness from source (once per checkout; `.bench_build/` holds the
classpath and every run's files), generates the workload's inputs from
the seed, runs the harness in one fresh JVM on a `local[nproc]` Spark
session, checks the outputs, and prints as its last line one JSON
object: correct, attempted, failed and the metrics (end-to-end with
`--trace 0`, per-layer with `--trace 1`). The line before it is a detail
record with the workload's metrics under their design names, the input
hash and the sample counts. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from stats import failed_frac, failure_counts  # noqa: E402

WORKLOADS = ["etl_refresh", "stream_ingest"]
BUILD_DIR = ".bench_build"
RUN_LIMIT_S = 170  # the whole run, build excluded
BUILD_LIMIT_S = 840
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, log, **kw):
    """Run `cmd` in its own process group, output to `log`; kill the
    whole group on timeout. Returns the exit code (None on timeout)."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def source_stamp(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt",
            "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the engine and the harness with sbt (offline); return the
    harness's runtime classpath."""
    bdir = os.path.join(root, BUILD_DIR)
    os.makedirs(bdir, exist_ok=True)
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_CLASSPATH=cp_file,
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true "
                        "-Xmx2g")
    log = os.path.join(bdir, "build.log")
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "compile", "writeClasspath"],
                     BUILD_LIMIT_S, log, env=env,
                     cwd=os.path.join(root, "perfbench", "harness"))
    if code != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed" if code is not None else "build timed out", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def heap():
    """Half the machine's memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
        gib = max(2, min(6, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gib = 2
    return f"{gib}g"


def run_harness(cp, workload, inputs, work, seconds, trace, limit):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{heap()}",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}"] +
           opens + ["-cp", cp, "perfbench.Main",
                    "--workload", workload, "--inputs", inputs,
                    "--work", os.path.join(work, "w"),
                    "--seconds", str(seconds), "--trace", str(trace),
                    "--out", out])
    log = os.path.join(work, "jvm.log")
    code = run_group(cmd, limit, log, cwd=work)
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness {'timed out' if code is None else f'exited {code}'}", 4)
    with open(out) as f:
        return json.load(f)


def tracing_overhead(out_dir, workload, seed, traced):
    """The traced run's latency_s against the untraced run of the same
    workload and seed in this checkout, when there is one."""
    try:
        with open(os.path.join(out_dir, f"{workload}-seed{seed}-trace0.json")) as f:
            untraced = json.load(f)["record"]["latency_s"]
    except (OSError, KeyError, ValueError):
        return None
    return {"traced_latency_s": traced, "untraced_latency_s": untraced,
            "share": (traced - untraced) / untraced}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the engine "
             "(build.sbt and src/main/scala/graft not found)")
    cp = build(root)
    t_start = time.time()
    run_dir = os.path.join(root, BUILD_DIR, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    try:
        input_hash = gen.generate(args.workload, args.seed, inputs)
        gen_s = time.time() - t_start
        res = run_harness(cp, args.workload, inputs, run_dir, args.seconds,
                          args.trace, RUN_LIMIT_S - (time.time() - t_start))
        ops = res["ops"]
        if args.workload == "etl_refresh":
            checks.check_etl(ops, res["oracle_sql"], inputs)
        attempted, failed = failure_counts(ops)
        e2e, detail = metrics.end_to_end(res, ops)
        detail["ungated"] = {k: v for k, v in e2e.items()
                             if k not in metrics.END_TO_END}
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "input_sha256": input_hash, "sizes": gen.SIZES[args.workload],
            "cores": res["cores"], "generate_s": gen_s,
            "session_start_s": res["session_s"],
            "design_metrics": metrics.design_names(
                res, e2e, detail, failed_frac(ops)), **detail,
            "latency_s": e2e["latency_s"], "check": res["check"],
            "errors": sorted({o["error"] for o in ops if not o["ok"]})[:10],
        }
        out_dir = os.path.join(root, BUILD_DIR, "results")
        os.makedirs(out_dir, exist_ok=True)
        if args.trace:
            layer, layer_detail = metrics.per_layer(res, ops)
            layer_detail["tracing_overhead"] = tracing_overhead(
                out_dir, args.workload, args.seed, e2e["latency_s"])
            record["per_layer_detail"] = layer_detail
            values, units = layer, metrics.PER_LAYER_UNITS
        else:
            values = {k: e2e[k] for k in metrics.END_TO_END}
            units = metrics.UNITS
        with open(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
                         ".json"), "w") as f:
            json.dump({"record": record, "metrics": values, "result": res},
                      f)
        missing = [k for k, v in values.items() if v is None]
        if missing:
            fail(f"no samples for {', '.join(missing)} "
                 f"(run longer than {args.seconds} s?)", 5)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()}}))


if __name__ == "__main__":
    main()
