#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from source (the
first run in a checkout compiles; later runs reuse the build while the
sources are unchanged), generates the workload's inputs from the seed,
drives the program in one JVM with one closed-loop client, checks the
outputs against DuckDB and the fixture chain, and prints one JSON object
as its last stdout line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1 (see MAPPING.json "trace").

Workloads (see BENCHMARK.json and perfbench/MAPPING.json):
  etl_ticks        Pipelines.runFull ticks over the fixture chain + dashboard
  curation_stream  st23's streamed curation zones with tombstones, whole runs

Everything it writes stays under .bench_build/ (the build) and
.bench_work/ (one run's inputs and outputs, removed at exit).
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402

ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "sbt-target" / "scala-2.13" / "classes"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Workload sizes. Each run does the same amount of work whatever the
# seed; the seed changes what the data is, not how much of it there is.
# Block h of the fixture chain carries h % 3 transactions, so any 3k
# consecutive blocks carry 3k transactions.
# The corpus is the sf0.1 documents fixture (5000 documents) or, at the
# self-test's toy size, its first 500 (the size of sf0.001/sf0.01).
SIZES = {
    "full": {"base_blocks": 24, "tick_blocks": 120, "corpus_docs": 5000},
    "toy": {"base_blocks": 6, "tick_blocks": 6, "corpus_docs": 500},
}
SETUPS = 9

WORKLOADS = ("etl_ticks", "curation_stream")


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def sources():
    roots = [ROOT / "src" / "main", HERE / "scala", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    files = []
    for r in roots:
        if not r.exists():
            raise SystemExit(f"perfbench: missing {r.relative_to(ROOT)}; run from a full checkout")
        files += [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compile the program and the harness with sbt unless the stamp says
    the current sources are already built.
    """
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    stamp = BUILD / "stamp"
    if stamp.exists() and stamp.read_text() == digest and CLASSES.exists():
        return
    log("building (sbt compile)")
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    with open(BUILD / "build.log", "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write((BUILD / "build.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: build failed (rc={rc})")
    stamp.write_text(digest)


def heap():
    """Driver heap: a quarter of RAM, between 2 and 4 GiB."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration):
        return 2


def run_jvm(args, work, log_path, timeout):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = f"{CLASSES}:{SPARK_JARS}/*"
    cmd = (["java", f"-Xmx{heap()}g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Djava.awt.headless=true",
            f"-Dderby.stream.error.file={tmp}/derby.log"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def generate(workload, seed, inp, size, fault=False):
    """Write the workload's inputs; return the JVM options they imply.
    With `fault` the corpus loses its text column, so every operation
    fails (the self-test's failure path).
    """
    rng = gen.rng_for(seed, workload)
    if workload == "etl_ticks":
        plan = {"start_height": gen.start_height(rng), "base_blocks": size["base_blocks"],
                "tick_blocks": size["tick_blocks"]}
        (inp / "etl_plan.json").write_text(json.dumps(plan))
        return [x for k, v in plan.items() for x in (f"--{k.replace('_', '-')}", str(v))]
    gen.corpus(inp, rng, size["corpus_docs"])
    if fault:
        gen.drop_column(inp / "documents.parquet", "text")
    return ["--docs", str(size["corpus_docs"])]


def metrics(res, trace):
    """The reported metrics. Without a completed operation there is no
    latency or rate to report, so those are left out (the run is then
    not correct).
    """
    if trace:
        # a layer the workload never calls reads 0 (see MAPPING.json flat_on)
        return {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                for m in SPEC["per_layer"]}
    out = {"setup_s": {"value": statistics.median(res["setup_s"]), "unit": "s"}}
    ok = [o for o in res["ops"] if o["error"] is None]
    if ok:
        p50, _ = check.p50_tail([o["secs"] for o in ok])
        out["op_p50_s"] = {"value": p50, "unit": "s"}
        out["work_per_s"] = {"value": sum(o["units"] for o in ok)
                             / sum(o["secs"] for o in res["ops"]), "unit": "1/s"}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep .bench_work for inspection")
    ap.add_argument("--size", choices=SIZES, default="full", help=argparse.SUPPRESS)
    ap.add_argument("--fault", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()

    build()
    # every run after the build must end within 180 s, checks included
    deadline = time.time() + 160
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        inp = work / "input"
        inp.mkdir()
        extra = generate(a.workload, a.seed, inp, SIZES[a.size], a.fault)
        out = work / "result.json"
        args = ["--workload", a.workload, "--input", str(inp), "--work", str(work),
                "--out", str(out), "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(os.cpu_count() or 4), "--setups", str(SETUPS)] + extra
        log("inputs generated; starting the benchmark JVM")
        rc = run_jvm(args, work, work / "jvm.log", timeout=deadline - time.time())
        if rc != 0 or not out.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            raise SystemExit(f"perfbench: benchmark JVM failed (rc={rc})")
        res = json.loads(out.read_text())
        log("JVM done; checking outputs")
        failures = check.run(a.workload, work / "check")
        ops = res["ops"] + res["traced_ops"]
        ops += [res["warm_up"]] if res["warm_up"]["error"] else []
        failed_ops = [o for o in ops if o["error"] is not None]
        attempted = len(ops)
        # the checks cover every operation's outputs, so a failed check
        # fails them all
        failed = attempted if failures else len(failed_ops)
        for f in failures:
            log(f"check failed: {f}")
        for o in failed_ops:
            log(f"operation failed: {o['error']}")
        detail = {"workload": a.workload, "seed": a.seed, "setup_s": res["setup_s"],
                  "warm_up_s": res["warm_up"]["secs"], "input_fingerprint": gen.fingerprint(inp),
                  "ops": len(res["ops"]), "traced_ops": len(res["traced_ops"]),
                  "ops_failed_ratio": failed / max(attempted, 1),
                  "failed_errors": sorted({o["error"] for o in failed_ops}),
                  "named": check.named_metrics(a.workload, res)}
        print(json.dumps(detail))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics(res, a.trace)}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
