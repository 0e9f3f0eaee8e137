#!/usr/bin/env python3
"""Self-test of the benchmark at toy size (a few blocks, the corpus
fixture's first 500 documents). Run from the root of a checkout:

    python3 perfbench/selftest.py

It checks that
  1. one seed regenerates identical inputs and another seed changes them;
  2. a toy run of every workload prints every end-to-end metric of
     BENCHMARK.json with its unit (--trace 0) and every per-layer metric
     with its unit (--trace 1), with correct outputs and no failures;
  3. the correctness checks run: each catches a corrupted copy of its
     workload's outputs;
  4. operations that throw are counted as failed: the run still prints
     its result line, not correct, with no latency or rate metric.
Exits non-zero on the first failed expectation.
"""
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def fingerprints():
    for w in SPEC["workloads"]:
        prints = []
        for seed in (1, 1, 2):
            with tempfile.TemporaryDirectory() as d:
                run.generate(w["name"], seed, Path(d), run.SIZES["toy"])
                prints.append(run.gen.fingerprint(d))
        expect(prints[0] == prints[1], f"{w['name']}: seed 1 regenerates identical inputs")
        expect(prints[0] != prints[2], f"{w['name']}: seed 2 changes the inputs")


def toy_run(workload, trace, keep=False, fault=False):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "toy"]
    cmd += (["--keep"] if keep else []) + (["--fault"] if fault else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    expect(p.returncode == 0, f"{workload} trace={trace}: exit code 0\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def corrupt(workload, check_dir):
    """Damage one output value the checks compare."""
    if workload == "etl_ticks":
        info = json.loads((check_dir / "etl.json").read_text())
        info["ticks"][-1]["q7"] = [["not-a-hash", "0"]]
        (check_dir / "etl.json").write_text(json.dumps(info))
    else:
        [f] = list((check_dir / "decisions").glob("*.parquet"))
        t = pq.read_table(f)
        i = t.schema.get_field_index("fate")
        fate = t.column(i).to_pylist()
        fate[0] = "kept" if fate[0] != "kept" else "exact_dup"
        pq.write_table(t.set_column(i, "fate", pa.array(fate, type=t.schema.field(i).type)), f)


def main():
    fingerprints()
    for w in SPEC["workloads"]:
        name = w["name"]
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res = toy_run(name, trace, keep=(trace == 0))
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{name} trace={trace}: result keys")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{name} trace={trace}: correct, attempted {res['attempted']}, failed {res['failed']}")
            want = {m["name"]: m["unit"] for m in SPEC[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{name} trace={trace}: every {kind} metric with its unit")
        [work] = list((ROOT / ".bench_work").glob(f"{name}-7-*"))
        try:
            expect(check.run(name, work / "check") == [], f"{name}: checks pass on the kept outputs")
            corrupt(name, work / "check")
            expect(check.run(name, work / "check") != [], f"{name}: checks catch a corrupted output")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    res = toy_run("curation_stream", 0, fault=True)
    expect(not res["correct"] and res["failed"] == res["attempted"] >= 1,
           f"curation_stream with failing operations: not correct, attempted "
           f"{res['attempted']}, failed {res['failed']}")
    expect(set(res["metrics"]) == {"setup_s"},
           "curation_stream with failing operations: no latency or rate reported")
    print("selftest passed")


if __name__ == "__main__":
    main()
