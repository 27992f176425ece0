#!/usr/bin/env python3
"""Self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py

1. A tiny-size run of each workload, untraced and traced, must pass its own
   output checks and emit exactly the metrics BENCHMARK.json names, with
   their units; in traced runs the spans cover >= 90 % of each cycle.
2. Negative cases: a dropped done record, a corrupted output message and a
   gate result missing a row must each make the checks fail (`correct`
   false, `failed` >= 1).
3. In a directory holding only BENCHMARK.json and the benchmark, run.py
   must exit non-zero without printing a result.

Takes about ten minutes on 4 cores once the build exists.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT, timeout=400):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=timeout)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    res = json.loads(last) if last.startswith("{") else None
    return p.returncode, res, p


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            problems.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        for trace in ("0", "1"):
            rc, res, p = run(["--workload", w, "--seed", "7", "--seconds", "1",
                              "--trace", trace, "--size", "tiny"])
            tag = f"{w} trace={trace}"
            expect(rc == 0 and res is not None, f"{tag}: exits 0 with a result")
            if res is None:
                sys.stderr.write(p.stderr[-2000:])
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{tag}: result has exactly the four keys")
            expect(res["correct"] is True and res["failed"] == 0
                   and res["attempted"] >= 1, f"{tag}: output checks pass")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want[trace], f"{tag}: emits every named metric with its unit"
                   + ("" if got == want[trace] else
                      f" (missing {sorted(set(want[trace]) - set(got))},"
                      f" extra {sorted(set(got) - set(want[trace]))})"))
            expect(all(isinstance(v["value"], (int, float))
                       for v in res["metrics"].values()), f"{tag}: every value is a number")
            if trace == "1":
                cov = res["metrics"].get("trace.coverage_min", {}).get("value")
                expect(isinstance(cov, (int, float)) and cov >= 0.9,
                       f"{tag}: spans cover >= 90 % of every traced cycle or pass ({cov})")

    for w, inject in (("cdc", "drop_done"), ("cdc", "corrupt_msg"),
                      ("gates", "corrupt_gate")):
        rc, res, _ = run(["--workload", w, "--seed", "7", "--seconds", "1",
                          "--trace", "0", "--size", "tiny", "--inject", inject])
        expect(rc == 0 and res is not None and res["correct"] is False
               and res["failed"] >= 1, f"{w} --inject {inject}: the checks catch it")

    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("target", "project/project"))
    rc, res, _ = run(["--workload", "cdc", "--seed", "1",
                      "--seconds", "1", "--trace", "0"], cwd=bare, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and res is None, "without the system's sources: non-zero exit, no result")

    print(f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
