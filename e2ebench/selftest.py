#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 e2ebench/selftest.py [--workloads curate-batch,...] [--seconds 2]

From the repository root. For each workload it makes a tiny run with and
without tracing and checks that every metric named in ``BENCHMARK.json`` is
printed with its unit; then a run with ``--alter`` (one output row or
response changed before the check) must fail. Finally the runner must
refuse, without printing a result, a directory that holds only
``BENCHMARK.json`` and the benchmark's own files. Exit code 0 = all good.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def last_json(text):
    lines = [l for l in text.splitlines() if l.strip()]
    try:
        return json.loads(lines[-1]) if lines else None
    except ValueError:
        return None


def invoke(args, cwd):
    """Run the benchmark command as BENCHMARK.json names it, from ``cwd``."""
    cmd = [sys.executable, os.path.join(os.path.basename(HERE), "run.py")] + args
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    return p.returncode, last_json(p.stdout), p.stderr


def main():
    ap = argparse.ArgumentParser(description="Self-test of e2ebench.")
    ap.add_argument("--workloads", help="comma-separated (default: those in BENCHMARK.json)")
    ap.add_argument("--seconds", type=int, default=2)
    a = ap.parse_args()
    root = os.getcwd()
    problems = []

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    if declared[0] != run.END_TO_END:
        problems.append("BENCHMARK.json end_to_end differs from run.py's END_TO_END")
    if declared[1] != run.PER_LAYER:
        problems.append("BENCHMARK.json per_layer differs from run.py's PER_LAYER")
    if not {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS):
        problems.append("BENCHMARK.json names a workload run.py does not know")

    for wl in workloads:
        base = ["--workload", wl, "--seed", "1", "--seconds", str(a.seconds)]
        for trace in (0, 1):
            rc, r, err = invoke(base + ["--trace", str(trace)], root)
            if rc != 0 or not r or not r.get("correct"):
                problems.append(f"{wl} trace={trace}: rc={rc}, result={r}\n{err[-1500:]}")
                continue
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != declared[trace]:
                problems.append(f"{wl} trace={trace}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(declared[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(declared[trace]))}")
            print(f"ok   {wl} trace={trace}: {len(got)} metrics", flush=True)
        rc, r, _ = invoke(base + ["--trace", "0", "--alter"], root)
        if rc == 0 or (r and r.get("correct")):
            problems.append(f"{wl}: an altered output passed the check (rc={rc})")
        else:
            print(f"ok   {wl}: altered output rejected", flush=True)

    bare = os.path.join(root, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(root, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, r, _ = invoke(["--workload", run.WORKLOADS[0], "--seed", "1", "--seconds", "1"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or r is not None:
        problems.append(f"a directory without the program was not refused (rc={rc}, result={r})")
    else:
        print("ok   a directory without the program is refused", flush=True)

    for p in problems:
        print(f"FAIL {p}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
