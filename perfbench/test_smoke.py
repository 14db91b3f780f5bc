#!/usr/bin/env python3
"""The benchmark's own test: every workload at smoke size, untraced and
traced, must finish, pass its DuckDB checks and print every metric that
BENCHMARK.json names.

    python3 perfbench/test_smoke.py        # from the repository root
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failures = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7",
                                     "--seconds", "2", "--trace", str(trace), "--size", "smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
            want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
            ok = (res.get("correct") is True and res.get("failed") == 0
                  and set(res.get("metrics", {})) == want)
            print(f"{w['name']:14s} trace={trace} {'ok' if ok else 'FAILED'}", flush=True)
            if not ok:
                failures += 1
                print(p.stderr[-2000:], file=sys.stderr)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
