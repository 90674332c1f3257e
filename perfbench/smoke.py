#!/usr/bin/env python3
"""Smoke check of the benchmark at smoke-test input sizes.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json with --tiny for a few seconds,
untraced and traced, and asserts that the result line has exactly the keys
correct/attempted/failed/metrics, that the outputs were correct, and that
every end-to-end (untraced) or per-layer (traced) metric BENCHMARK.json
names is emitted with its unit and a finite numeric value. Also asserts
that run.py's metric tables match BENCHMARK.json. Exits non-zero on the
first failure.
"""
import importlib.util
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    loader = importlib.util.spec_from_file_location("run", os.path.join(HERE, "run.py"))
    run = importlib.util.module_from_spec(loader)
    loader.loader.exec_module(run)
    for kind, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        named = {m["name"]: m["unit"] for m in spec[kind]}
        assert named == table, f"run.py {kind} table differs from BENCHMARK.json"

    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "1", "--seconds", "3", "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            assert p.returncode == 0, f"{w['name']} trace={trace} exited {p.returncode}:\n{p.stderr[-2000:]}"
            result = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] is True and result["failed"] == 0, result
            assert result["attempted"] >= 1, result
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = result["metrics"]
            assert set(got) == set(want), f"metrics differ: {set(got) ^ set(want)}"
            for name, unit in want.items():
                v = got[name]
                assert v["unit"] == unit, (name, v)
                assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (name, v)
                if kind == "end_to_end":
                    assert v["value"] > 0, (name, v)
            print(f"ok  {w['name']} trace={trace}: {len(got)} metrics")
    print("smoke ok")


if __name__ == "__main__":
    main()
