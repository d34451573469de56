#!/usr/bin/env python3
"""Self-test of the benchmark at scale factor 0.001 with tiny op counts.

For every workload it checks that
  * a plain run emits every end-to-end metric of BENCHMARK.json with its unit
    and passes its correctness check;
  * a traced run emits every per-layer metric with its unit;
  * a run with one expected answer deliberately altered reports the op as
    failed (failed >= 1, correct false).

Usage: python3 benchmark/selftest.py [workload ...]   (about 2 minutes)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"gql_read": ["--max-ops", "12"], "cdc_live": ["--max-ops", "3"],
        "registry_sweep": ["--max-ops", "4"]}


def run(workload, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "5", "--sf", "0.001"] + TINY[workload] + list(extra)
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise AssertionError(f"{' '.join(cmd[1:])} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect_metrics(result, specs, what):
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in specs}
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    assert not missing and not extra, \
        f"{what}: missing {missing}, unexpected {extra}"
    for name, unit in want.items():
        v = got[name]
        assert v["unit"] == unit, f"{what}: {name} unit {v['unit']} != {unit}"
        assert isinstance(v["value"], (int, float)), f"{what}: {name} value"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for w in names:
        plain = run(w, "--trace", "0")
        expect_metrics(plain, bench["end_to_end"], f"{w} --trace 0")
        assert plain["correct"] and plain["failed"] == 0, f"{w}: {plain}"
        assert plain["attempted"] >= 1
        traced = run(w, "--trace", "1")
        expect_metrics(traced, bench["per_layer"], f"{w} --trace 1")
        wrong = run(w, "--trace", "0", "--corrupt-expected")
        assert wrong["failed"] >= 1 and not wrong["correct"], \
            f"{w}: a wrong expected answer did not count as failed: {wrong}"
        print(f"ok   {w}: {plain['attempted']} ops, metrics and units "
              f"complete, altered answer counted "
              f"({wrong['failed']}/{wrong['attempted']} failed)", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
