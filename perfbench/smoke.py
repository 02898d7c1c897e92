"""The benchmark's own smoke test, at tiny size.

    python3 perfbench/smoke.py [workload ...]

Runs ``run.py`` with ``--scale 0.05`` on every workload of
``BENCHMARK.json`` (or the named ones), untraced and traced, and checks the
output contract against
``BENCHMARK.json``: the last line is one JSON object with exactly
``correct``, ``attempted``, ``failed`` and ``metrics``; every end-to-end
metric (untraced) or per-layer metric (traced) is present with its unit and
a finite value; the run is correct; and ``trace.coverage`` is within
0.9-1.1 on the decisions workloads.  Exits non-zero on the first failure.
Takes about three minutes.  ``trace.coverage`` compares the best of two
traced jobs with the best of two stage-isolation rounds, and still moves
with host noise; see README.md for the values it read.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "0.05"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          timeout=600)
    if proc.returncode:
        raise AssertionError(f"{workload} trace {trace}: exit "
                             f"{proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(res: dict, specs: list[dict], where: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, where
    assert res["correct"] is True, f"{where}: correct is {res['correct']}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, where
    assert isinstance(res["failed"], int) and res["failed"] == 0, where
    want = {s["name"]: s["unit"] for s in specs}
    got = res["metrics"]
    assert set(got) == set(want), \
        f"{where}: metrics differ: {sorted(set(got) ^ set(want))}"
    for name, unit in want.items():
        v = got[name]
        assert v["unit"] == unit, f"{where}: {name} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)) and \
            math.isfinite(v["value"]), f"{where}: {name} = {v['value']}"


def main(names: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [w["name"] for w in bench["workloads"]]
    assert set(listed) <= set(WORKLOADS), listed
    for name in names or listed:
        res = run(name, 0)
        check(res, bench["end_to_end"], f"{name} untraced")
        for m in res["metrics"].values():
            assert m["value"] != 0, f"{name}: an end-to-end metric is 0"
        res = run(name, 1)
        check(res, bench["per_layer"], f"{name} traced")
        cov = res["metrics"]["trace.coverage"]["value"]
        if not WORKLOADS[name].materialize:
            assert 0.9 <= cov <= 1.1, f"{name}: trace.coverage {cov:.3f}"
        print(f"ok {name} (trace.coverage {cov:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
