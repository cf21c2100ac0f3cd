"""A short run prints a record of the form BENCHMARK.json describes.

Takes about a minute: it starts Spark. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_short_run_record_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workload = bench["workloads"][0]["name"]
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    record = json.loads(out.strip().splitlines()[-1])
    assert sorted(record) == ["attempted", "correct", "failed", "metrics"]
    assert record["correct"] is True
    assert record["failed"] == 0 and record["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert {k: v["unit"] for k, v in record["metrics"].items()} == want
    assert all(v["value"] > 0 for v in record["metrics"].values())
    work = os.path.join(ROOT, ".perfbench_work")
    left = os.listdir(work) if os.path.isdir(work) else []
    assert not [d for d in left if d.startswith(f"{workload}-3-")]
