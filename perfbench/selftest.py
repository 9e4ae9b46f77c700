"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

For every workload, with tracing off and on, one repetition must pass
its output checks and emit exactly the metrics BENCHMARK.json names,
each with its unit.  Then repetitions whose outputs have one row
dropped must be reported as failed: a dropped triple in every timed
run and in the checkpointed probe, and a dropped near-dup pair in the
dedup probe of traced web_lazy.  Without tracing, every timed run of
both processes must report it.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TINY = {"clean_lazy": 200, "web_lazy": 40}


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", str(TINY[workload]), *extra,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def worker_runs(workload: str, trace: int) -> list[dict]:
    """The run records of the last repetition, from its full record."""
    rec = ROOT / ".perfbench" / "results" / f"{workload}-s7-t{trace}.json"
    return json.loads(rec.read_text())["worker"]["runs"]


def main() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(TINY), "workload list drifted"
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for workload in TINY:
        for trace in (0, 1):
            res = run(workload, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            assert got == want[trace], (workload, trace, set(got) ^ set(want[trace]))
            for n, m in res["metrics"].items():
                assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (n, m)
            print(f"ok   {workload} trace={trace}: {len(got)} metrics", flush=True)
    for workload, trace in (("clean_lazy", 0), ("clean_lazy", 1), ("web_lazy", 1)):
        res = run(workload, trace, "--drop-one-output-row")
        assert not res["correct"] and res["failed"] >= 1, (workload, res)
        if not trace:
            # every timed run, the second process's first run included
            assert res["failed"] == res["attempted"], (workload, res)
        if trace:
            # every timed run, the checkpointed probe, and on web_lazy
            # the near-dup pairs must each report their dropped row
            kinds = {r["kind"] for r in worker_runs(workload, trace) if not r["ok"]}
            want = {"first", "run", "checkpoint_full"} if workload == "clean_lazy" \
                else {"first", "run", "dedup_pairs"}
            assert want <= kinds, (workload, kinds)
        print(f"ok   {workload} trace={trace}: dropped output row reported as failed", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
