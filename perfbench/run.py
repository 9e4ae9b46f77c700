"""kg benchmark: one repetition of one workload.

    python3 perfbench/run.py --workload clean_lazy --seed 1 --seconds 4 --trace 0

Run from the root of a checkout of the repo (it builds nothing: the
engine is Python).  The input for (workload, seed) is generated once,
cached under ``.perfbench/inputs`` and checksum-verified before reuse.
A fresh Python process (perfbench/worker.py) then sets up a Spark
session on ``local[k]``, k = min(4, nproc), and runs the workload in a
closed loop with one client; this process samples the memory of that
process tree from /proc.  Without tracing, COLD_SESSIONS - 1 more fresh
processes follow, one after another, that each set up and make the
first run only: setup_s and first_run_cpu_s are medians over all of
them.  The last line of standard output is one JSON object: correct,
attempted, failed, and the metrics — the end-to-end ones with
``--trace 0``, the per-layer ones with ``--trace 1``.  The
full record (every run, host, load averages, input properties) is
written to ``.perfbench/results``.

Everything the benchmark writes stays under ``.perfbench`` in the
checkout: inputs, Spark local dirs, temp files, results and spans.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

T_START = time.monotonic()
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.procfs import loadavg, mem_total_mb, session_stats  # noqa: E402

WORK = ROOT / ".perfbench"
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h
DEADLINE_S = 170  # the whole command must end within 180 s
# fresh processes per untraced repetition: set-up and the first run are
# one sample per process, and co-running load on a shared host inflates
# a single sample's CPU time by up to ~1.5x; more processes would not
# fit the time budget of a full benchmark pass, 48 repetitions within an
# hour (each costs 15-27 s of wall time)
COLD_SESSIONS = 2

# CPU seconds of the whole process tree, not wall seconds, for the runs:
# hypervisor steal on a shared host stretches wall time in bursts (the
# wall-clock values are reported per layer as wall.*)
END_TO_END = {
    "setup_s": "s",
    "first_run_cpu_s": "s",
    "run_cpu_s": "s",
    "docs_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}

_STAGES = ("text_extracted", "sentences", "mentions", "linked",
           "triples_raw", "components", "triples", "metrics", "full", "resume")
PER_LAYER = {
    "wall.first_run_s": "s",
    "wall.run_s": "s",
    "wall.docs_per_s": "1/s",
    "host.steal_share": "ratio",
    "session.build_s": "s",
    "graph.components_s": "s",
    "link.alias_verdicts_s": "s",
    "pipeline.scan_s": "s",
    "pipeline.arrow_ipc_s": "s",
    "pipeline.turbo_raw_s": "s",
    "pipeline.k8_s": "s",
    "pipeline.first_run_excess_s": "s",
    "pipeline.jobs_per_run": "count",
    "pipeline.tasks_per_run": "count",
    "kernel.extract_us": "us",
    "kernel.split_us": "us",
    "kernel.tag_us": "us",
    "kernel.decode_us": "us",
    "kernel.pair_us": "us",
    "extract.fast_path_share": "ratio",
    "ner.vocab_types": "count",
    "ner.detect_mentions_s": "s",
    "link.link_mentions_s": "s",
    "relations.pair_gen_s": "s",
    **{f"orchestrator.{s}_s": "s" for s in _STAGES},
    "orchestrator.jobs": "count",
    "io.bytes_written_mb": "MB",
    "dedup.signatures_s": "s",
    "dedup.lsh_pairs_s": "s",
    "dedup.docs": "count",
    "dedup.pairs_out": "count",
    "dedup.max_bucket_docs": "count",
    **{f"rows.{r}": "count" for r in ("pages", "sentences", "mentions", "triples_raw", "triples")},
    "output_diff_rows": "count",
    "failed_share": "ratio",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
    **{f"self.{layer}_s": "s" for layer in ("session", "fixtures", "graph", "pipeline")},
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class RssSampler(threading.Thread):
    """Peak summed RSS of the worker's process tree: the Python driver,
    the Spark JVM and its Python workers all share the worker's session."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid, self.peak, self.stop = sid, 0, threading.Event()

    def run(self) -> None:
        while not self.stop.is_set():
            rss = sum(r for r, _ in session_stats(self.sid).values())
            self.peak = max(self.peak, rss)
            self.stop.wait(0.2)


def reap(proc: subprocess.Popen) -> None:
    """Stop the worker's whole session and wait until every process ended.
    Once the worker has written its result and exited, the JVM and its
    Python workers are killed at once: their shutdown would only delete
    their scratch files, which session() does, and takes ~2 s.  This
    process is their subreaper, so it collects each of them itself."""
    for sig in (9,) if proc.poll() == 0 else (15, 9):
        for pid in session_stats(proc.pid):
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        end = time.monotonic() + 10
        while time.monotonic() < end:
            proc.poll()
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if not session_stats(proc.pid):
                return
            time.sleep(0.05)
    fail("worker processes did not end")


def session(cfg: dict, env: dict, stem: Path) -> dict:
    """Run one worker process to its end and stop its whole session.
    Returns its result, peak RSS, load averages and reap time."""
    cfg = {**cfg, "result_path": f"{stem}.worker.json", "spans_path": f"{stem}.spans.jsonl"}
    cfg_path = Path(f"{stem}.config.json")
    cfg_path.write_text(json.dumps(cfg))
    result_file = Path(cfg["result_path"])
    result_file.unlink(missing_ok=True)

    load_before = loadavg()
    with open(f"{stem}.log", "w") as log:
        proc = subprocess.Popen(
            [sys.executable, str(ROOT / "perfbench" / "worker.py"), str(cfg_path)],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - T_START)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            sampler.stop.set()
            sampler.join()
            t_exit = time.monotonic()
            reap(proc)
            reap_s = time.monotonic() - t_exit
    for d in (WORK / "spark-local", WORK / "tmp"):  # the session's scratch files
        shutil.rmtree(d)
        d.mkdir()
    if proc.returncode != 0 or not result_file.is_file():
        fail(f"worker failed (exit {proc.returncode}); see {stem}.log")
    return {
        "result": json.loads(result_file.read_text()),
        "peak_rss": sampler.peak,
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "reap_s": reap_s,
    }


def main() -> None:
    # a terminated benchmark still stops its worker's session (see reap)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # orphans of the worker's session become children of this process
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None, help="pages/docs (self-test)")
    ap.add_argument("--drop-one-output-row", action="store_true",
                    help="self-test: drop one output row before the check")
    args = ap.parse_args()

    for need in ("kg/__init__.py", "kg/pipeline.py", "tests/oracle/kg_frozen.py"):
        if not (ROOT / need).is_file():
            fail(f"{need} not found under {ROOT}: run from a checkout of the repo")
    from perfbench import inputs

    if args.workload not in inputs.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {inputs.WORKLOADS}")

    nproc = len(os.sched_getaffinity(0))
    k = min(4, nproc)
    mem_mb = mem_total_mb()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    dirs = {d: WORK / d for d in ("results", "tmp", "spark-local", "work")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)

    input_dir, manifest = inputs.ensure_input(args.workload, args.seed, args.size)
    dedup = None
    if args.trace and args.workload == "web_lazy":
        d, man = inputs.ensure_input("dedup", args.seed, args.size and 10 * args.size)
        dedup = {"dir": str(d), "properties": man["properties"]}

    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=str(dirs["spark-local"]),
        TMPDIR=str(dirs["tmp"]),
        # every JVM (the spark-submit launcher and the driver): temp files
        # in the checkout, and no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        # the session default (24g) is sized for a 128 GiB host
        KG_DRIVER_MEM=env.get("KG_DRIVER_MEM") or f"{int(min(2048, mem_mb / 4))}m",
    )
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "k": k,
        "input_dir": str(input_dir),
        "manifest": manifest,
        "work_dir": str(dirs["work"]),
        "drop_one_output_row": args.drop_one_output_row,
        **({"dedup_input": dedup} if dedup else {}),
    }
    stem = dirs["results"] / tag
    sessions = [session(cfg, env, stem)]
    for i in range(1, 1 if args.trace else COLD_SESSIONS):
        sessions.append(session({**cfg, "cold_only": True}, env, Path(f"{stem}.cold{i}")))
    res = sessions[0]["result"]

    attempted = sum(x["result"]["attempted"] for x in sessions)
    failed = sum(x["result"]["failed"] for x in sessions)
    diff_rows = sum(x["result"]["output_diff_rows"] for x in sessions)
    e2e = {n: res[n] for n in END_TO_END if n in res}
    for n in ("setup_s", "first_run_cpu_s"):
        e2e[n] = statistics.median(x["result"][n] for x in sessions)
    e2e["peak_rss_mb"] = max(x["peak_rss"] for x in sessions) / 1e6
    per_layer = dict.fromkeys(PER_LAYER, 0.0)
    per_layer.update({k_: v for k_, v in res.get("per_layer", {}).items() if k_ in PER_LAYER})
    per_layer.update({
        "wall.first_run_s": res["first_run_s"],
        "wall.run_s": res["run_s"],
        "wall.docs_per_s": res["docs_per_s"],
        "host.steal_share": res["steal_share"],
    })
    per_layer.update({f"rows.{r}": v for r, v in res["rows"].items() if f"rows.{r}" in PER_LAYER})
    per_layer["extract.fast_path_share"] = manifest["properties"]["fast_path_share"]
    per_layer["ner.vocab_types"] = manifest["properties"]["word_types"]
    per_layer["output_diff_rows"] = diff_rows
    per_layer["failed_share"] = failed / max(1, attempted)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {"k": k, "nproc": nproc, "mem_total_mb": mem_mb,
                 "driver_mem": env["KG_DRIVER_MEM"],
                 "wall_s": time.monotonic() - T_START},
        "input": {"dir": str(input_dir.relative_to(ROOT)), **manifest["properties"],
                  "generation_s": manifest["generation_s"]},
        "end_to_end": e2e,
        "per_layer": per_layer,
        "worker": res,
        "sessions": [
            {n: x[n] for n in ("loadavg_before", "loadavg_after", "reap_s", "peak_rss")}
            | {n: x["result"][n] for n in ("setup_s", "first_run_s", "first_run_cpu_s")}
            for x in sessions
        ],
    }
    (dirs["results"] / f"{tag}.json").write_text(json.dumps(record, indent=1))

    names = PER_LAYER if args.trace else END_TO_END
    values = per_layer if args.trace else e2e
    if not all(math.isfinite(values[n]) for n in names):
        fail(f"no successful run to measure; see {dirs['results'] / tag}.json")
    print(json.dumps({
        "correct": failed == 0 and diff_rows == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names.items()},
    }))


if __name__ == "__main__":
    main()
