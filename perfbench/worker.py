"""One repetition of one workload, in the fresh process ``run.py`` starts.

Timeline: set-up (imports, ``build_session``, dictionary inputs) ->
first run -> WARMUP_RUNS warm-up runs -> STEADY_RUNS steady runs (and
at least ``seconds`` of them).  With tracing on, the first TRACED_RUNS
steady runs are each followed by a traced one, and the per-layer
probes and the kernel replay come last.  A ``cold_only`` process ends
after the first run: it is one more sample of set-up and first run.
Every timed run's output is checked.  The result goes to the JSON file
named in the config; spans go beside it.

Each run records wall time and the CPU time of the whole process tree
(driver, JVM, Python workers).  On a shared virtual host the
hypervisor's steal time stretches wall time by up to 2x in bursts.  CPU
time does not count steal, but co-running load on the host still
inflates it (by ~1.5x with three busy processes beside a repetition on
4 vCPUs), so single samples are noisy and the metrics are medians.
"""

import time

T0 = time.perf_counter()  # set-up is timed from here, before any import

import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from perfbench.procfs import host_steal, loadavg, session_stats  # noqa: E402

# Per-run CPU time keeps falling after the first run as the JIT
# compiles, by ~25% over the next three; steady runs start after
# WARMUP_RUNS.  The counts, not the seconds, govern on a 4-core host,
# so every process measures the same point of the warm-up.  More runs
# would not fit the time budget of a full benchmark pass (48
# repetitions within an hour) on a host with heavy steal.
WARMUP_RUNS = 3
STEADY_RUNS = 3
TRACED_RUNS = 3
KERNEL_SAMPLE = {"clean_lazy": 2000, "web_lazy": 200}
ORACLE_SAMPLE = 30
KEY = ("subj", "pred", "obj", "url", "sent_id")
STAGES = (
    "text_extracted", "sentences", "mentions", "linked",
    "triples_raw", "components", "triples",
)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process's session: the driver,
    the Spark JVM and its Python workers."""
    return sum(cpu for _, cpu in session_stats(os.getsid(0)).values())


class Bench:
    """State shared by the workload code: session, tracer, input, runs."""

    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.workload = cfg["workload"]
        self.inp = Path(cfg["input_dir"])
        self.work = Path(cfg["work_dir"])
        self.props = cfg["manifest"]["properties"]
        self.runs: list[dict] = []
        self.metrics: dict[str, float] = {}
        self.errors: list[str] = []
        self.rows: dict[str, int] = {"pages": self.props["pages"]}

    def timed(self, kind: str, fn, check) -> dict | None:
        """Run ``fn`` (timed), then ``check`` its output (untimed).
        Returns the run's record, or None when it raised."""
        rec = {"kind": kind, "run": self.tracer.run_id, "load_before": loadavg()[0]}
        self.runs.append(rec)
        try:
            cpu, (st, tot) = tree_cpu_s(), host_steal()
            t = time.perf_counter()
            out = fn()
            rec["seconds"] = time.perf_counter() - t
            rec["cpu_s"] = tree_cpu_s() - cpu
            st2, tot2 = host_steal()
            rec["steal_share"] = (st2 - st) / max(1, tot2 - tot)
            rec["load_after"] = loadavg()[0]
            rec["diff_rows"] = check(out)
            rec["ok"] = rec["diff_rows"] == 0
        except Exception:  # one failed run must not end the benchmark
            rec.update(ok=False, diff_rows=0, load_after=loadavg()[0])
            rec["error"] = traceback.format_exc(limit=4)
            self.errors.append(rec["error"])
            return None
        return rec

    def probe(self, name: str, fn):
        """A per-layer probe: a traced call outside the timed runs.
        Returns (seconds, output); (0.0, None) when it raised."""
        try:
            with self.tracer.span(name):
                t = time.perf_counter()
                out = fn()
                return time.perf_counter() - t, out
        except Exception:
            self.errors.append(f"probe {name}:\n" + traceback.format_exc(limit=4))
            self.runs.append({"kind": name, "run": "probes", "ok": False, "diff_rows": 0})
            return 0.0, None

    def outcome(self, kind: str, diff_rows: int) -> None:
        """Record the output check of a probe."""
        self.runs.append(
            {"kind": kind, "run": "probes", "ok": diff_rows == 0, "diff_rows": diff_rows}
        )


# ------------------------------------------------------------- workloads


class LazyPipeline:
    """Lazy run_pipeline into a noop sink (the throughput path)."""

    def __init__(self, b: Bench):
        self.b = b
        self.spark = b.spark
        self.tr = b.tracer

    def setup(self) -> None:
        """Dictionary inputs, inside the set-up timer."""
        from kg import fixtures as FX
        from kg.pipeline import stage_components

        with self.tr.span("fixtures.aliases_df"):
            self.aliases = FX.aliases_df(self.spark)
        with self.tr.span("fixtures.entity_vecs_df"):
            self.evecs = FX.entity_vecs_df(self.spark)
        # the component map is dictionary-derived: built once per
        # dictionary and reused by every run, as bench.py does
        with self.tr.span("graph.components"):
            t = time.perf_counter()
            rows = stage_components(self.aliases).collect()
            self.components = self.spark.createDataFrame(rows, "id long, component long")
            self.b.metrics["graph.components_s"] = time.perf_counter() - t

    def open_input(self) -> None:
        self.pages = self.spark.read.parquet(str(self.b.inp / "pages"))

    # ---- the timed run and its check --------------------------------

    def run(self):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from kg.pipeline import run_pipeline
        from kg.session import PIPELINE_SCAN_CONF, scoped_conf

        obs = Observation()
        with scoped_conf(self.spark, PIPELINE_SCAN_CONF):
            with self.tr.span("pipeline.run_pipeline"):
                res = run_pipeline(
                    self.spark, self.pages, self.aliases, self.evecs,
                    components=self.components,
                )
            with self.tr.span("pipeline.execute"):
                self.tamper(res["triples"]).observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.bit_xor(F.xxhash64(*KEY)).alias("xor"),
                ).write.format("noop").mode("overwrite").save()
        return obs

    def check(self, obs) -> int:
        got = (obs.get["rows"], obs.get["xor"] or 0)
        self.b.rows["triples"] = got[0]
        if got == self.gold():
            return 0
        from kg.pipeline import run_pipeline

        res = run_pipeline(
            self.spark, self.pages, self.aliases, self.evecs,
            components=self.components,
        )
        return max(1, self.diff_against_gold(self.tamper(res["triples"])))

    def gold(self) -> tuple[int, int]:
        """(rows, bit_xor(xxhash64)) of the gold triples."""
        from pyspark.sql import functions as F

        if not hasattr(self, "_gold"):
            g = self.spark.read.parquet(str(self.b.inp / "gold.parquet"))
            r = g.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*KEY))).first()
            self._gold = (r[0], r[1] or 0)
        return self._gold

    def checksum(self, triples) -> tuple[int, int]:
        from pyspark.sql import functions as F

        r = self.tamper(triples).agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*KEY))).first()
        return r[0], r[1] or 0

    def diff_against_gold(self, triples) -> int:
        """Missing plus extra rows of ``triples`` against the gold."""
        import pyarrow.parquet as pq

        want = set(zip(*[
            c.to_pylist() for c in pq.read_table(self.b.inp / "gold.parquet").columns
        ]))
        got = {tuple(r) for r in triples.select(*KEY).collect()}
        return len(want ^ got)

    def tamper(self, triples):
        """Self-test hook: drop one output triple, which the check must catch."""
        if not self.b.cfg.get("drop_one_output_row"):
            return triples
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        row = pq.read_table(self.b.inp / "gold.parquet").slice(0, 1).to_pylist()[0]
        return triples.filter(
            (F.col("url") != row["url"]) | (F.col("sent_id") != row["sent_id"])
        )

    def once_checks(self) -> int:
        """Checks of the input itself, made once per process."""
        return 0

    # ---- per-layer probes -------------------------------------------

    def kernel_replay(self) -> None:
        """Replay the turbo kernel in-process on a seeded page sample."""
        import pandas as pd
        import pyarrow.parquet as pq

        from kg.extract import extract_text_auto
        from kg.ner.bio import decode_bio
        from kg.ner.model import _Model
        from kg.pipeline import _matched_pairs_gen, split_sentences_py

        tbl = pq.read_table(self.b.inp / "pages", columns=["url", "html"])
        n = tbl.num_rows
        idx = sorted(random.Random(self.b.cfg["seed"]).sample(
            range(n), min(n, KERNEL_SAMPLE[self.b.workload])
        ))
        urls = [tbl.column("url")[i].as_py() for i in idx]
        htmls = [tbl.column("html")[i].as_py() for i in idx]
        batch = pd.DataFrame({"url": urls, "html": htmls})
        for _ in _matched_pairs_gen(iter([batch])):  # warm code paths, untimed
            pass
        sample = {"pages": len(idx)}

        def steps() -> list[float]:
            model = _Model.get()
            t0 = time.perf_counter()
            texts = [extract_text_auto(h) for h in htmls]
            t1 = time.perf_counter()
            sents = [ws for t in texts for _, ws in split_sentences_py(t)]
            t2 = time.perf_counter()
            tags = [model.tags_of([ws])[0] for ws in sents]
            t3 = time.perf_counter()
            spans = [decode_bio(t) for t in tags]
            t4 = time.perf_counter()
            sample.update(sentences=len(sents), spans=sum(map(len, spans)))
            return [t1 - t0, t2 - t1, t3 - t2, t4 - t3]

        def whole() -> float:
            _Model.get()
            t = time.perf_counter()
            sample["matched_pairs"] = sum(len(df) for df in _matched_pairs_gen(iter([batch])))
            return time.perf_counter() - t

        # each pass twice, fastest kept; every pass starts from an empty
        # word memo, and without cyclic GC (the step pass keeps every
        # sentence alive, the kernel does not)
        step_s, whole_s = [], []
        gc.collect()
        gc.disable()
        try:
            for _ in range(2):
                for fn, out in ((steps, step_s), (whole, whole_s)):
                    _Model._instance = None
                    out.append(fn())
        finally:
            gc.enable()
        ext, split, tag, dec = (min(x) for x in zip(*step_s))
        w = min(whole_s)
        us = 1e6 / len(idx)
        m = self.b.metrics
        m["kernel.extract_us"] = ext * us
        m["kernel.split_us"] = split * us
        m["kernel.tag_us"] = tag * us
        m["kernel.decode_us"] = dec * us
        m["kernel.pair_us"] = (w - (ext + split + tag + dec)) * us
        self.b.kernel_sample = {**sample, "whole_us_per_page": w * us}

    def probes(self, run_s: float) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from kg.link import alias_verdicts_local
        from kg.pipeline import (
            stage_extract, stage_linked, stage_mentions, stage_sentences,
            turbo_triples_raw,
        )
        from kg.relations import pair_gen_grouped
        from kg.session import PIPELINE_SCAN_CONF, scoped_conf

        b, m = self.b, self.b.metrics
        noop = lambda df: df.write.format("noop").mode("overwrite").save()
        m["link.alias_verdicts_s"], _ = b.probe(
            "link.alias_verdicts_local",
            lambda: alias_verdicts_local(self.aliases, self.evecs, k=1),
        )
        url_html = self.pages.select("url", "html")
        with scoped_conf(self.spark, PIPELINE_SCAN_CONF):
            scan, _ = b.probe("pipeline.scan", lambda: noop(url_html))
            ipc, _ = b.probe(
                "pipeline.arrow_ipc",
                lambda: noop(url_html.mapInPandas(lambda it: it, url_html.schema)),
            )
            obs = Observation("triples_raw")
            turbo, _ = b.probe(
                "pipeline.turbo_triples_raw",
                lambda: noop(
                    turbo_triples_raw(self.pages, self.aliases, self.evecs)
                    .observe(obs, F.count(F.lit(1)).alias("n"))
                ),
            )
            # staged prefixes K1..K5, each run to the end and timed; a
            # layer's time is the difference between consecutive prefixes
            sents = stage_sentences(stage_extract(self.pages))
            mentions = stage_mentions(sents)
            linked = stage_linked(mentions, self.aliases, self.evecs)
            prefixes = (
                ("ner.tokenize_prefix", sents),
                ("ner.detect_mentions_prefix", mentions),
                ("link.link_mentions_prefix", linked),
                ("relations.pair_gen_prefix", pair_gen_grouped(linked)),
            )
            secs, counts = [], []
            for name, df in prefixes:
                o = Observation(name)
                s, _ = b.probe(name, lambda: noop(df.observe(o, F.count(F.lit(1)).alias("n"))))
                secs.append(s)
                counts.append(o.get.get("n", 0) if s else 0)
        m["pipeline.scan_s"] = scan
        m["pipeline.arrow_ipc_s"] = ipc - scan
        m["pipeline.turbo_raw_s"] = turbo
        m["pipeline.k8_s"] = run_s - turbo
        m["ner.detect_mentions_s"] = secs[1] - secs[0]
        m["link.link_mentions_s"] = secs[2] - secs[1]
        m["relations.pair_gen_s"] = secs[3] - secs[2]
        b.rows["triples_raw"] = obs.get.get("n", 0) if turbo else 0
        b.rows["sentences"], b.rows["mentions"] = counts[0], counts[1]


class CleanLazy(LazyPipeline):
    def probes(self, run_s: float) -> None:
        super().probes(run_s)
        self.checkpoint_probes()

    def checkpoint_probes(self) -> None:
        """run_pipeline(checkpoint_root=...) into an empty root, then a
        resume after deleting triples_raw and triples: the staged K1..K8
        chain, parquet writes and reads, and one metrics job per stage."""
        from kg.pipeline import run_pipeline
        from kg.session import PIPELINE_SCAN_CONF, scoped_conf

        b, m, tr = self.b, self.b.metrics, self.tr
        root = b.work / f"ckpt-{b.cfg['seed']}"
        shutil.rmtree(root, ignore_errors=True)

        def ckpt_run():
            with scoped_conf(self.spark, PIPELINE_SCAN_CONF):
                return run_pipeline(
                    self.spark, self.pages, self.aliases, self.evecs,
                    checkpoint_root=str(root),
                )

        full_s, res = b.probe("orchestrator.full_run", ckpt_run)
        if res is None:
            return
        span = [s for s in tr.spans if s["name"] == "orchestrator.full_run"][-1]
        walls = {e["stage"]: e["wall_ms"] / 1e3 for e in res["_orchestrator"].log}
        for st in STAGES:
            m[f"orchestrator.{st}_s"] = walls.get(st, 0.0)
            tr.add(f"orchestrator.{st}", walls.get(st, 0.0), span)
        m["orchestrator.metrics_s"] = full_s - sum(walls.values())
        tr.add("orchestrator.metrics", m["orchestrator.metrics_s"], span)
        m["orchestrator.full_s"] = full_s
        m["orchestrator.jobs"] = span.get("jobs", 0)
        m["io.bytes_written_mb"] = sum(
            p.stat().st_size for p in root.rglob("*") if p.is_file()
        ) / 1e6
        full_sum = self.checksum(res["triples"])
        b.outcome(
            "checkpoint_full",
            0 if full_sum == self.gold()
            else max(1, self.diff_against_gold(self.tamper(res["triples"]))),
        )

        shutil.rmtree(root / "triples_raw")
        shutil.rmtree(root / "triples")
        m["orchestrator.resume_s"], res = b.probe("orchestrator.resume", ckpt_run)
        if res is not None:
            skipped = {e["stage"] for e in res["_orchestrator"].log if e["skipped"]}
            ok = {"mentions", "linked"} <= skipped and self.checksum(res["triples"]) == full_sum
            b.outcome("checkpoint_resume", 0 if ok else 1)
        shutil.rmtree(root, ignore_errors=True)


class WebLazy(LazyPipeline):
    def once_checks(self) -> int:
        """The frozen oracle on a seeded page sample must give the gold."""
        import pyarrow.parquet as pq

        from tests.oracle.kg_frozen import FrozenOracle

        tbl = pq.read_table(self.b.inp / "pages", columns=["url", "html"])
        idx = random.Random(self.b.cfg["seed"]).sample(
            range(tbl.num_rows), min(tbl.num_rows, ORACLE_SAMPLE)
        )
        pages = [
            {"url": tbl.column("url")[i].as_py(), "html": tbl.column("html")[i].as_py()}
            for i in idx
        ]
        urls = {p["url"] for p in pages}
        gold = pq.read_table(self.b.inp / "gold.parquet")
        want = {
            r for r in zip(*[c.to_pylist() for c in gold.columns]) if r[3] in urls
        }
        got = FrozenOracle().triples(pages)
        self.b.oracle_sample = {"pages": len(pages), "triples": len(want)}
        return len(want ^ got)

    def probes(self, run_s: float) -> None:
        super().probes(run_s)
        self.dedup_probes()

    def dedup_probes(self) -> None:
        """kg.dedup MinHash-LSH (xxh64 path) over near-dup page texts with
        one hot (band, bucket), checked pair by pair against the
        plain-Python reference."""
        import pyarrow.parquet as pq

        from kg.dedup import minhash_lsh_pairs, minhash_signatures_udf

        b, m = self.b, self.b.metrics
        ded = b.cfg["dedup_input"]
        docs = self.spark.read.parquet(str(Path(ded["dir"]) / "docs"))
        m["dedup.signatures_s"], _ = b.probe(
            "dedup.minhash_signatures_udf",
            lambda: minhash_signatures_udf(docs).write.format("noop").mode("overwrite").save(),
        )
        m["dedup.lsh_pairs_s"], pdf = b.probe(
            "dedup.minhash_lsh_pairs", lambda: minhash_lsh_pairs(docs).toPandas()
        )
        if pdf is None:
            return
        if b.cfg.get("drop_one_output_row"):
            pdf = pdf.iloc[1:]
        t = pq.read_table(Path(ded["dir"]) / "expected_pairs.parquet")
        want = set(zip(*[c.to_pylist() for c in t.columns]))
        got = set(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist(), pdf["jaccard"].tolist()))
        b.outcome("dedup_pairs", len(want ^ got) + (len(pdf) - len(got)))
        m["dedup.pairs_out"] = len(pdf)
        m["dedup.max_bucket_docs"] = ded["properties"]["max_bucket_docs"]
        m["dedup.docs"] = ded["properties"]["pages"]


WORKLOADS = {"clean_lazy": CleanLazy, "web_lazy": WebLazy}


# ------------------------------------------------------------------ main


def median_of(recs: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in recs) if recs else float("nan")


def main(cfg_path: str) -> None:
    cfg = json.loads(Path(cfg_path).read_text())
    b = Bench(cfg)
    trace = bool(cfg["trace"])

    from perfbench.tracing import Tracer

    b.tracer = tr = Tracer(None, trace)
    with tr.span("session.build_session"):
        t = time.perf_counter()
        from kg.session import build_session

        spark = build_session(app_name="kg-perfbench", master=f"local[{cfg['k']}]")
        b.metrics["session.build_s"] = time.perf_counter() - t
    tr.sc = spark.sparkContext
    b.spark = spark
    w = WORKLOADS[b.workload](b)
    w.setup()
    setup_s = time.perf_counter() - T0

    w.open_input()
    tr.enabled, tr.run_id = False, "first"
    first = b.timed("first", w.run, w.check)
    first = first or {"seconds": float("nan"), "cpu_s": float("nan")}
    result = {
        "setup_s": setup_s,
        "first_run_s": first["seconds"],
        "first_run_cpu_s": first["cpu_s"],
    }
    if cfg.get("cold_only"):
        finish(b, result)
    once = w.once_checks()
    if once:
        b.runs.append({"kind": "oracle_sample", "run": "first", "ok": False, "diff_rows": once})

    tr.run_id = "warmup"
    for _ in range(WARMUP_RUNS):
        b.timed("warmup", w.run, w.check)
    # with tracing on, a traced run follows each of the first steady
    # runs, so the pair shares one point of the warm-up
    steady, pairs, cover = [], [], []
    t_steady = time.perf_counter()
    while len(steady) < STEADY_RUNS or time.perf_counter() - t_steady < cfg["seconds"]:
        tr.run_id = "steady"
        rec = b.timed("run", w.run, w.check)
        if rec is not None:
            steady.append(rec)
        if trace and len(pairs) < TRACED_RUNS and rec is not None:
            tr.enabled, tr.run_id = True, f"traced{len(pairs)}"
            with tr.span("bench.run") as root:
                traced = b.timed("traced", w.run, w.check)
            tr.enabled = False
            if traced is not None:
                pairs.append(traced["seconds"] - rec["seconds"])
                kids = [x for x in tr.spans if x["parent"] == root["id"]]
                cover.append(sum(x["end"] - x["start"] for x in kids))
    run_s, run_cpu_s = median_of(steady, "seconds"), median_of(steady, "cpu_s")
    pages = b.props["pages"]
    result.update({
        "run_s": run_s,
        "run_cpu_s": run_cpu_s,
        "docs_per_s": pages / run_s,
        "docs_per_cpu_s": pages / run_cpu_s,
        "steal_share": median_of(steady, "steal_share"),
        "steady_samples": len(steady),
    })

    if trace:
        m = b.metrics
        tr.enabled, tr.run_id = True, "probes"
        w.kernel_replay()
        w.probes(run_s)
        m["pipeline.jobs_per_run"] = tr.total("jobs", "traced0")
        m["pipeline.tasks_per_run"] = tr.total("tasks", "traced0")
        m["pipeline.first_run_excess_s"] = first["seconds"] - run_s
        if pairs:
            m["trace.overhead_s"] = statistics.median(pairs)
            m["trace.span_coverage"] = statistics.median(cover) / run_s
        for layer, s in tr.self_times({"setup", "traced0"}).items():
            m[f"self.{layer}_s"] = s
        result["per_layer"] = m
    tr.write(Path(cfg["spans_path"]))
    finish(b, result)


def finish(b: Bench, result: dict) -> None:
    """Write the result and end the process."""
    result.update(
        attempted=len(b.runs),
        failed=sum(1 for r in b.runs if not r["ok"]),
        output_diff_rows=sum(r["diff_rows"] for r in b.runs),
        rows=b.rows,
        runs=b.runs,
        errors=b.errors,
        kernel_sample=getattr(b, "kernel_sample", None),
        oracle_sample=getattr(b, "oracle_sample", None),
    )
    Path(b.cfg["result_path"]).write_text(json.dumps(result, indent=1))
    # no spark.stop(): the JVM exits when this process's pipe to it
    # closes, and run.py waits until every process of the session ended
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1])
