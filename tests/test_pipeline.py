"""End-to-end gates (BASELINE.json:2,14): triple P/R vs gold, exact
parity vs the frozen single-node oracle, resume equality, salting."""

import os
import shutil

import pyspark.sql.functions as F

from kg import fixtures as FX
from kg.pipeline import run_pipeline, salt_repartition


def _triple_set(df):
    return {
        (r["subj"], r["pred"], r["obj"], r["url"], r["sent_id"])
        for r in df.select("subj", "pred", "obj", "url", "sent_id").collect()
    }


def _gold_set(spark, n, noise):
    _, gt = FX.gen_gold(spark, n, seed=42, noise=noise)
    return {
        (r["subj_entity"], r["pred"], r["obj_entity"], r["url"], r["sent_id"])
        for r in gt.collect()
    }


def _staged_triples(pages, aliases, evecs, comps):
    """The staged K1..K8 composition (the spec) as one lazy plan."""
    from kg.pipeline import (
        stage_extract,
        stage_linked,
        stage_mentions,
        stage_sentences,
        stage_triples,
        stage_triples_raw,
    )

    sents = stage_sentences(stage_extract(pages))
    linked = stage_linked(stage_mentions(sents), aliases, evecs)
    return stage_triples(stage_triples_raw(linked), comps)


def test_clean_triples_exact_vs_gold(spark, clean_result):
    got = _triple_set(clean_result["triples"])
    want = _gold_set(spark, 100, 0.0)
    assert got == want, (
        f"missing={list(want - got)[:5]} extra={list(got - want)[:5]}"
    )


def test_clean_triples_exact_vs_frozen_oracle(spark, clean_pages):
    """Reference-semantics parity: the distributed pipeline reproduces
    the frozen single-node oracle exactly on clean text (the
    operational form of 'matches the reference's emitted triples')."""
    from tests.oracle.kg_frozen import FrozenOracle

    pages = [
        {"url": r["url"], "html": bytes(r["html"])}
        for r in clean_pages.select("url", "html").collect()
    ]
    want = FrozenOracle().triples(pages)
    from kg.pipeline import run_pipeline

    res = run_pipeline(
        spark, clean_pages, FX.aliases_df(spark), FX.entity_vecs_df(spark)
    )
    got = _triple_set(res["triples"])
    assert got == want, (
        f"missing={list(want - got)[:5]} extra={list(got - want)[:5]}"
    )


def test_noisy_triples_pr_gate(spark):
    pages = FX.gen_pages(spark, 150, seed=42, noise=0.03)
    res = run_pipeline(
        spark, pages, FX.aliases_df(spark), FX.entity_vecs_df(spark)
    )
    got = _triple_set(res["triples"])
    want = _gold_set(spark, 150, 0.03)
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    assert precision >= 0.95, precision
    assert recall >= 0.95, recall


def test_resume_equality_after_partial_kill(spark, clean_pages, clean_result):
    """X2: deleting downstream stages and rerunning reproduces the
    identical triple set (kill-and-resume, SURVEY.md §5 layer 4)."""
    root = clean_result["_root"]
    before = _triple_set(clean_result["triples"])
    shutil.rmtree(os.path.join(root, "triples_raw"))
    shutil.rmtree(os.path.join(root, "triples"))
    res2 = run_pipeline(
        spark,
        clean_pages,
        FX.aliases_df(spark),
        FX.entity_vecs_df(spark),
        checkpoint_root=root,
    )
    skipped = {e["stage"] for e in res2["_orchestrator"].log if e["skipped"]}
    assert "mentions" in skipped and "linked" in skipped
    assert _triple_set(res2["triples"]) == before


def test_lineage_metrics_written(spark, clean_result):
    m = clean_result["_orchestrator"].metrics()
    assert m is not None
    rows = m.collect()
    stages = {r["stage"] for r in rows}
    assert {"text_extracted", "mentions", "triples"} <= stages
    for r in rows:
        assert r["output_rows"] >= 0
        assert r["wall_ms"] > 0


def test_salting_preserves_multiset(spark, clean_pages):
    """X1: salted repartition is a pure repartition — row multiset
    unchanged, hot-host rows spread across many partitions."""
    df = clean_pages.select("url", "lang").withColumn(
        "_host", F.regexp_extract("url", r"^https?://([^/]+)/", 1)
    )
    salted = salt_repartition(df, "_host", buckets=8, num_partitions=16)
    assert salted.count() == df.count()
    assert (
        salted.groupBy("url").count().filter(F.col("count") != 1).count() == 0
    )
    hot = salted.filter(F.col("_host") == "hot.example.com").select(
        F.spark_partition_id().alias("pid")
    )
    n_parts = hot.distinct().count()
    assert n_parts >= 4, f"hot host only spread over {n_parts} partitions"


def test_turbo_triples_equal_staged_composition(spark):
    """r7: the one-crossing turbo plan behind the lazy path's
    `triples` must produce exactly the staged K1..K8 composition's
    rows — on clean AND noise-injected pages (corrupted surfaces,
    shifted spans)."""
    from kg.pipeline import stage_components, stage_triples, turbo_triples_raw

    aliases, evecs = FX.aliases_df(spark), FX.entity_vecs_df(spark)
    comps = stage_components(aliases)
    for noise in (0.0, 0.05):
        pages = FX.gen_pages(spark, 150, seed=11, noise=noise)
        staged = _staged_triples(pages, aliases, evecs, comps)
        turbo = stage_triples(turbo_triples_raw(pages, aliases, evecs), comps)
        a = set(map(tuple, staged.collect()))
        b = set(map(tuple, turbo.collect()))
        assert a == b, f"noise={noise}: {len(a)} staged vs {len(b)} turbo"


def test_python_split_twins_match_catalyst(spark):
    """r7: split_sentences_py (used inside the turbo UDF) must equal
    the Catalyst sentence/word split per (url, sent_id) — including
    posexplode position semantics — on clean and noisy text."""
    from kg.pipeline import split_sentences_py, stage_extract, stage_sentences

    for noise in (0.0, 0.05):
        pages = FX.gen_pages(spark, 120, seed=23, noise=noise)
        text = stage_extract(pages)
        want = {
            (r["url"], r["sent_id"]): list(r["words"])
            for r in stage_sentences(text)
            .select("url", "sent_id", "words")
            .collect()
        }
        got = {}
        for r in text.select("url", "text").collect():
            for sid, words in split_sentences_py(r["text"]):
                got[(r["url"], sid)] = words
        assert got == want


def test_fused_keyword_accepted_and_ignored(spark, clean_pages):
    """``fused`` no longer selects a plan; passing it must still work
    and give the default lazy path's triples."""
    aliases, evecs = FX.aliases_df(spark), FX.entity_vecs_df(spark)
    a = run_pipeline(spark, clean_pages, aliases, evecs)
    b = run_pipeline(spark, clean_pages, aliases, evecs, fused=True)
    assert set(b) == set(a) == {"triples_raw", "components", "triples"}
    assert _triple_set(b["triples"]) == _triple_set(a["triples"])


def test_null_html_yields_no_triples(spark):
    """A NULL-html page extracts to no sentences: 20 pages plus one
    NULL row give exactly the 20 pages' triples on the lazy (turbo)
    path and on the staged composition, instead of failing the task."""
    import datetime

    from kg.pipeline import stage_components

    aliases, evecs = FX.aliases_df(spark), FX.entity_vecs_df(spark)
    comps = stage_components(aliases)
    pages = FX.gen_pages(spark, 20, seed=42)
    null_row = spark.createDataFrame(
        [("https://null.example.com/0", datetime.datetime(2024, 1, 1), None, None, "en")],
        FX.PAGES_SCHEMA,
    )
    with_null = pages.unionByName(null_row)
    want = _triple_set(run_pipeline(spark, pages, aliases, evecs)["triples"])
    assert want
    lazy = run_pipeline(spark, with_null, aliases, evecs)["triples"]
    assert _triple_set(lazy) == want
    assert _triple_set(_staged_triples(with_null, aliases, evecs, comps)) == want
