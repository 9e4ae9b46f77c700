"""K3 alias candidate generation + K4 embedding cosine re-rank.

K3 (BASELINE.json:6 "alias-dictionary candidate generation via
broadcast hash join"): the alias dictionary is orders of magnitude
smaller than the mentions table, so the join MUST be a broadcast hash
join — no shuffle of the 10^12-row mention side. Enforced with an
explicit ``F.broadcast`` hint (AQE would usually pick it, the hint
makes it a guarantee).

K4 (BASELINE.json:6 "embedding cosine re-rank"): mention-context
embeddings come from a deterministic hashed char-3-gram encoder
(vectorized pandas UDF); candidate entity vectors join in by broadcast
(the entity set is dictionary-sized). The cosine itself
is a **pure Catalyst expression** (zip_with + aggregate) — no Python
in the hot path — and top-k is a window row_number with a
deterministic (cosine desc, entity_id asc) tie-break.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

from kg.ner import vocab as V


def candidate_gen(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """K3: mentions x broadcast(aliases) on lowercase surface."""
    return mentions.join(
        F.broadcast(aliases),
        F.lower(mentions["surface"]) == aliases["alias"],
        "inner",
    )


@pandas_udf(ArrayType(FloatType()))
def _surface_embedding_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    cache: dict[str, list[float]] = {}
    for s in it:
        out = []
        for surf in s:
            v = cache.get(surf)
            if v is None:
                v = [float(x) for x in V.surface_embedding(surf)]
                cache[surf] = v
            out.append(v)
        yield pd.Series(out)


def cosine_expr(a: str, b: str):
    """UDF-free cosine for L2-normalized array<float> columns:
    dot product via zip_with + aggregate (stays in codegen)."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def rank_alias_verdicts(
    aliases: DataFrame, entity_vecs: DataFrame, k: int = 1
) -> DataFrame:
    """K3+K4 fused dictionary path: pre-rank every alias's candidate
    entities by cosine(E(alias), entity_vec) — computable WITHOUT
    touching the corpus because the context-free surface encoder
    lowercases, so E(surface) == E(lower(surface)) == E(alias).

    Returns (alias, entity_id, prior, cosine, rank), dictionary-sized.
    The corpus then needs exactly ONE broadcast join (see
    link_mentions), keeping the KG pipeline a single corpus pass."""
    scored = (
        aliases.withColumn(
            "alias_vec", _surface_embedding_udf(F.col("alias"))
        )
        .join(F.broadcast(entity_vecs), "entity_id", "inner")
        .withColumn("cosine", cosine_expr("alias_vec", "embedding"))
        .drop("alias_vec", "embedding")
    )
    w = Window.partitionBy("alias").orderBy(F.desc("cosine"), F.asc("entity_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def alias_verdicts_local(
    aliases: DataFrame, entity_vecs: DataFrame, k: int = 1
) -> DataFrame:
    """rank_alias_verdicts computed on the DRIVER (guide §5: the
    verdict is a pure function of the dictionary — collecting a
    dictionary-sized table is the same bounded-collect class as the
    component map) and returned as a local (alias, entity_id)
    relation. Row-for-row identical to the distributed version
    (asserted in tests/test_link.py): same float32 products, same
    left-fold float64 accumulation as Catalyst's zip_with+aggregate,
    same (cosine desc, entity_id asc) tie-break. The hot-path win is
    physical: each downstream broadcast build becomes a
    LocalTableScan instead of re-running an Arrow UDF job + a window
    exchange per build (measured 2 such jobs per pipeline run)."""
    # toPandas, not collect(): collect pickles every array cell
    # through py4j (measured 286 ms for the entity vectors alone);
    # the Arrow path moves the same rows in ~30 ms. Under a vanilla
    # session without Arrow it silently falls back to the same values.
    alias_pdf = aliases.select("alias", "entity_id").toPandas()
    vec_pdf = entity_vecs.select("entity_id", "embedding").toPandas()
    vecs = {
        int(e): np.asarray(v, dtype=np.float32)
        for e, v in zip(vec_pdf["entity_id"], vec_pdf["embedding"])
    }
    emb_cache: dict[str, np.ndarray] = {}
    scored: dict[str, list[tuple[float, int]]] = {}
    for a, eid in zip(alias_pdf["alias"], alias_pdf["entity_id"]):
        ev = vecs.get(int(eid))
        if ev is None:  # inner join semantics
            continue
        av = emb_cache.get(a)
        if av is None:
            # mirror the UDF's value path: python float (f64) -> f32
            av = np.asarray(
                [float(x) for x in V.surface_embedding(a)], dtype=np.float32
            )
            emb_cache[a] = av
        # Catalyst cosine_expr: per-element float32 multiply, then a
        # LEFT FOLD into a float64 accumulator (not pairwise numpy sum)
        prod = av * ev
        acc = 0.0
        for x in prod:
            acc = acc + float(x)
        scored.setdefault(a, []).append((acc, int(eid)))
    out = []
    for a, cands in scored.items():
        cands.sort(key=lambda t: (-t[0], t[1]))
        for cos, eid in cands[:k]:
            out.append((a, eid))
    spark = aliases.sparkSession
    # pandas, not a row list: the pandas+Arrow createDataFrame path
    # plans a LocalTableScan, so the two downstream broadcast builds
    # (sv/ov in turbo_triples_raw) are job-free — a row list plans an
    # ExistingRDD whose every broadcast build launches a Python-worker
    # deserialization job (same fix as fixtures.entity_vecs_df).
    pdf = pd.DataFrame(
        {
            "alias": pd.Series([a for a, _ in out], dtype=object),
            "entity_id": pd.Series([e for _, e in out], dtype="int64"),
        }
    )
    return spark.createDataFrame(pdf, schema="alias string, entity_id long")


def link_mentions(
    mentions: DataFrame,
    aliases: DataFrame,
    entity_vecs: DataFrame,
    k: int = 1,
) -> DataFrame:
    """mentions -> linked in one broadcast hash join against the
    pre-ranked alias verdicts (the production K3+K4 hot path)."""
    verdict = rank_alias_verdicts(aliases, entity_vecs, k)
    return mentions.join(
        F.broadcast(verdict),
        F.lower(mentions["surface"]) == verdict["alias"],
        "inner",
    )


def rerank(
    candidates: DataFrame,
    entity_vecs: DataFrame,
    k: int = 1,
    by_surface: bool = True,
) -> DataFrame:
    """K4: cosine(mention-context vec, entity vec), keep top-k.

    ``by_surface=True`` (default): the mention embedding here is a
    pure function of the surface form, so cosine AND rank are
    identical for every mention sharing a surface — score the
    **distinct (surface, entity_id) pairs** (dictionary-bounded: at a
    10^12-page corpus this is millions of rows, not trillions) and
    broadcast the verdicts back onto mentions. The per-mention window
    path (``by_surface=False``) is what a sentence-contextual encoder
    would need; both produce identical results for this encoder."""
    ev = F.broadcast(entity_vecs)
    if by_surface:
        pairs = candidates.select("surface", "entity_id").distinct()
        scored_pairs = (
            pairs.withColumn(
                "mention_vec", _surface_embedding_udf(F.col("surface"))
            )
            .join(ev, "entity_id", "inner")
            .withColumn("cosine", cosine_expr("mention_vec", "embedding"))
            .drop("mention_vec", "embedding")
        )
        w = Window.partitionBy("surface").orderBy(
            F.desc("cosine"), F.asc("entity_id")
        )
        verdict = scored_pairs.withColumn(
            "rank", F.row_number().over(w)
        ).filter(F.col("rank") <= k)
        return candidates.join(
            F.broadcast(verdict), ["surface", "entity_id"], "inner"
        )
    with_vec = candidates.withColumn(
        "mention_vec", _surface_embedding_udf(F.col("surface"))
    ).join(ev, "entity_id", "inner")
    scored = with_vec.withColumn(
        "cosine", cosine_expr("mention_vec", "embedding")
    ).drop("mention_vec", "embedding")
    w = Window.partitionBy("mention_id").orderBy(
        F.desc("cosine"), F.asc("entity_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
