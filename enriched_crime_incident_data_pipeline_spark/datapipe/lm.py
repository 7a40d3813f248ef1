"""Unigram language-model quality scoring (perplexity proxy).

The classic corpus-quality signal (CCNet-style): train a unigram LM
on the corpus itself, score each document by how "typical" its tokens
are, and filter/bucket on the score. Real pipelines score in log
space; log is a transcendental whose last ulp differs between the JVM
and libm, so the cross-engine-exact score used here is the rational
**mean inverse token probability** under add-one smoothing:

    score(doc) = (1/n) · Σ_i (N + V) / (count(tok_i) + 1)

— a monotone signal for the same failure mode (rare/garbage-token
documents score high), built entirely from integer-derived divisions
and a position-ordered sequential double fold, so Spark and any
ordered-aggregate SQL engine agree bit-for-bit. (Python, the JVM and
DuckDB all use IEEE-754 binary64 with exact-rounded ``+``/``/``, so
the fold produces the same bits wherever it runs as long as the
operand ORDER is fixed — which token position fixes.)

Scale design: token counts are a groupBy on the token (map-side
combinable, no skew pathology — hot tokens partial-aggregate); the
count table is a broadcast dimension (cap it with the same
document-frequency vocabulary pruning ``ta10_oov_rate`` uses when the
open vocabulary outgrows broadcast range); scoring is a map-only
Arrow kernel over each document's own token array — the corpus never
shuffles for scoring and never self-joins.

Why an Arrow kernel and not a map-column fold (r5, measured): the
all-JVM formulation carried the count table as one broadcast MAP
column and probed it per token with ``element_at`` inside an
interpreted ``F.aggregate`` lambda. Spark map columns are
ArrayBasedMapData — ``element_at`` is a LINEAR SCAN, so the per-token
probe cost is O(|vocab|): invisible on the 31-token synthetic corpus,
catastrophic on a real open vocabulary (millions of types at crawl
scale). The higher-order-function fold is also interpreted per
element (never whole-stage-codegen'd) — the kernel replaces ~1.4 s of
the corpus_build3 sf0.1 wall with a dict probe that is O(1) per token
and batch-vectorized over Arrow.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from enriched_crime_incident_data_pipeline_spark.functions.text import tokens
from enriched_crime_incident_data_pipeline_spark.operators.parallelism import (
    fan_out,
)


def _collect_counts(docs: DataFrame, text_col: str) -> tuple:
    """Corpus unigram counts → (dict tok→count, nv = float(N + V)).

    One map-side-combinable groupBy over the exploded tokens, counts
    pulled to the driver for broadcast — the same
    vocabulary-is-a-broadcast-dimension contract as a map-column or
    broadcast-join formulation, and the same mitigation when the open
    vocabulary outgrows it (document-frequency pruning, as
    ``ta10_oov_rate`` does). ``nv`` is integer-valued and < 2^53, so
    its double form is exact."""
    rows = (
        fan_out(docs)
        .select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    cmap = {r["tok"]: r["c"] for r in rows}
    return cmap, float(sum(cmap.values()) + len(cmap))


def _fold_scores(
    rel: DataFrame,
    cmap: dict,
    nv: float,
    score_col: str = "mean_inv_prob",
) -> DataFrame:
    """``rel`` (any columns + ``_toks`` array<string>) → same columns
    minus ``_toks`` plus ``(n_tokens, <score_col>)``, via one map-only
    Arrow hop. The fold is sequential in token position with float64
    ``+``/``/`` only — bit-identical to the JVM ``F.aggregate`` twin
    and to DuckDB's ordered ``sum(... ORDER BY pos)``. Unseen tokens
    take count 0 (the add-one maximum term (N+V)/1), which for the
    self-trained corpus model simply never fires."""
    bcast = rel.sparkSession.sparkContext.broadcast(cmap)
    keep = [f for f in rel.schema.fields if f.name != "_toks"]
    out_schema = StructType(
        keep
        + [
            StructField("n_tokens", LongType()),
            StructField(score_col, DoubleType()),
        ]
    )
    names = [f.name for f in out_schema.fields]

    def gen(batches):
        counts = bcast.value
        get = counts.get
        for pdf in batches:
            n_out, s_out = [], []
            for toks in pdf["_toks"]:
                t = [] if toks is None else toks
                acc = 0.0
                for tk in t:
                    acc += nv / (get(tk, 0) + 1)
                n = len(t)
                n_out.append(n)
                # JVM double 0.0/0 is NaN, Python raises — pin the twin
                s_out.append(acc / n if n else float("nan"))
            out = pdf.drop(columns=["_toks"])
            out["n_tokens"] = pd.Series(n_out, dtype="int64", index=out.index)
            out[score_col] = pd.Series(s_out, dtype="float64", index=out.index)
            yield out[names]

    return rel.mapInPandas(gen, out_schema)


def unigram_lm_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id, n_tokens, mean_inv_prob)`` per document.

    Per-token term (N+V)/(c+1) is a single exact-rounded double
    division of integer-valued operands; the per-document sum folds
    the terms in token-position order, and the mean divides once at
    the end — every double op has a fixed operand order, so the
    result is reproducible bit-for-bit across engines and
    partitionings (pinned by the partitioning-invariance test)."""
    cmap, nv = _collect_counts(docs, text_col)
    rel = fan_out(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    return _fold_scores(rel, cmap, nv)


def with_unigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    widen: bool = False,
    model: tuple | None = None,
) -> DataFrame:
    """All input columns + ``(n_tokens, mean_inv_prob)`` appended —
    the quality-FILTER shape (r5). Because the score rides the
    document row itself, a consumer that only wants to filter on
    quality needs NO join back to an id table: the
    lang→quality→scrub chain of a corpus build stays one linear map
    stage. Same bits as :func:`unigram_lm_scores`.

    ``widen=True`` fans the SCORING side out too. Measured r5 on
    corpus_build3 (interleaved A/B at sf0.1): widen LOSES, 10.7 s vs
    9.7 s — the round-robin exchange ships the full text and every
    downstream stage pays 32 tasks of scheduling, while the fold
    itself is cheap at this corpus size. The flag stays for genuinely
    CPU-bound corpora; on a cluster the input arrives already split,
    so leave it off there too.

    ``model=(cmap, nv)`` injects pre-collected counts — composed
    builds use it to fold this model's collection into ONE driver job
    shared with their other broadcast artifacts (each separate
    ``collect`` is a full job barrier)."""
    cmap, nv = model if model is not None else _collect_counts(docs, text_col)
    if widen:
        docs = fan_out(docs)
    rel = docs.withColumn("_toks", tokens(F.col(text_col)))
    return _fold_scores(rel, cmap, nv)


def seed_lm_scores(
    seed_docs: DataFrame,
    score_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-move quality scoring: the LM is trained on a
    HIGH-QUALITY SEED corpus (CCNet scores CommonCrawl by perplexity
    under a Wikipedia-trained model), then every candidate document
    is scored by its mean inverse token probability under that seed
    model — low = seed-like, high = out-of-domain/garbage. Tokens the
    seed never saw take the add-one-smoothed maximum term
    ``(N + V) / 1`` (the kernel's count-0 default).

    Same bit-exactness contract as :func:`unigram_lm_scores`
    (rational per-token terms, position-ordered fold); same scale
    shape — seed counts are a broadcast dimension (seed corpora are
    curated and small relative to the crawl), candidates score
    map-only, nothing self-joins."""
    cmap, nv = _collect_counts(seed_docs, text_col)
    rel = fan_out(score_docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    return _fold_scores(rel, cmap, nv, score_col="seed_mean_inv_prob")
