"""Training-prep + corpus builds: packing, sampling, curriculum, shards (tp*), composed corpus_build* capstones.

Split out of registry.py (r6); function bodies unchanged. ``QUERIES``
and ``ORACLES`` are assembled into the full registry by
``registry/__init__.py``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import hash32, lsh_candidate_pairs, minhash_bands
from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import ngram_contamination
from enriched_crime_incident_data_pipeline_spark.functions.text import (doc_fingerprint, lang_id, quality_features, scrub_pii, token_count, tokens)
from enriched_crime_incident_data_pipeline_spark.sources.catalog import load_table

from enriched_crime_incident_data_pipeline_spark.registry._shared import (
    _MIXTURE_CURVE_SQL,
    MIXTURE_TARGETS_BP,
    _HASH32,
    _LANG_CASE,
    _LANG_SCORES,
    _MINHASH_BANDS_SQL,
    _NORM,
    _STOPWORD_SETS,
    _TA11_SQL,
    _TOKENS,
    _TOKEN_COUNT,
)




def q_tp20_fragmentation_by_source(spark, sf_dir):
    # tp18 publishes the GLOBAL boundary-crossing share — this
    # attributes it: WHICH source's documents fragment the packs
    # (long-doc sources cross chunk boundaries; short-doc sources
    # don't), the number a mixture designer reads next to dc9's
    # leak-by-source and ta17's filter attribution. Reuses tp1/tp18's
    # two-phase prefix-sum relation verbatim (pack_assignments with
    # the size column precomputed so text never enters the plan),
    # joined back to the (doc_id, source) projection on the primary
    # key — co-partitioned at scale, broadcast under AQE at test SFs
    # — then ONE conditional agg over the ≤|sources| domain.
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        PACK_BUDGET,
        pack_assignments,
    )
    from enriched_crime_incident_data_pipeline_spark.functions.text import (
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", token_count(F.col("text")).cast("bigint").alias("nt")
    )
    pa = pack_assignments(sized, size_col="nt")
    j = pa.join(sized.select("doc_id", "source"), "doc_id")
    crossing = (
        F.col("start_offset") + F.col("n_tokens")
        > (F.col("pack_id") + 1) * PACK_BUDGET
    )
    g = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(crossing.cast("int")).cast("bigint").alias("docs_crossing"),
    )
    return g.select(
        "source",
        "n_docs",
        "total_tokens",
        "docs_crossing",
        F.expr("CAST((docs_crossing * 10000) DIV n_docs AS BIGINT)").alias(
            "crossing_bp"
        ),
    )


def q_tp18_fragmentation_report(spark, sf_dir):
    # the OTHER side of tp17's trade: concat-and-chunk packing (tp1)
    # wastes nothing but FRAGMENTS — a doc whose span crosses a
    # chunk boundary is split across training sequences. One row:
    # docs, packs, docs whose [start, start+n_tokens) crosses their
    # pack's end, the crossing share in bp, and docs-per-pack ×100
    # (exact integers). Reuses tp1's two-phase prefix-sum relation
    # verbatim (datapipe/corpus.pack_assignments) + one conditional
    # agg — no new shuffle shape.
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        PACK_BUDGET,
        pack_assignments,
    )

    docs = load_table(spark, sf_dir, "documents")
    pa = pack_assignments(docs)
    crossing = (
        F.col("start_offset") + F.col("n_tokens")
        > (F.col("pack_id") + 1) * PACK_BUDGET
    )
    return pa.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("pack_id").cast("bigint").alias("n_packs"),
        F.sum(crossing.cast("int")).cast("bigint").alias("docs_crossing"),
    ).select(
        "n_docs",
        "n_packs",
        "docs_crossing",
        F.expr("CAST((docs_crossing * 10000) DIV n_docs AS BIGINT)").alias(
            "crossing_bp"
        ),
        F.expr("CAST((n_docs * 100) DIV n_packs AS BIGINT)").alias(
            "docs_per_pack_c"
        ),
    )


def q_tp17_truncation_loss(spark, sf_dir):
    # the max-sequence-length sizing artifact (tp1 packs; this prices
    # the OTHER regime — truncation, what a finetuning/eval loader
    # does when documents can't span windows): for max_len candidates
    # L = 512/2048/8192, the token mass LOST to truncation
    # (Σ max(0, n_tokens − L)), the docs affected, and the kept share
    # in bp. ONE documents pass computes per-doc token counts; all
    # three L's are conditional-agg cells of ONE 1-row aggregate
    # (the ss19/tok11 idiom — never a per-L union re-scanning
    # parquet), stack-unpivoted to the 3-row curve. Exact integers.
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(token_count(F.col("text")).cast("bigint").alias("nt"))
    ls = (512, 2048, 8192)
    cells = [
        F.sum("nt").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    ]
    for l in ls:
        cells.append(
            F.sum(F.greatest(F.lit(0), F.col("nt") - F.lit(l)))
            .cast("bigint")
            .alias(f"lost_{l}")
        )
        cells.append(
            F.sum((F.col("nt") > F.lit(l)).cast("int"))
            .cast("bigint")
            .alias(f"cut_{l}")
        )
    one = t.agg(*cells)
    return one.select(
        F.expr(
            "stack(3, "
            + ", ".join(f"{l}, lost_{l}, cut_{l}" for l in ls)
            + ") AS (max_len, lost_tokens, docs_truncated)"
        ),
        "total_tokens",
        "n_docs",
    ).select(
        F.col("max_len").cast("int").alias("max_len"),
        "lost_tokens",
        "docs_truncated",
        "total_tokens",
        "n_docs",
        F.expr(
            "CAST(((total_tokens - lost_tokens) * 10000)"
            " DIV total_tokens AS BIGINT)"
        ).alias("kept_bp"),
    )


def q_tp19_pack_budget_curve(spark, sf_dir):
    # the pack-BUDGET sizing artifact (r10; completes the tp17/tp18
    # trade study): for budgets 128/256/512/1024, the pack count,
    # boundary-crossing doc count/share, and docs-per-pack. KEY
    # insight making this one pass: the prefix-sum start_offset is
    # budget-INDEPENDENT — only pack_id = floor(start DIV b) varies —
    # so ONE pack_assignments relation prices every budget as
    # conditional cells of one aggregate (the ss19/tok11 idiom; the
    # 4-way count_distinct compiles to the planner's standard Expand,
    # 4x partial-agg rows, cost stated), stack-unpivoted to the
    # 4-row curve. Exact integers.
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        pack_assignments,
    )

    docs = load_table(spark, sf_dir, "documents")
    pa = pack_assignments(docs).select("n_tokens", "start_offset")
    budgets = (128, 256, 512, 1024)
    cells = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    for b in budgets:
        pid = F.floor(F.col("start_offset") / F.lit(b))
        cells.append(
            F.count_distinct(pid).cast("bigint").alias(f"np_{b}")
        )
        cells.append(
            F.sum(
                (
                    F.col("start_offset") + F.col("n_tokens")
                    > (pid + 1) * F.lit(b)
                ).cast("int")
            )
            .cast("bigint")
            .alias(f"nc_{b}")
        )
    one = pa.agg(*cells)
    return one.select(
        F.expr(
            "stack(4, "
            + ", ".join(f"{b}, np_{b}, nc_{b}" for b in budgets)
            + ") AS (budget, n_packs, docs_crossing)"
        ),
        "n_docs",
    ).select(
        F.col("budget").cast("int").alias("budget"),
        "n_packs",
        "docs_crossing",
        "n_docs",
        F.expr(
            "CAST((docs_crossing * 10000) DIV n_docs AS BIGINT)"
        ).alias("crossing_bp"),
        F.expr("CAST((n_docs * 100) DIV n_packs AS BIGINT)").alias(
            "docs_per_pack_c"
        ),
    )


def q_tp1_pack(spark, sf_dir):
    # concat-and-chunk sequence packing via two-phase prefix sum —
    # the only corpus-wide windows run per value-derived bucket, plus
    # one window over the (tiny) bucket-totals relation
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        pack_assignments,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pack_assignments(docs)


def q_tp2_stratified_sample(spark, sf_dir):
    # deterministic hash-based stratified sampling (reproducible
    # across engines/runs — no RNG state)
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, rates_bp={"src0": 10000, "src1": 5000, "src2": 0}, default_bp=2500
    ).select("doc_id", "source")


def q_tp3_boilerplate_prune(spark, sf_dir):
    # document-frequency boilerplate removal + order-preserving
    # reassembly (integer-math threshold: df·100 ≥ pct·n_docs)
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        prune_boilerplate,
    )

    docs = load_table(spark, sf_dir, "documents")
    return prune_boilerplate(docs, df_pct_threshold=79)


def q_tp4_shuffle_shards(spark, sf_dir):
    # deterministic global training-order shuffle into shards
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        shuffle_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    return shuffle_shards(docs, n_shards=8)


def q_corpus_refresh1(spark, sf_dir):
    # INCREMENTAL corpus refresh (r5 capstone): the verdict a daily
    # snapshot ingest issues for every ARRIVING doc (old corpus =
    # doc_id < 250, arriving batch = rest), with cost ∝ the
    # increment, never the standing corpus:
    #   1. exact cross-snapshot dedup — fingerprint probe against the
    #      standing fingerprint table (dc2's mechanism);
    #   2. near-dup vs the STANDING band index — incremental LSH
    #      (dd12's mechanism: index append-only, batch bands probe
    #      it, |new|×hit-rate work, corpus never self-joins);
    #      new-vs-new pairs use the one-shot pairwise keep-lowest-id
    #      policy (the cluster-level keeper variant is dd9/dd10);
    #   3. 8-gram decontamination — broadcast eval grams, in-row
    #      kernel flag (dc6's mechanism).
    # Verdict precedence: exact_dup > near_dup_old > near_dup_new >
    # contaminated > kept. Output: one row per arriving doc.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        incremental_lsh_pairs,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        with_contamination_flag,
    )

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "text", doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    new = fp.filter(F.col("doc_id") >= 250)
    old_fps = (
        fp.filter(F.col("doc_id") < 250).select("fingerprint").distinct()
    )
    exact_ids = (
        new.join(old_fps, "fingerprint", "left_semi")
        .select("doc_id")
        .withColumn("_e", F.lit(1))
    )
    bands = minhash_bands(docs)
    pairs = incremental_lsh_pairs(
        bands.filter(F.col("doc_id") >= 250),
        bands.filter(F.col("doc_id") < 250),
    )
    # pairs are (least, greatest); old ids < 250 <= new ids, so a
    # cross pair always has the old doc on the a side
    near_old = (
        pairs.filter((F.col("a") < 250) & (F.col("b") >= 250))
        .select(F.col("b").alias("doc_id"))
        .distinct()
        .withColumn("_no", F.lit(1))
    )
    near_new = (
        pairs.filter(F.col("a") >= 250)
        .select(F.col("b").alias("doc_id"))
        .distinct()
        .withColumn("_nn", F.lit(1))
    )
    eval_docs = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    contam = (
        with_contamination_flag(new.select("doc_id", "text"), eval_docs, n=8)
        .filter(F.col("contaminated") == 1)
        .select("doc_id")
        .withColumn("_c", F.lit(1))
    )
    return (
        new.select("doc_id")
        .join(exact_ids, "doc_id", "left")
        .join(near_old, "doc_id", "left")
        .join(near_new, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e") == 1, F.lit("exact_dup"))
            .when(F.col("_no") == 1, F.lit("near_dup_old"))
            .when(F.col("_nn") == 1, F.lit("near_dup_new"))
            .when(F.col("_c") == 1, F.lit("contaminated"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
    )


def q_corpus_report1(spark, sf_dir):
    # the DATASET CARD: one small (section, key, value) report a
    # curation pipeline publishes with a corpus — size/token totals,
    # language and source composition, near-dup exposure, eval
    # contamination. Every section is a tiny aggregate over operators
    # the engine already runs at scale; the report relation itself is
    # dozens of rows, so the unions are free.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        _pin,
        lsh_candidate_pairs,
        minhash_bands,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("nt"),
        lang_id(F.col("text")).alias("lang"),
    )
    c = toks.agg(
        F.count(F.lit(1)).alias("n"), F.sum("nt").alias("t")
    )
    corpus_rows = c.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("corpus").alias("section"),
                    F.lit("n_docs").alias("key"),
                    F.col("n").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("corpus").alias("section"),
                    F.lit("total_tokens").alias("key"),
                    F.col("t").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("corpus").alias("section"),
                    F.lit("mean_doc_tokens").alias("key"),
                    (F.col("t").cast("double") / F.col("n").cast("double")).alias(
                        "value"
                    ),
                ),
            )
        ).alias("r")
    ).select("r.*")
    lang_rows = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).select(
        F.lit("lang").alias("section"),
        F.col("lang").alias("key"),
        F.col("c").cast("double").alias("value"),
    )
    source_rows = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("c")
    ).select(
        F.lit("source").alias("section"),
        F.col("source").alias("key"),
        F.col("c").cast("double").alias("value"),
    )
    pairs = _pin(lsh_candidate_pairs(minhash_bands(docs)))
    dup_pair_rows = pairs.agg(F.count(F.lit(1)).alias("c")).select(
        F.lit("dedup").alias("section"),
        F.lit("near_dup_pairs").alias("key"),
        F.col("c").cast("double").alias("value"),
    )
    dup_doc_rows = (
        pairs.select(F.col("a").alias("d"))
        .unionAll(pairs.select(F.col("b").alias("d")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.lit("dedup").alias("section"),
            F.lit("docs_in_dup_pairs").alias("key"),
            F.col("c").cast("double").alias("value"),
        )
    )
    eval_docs = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text")
    contam_rows = (
        ngram_contamination(train, eval_docs, n=8)
        .agg(F.sum("contaminated").alias("c"))
        .select(
            F.lit("decontamination").alias("section"),
            F.lit("contaminated_docs").alias("key"),
            F.col("c").cast("double").alias("value"),
        )
    )
    return (
        corpus_rows.unionByName(lang_rows)
        .unionByName(source_rows)
        .unionByName(dup_pair_rows)
        .unionByName(dup_doc_rows)
        .unionByName(contam_rows)
    )


def q_corpus_build2(spark, sf_dir):
    # the round-2 corpus build, composed end-to-end from the new
    # operators: LM-quality filter (corpus-trained perplexity proxy)
    # → doc-level near-dup removal via the keeper drop-list →
    # corpus-wide segment dedup. One declared DAG.
    from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
        connected_components,
        dedup_drop_list,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        segment_dedup,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.lm import (
        with_unigram_lm_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r5: in-row quality score — filter without the ids join-back;
    # stage boundary after the filter (fdocs feeds the band index,
    # the size table, and the anti-join — 3 consumers, one cut)
    fdocs = (
        with_unigram_lm_scores(docs)
        .filter((F.col("n_tokens") >= 10) & (F.col("mean_inv_prob") <= 35.0))
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    members = connected_components(lsh_candidate_pairs(minhash_bands(fdocs)))
    sizes = fdocs.select(
        F.col("doc_id").alias("node"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    drops = dedup_drop_list(members, sizes).select("doc_id")
    clean = fdocs.join(drops, "doc_id", "left_anti")
    return segment_dedup(clean, seg_tokens=10)


def q_tp10_budget_select(spark, sf_dir):
    # data-constrained scaling: keep the best-quality docs (lowest
    # LM mean inverse probability) whose cumulative tokens fit a
    # 20k budget — two-phase prefix sum in quality order, no global
    # single-partition window over the corpus
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        budget_select,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.lm import (
        unigram_lm_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    return budget_select(unigram_lm_scores(docs), budget=20000)


def q_tp11_curriculum_order(spark, sf_dir):
    # curriculum schedule: dense global position in easy→hard order
    # (ascending LM mean inverse probability, doc_id tiebreak),
    # computed as a two-phase bucketed rank — floor(score) is the
    # deterministic monotone bucket — never a corpus-wide
    # single-partition window
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        global_order_index,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.lm import (
        unigram_lm_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    scores = unigram_lm_scores(docs)
    return global_order_index(
        scores,
        ["mean_inv_prob", "doc_id"],
        F.floor(F.col("mean_inv_prob")).cast("bigint"),
        index_col="curriculum_pos",
    ).select("doc_id", "curriculum_pos")


def q_corpus_build4(spark, sf_dir):
    # the data-constrained-scaling recipe composed from the round-3
    # operators: a curated seed split (doc_id % 10 < 2) trains the
    # quality LM (ta14, CCNet move); candidates are scored under it,
    # the best-scored prefix fitting a 20k-token budget is selected
    # (tp10, two-phase prefix sum), and every selected doc gets its
    # dense curriculum position easy->hard (tp11, value-bucketed
    # global rank). Seed counts broadcast; no corpus self-join
    # anywhere; no single-partition window over the corpus.
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        budget_select,
        global_order_index,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.lm import (
        seed_lm_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = seed_lm_scores(
        docs.filter(F.col("doc_id") % 10 < 2),
        docs.filter(F.col("doc_id") % 10 >= 2),
    )
    picked = budget_select(
        scored, budget=20000, quality_col="seed_mean_inv_prob"
    )
    ranked = global_order_index(
        picked.join(scored.select("doc_id", "seed_mean_inv_prob"), "doc_id"),
        ["seed_mean_inv_prob", "doc_id"],
        F.floor(F.col("seed_mean_inv_prob")).cast("bigint"),
        index_col="curriculum_pos",
    )
    return ranked.select("doc_id", "n_tokens", "cum_tokens", "curriculum_pos")


def q_corpus_build3(spark, sf_dir):
    # the capstone: the FULL pretraining-data recipe as one declared
    # DAG — lang-ID filter → LM-quality filter (LM trained on the
    # surviving subset) → PII scrub → 8-gram decontamination against
    # a held-out eval split → near-dup keeper drop (MinHash/LSH → CC
    # → keep-longest) → corpus-wide segment dedup → mixture sample to
    # the target source composition → concat-and-chunk packing →
    # deterministic shard shuffle. Every model artifact (LM token
    # counts, band index, eval-gram set, quotas) is computed on the
    # stage's own input, broadcast where small; the corpus is never
    # self-joined outside the banded LSH stage.
    from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
        connected_components,
        dedup_drop_list,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        mixture_sample,
        pack_assignments,
        shuffle_shards,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        segment_dedup,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
        doc_ngrams,
        with_contamination_flag,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.lm import (
        with_unigram_lm_scores,
    )
    from enriched_crime_incident_data_pipeline_spark.operators.parallelism import (
        fan_out,
    )
    # 0. width correction at the SCAN (r5, measured A/B at sf0.1:
    #    8.4 vs 9.1 s): the local test file is one parquet split, so
    #    without this the whole lang→LM→scrub→decontaminate chain
    #    runs single-threaded. One round-robin exchange of the raw
    #    bytes up front parallelizes every downstream stage; the cut
    #    makes the wide form the one the three artifact consumers
    #    below re-read. On a cluster the scan already arrives split
    #    and the exchange only re-balances it.
    # LAZY cut (r5 barrier trim): the first consumer is the `art`
    # union collect below, which scans every partition of both
    # branches — Spark's post-job doCheckpoint then owns the blocks,
    # so the dedicated materialization job disappears while the
    # multi-consumer dedup (endocs/eval_docs/cdocs all re-read the
    # blocks) is unchanged. Plans stay truncated either way: lazy
    # Dataset.localCheckpoint still swaps in the LogicalRDD node.
    docs = fan_out(load_table(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )
    # 1. language filter: keep docs the stopword heuristic calls 'en'
    endocs = docs.filter(lang_id(F.col("text")) == "en").select(
        "doc_id", "source", "text"
    )
    eval_docs = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    # model artifacts in ONE driver job (r5): the LM unigram counts
    # (trained on the lang-filtered subset) and the eval-split 8-gram
    # set are both tiny broadcast dimensions; collecting them
    # separately costs a full job barrier each, so they ride one
    # tagged union. Same bits as the per-function collects.
    art = (
        fan_out(endocs)
        .select(F.explode(tokens(F.col("text"))).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit("tok").alias("kind"), "k", "c")
        .unionByName(
            doc_ngrams(eval_docs, 8)
            .select("gram")
            .distinct()
            .select(
                F.lit("gram").alias("kind"),
                F.col("gram").alias("k"),
                F.lit(0).cast("bigint").alias("c"),
            )
        )
        .collect()
    )
    cmap = {r["k"]: r["c"] for r in art if r["kind"] == "tok"}
    lm_model = (cmap, float(sum(cmap.values()) + len(cmap)))
    egrams = frozenset(r["k"] for r in art if r["kind"] == "gram")
    # 2. LM quality, trained on the lang-filtered subset itself.
    #    r5: the score is appended in-row by the Arrow fold kernel,
    #    so the filter needs no ids→docs join-back.
    qdocs = (
        with_unigram_lm_scores(endocs, model=lm_model)
        .filter((F.col("n_tokens") >= 10) & (F.col("mean_inv_prob") <= 40.0))
        .select("doc_id", "source", "text")
    )
    # 3. PII scrub (JVM regex, whole-stage codegen)
    sdocs = qdocs.select(
        "doc_id", "source", scrub_pii(F.col("text")).alias("text")
    )
    # 4. decontamination: eval split = every 50th ORIGINAL doc.
    #    r5 fusion: the contamination flag is computed IN-ROW (Arrow
    #    kernel probing the broadcast eval-gram frozenset over the
    #    row's own grams), so stages 1-4 are ONE linear map stage
    #    with a single cut at the end: the r4 shape needed a `train`
    #    checkpoint (the report relation join-back would otherwise
    #    double-execute the lang→LM→PII lineage) plus a per-gram
    #    explode + groupBy shuffle + two joins, all gone. At 100 TB
    #    this whole chain is the single bronze→silver pass.
    # cdocs is referenced by three downstream consumers (band index,
    # size table, anti-join) — materialize it once so the plan tree
    # stays linear in stage count, not exponential in reference count.
    # r6 fusion (the r5 verdict's top item): the SAME materialization
    # pass also computes every per-row artifact the dedup stages need
    # — the 16-hash minhash signature (mh0..mh15), the token count,
    # and the 10-token segment-hash array — so the band index, the
    # keeper size table, and the segment pass all read COLUMNS of the
    # checkpointed relation instead of re-tokenizing/re-hashing the
    # text in three separate scans. At 100 TB those were three full
    # corpus re-reads; now the text is tokenized once for artifacts
    # (here) and once more only in the rebuild slice.
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        bands_from_sigs,
        keep_first_segment,
        with_minhash_cols,
        with_segment_hash_array,
    )

    cdocs = (
        with_segment_hash_array(
            with_minhash_cols(
                with_contamination_flag(
                    sdocs.filter(F.col("doc_id") % 50 != 0),
                    eval_docs,
                    n=8,
                    eval_grams=egrams,
                )
                .filter(F.col("contaminated") == 0)
                .select(
                    "doc_id",
                    "source",
                    "text",
                    token_count(F.col("text")).alias("n_tokens"),
                )
            ),
            seg_tokens=10,
        )
        .localCheckpoint(eager=True)
    )
    # 5. near-dup keeper drop over the scrubbed survivors — banding
    # reads the precomputed signature columns (no shingle hashing in
    # the candidate join's lineage, which also makes the CC driver
    # tier's sizing take cheap to re-enter)
    members = connected_components(
        lsh_candidate_pairs(bands_from_sigs(cdocs))
    )
    sizes = cdocs.select(F.col("doc_id").alias("node"), "n_tokens")
    drops = dedup_drop_list(members, sizes).select("doc_id")
    # stage boundary (r5): kdocs feeds BOTH the segment pass/rebuild
    # and the source join-back below — one cut here replaces
    # segment_dedup's internal pin AND stops the drop-list anti-join
    # from executing twice (once per consumer)
    # lazy: the segment pass's keeper aggregation scans kdocs in
    # full, so the blocks materialize inside that job (one barrier
    # saved)
    kdocs = cdocs.join(drops, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    # 6. corpus-wide segment dedup (10-token segments, keep-first),
    # composed from segment_dedup's own halves: the segment relation
    # is a posexplode of the PRECOMPUTED hash array (bit-identical to
    # doc_segments — empty docs carry an empty array and emit no
    # rows) and the keeper rule is the shared keep_first_segment.
    # NO TEXT REBUILD (r6): nothing downstream reads deduped text —
    # mixture_sample consumes (doc_id, source) and packing consumes
    # token counts — so rebuilding, materializing, and re-tokenizing
    # the deduped corpus existed only to COUNT its tokens. That count
    # is exact arithmetic over the kept indices: every segment is 10
    # tokens except the last (n_tokens − 10·(n_segs−1)), so per doc
    # it's 10·(kept full segs) + (last length if the max kept index
    # is the last — indices are distinct, so only the max can be it).
    # Manual column pruning through the rebuild: the query output is
    # bit-identical (pinned by the unchanged oracle), and at 100 TB
    # the silver→gold pass stops carrying document text entirely. A
    # consumer that needs the text itself uses segment_dedup's
    # rebuild_winners (still the dd11 operator).
    # Cut at surv: tiny (id, source, two ints) rows feed the mixture
    # quotas, the ranked sample, the pack sizes, and the final join.
    # lazy: mixture_sample's quota broadcast-build aggregates every
    # surv partition before the rank stage runs, so the first job
    # through `sampled` materializes these blocks too
    segs = kdocs.select(
        "doc_id", F.posexplode("seg_hashes").alias("seg_idx", "seg_hash")
    )
    stats = (
        keep_first_segment(segs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_kept"),
            F.max("seg_idx").alias("_mx"),
        )
    )
    n_segs = F.floor((F.col("n_tokens") + F.lit(9)) / F.lit(10)).cast("int")
    has_last = (F.col("_mx") == n_segs - F.lit(1)).cast("bigint")
    last_len = (
        F.col("n_tokens").cast("bigint")
        - F.lit(10) * (n_segs - F.lit(1)).cast("bigint")
    )
    surv = (
        stats.join(kdocs.select("doc_id", "source", "n_tokens"), "doc_id")
        .select(
            "doc_id",
            "source",
            "n_kept",
            (
                F.lit(10) * (F.col("n_kept").cast("bigint") - has_last)
                + has_last * last_len
            ).alias("kept_tokens"),
        )
        .localCheckpoint(eager=False)
    )
    # 7. mixture sample to the target composition over the survivors;
    # the sample id-list feeds packing, sharding, and the final join —
    # materialize it once (it is ids+source only): without the cut the
    # quota-ranking subplan (and its 1-row scalar BNLJs) replicates
    # into every consumer, and the r5 A/B showed no wall-clock win to
    # offset the plan blow-up.
    # lazy (r5 session-2): the LogicalRDD truncation — which is what
    # kept the quota subplan's scalar BNLJs out of every consumer —
    # happens at call time regardless of eagerness; the final job's
    # first full scan materializes the blocks, deleting the last
    # dedicated barrier. (DROPPING the cut was measured and reverted
    # in the r5 trail above — plan replication; lazy keeps the plans
    # bit-identical to eager.)
    sampled = mixture_sample(surv, MIXTURE_TARGETS_BP).localCheckpoint(
        eager=False
    )
    sdocs2 = sampled.join(surv.select("doc_id", "kept_tokens"), "doc_id")
    # 8. packing offsets over the sampled corpus (two-phase prefix
    # sum over the precomputed kept-token sizes — no text column)
    packed = pack_assignments(sdocs2, size_col="kept_tokens")
    # 9. deterministic shard shuffle of the final examples
    shards = shuffle_shards(sampled)
    return (
        sampled.join(packed, "doc_id")
        .join(shards, "doc_id")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "start_offset",
            "pack_id",
            "shard",
            "position",
        )
    )


def q_tp5_sliding_chunks(spark, sf_dir):
    # RAG/context-window chunking: overlapping token windows, map-only
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        sliding_chunks,
    )

    docs = load_table(spark, sf_dir, "documents")
    return sliding_chunks(docs, chunk_tokens=16, stride=12)


def q_tp6_group_sample(spark, sf_dir):
    # deterministic k-per-group sample (reservoir-equivalent, stable)
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        group_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return group_sample(docs, k=3)


def q_corpus_build(spark, sf_dir):
    # the whole training-corpus build, composed end-to-end from the
    # engine's own stages: quality keep/drop → near-dup clustering
    # keeps one canonical doc per cluster → concat-and-chunk packing
    # of the survivors. One declared query = the pipeline a 100 TB
    # corpus run executes.
    from enriched_crime_incident_data_pipeline_spark.datapipe.clusters import (
        dup_clusters,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        pack_assignments,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    keep = (
        (feats["n_tokens"] >= 10)
        & (feats["n_tokens"] <= 500)
        & (feats["stopword_ratio"] >= 0.05)
        & (feats["digit_ratio"] <= 0.2)
        & (feats["punct_ratio"] <= 0.2)
    )
    canonical = (
        dup_clusters(docs, lsh_candidate_pairs(minhash_bands(docs)))
        .filter(F.col("is_canonical"))
        .select("doc_id")
    )
    kept = (
        docs.withColumn("_keep", keep)
        .filter(F.col("_keep"))
        .join(canonical, "doc_id")
        .select("doc_id", "text")
    )
    return pack_assignments(kept, budget=256)


def q_tp8_weighted_sample(spark, sf_dir):
    # quality-proportional sampling: keep probability = clamped
    # integer weight per row (longer docs likelier kept), hash-based
    # so the sample is engine- and layout-independent
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        weighted_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    weight = F.least(F.col("n_chars") * 20, F.lit(9000)).cast("int")
    weighted = docs.withColumn("weight_bp", weight)
    kept = weighted_sample(weighted, F.col("weight_bp"))
    return kept.select("doc_id", "weight_bp")


def q_tp7_length_buckets(spark, sf_dir):
    # power-of-two token-length histogram (batch/packing design aid);
    # bucket index from the binary-representation length — pure
    # integer math, no log2 floats at bucket boundaries
    docs = load_table(spark, sf_dir, "documents")
    n = token_count(F.col("text"))
    bucketed = docs.select(
        F.length(F.bin(n)).cast("int").alias("bucket"), n.alias("n_tokens")
    )
    g = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.sum("n_tokens").cast("int").alias("sum_tokens"),
    )
    return g.select(
        "bucket",
        F.expr("shiftleft(1, bucket - 1)").cast("int").alias("lo"),
        F.expr("shiftleft(1, bucket) - 1").cast("int").alias("hi"),
        "n_docs",
        "sum_tokens",
    )


def q_tp9_mixture_sample(spark, sf_dir):
    # training-data mixture: the largest sample matching a target
    # source composition (60/30/10), sized by integer math in-engine;
    # per-source keepers are the lowest-md5 docs — deterministic
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        mixture_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return mixture_sample(docs, MIXTURE_TARGETS_BP)



def q_tp16_mixture_curve(spark, sf_dir):
    # the mixture table a temperature choice is made FROM (tok8/dd23/
    # ss18's artifact-curve pattern, for sampling): per stratum, the
    # resulting corpus share under T=2 (flatten, w = floor(sqrt(n)
    # at micro precision)), T=1 (natural, w = n) and T=1/2 (sharpen,
    # w = n²) — one stratum-count groupBy feeds all three rows per
    # stratum. Integer end-to-end: n and n² exactly; the sqrt weight
    # is floor of a correctly-rounded IEEE sqrt of an integer —
    # bit-identical in both engines by determinism (and exact floor
    # for every n below ~2^52 except the k²−1 ulp corner, which
    # both engines resolve identically). Shares in integer bp.
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "stratum",
        F.when(F.col("doc_id") % 10 < 6, "heavy")
        .when(F.col("doc_id") % 10 < 9, "mid")
        .otherwise("light"),
    )
    counts = docs.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    dec = "decimal(38,0)"
    weights = {
        "T=2_flatten": F.floor(
            F.sqrt(F.col("n_docs").cast("double") * F.lit(1e6))
        ).cast(dec),
        "T=1_natural": F.col("n_docs").cast(dec),
        "T=0.5_sharpen": (
            F.col("n_docs").cast(dec) * F.col("n_docs").cast(dec)
        ),
    }
    outs = []
    for label, w in weights.items():
        per = counts.select(
            F.lit(label).alias("temperature"),
            "stratum",
            "n_docs",
            w.alias("weight"),
        )
        tot = per.agg(F.sum("weight").alias("_tot"))
        outs.append(
            per.crossJoin(F.broadcast(tot)).select(
                "temperature",
                "stratum",
                "n_docs",
                F.col("weight").cast("bigint").alias("weight"),
                F.expr(
                    "CAST((weight * 10000) DIV _tot AS BIGINT)"
                ).alias("share_bp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_tp12_temperature_sample(spark, sf_dir):
    # T=2 temperature mixture: per-stratum keep rate sqrt(n_min/n_s)
    # via hash threshold — expected composition ∝ sqrt(n_s), smallest
    # stratum kept whole; selection is a pure function of doc ids.
    # The testdata's sources are uniform, so strata are derived
    # 60/30/10 skewed (the realistic shape temperature sampling
    # exists to flatten).
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        temperature_sample,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "stratum",
        F.when(F.col("doc_id") % 10 < 6, "heavy")
        .when(F.col("doc_id") % 10 < 9, "mid")
        .otherwise("light"),
    )
    return temperature_sample(docs, stratum_col="stratum")


def q_tp14_domain_upsample(spark, sf_dir):
    # deterministic upsampling WITH replacement — the mixture move
    # downsampling can't express: src0 repeats 2.5× in expectation
    # (2 copies + a 3rd iff the salted hash falls under the 5000 bp
    # fraction), src1 1.2×, src2 passes at 1×. Map-only
    # explode(sequence), no RNG, no shuffle; copy_idx is the clone's
    # stable identity for downstream shard shuffling.
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        domain_upsample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return domain_upsample(docs, {"src0": 25000, "src1": 12000})


def q_tp13_epoch_reshuffle(spark, sf_dir):
    # multi-epoch training order without materialization: every
    # (epoch, doc) gets a stable (shard, position) from an
    # epoch-salted hash — 3 independent permutations from one pass;
    # the per-(epoch, shard) rank window parallelizes across
    # epochs x shards
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        hash32,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = docs.select(
        "doc_id", F.explode(F.array(*[F.lit(e) for e in range(3)])).alias("epoch")
    )
    h = hash32(
        F.concat(
            F.lit("epoch"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    w = Window.partitionBy("epoch", "shard").orderBy("_h", "doc_id")
    return (
        epochs.withColumn("_h", h)
        .withColumn("shard", F.pmod(F.col("_h"), F.lit(8)).cast("int"))
        .withColumn("position", F.row_number().over(w))
        .select("epoch", "doc_id", "shard", "position")
    )

def q_tp15_weighted_k_sample(spark, sf_dir):
    # EXACT-size weighted sampling without replacement — the mixture
    # primitive tp8 (Bernoulli: independent keeps, random size) and
    # tp6 (per-group top-k, unweighted) don't cover: Efraimidis-
    # Spirakis exponential keys, keep the k largest. Weights are
    # power-of-two tiers 2^least(4, tokens DIV 64), so the key
    # u^(1/2^t) is sqrt applied t times — IEEE-correctly-rounded in
    # every engine, unlike pow/ln (the ts7 move applied to E-S).
    # One pass + global top-k (TakeOrdered: k rows per partition,
    # never a full sort).
    from enriched_crime_incident_data_pipeline_spark.datapipe.corpus import (
        weighted_sample_k,
    )

    docs = load_table(spark, sf_dir, "documents")
    tier = F.floor(token_count(F.col("text")) / 64).cast("int")
    return weighted_sample_k(docs, 100, tier)


QUERIES = {
    "corpus_build2": q_corpus_build2,
    "corpus_report1": q_corpus_report1,
    "corpus_build3": q_corpus_build3,
    "corpus_build4": q_corpus_build4,
    "corpus_refresh1": q_corpus_refresh1,
    "tp10_budget_select": q_tp10_budget_select,
    "tp11_curriculum_order": q_tp11_curriculum_order,
    "tp12_temperature_sample": q_tp12_temperature_sample,
    "tp16_mixture_curve": q_tp16_mixture_curve,
    "tp17_truncation_loss": q_tp17_truncation_loss,
    "tp18_fragmentation_report": q_tp18_fragmentation_report,
    "tp20_fragmentation_by_source": q_tp20_fragmentation_by_source,
    "tp19_pack_budget_curve": q_tp19_pack_budget_curve,
    "tp13_epoch_reshuffle": q_tp13_epoch_reshuffle,
    "tp14_domain_upsample": q_tp14_domain_upsample,
    "tp9_mixture_sample": q_tp9_mixture_sample,
    "tp1_pack": q_tp1_pack,
    "tp2_stratified_sample": q_tp2_stratified_sample,
    "tp3_boilerplate_prune": q_tp3_boilerplate_prune,
    "tp4_shuffle_shards": q_tp4_shuffle_shards,
    "tp5_sliding_chunks": q_tp5_sliding_chunks,
    "tp6_group_sample": q_tp6_group_sample,
    "corpus_build": q_corpus_build,
    "tp8_weighted_sample": q_tp8_weighted_sample,
    "tp15_weighted_k_sample": q_tp15_weighted_k_sample,
    "tp7_length_buckets": q_tp7_length_buckets,
}

def oracles() -> dict[str, str]:
    return {
        "tp16_mixture_curve": _MIXTURE_CURVE_SQL,
        "tp17_truncation_loss": f"""
            WITH t AS (
              SELECT CAST({_TOKEN_COUNT} AS BIGINT) AS nt FROM documents
            ),
            cells AS (
              SELECT CAST(sum(nt) AS BIGINT) AS total_tokens,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(greatest(0, nt - 512)) AS BIGINT) AS lost_512,
                     CAST(sum(CASE WHEN nt > 512 THEN 1 ELSE 0 END)
                       AS BIGINT) AS cut_512,
                     CAST(sum(greatest(0, nt - 2048)) AS BIGINT) AS lost_2048,
                     CAST(sum(CASE WHEN nt > 2048 THEN 1 ELSE 0 END)
                       AS BIGINT) AS cut_2048,
                     CAST(sum(greatest(0, nt - 8192)) AS BIGINT) AS lost_8192,
                     CAST(sum(CASE WHEN nt > 8192 THEN 1 ELSE 0 END)
                       AS BIGINT) AS cut_8192
              FROM t
            ),
            curve AS (
              SELECT 512 AS max_len, lost_512 AS lost_tokens,
                     cut_512 AS docs_truncated, total_tokens, n_docs
              FROM cells
              UNION ALL
              SELECT 2048, lost_2048, cut_2048, total_tokens, n_docs
              FROM cells
              UNION ALL
              SELECT 8192, lost_8192, cut_8192, total_tokens, n_docs
              FROM cells
            )
            SELECT CAST(max_len AS INTEGER) AS max_len, lost_tokens,
                   docs_truncated, total_tokens, n_docs,
                   CAST(((total_tokens - lost_tokens) * 10000)
                        // total_tokens AS BIGINT) AS kept_bp
            FROM curve
""",
        "tp15_weighted_k_sample": f"""
            WITH base AS (
              SELECT doc_id,
                CAST(least(greatest(({_TOKEN_COUNT}) // 64, 0), 4)
                     AS INT) AS tier,
                CAST({_HASH32.format(x="'es:' || doc_id")} + 1 AS DOUBLE)
                  / 4294967296.0 AS u
              FROM documents
            )
            SELECT doc_id, tier,
              CASE tier
                WHEN 0 THEN u
                WHEN 1 THEN sqrt(u)
                WHEN 2 THEN sqrt(sqrt(u))
                WHEN 3 THEN sqrt(sqrt(sqrt(u)))
                ELSE sqrt(sqrt(sqrt(sqrt(u)))) END AS es_key
            FROM base
            ORDER BY es_key DESC, doc_id LIMIT 100
""",
        "tp9_mixture_sample": f"""
                    WITH t(src, t_bp) AS (VALUES {", ".join(
                        f"('{k}', {v})" for k, v in sorted(MIXTURE_TARGETS_BP.items())
                    )}),
                    counts AS (
                      SELECT source AS src, count(*) AS n
                      FROM documents WHERE source IN (SELECT src FROM t)
                      GROUP BY source
                    ),
                    caps AS (
                      SELECT src, t_bp, (n * 10000) // t_bp AS cap
                      FROM counts JOIN t USING (src)
                    ),
                    tot AS (SELECT min(cap) AS T FROM caps),
                    quota AS (
                      SELECT src, (T * t_bp) // 10000 AS m
                      FROM caps CROSS JOIN tot
                    ),
                    ranked AS (
                      SELECT doc_id, source AS src,
                             row_number() OVER (
                               PARTITION BY source
                               ORDER BY {_HASH32.format(
                                   x="'mix:' || CAST(doc_id AS VARCHAR)")}, doc_id
                             ) AS rk
                      FROM documents WHERE source IN (SELECT src FROM t)
                    )
                    SELECT doc_id, src AS source
                    FROM ranked JOIN quota USING (src) WHERE rk <= m
                """,
        "corpus_build": f"""
                    WITH RECURSIVE pairs AS (
                      WITH bands AS ({_MINHASH_BANDS_SQL})
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    edges AS (
                      SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
                    ),
                    reach(node, label) AS (
                      SELECT DISTINCT a AS node, a AS label FROM edges
                      UNION
                      SELECT e.a AS node, r.label FROM edges e JOIN reach r ON r.node = e.b
                    ),
                    cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
                    canon AS (
                      SELECT d.doc_id FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
                      WHERE coalesce(cc.cluster_id, d.doc_id) = d.doc_id
                    ),
                    qbase AS (
                      SELECT doc_id,
                             length(text) AS n_chars,
                             {_TOKEN_COUNT} AS n_tokens,
                             len(list_filter({_TOKENS},
                                 t -> list_contains({_STOPWORD_SETS['en']}, t))) AS sw_hits,
                             length(text) - length(regexp_replace(text,
                               '[\\.,;:!\\?''"()\\[\\]{{}}-]', '', 'g')) AS punct_chars,
                             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                               AS digit_chars
                      FROM documents
                    ),
                    keepers AS (
                      SELECT doc_id FROM qbase
                      WHERE n_tokens >= 10 AND n_tokens <= 500
                        AND CASE WHEN n_tokens > 0
                            THEN CAST(sw_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                            ELSE 0.0 END >= 0.05
                        AND CASE WHEN n_chars > 0
                            THEN CAST(digit_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
                            ELSE 0.0 END <= 0.2
                        AND CASE WHEN n_chars > 0
                            THEN CAST(punct_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
                            ELSE 0.0 END <= 0.2
                    ),
                    sel AS (
                      SELECT q.doc_id, q.n_tokens::BIGINT AS n_tokens FROM qbase q
                      JOIN canon USING (doc_id) JOIN keepers USING (doc_id)
                    ),
                    o AS (
                      SELECT doc_id, n_tokens,
                        CAST(coalesce(sum(n_tokens) OVER (
                          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), 0) AS BIGINT) AS start_offset
                      FROM sel
                    )
                    SELECT doc_id, n_tokens, start_offset,
                           CAST(floor(start_offset / 256.0) AS BIGINT) AS pack_id
                    FROM o
                """,
        "tp5_sliding_chunks": f"""
                    WITH t AS (
                      SELECT doc_id, {_TOKENS} AS toks, {_TOKEN_COUNT} AS n FROM documents
                    ),
                    base AS (
                      SELECT doc_id, toks, n,
                             1 + (greatest(n - 16, 0) + 11) // 12 AS n_chunks
                      FROM t WHERE n > 0
                    )
                    SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
                           array_to_string(list_slice(toks, i*12 + 1, i*12 + 16), ' ')
                             AS chunk_text,
                           CAST(len(list_slice(toks, i*12 + 1, i*12 + 16)) AS INTEGER)
                             AS n_chunk_tokens
                    FROM base,
                    LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) g
                """,
        "tp6_group_sample": f"""
                    SELECT doc_id, source FROM documents
                    QUALIFY row_number() OVER (
                      PARTITION BY source
                      ORDER BY {_HASH32.format(x="'gs:' || doc_id")}, doc_id
                    ) <= 3
                """,
        "corpus_build2": f"""
                    WITH RECURSIVE lmq AS ({_TA11_SQL}),
                    quality AS (
                      SELECT doc_id FROM lmq
                      WHERE n_tokens >= 10 AND mean_inv_prob <= 35.0
                    ),
                    fdocs AS (
                      SELECT d.doc_id, d.text
                      FROM documents d JOIN quality q ON d.doc_id = q.doc_id
                    ),
                    bands AS ({_MINHASH_BANDS_SQL.replace("FROM documents", "FROM fdocs")}),
                    pairs AS (
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    edges AS (
                      SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
                    ),
                    reach(node, label) AS (
                      SELECT DISTINCT a AS node, a AS label FROM edges
                      UNION
                      SELECT e.a AS node, r.label FROM edges e JOIN reach r ON r.node = e.b
                    ),
                    cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
                    tc AS (SELECT doc_id, {_TOKEN_COUNT} AS n_tokens FROM fdocs),
                    sized AS (
                      SELECT cc.node, cc.cluster_id, tc.n_tokens
                      FROM cc JOIN tc ON cc.node = tc.doc_id
                    ),
                    keep AS (
                      SELECT cluster_id, node AS keeper_id FROM (
                        SELECT cluster_id, node,
                               row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY n_tokens DESC, node) AS rn
                        FROM sized
                      ) WHERE rn = 1
                    ),
                    drops AS (
                      SELECT s.node AS doc_id
                      FROM sized s JOIN keep k USING (cluster_id)
                      WHERE s.node <> k.keeper_id
                    ),
                    clean AS (
                      SELECT * FROM fdocs
                      WHERE doc_id NOT IN (SELECT doc_id FROM drops)
                    ),
                    stoks AS (
                      SELECT doc_id, {_TOKENS} AS ts FROM clean
                      WHERE {_NORM} <> ''
                    ),
                    sseg AS (
                      SELECT doc_id, CAST(g.i AS BIGINT) AS seg_idx,
                             array_to_string(
                               list_slice(ts, CAST(g.i * 10 + 1 AS INTEGER),
                                          CAST(g.i * 10 + 10 AS INTEGER)), ' ') AS seg
                      FROM stoks, LATERAL (
                        SELECT unnest(range(CAST(ceil(len(ts) / 10.0) AS BIGINT))) AS i
                      ) g
                    ),
                    skept AS (
                      SELECT doc_id, seg_idx, seg FROM (
                        SELECT doc_id, seg_idx, seg,
                               row_number() OVER (PARTITION BY md5(seg)
                                                  ORDER BY doc_id, seg_idx) AS rn
                        FROM sseg
                      ) WHERE rn = 1
                    )
                    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
                           string_agg(seg, ' ' ORDER BY seg_idx) AS deduped_text
                    FROM skept GROUP BY doc_id
                """,
        "corpus_build4": f"""
                    WITH seed_tok AS (
                      SELECT unnest({_TOKENS}) AS tok FROM documents
                      WHERE doc_id % 10 < 2
                    ),
                    counts AS (SELECT tok, count(*) AS c FROM seed_tok GROUP BY tok),
                    tot AS (
                      SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v
                      FROM counts
                    ),
                    toks AS (
                      SELECT doc_id, {_TOKENS} AS ts FROM documents
                      WHERE doc_id % 10 >= 2
                    ),
                    tok AS (
                      SELECT doc_id, unnest(ts) AS tok,
                             unnest(range(len(ts))) AS pos
                      FROM toks
                    ),
                    per AS (
                      SELECT t.doc_id, t.pos,
                             CAST(tot.n_total + tot.v AS DOUBLE)
                               / CAST(coalesce(co.c, 0) + 1 AS DOUBLE) AS ip
                      FROM tok t LEFT JOIN counts co ON t.tok = co.tok, tot
                    ),
                    agg AS (
                      SELECT doc_id, sum(ip ORDER BY pos) AS sum_ip,
                             count(*) AS n FROM per GROUP BY doc_id
                    ),
                    scored AS (
                      SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                             sum_ip / CAST(n AS DOUBLE) AS q
                      FROM agg
                    ),
                    cum AS (
                      SELECT doc_id, n_tokens, q,
                             CAST(sum(n_tokens) OVER (
                               ORDER BY q, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                             ) AS BIGINT) AS cum_tokens
                      FROM scored
                    ),
                    picked AS (
                      SELECT * FROM cum WHERE cum_tokens <= 20000
                    )
                    SELECT doc_id, n_tokens, cum_tokens,
                           CAST(row_number() OVER (ORDER BY q, doc_id)
                                AS BIGINT) AS curriculum_pos
                    FROM picked
                """,
        "corpus_build3": f"""
                    WITH RECURSIVE scores AS (
                      SELECT doc_id, source, text,
        {_LANG_SCORES}
                      FROM documents
                    ),
                    endocs AS MATERIALIZED (
                      SELECT doc_id, source, text FROM scores
                      WHERE {_LANG_CASE} = 'en'
                    ),
                    toks0 AS MATERIALIZED (SELECT doc_id, {_TOKENS} AS ts FROM endocs),
                    tok0 AS (
                      SELECT doc_id, unnest(ts) AS tok,
                             unnest(range(len(ts))) AS pos
                      FROM toks0
                    ),
                    counts0 AS (SELECT tok, count(*) AS c FROM tok0 GROUP BY tok),
                    tot0 AS (
                      SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v
                      FROM counts0
                    ),
                    per0 AS (
                      SELECT t0.doc_id, t0.pos,
                             CAST(tot0.n_total + tot0.v AS DOUBLE)
                               / CAST(co.c + 1 AS DOUBLE) AS ip
                      FROM tok0 t0 JOIN counts0 co ON t0.tok = co.tok, tot0
                    ),
                    lmq AS (
                      SELECT doc_id, count(*) AS n_tokens,
                             sum(ip ORDER BY pos) / CAST(count(*) AS DOUBLE)
                               AS mean_inv_prob
                      FROM per0 GROUP BY doc_id
                    ),
                    qdocs AS (
                      SELECT e.doc_id, e.source, e.text
                      FROM endocs e JOIN lmq ON e.doc_id = lmq.doc_id
                      WHERE lmq.n_tokens >= 10 AND lmq.mean_inv_prob <= 40.0
                    ),
                    sdocs AS MATERIALIZED (
                      SELECT doc_id, source,
                             regexp_replace(
                               regexp_replace(text,
                                 '[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+', '<EMAIL>', 'g'),
                               '555-[0-9]{{4}}', '<PHONE>', 'g') AS text
                      FROM qdocs
                    ),
                    evt AS (
                      SELECT doc_id, {_TOKENS} AS toks FROM documents
                      WHERE doc_id % 50 = 0
                    ),
                    evg AS (
                      SELECT DISTINCT
                             array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
                      FROM evt, unnest(generate_series(1, greatest(len(toks) - 7, 1)))
                                AS u(i)
                    ),
                    trw AS (SELECT doc_id, {_TOKENS} AS toks FROM sdocs
                            WHERE doc_id % 50 <> 0),
                    trg AS (
                      SELECT DISTINCT doc_id,
                             array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
                      FROM trw, unnest(generate_series(1, greatest(len(toks) - 7, 1)))
                                AS u(i)
                    ),
                    contam AS (SELECT DISTINCT g.doc_id FROM trg g JOIN evg USING (gram)),
                    cdocs AS MATERIALIZED (
                      SELECT * FROM sdocs
                      WHERE doc_id % 50 <> 0
                        AND doc_id NOT IN (SELECT doc_id FROM contam)
                    ),
                    bands AS MATERIALIZED ({_MINHASH_BANDS_SQL.replace("FROM documents", "FROM cdocs")}),
                    pairs AS (
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    edges AS (
                      SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
                    ),
                    reach(node, label) AS (
                      SELECT DISTINCT a AS node, a AS label FROM edges
                      UNION
                      SELECT e.a AS node, r.label FROM edges e JOIN reach r ON r.node = e.b
                    ),
                    cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
                    tc AS (SELECT doc_id, {_TOKEN_COUNT} AS n_tokens FROM cdocs),
                    sized AS (
                      SELECT cc.node, cc.cluster_id, tc.n_tokens
                      FROM cc JOIN tc ON cc.node = tc.doc_id
                    ),
                    keep AS (
                      SELECT cluster_id, node AS keeper_id FROM (
                        SELECT cluster_id, node,
                               row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY n_tokens DESC, node) AS rn
                        FROM sized
                      ) WHERE rn = 1
                    ),
                    drops AS (
                      SELECT s.node AS doc_id
                      FROM sized s JOIN keep k USING (cluster_id)
                      WHERE s.node <> k.keeper_id
                    ),
                    kdocs AS MATERIALIZED (
                      SELECT * FROM cdocs
                      WHERE doc_id NOT IN (SELECT doc_id FROM drops)
                    ),
                    stoks AS (
                      SELECT doc_id, {_TOKENS} AS ts FROM kdocs
                      WHERE {_NORM} <> ''
                    ),
                    sseg AS (
                      SELECT doc_id, CAST(g.i AS BIGINT) AS seg_idx,
                             array_to_string(
                               list_slice(ts, CAST(g.i * 10 + 1 AS INTEGER),
                                          CAST(g.i * 10 + 10 AS INTEGER)), ' ') AS seg
                      FROM stoks, LATERAL (
                        SELECT unnest(range(CAST(ceil(len(ts) / 10.0) AS BIGINT))) AS i
                      ) g
                    ),
                    skept AS (
                      SELECT doc_id, seg_idx, seg FROM (
                        SELECT doc_id, seg_idx, seg,
                               row_number() OVER (PARTITION BY md5(seg)
                                                  ORDER BY doc_id, seg_idx) AS rn
                        FROM sseg
                      ) WHERE rn = 1
                    ),
                    seg AS (
                      SELECT doc_id,
                             string_agg(sk.seg, ' ' ORDER BY seg_idx) AS deduped_text
                      FROM skept sk GROUP BY doc_id
                    ),
                    surv AS MATERIALIZED (
                      SELECT s.doc_id, k.source, s.deduped_text
                      FROM seg s JOIN kdocs k USING (doc_id)
                    ),
                    mt(src, t_bp) AS (VALUES {", ".join(
                        f"('{k}', {v})" for k, v in sorted(MIXTURE_TARGETS_BP.items())
                    )}),
                    mcounts AS (
                      SELECT source AS src, count(*) AS n
                      FROM surv WHERE source IN (SELECT src FROM mt)
                      GROUP BY source
                    ),
                    caps AS (
                      SELECT src, t_bp, (n * 10000) // t_bp AS cap
                      FROM mcounts JOIN mt USING (src)
                    ),
                    mtot AS (SELECT min(cap) AS T FROM caps),
                    quota AS (
                      SELECT src, (T * t_bp) // 10000 AS m
                      FROM caps CROSS JOIN mtot
                    ),
                    ranked AS (
                      SELECT doc_id, source AS src,
                             row_number() OVER (
                               PARTITION BY source
                               ORDER BY {_HASH32.format(
                                   x="'mix:' || CAST(doc_id AS VARCHAR)")}, doc_id
                             ) AS rk
                      FROM surv WHERE source IN (SELECT src FROM mt)
                    ),
                    sampled AS MATERIALIZED (
                      SELECT doc_id, src AS source
                      FROM ranked JOIN quota USING (src) WHERE rk <= m
                    ),
                    ptext AS (
                      SELECT sa.doc_id, sa.source, sv.deduped_text AS text
                      FROM sampled sa JOIN surv sv USING (doc_id)
                    ),
                    pt AS (
                      SELECT doc_id, source, CAST({_TOKEN_COUNT} AS BIGINT) AS n_tokens
                      FROM ptext
                    ),
                    po AS (
                      SELECT doc_id, source, n_tokens,
                        CAST(coalesce(sum(n_tokens) OVER (
                          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), 0) AS BIGINT) AS start_offset
                      FROM pt
                    ),
                    shr AS (
                      SELECT doc_id,
                             {_HASH32.format(
                                 x="'shuffle-v1:' || CAST(doc_id AS VARCHAR)")} AS hv
                      FROM sampled
                    )
                    SELECT po.doc_id, po.source, po.n_tokens, po.start_offset,
                           CAST(floor(po.start_offset / 256.0) AS BIGINT) AS pack_id,
                           CAST(hv % 8 AS INTEGER) AS shard,
                           CAST(row_number() OVER (PARTITION BY hv % 8
                                ORDER BY hv, po.doc_id) AS INTEGER) AS position
                    FROM po JOIN shr USING (doc_id)
                """,
        "tp11_curriculum_order": f"""
                    WITH lmq AS ({_TA11_SQL})
                    SELECT doc_id,
                           CAST(row_number() OVER (ORDER BY mean_inv_prob, doc_id)
                                AS BIGINT) AS curriculum_pos
                    FROM lmq
                """,
        "tp10_budget_select": f"""
                    WITH lmq AS ({_TA11_SQL}),
                    o AS (
                      SELECT doc_id, n_tokens,
                             CAST(sum(n_tokens) OVER (
                               ORDER BY mean_inv_prob, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                             ) AS BIGINT) AS cum_tokens
                      FROM lmq
                    )
                    SELECT doc_id, n_tokens, cum_tokens FROM o
                    WHERE cum_tokens <= 20000
                """,
        "corpus_refresh1": f"""
                    WITH fp AS (SELECT doc_id, md5({_NORM}) AS fingerprint
                                FROM documents),
                    newd AS (SELECT * FROM fp WHERE doc_id >= 250),
                    oldfp AS (SELECT DISTINCT fingerprint FROM fp
                              WHERE doc_id < 250),
                    exact AS (
                      SELECT DISTINCT n.doc_id FROM newd n
                      JOIN oldfp USING (fingerprint)
                    ),
                    bands AS ({_MINHASH_BANDS_SQL}),
                    nb AS (SELECT * FROM bands WHERE doc_id >= 250),
                    ob AS (SELECT * FROM bands WHERE doc_id < 250),
                    pairs AS (
                      SELECT DISTINCT a, b FROM (
                        SELECT least(n.doc_id, o.doc_id) AS a,
                               greatest(n.doc_id, o.doc_id) AS b
                        FROM nb n JOIN ob o
                          ON n.band_id = o.band_id AND n.band_hash = o.band_hash
                        WHERE n.doc_id <> o.doc_id
                        UNION ALL
                        SELECT l.doc_id AS a, r.doc_id AS b
                        FROM nb l JOIN nb r
                          ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                        WHERE l.doc_id < r.doc_id
                      )
                    ),
                    near_old AS (SELECT DISTINCT b AS doc_id FROM pairs
                                 WHERE a < 250 AND b >= 250),
                    near_new AS (SELECT DISTINCT b AS doc_id FROM pairs
                                 WHERE a >= 250),
                    w AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
                    g AS (
                      SELECT DISTINCT doc_id,
                             array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
                      FROM w, unnest(generate_series(1, greatest(len(toks) - 7, 1)))
                               AS t(i)
                    ),
                    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
                    contam AS (
                      SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
                      WHERE g.doc_id >= 250
                    )
                    SELECT n.doc_id,
                           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                                WHEN no_.doc_id IS NOT NULL THEN 'near_dup_old'
                                WHEN nn.doc_id IS NOT NULL THEN 'near_dup_new'
                                WHEN c.doc_id IS NOT NULL THEN 'contaminated'
                                ELSE 'kept' END AS verdict
                    FROM newd n
                    LEFT JOIN exact e ON n.doc_id = e.doc_id
                    LEFT JOIN near_old no_ ON n.doc_id = no_.doc_id
                    LEFT JOIN near_new nn ON n.doc_id = nn.doc_id
                    LEFT JOIN contam c ON n.doc_id = c.doc_id
                """,
        "tp14_domain_upsample": f"""
                    WITH rated AS (
                      SELECT doc_id, source,
                             CASE source WHEN 'src0' THEN 25000
                                         WHEN 'src1' THEN 12000
                                         ELSE 10000 END AS rate,
                             ({_HASH32.format(x="'up:' || doc_id")} % 10000) AS h
                      FROM documents
                    ),
                    counted AS (
                      SELECT doc_id, source,
                             rate // 10000
                             + CASE WHEN h < rate % 10000 THEN 1 ELSE 0 END AS n
                      FROM rated
                    )
                    SELECT doc_id, source, CAST(i AS INTEGER) AS copy_idx
                    FROM counted, unnest(generate_series(0, n - 1)) AS s(i)
                    WHERE n >= 1
                """,
        "tp13_epoch_reshuffle": f"""
                    WITH ep AS (
                      SELECT doc_id, e.epoch
                      FROM documents,
                           (SELECT unnest(range(3)) AS epoch) e
                    ),
                    h AS (
                      SELECT doc_id, CAST(epoch AS INTEGER) AS epoch,
                             {_HASH32.format(x="'epoch' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} AS hh
                      FROM ep
                    )
                    SELECT epoch, doc_id,
                           CAST(hh % 8 AS INTEGER) AS shard,
                           CAST(row_number() OVER (PARTITION BY epoch, hh % 8
                                                   ORDER BY hh, doc_id)
                                AS INTEGER) AS position
                    FROM h
                """,
        "tp12_temperature_sample": f"""
                    WITH strat AS (
                      SELECT doc_id,
                             CASE WHEN doc_id % 10 < 6 THEN 'heavy'
                                  WHEN doc_id % 10 < 9 THEN 'mid'
                                  ELSE 'light' END AS stratum
                      FROM documents
                    ),
                    counts AS (
                      SELECT stratum, count(*) AS n FROM strat GROUP BY stratum
                    ),
                    nmin AS (SELECT min(n) AS nmin FROM counts),
                    rates AS (
                      SELECT stratum,
                             CAST(floor(sqrt(CAST(nmin AS DOUBLE)
                                             / CAST(n AS DOUBLE))
                                        * 4294967296.0) AS BIGINT) AS thr
                      FROM counts, nmin
                    )
                    SELECT d.doc_id, d.stratum
                    FROM strat d JOIN rates r ON d.stratum = r.stratum
                    WHERE {_HASH32.format(x="'temp:' || CAST(d.doc_id AS VARCHAR)")} < r.thr
                """,
        "tp20_fragmentation_by_source": f"""
                    WITH t AS (
                      SELECT doc_id, source,
                             {_TOKEN_COUNT}::BIGINT AS n_tokens
                      FROM documents
                    ),
                    o AS (
                      SELECT doc_id, source, n_tokens,
                        CAST(coalesce(sum(n_tokens) OVER (
                          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
                      FROM t
                    ),
                    pa AS (
                      SELECT source, n_tokens, start_offset,
                             CAST(floor(start_offset / 256.0) AS BIGINT)
                               AS pack_id
                      FROM o
                    )
                    SELECT source,
                           CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                           CAST(sum(CASE WHEN start_offset + n_tokens >
                                (pack_id + 1) * 256 THEN 1 ELSE 0 END)
                             AS BIGINT) AS docs_crossing,
                           CAST((sum(CASE WHEN start_offset + n_tokens >
                                (pack_id + 1) * 256 THEN 1 ELSE 0 END)
                                * 10000) // count(*) AS BIGINT)
                             AS crossing_bp
                    FROM pa GROUP BY source
""",
        "tp18_fragmentation_report": f"""
                    WITH t AS (
                      SELECT doc_id, {_TOKEN_COUNT}::BIGINT AS n_tokens
                      FROM documents
                    ),
                    o AS (
                      SELECT doc_id, n_tokens,
                        CAST(coalesce(sum(n_tokens) OVER (
                          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
                      FROM t
                    ),
                    pa AS (
                      SELECT n_tokens, start_offset,
                             CAST(floor(start_offset / 256.0) AS BIGINT)
                               AS pack_id
                      FROM o
                    ),
                    cells AS (
                      SELECT CAST(count(*) AS BIGINT) AS n_docs,
                             CAST(count(DISTINCT pack_id) AS BIGINT)
                               AS n_packs,
                             CAST(sum(CASE WHEN start_offset + n_tokens >
                                  (pack_id + 1) * 256 THEN 1 ELSE 0 END)
                               AS BIGINT) AS docs_crossing
                      FROM pa
                    )
                    SELECT n_docs, n_packs, docs_crossing,
                           CAST((docs_crossing * 10000) // n_docs AS BIGINT)
                             AS crossing_bp,
                           CAST((n_docs * 100) // n_packs AS BIGINT)
                             AS docs_per_pack_c
                    FROM cells
""",
        "tp19_pack_budget_curve": f"""
                    WITH t AS (
                      SELECT doc_id, {_TOKEN_COUNT}::BIGINT AS n_tokens
                      FROM documents
                    ),
                    o AS (
                      SELECT doc_id, n_tokens,
                        CAST(coalesce(sum(n_tokens) OVER (
                          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
                      FROM t
                    ),
                    cells AS (
                      SELECT CAST(count(*) AS BIGINT) AS n_docs,
                             CAST(count(DISTINCT start_offset // 128)
                               AS BIGINT) AS np_128,
                             CAST(sum(CASE WHEN start_offset + n_tokens >
                                  ((start_offset // 128) + 1) * 128
                                  THEN 1 ELSE 0 END) AS BIGINT) AS nc_128,
                             CAST(count(DISTINCT start_offset // 256)
                               AS BIGINT) AS np_256,
                             CAST(sum(CASE WHEN start_offset + n_tokens >
                                  ((start_offset // 256) + 1) * 256
                                  THEN 1 ELSE 0 END) AS BIGINT) AS nc_256,
                             CAST(count(DISTINCT start_offset // 512)
                               AS BIGINT) AS np_512,
                             CAST(sum(CASE WHEN start_offset + n_tokens >
                                  ((start_offset // 512) + 1) * 512
                                  THEN 1 ELSE 0 END) AS BIGINT) AS nc_512,
                             CAST(count(DISTINCT start_offset // 1024)
                               AS BIGINT) AS np_1024,
                             CAST(sum(CASE WHEN start_offset + n_tokens >
                                  ((start_offset // 1024) + 1) * 1024
                                  THEN 1 ELSE 0 END) AS BIGINT) AS nc_1024
                      FROM o
                    )
                    SELECT CAST(budget AS INTEGER) AS budget, n_packs,
                           docs_crossing, n_docs,
                           CAST((docs_crossing * 10000) // n_docs AS BIGINT)
                             AS crossing_bp,
                           CAST((n_docs * 100) // n_packs AS BIGINT)
                             AS docs_per_pack_c
                    FROM (
                      SELECT 128 AS budget, np_128 AS n_packs,
                             nc_128 AS docs_crossing, n_docs FROM cells
                      UNION ALL SELECT 256, np_256, nc_256, n_docs FROM cells
                      UNION ALL SELECT 512, np_512, nc_512, n_docs FROM cells
                      UNION ALL SELECT 1024, np_1024, nc_1024, n_docs
                      FROM cells
                    )
""",
        "tp1_pack": f"""
                    WITH t AS (SELECT doc_id, {_TOKEN_COUNT}::BIGINT AS n_tokens FROM documents),
                    o AS (
                      SELECT doc_id, n_tokens,
                        CAST(coalesce(sum(n_tokens) OVER (
                          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), 0) AS BIGINT) AS start_offset
                      FROM t
                    )
                    SELECT doc_id, n_tokens, start_offset,
                           CAST(floor(start_offset / 256.0) AS BIGINT) AS pack_id
                    FROM o
                """,
        "tp2_stratified_sample": f"""
                    SELECT doc_id, source FROM documents
                    WHERE ({_HASH32.format(x="'sample:' || doc_id")} % 10000) <
                      CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                                  WHEN 'src2' THEN 0 ELSE 2500 END
                """,
        "tp3_boilerplate_prune": f"""
                    WITH tp AS (
                      SELECT doc_id, toks[i] AS tok, i AS pos
                      FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents) t,
                      LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g
                      WHERE toks[i] <> ''
                    ),
                    nd AS (SELECT count(*) AS n_docs FROM documents),
                    boiler AS (
                      SELECT tok FROM tp, nd GROUP BY tok, n_docs
                      HAVING count(DISTINCT doc_id) * 100 >= 79 * n_docs
                    ),
                    kept AS (SELECT * FROM tp WHERE tok NOT IN (SELECT tok FROM boiler)),
                    rebuilt AS (
                      SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
                             string_agg(tok, ' ' ORDER BY pos) AS pruned_text
                      FROM kept GROUP BY doc_id
                    )
                    SELECT d.doc_id, coalesce(r.n_kept, 0) AS n_kept,
                           coalesce(r.pruned_text, '') AS pruned_text
                    FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
                """,
        "tp4_shuffle_shards": f"""
                    WITH h AS (
                      SELECT doc_id, {_HASH32.format(x="'shuffle-v1:' || doc_id")} AS hv
                      FROM documents
                    )
                    SELECT doc_id, CAST(hv % 8 AS INTEGER) AS shard,
                           CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)
                                AS INTEGER) AS position
                    FROM h
                """,
        "corpus_report1": f"""
                    WITH t AS (
                      SELECT doc_id, source, {_TOKEN_COUNT} AS nt FROM documents
                    ),
                    scores AS (
                      SELECT doc_id,
        {_LANG_SCORES}
                      FROM documents
                    ),
                    langs AS (SELECT doc_id, {_LANG_CASE} AS lang FROM scores),
                    c AS (
                      SELECT count(*) AS n, CAST(sum(nt) AS BIGINT) AS tt FROM t
                    ),
                    bands AS ({_MINHASH_BANDS_SQL}),
                    pairs AS (
                      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                      FROM bands l JOIN bands r
                        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
                      WHERE l.doc_id < r.doc_id
                    ),
                    w AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
                    g AS (
                      SELECT DISTINCT doc_id,
                             array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
                      FROM w, unnest(generate_series(1, greatest(len(toks) - 7, 1)))
                               AS s(i)
                    ),
                    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
                    SELECT 'corpus' AS section, 'n_docs' AS key,
                           CAST(n AS DOUBLE) AS value FROM c
                    UNION ALL
                    SELECT 'corpus', 'total_tokens', CAST(tt AS DOUBLE) FROM c
                    UNION ALL
                    SELECT 'corpus', 'mean_doc_tokens',
                           CAST(tt AS DOUBLE) / CAST(n AS DOUBLE) FROM c
                    UNION ALL
                    SELECT 'lang', lang, CAST(count(*) AS DOUBLE)
                    FROM langs GROUP BY lang
                    UNION ALL
                    SELECT 'source', source, CAST(count(*) AS DOUBLE)
                    FROM documents GROUP BY source
                    UNION ALL
                    SELECT 'dedup', 'near_dup_pairs', CAST(count(*) AS DOUBLE)
                    FROM pairs
                    UNION ALL
                    SELECT 'dedup', 'docs_in_dup_pairs', CAST(count(*) AS DOUBLE)
                    FROM (SELECT a AS d FROM pairs UNION SELECT b AS d FROM pairs)
                    UNION ALL
                    SELECT 'decontamination', 'contaminated_docs',
                           CAST(count(DISTINCT g.doc_id) AS DOUBLE)
                    FROM g JOIN ev USING (gram) WHERE g.doc_id % 50 <> 0
                """,
        "tp7_length_buckets": f"""
                    WITH n AS (SELECT {_TOKEN_COUNT} AS n_tokens FROM documents),
                    b AS (SELECT CAST(length(bin(n_tokens)) AS INTEGER) AS bucket,
                                 n_tokens
                          FROM n)
                    SELECT bucket,
                           CAST(1 << (bucket - 1) AS INTEGER) AS lo,
                           CAST((1 << bucket) - 1 AS INTEGER) AS hi,
                           CAST(count(*) AS INTEGER) AS n_docs,
                           CAST(sum(n_tokens) AS INTEGER) AS sum_tokens
                    FROM b GROUP BY bucket
                """,
        "tp8_weighted_sample": f"""
                    WITH w AS (
                      SELECT doc_id,
                             CAST(least(n_chars * 20, 9000) AS INTEGER) AS weight_bp
                      FROM documents
                    )
                    SELECT doc_id, weight_bp FROM w
                    WHERE {_HASH32.format(x="'wsample:' || CAST(doc_id AS VARCHAR)")}
                            % 10000 < weight_bp
                """,
    }
