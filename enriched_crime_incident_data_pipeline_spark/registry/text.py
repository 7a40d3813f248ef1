"""Text analysis + tokenizers + retrieval: ta*, tok* (BPE/WordPiece), TF-IDF/BM25/RRF.

Split out of registry.py (r6); function bodies unchanged. ``QUERIES``
and ``ORACLES`` are assembled into the full registry by
``registry/__init__.py``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from enriched_crime_incident_data_pipeline_spark.datapipe.similarity import brute_force_neighbors
from enriched_crime_incident_data_pipeline_spark.datapipe.tfidf import tfidf_top_terms
from enriched_crime_incident_data_pipeline_spark.functions.text import (doc_fingerprint, lang_id, pii_counts, quality_features, repetition_features, scrub_pii, token_count, tokens, word_shingles)
from enriched_crime_incident_data_pipeline_spark.sources.catalog import load_table

from enriched_crime_incident_data_pipeline_spark.registry._shared import (
    _COS,
    _LANG_CASE,
    _LANG_SCORES,
    _NORM,
    _STOPWORD_SETS,
    _TA11_SQL,
    _TOK1_APPLY,
    _TOK1_BPE_SQL,
    _TOK2_BPE_SQL,
    _TOK3_WORDPIECE_SQL,
    _TOK4_SAMPLED_SQL,
    _TOK5_CHAIN,
    _TOK5_CHAR_MERGES_SQL,
    _TOK6_CHAR_ENCODE_SQL,
    _TOK9_UNIGRAM_SQL,
    _TOK10_UNIGRAM_SQL,
    _TOKENS,
    _TOKEN_COUNT,
)




def q_ta11_lm_quality(spark, sf_dir):
    # unigram-LM quality score (perplexity proxy): corpus-trained
    # add-one-smoothed mean inverse token probability — rational
    # per-token terms + position-ordered fold keep it bit-exact
    # across engines (no transcendentals)
    from enriched_crime_incident_data_pipeline_spark.datapipe.lm import (
        unigram_lm_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm_scores(docs)



def q_ta14_seed_lm_quality(spark, sf_dir):
    # CCNet-style quality scoring: LM trained on a curated SEED split
    # (doc_id % 10 < 2), every other doc scored by mean inverse token
    # probability under the seed model — unseen tokens take the
    # smoothed maximum term. Seed counts broadcast; no self-join.
    from enriched_crime_incident_data_pipeline_spark.datapipe.lm import (
        seed_lm_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    return seed_lm_scores(
        docs.filter(F.col("doc_id") % 10 < 2),
        docs.filter(F.col("doc_id") % 10 >= 2),
    )


def q_ta12_bpe_tokens(spark, sf_dir):
    # GPT-2-style pretokenizer over RAW text: count + first/last
    # pretokens as the segmentation witness (whole array stays
    # non-scalar, so the compared face is scalar projections)
    from enriched_crime_incident_data_pipeline_spark.functions.text import (
        bpe_pretokens,
        bpe_token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = bpe_pretokens(F.col("text"))
    return docs.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_pretokens"),
        F.get(toks, 0).alias("first_tok"),
        F.get(toks, F.size(toks) - 1).alias("last_tok"),
    )


def q_ta13_lang_confusion(spark, sf_dir):
    # lang-ID evaluation against the labeled lang column: the
    # (labeled, guessed) confusion matrix with per-cell counts and
    # the within-label share in basis points (exact integer math)
    docs = load_table(spark, sf_dir, "documents")
    guessed = docs.select(
        F.col("lang"), lang_id(F.col("text")).alias("lang_guess")
    )
    cells = guessed.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = guessed.groupBy("lang").agg(F.count(F.lit(1)).alias("_tot"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "lang_guess",
            "n",
            # integer DIV (not float-divide-then-cast: double→bigint
            # casts truncate in Spark but round in DuckDB)
            F.expr("CAST((n * 10000) DIV _tot AS BIGINT)").alias("share_bp"),
        )
    )


def q_ta1_token_count(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def q_ta2_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["digit_ratio"].alias("digit_ratio"),
        feats["quality_score"].alias("quality_score"),
    )


def q_ta3_lang_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))


def q_ta4_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


def q_ta6_winnow(spark, sf_dir):
    # r11: fan_out before the md5-per-gram projection — the documents
    # table arrives as ONE parquet row group, so this map-only query
    # (no shuffle anywhere downstream) ran on a single core end to
    # end: measured 2.66 → 0.35 s at sf0.1 and 40.2 → 1.9 s at sf1
    # (interleaved A/B). Same primitive every other heavy per-row
    # text derivation here uses (minhash/shingle/segment paths); it
    # targets defaultParallelism.
    from enriched_crime_incident_data_pipeline_spark.functions.text import (
        winnow_fingerprint,
    )
    from enriched_crime_incident_data_pipeline_spark.operators.parallelism import (
        fan_out,
    )

    docs = load_table(spark, sf_dir, "documents")
    return fan_out(docs).select(
        "doc_id", winnow_fingerprint(F.col("text")).alias("winnow")
    )


def q_tok1_bpe_merges(spark, sf_dir):
    # tokenizer training: learn the first 3 BPE merge rules from the
    # corpus. Each round is one corpus-wide adjacent-pair groupBy
    # (map-side combinable) + a broadcast 1-row winner applied via
    # the ordered greedy-merge fold; see datapipe/bpe.py.
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        learn_bpe_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    return learn_bpe_merges(docs, iters=3)


def q_tok2_bpe_encode(spark, sf_dir):
    # tokenizer read path: encode the corpus with the 3 learned
    # merges; per-doc sequence length before/after — the compression
    # audit published with a tokenizer-training run.
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        bpe_encode_lengths,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_lengths(docs, iters=3)


def q_tok3_wordpiece_encode(spark, sf_dir):
    # WordPiece-style read path: induce a vocab (all corpus chars +
    # top-40 length-2/3 substrings, deterministic tiebreak), then
    # greedy longest-match encode every word as a map-only sequential
    # fold. The fp column pins the EXACT segmentation cross-engine.
    from enriched_crime_incident_data_pipeline_spark.datapipe.wordpiece import (
        wordpiece_encode,
    )

    docs = load_table(spark, sf_dir, "documents")
    return wordpiece_encode(docs, top_k=40)


def q_tok4_bpe_sampled(spark, sf_dir):
    # production BPE training shape: learn the merge table on a
    # deterministic md5-hash HALF of the corpus (training cost scales
    # with the sample), then encode the FULL corpus once per rule
    # with the learned table — map-only, no counting shuffle over the
    # full data. Resolves the merges×passes cost note (PLANS.md).
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        bpe_encode_sampled,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_sampled(docs, iters=3, sample_bp=5000)


def q_tok5_bpe_char_merges(spark, sf_dir):
    # classic character-level BPE (word-bounded, GPT-2/SentencePiece
    # shape), trained on the WORD HISTOGRAM: the corpus shuffles once
    # into (word, freq); every round's pair count is a frequency-
    # weighted aggregation over distinct words only — the exact-train
    # answer to merges×passes (a 50k-merge vocab is 50k rounds over a
    # Zipf-small relation, not 50k corpus passes).
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        learn_bpe_merges_chars,
    )

    docs = load_table(spark, sf_dir, "documents")
    return learn_bpe_merges_chars(docs, iters=3)


def q_tok6_bpe_char_encode(spark, sf_dir):
    # character-BPE read path: per-document token budget under the
    # learned vocab WITHOUT re-walking any document text — each
    # distinct word's piece count is known from the trained word-
    # symbol relation, so the corpus side is explode + equi-join +
    # groupBy (text never enters the tokenizer twice).
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        bpe_encode_chars,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_chars(docs, iters=3)


def q_tok7_fertility_audit(spark, sf_dir):
    # the standard tokenizer-eval report: FERTILITY (pieces per word)
    # by source domain under the char-BPE vocab — the number that
    # decides whether a tokenizer under-serves a domain (high
    # fertility = more compute per word). Integer-exact: fertility in
    # basis points via integer DIV, no float ratio to drift.
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        bpe_encode_chars,
    )

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode_chars(docs, iters=3)
    per_doc = enc.join(docs.select("doc_id", "source"), "doc_id")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe").alias("n_pieces"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_pieces",
            F.expr("CAST((n_pieces * 10000) DIV n_words AS BIGINT)").alias(
                "fertility_bp"
            ),
        )
    )


def q_ta7_quality_filter(spark, sf_dir):
    # Gopher-style keep/drop verdict composed from the ta2 signals —
    # the actual corpus-filter decision, not just the features
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    keep = (
        (feats["n_tokens"] >= 10)
        & (feats["n_tokens"] <= 500)
        & (feats["stopword_ratio"] >= 0.05)
        & (feats["digit_ratio"] <= 0.2)
        & (feats["punct_ratio"] <= 0.2)
    )
    return docs.select("doc_id", keep.alias("keep"))


def q_ta5_token_pieces(spark, sf_dir):
    # BPE-ish sub-word piece count: letter runs, single digits,
    # punctuation runs — a cheap tokenizer-cost estimator
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(
        F.col("text"), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"), 0
    )
    return docs.select(
        "doc_id", F.size(pieces).cast("int").alias("n_pieces")
    )


def q_ta8_repetition(spark, sf_dir):
    # Gopher-style repetition signals over word 2-grams
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("gram")
    )
    return repetition_features(grams)


def q_ta9_pii_scrub(spark, sf_dir):
    # PII redaction audit: deterministic synthetic PII injected per
    # doc (both engines inject identically), then regex scrub + counts
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("raw_text"),
    )
    counts = pii_counts(F.col("raw_text"))
    return injected.select(
        "doc_id",
        scrub_pii(F.col("raw_text")).alias("clean_text"),
        counts["n_emails"].cast("int").alias("n_emails"),
        counts["n_phones"].cast("int").alias("n_phones"),
    )


def q_tfidf_top_terms(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


def q_retention1_cohorts(spark, sf_dir):
    # cohort retention: users grouped by signup week; per (cohort,
    # weeks-since-signup) distinct active users — two hash
    # aggregations and one broadcastable cohort join
    ev = load_table(spark, sf_dir, "events")
    cohorts = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("cohort_week")
    )
    active = ev.join(F.broadcast(cohorts), "user_id").select(
        "user_id",
        "cohort_week",
        (
            F.datediff(
                F.to_date(F.date_trunc("week", F.col("ts"))),
                F.to_date("cohort_week"),
            )
            / 7
        )
        .cast("int")
        .alias("week_n"),
    )
    return (
        active.filter(F.col("week_n") >= 0)
        .groupBy(F.to_date("cohort_week").alias("cohort_week"), F.col("week_n"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )



def q_ret9_postings_skew_profile(spark, sf_dir):
    # the INDEX-SKEW artifact (r10; the evidence behind every max_df
    # cap in the repo — dd5b's shingle cap, ret4's relative stopword
    # cap, frame_match's hot-hash cap): the term document-frequency
    # distribution as a log2-bucket histogram with posting-mass
    # shares. The top bucket's share IS the stopword problem: at
    # 100 TB a term in 10% of docs is one join key with a quadratic
    # pair fan-out in any term-join, and this profile prices the cut
    # BEFORE choosing the cap. One distinct (doc, token) explode ->
    # term-df groupBy (map-side combinable) -> <=64-row histogram;
    # the share window runs over the histogram only.
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")
    df_ = dt.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    b = df_.select(
        F.length(F.conv(F.col("df").cast("string"), 10, 2))
        .cast("int")
        .alias("bucket"),
        "df",
    )
    hist = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("df").cast("bigint").alias("total_postings"),
    )
    return hist.select(
        "bucket",
        F.expr("CAST((CAST(2 AS BIGINT) << (bucket - 1)) - 1 AS BIGINT)").alias(
            "bucket_max_df"
        ),
        "n_terms",
        "total_postings",
        F.expr(
            "CAST((total_postings * 10000)"
            " DIV (sum(total_postings) OVER ()) AS BIGINT)"
        ).alias("postings_share_bp"),
    )


def q_tok13_piece_length_profile(spark, sf_dir):
    # the VOCAB-ERGONOMICS artifact (r10; tok7 measured fertility per
    # domain, tok8 the compression curve — this shows WHERE the
    # compression comes from): the corpus-usage-weighted histogram of
    # encoded piece character-lengths under the 3-merge char-BPE
    # vocab. A healthy vocab moves token mass into multi-char pieces;
    # a stuck one leaves everything at length 1 (char fallback). The
    # trained word-symbol relation already knows every word's pieces
    # (tok6's never-rewalk-text discipline), so this is one explode
    # of the Zipf-small (word, freq, pieces) relation -> piece-level
    # usage groupBy -> <=|lengths| histogram with usage shares.
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        _train_chars,
    )

    docs = load_table(spark, sf_dir, "documents")
    sym, _ = _train_chars(docs, 3, "text", apply_last=True)
    pieces = sym.select(
        F.explode("arr").alias("piece"), F.col("freq").cast("bigint").alias("freq")
    )
    per_piece = pieces.groupBy("piece").agg(
        F.sum("freq").cast("bigint").alias("usage")
    )
    hist = per_piece.select(
        F.length("piece").cast("int").alias("piece_len"), "usage"
    ).groupBy("piece_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pieces"),
        F.sum("usage").cast("bigint").alias("total_usage"),
    )
    return hist.select(
        "piece_len",
        "n_pieces",
        "total_usage",
        F.expr(
            "CAST((total_usage * 10000)"
            " DIV (sum(total_usage) OVER ()) AS BIGINT)"
        ).alias("usage_share_bp"),
    )


def q_ret4_postings_blocks(spark, sf_dir):
    # inverted-index build artifact: one term-shard (md5(token) mod
    # 3 == 0) of blocked doc-ordered posting lists with skip-list
    # bounds and the EXACT delta-encoded size in bits — the physical
    # relation a distributed search/decontamination index writes.
    # See datapipe/retrieval.py build_postings_blocks for the
    # two-exchange shape and the relative stopword cap.
    from enriched_crime_incident_data_pipeline_spark.datapipe.retrieval import (
        build_postings_blocks,
    )

    docs = load_table(spark, sf_dir, "documents")
    return build_postings_blocks(docs, block=64, shard_mod=3, shard=0)


def q_ret7_phrase_search(spark, sf_dir):
    # positional phrase query ("table table" — the self-adjacent
    # phrase, so overlapping occurrences are exercised on real
    # data): only the phrase terms' postings leave the scan, k-1
    # hash joins on (doc, pos+i) intersect them. See
    # datapipe/retrieval.py phrase_search.
    from enriched_crime_incident_data_pipeline_spark.datapipe.retrieval import (
        phrase_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "table table")


def q_ret6_trigram_search(spark, sf_dir):
    # indexed substring search (pg_trgm / code-search shape): the
    # scan keeps only positions whose trigram is IN the query's
    # 9-gram literal set, candidates must contain ALL query grams,
    # and only candidates get the exact instr verify — the oracle is
    # the DEFINITIONAL direct scan, so the equality proves the
    # pruning loses nothing. See datapipe/retrieval.py
    # trigram_substring_search.
    from enriched_crime_incident_data_pipeline_spark.datapipe.retrieval import (
        trigram_substring_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    return trigram_substring_search(docs, "merge batch")


def q_ret8_self_retrieval_mrr(spark, sf_dir):
    # the eval harness an IR stack runs after every index build:
    # known-item self-retrieval — each sampled doc queried by its 2
    # RAREST tokens, the source doc the one relevant item; published
    # as integer MRR@10 + hit rates. Candidates come from the
    # rarest-term inverted probe (per-query work = Σ df of the
    # chosen minimum-df terms — the smallest possible probe), the
    # sample is capped ABSOLUTE (er2's lesson), ranking windows
    # partition per query over those bounded candidate sets. See
    # datapipe/retrieval.py:self_retrieval_mrr.
    from enriched_crime_incident_data_pipeline_spark.datapipe.retrieval import (
        self_retrieval_mrr,
    )

    docs = load_table(spark, sf_dir, "documents")
    return self_retrieval_mrr(docs, every=50, cap=20000, n_terms=2, k=10)


def q_ret1_bm25_topk(spark, sf_dir):
    # retrieval baseline: rational-idf BM25 (log-free for cross-engine
    # bit parity, same trade as ta11's rational perplexity) over the
    # corpus' 3 most frequent tokens; df/dl are map-side groupBys,
    # terms broadcast, per-doc fold order-pinned, top-k TakeOrdered
    from enriched_crime_incident_data_pipeline_spark.datapipe.retrieval import (
        bm25_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, n_terms=3, k=20)



def q_ret2_hybrid_rrf(spark, sf_dir):
    # hybrid retrieval: Reciprocal Rank Fusion of the BM25 lexical
    # top-20 (ret1) and the dense ANN top-20 (ss1) for the same item
    # space — the standard sparse+dense fusion. RRF works on RANKS
    # (1/(60+rank): one correctly-rounded IEEE divide per list, sum
    # in fixed text+vec order), so the two scoring scales never mix
    # and the fusion is bit-reproducible cross-engine. Both input
    # rank windows run over <= 20 survivor rows; fusion is a full
    # outer join of two tiny relations; final top-10 is TakeOrdered.
    from enriched_crime_incident_data_pipeline_spark.datapipe.retrieval import (
        bm25_topk,
    )
    from enriched_crime_incident_data_pipeline_spark.datapipe.similarity import (
        brute_force_neighbors,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    text = bm25_topk(docs, n_terms=3, k=20)
    text_r = text.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("text_rank"),
    )
    vec_r = brute_force_neighbors(emb, query_vec_id=0, k=20).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("vec_rank"),
    )
    # fusion as AGGREGATION, not a join: each list emits (doc,
    # contribution) rows, union, one groupBy. A full-outer join would
    # force a SortMergeJoin (Spark can't broadcast full-outer); the
    # union+agg shape is join-free, map-side combinable, and extends
    # to N lists unchanged. Bit-parity note: a doc has <= 2
    # contribution rows and IEEE addition is COMMUTATIVE (only
    # associativity fails), so the aggregated sum equals the oracle's
    # fixed text+vec order exactly.
    t_contrib = text_r.select(
        "doc_id",
        F.col("text_rank"),
        F.lit(None).cast("int").alias("vec_rank"),
        (F.lit(1.0) / (F.lit(60) + F.col("text_rank"))).alias("_c"),
    )
    v_contrib = vec_r.select(
        "doc_id",
        F.lit(None).cast("int").alias("text_rank"),
        F.col("vec_rank"),
        (F.lit(1.0) / (F.lit(60) + F.col("vec_rank"))).alias("_c"),
    )
    return (
        t_contrib.unionByName(v_contrib)
        .groupBy("doc_id")
        .agg(
            F.max("text_rank").alias("text_rank"),
            F.max("vec_rank").alias("vec_rank"),
            F.sum("_c").alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(10)
    )


def q_ta10_oov_rate(spark, sf_dir):
    # out-of-vocabulary rate per document against the corpus' own
    # top-1000-document-frequency vocabulary — the tokenizer-coverage
    # signal; vocab is a broadcast anti-join, rate is integer bp
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    dfreq = (
        tok.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    vocab = dfreq.orderBy(F.desc("df"), "tok").limit(1000).select("tok")
    cnt = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_nt"))
    oov = (
        tok.join(F.broadcast(vocab), "tok", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_noov"))
    )
    return (
        docs.select("doc_id")
        .join(cnt, "doc_id", "left")
        .join(oov, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_nt", F.lit(0)).alias("n_tokens"),
            F.when(F.coalesce("_nt", F.lit(0)) == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("(coalesce(_noov, 0) * 10000) DIV _nt")
            )
            .alias("oov_bp"),
        )
    )

def q_ret3_rocchio_expand(spark, sf_dir):
    # pseudo-relevance feedback (Rocchio query expansion): base BM25
    # pass (3 most frequent tokens) -> top-10 feedback docs -> the 2
    # most frequent non-query tokens of that set join the query ->
    # full re-score, final top-10. The classic two-pass retrieval
    # recipe; the token explode / doc lengths / df table are computed
    # once and shared by both scoring passes, term sets and the
    # feedback id-list are broadcast, and the per-doc fold is
    # order-pinned exactly as ret1 (rational-idf trade documented in
    # datapipe/retrieval.py).
    from enriched_crime_incident_data_pipeline_spark.datapipe.retrieval import (
        bm25_feedback_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bm25_feedback_topk(docs, n_terms=3, fb_docs=10, fb_terms=2, k=10)


def q_tok8_compression_curve(spark, sf_dir):
    # the tokenizer-eval artifact: corpus piece totals under 0..3
    # char-BPE merges - the compression curve a vocab-size ablation
    # publishes (how many pieces per 10k chars does each extra merge
    # buy). The Sennrich reduction keeps everything on the
    # Zipf-small word histogram: the 3 learned rules are 6 broadcast
    # scalars, one Arrow pass replays them per distinct word emitting
    # the piece count AFTER EACH PREFIX of the rule list, and a
    # single aggregate + stack yields the 4-row curve. All integers:
    # bit-exact.
    from enriched_crime_incident_data_pipeline_spark.datapipe.bpe import (
        _word_hist_syms,
        learn_bpe_merges_chars,
        merge_pair,
    )

    docs = load_table(spark, sf_dir, "documents")
    rules = [
        (r["a"], r["b"])
        for r in learn_bpe_merges_chars(docs, iters=3)
        .orderBy("it")
        .collect()
    ]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            freqs = pdf["freq"]
            nps = {0: [], 1: [], 2: [], 3: []}
            for arr in pdf["arr"]:
                syms = list(arr)
                nps[0].append(len(syms))
                for m, (a, b) in enumerate(rules, start=1):
                    syms = merge_pair(syms, a, b)
                    nps[m].append(len(syms))
            yield pd.DataFrame(
                {
                    "freq": freqs,
                    "np0": nps[0],
                    "np1": nps[1],
                    "np2": nps[2],
                    "np3": nps[3],
                }
            )

    enc = _word_hist_syms(docs, "text").mapInPandas(
        gen, "freq bigint, np0 bigint, np1 bigint, np2 bigint, np3 bigint"
    )
    tot = enc.agg(
        *[
            F.sum(F.col("freq") * F.col(f"np{m}")).alias(f"p{m}")
            for m in range(4)
        ]
    )
    return tot.selectExpr(
        "stack(4, 0, p0, 1, p1, 2, p2, 3, p3) AS (n_merges, total_pieces)",
        "p0 AS _chars",
    ).select(
        F.col("n_merges").cast("int").alias("n_merges"),
        F.col("total_pieces").cast("bigint").alias("total_pieces"),
        F.expr("CAST(total_pieces * 10000 DIV _chars AS BIGINT)").alias(
            "pieces_per_10k_chars"
        ),
    )


def q_tok9_unigram_train(spark, sf_dir):
    # the THIRD tokenizer family (after BPE tok1/4/5 and WordPiece
    # tok3): Kudo-2018 unigram-LM training, SentencePiece's default
    # (T5 / LLaMA shipped this) — seed pieces from substring counts,
    # hard-EM (Viterbi E-step) rounds over the word histogram, prune
    # to keep_k + all single chars. Hard EM keeps every cross-word
    # sum INTEGER, Laplace (c+1)/(T+|V|) probabilities are one exact
    # IEEE division, and Viterbi compares left-to-right double
    # PRODUCTS (no log — not bit-portable), so the learned vocab is
    # reproducible across engines and partitionings.
    from enriched_crime_incident_data_pipeline_spark.datapipe.unigram import (
        learn_unigram_vocab,
    )

    docs = load_table(spark, sf_dir, "documents")
    return learn_unigram_vocab(docs)


def q_tok10_unigram_encode(spark, sf_dir):
    # unigram-LM read path: per-document Viterbi piece count + an
    # md5 fingerprint of the exact piece sequence in document order.
    # Distinct words encode ONCE in an Arrow kernel (the vocab rides
    # as a closure); documents join back by word — text never enters
    # the tokenizer twice (the tok6 shape).
    from enriched_crime_incident_data_pipeline_spark.datapipe.unigram import (
        unigram_encode,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unigram_encode(docs)


def q_ta15_heaps_curve(spark, sf_dir):
    # vocabulary-growth (Heaps-law) curve — the statistic that sizes a
    # tokenizer vocab and predicts OOV decay before training: distinct
    # tokens vs corpus size over four NESTED samples S_k = docs with
    # doc_id % 4 < k (S_1 ⊂ … ⊂ S_4 = all). No global sort and no
    # per-prefix rescans: a token is in S_k's vocab iff min(doc_id % 4)
    # over its occurrences < k, so ONE groupBy(token) computes each
    # token's first-quarter m, and the curve is three tiny histograms
    # (docs, token occurrences, first-token m — each ≤ 4 rows)
    # cumulated by an intended ≤4-row window. One explode scan + one
    # token-domain shuffle, identical at 100 TB.
    docs = load_table(spark, sf_dir, "documents")
    dq = (F.col("doc_id") % 4).alias("q")
    doc_hist = docs.select(
        dq, token_count(F.col("text")).cast("bigint").alias("nt")
    ).groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("nt").cast("bigint").alias("occ"),
    )
    tok = docs.select(dq, F.explode(tokens(F.col("text"))).alias("token")).filter(
        F.col("token") != ""
    )
    vocab_hist = (
        tok.groupBy("token")
        .agg(F.min("q").alias("q"))
        .groupBy("q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    )
    hist = doc_hist.join(vocab_hist, "q", "left").select(
        "q", "nd", "occ", F.coalesce(F.col("nv"), F.lit(0)).cast("bigint").alias("nv")
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        (F.col("q") + 1).cast("int").alias("sample_quarter"),
        F.sum("nd").over(w).cast("bigint").alias("n_docs"),
        F.sum("occ").over(w).cast("bigint").alias("n_tokens"),
        F.sum("nv").over(w).cast("bigint").alias("vocab_size"),
    )


def q_tok11_coverage_curve(spark, sf_dir):
    # the vocab-BUDGET artifact (ta15 counts types; this prices the
    # budget in occurrences): what share of all token OCCURRENCES a
    # top-k frequency vocab covers, for k = 256 / 1024 / 4096 — the
    # curve a tokenizer's vocab size is chosen from. Scale-safe by
    # the w1 count-level trick: tokens collapse to (count-value,
    # n_tokens) LEVELS, the cumulative window runs over the level
    # histogram (≤ |distinct count values| rows, never the token
    # domain), and because every token in a level has the SAME count,
    # the partial level at the k boundary contributes exactly
    # (k − cum_before)·c — no per-token rank or tiebreak needed. All
    # three k's are columns of ONE select over the level table; one
    # agg emits the curve.
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token")).filter(
        F.col("token") != ""
    )
    cnts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    levels = cnts.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    w = Window.orderBy(F.desc("c")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    lev = levels.select(
        "c",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("cum_before"),
    )
    ks = (256, 1024, 4096)
    agg_cols = [
        F.sum(F.col("c") * F.col("n_tokens")).cast("bigint").alias("total_occ"),
        F.sum("n_tokens").cast("bigint").alias("total_vocab"),
    ]
    for k in ks:
        take = F.greatest(
            F.lit(0),
            F.least(F.col("n_tokens"), F.lit(k) - F.col("cum_before")),
        )
        agg_cols.append(
            F.sum(F.col("c") * take).cast("bigint").alias(f"cov_{k}")
        )
    cells = lev.agg(*agg_cols)
    return cells.select(
        F.expr(
            "stack(3, "
            + ", ".join(f"{k}, cov_{k}" for k in ks)
            + ") AS (k_budget, covered_occ)"
        ),
        "total_occ",
        "total_vocab",
    ).select(
        F.col("k_budget").cast("int").alias("k_budget"),
        F.least(F.col("k_budget").cast("bigint"), F.col("total_vocab")).alias(
            "vocab_used"
        ),
        "covered_occ",
        "total_occ",
        F.expr("CAST((covered_occ * 10000) DIV total_occ AS BIGINT)").alias(
            "coverage_bp"
        ),
    )


def q_ta16_zipf_profile(spark, sf_dir):
    # the rank-frequency SHAPE (ta15 gives vocab growth, tok11 gives
    # coverage; this is the Zipf curve itself, the third standard
    # corpus-stats artifact): token occurrences bucketed by frequency
    # RANK magnitude (ranks 2^(k−1)..2^k−1), exact at any scale
    # without ever ranking tokens — a count LEVEL with count c spans
    # the contiguous rank interval [cum_before+1, cum_before+n], so
    # its overlap with each rank bucket is closed-form integer
    # arithmetic (the tok11 equal-count trick extended from "partial
    # level at one boundary" to "level × bucket interval overlap").
    # Plan: one token shuffle → level histogram → levels ⋈ ≤40-row
    # bucket relation (broadcast; levels is O(distinct count values),
    # never the vocabulary) → ≤40-row profile with occurrence share
    # in ppm.
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token")).filter(
        F.col("token") != ""
    )
    cnts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    levels = cnts.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    w = Window.orderBy(F.desc("c")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    lev = levels.select(
        "c",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("cum_before"),
    )
    buckets = (
        docs.sparkSession.range(1, 41)
        .select(F.col("id").cast("int").alias("k"))
        .select(
            "k",
            F.expr("shiftleft(1L, k - 1)").alias("lo"),
            F.expr("shiftleft(1L, k) - 1").alias("hi"),
        )
    )
    j = lev.crossJoin(F.broadcast(buckets)).select(
        "k",
        "c",
        (
            F.least(F.col("hi"), F.col("cum_before") + F.col("n_tokens"))
            - F.greatest(F.col("lo"), F.col("cum_before") + 1)
            + 1
        ).alias("_L"),
    ).filter(F.col("_L") >= 1)
    prof = j.groupBy("k").agg(
        F.sum("_L").cast("bigint").alias("n_tokens"),
        F.sum(F.col("_L") * F.col("c")).cast("bigint").alias("occ"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return prof.select(
        F.col("k").alias("rank_bucket"),
        "n_tokens",
        "occ",
        F.sum("occ").over(wall).alias("_tot"),
    ).select(
        "rank_bucket",
        "n_tokens",
        "occ",
        F.expr("CAST((occ * 1000000) DIV _tot AS BIGINT)").alias(
            "occ_share_ppm"
        ),
    )


def q_tok12_vocab_drift(spark, sf_dir):
    # snapshot-over-snapshot VOCAB drift (r8 verdict item 6) — the
    # training-data twin of dq10's schema diff: a lake re-tokenizes
    # after every ingest, and the question is "did the new data move
    # the vocabulary?" Snapshot A is the doc_id prefix up to the
    # median id (dq10's bounds idiom), snapshot B the full corpus
    # (A ⊂ B — yesterday's corpus vs today's after ingest). ONE
    # documents scan produces per-token CONDITIONAL counts
    # (c_a, c_b); both snapshots' count-level histograms come from
    # one stack over that pinned relation (tok11's trick — windows
    # run over level domains, never the token domain), and the
    # published artifact is the coverage-at-budget delta for
    # k = 256/1024/4096 plus the new-type OOV mass (occurrences of
    # tokens unseen in A, in bp of B's total) — the two numbers that
    # say "retrain the tokenizer" or "don't". Exact integers
    # throughout; the injected-shift fixture is
    # test_text_pipeline.py::test_tok12_vocab_drift_injected_shift.
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.expr("CAST((min(doc_id) + max(doc_id)) DIV 2 AS BIGINT)").alias(
            "_cut"
        )
    )
    tok = (
        docs.crossJoin(F.broadcast(bounds))
        .select(
            F.explode(tokens(F.col("text"))).alias("token"),
            (F.col("doc_id") <= F.col("_cut")).cast("int").alias("in_a"),
        )
        .filter(F.col("token") != "")
    )
    # two consumers (level stack + OOV agg): pin so the tokenize
    # shuffle runs once
    cnts = (
        tok.groupBy("token")
        .agg(
            F.sum("in_a").cast("bigint").alias("c_a"),
            F.count(F.lit(1)).cast("bigint").alias("c_b"),
        )
        .localCheckpoint(eager=False)
    )
    lev_src = cnts.select(
        F.expr("stack(2, 'a', c_a, 'b', c_b) AS (side, c)")
    ).filter(F.col("c") > 0)
    levels = lev_src.groupBy("side", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("side")
        .orderBy(F.desc("c"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lev = levels.select(
        "side",
        "c",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("cum_before"),
    )
    ks = (256, 1024, 4096)
    cell_cols = []
    for side in ("a", "b"):
        is_side = F.col("side") == side
        cell_cols.append(
            F.sum(F.when(is_side, F.col("c") * F.col("n_tokens")))
            .cast("bigint")
            .alias(f"occ_{side}")
        )
        for k in ks:
            take = F.greatest(
                F.lit(0),
                F.least(F.col("n_tokens"), F.lit(k) - F.col("cum_before")),
            )
            cell_cols.append(
                F.sum(F.when(is_side, F.col("c") * take))
                .cast("bigint")
                .alias(f"cov_{side}_{k}")
            )
    cells = lev.agg(*cell_cols)
    oov = cnts.agg(
        F.sum((F.col("c_a") == 0).cast("int")).cast("bigint").alias(
            "new_types"
        ),
        F.sum(F.when(F.col("c_a") == 0, F.col("c_b")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("new_type_occ"),
    )
    one = cells.crossJoin(F.broadcast(oov))
    return one.select(
        F.expr(
            "stack(3, "
            + ", ".join(f"{k}, cov_a_{k}, cov_b_{k}" for k in ks)
            + ") AS (k_budget, cov_a, cov_b)"
        ),
        "occ_a",
        "occ_b",
        "new_types",
        "new_type_occ",
    ).select(
        F.col("k_budget").cast("int").alias("k_budget"),
        F.expr("CAST((cov_a * 10000) DIV occ_a AS BIGINT)").alias(
            "cov_a_bp"
        ),
        F.expr("CAST((cov_b * 10000) DIV occ_b AS BIGINT)").alias(
            "cov_b_bp"
        ),
        F.expr(
            "CAST((cov_b * 10000) DIV occ_b"
            " - (cov_a * 10000) DIV occ_a AS BIGINT)"
        ).alias("cov_delta_bp"),
        "new_types",
        "new_type_occ",
        F.expr("CAST((new_type_occ * 10000) DIV occ_b AS BIGINT)").alias(
            "oov_bp"
        ),
    )


QUERIES = {
    "ta15_heaps_curve": q_ta15_heaps_curve,
    "tok12_vocab_drift": q_tok12_vocab_drift,
    "ta16_zipf_profile": q_ta16_zipf_profile,
    "tok11_coverage_curve": q_tok11_coverage_curve,
    "tok8_compression_curve": q_tok8_compression_curve,
    "tok9_unigram_train": q_tok9_unigram_train,
    "tok10_unigram_encode": q_tok10_unigram_encode,
    "ret3_rocchio_expand": q_ret3_rocchio_expand,
    "ta11_lm_quality": q_ta11_lm_quality,
    "ta14_seed_lm_quality": q_ta14_seed_lm_quality,
    "ta12_bpe_tokens": q_ta12_bpe_tokens,
    "ta13_lang_confusion": q_ta13_lang_confusion,
    "tok1_bpe_merges": q_tok1_bpe_merges,
    "tok2_bpe_encode": q_tok2_bpe_encode,
    "tok3_wordpiece_encode": q_tok3_wordpiece_encode,
    "tok4_bpe_sampled": q_tok4_bpe_sampled,
    "tok5_bpe_char_merges": q_tok5_bpe_char_merges,
    "tok6_bpe_char_encode": q_tok6_bpe_char_encode,
    "tok13_piece_length_profile": q_tok13_piece_length_profile,
    "tok7_fertility_audit": q_tok7_fertility_audit,
    "ta1_token_count": q_ta1_token_count,
    "ta2_quality": q_ta2_quality,
    "ta3_lang_id": q_ta3_lang_id,
    "ta4_fingerprint": q_ta4_fingerprint,
    "ta10_oov_rate": q_ta10_oov_rate,
    "ta5_token_pieces": q_ta5_token_pieces,
    "ta6_winnow": q_ta6_winnow,
    "ta7_quality_filter": q_ta7_quality_filter,
    "ta8_repetition": q_ta8_repetition,
    "ta9_pii_scrub": q_ta9_pii_scrub,
    "tfidf_top_terms": q_tfidf_top_terms,
    "ret1_bm25_topk": q_ret1_bm25_topk,
    "ret8_self_retrieval_mrr": q_ret8_self_retrieval_mrr,
    "ret4_postings_blocks": q_ret4_postings_blocks,
    "ret9_postings_skew_profile": q_ret9_postings_skew_profile,
    "ret6_trigram_search": q_ret6_trigram_search,
    "ret7_phrase_search": q_ret7_phrase_search,
    "ret2_hybrid_rrf": q_ret2_hybrid_rrf,
    "retention1_cohorts": q_retention1_cohorts,
}

def oracles() -> dict[str, str]:
    return {
        "ta16_zipf_profile": f"""
            WITH tok AS (
              SELECT unnest({_TOKENS}) AS token FROM documents
            ),
            cnts AS (
              SELECT token, count(*) AS c FROM tok WHERE token <> ''
              GROUP BY token
            ),
            levels AS (
              SELECT c, CAST(count(*) AS BIGINT) AS n_tokens
              FROM cnts GROUP BY c
            ),
            lev AS (
              SELECT c, n_tokens,
                     sum(n_tokens) OVER (ORDER BY c DESC ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
                       AS cum_before
              FROM levels
            ),
            buckets AS (
              SELECT k, (1::BIGINT << (k - 1)) AS lo,
                     (1::BIGINT << k) - 1 AS hi
              FROM (SELECT unnest(generate_series(1, 40)) AS k)
            ),
            j AS (
              SELECT b.k, l.c,
                     least(b.hi, l.cum_before + l.n_tokens)
                       - greatest(b.lo, l.cum_before + 1) + 1 AS L
              FROM lev l CROSS JOIN buckets b
              WHERE least(b.hi, l.cum_before + l.n_tokens)
                    - greatest(b.lo, l.cum_before + 1) + 1 >= 1
            ),
            prof AS (
              SELECT k, CAST(sum(L) AS BIGINT) AS n_tokens,
                     CAST(sum(L * c) AS BIGINT) AS occ
              FROM j GROUP BY k
            )
            SELECT CAST(k AS INTEGER) AS rank_bucket, n_tokens, occ,
                   CAST((occ * 1000000) // (sum(occ) OVER ()) AS BIGINT)
                     AS occ_share_ppm
            FROM prof
""",
        "tok12_vocab_drift": f"""
            WITH bounds AS (
              SELECT (min(doc_id) + max(doc_id)) // 2 AS cut FROM documents
            ),
            tok AS (
              SELECT unnest({_TOKENS}) AS token,
                     CASE WHEN doc_id <= (SELECT cut FROM bounds)
                          THEN 1 ELSE 0 END AS in_a
              FROM documents
            ),
            cnts AS MATERIALIZED (
              SELECT token,
                     CAST(sum(in_a) AS BIGINT) AS c_a,
                     CAST(count(*) AS BIGINT) AS c_b
              FROM tok WHERE token <> '' GROUP BY token
            ),
            lev_src AS (
              SELECT 'a' AS side, c_a AS c FROM cnts WHERE c_a > 0
              UNION ALL
              SELECT 'b', c_b FROM cnts WHERE c_b > 0
            ),
            levels AS (
              SELECT side, c, CAST(count(*) AS BIGINT) AS n_tokens
              FROM lev_src GROUP BY side, c
            ),
            lev AS (
              SELECT side, c, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY side ORDER BY c DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens AS cum_before
              FROM levels
            ),
            cells AS (
              SELECT
                CAST(sum(CASE WHEN side = 'a' THEN c * n_tokens END)
                  AS BIGINT) AS occ_a,
                CAST(sum(CASE WHEN side = 'b' THEN c * n_tokens END)
                  AS BIGINT) AS occ_b,
                CAST(sum(CASE WHEN side = 'a' THEN c * greatest(0,
                  least(n_tokens, 256 - cum_before)) END) AS BIGINT)
                  AS cov_a_256,
                CAST(sum(CASE WHEN side = 'b' THEN c * greatest(0,
                  least(n_tokens, 256 - cum_before)) END) AS BIGINT)
                  AS cov_b_256,
                CAST(sum(CASE WHEN side = 'a' THEN c * greatest(0,
                  least(n_tokens, 1024 - cum_before)) END) AS BIGINT)
                  AS cov_a_1024,
                CAST(sum(CASE WHEN side = 'b' THEN c * greatest(0,
                  least(n_tokens, 1024 - cum_before)) END) AS BIGINT)
                  AS cov_b_1024,
                CAST(sum(CASE WHEN side = 'a' THEN c * greatest(0,
                  least(n_tokens, 4096 - cum_before)) END) AS BIGINT)
                  AS cov_a_4096,
                CAST(sum(CASE WHEN side = 'b' THEN c * greatest(0,
                  least(n_tokens, 4096 - cum_before)) END) AS BIGINT)
                  AS cov_b_4096
              FROM lev
            ),
            oov AS (
              SELECT CAST(sum(CASE WHEN c_a = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS new_types,
                     CAST(sum(CASE WHEN c_a = 0 THEN c_b ELSE 0 END)
                       AS BIGINT) AS new_type_occ
              FROM cnts
            ),
            curve AS (
              SELECT 256 AS k_budget, cov_a_256 AS cov_a, cov_b_256 AS cov_b,
                     occ_a, occ_b FROM cells
              UNION ALL
              SELECT 1024, cov_a_1024, cov_b_1024, occ_a, occ_b FROM cells
              UNION ALL
              SELECT 4096, cov_a_4096, cov_b_4096, occ_a, occ_b FROM cells
            )
            SELECT CAST(k_budget AS INTEGER) AS k_budget,
                   CAST((cov_a * 10000) // occ_a AS BIGINT) AS cov_a_bp,
                   CAST((cov_b * 10000) // occ_b AS BIGINT) AS cov_b_bp,
                   CAST((cov_b * 10000) // occ_b
                        - (cov_a * 10000) // occ_a AS BIGINT)
                     AS cov_delta_bp,
                   new_types, new_type_occ,
                   CAST((new_type_occ * 10000) // occ_b AS BIGINT) AS oov_bp
            FROM curve CROSS JOIN oov
""",
        "tok11_coverage_curve": f"""
            WITH tok AS (
              SELECT unnest({_TOKENS}) AS token FROM documents
            ),
            cnts AS (
              SELECT token, count(*) AS c FROM tok WHERE token <> ''
              GROUP BY token
            ),
            levels AS (
              SELECT c, CAST(count(*) AS BIGINT) AS n_tokens
              FROM cnts GROUP BY c
            ),
            lev AS (
              SELECT c, n_tokens,
                     sum(n_tokens) OVER (ORDER BY c DESC ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
                       AS cum_before
              FROM levels
            ),
            cells AS (
              SELECT CAST(sum(c * n_tokens) AS BIGINT) AS total_occ,
                     CAST(sum(n_tokens) AS BIGINT) AS total_vocab,
                     CAST(sum(c * greatest(0, least(n_tokens, 256 - cum_before)))
                       AS BIGINT) AS cov_256,
                     CAST(sum(c * greatest(0, least(n_tokens, 1024 - cum_before)))
                       AS BIGINT) AS cov_1024,
                     CAST(sum(c * greatest(0, least(n_tokens, 4096 - cum_before)))
                       AS BIGINT) AS cov_4096
              FROM lev
            ),
            curve AS (
              SELECT 256 AS k_budget, cov_256 AS covered_occ,
                     total_occ, total_vocab FROM cells
              UNION ALL
              SELECT 1024, cov_1024, total_occ, total_vocab FROM cells
              UNION ALL
              SELECT 4096, cov_4096, total_occ, total_vocab FROM cells
            )
            SELECT CAST(k_budget AS INTEGER) AS k_budget,
                   CAST(least(k_budget, total_vocab) AS BIGINT) AS vocab_used,
                   covered_occ, total_occ,
                   CAST((covered_occ * 10000) // total_occ AS BIGINT)
                     AS coverage_bp
            FROM curve
""",
        "ta15_heaps_curve": f"""
            WITH d AS (
              SELECT doc_id % 4 AS q, {_TOKEN_COUNT} AS nt FROM documents
            ),
            doc_hist AS (
              SELECT q, CAST(count(*) AS BIGINT) AS nd,
                     CAST(sum(nt) AS BIGINT) AS occ
              FROM d GROUP BY q
            ),
            tok AS (
              SELECT doc_id % 4 AS q, unnest({_TOKENS}) AS token
              FROM documents
            ),
            firstq AS (
              SELECT token, min(q) AS q FROM tok WHERE token <> ''
              GROUP BY token
            ),
            vocab_hist AS (
              SELECT q, CAST(count(*) AS BIGINT) AS nv FROM firstq GROUP BY q
            ),
            hist AS (
              SELECT dh.q, dh.nd, dh.occ,
                     CAST(coalesce(vh.nv, 0) AS BIGINT) AS nv
              FROM doc_hist dh LEFT JOIN vocab_hist vh ON dh.q = vh.q
            )
            SELECT CAST(q + 1 AS INTEGER) AS sample_quarter,
                   CAST(sum(nd) OVER w AS BIGINT) AS n_docs,
                   CAST(sum(occ) OVER w AS BIGINT) AS n_tokens,
                   CAST(sum(nv) OVER w AS BIGINT) AS vocab_size
            FROM hist
            WINDOW w AS (ORDER BY q
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "tok9_unigram_train": _TOK9_UNIGRAM_SQL,
        "tok10_unigram_encode": _TOK10_UNIGRAM_SQL,
        "tok8_compression_curve": f"""
                    WITH {_TOK5_CHAIN},
                    c4 AS (SELECT w, freq, {_TOK1_APPLY} AS arr
                           FROM c3, wm3),
                    tots AS (
                      SELECT 0 AS n_merges, sum(freq * len(arr)) AS tp FROM c1
                      UNION ALL SELECT 1, sum(freq * len(arr)) FROM c2
                      UNION ALL SELECT 2, sum(freq * len(arr)) FROM c3
                      UNION ALL SELECT 3, sum(freq * len(arr)) FROM c4
                    ),
                    chars AS (SELECT sum(freq * len(arr)) AS ch FROM c1)
                    SELECT CAST(n_merges AS INTEGER) AS n_merges,
                           CAST(tp AS BIGINT) AS total_pieces,
                           CAST(tp * 10000 // ch AS BIGINT)
                             AS pieces_per_10k_chars
                    FROM tots, chars
                """,
        "ret3_rocchio_expand": f"""
                    WITH tok AS (
                      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
                    ),
                    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
                    stats AS (
                      SELECT count(*) AS n_docs,
                             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                               AS avgdl
                      FROM dl
                    ),
                    dft AS (
                      SELECT tok, count(*) AS df FROM (
                        SELECT DISTINCT doc_id, tok FROM tok
                      ) GROUP BY tok
                    ),
                    base_terms AS (
                      SELECT tok, df FROM dft ORDER BY df DESC, tok LIMIT 3
                    ),
                    tf0 AS (
                      SELECT t.doc_id, t.tok, any_value(te.df) AS df,
                             count(*) AS tf
                      FROM tok t JOIN base_terms te ON t.tok = te.tok
                      GROUP BY t.doc_id, t.tok
                    ),
                    w0 AS (
                      SELECT tf.doc_id, tf.tok,
                             ((CAST(s.n_docs AS DOUBLE) - CAST(tf.df AS DOUBLE)
                               + 0.5) / (CAST(tf.df AS DOUBLE) + 0.5))
                             * (CAST(tf.tf AS DOUBLE) * 2.2)
                             / (CAST(tf.tf AS DOUBLE)
                                + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                                                        / s.avgdl))) AS w
                      FROM tf0 tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
                    ),
                    fb AS (
                      SELECT doc_id, sum(w ORDER BY tok) AS score
                      FROM w0 GROUP BY doc_id
                      ORDER BY score DESC, doc_id LIMIT 10
                    ),
                    expansion AS (
                      SELECT t.tok FROM tok t
                      JOIN fb ON t.doc_id = fb.doc_id
                      WHERE t.tok NOT IN (SELECT tok FROM base_terms)
                      GROUP BY t.tok
                      ORDER BY count(*) DESC, t.tok LIMIT 2
                    ),
                    terms AS (
                      SELECT tok, df FROM base_terms
                      UNION ALL
                      SELECT d.tok, d.df FROM dft d
                      JOIN expansion x ON d.tok = x.tok
                    ),
                    tf AS (
                      SELECT t.doc_id, t.tok, any_value(te.df) AS df,
                             count(*) AS tf
                      FROM tok t JOIN terms te ON t.tok = te.tok
                      GROUP BY t.doc_id, t.tok
                    ),
                    w AS (
                      SELECT tf.doc_id, tf.tok,
                             ((CAST(s.n_docs AS DOUBLE) - CAST(tf.df AS DOUBLE)
                               + 0.5) / (CAST(tf.df AS DOUBLE) + 0.5))
                             * (CAST(tf.tf AS DOUBLE) * 2.2)
                             / (CAST(tf.tf AS DOUBLE)
                                + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                                                        / s.avgdl))) AS w
                      FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
                    )
                    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms_hit,
                           sum(w ORDER BY tok) AS score
                    FROM w GROUP BY doc_id
                    ORDER BY score DESC, doc_id LIMIT 10
                """,
        "ta10_oov_rate": f"""
                    WITH tok AS (
                      SELECT doc_id, t.tok
                      FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents) d,
                      LATERAL (SELECT unnest(toks) AS tok) t
                      WHERE t.tok <> ''
                    ),
                    dfreq AS (
                      SELECT tok, count(DISTINCT doc_id) AS df
                      FROM tok GROUP BY tok
                    ),
                    vocab AS (
                      SELECT tok FROM dfreq ORDER BY df DESC, tok LIMIT 1000
                    ),
                    cnt AS (
                      SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id
                    ),
                    oov AS (
                      SELECT doc_id, count(*) AS noov FROM tok
                      WHERE tok NOT IN (SELECT tok FROM vocab)
                      GROUP BY doc_id
                    )
                    SELECT d.doc_id,
                           CAST(coalesce(nt, 0) AS BIGINT) AS n_tokens,
                           CAST(CASE WHEN coalesce(nt, 0) = 0 THEN 0
                                ELSE (coalesce(noov, 0) * 10000) // nt
                           END AS BIGINT) AS oov_bp
                    FROM documents d
                    LEFT JOIN cnt USING (doc_id)
                    LEFT JOIN oov USING (doc_id)
                """,
        "ta5_token_pieces": """
                    SELECT doc_id,
                           CAST(len(regexp_extract_all(
                             text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+'
                           )) AS INTEGER) AS n_pieces
                    FROM documents
                """,
        "ta6_winnow": """
                    WITH norm AS (
                      SELECT doc_id,
                             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                               AS t
                      FROM documents
                    ),
                    grams AS (
                      SELECT DISTINCT doc_id, substr(t, g.i, 5) AS gram
                      FROM norm, LATERAL (
                        SELECT unnest(generate_series(
                          1, greatest(length(t) - 4, 1))) AS i
                      ) g
                    )
                    SELECT doc_id,
                           min(('0x' || substr(md5(gram), 1, 8))::BIGINT) AS winnow
                    FROM grams GROUP BY doc_id
                """,
        "ret7_phrase_search": f"""
            WITH toks AS (
              SELECT doc_id, tok, row_number() OVER (
                       PARTITION BY doc_id ORDER BY pos) AS pos
              FROM (
                SELECT doc_id, unnest({_TOKENS}) AS tok,
                       generate_subscripts({_TOKENS}, 1) AS pos
                FROM documents WHERE {_NORM} <> ''
              )
            )
            SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
            FROM toks a JOIN toks b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            WHERE a.tok = 'table' AND b.tok = 'table'
            GROUP BY a.doc_id
""",
        "ret6_trigram_search": """
            SELECT doc_id,
                   CAST(instr(text, 'merge batch') AS BIGINT) AS pos
            FROM documents
            WHERE instr(text, 'merge batch') > 0
""",
        "ret9_postings_skew_profile": f"""
            WITH dt AS (
              SELECT DISTINCT doc_id, t.tok
              FROM (SELECT doc_id, {_TOKENS} AS toks FROM documents) w,
                   unnest(w.toks) AS t(tok)
              WHERE t.tok <> ''
            ),
            tdf AS (
              SELECT tok, CAST(count(*) AS BIGINT) AS df
              FROM dt GROUP BY tok
            ),
            bk AS (
              SELECT CAST(length(bin(df)) AS INTEGER) AS bucket, df FROM tdf
            ),
            hist AS (
              SELECT bucket,
                     CAST(count(*) AS BIGINT) AS n_terms,
                     CAST(sum(df) AS BIGINT) AS total_postings
              FROM bk GROUP BY bucket
            )
            SELECT bucket,
                   CAST((2::BIGINT << (bucket - 1)) - 1 AS BIGINT)
                     AS bucket_max_df,
                   n_terms, total_postings,
                   CAST((total_postings * 10000)
                        // (sum(total_postings) OVER ()) AS BIGINT)
                     AS postings_share_bp
            FROM hist
""",
        "ret4_postings_blocks": f"""
            WITH toks AS (
              SELECT doc_id AS docid, unnest({_TOKENS}) AS token
              FROM documents WHERE {_NORM} <> ''
            ),
            post AS (
              SELECT DISTINCT token, docid FROM toks
              WHERE token <> ''
                AND ('0x' || substr(md5('shard:' || token), 1, 8))::BIGINT
                    % 3 = 0
            ),
            nd AS (SELECT count(*) AS n_docs FROM documents),
            ranked AS (
              SELECT token, docid,
                     count(*) OVER (PARTITION BY token) AS df,
                     row_number() OVER (
                       PARTITION BY token ORDER BY docid) AS rn,
                     lag(docid) OVER (
                       PARTITION BY token ORDER BY docid) AS prev
              FROM post
            )
            SELECT token,
                   CAST(df AS BIGINT) AS df,
                   CAST((rn - 1) // 64 AS INT) AS block_id,
                   CAST(count(*) AS INT) AS block_len,
                   min(docid) AS min_docid,
                   max(docid) AS max_docid,
                   CAST(sum(CASE WHEN (rn - 1) % 64 = 0
                            THEN length(bin(docid))
                            ELSE length(bin(docid - prev)) END)
                     AS BIGINT) AS gap_bits
            FROM ranked, nd
            WHERE 10 * df <= 9 * n_docs
            GROUP BY token, df, (rn - 1) // 64
""",
        "ret8_self_retrieval_mrr": f"""
                    WITH tok AS (
                      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
                    ),
                    postings AS MATERIALIZED (
                      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                      FROM tok WHERE tok <> '' GROUP BY doc_id, tok
                    ),
                    dl AS (
                      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
                      FROM postings GROUP BY doc_id
                    ),
                    stats AS (
                      SELECT count(*) AS n_docs,
                             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                               AS avgdl
                      FROM dl
                    ),
                    dft AS (
                      SELECT tok, CAST(count(*) AS BIGINT) AS df
                      FROM postings GROUP BY tok
                    ),
                    qdocs AS (
                      SELECT doc_id AS qid FROM documents
                      WHERE doc_id % 50 = 0 AND doc_id < 20000
                    ),
                    qterms AS (
                      SELECT qid, tok, df FROM (
                        SELECT q.qid, p.tok, d.df,
                               row_number() OVER (PARTITION BY q.qid
                                 ORDER BY d.df, p.tok) AS rn
                        FROM qdocs q
                        JOIN postings p ON p.doc_id = q.qid
                        JOIN dft d ON d.tok = p.tok
                      ) WHERE rn <= 2
                    ),
                    cand AS (
                      SELECT qt.qid, p.doc_id, p.tok, qt.df, p.tf
                      FROM qterms qt JOIN postings p ON p.tok = qt.tok
                    ),
                    w AS (
                      SELECT c.qid, c.doc_id, c.tok,
                             ((CAST(s.n_docs AS DOUBLE) - CAST(c.df AS DOUBLE)
                               + 0.5) / (CAST(c.df AS DOUBLE) + 0.5))
                             * (CAST(c.tf AS DOUBLE) * 2.2)
                             / (CAST(c.tf AS DOUBLE)
                                + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                                                        / s.avgdl))) AS w
                      FROM cand c JOIN dl ON c.doc_id = dl.doc_id, stats s
                    ),
                    per_doc AS (
                      SELECT qid, doc_id, sum(w ORDER BY tok) AS score
                      FROM w GROUP BY qid, doc_id
                    ),
                    ranked AS (
                      SELECT qid, doc_id,
                             row_number() OVER (PARTITION BY qid
                               ORDER BY score DESC, doc_id) AS rank
                      FROM per_doc
                    ),
                    sr AS (
                      SELECT qid, rank FROM ranked WHERE doc_id = qid
                    )
                    SELECT CAST(count(*) AS BIGINT) AS n_queries,
                           CAST(sum(CASE WHEN rank = 1 THEN 1 ELSE 0 END)
                             AS BIGINT) AS hits_at_1,
                           CAST(sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END)
                             AS BIGINT) AS hits_at_10,
                           CAST(sum(CASE WHEN rank <= 10 THEN 10000 // rank
                                    ELSE 0 END) // count(*) AS BIGINT)
                             AS mrr_bp
                    FROM sr
""",
        "ret1_bm25_topk": f"""
                    WITH tok AS (
                      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
                    ),
                    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
                    stats AS (
                      SELECT count(*) AS n_docs,
                             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                               AS avgdl
                      FROM dl
                    ),
                    dft AS (
                      SELECT tok, count(*) AS df FROM (
                        SELECT DISTINCT doc_id, tok FROM tok
                      ) GROUP BY tok
                    ),
                    terms AS (
                      SELECT tok, df FROM dft ORDER BY df DESC, tok LIMIT 3
                    ),
                    tf AS (
                      SELECT t.doc_id, t.tok, any_value(te.df) AS df,
                             count(*) AS tf
                      FROM tok t JOIN terms te ON t.tok = te.tok
                      GROUP BY t.doc_id, t.tok
                    ),
                    w AS (
                      SELECT tf.doc_id, tf.tok,
                             ((CAST(s.n_docs AS DOUBLE) - CAST(tf.df AS DOUBLE)
                               + 0.5) / (CAST(tf.df AS DOUBLE) + 0.5))
                             * (CAST(tf.tf AS DOUBLE) * 2.2)
                             / (CAST(tf.tf AS DOUBLE)
                                + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                                                        / s.avgdl))) AS w
                      FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
                    )
                    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms_hit,
                           sum(w ORDER BY tok) AS score
                    FROM w GROUP BY doc_id
                    ORDER BY score DESC, doc_id LIMIT 20
                """,
        "ret2_hybrid_rrf": f"""
                    WITH tok AS (
                      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
                    ),
                    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
                    stats AS (
                      SELECT count(*) AS n_docs,
                             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                               AS avgdl
                      FROM dl
                    ),
                    dft AS (
                      SELECT tok, count(*) AS df FROM (
                        SELECT DISTINCT doc_id, tok FROM tok
                      ) GROUP BY tok
                    ),
                    terms AS (
                      SELECT tok, df FROM dft ORDER BY df DESC, tok LIMIT 3
                    ),
                    tf AS (
                      SELECT t.doc_id, t.tok, any_value(te.df) AS df,
                             count(*) AS tf
                      FROM tok t JOIN terms te ON t.tok = te.tok
                      GROUP BY t.doc_id, t.tok
                    ),
                    w AS (
                      SELECT tf.doc_id, tf.tok,
                             ((CAST(s.n_docs AS DOUBLE) - CAST(tf.df AS DOUBLE)
                               + 0.5) / (CAST(tf.df AS DOUBLE) + 0.5))
                             * (CAST(tf.tf AS DOUBLE) * 2.2)
                             / (CAST(tf.tf AS DOUBLE)
                                + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                                                        / s.avgdl))) AS w
                      FROM tf JOIN dl ON tf.doc_id = dl.doc_id, stats s
                    ),
                    bm AS (
                      SELECT doc_id, sum(w ORDER BY tok) AS score
                      FROM w GROUP BY doc_id
                      ORDER BY score DESC, doc_id LIMIT 20
                    ),
                    tr AS (
                      SELECT doc_id,
                             CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                                  AS INTEGER) AS text_rank
                      FROM bm
                    ),
                    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                    a AS (SELECT * FROM e WHERE vec_id <> 0),
                    b AS (SELECT v FROM e WHERE vec_id = 0),
                    scored AS (
                      SELECT a.vec_id AS neighbor_id, {_COS} AS cosine FROM a, b
                    ),
                    vr AS (
                      SELECT neighbor_id AS doc_id, CAST(rn AS INTEGER) AS vec_rank
                      FROM (
                        SELECT *, row_number() OVER (
                          ORDER BY cosine DESC, neighbor_id) AS rn
                        FROM scored
                      ) WHERE rn <= 20
                    ),
                    fused AS (
                      SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id,
                             tr.text_rank, vr.vec_rank,
                             COALESCE(CAST(1 AS DOUBLE)
                                      / CAST(60 + tr.text_rank AS DOUBLE), 0.0)
                               + COALESCE(CAST(1 AS DOUBLE)
                                          / CAST(60 + vr.vec_rank AS DOUBLE), 0.0)
                               AS rrf_score
                      FROM tr FULL JOIN vr ON tr.doc_id = vr.doc_id
                    )
                    SELECT doc_id, text_rank, vec_rank, rrf_score
                    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
                """,
        "ta11_lm_quality": _TA11_SQL,
        "ta14_seed_lm_quality": f"""
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
                    )
                    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                           sum_ip / CAST(n AS DOUBLE) AS seed_mean_inv_prob
                    FROM agg
                """,
        "ta12_bpe_tokens": """
                    WITH t AS (
                      SELECT doc_id,
                             regexp_extract_all(text,
                               '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')
                               AS toks
                      FROM documents
                    )
                    SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_pretokens,
                           toks[1] AS first_tok, toks[len(toks)] AS last_tok
                    FROM t
                """,
        "ta1_token_count": f"SELECT doc_id, {_TOKEN_COUNT} AS n_tokens FROM documents",
        "ta2_quality": f"""
                    WITH base AS (
                      SELECT doc_id, text,
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
                    ratios AS (
                      SELECT doc_id, n_tokens,
                        CASE WHEN n_tokens > 0
                             THEN CAST(sw_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                             ELSE 0.0 END AS stopword_ratio,
                        CASE WHEN n_chars > 0
                             THEN CAST(punct_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
                             ELSE 0.0 END AS punct_ratio,
                        CASE WHEN n_chars > 0
                             THEN CAST(digit_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
                             ELSE 0.0 END AS digit_ratio
                      FROM base
                    )
                    SELECT doc_id, n_tokens, stopword_ratio, punct_ratio, digit_ratio,
                      least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
                      + least(stopword_ratio * 5.0, 1.0) * 0.3
                      + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.15
                      + (1.0 - least(digit_ratio * 4.0, 1.0)) * 0.15 AS quality_score
                    FROM ratios
                """,
        "ta7_quality_filter": f"""
                    WITH base AS (
                      SELECT doc_id, text,
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
                    ratios AS (
                      SELECT doc_id, n_tokens,
                        CASE WHEN n_tokens > 0
                             THEN CAST(sw_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                             ELSE 0.0 END AS stopword_ratio,
                        CASE WHEN n_chars > 0
                             THEN CAST(punct_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
                             ELSE 0.0 END AS punct_ratio,
                        CASE WHEN n_chars > 0
                             THEN CAST(digit_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
                             ELSE 0.0 END AS digit_ratio
                      FROM base
                    )
                    SELECT doc_id,
                           n_tokens >= 10 AND n_tokens <= 500
                           AND stopword_ratio >= 0.05
                           AND digit_ratio <= 0.2
                           AND punct_ratio <= 0.2 AS keep
                    FROM ratios
                """,
        "ta3_lang_id": f"""
                    WITH scores AS (
                      SELECT doc_id,
        {_LANG_SCORES}
                      FROM documents
                    )
                    SELECT doc_id, {_LANG_CASE} AS lang_guess FROM scores
                """,
        "ta13_lang_confusion": f"""
                    WITH scores AS (
                      SELECT doc_id, lang,
        {_LANG_SCORES}
                      FROM documents
                    ),
                    guessed AS (
                      SELECT lang, {_LANG_CASE} AS lang_guess FROM scores
                    ),
                    cells AS (
                      SELECT lang, lang_guess, count(*) AS n
                      FROM guessed GROUP BY lang, lang_guess
                    ),
                    totals AS (SELECT lang, count(*) AS tot FROM guessed GROUP BY lang)
                    SELECT c.lang, c.lang_guess, c.n,
                           CAST((c.n * 10000) // t.tot AS BIGINT) AS share_bp
                    FROM cells c JOIN totals t ON c.lang = t.lang
                """,
        "ta4_fingerprint": f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents",
        "tok1_bpe_merges": _TOK1_BPE_SQL,
        "tok2_bpe_encode": _TOK2_BPE_SQL,
        "tok3_wordpiece_encode": _TOK3_WORDPIECE_SQL,
        "tok4_bpe_sampled": _TOK4_SAMPLED_SQL,
        "tok13_piece_length_profile": (
            "\n            WITH "
            + _TOK5_CHAIN
            + f""",
            c4 AS (SELECT w, freq, {_TOK1_APPLY} AS arr FROM c3, wm3),
            pieces AS (
              SELECT t.piece, freq
              FROM c4, unnest(c4.arr) AS t(piece)
            ),
            per_piece AS (
              SELECT piece, CAST(sum(freq) AS BIGINT) AS usage
              FROM pieces GROUP BY piece
            ),
            hist AS (
              SELECT CAST(length(piece) AS INTEGER) AS piece_len,
                     CAST(count(*) AS BIGINT) AS n_pieces,
                     CAST(sum(usage) AS BIGINT) AS total_usage
              FROM per_piece GROUP BY 1
            )
            SELECT piece_len, n_pieces, total_usage,
                   CAST((total_usage * 10000)
                        // (sum(total_usage) OVER ()) AS BIGINT)
                     AS usage_share_bp
            FROM hist
"""
        ),
        "tok5_bpe_char_merges": _TOK5_CHAR_MERGES_SQL,
        "tok7_fertility_audit": "\n            WITH "
                    + _TOK5_CHAIN
                    + f""",
                    c4 AS (SELECT w, freq, {_TOK1_APPLY} AS arr FROM c3, wm3),
                    wp AS (SELECT w, len(arr) AS np FROM c4),
                    dw AS (
                      SELECT doc_id, arr[i] AS w
                      FROM (SELECT doc_id, {_TOKENS} AS arr FROM documents),
                           unnest(generate_series(1, len(arr))) AS s(i)
                      WHERE length(arr[i]) >= 1
                    ),
                    per_doc AS (
                      SELECT doc_id, count(*) AS n_words,
                             CAST(SUM(np) AS BIGINT) AS n_bpe
                      FROM dw JOIN wp USING (w) GROUP BY doc_id
                    )
                    SELECT d.source, count(*) AS n_docs,
                           CAST(SUM(p.n_words) AS BIGINT) AS n_words,
                           CAST(SUM(p.n_bpe) AS BIGINT) AS n_pieces,
                           CAST((SUM(p.n_bpe) * 10000) // SUM(p.n_words) AS BIGINT)
                             AS fertility_bp
                    FROM per_doc p JOIN documents d USING (doc_id)
                    GROUP BY d.source
        """,
        "tok6_bpe_char_encode": _TOK6_CHAR_ENCODE_SQL,
        "ta8_repetition": f"""
                    WITH w AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
                    g AS (
                      SELECT doc_id,
                             array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
                      FROM w, unnest(generate_series(1, greatest(len(toks) - 1, 1)))
                               AS t(i)
                    ),
                    c AS (SELECT doc_id, gram, count(*) AS cnt
                          FROM g GROUP BY doc_id, gram)
                    SELECT doc_id,
                           CAST(sum(cnt) AS INTEGER) AS n_grams,
                           CAST(count(*) AS INTEGER) AS distinct_grams,
                           CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
                             AS top_frac,
                           CAST(sum(cnt) - count(*) AS DOUBLE)
                             / CAST(sum(cnt) AS DOUBLE) AS dup_frac
                    FROM c GROUP BY doc_id
                """,
        "ta9_pii_scrub": """
                    WITH inj AS (
                      SELECT doc_id,
                        text ||
                        CASE WHEN doc_id % 3 = 0
                             THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                  || '@example.com' ELSE '' END ||
                        CASE WHEN doc_id % 5 = 0
                             THEN ' call 555-'
                                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                             ELSE '' END AS raw_text
                      FROM documents
                    )
                    SELECT doc_id,
                           regexp_replace(
                             regexp_replace(raw_text,
                               '[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+', '<EMAIL>', 'g'),
                             '555-[0-9]{4}', '<PHONE>', 'g') AS clean_text,
                           CAST(len(regexp_extract_all(raw_text,
                             '[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+')) AS INTEGER)
                             AS n_emails,
                           CAST(len(regexp_extract_all(raw_text, '555-[0-9]{4}'))
                             AS INTEGER) AS n_phones
                    FROM inj
                """,
        "tfidf_top_terms": f"""
                    WITH toks AS (
                      SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
                    ),
                    tf AS (SELECT doc_id, term, count(*) AS tf
                           FROM toks GROUP BY doc_id, term),
                    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
                    n AS (SELECT count(*) AS n_docs FROM documents),
                    scored AS (
                      SELECT tf.doc_id, tf.term, tf.tf,
                             (CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE))
                               / CAST(dfreq.df AS DOUBLE) AS score
                      FROM tf JOIN dfreq USING (term), n
                    )
                    SELECT doc_id, term, CAST(tf AS INTEGER) AS tf, score,
                           CAST(rnk AS INTEGER) AS rnk
                    FROM (SELECT *, row_number() OVER (
                            PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
                          FROM scored)
                    WHERE rnk <= 3
                """,
        "retention1_cohorts": """
                    WITH cohorts AS (
                      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
                      FROM events WHERE event_type = 'signup' GROUP BY user_id
                    ),
                    active AS (
                      SELECT e.user_id, c.cohort_week,
                             CAST(date_diff('day',
                                    CAST(c.cohort_week AS DATE),
                                    CAST(date_trunc('week', e.ts) AS DATE)) / 7
                                  AS INTEGER) AS week_n
                      FROM events e JOIN cohorts c ON e.user_id = c.user_id
                    )
                    SELECT CAST(cohort_week AS DATE) AS cohort_week, week_n,
                           count(DISTINCT user_id) AS active_users
                    FROM active WHERE week_n >= 0
                    GROUP BY 1, 2
                """,
    }
