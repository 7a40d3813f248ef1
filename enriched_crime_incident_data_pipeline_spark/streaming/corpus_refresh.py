"""Streaming-native corpus refresh: the incremental version of the
batch refresh report (``registry.q_corpus_refresh1``).

The batch refresh answers, for every ARRIVING doc, "what is your
admission verdict against the standing corpus?" (exact_dup >
near_dup_old > near_dup_new > contaminated > kept).  The lakehouse
shape real pipelines run is not a nightly batch recompute but the
st7 ingest feeding this refresh incrementally: arriving documents
stream in id-ordered micro-batches, and each batch is judged against

1. **static old-fingerprint state** — the standing corpus's distinct
   normalized-text md5s, written once at stream start (dc2's
   mechanism; a semi-join per batch, |old| never rescanned as text);
2. **the growing band index** — seeded with the standing corpus's
   MinHash bands and appended per batch (dd12's mechanism via
   :func:`datapipe.dedup.incremental_lsh_pairs`: batch bands probe
   the index, work ∝ |batch| × hit-rate, the corpus NEVER
   self-joins).  A pair whose smaller id is old flags near_dup_old;
   a pair whose smaller id is new flags near_dup_new — with
   id-ordered arrival the smaller side is always already indexed (or
   in the same batch), so the greater side is always judged in its
   own batch: the fold is PREFIX-STABLE and the final verdict table
   is byte-identical to the batch refresh for any id-ordered split
   (pinned by ``test_multimodal_streaming.py`` and the shared
   ``corpus_refresh1`` oracle of ``st28_stream_corpus_refresh``);
3. **static eval-gram state** — the eval set's 8-gram frozenset,
   collected ONCE at stream start and re-broadcast per batch (dc6's
   mechanism: benchmarks are MBs by definition; the stream never
   shuffles for decontamination).

Unlike the st7 ingest (which rebuilds corpus text), the refresh is a
pure CLASSIFIER: per batch it writes one verdict row per arriving
doc plus the batch's bands — ONE union write into the batch's
``batch=N`` subdirectory of the single state relation (r11) with
OVERWRITE, so an at-least-once foreachBatch replay is idempotent
(st7's effective-exactly-once trick), and state reads exclude the
replaying batch's own debris.  State size is the band index (∝ docs
seen × bands/doc, the same artifact dd12 already persists) plus the
two static side inputs — bounded by index size, never by stream
length.

Scale: per batch the only wide ops are the band equi-join against
the index (65k-value bucket domain), the fingerprint semi-join
(broadcast-sized: distinct md5s of the standing corpus), and the
verdict left-joins over BATCH-sized relations.  The out-of-order
guard is the st7 id-watermark: bounds ride the band write's
``observe()`` metrics, so the check costs no extra job.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
    incremental_lsh_pairs,
    minhash_bands,
)
from enriched_crime_incident_data_pipeline_spark.datapipe.decontaminate import (
    doc_ngrams,
    with_contamination_flag,
)
from enriched_crime_incident_data_pipeline_spark.functions.text import (
    doc_fingerprint,
)
from enriched_crime_incident_data_pipeline_spark.streaming.corpus_ingest import (
    STATE_PARTITIONS,
    _run_fold,
)

# r11 (verdict item 1): ONE state relation instead of three. Band
# rows, verdict rows, and the seed's old-corpus fingerprint rows share
# a union schema (each kind's unused columns NULL) and land in the
# SAME per-batch directory with ONE write — the per-batch fold runs
# one state-write job instead of two, and the seed runs one instead
# of two, against a fixed ~0.4-0.6 s/job micro-batch floor (guide
# §1.2/§5: fewer driver barriers). Kind dispatch at read time is a
# NULL test on the kind's witness column (band_id / verdict /
# fingerprint); the union write emits each branch's partitions as
# separate parquet FILES, so files stay kind-pure and the IS NOT NULL
# filters prune whole row groups via parquet null-count stats —
# readers never pay for the kinds they skip.
_STATE = "refresh_state"


def _p(state_dir: str, name: str) -> str:
    return os.path.join(state_dir, name)


def _batch_p(state_dir: str, name: str, batch_id: int) -> str:
    return os.path.join(state_dir, name, f"batch={batch_id}")


def _band_kind(bands: DataFrame) -> DataFrame:
    return bands.select(
        "doc_id",
        "band_id",
        "band_hash",
        F.lit(None).cast("string").alias("verdict"),
        F.lit(None).cast("string").alias("fingerprint"),
    )


def _verdict_kind(verdicts: DataFrame) -> DataFrame:
    return verdicts.select(
        "doc_id",
        F.lit(None).cast("int").alias("band_id"),
        F.lit(None).cast("binary").alias("band_hash"),
        "verdict",
        F.lit(None).cast("string").alias("fingerprint"),
    )


def _fingerprint_kind(fps: DataFrame) -> DataFrame:
    return fps.select(
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("int").alias("band_id"),
        F.lit(None).cast("binary").alias("band_hash"),
        F.lit(None).cast("string").alias("verdict"),
        "fingerprint",
    )


def corpus_refresh_batch(
    state_dir: str, cutoff: int, eval_grams: frozenset, ngram: int = 8
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function that classifies one
    micro-batch of arriving documents against the refresh state under
    ``state_dir``.  ``cutoff`` is the standing-corpus id boundary
    (ids < cutoff are the old corpus); ``eval_grams`` is the
    pre-collected static eval n-gram set."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from pyspark.sql import Observation

        batch_df = batch_df.localCheckpoint(eager=False)
        new_bands = minhash_bands(batch_df).localCheckpoint(eager=False)
        obs = Observation(f"corpus_refresh_bounds_{batch_id}")
        bands_out = new_bands.observe(
            obs, F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        )
        # the index always exists (seeded with the old corpus's bands
        # at stream start); exclude this batch's own possibly-partial
        # replay debris, and non-band kinds via the witness column
        index = (
            spark.read.parquet(_p(state_dir, _STATE))
            .filter(
                (F.col("batch") != batch_id) & F.col("band_id").isNotNull()
            )
            .select("doc_id", "band_id", "band_hash")
        )
        pairs = incremental_lsh_pairs(new_bands, index)
        # r11 (guide §2.4): the verdict used to assemble from FOUR
        # per-detector relations (two pair DISTINCTs + two more
        # detectors) left-joined one by one — 2 extra shuffles and 4
        # joins per batch, all over batch-sized rows where the fixed
        # per-exchange cost dominates. Now each detector emits
        # (doc_id, priority) flag rows, ONE min-aggregation resolves
        # the verdict precedence (exact 1 > near_old 2 > near_new 3 >
        # contaminated 4), and ONE left join attaches it to the batch.
        # near_old/near_new collapse into one pass over `pairs`:
        # near_old ⇔ ∃ partner a < cutoff ⇔ min(a) < cutoff — same
        # precedence result, half the pair scans, no distincts (the
        # min-agg dedups).
        near = (
            pairs.groupBy(F.col("b").alias("doc_id"))
            .agg(F.min("a").alias("_mina"))
            .select(
                "doc_id",
                F.when(F.col("_mina") < cutoff, F.lit(2))
                .otherwise(F.lit(3))
                .alias("p"),
            )
        )
        # the static fingerprint set lives in the seed directory
        # (batch=-1) as its own kind; IS NOT NULL prunes every other
        # file by null-count stats
        old_fps = (
            spark.read.parquet(_p(state_dir, _STATE))
            .filter(F.col("fingerprint").isNotNull())
            .select("fingerprint")
        )
        exact_ids = (
            batch_df.select(
                "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
            )
            .join(old_fps, "fingerprint", "left_semi")
            .select("doc_id", F.lit(1).alias("p"))
        )
        contam = (
            with_contamination_flag(
                batch_df.select("doc_id", "text"),
                eval_docs=None,
                n=ngram,
                eval_grams=eval_grams,
            )
            .filter(F.col("contaminated") == 1)
            .select("doc_id", F.lit(4).alias("p"))
        )
        flags = (
            exact_ids.unionAll(near)
            .unionAll(contam)
            .groupBy("doc_id")
            .agg(F.min("p").alias("p"))
        )
        verdicts = (
            batch_df.select("doc_id")
            .join(flags, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("p") == 1, F.lit("exact_dup"))
                .when(F.col("p") == 2, F.lit("near_dup_old"))
                .when(F.col("p") == 3, F.lit("near_dup_new"))
                .when(F.col("p") == 4, F.lit("contaminated"))
                .otherwise(F.lit("kept"))
                .alias("verdict"),
            )
        )
        # ONE state write per batch (r11): bands + verdicts union into
        # the batch's directory — the union's branches stay separate
        # output files, so read-side NULL-witness filters prune cleanly
        _band_kind(bands_out).unionByName(_verdict_kind(verdicts)).write.mode(
            "overwrite"
        ).parquet(_batch_p(state_dir, _STATE, batch_id))
        # id-watermark out-of-order guard (st7's): a smaller-id batch
        # after a larger one would need to retro-flag already-emitted
        # verdicts — fail loudly, un-writing this batch's state (the
        # single per-batch directory, so the rejected batch leaves no
        # trace at all)
        bounds = obs.get
        wm_path = _p(state_dir, "_id_watermark")
        if bounds["lo"] is not None and os.path.exists(wm_path):
            with open(wm_path) as fh:
                wm = json.load(fh)
            if wm["batch_id"] != batch_id and bounds["lo"] <= wm["hi"]:
                shutil.rmtree(
                    _batch_p(state_dir, _STATE, batch_id), ignore_errors=True
                )
                raise ValueError(
                    f"out-of-order refresh: batch {batch_id} min doc_id "
                    f"{bounds['lo']} <= already-indexed max {wm['hi']}; "
                    "prefix-stable verdicts require id-ordered batches"
                )
        if bounds["hi"] is not None:
            tmp_path = wm_path + ".tmp"
            with open(tmp_path, "w") as fh:
                json.dump({"batch_id": batch_id, "hi": bounds["hi"]}, fh)
            os.replace(tmp_path, wm_path)

    return fn


def run_corpus_refresh_stream(
    spark: SparkSession,
    new_docs_dir: str,
    schema,
    state_dir: str,
    old_docs: DataFrame,
    eval_docs: DataFrame,
    cutoff: int,
    ngram: int = 8,
    state_partitions: int | None = STATE_PARTITIONS,
) -> DataFrame:
    """Seed the refresh state from ``old_docs`` (band index +
    fingerprint set) and ``eval_docs`` (static gram set), run an
    AvailableNow stream of arriving documents from ``new_docs_dir``
    through :func:`corpus_refresh_batch`, and return the accumulated
    verdict table ``(doc_id, verdict)`` — one row per arriving doc,
    pinned ≡ the batch refresh (``q_corpus_refresh1``) for any
    id-ordered split. ``state_partitions`` and the AQE-off conf apply
    to the fold only (:func:`corpus_ingest._run_fold`); the seed runs
    under the session conf."""
    # seed: old bands + old fingerprints under batch=-1 (a real batch
    # id is ≥ 0, so the replay-exclusion filter never drops the seed)
    # in ONE write (r11) — the standing corpus is the BIG side at
    # scale, so its text is scanned once (with_minhash_cols computes
    # the fingerprint and the 16 minhash minima in the same pass,
    # corpus_build3's fusion idiom) instead of once per artifact;
    # eval grams collected ONCE as before
    from enriched_crime_incident_data_pipeline_spark.datapipe.dedup import (
        bands_from_sigs,
        with_minhash_cols,
    )

    old_base = with_minhash_cols(
        old_docs.select(
            "doc_id",
            "text",
            doc_fingerprint(F.col("text")).alias("fingerprint"),
        )
        # text is consumed inside the same pass; drop it before the
        # pin so the checkpointed relation is (id, fp, 16 longs)
    ).drop("text").localCheckpoint(eager=False)
    _band_kind(bands_from_sigs(old_base)).unionByName(
        _fingerprint_kind(old_base.select("fingerprint").distinct())
    ).write.mode("overwrite").parquet(_batch_p(state_dir, _STATE, -1))
    eval_grams = frozenset(
        r[0]
        for r in doc_ngrams(eval_docs, ngram).select("gram").distinct().collect()
    )
    _run_fold(
        spark,
        new_docs_dir,
        schema,
        state_dir,
        corpus_refresh_batch(state_dir, cutoff, eval_grams, ngram),
        state_partitions,
    )
    return (
        spark.read.parquet(_p(state_dir, _STATE))
        .filter(F.col("verdict").isNotNull())
        .select("doc_id", "verdict")
    )
