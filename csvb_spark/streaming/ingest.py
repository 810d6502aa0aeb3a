"""Continuous corpus ingest: stream document batches through the
quality gate, exact dedup, and a near-dup reject against the
PERSISTED MinHash band index, appending survivors to the corpus and
their band rows to the index.

The reference has no streaming surface (SURVEY.md §2.B.10); this is
the end-to-end composition of the batch operators a continuously
growing training corpus needs:

- quality gate + PII redaction: map-only (``operators.text``), no
  state;
- eval-suite decontamination gate (round 12): the x138 SBBF word
  table built once at stream start; documents sharing ≥ N distinct
  char k-grams with the eval suite never enter the corpus (Bloom
  counting has no false negatives, so the gate can only over-reject
  — the right polarity for benchmark hygiene);
- within-batch exact dedup: one digest groupBy over the micro-batch;
- cross-batch near-dup: ``operators.dedup.dedup_incremental`` against
  the band index built by every PREVIOUS batch — the new batch is
  signed map-only, the candidate equi-join prunes to colliding band
  buckets, and the corpus is never re-signed (state lives in the
  index table, not executor memory);
- the accepted docs and their band rows append atomically per
  micro-batch (``foreachBatch`` runs the writes in batch scope, and
  the checkpoint makes re-delivery idempotent-enough for parquet
  sinks at test scale; at production scale both sinks would be a
  transactional table format).

At 100 TB the source is Kafka / object-store notifications. The
index is written in ``dedup.write_band_index``'s layout —
hive-partitioned by ``bucket = pmod(xxhash64(band_key), N)`` — so the
probe join dynamic-partition-prunes to the index partitions the batch
can collide with; per-batch work is bounded by batch size ×
collision rate, never corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csvb_spark.operators import classify as C
from csvb_spark.operators import dedup as D
from csvb_spark.operators import lm as L
from csvb_spark.operators import splits as S
from csvb_spark.operators import text as T


def _accept_batch(
    batch: DataFrame,
    corpus_dir: str,
    index_dir: str,
    text_col: str,
    min_quality: float,
    min_jaccard: float,
    num_perm: int,
    bands: int,
    gopher_gate: bool = False,
    gopher_min_words: int = 50,
    classifier_threshold: float | None = None,
    lm_model: DataFrame | None = None,
    max_ppl: float | None = None,
    lm_smoothing: str = "addk",
    url_col: str | None = None,
    domain_quota: int | None = None,
    quota_dir: str | None = None,
    dsir_weights: DataFrame | None = None,
    dsir_min_avg: float | None = None,
    dsir_n_buckets: int = 1 << 18,
    dsir_seed: int = 7,
    decontam_words: DataFrame | None = None,
    decontam_n_words: int = 1,
    decontam_k: int = 8,
    decontam_min_shared: int | None = 2,
    decontam_seed: int = 7,
    decontam_unit: str = "char",
    gate_timers: dict[str, list[float]] | None = None,
    lm_model_stats=None,
) -> None:
    """Process one micro-batch (runs driver-side under foreachBatch —
    everything in here is ordinary batch DataFrame code).

    ``lm_model`` and ``dsir_weights`` arrive ALREADY materialized
    (read + localCheckpoint once before the stream starts), so no
    micro-batch re-reads or re-checkpoints a gate model (round-7
    ADVICE)."""
    spark = batch.sparkSession

    # ONE batch scan shared by every gate (round 14, verdict item 7):
    # each gate (quality, gopher, classifier, LM, DSIR, decontam) is
    # an independent consumer of ``batch``, and without materialization
    # each consumer re-reads + re-decodes the source file. Persisting
    # the micro-batch makes every gate's tokenize/shingle pass read one
    # InMemoryTableScan — the shared-scan rule `_gate_chain`'s plan
    # test pins (zero FileScans inside the gate chain). Unpersisted in
    # the caller's finally below.
    batch = batch.persist()
    gated = None
    # per-batch localCheckpoints (gate-timer keep sets, the quota
    # admission table, the band table) — released in the finally so a
    # long stream never accumulates executor storage (round-15 ADVICE)
    ckpts: list[DataFrame] = []
    try:
        gated = _gate_chain(
            batch,
            text_col,
            min_quality,
            gopher_gate,
            gopher_min_words,
            classifier_threshold,
            lm_model,
            max_ppl,
            lm_smoothing,
            dsir_weights,
            dsir_min_avg,
            dsir_n_buckets,
            dsir_seed,
            decontam_words,
            decontam_n_words,
            decontam_k,
            decontam_min_shared,
            decontam_seed,
            decontam_unit,
            gate_timers=gate_timers,
            lm_model_stats=lm_model_stats,
            ckpts=ckpts,
        )
        # The gate chain is consumed more than once downstream
        # (pii_redact(gated) joins back to gated; exact dedup and the
        # band-index probe each re-derive their input), and Spark
        # re-executes lineage per consumer — so without this persist
        # the WHOLE chain (LM scoring, DSIR features, the decontam
        # gram explode+aggregate) re-ran 2-6x per micro-batch. This
        # was the round-13 streaming bench's decontam finding in a
        # second costume: materialize once, every consumer reads the
        # gate verdicts instead of re-litigating them.
        gated = gated.persist()
        _sink_batch(
            batch,
            gated,
            corpus_dir,
            index_dir,
            text_col,
            min_jaccard,
            num_perm,
            bands,
            url_col,
            domain_quota,
            quota_dir,
            ckpts=ckpts,
        )
    finally:
        if gated is not None:
            gated.unpersist()
        batch.unpersist()
        for df in ckpts:
            _release_local_checkpoint(df)


def _gate_chain(
    batch: DataFrame,
    text_col: str,
    min_quality: float,
    gopher_gate: bool = False,
    gopher_min_words: int = 50,
    classifier_threshold: float | None = None,
    lm_model: DataFrame | None = None,
    max_ppl: float | None = None,
    lm_smoothing: str = "addk",
    dsir_weights: DataFrame | None = None,
    dsir_min_avg: float | None = None,
    dsir_n_buckets: int = 1 << 18,
    dsir_seed: int = 7,
    decontam_words: DataFrame | None = None,
    decontam_n_words: int = 1,
    decontam_k: int = 8,
    # None is the gate-disabled case (only read when decontam_words
    # is set; the caller's pairing validation guarantees that)
    decontam_min_shared: int | None = 2,
    decontam_seed: int = 7,
    decontam_unit: str = "char",
    gate_timers: dict[str, list[float]] | None = None,
    lm_model_stats=None,
    ckpts: list[DataFrame] | None = None,
) -> DataFrame:
    """The admission-gate composition over one (persisted) micro-batch.

    Build-side rule (round 13's 128s→24s finding, pinned by
    tests/test_streaming_plan.py): every gate scores ``batch`` — the
    one materialized relation — NEVER the evolving ``gated`` chain or
    any downstream DataFrame. A gate probing ``gated`` would splice
    the whole upstream semi-join chain into its own build lineage and
    re-execute it once per downstream consumer.

    ``gate_timers``: pass a dict to record per-gate wall-clock (gate
    name → list of per-batch seconds). When set, each gate's keep/
    reject set is eagerly materialized (localCheckpoint) inside a
    timer, so the number is that gate's true scoring cost over the
    persisted batch — a DIRECT measurement, not a difference of whole
    -stream runs (round-14 bench artifact recorded a negative LM-gate
    delta because config-to-config host noise exceeded the per-gate
    signal). The downstream semi/anti join reads the checkpoint, so
    instrumentation shifts where the work is spent without repeating
    it; accepts are byte-identical (bench-asserted)."""
    import time as _time

    def _timed(name: str, keep: DataFrame) -> DataFrame:
        if gate_timers is None:
            return keep
        t0 = _time.perf_counter()
        keep = keep.localCheckpoint(eager=True)
        gate_timers.setdefault(name, []).append(
            round(_time.perf_counter() - t0, 4)
        )
        if ckpts is not None:
            ckpts.append(keep)
        return keep

    # 1. quality gate + scrub (map-only). The optional Gopher gate
    # composes the same rule bundle batch pipelines use (x59) — the
    # expressions are stateless, so they stream unchanged.
    scored = _timed(
        "quality",
        T.quality_score(batch, text_col).select("doc_id", "quality_score"),
    )
    gated = batch.join(scored, "doc_id").filter(
        F.col("quality_score") >= min_quality
    )
    if gopher_gate:
        ok = _timed(
            "gopher",
            T.gopher_rules(
                batch, text_col=text_col, min_words=gopher_min_words
            ).filter("keep").select("doc_id"),
        )
        gated = gated.join(ok, "doc_id", "left_semi")
    if classifier_threshold is not None:
        # model-based gate (x64): map-only scoring, so it streams
        # unchanged like the rule gates above
        keep = _timed(
            "classifier",
            C.linear_classifier_score(
                batch, text_col=text_col, threshold=classifier_threshold
            )
            .filter("keep")
            .select("doc_id"),
        )
        gated = gated.join(keep, "doc_id", "left_semi")
    if lm_model is not None:
        # LM fluency gate (x84 add-k, x89 Kneser-Ney, x93 stupid
        # backoff, or x110 Jelinek-Mercer via lm_smoothing): a
        # PRE-TRAINED model, materialized
        # once for the whole stream and broadcast, so scoring is
        # map-only like the other gates; documents too short for
        # n-gram evidence (NULL score) pass through — the rule gates,
        # not the LM, decide their fate
        # model_stats: the per-stream probe row from lm_model_stats —
        # None falls back to the scorer's own probe (identical values,
        # one more driver job per batch)
        if lm_smoothing == "sb":
            lm_scored = L.stupid_backoff_score(
                batch,
                lm_model,
                text_col=text_col,
                model_materialized=True,
                model_stats=lm_model_stats,
            )
            score_col = "sppl"
        elif lm_smoothing == "kn":
            lm_scored = L.kneser_ney_score(
                batch,
                lm_model,
                text_col=text_col,
                model_materialized=True,
                model_stats=lm_model_stats,
            )
            score_col = "ppl"
        elif lm_smoothing == "jm":
            lm_scored = L.jelinek_mercer_score(
                batch,
                lm_model,
                text_col=text_col,
                broadcast_model=True,
                model_materialized=True,
                model_stats=lm_model_stats,
            )
            score_col = "ppl"
        else:
            lm_scored = L.perplexity_score(
                batch,
                lm_model,
                text_col=text_col,
                broadcast_model=True,
                model_materialized=True,
                model_stats=lm_model_stats,
            )
            score_col = "ppl"
        lm_keep = _timed(
            "lm",
            lm_scored
            .filter(
                F.col(score_col).isNull()
                | (F.col(score_col) <= F.lit(float(max_ppl)))
            )
            .select("doc_id"),
        )
        gated = gated.join(lm_keep, "doc_id", "left_semi")
    if dsir_weights is not None:
        # DSIR domain-relevance gate (x131): a PRE-BUILT bucket weight
        # table (train-filter --method dsir), broadcast — map-only
        # like the other model gates. Features the weight build never
        # saw take the table's DEFAULT row, so out-of-vocabulary
        # micro-batch content is scored, not dropped.
        dsir_keep = _timed(
            "dsir",
            C.dsir_score_with_weights(
                batch,
                dsir_weights,
                text_col=text_col,
                n_buckets=dsir_n_buckets,
                seed=dsir_seed,
                weights_materialized=True,
            )
            .filter(
                (F.col("log_importance") / F.col("n_features").cast("double"))
                >= F.lit(float(dsir_min_avg))
            )
            .select("doc_id"),
        )
        gated = gated.join(dsir_keep, "doc_id", "left_semi")
    if decontam_words is not None:
        # eval-set decontamination gate (x138's SBBF word table,
        # built ONCE at stream start): reject documents sharing
        # >= decontam_min_shared distinct char k-grams with the eval
        # suite. The Bloom filter has no false negatives, so a truly
        # contaminated document can NEVER leak into the corpus; a
        # false positive (~5e-4/gram) can only over-count, i.e. the
        # gate errs toward dropping — the right polarity for
        # benchmark hygiene. Map-only probe + broadcast word lookup,
        # like every other model gate here — and like them it scores
        # ``batch``, NOT ``gated``: every downstream consumer of the
        # anti-join re-executes its build side's lineage, so probing
        # gated re-ran the whole quality+LM semi-join chain once per
        # consumer (measured 16s/625-doc micro-batch vs ~1s for the
        # probe itself — the round-13 streaming bench finding).
        # Probing the raw batch costs a few already-rejected docs'
        # grams and keeps the build side's lineage one parquet scan.
        hot = _timed(
            "decontam",
            S.sbbf_gram_hits(
                batch,
                decontam_words,
                decontam_n_words,
                text_col=text_col,
                k=decontam_k,
                seed=decontam_seed,
                unit=decontam_unit,
            )
            .filter(F.col("n_bloom_shared") >= F.lit(int(decontam_min_shared)))
            .select("doc_id"),
        )
        gated = gated.join(hot, "doc_id", "left_anti")
    return gated


def _sink_batch(
    batch: DataFrame,
    gated: DataFrame,
    corpus_dir: str,
    index_dir: str,
    text_col: str,
    min_jaccard: float,
    num_perm: int,
    bands: int,
    url_col: str | None,
    domain_quota: int | None,
    quota_dir: str | None,
    ckpts: list[DataFrame] | None = None,
) -> None:
    """Redact, dedup (within-batch exact + cross-batch near-dup
    against the persisted band index), apply the optional domain
    quota, and append survivors to the corpus/index/quota sinks.
    ``gated`` arrives persisted (see _accept_batch)."""
    spark = batch.sparkSession
    # redacted text is a PROJECTION of gated, not a join: pii_redact's
    # rewrite chain is map-only, so computing it as a column avoids
    # one doc_id join per micro-batch (round-15 optimization; the
    # count columns pii_redact also emits are unused here)
    redacted = gated.withColumn(
        "redacted", T.pii_redact_col(F.col(text_col))
    ).drop("quality_score")

    # 2. within-batch exact dedup (keep lowest doc_id per digest)
    deduped = D.exact_dedup(redacted, text_col)

    # Sign the batch ONCE (round-15 optimization): the near-dup probe
    # and the index append both need the batch's MinHash band rows,
    # and before this pass each derived them independently — every
    # micro-batch was shingled + hashed + signed twice. Materialize
    # the (doc_id, sig, band_id, band_key) table once (bounded by
    # batch size × bands — fixed-width rows); the probe consumes it
    # via dedup_incremental(new_bands=...) and the index write reuses
    # the surviving rows via write_band_index_from_bands.
    # localCheckpoint, NOT persist: an A/B measured persist() +30 s on
    # the 8-batch decontam-gated stream — without lineage truncation
    # every bands consumer re-plans (and on a cache miss re-executes)
    # the whole gate chain. Checkpoint blocks would otherwise be freed
    # only by driver GC, so the finally below releases the
    # checkpointed RDD's blocks explicitly once both consumers ran.
    # spread_input=False + explicit repartition: a micro-batch is one
    # source file, so the signing input ALWAYS needs the core-count
    # repartition — but letting spread() discover that costs a full
    # analyze+optimize+plan of the gate-chain lineage per micro-batch
    # (df.rdd, ~0.7 s driver time — round-16 profile). Repartition
    # unconditionally (identical physical outcome: spread() fired on
    # every batch anyway) and skip the check.
    batch_bands = D.minhash_bands(
        deduped.repartition(spark.sparkContext.defaultParallelism),
        text_col,
        num_perm,
        bands,
        spread_input=False,
    ).localCheckpoint(eager=True)
    if ckpts is not None:
        ckpts.append(batch_bands)

    # 3. cross-batch near-dup reject against the persisted index
    have_index = os.path.isdir(index_dir) and any(
        f.endswith(".parquet")
        for _, _, files in os.walk(index_dir)
        for f in files
    )
    if have_index:
        idx = spark.read.parquet(index_dir)
        corpus = spark.read.parquet(corpus_dir)
        hits = D.dedup_incremental(
            deduped,
            corpus,
            text_col=text_col,
            num_perm=num_perm,
            bands=bands,
            min_jaccard=min_jaccard,
            corpus_bands=idx,
            new_bands=batch_bands,
        ).select("new_doc_id")
        accepted = deduped.join(
            hits, deduped["doc_id"] == hits["new_doc_id"], "left_anti"
        )
    else:
        accepted = deduped

    # 4. optional cross-batch per-domain admission quota — LAST, so a
    # document rejected by a quality/dedup gate never consumes quota.
    # Cross-batch state is a persisted (domain, n) increment table,
    # the same pattern as the band index: per-batch work is bounded by
    # batch size + domain cardinality, never corpus size. Increments
    # append; reads re-sum (bounded by domains × batches; a production
    # deployment compacts, exactly like the index would).
    if domain_quota is not None:
        from pyspark.sql import Window

        from csvb_spark.operators import web as W

        have_counts = os.path.isdir(quota_dir) and any(
            f.endswith(".parquet")
            for _, _, files in os.walk(quota_dir)
            for f in files
        )
        if have_counts:
            counts = (
                spark.read.parquet(quota_dir)
                .groupBy("domain")
                .agg(F.sum("n").alias("_have"))
            )
        else:
            counts = spark.createDataFrame([], "domain string, _have bigint")
        dom = accepted.select(
            "doc_id",
            W.registered_domain(W.url_normalize(url_col)).alias("domain"),
            W.quota_priority("doc_id").alias("_prio"),
        ).join(counts, "domain", "left")
        w = Window.partitionBy("domain").orderBy("_prio", "doc_id")
        # materialize the admission decision BEFORE any sink runs: its
        # lineage reads the corpus/index/counts tables this batch is
        # about to append to, so a lazy re-execution after the writes
        # would see the batch's own rows (self-near-dup) and silently
        # drop rows from the second consumer (caught by the
        # quota-stage test: the counts write lost a domain)
        admitted = (
            dom.withColumn("_rk", F.row_number().over(w))
            .filter(
                F.col("_rk") + F.coalesce("_have", F.lit(0)) <= domain_quota
            )
            .select("doc_id", "domain")
            .localCheckpoint(eager=True)
        )
        if ckpts is not None:
            ckpts.append(admitted)
        accepted = accepted.join(
            admitted.select("doc_id"), "doc_id", "left_semi"
        )
        new_counts = admitted.groupBy("domain").agg(F.count("*").alias("n"))
    else:
        new_counts = None

    # Cache: accepted feeds two sinks; never recompute the near-dup
    # join for the second write.
    accepted = accepted.persist()
    try:
        if accepted.count() == 0:
            return
        accepted.write.mode("append").parquet(corpus_dir)
        # reuse the batch's band rows (signed once above) — only the
        # accepted documents' rows land in the index
        D.write_band_index_from_bands(
            batch_bands.join(
                accepted.select("doc_id"), "doc_id", "left_semi"
            ),
            index_dir,
            mode="append",
        )
        if new_counts is not None:
            new_counts.write.mode("append").parquet(quota_dir)
    finally:
        accepted.unpersist()
        if ckpts is None:  # caller without a release list: free now
            _release_local_checkpoint(batch_bands)


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint's storage blocks eagerly (round-15
    ADVICE): checkpoint blocks are otherwise only dropped when the
    driver GCs the RDD reference, so a long-running stream can
    accumulate executor storage between GC cycles. Best-effort — on
    any JVM-shape surprise the ContextCleaner GC path remains the
    fallback. Call only after EVERY consumer of ``df`` has run: the
    blocks are the data (lineage is truncated), so a later read
    fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)  # noqa: SLF001
    except Exception:  # noqa: BLE001 — cleanup must never fail the batch
        pass


def run_streaming_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    min_quality: float = 0.5,
    min_jaccard: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    query_name: str = "corpus_ingest",
    gopher_gate: bool = False,
    gopher_min_words: int = 50,
    classifier_threshold: float | None = None,
    lm_model_dir: str | None = None,
    max_ppl: float | None = None,
    lm_smoothing: str = "addk",
    url_col: str | None = None,
    domain_quota: int | None = None,
    quota_dir: str | None = None,
    dsir_weights_dir: str | None = None,
    dsir_min_avg: float | None = None,
    dsir_n_buckets: int = 1 << 18,
    decontam_eval_dir: str | None = None,
    decontam_min_shared: int | None = None,
    decontam_k: int | None = None,
    decontam_unit: str = "char",
    gate_timers: dict[str, list[float]] | None = None,
) -> None:
    """Drive the ingest stream over ``source_dir`` to completion (one
    micro-batch per file, so files model arrival order). Appends to
    ``corpus_dir`` + ``index_dir``; re-runs resume from the
    checkpoint without re-processing consumed files.

    ``decontam_min_shared`` counts a document's distinct char
    k-grams shared with the eval SUITE AS A WHOLE (the union of all
    eval docs' grams, plus ~5e-4/gram Bloom false positives) — NOT
    per-eval-doc pairs like ``contamination_check``'s ``min_shared``.
    The same number is therefore a STRICTLY stricter gate here: a
    document sharing one gram with each of N eval docs counts N
    suite-wide but never reaches a per-pair threshold of N. Tune it
    against this gate's own counts, not against x19/x138 numbers;
    the over-reject polarity is the safe direction for benchmark
    hygiene.

    ``url_col`` + ``domain_quota`` + ``quota_dir`` (all three together)
    add a per-registered-domain admission cap as the FINAL stage: at
    most ``domain_quota`` documents per domain ever enter the corpus,
    counted across every batch via the persisted increment table at
    ``quota_dir`` — the crawl-frontier cap, applied only to documents
    that survived every other gate so rejects never consume quota.

    ``gate_timers``: pass a dict to collect per-gate wall-clock
    across the whole stream (gate name → per-batch seconds; see
    ``_gate_chain``). Measurement-only: accepts are identical with
    and without it (bench-asserted)."""
    if (lm_model_dir is None) != (max_ppl is None):
        raise ValueError(
            "run_streaming_ingest: lm_model_dir and max_ppl go together"
        )
    if (dsir_weights_dir is None) != (dsir_min_avg is None):
        raise ValueError(
            "run_streaming_ingest: dsir_weights_dir and dsir_min_avg go"
            " together"
        )
    quota_args = (url_col, domain_quota, quota_dir)
    if any(a is not None for a in quota_args) and not all(
        a is not None for a in quota_args
    ):
        raise ValueError(
            "run_streaming_ingest: url_col, domain_quota, and quota_dir"
            " go together"
        )
    if domain_quota is not None and domain_quota < 1:
        raise ValueError(
            f"run_streaming_ingest: domain_quota must be >= 1, got"
            f" {domain_quota}"
        )
    if lm_smoothing not in ("addk", "kn", "sb", "jm"):
        raise ValueError(
            f"run_streaming_ingest: unknown lm_smoothing {lm_smoothing!r}"
        )
    if lm_smoothing != "addk" and lm_model_dir is None:
        raise ValueError(
            "run_streaming_ingest: lm_smoothing without lm_model_dir is a"
            " no-op — configure the LM gate or drop the smoothing choice"
        )
    if (decontam_eval_dir is None) != (decontam_min_shared is None):
        raise ValueError(
            "run_streaming_ingest: decontam_eval_dir and"
            " decontam_min_shared go together"
        )
    if decontam_min_shared is not None and decontam_min_shared < 1:
        raise ValueError(
            "run_streaming_ingest: decontam_min_shared must be >= 1, got"
            f" {decontam_min_shared}"
        )
    if decontam_unit not in ("char", "word"):
        raise ValueError(
            f"run_streaming_ingest: unknown decontam_unit {decontam_unit!r}"
            " (expected char|word)"
        )
    if decontam_k is None:
        # unit-appropriate default, matching the `decontam` CLI: 8 for
        # char grams, 13 for the word rule — a caller switching to
        # decontam_unit='word' must not silently get loose word-8-grams
        decontam_k = 13 if decontam_unit == "word" else 8
    lm_model, lm_stats = None, None
    if lm_model_dir is not None:
        # read + materialize the gate model ONCE before the stream
        # starts (like the drift monitor's cached reference counts) —
        # micro-batches score against the checkpointed model, never
        # re-reading or re-checkpointing it (round-7 ADVICE)
        lm_model = spark.read.parquet(lm_model_dir)
        from csvb_spark.operators.lm import check_model_shape

        check_model_shape(lm_model.columns, lm_smoothing, "run_streaming_ingest")
        lm_model = lm_model.localCheckpoint(eager=True)
        # model-probe scalars once per STREAM (round 15): every scorer
        # derives the same bounded stats (V / row count / skew entropy)
        # from this fixed, materialized model — re-running that driver
        # job per micro-batch was pure repetition (value-identical by
        # construction; see lm_model_stats)
        lm_stats = L.lm_model_stats(lm_model, lm_smoothing)
    dsir_w, dsir_seed = None, 7
    if dsir_weights_dir is not None:
        dsir_w = spark.read.parquet(dsir_weights_dir)
        try:
            meta = C.dsir_table_params(dsir_w)  # loud schema check
        except ValueError as e:
            raise ValueError(f"run_streaming_ingest: {e}") from None
        if meta is not None:
            # resolve the hash params ONCE and strip the metadata
            # columns, so per-micro-batch scoring never runs a
            # driver-side probe job against the table
            dsir_n_buckets, dsir_seed = meta
        dsir_w = dsir_w.select("bucket", "log_weight").localCheckpoint(
            eager=True
        )
    decontam_words, decontam_n_words = None, 1
    if decontam_eval_dir is not None:
        # build the eval-suite SBBF word table ONCE before the stream
        # starts (like the LM/DSIR models): micro-batches probe the
        # checkpointed table, never re-reading or re-hashing the eval
        # corpus
        decontam_words, decontam_n_words = S.sbbf_eval_filter(
            spark.read.parquet(decontam_eval_dir),
            text_col=text_col,
            k=decontam_k,
            unit=decontam_unit,
        )
        decontam_words = decontam_words.localCheckpoint(eager=True)
    schema = spark.read.parquet(source_dir).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
        .writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda b, _id: _accept_batch(
                b,
                corpus_dir,
                index_dir,
                text_col,
                min_quality,
                min_jaccard,
                num_perm,
                bands,
                gopher_gate,
                gopher_min_words,
                classifier_threshold,
                lm_model,
                max_ppl,
                lm_smoothing,
                url_col,
                domain_quota,
                quota_dir,
                dsir_w,
                dsir_min_avg,
                dsir_n_buckets,
                dsir_seed,
                decontam_words,
                decontam_n_words,
                decontam_k,
                # the eval_dir<->min_shared pairing check above
                # guarantees min_shared is set whenever the gate is
                # enabled; when disabled, _accept_batch never reads it
                # (no silent default that could contradict the
                # word-unit convention of min_shared=1)
                decontam_min_shared,
                decontam_unit=decontam_unit,
                gate_timers=gate_timers,
                lm_model_stats=lm_stats,
            )
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
