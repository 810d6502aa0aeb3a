"""Model-based filtering scaffolding: a hashed-feature linear text
classifier (the fastText shape — Joulin et al. 2016, "Bag of Tricks
for Efficient Text Classification") scored entirely JVM-side.

Quality filtering at LLM-corpus scale is overwhelmingly done with
linear classifiers over hashed bag-of-n-gram features (CCNet, GPT-3's
WebText filter, FineWeb-Edu's distilled scorer all reduce to this
shape at inference time): the model is a bounded weight vector, and
scoring is a per-document dot product — embarrassingly parallel,
map-only, no Python boundary needed.

Two scoring paths, identical semantics:

- **formula weights** (default): the bucket→weight map is a pure
  expression, so scoring is a single higher-order-function fold in
  whole-stage codegen — ZERO shuffles, linear scan, the 100 TB hot
  path. Used by the corpus entry because any engine can recompute it
  (the oracle re-derives every weight in SQL).
- **table weights** (`weights=` DataFrame): real trained weights.
  Features explode → md5 bucket → broadcast-join the weight table
  (≤ n_buckets rows — a model, bounded by construction, never by
  data) → one groupBy(doc_id) rollup. One fixed-width shuffle.

Determinism contract (per the repo-wide cross-engine rules): feature
hashing is md5-based (portable — xxhash64 has no DuckDB twin), weights
are INTEGERS in [-500, 500] summed exactly as int64 (float sums in
data-dependent order are engine-fragile), and the only float op is one
final IEEE division. Reference scope: beyond-reference
(training-pipeline extension; the reference has no text operators —
SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csvb_spark.operators.lm import _flag, _split_counts
from csvb_spark.operators.text import tokens


def feature_bucket(feat: Column, n_buckets: int, seed: int = 7) -> Column:
    """Portable hash bucket in [0, n_buckets) for a feature string.

    DuckDB twin: ``('0x' || substr(md5(f || ':seed'), 1, 8))::BIGINT
    % n_buckets`` (same recipe as ``splits.split_bucket(portable=
    True)``).
    """
    h32 = F.conv(
        F.substring(
            F.md5(F.encode(F.concat(feat, F.lit(f":{seed}")), "UTF-8")), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h32, F.lit(n_buckets))


def formula_weight(bucket: Column) -> Column:
    """Deterministic pseudo-trained integer weight in [-500, 500] for a
    bucket: a SECOND md5 avalanche over the bucket id (so weight is
    uncorrelated with bucket order).

    DuckDB twin: ``(('0x' || substr(md5(bucket || ':w'), 1, 8))::BIGINT
    % 1001) - 500``.
    """
    h = F.conv(
        F.substring(
            F.md5(F.encode(F.concat(bucket.cast("string"), F.lit(":w")), "UTF-8")),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(1001)) - F.lit(500)


def hashed_features(text_col: str | Column = "text") -> Column:
    """fastText-style feature set: lowercased unigrams + word bigrams
    (``wordNgrams=2``), as one array column. Map-only."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # NULL text reads as empty (one '' token after split) so BOTH
    # scoring paths keep the document: a NULL feature array would be
    # dropped by the join path's explode but pass through the formula
    # fold as NULL — divergent outputs for the same model
    return hashed_features_from_tokens(
        tokens(F.lower(F.coalesce(c, F.lit(""))))
    )


def hashed_features_from_tokens(t: Column) -> Column:
    """:func:`hashed_features` over an ALREADY-TOKENIZED array column.
    Split out (round 15) so callers can stage the tokenizer in its own
    projection: the feature expression references the token array ~6
    times, and inside an interpreted projection (the scoring fold is a
    CodegenFallback higher-order function, so no common-subexpression
    elimination runs) each reference re-splits the text."""
    # zip_with over two slices, NOT transform(sequence(...), i ->
    # slice(t, i, 2)): expressions referenced INSIDE a higher-order
    # lambda re-evaluate per element, so the sequence form re-ran the
    # tokenizer split once per bigram — quadratic in document length
    # (measured 3.1 s → linear on the sf0.1 feature explode). zip_with
    # children evaluate once per row.
    bigrams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(t, bigrams)


def linear_classifier_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 18,
    seed: int = 7,
    weights: DataFrame | None = None,
    threshold: float = 0.0,
) -> DataFrame:
    """Score every document with a hashed-feature linear classifier.

    Output: ``(doc_id, n_features, margin, score, keep)`` where
    ``margin`` is the exact int64 weight sum over the document's
    hashed unigram+bigram features, ``score = margin / (1000 * n)``
    (mean weight rescaled to roughly [-0.5, 0.5] — the single IEEE
    division), and ``keep = score > threshold``.

    With ``weights=None`` the bucket→weight map is
    :func:`formula_weight` and the whole operator is one codegen'd
    projection — zero shuffles. With a ``weights`` DataFrame
    ``(bucket, weight)`` (a trained model; weight must be integer),
    features explode and broadcast-join the model, then roll up per
    document — one shuffle on ``doc_id``.
    """
    if weights is None:
        # Staged projections (round 15, guide §4/§1.2 per-task work):
        # tokenize once, build the feature array once, THEN fold. The
        # single-projection form evaluated the tokenizer split ~6× and
        # the feature concat twice per row — the fold is a
        # CodegenFallback higher-order function, so the projection runs
        # interpreted with no common-subexpression elimination, and
        # Catalyst's CollapseProject keeps these stages apart (it never
        # inlines a non-cheap alias consumed more than once). Values
        # are bit-identical: same expressions, evaluated fewer times.
        c = F.col(text_col) if isinstance(text_col, str) else text_col
        margin = F.aggregate(
            F.col("_feats"),
            F.lit(0).cast("bigint"),
            lambda acc, f: acc + formula_weight(feature_bucket(f, n_buckets, seed)),
        )
        scored = (
            docs.select(
                F.col(id_col),
                tokens(F.lower(F.coalesce(c, F.lit("")))).alias("_t"),
            )
            .select(
                id_col, hashed_features_from_tokens(F.col("_t")).alias("_feats")
            )
            .select(
                id_col,
                F.size("_feats").alias("n_features"),
                margin.alias("margin"),
            )
        )
    else:
        exploded = docs.select(
            id_col, F.explode(hashed_features(text_col)).alias("f")
        ).withColumn("bucket", feature_bucket(F.col("f"), n_buckets, seed))
        joined = exploded.join(F.broadcast(weights), "bucket", "left")
        scored = joined.groupBy(id_col).agg(
            F.count("*").alias("n_features"),
            F.sum(F.coalesce(F.col("weight"), F.lit(0)).cast("bigint")).alias(
                "margin"
            ),
        )
    return scored.select(
        id_col,
        "n_features",
        "margin",
        F.round(
            F.col("margin").cast("double")
            / (F.lit(1000.0) * F.col("n_features").cast("double")),
            6,
        ).alias("score"),
        (
            F.col("margin").cast("double")
            / (F.lit(1000.0) * F.col("n_features").cast("double"))
            > F.lit(threshold)
        ).alias("keep"),
    )


def linear_classifier_train(
    labeled: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    n_buckets: int = 1 << 18,
    seed: int = 7,
    lr: int = 4000,
    steps: int = 2,
    driver_bucket_limit: int = 1 << 21,
    storage_level=None,
) -> DataFrame:
    """Train the hashed-feature linear classifier that
    :func:`linear_classifier_score` consumes — full-batch logistic
    regression over the same unigram+bigram hashed features, so
    model-based filtering has an in-engine trained-weights producer
    (completing the fastText train+infer shape; module doc).

    ``labeled`` must carry a non-null 0/1 integer ``label_col``.
    Returns a model DataFrame ``(bucket, weight)`` — integer
    milli-unit weights, exactly the shape ``weights=`` expects — with
    one row per distinct feature bucket observed in the corpus.

    Execution shape (the ``kmeans_train`` pattern — the model lives on
    the driver as a bounded constant, the data never does): the
    feature-exploded corpus is cached once; each gradient step is two
    aggregations over it — a per-document margin rollup (current
    weights broadcast-joined) and a per-bucket gradient rollup — and
    one bounded collect of the per-bucket gradient (≤ ``n_buckets``
    rows, guarded by ``driver_bucket_limit``). No driver pass ever
    touches per-document data. At 100 TB you train on a deterministic
    sample (as every production quality filter does) and score the
    full corpus with the broadcast-join path.

    Storage note: the cached exploded table is ≈ 2× the TRAINING
    corpus's token count in narrow (id, label, bucket) rows — cheap
    for the sampled-training contract above, but it must fit the
    cluster's storage fraction to be "cached once" in memory; the
    default ``MEMORY_AND_DISK`` level degrades to disk-backed
    re-reads (correct, slower) when it doesn't. Size the training
    sample to the cluster, or pass an explicit ``storage_level``
    (a ``pyspark.StorageLevel``) — e.g. ``DISK_ONLY`` to stop the
    cache from competing with shuffle memory on a hot cluster.

    Determinism contract (everything an engine could disagree on is
    pinned, so a DuckDB oracle replays every step bit-exactly):

    - weights are INT64 milli-units; per-document margins are exact
      integer sums;
    - the sigmoid input ``z = margin / (1000 * n_features)`` and the
      per-document residual factor ``q = round((label - 1/(1+exp(-z)))
      / n_features, 8)`` are the only float ops, and ``q`` is
      immediately quantized to DECIMAL(18,8) — so the per-bucket
      gradient ``sum(q * multiplicity)`` is an order-independent
      decimal sum;
    - ``lr`` must be an integer, so the update ``w += round(lr * g)``
      is exact decimal arithmetic rounded half-away-from-zero (both
      engines' ``round``);
    - step 1 starts from all-zero weights: ``z = 0`` makes
      ``p = 0.5`` exactly in IEEE, so the first step has no
      transcendental at all.
    """
    from decimal import ROUND_HALF_UP, Decimal

    if not isinstance(lr, int) or lr <= 0:
        raise ValueError(f"linear_classifier_train: lr must be a positive int, got {lr!r}")
    if n_buckets > driver_bucket_limit:
        raise ValueError(
            "linear_classifier_train: n_buckets"
            f" {n_buckets} exceeds driver_bucket_limit {driver_bucket_limit}"
            " (the per-step gradient collect is bounded by n_buckets)"
        )
    spark = labeled.sparkSession
    exploded = (
        labeled.select(
            F.col(id_col).alias("_id"),
            F.col(label_col).cast("int").alias("_label"),
            F.explode(hashed_features(text_col)).alias("f"),
        )
        .withColumn("bucket", feature_bucket(F.col("f"), n_buckets, seed))
        .select("_id", "_label", "bucket")
    )
    exploded = (
        exploded.persist(storage_level) if storage_level else exploded.persist()
    )
    try:
        weights: dict[int, int] = {}
        for _ in range(steps):
            wdf = spark.createDataFrame(
                sorted(weights.items()), "bucket bigint, weight bigint"
            )
            per_doc = (
                exploded.join(F.broadcast(wdf), "bucket", "left")
                .groupBy("_id", "_label")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.coalesce(F.col("weight"), F.lit(0))).alias("margin"),
                )
            )
            z = F.col("margin").cast("double") / (
                F.lit(1000.0) * F.col("n").cast("double")
            )
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            qdf = per_doc.select(
                "_id",
                F.round(
                    (F.col("_label").cast("double") - p) / F.col("n").cast("double"),
                    8,
                )
                .cast("decimal(18,8)")
                .alias("q"),
            )
            grad = (
                exploded.join(qdf, "_id")
                .groupBy("bucket")
                .agg(F.sum("q").alias("g"))
                .collect()
            )
            for r in grad:
                b = int(r["bucket"])
                delta = int(
                    (Decimal(lr) * r["g"]).quantize(
                        Decimal(1), rounding=ROUND_HALF_UP
                    )
                )
                weights[b] = weights.get(b, 0) + delta
    finally:
        exploded.unpersist()
    return spark.createDataFrame(
        sorted(weights.items()), "bucket bigint, weight bigint"
    )


def formula_weights_table(spark, n_buckets: int) -> DataFrame:
    """The :func:`formula_weight` map materialized as a model table
    ``(bucket, weight)`` — for tests proving the two scoring paths
    agree, and as the template shape a real trained model loads into."""
    return spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        formula_weight(F.col("id")).cast("int").alias("weight"),
    )


def calibration_table(
    scored: DataFrame,
    label_col: str,
    score_col: str = "score",
    n_bins: int = 10,
    lo: float = -0.5,
    hi: float = 0.5,
) -> DataFrame:
    """Reliability table for a scored corpus — the calibration audit
    every model-based quality filter needs before its scores gate
    real data (Niculescu-Mizil & Caruana 2005): bin rows by score,
    report per-bin count, mean score, and positive-label fraction.
    A calibrated scorer has ``frac_positive ≈ mean_score`` (suitably
    affine-mapped) bin by bin; divergence localizes WHERE the scorer
    lies.

    Output: ``(bin, n, mean_score, n_pos, frac_positive)`` ordered by
    bin; bins are ``[lo, hi)`` split ``n_bins`` ways with the edges
    clamped (a score exactly at ``hi`` lands in the last bin).

    Determinism contract: ``score`` must be quantized (the repo's
    scorers round to 6), so ``mean_score`` is an exact DECIMAL(18,6)
    sum over one IEEE division, and ``frac_positive`` is a ratio of
    exact integers — any engine agrees bit for bit. Labels must be
    non-NULL (score every row's label before auditing).

    Plan: one map-side bin projection + ONE partial-aggregated
    groupBy over ``n_bins`` groups — nothing corpus-wide beyond the
    scoring pass that produced the input. Reference scope:
    beyond-reference (training-pipeline extension).
    """
    if n_bins < 2:
        raise ValueError(f"calibration_table: need n_bins >= 2, got {n_bins}")
    if not lo < hi:
        raise ValueError(f"calibration_table: need lo < hi, got [{lo}, {hi}]")
    # width is computed ONCE in Python and injected as the same
    # literal into any oracle, so both engines floor identical doubles
    width = (hi - lo) / n_bins
    b = F.floor((F.col(score_col) - F.lit(float(lo))) / F.lit(width))
    b = F.greatest(F.least(b, F.lit(n_bins - 1)), F.lit(0)).cast("int")
    y = F.col(label_col).cast("int")
    return (
        scored.select(b.alias("bin"), F.col(score_col).alias("_s"), y.alias("_y"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.col("_s").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("mean_score"),
            F.sum("_y").alias("n_pos"),
            (F.sum("_y").cast("double") / F.count("*")).alias("frac_positive"),
        )
        .orderBy("bin")
    )


def _dsir_feats(
    df: DataFrame,
    text_col: str,
    id_col: str | None,
    n_buckets: int,
    seed: int,
    flag: Column | str | None = None,
) -> DataFrame:
    """Explode a corpus into hashed feature buckets (optionally
    carrying the doc id, or the ``_in_t`` flag of a target predicate
    evaluated per document before the explode — the fused weight
    build's target marker) — the shared front half of DSIR's weight
    build and scoring passes. The md5 bucket hash is interpreted
    per-feature work, so the explode must not inherit a single-file
    scan's one-partition layout (``dedup.spread`` — a planning-only
    no-op at real scale, where the scan already has more partitions
    than cores; measured 6 s → 1.4 s on the sf0.1 count pass)."""
    from csvb_spark.operators.dedup import spread

    cols = [F.col(id_col).alias("_id")] if id_col else []
    if flag is not None:
        cols.append(_flag(flag, "_in_t"))
    keep = (["_id"] if id_col else []) + (["_in_t"] if flag is not None else [])
    exploded = spread(df).select(
        *cols, F.explode(hashed_features(text_col)).alias("_f")
    )
    return exploded.select(
        *keep,
        feature_bucket(F.col("_f"), n_buckets, seed).alias("bucket"),
    )


def _dsir_log_weights(
    raw_feats: DataFrame, target_feats: DataFrame | None, n_buckets: int
) -> DataFrame:
    """``(bucket, log_weight)`` for every bucket present in either
    corpus — the DSIR weight math, shared by the weight build and the
    fused ``target_pred`` scorer. ``target_feats=None`` means the
    target is the ``_in_t``-flagged subset of ``raw_feats``: BOTH count
    tables come out of ONE groupBy (predicate-split counting); else
    each corpus is counted on its own and the count tables full-outer
    join. Count tables localCheckpoint once; the add-``n_buckets``
    totals ride a 1-row broadcast cross join over them (data, not
    driver literals: int64 sum + int literal cast to double is the
    same IEEE value as a Python ``float(total + n_buckets)``).

    ONE ln over one IEEE division of two IEEE products —
    ``log((ct+1)·(Tr+B) / ((cr+1)·(Tt+B)))`` — not a sum of four lns
    (mul/div are bit-exact cross-engine; each extra ln is an extra
    ulp risk at the round-to-6 boundary). The products run in DOUBLE
    because at 100 TB the int64 product overflows."""

    def tot(c, alias):
        return (F.coalesce(F.sum(c), F.lit(0)) + F.lit(n_buckets)).cast("double").alias(alias)

    if target_feats is None:
        joined = _split_counts(
            raw_feats, ["bucket"], "_cr", _ct="_in_t"
        ).localCheckpoint(eager=True)
        totals = joined.agg(tot("_cr", "_r_tot"), tot("_ct", "_t_tot"))
    else:
        r = _split_counts(raw_feats, ["bucket"], "_cr").localCheckpoint(eager=True)
        t = _split_counts(target_feats, ["bucket"], "_ct").localCheckpoint(eager=True)
        joined = r.join(t, "bucket", "full")
        totals = r.agg(tot("_cr", "_r_tot")).crossJoin(t.agg(tot("_ct", "_t_tot")))
    ct = F.coalesce(F.col("_ct"), F.lit(0))
    cr = F.coalesce(F.col("_cr"), F.lit(0))
    return joined.crossJoin(F.broadcast(totals)).select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.round(
            F.log(
                ((ct + F.lit(1)).cast("double") * F.col("_r_tot"))
                / ((cr + F.lit(1)).cast("double") * F.col("_t_tot"))
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("log_weight"),
    )


def _dsir_rollup(joined: DataFrame, id_col: str, *fallbacks: Column) -> DataFrame:
    """Per-document DSIR rollup: feature count and the exact decimal
    sum of each feature's weight (``fallbacks`` fill a missed join,
    ending at a 0-valued DECIMAL); ONE final cast ships a double
    (house convention — see queries/common.py dsum)."""
    lw = F.coalesce(F.col("log_weight"), *fallbacks, F.lit(0).cast("decimal(18,6)"))
    return (
        joined.groupBy("_id")
        .agg(
            F.count("*").alias("n_features"),
            F.sum(lw).cast("double").alias("log_importance"),
        )
        .select(F.col("_id").alias(id_col), "n_features", "log_importance")
    )


def _validate_dsir_buckets(caller: str, n_buckets) -> None:
    if not isinstance(n_buckets, int) or not 1 <= n_buckets <= (1 << 20):
        raise ValueError(
            f"{caller}: n_buckets must be an int in [1, 2^20] (the "
            f"weight table broadcasts), got {n_buckets!r}"
        )


#: bucket id of the DEFAULT row a DSIR weight table carries for
#: features unseen when the weights were built (only reachable when
#: scoring a DIFFERENT corpus than the one the weights came from —
#: the streaming case)
DSIR_DEFAULT_BUCKET = -1


def dsir_bucket_weights(
    raw: DataFrame,
    target: DataFrame | None = None,
    text_col: str = "text",
    n_buckets: int = 1 << 18,
    seed: int = 7,
    *,
    target_pred: Column | str | None = None,
) -> DataFrame:
    """Build the DSIR bucket-weight table: add-1 smoothed
    ``log p_target(bucket) − log p_raw(bucket)`` over hashed
    bag-of-n-gram buckets (Xie et al. 2023, arXiv:2302.03169).

    Determinism: ONE ln over one IEEE division of two IEEE products
    (:func:`_dsir_log_weights`) — bit-exact cross-engine.

    Output: ``(bucket, log_weight DECIMAL(18,6), n_buckets, seed)`` —
    one row per bucket present in EITHER corpus (full outer join of
    the two count tables, ≤ ``n_buckets`` rows, the broadcast bound;
    target-only buckets carry their strongly POSITIVE add-1 weight —
    they are maximal domain evidence, not unseen) plus one DEFAULT row
    (``bucket = DSIR_DEFAULT_BUCKET``) with weight 0 for features
    absent from BOTH corpora at build time, so a persisted table
    scores corpora it was not built from (the streaming case). Truly
    unseen buckets are NEUTRAL by design, not the add-1 estimate: that
    estimate degenerates to the constant corpus-size ratio
    ``ln((Tr+B)/(Tt+B))``, which scores pure gibberish above every
    real document whenever the raw corpus outweighs the target (it
    always does) — a never-seen feature carries no domain evidence
    either way. The constant ``n_buckets``/``seed`` columns make the
    table SELF-DESCRIBING (they RLE-compress to nothing in parquet):
    :func:`dsir_score_with_weights` hashes with the table's own
    parameters, so a train/score bucket-count mismatch cannot silently
    corrupt scores. Persist with ``.write.parquet`` (the
    ``train-filter --method dsir`` / ``score --model`` CLI pair).

    Plan shape: the target sample is small by DSIR's construction (a
    curated quality corpus); the raw side is ONE explode+groupBy whose
    output is bounded by ``n_buckets``, not corpus size. The count
    tables localCheckpoint once; the add-``n_buckets`` totals ride a
    1-row broadcast cross join over the checkpointed counts (round-15:
    they were driver ``.first()`` probes — two extra jobs whose values
    only ever fed literals) — the raw corpus is scanned exactly once
    here.

    ``target_pred`` (round-15 optimization): when the target corpus is
    a SUBSET of ``raw`` selected by a row predicate (the "curated rows
    flagged inside the pool" case — x131's shape), pass the predicate
    instead of a second DataFrame and BOTH count tables come out of
    ONE corpus explode (``count(*)`` vs ``count_if(pred)`` per
    bucket): one scan instead of two, identical counts, totals and
    weights by construction (target ⊆ raw means the generic full
    outer join degenerates to the raw-side bucket set). Exactly one of
    ``target`` / ``target_pred`` must be given.
    """
    _validate_dsir_buckets("dsir_bucket_weights", n_buckets)
    if (target is None) == (target_pred is None):
        raise ValueError(
            "dsir_bucket_weights: pass exactly one of target (a "
            "separate corpus) or target_pred (a predicate selecting "
            "the target subset of raw)"
        )
    if target_pred is not None:
        w = _dsir_log_weights(
            _dsir_feats(raw, text_col, None, n_buckets, seed, flag=target_pred),
            None,
            n_buckets,
        )
    else:
        w = _dsir_log_weights(
            _dsir_feats(raw, text_col, None, n_buckets, seed),
            _dsir_feats(target, text_col, None, n_buckets, seed),
            n_buckets,
        )
    default_row = raw.sparkSession.range(1).select(
        F.lit(DSIR_DEFAULT_BUCKET).cast("bigint").alias("bucket"),
        F.lit(0).cast("decimal(18,6)").alias("log_weight"),
    )
    return w.unionByName(default_row).select(
        "bucket",
        "log_weight",
        F.lit(n_buckets).alias("n_buckets"),
        F.lit(seed).alias("seed"),
    )


def dsir_table_params(weights: DataFrame) -> tuple[int, int] | None:
    """Validate a DSIR weight table's schema (loud ValueError — both
    the CLI and the streaming gate route through this) and return its
    self-described ``(n_buckets, seed)``, or None for a legacy table
    without the metadata columns."""
    cols = set(weights.columns)
    if not {"bucket", "log_weight"} <= cols:
        raise ValueError(
            "not a DSIR weight table (expected columns bucket, "
            "log_weight — dsir_bucket_weights / train-filter --method "
            f"dsir writes it); got {sorted(cols)}"
        )
    if {"n_buckets", "seed"} <= cols:
        row = weights.select("n_buckets", "seed").first()
        return int(row["n_buckets"]), int(row["seed"])
    return None


def dsir_score_with_weights(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    seed: int | None = None,
    weights_materialized: bool = False,
) -> DataFrame:
    """Score documents against a PRE-BUILT DSIR weight table
    (:func:`dsir_bucket_weights`, possibly persisted as parquet):
    map-only — explode features, broadcast-join the bounded weight
    table, exact decimal per-document sums. Hash parameters come from
    the table's own metadata columns (``n_buckets``/``seed`` override
    them only for legacy tables without metadata — a mismatched
    explicit value raises, because re-hashing with a different bucket
    count scores every document against garbage). Features whose
    bucket the table does not carry take the DEFAULT row's neutral
    weight via a 1-row broadcast cross join — no driver collect, so a
    streaming gate can call this per micro-batch without a per-batch
    job.

    Output: ``(id_col, n_features, log_importance DOUBLE)``.
    """
    meta = dsir_table_params(weights)
    if meta is not None:
        tb, ts = meta
        if n_buckets is not None and n_buckets != tb:
            raise ValueError(
                f"dsir_score_with_weights: n_buckets={n_buckets} "
                f"contradicts the weight table's own n_buckets={tb}"
            )
        if seed is not None and seed != ts:
            raise ValueError(
                f"dsir_score_with_weights: seed={seed} contradicts "
                f"the weight table's own seed={ts}"
            )
        n_buckets, seed = tb, ts
    else:
        n_buckets = 1 << 18 if n_buckets is None else n_buckets
        seed = 7 if seed is None else seed
    _validate_dsir_buckets("dsir_score_with_weights", n_buckets)
    if not weights_materialized:
        weights = weights.localCheckpoint(eager=True)
    real = weights.filter(F.col("bucket") != DSIR_DEFAULT_BUCKET).select(
        "bucket", "log_weight"
    )
    # the aggregate is EXACTLY one row even if the table has no
    # default (max of empty = NULL; the final coalesce leg covers it),
    # so the cross join below can never annihilate the batch
    default = weights.filter(
        F.col("bucket") == DSIR_DEFAULT_BUCKET
    ).agg(F.max("log_weight").alias("_default_lw"))
    feats = _dsir_feats(docs, text_col, id_col, n_buckets, seed)
    return _dsir_rollup(
        feats.join(F.broadcast(real), "bucket", "left").join(
            F.broadcast(default)  # 1-row cross join: the fallback
        ),
        id_col,
        F.col("_default_lw"),
    )


def dsir_score(
    raw: DataFrame,
    target: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 18,
    seed: int = 7,
    *,
    target_pred: Column | str | None = None,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every RAW document by how much more
    likely its hashed bag-of-n-grams is under the TARGET corpus's
    feature distribution than under the raw corpus's own,
    ``log w(x) = Σ_f [ log p_target(bucket(f)) − log p_raw(bucket(f)) ]``
    with add-1 smoothing over ``n_buckets`` buckets. High scores =
    raw documents that look like the target domain; the standard
    100 TB-scale pretraining-data selection signal (resample/top-k by
    this weight). Selection itself composes with the existing
    machinery: feed ``log_importance`` to ``splits.budget_select`` /
    ``weighted_sample`` for the deterministic pick.

    The one-call composition of :func:`dsir_bucket_weights` (one raw-corpus
    count pass) and :func:`dsir_score_with_weights` (one map-only
    scoring pass over a broadcast ≤ ``n_buckets``-row table) — two
    raw-corpus scans total, the algorithmic floor (weights must exist
    before scoring). ``target_pred`` (round-15): when the target is a
    predicate-selected subset of ``raw``, pass the predicate instead
    of a DataFrame — the weight build then counts both corpora in the
    SAME single scan (three corpus passes → two end to end; see
    :func:`dsir_bucket_weights`). Same feature space as the linear
    classifier (:func:`hashed_features` through the portable md5
    :func:`feature_bucket`), same determinism contract as the LM
    scorers (exact int64 counts, 6-rounded single-ln log-ratios
    quantized to DECIMAL(18,6), order-independent decimal sums).

    Output: ``(id_col, n_features, log_importance)`` — one row per raw
    document, NULL/empty text included (the empty token is a feature,
    so no document silently vanishes from a selection pass).

    Sibling: ``text.dsir_weights`` (x54) is the SAME-corpus variant —
    target is a boolean column over the raw pool and the weight is an
    integer-only aggregate count ratio. This family is the
    separate-target, per-gram log-sum form with a persistable bucket
    model (train once, score any corpus, gate a stream). Reference
    scope: beyond-reference (training-pipeline extension; SURVEY.md §2).

    Round-16 (§2.4): under ``target_pred`` the weight build and the
    scoring pass both consume the SAME exploded feature table, so the
    corpus is exploded and md5-bucketed exactly ONCE — the feature
    rows localCheckpoint as a narrow ``(_id, _in_t, bucket)`` table
    (≈17 bytes/row against re-reading the text corpus and paying the
    per-feature md5 a second time; rebuilt from parquet on every
    execution, a within-query materialization, not a cache) and feed
    the bucket counts, the totals, and the per-document scoring join.
    Weight math is :func:`dsir_bucket_weights`' own
    (:func:`_dsir_log_weights`); the scorer's DEFAULT-row machinery
    drops out because every scored bucket is by construction present
    in a weight table built from the same feature rows (the left
    join cannot miss, and the coalesce fallback is the same
    0-valued DECIMAL the default row carried). Identical rows,
    bit-for-bit — the DuckDB oracle and the target-vs-pred
    equivalence test pin it.
    """
    _validate_dsir_buckets("dsir_score", n_buckets)
    if target_pred is not None:
        if target is not None:
            raise ValueError(
                "dsir_score: pass exactly one of target (a separate "
                "corpus) or target_pred (a predicate selecting the "
                "target subset of raw)"
            )
        feats = _dsir_feats(
            raw, text_col, id_col, n_buckets, seed, flag=target_pred
        ).localCheckpoint(eager=True)
        w = _dsir_log_weights(feats, None, n_buckets)
        return _dsir_rollup(feats.join(F.broadcast(w), "bucket", "left"), id_col)
    w = dsir_bucket_weights(
        raw,
        target,
        text_col=text_col,
        n_buckets=n_buckets,
        seed=seed,
    )
    return dsir_score_with_weights(
        docs=raw,
        # strip the self-description columns: the hash params are the
        # ones THIS call chose, so the scorer's metadata `.first()`
        # probe — a driver job executing the weight plan once more —
        # would only re-read constants (round 16, §5); the narrower
        # table also shrinks the checkpoint below. Persisted/external
        # tables keep the probe (dsir_score_with_weights validates
        # them via their own metadata columns).
        weights=w.select("bucket", "log_weight"),
        text_col=text_col,
        id_col=id_col,
        n_buckets=n_buckets,
        seed=seed,
        # let the scorer checkpoint the ≤ n_buckets-row weight table:
        # it is consumed twice (real rows + default row), and an
        # unmaterialized plan would run the full-outer weight build
        # once per consumer inside the scoring query
        weights_materialized=False,
    )
