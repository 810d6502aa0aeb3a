"""N-gram language-model perplexity scoring for quality filtering.

The second standard model-based quality filter (beside the hashed
linear classifier, ``operators/classify.py``): CCNet and its
descendants rank crawl documents by the perplexity of a small n-gram
LM — low perplexity ≈ fluent in-domain prose, high ≈ boilerplate or
garbage. The production shape is exactly this module's: TRAIN a
bounded count model (here: unigram + bigram counts over a corpus —
one groupBy), then SCORE every document map-side against it.

Determinism contract (repo-wide cross-engine rules):

- counts are exact int64 aggregations; the vocabulary size ``V`` and
  smoothing ``alpha`` are integers, so every probability
  ``(c2 + alpha) / (c1 + alpha·V)`` is ONE IEEE division of exact
  integers;
- each token's ``ln(p)`` is rounded to 6 decimals and quantized to
  DECIMAL(18,6) immediately, so the per-document log-prob total is an
  order-independent exact decimal sum (parallel partial aggregation
  cannot perturb it);
- the only remaining float ops are the final average — bit-identical
  by construction, shipped UNROUNDED (rounding an exactly-agreed
  double reintroduces divergence at shortest-repr half boundaries;
  see queries/common.py) — and ``exp``, rounded to 6 because its ulp
  is implementation-defined.

One scoring core serves every smoothing (add-alpha, Kneser-Ney,
stupid backoff, Jelinek-Mercer, and DoReMi's two-model pass):

- :func:`_gram_rows` tokenizes and explodes the corpus into n-gram
  rows (n = 2 or 3) from parsed SQL strings — plus one NULL-sentinel
  row per document when scoring, every lower order when training;
- :func:`_join_models` left-joins those rows against a list of
  ``(model table, key columns)`` and makes the broadcast / shuffle /
  salted-shuffle decision ONCE for all of them;
- :func:`_rollup` turns one or more ``ln(p)`` SQL strings into the
  per-document ``n_*`` / ``avg_neg_*`` / ``*ppl`` columns.

Each smoothing is left with only its model tables, its stats
aggregate (:func:`lm_model_stats`) and its probability SQL.
Predicate-split counting — ``count(*)`` plus one ``count_if`` per
predicate in ONE groupBy — is :func:`_split_counts`, shared with the
DSIR family in ``classify.py``.

Plan shape: the score joins BROADCAST the model tables by default
(the model row count comes out of the same bounded stats aggregate
the smoothing needs anyway, and broadcasting happens automatically
while it fits ``broadcast_max_rows``), making scoring map-only. At
100 TB the LM is trained on a bounded sample (as CCNet does — a few GB
of target-domain text), so the broadcast path is the normal one; an
over-bound model falls back to a shuffle join on the n-gram key WITH a
warning (that key is Zipf-skewed — a hot-key exchange at scale), and
a concentrated key distribution additionally salts the joins.
Reference scope: beyond-reference (the reference has no text
operators — SURVEY.md §2).
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: salts a skew-guarded shuffle fallback spreads each hot key over
_N_SALTS = 16
#: normalized key entropy below which the shuffle fallback salts
_SALT_THRESHOLD = 0.5


def _toks_sql(text_col: str) -> str:
    """Classifier-compatible tokenization (``classify.hashed_features``)
    as SQL text: lowercase, whitespace split, NULL reads as one ''
    token ('\\\\s+' unescapes to the \\s+ regex)."""
    return f"split(trim(lower(coalesce(`{text_col}`, ''))), '\\\\s+')"


def _zip_sql(n: int, k: int) -> str:
    """SQL for the consecutive ``k``-gram array of the token array
    ``_t`` as ``n``-wide structs (fields ``w1..wn``; the ``n - k``
    trailing fields NULL). ``slice`` + ``arrays_zip`` copies the
    materialized array and zips — no lambda, so the tokenizer is never
    re-evaluated per element (the ``transform(sequence(...))`` form
    re-split the document once per gram: quadratic, measured 35x
    slower on the sf0.1 train pass). The CAST only names the struct
    fields."""
    typ = "array<struct<" + ",".join(f"w{i}:string" for i in range(1, n + 1)) + ">>"
    m = "size(_t)" if k == 1 else f"size(_t) - {k - 1}"
    cols = ["_t"] if k == 1 else [f"slice(_t, {i}, {m})" for i in range(1, k + 1)]
    cols += [f"array_repeat(CAST(NULL AS string), {m})"] * (n - k)
    z = f"CAST(arrays_zip({', '.join(cols)}) AS {typ})"
    return z if k == 1 else (
        f"CASE WHEN size(_t) >= {k} THEN {z} ELSE CAST(array() AS {typ}) END"
    )


def _flag(pred: Column | str, name: str) -> Column:
    """A row predicate (SQL text or Column) as a named boolean flag."""
    return (F.expr(pred) if isinstance(pred, str) else pred).cast("boolean").alias(name)


def _gram_rows(
    docs: DataFrame,
    n: int,
    text_col: str,
    id_col: str | None = None,
    train: bool = False,
    flags: dict[str, Column | str] | None = None,
) -> DataFrame:
    """The one n-gram row builder (n = 2 or 3), from parsed SQL
    strings rather than fine-grained py4j Column calls (plan
    construction was ~30-50% of a scorer's wall at bench scale, and
    the streaming gate pays it per micro-batch).

    Rows are ``(_id?, <flags>, w1..wn)``:

    - scoring (``train=False``): every n-gram plus ONE NULL-sentinel
      row per document, so short documents survive the explode and the
      corpus is scanned once (the sentinel's ``w1 IS NULL`` marks it);
    - training (``train=True``): every k-gram for k = 1..n, lower
      orders NULL-padded — one explode feeding one groupBy.

    ``flags`` maps a column name to a per-document predicate evaluated
    before the explode (the predicate-split counting input)."""
    flags = flags or {}
    ws = [f"w{i}" for i in range(1, n + 1)]
    parts = [_zip_sql(n, k) for k in range(1, n + 1)] if train else [
        _zip_sql(n, n),
        "array(named_struct("
        + ", ".join(f"'{w}', CAST(NULL AS string)" for w in ws)
        + "))",
    ]
    cols = ([f"`{id_col}` AS _id"] if id_col else []) + [f"{_toks_sql(text_col)} AS _t"]
    keep = (["_id"] if id_col else []) + list(flags)
    return (
        docs.select(*map(F.expr, cols), *(_flag(p, f) for f, p in flags.items()))
        .selectExpr(*keep, f"explode(concat({', '.join(parts)})) AS g")
        .select(*keep, *(f"g.{w}" for w in ws))
    )


def _split_counts(
    df: DataFrame, keys: list[str], total: str | None = None, **flags: str
) -> DataFrame:
    """Predicate-split counting: ONE groupBy(``keys``) emitting
    ``count(*) AS total`` (omitted when None) plus one
    ``count_if(flag) AS name`` per ``name=flag`` — so a corpus and
    any number of predicate-selected subsets of it are counted in one
    scan and one exchange. A NULL flag counts like ``filter()`` does:
    not at all. Counts are exact int64."""
    aggs = [F.count("*").alias(total)] if total else []
    aggs += [F.count(F.when(F.col(f), 1)).alias(name) for name, f in flags.items()]
    return df.groupBy(*keys).agg(*aggs)


def _lm_train(
    docs: DataFrame, n: int, text_col: str, target_pred: Column | str | None = None
) -> DataFrame:
    """Count model ``(w1..wn, cnt)`` from ONE scan, ONE tokenize, one
    explode and one groupBy (single fixed-width shuffle); with
    ``target_pred`` the same groupBy also counts ``cnt_t``, the grams
    of the predicate-selected documents."""
    flags = {} if target_pred is None else {"_tgt": target_pred}
    return _split_counts(
        _gram_rows(docs, n, text_col, train=True, flags=flags),
        [f"w{i}" for i in range(1, n + 1)],
        "cnt",
        **({"cnt_t": "_tgt"} if flags else {}),
    )


def bigram_lm_train(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Train the count model: one row per observed n-gram.

    Output: ``(w1, w2, cnt)`` — bigram rows carry both words; unigram
    (context) rows carry ``w2 = NULL``. ONE scan, ONE tokenize, one
    explode + one groupBy (single fixed-width shuffle); the model
    size is bounded by the corpus vocabulary, not its row count.
    Both gram arrays are built from one materialized token array and
    exploded together (a union of per-order branches would re-scan
    and re-tokenize the corpus once per order).
    """
    return _lm_train(docs, 2, text_col)


def trigram_lm_train(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Train the 3-gram count model stupid-backoff scoring consumes:
    one row per observed n-gram — trigram rows carry all three words,
    bigram rows have ``w3 = NULL``, unigram rows ``w2 = w3 = NULL``.
    ONE scan, ONE tokenize, one explode + ONE groupBy (single
    fixed-width shuffle); model size is bounded by the corpus's
    distinct n-grams, not its row count.
    """
    return _lm_train(docs, 3, text_col)


def check_model_shape(columns, smoothing: str, where: str) -> None:
    """Single source of truth for the smoothing-vs-model-shape
    contract (lm.py owns the model schema): ``sb`` scores against a
    TRIGRAM model (``w1,w2,w3,cnt`` — ``trigram_lm_train``), ``addk``/
    ``kn`` against a bigram one (``w1,w2,cnt``). A silent mismatch
    would pollute the n-gram counts, not fail — so every surface (CLI
    score, streaming ingest) rejects loudly through this one check.
    Raises ValueError; CLI callers wrap into SystemExit as usual.
    """
    has_w3 = "w3" in columns
    if smoothing == "sb" and not has_w3:
        raise ValueError(
            f"{where}: smoothing 'sb' needs a TRIGRAM model"
            " (w1,w2,w3,cnt — trigram_lm_train / train-filter --method lm"
            " --ngram 3); this model has no w3 column"
        )
    if smoothing != "sb" and has_w3:
        raise ValueError(
            f"{where}: smoothing {smoothing!r} needs a BIGRAM model"
            " (w1,w2,cnt — bigram_lm_train / train-filter --method lm);"
            " this model has a w3 column (trigram) — use smoothing 'sb'"
        )


def _resolve_broadcast(caller: str, n_model: int, broadcast_max_rows: int) -> bool:
    """The scoring core's auto-broadcast policy, applied once per
    scoring pass by :func:`_join_models` for every smoothing:
    broadcast the model-derived tables while the model fits under
    ``broadcast_max_rows`` (map-only scoring), else WARN and fall back
    to a shuffle join. The fallback exchanges the n-gram-exploded
    corpus on a Zipf-skewed key — slow but bounded; an over-bound
    broadcast would be an executor OOM. ``n_model`` comes from the
    stats aggregate the smoothing runs anyway, so the probe is free
    (``broadcast_model=True/False`` bypasses this policy)."""
    if n_model <= broadcast_max_rows:
        return True
    warnings.warn(
        f"{caller}: model has {n_model} rows (> broadcast_max_rows="
        f"{broadcast_max_rows}); falling back to a shuffle join on the "
        "Zipf-skewed n-gram key. Train on a bounded sample (the CCNet "
        "contract) so the model broadcasts, or raise broadcast_max_rows.",
        stacklevel=5,
    )
    return False


def _model_norm_entropy(
    n_tokens, n_keys, nlogn
) -> float | None:
    """Normalized entropy of an n-gram key distribution from its count
    model's scalar statistics (``Σn``, ``K``, ``Σ n·ln n``) — the skew
    pre-flight signal for the shuffle-fallback score joins. Returns
    None with no data; a single-key distribution reads as 0.0 (fully
    concentrated — the degenerate-skew case, not the uniform one)."""
    import math

    if not n_tokens or n_keys is None or n_keys == 0:
        return None
    if n_keys == 1:
        return 0.0
    h = math.log(float(n_tokens)) - float(nlogn or 0.0) / float(n_tokens)
    return h / math.log(float(n_keys))


def _join_models(
    caller: str,
    probe: DataFrame,
    models: list[tuple[DataFrame, list[str]]],
    stats,
    broadcast_model: bool | None,
    broadcast_max_rows: int,
) -> DataFrame:
    """Left-join the corpus n-gram rows against every ``(model table,
    key columns)`` pair, deciding broadcast / shuffle / salted shuffle
    ONCE for all of them. Model tables name their keys like the probe
    columns they match (``w1``/``w2``/``w3``) and carry uniquely named
    value columns.

    - ``broadcast_model`` True/False forces the choice; None applies
      :func:`_resolve_broadcast` to ``stats["rows"]`` (the combined
      broadcast footprint the smoothing reports).
    - SKEW PRE-FLIGHT on the shuffle fallback: ``stats`` carries the
      key-count entropy statistics (``et``/``ek``/``enl``) from the same
      scalar aggregate — the training corpus's key distribution is the
      best available proxy for the scoring corpus's. Below
      ``_SALT_THRESHOLD`` every corpus row gets ONE deterministic salt
      (xxhash64 of the row) and every model table is replicated across
      all ``_N_SALTS`` salts: each row still meets exactly one replica
      of its matching model row, so the result is row-identical to the
      plain left joins while a Zipf-hot key lands on ``_N_SALTS``
      reducers instead of one straggler.
    """
    bcast = (
        broadcast_model
        if broadcast_model is not None
        else _resolve_broadcast(caller, int(stats["rows"]), broadcast_max_rows)
    )
    ne = None if bcast else _model_norm_entropy(stats["et"], stats["ek"], stats["enl"])
    salt = []
    if ne is not None and ne < _SALT_THRESHOLD:
        warnings.warn(
            f"{caller}: shuffle-fallback join key is skewed "
            f"(model bigram norm_entropy < {_SALT_THRESHOLD}); salting "
            f"the score joins over {_N_SALTS} salts.",
            stacklevel=4,
        )
        probe = probe.withColumn(
            "_salt", F.pmod(F.xxhash64(*probe.columns), F.lit(_N_SALTS))
        )
        salt = ["_salt"]
    for i, (model, keys) in enumerate(models):
        # model keys get fresh names and join by condition: two lookups
        # into the same rows (e.g. unigrams keyed on w2 and on w3) then
        # plan as the same broadcast, which Spark builds once and reuses
        model = model.selectExpr(
            *(f"{k} AS _m{i}{k}" for k in keys),
            *(c for c in model.columns if c not in keys),
        )
        on = [f"{k} = _m{i}{k}" for k in keys]
        if bcast:
            model = F.broadcast(model)
        elif salt:
            model = model.withColumn(
                f"_m{i}_salt", F.explode(F.sequence(F.lit(0), F.lit(_N_SALTS - 1)))
            )
            on.append(f"_salt = _m{i}_salt")
        probe = probe.join(model, F.expr(" AND ".join(on)), "left")
    return probe


def _rollup(
    joined: DataFrame, id_col: str, n: int, scores: list[tuple[str, str | None, str]]
) -> DataFrame:
    """Per-document rollup of scored n-gram rows: one
    ``(avg_col, exp_col, p_sql)`` per model. Each gram's ``ln(p)``
    rounds to 6 into DECIMAL(18,6) (sentinel rows contribute NULL,
    ignored by SUM); one groupBy(_id) emits the gram count and every
    model's exact total. ``avg_col`` ships UNROUNDED: its operands
    (exact decimal total, int count) make the division bit-identical
    on any engine, and a display ROUND would *reintroduce* divergence
    — Spark rounds the shortest decimal repr where DuckDB rounds the
    binary value, which differs when the repr lands exactly on a half
    boundary (observed once in 5,000 docs at sf0.1). ``exp_col``
    (omitted when None) must round because exp() itself is only
    ulp-identical across engines. Documents without an n-gram carry
    NULL scores."""
    cnt = "n_bigrams" if n == 2 else "n_trigrams"
    per_doc = joined.selectExpr(
        "_id",
        "CAST(w1 IS NOT NULL AS BIGINT) AS _is_g",
        *(
            f"CASE WHEN w1 IS NOT NULL THEN CAST(round(ln({p}), 6) AS DECIMAL(18,6)) END AS _q{i}"
            for i, (_, _, p) in enumerate(scores)
        ),
    ).groupBy("_id").agg(
        F.sum("_is_g").alias(cnt),
        *(F.sum(f"_q{i}").alias(f"_t{i}") for i in range(len(scores))),
    )
    out = [f"_id AS `{id_col}`", cnt]
    for i, (avg, ex, _) in enumerate(scores):
        a = f"CASE WHEN {cnt} > 0 THEN -(CAST(_t{i} AS DOUBLE) / CAST({cnt} AS DOUBLE)) END"
        out += [f"{a} AS {avg}"] + ([f"round(exp({a}), 6) AS {ex}"] if ex else [])
    return per_doc.selectExpr(*out)


def _score(
    caller, docs, n, text_col, id_col, models, stats, broadcast_model,
    broadcast_max_rows, scores,
) -> DataFrame:
    """The scoring core: gram rows → model joins → rollup."""
    probe = _gram_rows(docs, n, text_col, id_col)
    joined = _join_models(
        caller, probe, models, stats, broadcast_model, broadcast_max_rows
    )
    return _rollup(joined, id_col, n, scores)


# --- model stats, one aggregate per smoothing ---------------------------------
# Each scorer derives a handful of bounded scalars from its model in ONE
# small aggregation job: ``rows`` (the broadcast size signal), the key
# entropy statistics ``et``/``ek``/``enl`` (Σ count, #keys, Σ count·ln
# count over the skew-relevant keys — the salting pre-flight) and the
# smoothing's own constants. A caller that scores MANY batches against
# one fixed model — the streaming LM gate — runs the probe once per
# stream via :func:`lm_model_stats` and passes the row back in.


def _entropy_aggs(pred: str) -> list[str]:
    c = f"CASE WHEN {pred} THEN cnt END"
    return [
        f"sum({c}) AS et",
        f"count({c}) AS ek",
        f"sum(CAST({c} AS DOUBLE) * ln(CAST({c} AS DOUBLE))) AS enl",
    ]


_STATS = {
    "addk": ["count(*) AS rows", "count_if(w2 IS NULL) AS v", *_entropy_aggs("w2 IS NOT NULL")],
    "jm": [
        "count(*) AS rows",
        "count_if(w2 IS NULL) AS v",
        "sum(CASE WHEN w2 IS NULL THEN cnt END) AS t",
        *_entropy_aggs("w2 IS NOT NULL"),
    ],
    # unigram keys are the most concentrated of stupid backoff's five
    # join keys; ``et`` (Σ unigram counts) doubles as its floor ``N``
    "sb": ["count(*) AS rows", *_entropy_aggs("w2 IS NULL")],
    # over Kneser-Ney's per-word stats table (:func:`_kn_wordstats`):
    # ``rows`` = B (distinct bigram types, which bounds every KN model
    # table), ``v`` = continuation vocabulary
    "kn": [
        "coalesce(sum(_n1fwd), 0) AS rows",
        "count_if(_n1bwd > 0) AS v",
        "sum(_c1) AS et",
        "coalesce(sum(_n1fwd), 0) AS ek",
        "sum(_bnlogn_part) AS enl",
    ],
}


def _model_stats(df: DataFrame, aggs: list[str]):
    return df.agg(*map(F.expr, aggs)).first()


def _kn_wordstats(lm: DataFrame) -> DataFrame:
    """Every per-word Kneser-Ney statistic from ONE unpivot (each
    bigram row explodes into a w1-tagged and a w2-tagged row) + ONE
    groupBy(word): context total ``_c1 = Σ_w2 c(w1,w2)``, fan-out
    ``_n1fwd = N1+(w1·)``, continuation count ``_n1bwd = N1+(·w2)``,
    and the partial ``Σ cnt·ln cnt`` the skew pre-flight sums (double;
    it never reaches an output value). A word only ever seen as ``w2``
    carries ``_c1 = NULL`` (the unseen-context branch); one only ever
    seen as ``w1`` carries ``_n1bwd = 0`` (the same as a miss under
    the probability's ``coalesce``)."""
    return (
        lm.filter("w2 IS NOT NULL")
        .selectExpr(
            "explode(array("
            "struct(w1 AS word, cnt AS _cnt, true AS _fwd),"
            "struct(w2 AS word, CAST(NULL AS BIGINT) AS _cnt, false AS _fwd)"
            ")) AS s"
        )
        .select("s.*")
        .groupBy("word")
        .agg(
            *map(
                F.expr,
                [
                    "sum(CASE WHEN _fwd THEN _cnt END) AS _c1",
                    "count(CASE WHEN _fwd THEN 1 END) AS _n1fwd",
                    "count(CASE WHEN NOT _fwd THEN 1 END) AS _n1bwd",
                    "sum(CASE WHEN _fwd THEN CAST(_cnt AS DOUBLE)"
                    " * ln(CAST(_cnt AS DOUBLE)) END) AS _bnlogn_part",
                ],
            )
        )
    )


def lm_model_stats(lm: DataFrame, smoothing: str = "addk"):
    """Run ``smoothing``'s model-probe aggregation ONCE and return the
    row the matching scorer's ``model_stats=`` parameter expects. For a
    model that is fixed across many scoring calls (the streaming gate's
    per-stream model) this amortizes the per-call driver probe job; the
    scalars are a pure function of the model, so passing them back in
    is value-identical to letting the scorer probe itself."""
    if smoothing not in _STATS:
        raise ValueError(
            f"lm_model_stats: unknown smoothing {smoothing!r}"
            " (expected addk|kn|sb|jm)"
        )
    return _model_stats(
        _kn_wordstats(lm) if smoothing == "kn" else lm, _STATS[smoothing]
    )


def _addk_p(alpha: int, v: int, c2: str = "_c2", c1: str = "_c1") -> str:
    """Add-alpha bigram probability SQL: ONE IEEE division of exact
    integers."""
    return (
        f"(CAST(coalesce({c2}, 0) + {alpha} AS DOUBLE)"
        f" / CAST(coalesce({c1}, 0) + {alpha} * {int(v)} AS DOUBLE))"
    )


def perplexity_score(
    docs: DataFrame,
    lm: DataFrame,
    alpha: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool | None = None,
    broadcast_max_rows: int = 8_000_000,
    model_materialized: bool = False,
    model_stats=None,
) -> DataFrame:
    """Score every document's bigram perplexity under ``lm``.

    Output: ``(doc_id, n_bigrams, avg_neg_logprob, ppl)`` — the
    add-alpha-smoothed average negative log probability of the
    document's bigrams and its exponential (the perplexity). A
    document with fewer than two tokens has ``n_bigrams = 0`` and
    NULL scores (no bigram evidence — the caller decides its fate).

    ``alpha`` must be a positive integer (the determinism contract —
    see module doc).

    ``broadcast_model=None`` (the default) picks automatically: the
    model row count comes out of the same bounded aggregation that
    derives the vocabulary size ``V`` (no extra pass), so when the
    model fits under ``broadcast_max_rows`` the score joins get the
    broadcast hint and the pass is map-only. This matters because the
    shuffle alternative exchanges the bigram-exploded CORPUS on the
    ``(w1, w2)`` key — Zipf-distributed, so at 100 TB the "the the"
    partition is a hot-key exchange. Only an over-bound model (more
    distinct n-grams than ``broadcast_max_rows``, ≈ a few hundred MB
    serialized) falls back to the shuffle, with a warning naming the
    sampled-train-then-broadcast-score contract (train the LM on a
    bounded sample, as CCNet does; score the full corpus map-side).
    ``True``/``False`` force the choice without the size probe's
    outcome mattering. The shuffle fallback is SKEW-GUARDED: when the
    model's bigram-count entropy (from the same scalar agg as ``V``)
    is concentrated, the score joins are salted (:func:`_join_models`)
    — row-identical output, hot keys spread over many reducers.

    The model is consumed three times (stats probe + two broadcast
    builds); an unmaterialized plan — in particular
    ``bigram_lm_train``'s full-corpus aggregation — would re-execute
    per consumer, so it is localCheckpointed once (vocabulary-bounded;
    measured 3.2x on the sf0.1 train+score entry). Those blocks are
    not executor-loss-recoverable; on preemptible clusters persist the
    model to parquet and score from that (the CLI train-filter/score
    split). ``model_materialized=True`` skips the checkpoint and
    ``model_stats`` (from :func:`lm_model_stats`) the probe job — the
    streaming gate's once-per-stream amortization.
    """
    if not isinstance(alpha, int) or alpha <= 0:
        raise ValueError(
            f"perplexity_score: alpha must be a positive int, got {alpha!r}"
        )
    if not model_materialized:
        lm = lm.localCheckpoint(eager=True)
    st = model_stats if model_stats is not None else lm_model_stats(lm, "addk")
    models = [
        (lm.filter("w2 IS NOT NULL").selectExpr("w1", "w2", "cnt AS _c2"), ["w1", "w2"]),
        (lm.filter("w2 IS NULL").selectExpr("w1", "cnt AS _c1"), ["w1"]),
    ]
    return _score(
        "perplexity_score", docs, 2, text_col, id_col, models, st,
        broadcast_model, broadcast_max_rows,
        [("avg_neg_logprob", "ppl", _addk_p(alpha, st["v"]))],
    )


def kneser_ney_score(
    docs: DataFrame,
    lm: DataFrame,
    discount_milli: int = 750,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool | None = None,
    broadcast_max_rows: int = 8_000_000,
    model_materialized: bool = False,
    model_stats=None,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity — the smoothing real
    n-gram quality filters use (KenLM/CCNet's default) rather than
    add-alpha: probability mass is discounted from SEEN bigrams and
    redistributed by CONTINUATION counts (in how many distinct
    contexts a word completes), which scores boilerplate far better
    than raw frequency smoothing.

    ``lm`` is the ``bigram_lm_train`` output (only its bigram rows are
    used — every other statistic KN needs derives from them):
    context totals ``c(w1) = Σ_w2 c(w1,w2)``, context fan-out
    ``N1+(w1·)``, continuation counts ``N1+(·w2)``, and the scalars
    ``B = N1+(··)`` (distinct bigram types) and ``V`` (continuation
    vocabulary). With an add-one continuation floor for OOV words:

        Pcont(w2)  = (N1+(·w2) + 1) / (B + V + 1)
        P(w2|w1)   = max(c2·1000 − D, 0) / (1000·c1)
                     + [D·N1+(w1·) / (1000·c1)] · Pcont(w2)   (w1 seen)
                   = Pcont(w2)                                (w1 unseen)

    where ``D = discount_milli`` keeps the discount an INTEGER
    milli-unit. Every int64 operand stays bounded by
    1000 × (corpus bigram tokens) — deliberately NOT the
    cross-multiplied single-fraction form, whose numerator/denominator
    products (…·(B+V+1)) overflow int64 for realistically sized
    models. The probability is three IEEE double ops in a pinned tree
    shape (``t1 + (t2 · pc)``), bit-identical on any engine; the rest
    is the ``perplexity_score`` determinism contract (ln rounded to
    6, quantized to DECIMAL(18,6), order-independent decimal sum).
    The x89 oracle replays every derived statistic and the same
    expression tree as chained CTEs.

    Plan shape: all per-word statistics come from ONE unpivot + ONE
    groupBy over the model (:func:`_kn_wordstats`), checkpointed once
    (vocab-bounded; three consumers); ``B``/``V`` and the skew
    pre-flight statistics are a tiny agg over that table. The
    model-derived tables (bigrams, context totals, continuation
    counts) broadcast under the core's policy — ``B`` bounds all three
    — with the same warned, skew-guarded shuffle fallback as
    ``perplexity_score``.
    """
    if not isinstance(discount_milli, int) or not 0 < discount_milli < 1000:
        raise ValueError(
            "kneser_ney_score: discount_milli must be an int in (0, 1000),"
            f" got {discount_milli!r}"
        )
    if not model_materialized:
        lm = lm.localCheckpoint(eager=True)
    ws = _kn_wordstats(lm).localCheckpoint(eager=True)
    st = model_stats if model_stats is not None else _model_stats(ws, _STATS["kn"])
    models = [
        (lm.filter("w2 IS NOT NULL").selectExpr("w1", "w2", "cnt AS _c2"), ["w1", "w2"]),
        (ws.selectExpr("word AS w1", "_c1", "_n1fwd"), ["w1"]),
        (ws.selectExpr("word AS w2", "_n1bwd"), ["w2"]),
    ]
    scale = int(st["rows"]) + int(st["v"]) + 1
    dm = int(discount_milli)
    t1 = (
        f"CAST(greatest(coalesce(_c2, 0) * 1000 - {dm}, 0) AS DOUBLE)"
        " / CAST(1000 * _c1 AS DOUBLE)"
    )
    t2 = f"CAST({dm} * _n1fwd AS DOUBLE) / CAST(1000 * _c1 AS DOUBLE)"
    pc = f"CAST(coalesce(_n1bwd, 0) + 1 AS DOUBLE) / CAST({scale} AS DOUBLE)"
    p = f"CASE WHEN _c1 IS NOT NULL THEN ({t1}) + (({t2}) * ({pc})) ELSE {pc} END"
    return _score(
        "kneser_ney_score", docs, 2, text_col, id_col, models, st,
        broadcast_model, broadcast_max_rows, [("avg_neg_logprob", "ppl", p)],
    )


def stupid_backoff_score(
    docs: DataFrame,
    lm: DataFrame,
    alpha_milli: int = 400,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool | None = None,
    broadcast_max_rows: int = 8_000_000,
    model_materialized: bool = False,
    model_stats=None,
) -> DataFrame:
    """Trigram "stupid backoff" scoring (Brants et al. 2007) — the
    smoothing actually used for web-scale n-gram LMs because it needs
    NO discount statistics, just raw counts with a fixed backoff
    penalty:

        S(w3|w1 w2) = c(w1 w2 w3) / c(w1 w2)          if seen
                    = α · c(w2 w3) / c(w2)            else if seen
                    = α² · c(w3) / N                  else if w3 seen
                    = α² · 1 / N                      OOV floor

    with ``α = alpha_milli / 1000`` (0.4, the published constant).
    Scores are NOT normalized probabilities (the trade Brants makes
    for scale); the per-document average negative log score and its
    exponential still rank fluency exactly like perplexity, so the
    output shape matches the other scorers:
    ``(doc_id, n_trigrams, avg_neg_logscore, sppl)``. Documents with
    fewer than three tokens carry NULL scores.

    Determinism: every count ratio is ONE IEEE division of exact
    int64s; α arrives as ``alpha_milli/1000`` (one exact-int
    division — bit-identical to the literal the oracle writes), the
    backoff multiplications follow a pinned tree shape, per-trigram
    ``ln`` rounds to 6 into DECIMAL(18,6) (order-independent sum) —
    the x93 oracle replays counts, backoff cases, and the rollup as
    chained CTEs.

    Plan: the model materializes once (same caveat as
    ``perplexity_score``); its five lookups broadcast under the
    core's policy (the model row count rides the same scalar agg that
    derives ``N``), and the corpus is scanned once (trigram explode +
    NULL sentinel, map-side). A trigram model is corpus-bounded —
    Brants-scale models are exactly what this smoothing exists for —
    so the over-bound case warns and falls back to shuffle joins,
    skew-guarded on the unigram-count entropy (the most concentrated
    of the five join keys).
    """
    if not isinstance(alpha_milli, int) or not 0 < alpha_milli < 1000:
        raise ValueError(
            "stupid_backoff_score: alpha_milli must be an int in (0, 1000),"
            f" got {alpha_milli!r}"
        )
    if not model_materialized:
        lm = lm.localCheckpoint(eager=True)
    st = model_stats if model_stats is not None else lm_model_stats(lm, "sb")
    nt = int(st["et"] or 0)
    if nt == 0:
        raise ValueError("stupid_backoff_score: empty model")
    big = lm.filter("w3 IS NULL AND w2 IS NOT NULL")
    uni = lm.filter("w2 IS NULL")
    models = [
        (
            lm.filter("w3 IS NOT NULL").selectExpr("w1", "w2", "w3", "cnt AS _c123"),
            ["w1", "w2", "w3"],
        ),
        (big.selectExpr("w1", "w2", "cnt AS _c12"), ["w1", "w2"]),
        (big.selectExpr("w1 AS w2", "w2 AS w3", "cnt AS _c23"), ["w2", "w3"]),
        (uni.selectExpr("w1 AS w2", "cnt AS _c2"), ["w2"]),
        (uni.selectExpr("w1 AS w3", "cnt AS _c3"), ["w3"]),
    ]
    a = f"(CAST({int(alpha_milli)} AS DOUBLE) / CAST(1000 AS DOUBLE))"
    s = (
        "CASE WHEN _c123 IS NOT NULL THEN"
        " CAST(_c123 AS DOUBLE) / CAST(_c12 AS DOUBLE)"
        f" WHEN _c23 IS NOT NULL THEN {a} *"
        " (CAST(_c23 AS DOUBLE) / CAST(_c2 AS DOUBLE))"
        f" WHEN _c3 IS NOT NULL THEN ({a} * {a}) *"
        f" (CAST(_c3 AS DOUBLE) / CAST({nt} AS DOUBLE))"
        f" ELSE ({a} * {a}) * (CAST(1 AS DOUBLE) / CAST({nt} AS DOUBLE)) END"
    )
    return _score(
        "stupid_backoff_score", docs, 3, text_col, id_col, models, st,
        broadcast_model, broadcast_max_rows, [("avg_neg_logscore", "sppl", s)],
    )


def jelinek_mercer_score(
    docs: DataFrame,
    lm: DataFrame,
    lam: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool | None = None,
    broadcast_max_rows: int = 8_000_000,
    model_materialized: bool = False,
    model_stats=None,
) -> DataFrame:
    """Jelinek-Mercer INTERPOLATED bigram scoring — the fourth classic
    smoothing family beside add-alpha (:func:`perplexity_score`),
    Kneser-Ney (:func:`kneser_ney_score`), and stupid backoff
    (:func:`stupid_backoff_score`): instead of discounting or backing
    off, mix the maximum-likelihood bigram with a smoothed unigram,
    ``p(w2|w1) = λ·c(w1,w2)/c(w1) + (1-λ)·(c(w2)+1)/(T+V)`` — the
    interpolation weight ``λ`` is the tuning knob CCNet-style filters
    sweep. The unigram leg is add-1 smoothed so unseen words keep
    ``p > 0`` (a bare ML mixture hands ``ln 0`` to any OOV token).

    Same model table as :func:`bigram_lm_train` (unigram rows carry
    both legs: the ``c(w1)`` denominator AND the ``c(w2)`` backoff
    count), same output shape as ``perplexity_score``
    (``doc_id, n_bigrams, avg_neg_logprob, ppl``), same determinism
    contract: exact int64 counts, λ and 1-λ are the same IEEE doubles
    in any engine, each token's ``ln(p)`` rounds to 6 and sums as
    DECIMAL(18,6), ``ppl`` rounds 6 because ``exp`` is only
    ulp-identical. Same broadcast policy and skew-guarded shuffle
    fallback as every scorer (:func:`_join_models`).
    """
    if not 0.0 < lam < 1.0:
        raise ValueError(
            f"jelinek_mercer_score: lam must be in (0, 1), got {lam!r}"
        )
    if not model_materialized:
        lm = lm.localCheckpoint(eager=True)
    st = model_stats if model_stats is not None else lm_model_stats(lm, "jm")
    uni = lm.filter("w2 IS NULL")
    models = [
        (lm.filter("w2 IS NOT NULL").selectExpr("w1", "w2", "cnt AS _c2"), ["w1", "w2"]),
        (uni.selectExpr("w1", "cnt AS _c1"), ["w1"]),
        # the SAME unigram rows, re-keyed on w2 for the backoff leg
        (uni.selectExpr("w1 AS w2", "cnt AS _cu"), ["w2"]),
    ]
    # Double literals use the `...D` suffix so they parse AS DOUBLE with
    # the exact repr round-trip (a bare SQL decimal literal would parse
    # DECIMAL).
    denom = float(int(st["t"] or 0) + int(st["v"]))
    ml = (
        "CASE WHEN coalesce(_c1, 0) > 0 THEN"
        " CAST(coalesce(_c2, 0) AS DOUBLE) / CAST(_c1 AS DOUBLE)"
        " ELSE 0.0D END"
    )
    backoff = f"CAST(coalesce(_cu, 0) + 1 AS DOUBLE) / {denom!r}D"
    p = f"{float(lam)!r}D * ({ml}) + {1.0 - float(lam)!r}D * ({backoff})"
    return _score(
        "jelinek_mercer_score", docs, 2, text_col, id_col, models, st,
        broadcast_model, broadcast_max_rows, [("avg_neg_logprob", "ppl", p)],
    )


def token_drift(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    alpha: int = 1,
    k: int = 50,
) -> DataFrame:
    """Token-distribution drift between two corpus snapshots: the
    top-``k`` tokens by KL contribution ``p_new · ln(p_new / p_old)``
    (add-``alpha`` smoothed over the union vocabulary) — the
    monitoring twin of ``splits.corpus_diff``: diff tells you WHICH
    documents changed, drift tells you WHAT the change did to the
    token distribution (a crawl refresh quietly filling with spam
    vocabulary shows up here first).

    Determinism: counts are exact int64; the corpus totals and vocab
    size join in as a broadcast 1-row aggregate (never a driver
    collect); each probability is one IEEE division of exact
    integers; the only transcendental, ``ln``, is rounded to 9 — so
    the output order (``contrib`` DESC, token ASC) and every value
    replay exactly in SQL (x86).

    Plan: one groupBy per snapshot (token counts), a full-outer join
    on the (bounded-by-vocabulary) count tables, and a top-k — the
    corpora themselves are scanned once each and never shuffled.
    """
    if not isinstance(alpha, int) or alpha <= 0:
        raise ValueError(
            f"token_drift: alpha must be a positive int, got {alpha!r}"
        )
    return token_drift_from_counts(
        token_counts(old, text_col).withColumnRenamed("n", "n_old"),
        token_counts(new, text_col).withColumnRenamed("n", "n_new"),
        alpha=alpha,
        k=k,
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact per-token counts ``(token, n)`` — the input to
    ``token_drift_from_counts``. Split out so a FIXED side (the drift
    monitor's reference corpus) can be counted ONCE, persisted, and
    reused across micro-batches instead of re-aggregated per batch."""
    return _split_counts(
        docs.selectExpr(f"explode({_toks_sql(text_col)}) AS token"), ["token"], "n"
    )


def token_drift_from_counts(
    oc: DataFrame,
    nc: DataFrame,
    alpha: int = 1,
    k: int = 50,
) -> DataFrame:
    """``token_drift`` over PRE-AGGREGATED count tables:
    ``oc = (token, n_old)``, ``nc = (token, n_new)``. Same math, same
    determinism contract; the full-outer join and the top-k are the
    only work — bounded by vocabulary, not corpus size."""
    if not isinstance(alpha, int) or alpha <= 0:
        raise ValueError(
            f"token_drift_from_counts: alpha must be a positive int,"
            f" got {alpha!r}"
        )
    j = oc.join(nc, "token", "full_outer").select(
        "token",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    return _drift_topk(j, alpha, k)


def token_drift_split(
    docs: DataFrame,
    old_pred: Column | str,
    new_pred: Column | str,
    text_col: str = "text",
    alpha: int = 1,
    k: int = 50,
) -> DataFrame:
    """``token_drift`` when BOTH snapshots are predicate-selected
    subsets of ONE corpus (x86's shape: the even vs odd doc_id
    halves). ``token_drift(docs.filter(p), docs.filter(q))`` decodes
    the corpus twice — a row predicate cannot prune parquet row
    groups — then groupBys each side and full-outer joins the two
    count tables. Here ONE explode carries two boolean flags and ONE
    groupBy(token) emits both counts (:func:`_split_counts`): one
    corpus decode, one exchange, no join. Identical values by
    construction: a token seen only under ``old_pred`` comes out with
    ``n_new = 0``, exactly the full-outer join's coalesce; rows
    matching NEITHER predicate are filtered before the explode (they
    are in neither snapshot, so they never reached either count
    table); counts are exact int64 either way. Same math and
    determinism contract as :func:`token_drift` from the joined table
    onward."""
    if not isinstance(alpha, int) or alpha <= 0:
        raise ValueError(
            f"token_drift_split: alpha must be a positive int, got {alpha!r}"
        )
    flagged = docs.select(
        _flag(old_pred, "_o"),
        _flag(new_pred, "_n"),
        F.expr(f"explode({_toks_sql(text_col)}) AS token"),
    ).filter("_o OR _n")
    return _drift_topk(
        _split_counts(flagged, ["token"], n_old="_o", n_new="_n"), alpha, k
    )


def _drift_topk(j: DataFrame, alpha: int, k: int) -> DataFrame:
    """Shared tail of the drift family: broadcast 1-row totals over
    the joined ``(token, n_old, n_new)`` table, add-``alpha`` smoothed
    KL contributions rounded to 9, deterministic top-``k``."""
    totals = j.agg(
        F.sum("n_old").alias("_t_old"),
        F.sum("n_new").alias("_t_new"),
        F.count("*").alias("_v"),
    )
    w = j.crossJoin(F.broadcast(totals))
    p_new = (F.col("n_new") + F.lit(alpha)).cast("double") / (
        F.col("_t_new") + F.lit(alpha) * F.col("_v")
    ).cast("double")
    p_old = (F.col("n_old") + F.lit(alpha)).cast("double") / (
        F.col("_t_old") + F.lit(alpha) * F.col("_v")
    ).cast("double")
    contrib = F.round(p_new * F.log(p_new / p_old), 9)
    return (
        w.select(
            "token",
            "n_old",
            "n_new",
            contrib.alias("contrib"),
        )
        .orderBy(F.desc("contrib"), F.asc("token"))
        .limit(k)
    )


def perplexity_buckets(
    docs: DataFrame,
    lm: DataFrame,
    n_buckets: int = 3,
    labels: tuple[str, ...] | None = None,
    alpha: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distinct: int = 1_000_000,
    **score_kwargs,
) -> DataFrame:
    """CCNet's head/middle/tail cut (Wenzek et al. 2020, §4.3): score
    every document's perplexity under ``lm`` and split the corpus into
    ``n_buckets`` equal-mass groups by ppl — bucket 1 ("head") is the
    most fluent third, the part CCNet keeps unconditionally; "tail"
    is the candidate-discard third. Documents sharing a (quantized)
    ppl always share a bucket, so the split is reproducible by any
    engine — no rank tiebreaks, no interpolated quantiles.

    Output: ``(doc_id, ppl, bucket, cut)`` — ``bucket`` 1-based,
    ``cut`` the matching label (default head/middle/tail for 3),
    NULL/-'unscored' for documents with no bigram evidence.

    Plan shape (the x91 calibration pattern, generalized to k
    cutoffs): ppl is quantized to 6 decimals by ``perplexity_score``,
    so the distinct-ppl histogram is bounded — ONE groupBy over the
    scored projection, materialized once (round 16: the guard
    scalars n/d come out of the checkpointed histogram, so no second
    corpus-wide aggregation runs over the scored rows), a cumulative
    sum over that bounded table (single-partition over ≤
    ``max_distinct`` rows by design, guarded loudly), bucket ids from
    exact integer arithmetic (``((cum-1)·k) div n + 1`` — engines
    cannot disagree on a boundary), then a BROADCAST join back so
    assignment is map-side. No global sort, no rank window over the
    corpus: at 100 TB the only corpus-wide shuffles are the ones
    ``perplexity_score`` already pays. Reference scope:
    beyond-reference (training-pipeline extension).
    """
    if n_buckets < 2:
        raise ValueError(f"perplexity_buckets: need n_buckets >= 2, got {n_buckets}")
    if labels is None:
        labels = (
            ("head", "middle", "tail")
            if n_buckets == 3
            else tuple(f"b{i + 1}" for i in range(n_buckets))
        )
    if len(labels) != n_buckets:
        raise ValueError(
            f"perplexity_buckets: {len(labels)} labels for {n_buckets} buckets"
        )
    # The narrow (id, ppl) projection is consumed twice (histogram +
    # final assignment); materialize it once so the corpus is SCORED
    # once — 16 bytes/row of executor-local storage versus a second
    # full tokenize-explode-score pass. Same executor-loss caveat as
    # perplexity_score's model checkpoint.
    scored = (
        perplexity_score(
            docs, lm, alpha=alpha, text_col=text_col, id_col=id_col, **score_kwargs
        )
        .select(id_col, "ppl")
        .localCheckpoint(eager=True)
    )
    # The histogram is materialized ONCE (bounded by distinct
    # quantized ppls, never corpus rows) and the guard scalars n/d
    # derive from IT — round 16 §2.4/§5: the previous shape ran a
    # SECOND corpus-wide aggregation over the scored checkpoint just
    # for (count, count_distinct), then re-derived the histogram
    # inside the assignment plan's broadcast build; now the scored
    # checkpoint is read once for the histogram and once as the
    # probe side, and the guard agg is d-bounded. The guard itself
    # is unchanged: d counts the histogram's groups (== distinct
    # non-null ppls) and still reaches the driver BEFORE the
    # single-partition cumsum window it protects can run —
    # materializing the histogram is an ordinary distributed groupBy,
    # safe at any d.
    hist = (
        scored.filter(F.col("ppl").isNotNull())
        .groupBy("ppl")
        .agg(F.count("*").alias("_n"))
        .localCheckpoint(eager=True)
    )
    stats = hist.agg(
        F.count("*").alias("d"),
        F.coalesce(F.sum("_n"), F.lit(0)).alias("n"),
    ).first()
    n, d = int(stats["n"]), int(stats["d"])
    if d > max_distinct:
        raise ValueError(
            f"perplexity_buckets: {d} distinct ppl values exceeds"
            f" max_distinct={max_distinct}; the histogram cumsum runs"
            " single-partition — raise the bound knowingly"
        )
    label_arr = F.array(*[F.lit(s) for s in labels])
    if n == 0:
        return scored.select(
            id_col,
            "ppl",
            F.lit(None).cast("int").alias("bucket"),
            F.lit("unscored").alias("cut"),
        )
    w = Window.orderBy("ppl").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buckets = hist.withColumn("_cum", F.sum("_n").over(w)).select(
        "ppl",
        F.expr(f"cast(((_cum - 1) * {int(n_buckets)}) div {n} + 1 as int)").alias(
            "bucket"
        ),
    )
    # NOTE: not coalesce(element_at(arr, bucket), ...) — Spark 4.1
    # folds element_at over a foldable array THROUGH the outer join's
    # null, yielding arr[-1] instead of NULL for unmatched rows; an
    # explicit null gate on the index sidesteps the rewrite.
    return scored.join(F.broadcast(buckets), "ppl", "left").select(
        id_col,
        "ppl",
        "bucket",
        F.when(F.col("bucket").isNull(), F.lit("unscored"))
        .otherwise(F.element_at(label_arr, F.col("bucket")))
        .alias("cut"),
    )


def _addk_scores_pair(
    docs: DataFrame,
    model: DataFrame,
    v_b: int,
    v_r: int,
    text_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document under TWO add-1 bigram models in ONE
    corpus pass (doremi's fused scoring half) through the scoring
    core, both models' tables broadcast in one map-side stage (the
    caller gates on their combined rows).

    ``model`` is the fused count table ``(w1, w2, cnt, cnt_t)``:
    ``cnt`` the base-corpus counts (= ``bigram_lm_train(docs)``),
    ``cnt_t`` the target-subset counts (a gram unseen in the target
    has ``cnt_t = 0`` — exactly absent from the target model). Each
    model's probability is ``perplexity_score``'s (alpha=1), so the
    per-doc ``_ab``/``_ar`` averages are bit-identical to two
    independent scoring passes — pinned by the x142 DuckDB oracle and
    the pred-vs-DataFrame equivalence test. Docs with no bigram
    evidence carry NULL in both."""
    models = [
        (model.filter("w2 IS NOT NULL").selectExpr("w1", "w2", "cnt AS _c2b"), ["w1", "w2"]),
        (model.filter("w2 IS NULL").selectExpr("w1", "cnt AS _c1b"), ["w1"]),
        (
            model.filter("w2 IS NOT NULL AND cnt_t > 0").selectExpr("w1", "w2", "cnt_t AS _c2r"),
            ["w1", "w2"],
        ),
        (model.filter("w2 IS NULL AND cnt_t > 0").selectExpr("w1", "cnt_t AS _c1r"), ["w1"]),
    ]
    return _score(
        "doremi_domain_weights", docs, 2, text_col, id_col, models, None, True, 0,
        [
            ("_ab", None, _addk_p(1, v_b, "_c2b", "_c1b")),
            ("_ar", None, _addk_p(1, v_r, "_c2r", "_c1r")),
        ],
    )


def _domain_weights(
    joined: DataFrame, eta: float, prior: DataFrame | None = None
) -> DataFrame:
    """The per-domain DoReMi update shared by the single-round and the
    iterated operator: ``n_docs``, exact DECIMAL(18,6) sums of the
    6-rounded per-doc ``_ab``/``_ar``, ``excess_anlp`` (rounded 6),
    ``weight = round(prior · exp(eta · excess), 6)`` and the share
    over an exact decimal total. ``prior`` is the previous round's
    ``(domain, _prev, n_selected)`` table (broadcast onto the few-row
    aggregate; its ``n_selected`` rides along), or None for the
    single round's uniform prior."""
    keep = ["domain", "n_docs"]
    weight = F.exp(F.lit(float(eta)) * F.col("excess_anlp"))

    def dsum(c):
        return F.sum(F.round(c, 6).cast("decimal(18,6)")).cast("double")

    w = joined.groupBy("domain").agg(
        F.count("*").alias("n_docs"), dsum("_ab").alias("_sb"), dsum("_ar").alias("_sr")
    )
    if prior is not None:
        w = w.join(F.broadcast(prior), "domain")
        keep.insert(1, "n_selected")
        weight = F.col("_prev") * weight
    w = w.withColumn(
        "excess_anlp",
        F.round(F.col("_sb") / F.col("n_docs") - F.col("_sr") / F.col("n_docs"), 6),
    ).withColumn("weight", F.round(weight, 6))
    tot = F.sum(F.col("weight").cast("decimal(18,6)")).over(Window.partitionBy())
    return w.select(
        *keep,
        "excess_anlp",
        "weight",
        F.round(F.col("weight") / tot.cast("double"), 6).alias("mixture_share"),
    )


def doremi_domain_weights(
    docs: DataFrame,
    target: DataFrame | None = None,
    domain_col: str = "source",
    text_col: str = "text",
    eta: float = 1.0,
    *,
    target_pred: Column | str | None = None,
    broadcast_max_rows: int = 8_000_000,
) -> DataFrame:
    """Single-round DoReMi-style domain mixture weights (Xie et al.
    2023, arXiv:2305.10429): upweight domains whose EXCESS loss —
    loss under a proxy model trained on the raw corpus minus loss
    under a reference model trained on the target distribution — is
    largest (hard for the corpus model, learnable per the reference
    model). Here both models are the repo's add-1 bigram LM (the
    cheap proxy the CCNet lineage uses), so the whole update is two
    ``bigram_lm_train`` + two ``perplexity_score`` passes, one
    groupBy, and a tiny per-domain softmax-style normalization:

      excess_d = mean(anlp under corpus LM) − mean(anlp under target
      LM) over the domain's scoreable docs;
      weight_d = exp(eta · excess_d);  mixture_share_d = weight_d / Σ.

    Output: ``(domain, n_docs, excess_anlp, weight, mixture_share)``,
    one row per domain — the sampling-weight table a pretraining
    data loader consumes (compose with ``splits.mixture_sample`` /
    ``temperature_mixture``, which take explicit per-source rates).

    Determinism (the x84/x131 contract): per-doc avg_neg_logprob is
    already bit-identical cross-engine (exact-decimal q sums, one
    IEEE division); it is rounded to 6 and summed as DECIMAL(18,6)
    per domain, so the domain means are one IEEE division of exact
    operands; excess is rounded to 6, exp rounded to 6, and the
    share denominator is again an exact DECIMAL sum. Docs with
    n_bigrams = 0 (under two tokens) carry no LM evidence under
    EITHER model and are excluded from the means (n_docs counts the
    scoreable docs).

    Scale: the scoring is the same auto-broadcast map-only scan x84
    runs at 100 TB (``broadcast_max_rows`` bounds each scoring pass);
    the per-domain aggregate is one fixed-width shuffle on the domain
    key; everything after it is a few-row window. Reference scope:
    beyond-reference (training-pipeline extension).

    ``target_pred`` (the dsir_score/x131 pattern): when the target is
    a predicate-selected subset of ``docs``, pass the predicate
    instead of a DataFrame and the whole update fuses to TWO
    corpus-wide passes (the algorithmic floor: count grams once, score
    once) from the generic path's four. ONE explode+groupBy counts
    BOTH corpora (:func:`_split_counts`; a gram with ``cnt_t = 0`` is
    exactly a gram absent from the target model, and both count
    columns are exact int64 either way), checkpointed once
    (vocab-bounded, the same bound as each scorer's own model
    checkpoint); ONE corpus pass scores both models
    (:func:`_addk_scores_pair`); and the per-document join against
    ``domain`` runs once instead of twice. When the two models
    together exceed ``broadcast_max_rows`` (the fused pass broadcasts
    both at once), scoring falls back to the two independent passes —
    each broadcasts its own model while it fits the bound alone, else
    takes its own skew-guarded shuffle join — while keeping the fused
    single-pass training. Values are bit-identical to the generic
    path by construction — pinned by the x142 DuckDB oracle and the
    pred-vs-DataFrame equivalence test.
    """
    if (target is None) == (target_pred is None):
        raise ValueError(
            "doremi_domain_weights: pass exactly one of target (a "
            "separate corpus) or target_pred (a predicate selecting "
            "the target subset of docs)"
        )

    def score(lm, alias, stats=None):
        # a model with precomputed stats is the fused, checkpointed one
        return perplexity_score(
            docs,
            lm,
            text_col=text_col,
            broadcast_max_rows=broadcast_max_rows,
            model_materialized=stats is not None,
            model_stats=stats,
        ).select("doc_id", F.col("avg_neg_logprob").alias(alias))

    if target_pred is None:
        scored = score(bigram_lm_train(docs, text_col), "_ab").join(
            score(bigram_lm_train(target, text_col), "_ar"), "doc_id"
        )
    else:
        model = _lm_train(docs, 2, text_col, target_pred).localCheckpoint(
            eager=True
        )
        base_lm = model.select("w1", "w2", "cnt")
        ref_lm = model.filter("cnt_t > 0").selectExpr("w1", "w2", "cnt_t AS cnt")
        stats_b = lm_model_stats(base_lm, "addk")
        stats_r = lm_model_stats(ref_lm, "addk")
        if int(stats_b["rows"]) + int(stats_r["rows"]) <= broadcast_max_rows:
            scored = _addk_scores_pair(
                docs, model, int(stats_b["v"]), int(stats_r["v"]), text_col
            )
        else:
            scored = score(base_lm, "_ab", stats_b).join(
                score(ref_lm, "_ar", stats_r), "doc_id"
            )
    joined = (
        docs.select("doc_id", F.col(domain_col).alias("domain"))
        .join(scored, "doc_id")
        .filter(F.col("_ab").isNotNull() & F.col("_ar").isNotNull())
    )
    return _domain_weights(joined, eta)


def doremi_domain_weights_iterated(
    docs: DataFrame,
    target: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    eta: float = 1.0,
    rounds: int = 2,
    seed: int = 7,
) -> DataFrame:
    """Iterated DoReMi domain mixture weights (Xie et al. 2023,
    arXiv:2305.10429, Algorithm 1 shape): T rounds of proxy
    retraining with the multiplicative-weights update, where
    :func:`doremi_domain_weights` is the single-round special case.
    Each round t:

      1. retrain the PROXY on a domain-reweighted deterministic
         subsample: per domain, the first ``n_d = clamp(floor(
         share_{t-1,d} * N), 1, count_d)`` docs by md5 rank (the
         repo's portable-shuffle key) — the closed-form stand-in for
         DoReMi's Group-DRO reweighted training (a bigram LM "trains"
         by counting, so reweighting its risk IS reweighting its
         training sample);
      2. ``excess_d`` = mean(anlp under proxy_t) − mean(anlp under
         the FIXED reference LM trained on ``target``), over each
         domain's scoreable docs (the single-round update, verbatim);
      3. ``w_{t,d} = share_{t-1,d} · exp(eta · excess_d)``,
         renormalized — the paper's multiplicative-weights step
         (its extra uniform-smoothing term is omitted; the
         ``max(1, ·)`` floor in step 1 plays the never-starve role).

    Output is LONG FORMAT, one row per (round, domain):
    ``(round, domain, n_selected, n_docs, excess_anlp, weight,
    mixture_share, avg_share)`` where ``avg_share`` is the
    across-rounds mean share per domain — the paper's published
    output is the average of the per-step weights, and the final
    row set carries both the trajectory and that average.

    Determinism (the x142 contract, extended across rounds): every
    per-round statistic uses the exact-decimal/round-at-6 discipline
    of the single-round operator (the same :func:`_domain_weights`
    helper, with the prior share as a column); the ONLY values that
    cross the driver boundary between rounds are the 6-decimal shares
    (read back exactly via ``Decimal(str(·))``) and the integer
    ``n_d`` (an exact decimal×int floor), so a DuckDB oracle can
    replay all T rounds as chained CTEs. Per-round results are
    ``localCheckpoint``-ed (bounded: one row per domain), so the
    returned union never re-executes an LM chain.

    Scale: per round, one partitioned-window rank over the corpus
    (computed ONCE, checkpointed, reused every round), two
    auto-broadcast map-only scoring scans, and one fixed-width domain
    shuffle — T rounds cost T× the single-round operator's scoring,
    nothing super-linear. Reference scope: beyond-reference
    (training-pipeline extension)."""
    import math
    from decimal import Decimal, ROUND_HALF_UP

    if rounds < 1:
        raise ValueError(f"doremi iterated: rounds must be >= 1, got {rounds}")
    spark = docs.sparkSession
    ref_lm = bigram_lm_train(target, text_col=text_col)
    sr = (
        perplexity_score(docs, ref_lm, text_col=text_col)
        .select("doc_id", F.col("avg_neg_logprob").alias("_ar"))
        .localCheckpoint(eager=True)
    )
    ranked = (
        docs.select(
            "doc_id",
            F.col(domain_col).alias("domain"),
            F.col(text_col).alias("_text"),
        )
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("domain").orderBy(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"), F.lit(f":{seed}")
                        )
                    ),
                    "doc_id",
                )
            ),
        )
        .localCheckpoint(eager=True)
    )
    counts = {
        r["domain"]: r["cnt"]
        for r in ranked.groupBy("domain").agg(F.count("*").alias("cnt")).collect()
    }
    domains = sorted(counts)
    n_total = sum(counts.values())
    q6 = Decimal("0.000001")
    share0 = (Decimal(1) / Decimal(len(domains))).quantize(
        q6, rounding=ROUND_HALF_UP
    )
    shares: dict[str, Decimal] = {d: share0 for d in domains}
    per_round: list[DataFrame] = []
    for t in range(1, rounds + 1):
        # decimal×int product is exact; int() floors for positives
        nsel = {
            d: max(1, min(counts[d], int(shares[d] * n_total)))
            for d in domains
        }
        prevdf = spark.createDataFrame(
            [(d, float(shares[d]), nsel[d]) for d in domains],
            "domain string, _prev double, n_selected bigint",
        )
        sel = ranked.join(F.broadcast(prevdf), "domain").filter(
            F.col("_rk") <= F.col("n_selected")
        )
        proxy = bigram_lm_train(sel, text_col="_text")
        sb = perplexity_score(docs, proxy, text_col=text_col).select(
            "doc_id", F.col("avg_neg_logprob").alias("_ab")
        )
        joined = (
            ranked.select("doc_id", "domain")
            .join(sb, "doc_id")
            .join(sr, "doc_id")
            .filter(F.col("_ab").isNotNull() & F.col("_ar").isNotNull())
        )
        w = _domain_weights(joined, eta, prevdf)
        w = w.select(F.lit(t).alias("round"), *w.columns).localCheckpoint(eager=True)
        # a domain whose docs are all too short to score never reaches
        # the agg — carry its share forward instead of KeyError-ing
        # the next round's budget (it still gets its >=1-doc floor)
        rows_t = w.collect()
        if any(
            r["mixture_share"] is None or math.isnan(r["mixture_share"])
            for r in rows_t
        ):
            # every weight rounded to 0 at 6 decimals → Σ = 0 and the
            # share divides 0/0 (NaN), which would poison the next
            # round's Decimal budget arithmetic with InvalidOperation
            raise ValueError(
                f"doremi_domain_weights_iterated: all round-{t} domain"
                f" weights rounded to 0 at 6 decimals (eta={eta} is too"
                " large for the observed excess losses); lower eta"
            )
        shares = dict(shares)
        shares.update(
            {r["domain"]: Decimal(str(r["mixture_share"])) for r in rows_t}
        )
        per_round.append(w)
    allr = per_round[0]
    for df in per_round[1:]:
        allr = allr.union(df)
    avg = F.round(
        F.sum(F.col("mixture_share").cast("decimal(18,6)"))
        .over(Window.partitionBy("domain"))
        .cast("double")
        / F.lit(float(rounds)),
        6,
    )
    return allr.withColumn("avg_share", avg)
