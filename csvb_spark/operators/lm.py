"""N-gram language-model perplexity scoring for quality filtering.

The second standard model-based quality filter (beside the hashed
linear classifier, ``operators/classify.py``): CCNet and its
descendants rank crawl documents by the perplexity of a small n-gram
LM — low perplexity ≈ fluent in-domain prose, high ≈ boilerplate or
garbage. The production shape is exactly this module's: TRAIN a
bounded count model (here: unigram + bigram counts over a corpus —
one groupBy), then SCORE every document map-side against it with
add-alpha smoothing.

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

Plan shape: tokenize + explode bigrams map-side; the score join
BROADCASTS the count model by default (the model row count is known
from the same bounded aggregation that derives V, and broadcasting
happens automatically while it fits ``broadcast_max_rows``), making
scoring map-only. At 100 TB the LM is trained on a bounded sample
(as CCNet does — a few GB of target-domain text), so the broadcast
path is the normal one; an over-bound model falls back to a shuffle
join on the bigram key WITH a warning (that key is Zipf-skewed — a
hot-key exchange at scale). Reference scope: beyond-reference (the
reference has no text operators — SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _toks(text_col: str):
    # classifier-compatible tokenization (classify.hashed_features):
    # lowercase, whitespace split, NULL reads as one '' token
    return F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")


def _toks_sql(text_col: str) -> str:
    """SQL text of ``_toks`` — same expression tree through the
    parser (split/trim/lower/coalesce; '\\\\s+' unescapes to the \\s+
    regex F.split receives)."""
    return f"split(trim(lower(coalesce(`{text_col}`, ''))), '\\\\s+')"


_BG_T = "array<struct<w1:string,w2:string>>"
_TG_T = "array<struct<w1:string,w2:string,w3:string>>"


def _pair_rows(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(_id, w1, w2)`` bigram rows plus one NULL-sentinel row per
    document — the shared corpus-side front half of the addk/KN/JM
    scorers, built from TWO parsed selectExpr strings instead of
    ~370 fine-grained py4j Column calls (round 16: plan construction
    was ~30-50% of a scorer's per-run wall at bench scale, and the
    streaming gate pays it per micro-batch — the p09 round-4
    F.expr-batching pattern, guide §4.3/§5). The SQL is the same
    expression tree as the Column form (``_toks``/``_bigrams``): the
    CAST on arrays_zip only renames the struct fields, exactly like
    the ``.alias`` calls it replaces; values are pinned bit-identical
    by the x84/x89/x110 DuckDB oracles."""
    bg = (
        "CASE WHEN size(_t) >= 2 THEN CAST(arrays_zip("
        "slice(_t, 1, size(_t) - 1), slice(_t, 2, size(_t) - 1)"
        f") AS {_BG_T}) ELSE CAST(array() AS {_BG_T}) END"
    )
    sent = (
        "array(named_struct("
        "'w1', CAST(NULL AS string), 'w2', CAST(NULL AS string)))"
    )
    return (
        docs.selectExpr(
            f"`{id_col}` AS _id", f"{_toks_sql(text_col)} AS _t"
        )
        .selectExpr("_id", f"explode(concat({bg}, {sent})) AS b")
        .select("_id", "b.w1", "b.w2")
    )


def _triple_rows(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(_id, w1, w2, w3)`` trigram rows plus one NULL-sentinel row
    per document — the stupid-backoff sibling of ``_pair_rows``, same
    construction economics and the same value pin (x93 oracle)."""
    tg = (
        "CASE WHEN size(_t) >= 3 THEN CAST(arrays_zip("
        "slice(_t, 1, size(_t) - 2), slice(_t, 2, size(_t) - 2), "
        f"slice(_t, 3, size(_t) - 2)) AS {_TG_T}) "
        f"ELSE CAST(array() AS {_TG_T}) END"
    )
    sent = (
        "array(named_struct('w1', CAST(NULL AS string), "
        "'w2', CAST(NULL AS string), 'w3', CAST(NULL AS string)))"
    )
    return (
        docs.selectExpr(
            f"`{id_col}` AS _id", f"{_toks_sql(text_col)} AS _t"
        )
        .selectExpr("_id", f"explode(concat({tg}, {sent})) AS b")
        .select("_id", "b.w1", "b.w2", "b.w3")
    )


def bigram_shared_train_inputs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pred: Column | str | None = None,
    bigram_only: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """ONE corpus explode feeding BOTH a bigram-LM train and a scorer
    (round 16, §2.4 — the train-on-self x84/x95/x110 and
    train-on-half x89 bench shapes each scanned+tokenized+exploded
    the corpus twice, once for the model aggregation and once for the
    scoring pairs). Returns ``(lm, pairs)``:

    - ``lm`` — exactly ``bigram_lm_train(docs.filter(train_pred))``'s
      row multiset (all docs when ``train_pred`` is None), or only
      its bigram rows when ``bigram_only=True`` (Kneser-Ney consumes
      nothing else — the unigram half of the train explode/agg/
      checkpoint is waste there). Left unmaterialized: the scorer's
      own model checkpoint aggregates it straight off the gram base.
    - ``pairs`` — exactly ``_pair_rows(docs)``'s rows (bigram pairs
      plus one NULL-sentinel per document), for the scorers'
      ``pairs=`` injection.

    Both derive from one eagerly checkpointed ``(_id, w1, w2)`` gram
    table, so the corpus is scanned and tokenized ONCE. The same
    trade as x131's fused feats table: corpus-token-bounded
    executor-local storage (≈ the token stream re-serialized, 2n+1
    rows/doc with unigrams, n+1 without) against a second full
    parquet decode + regex tokenize + zip/explode; rebuilt from the
    inputs on every execution — a within-query materialization, not
    a cache. Values are pinned by the composed queries' DuckDB
    oracles and the refactor-pin unit test (identical multisets by
    construction: the base rows are a relabeling of exactly the rows
    the two separate explodes produced; sentinel rows are excluded
    from the train by ``w1 IS NOT NULL``, unigram rows from the
    pairs by ``w2 IS NOT NULL OR w1 IS NULL`` — tokens themselves
    are never NULL, the tokenizer yields '' for missing text).
    """
    bg = (
        "CASE WHEN size(_t) >= 2 THEN CAST(arrays_zip("
        "slice(_t, 1, size(_t) - 1), slice(_t, 2, size(_t) - 1)"
        f") AS {_BG_T}) ELSE CAST(array() AS {_BG_T}) END"
    )
    sent = (
        "array(named_struct("
        "'w1', CAST(NULL AS string), 'w2', CAST(NULL AS string)))"
    )
    parts = [bg, sent]
    if not bigram_only:
        uni = (
            "CAST(arrays_zip(_t, array_repeat(CAST(NULL AS string),"
            f" size(_t))) AS {_BG_T})"
        )
        parts.insert(0, uni)
    keep = ["_id"]
    if train_pred is not None:
        pred = (
            F.expr(train_pred) if isinstance(train_pred, str) else train_pred
        )
        tok = docs.select(
            F.col(id_col).alias("_id"),
            pred.cast("boolean").alias("_tr"),
            F.expr(_toks_sql(text_col)).alias("_t"),
        )
        keep.append("_tr")
    else:
        tok = docs.selectExpr(
            f"`{id_col}` AS _id", f"{_toks_sql(text_col)} AS _t"
        )
    base = (
        tok.selectExpr(*keep, f"explode(concat({', '.join(parts)})) AS b")
        .select(*keep, "b.w1", "b.w2")
        .localCheckpoint(eager=True)
    )
    train_filter = "w1 IS NOT NULL" + (" AND _tr" if train_pred is not None else "")
    lm = (
        base.filter(train_filter)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    if bigram_only:
        pairs = base.select("_id", "w1", "w2")
    else:
        pairs = base.filter("w2 IS NOT NULL OR w1 IS NULL").select(
            "_id", "w1", "w2"
        )
    return lm, pairs


def _bigrams(t):
    """Consecutive-token pair array for a token-array column — ONE
    definition shared by train and score, so the bigram shape can
    never drift between them (and break x84 parity).

    Shape matters 35x here: the earlier ``transform(sequence(...),
    i -> struct(element_at(t, i), element_at(t, i+1)))`` form
    re-evaluated the token expression PER ELEMENT inside the lambda —
    when ``t`` is the tokenizer (a regex split), that meant one
    re-split of the document per bigram, turning a linear explode
    into a quadratic one (measured 5.6 s → 0.16 s on the sf0.1 train
    pass). ``slice`` + ``arrays_zip`` copies the materialized array
    twice and zips — no lambda, no re-evaluation. Callers ALSO
    project the tokenizer into a real column first (CollapseProject
    keeps multi-referenced non-trivial expressions un-inlined, so the
    split stays evaluated once per row)."""
    z = F.arrays_zip(
        F.slice(t, 1, F.size(t) - 1).alias("w1"),
        F.slice(t, 2, F.size(t) - 1).alias("w2"),
    )
    return F.when(F.size(t) >= 2, z).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )


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


def _resolve_broadcast(
    caller: str,
    n_model: int,
    broadcast_model: bool | None,
    broadcast_max_rows: int,
) -> bool:
    """Shared auto-broadcast policy for the three scorers (add-alpha,
    Kneser-Ney, stupid backoff): broadcast the model-derived tables
    while the model fits under ``broadcast_max_rows`` (map-only
    scoring), else WARN and fall back to a shuffle join. The fallback
    exchanges the n-gram-exploded corpus on a Zipf-skewed key — slow
    but bounded; an over-bound broadcast would be an executor OOM.
    ``broadcast_model=True/False`` forces the choice (the size probe's
    outcome is ignored; the count itself comes from an aggregation the
    caller needs anyway, so no work is saved by forcing)."""
    if broadcast_model is not None:
        return broadcast_model
    if n_model <= broadcast_max_rows:
        return True
    import warnings

    warnings.warn(
        f"{caller}: model has {n_model} rows (> broadcast_max_rows="
        f"{broadcast_max_rows}); falling back to a shuffle join on the "
        "Zipf-skewed n-gram key. Train on a bounded sample (the CCNet "
        "contract) so the model broadcasts, or raise broadcast_max_rows.",
        stacklevel=3,
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


def _validate_salt_knobs(caller: str, n_salts, salt_threshold) -> None:
    """Shared knob validation for the four scorers — loud upfront:
    n_salts=0 would otherwise drop every corpus row in a salted join,
    and an out-of-range threshold silently never (or always) salts."""
    if not isinstance(n_salts, int) or n_salts < 1:
        raise ValueError(
            f"{caller}: n_salts must be a positive int, got {n_salts!r}"
        )
    if not 0.0 <= salt_threshold <= 1.0:
        raise ValueError(
            f"{caller}: salt_threshold must be in [0, 1],"
            f" got {salt_threshold!r}"
        )


def _warn_salting(caller: str, salt_threshold: float, n_salts: int) -> None:
    import warnings

    warnings.warn(
        f"{caller}: shuffle-fallback join key is skewed "
        f"(model bigram norm_entropy < {salt_threshold}); salting "
        f"the score joins over {n_salts} salts.",
        stacklevel=3,
    )


def _salt_probe(
    df: DataFrame, cols: list[str], n_salts: int, salt_col: str
) -> DataFrame:
    """Probe side of a salted skew join: ONE deterministic salt per
    corpus row (hash of the row's identifying columns) — each row
    still meets exactly one replica of its matching model row, so a
    salted left join is row-identical to the plain one, while a
    Zipf-hot key's rows land on ``n_salts`` reducers instead of one
    straggler. Pair with :func:`_salt_replicate` on the build side."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*cols), F.lit(n_salts))
    )


def _salt_replicate(df: DataFrame, n_salts: int, salt_col: str) -> DataFrame:
    """Build side of a salted skew join: replicate every model row
    across ALL ``n_salts`` salt values (model tables are bounded by
    vocabulary, so the ×n_salts blow-up is small and partitioned)."""
    return df.withColumn(
        salt_col, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )


def bigram_lm_train(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Train the count model: one row per observed n-gram.

    Output: ``(w1, w2, cnt)`` — bigram rows carry both words; unigram
    (context) rows carry ``w2 = NULL``. ONE scan, ONE tokenize, one
    explode + one groupBy (single fixed-width shuffle); the model
    size is bounded by the corpus vocabulary, not its row count.
    (Round-15 optimization: the earlier unigram-branch ∪ bigram-branch
    union re-scanned and re-tokenized the corpus once per n-gram
    order — union subtrees share nothing; both gram arrays are now
    built from one materialized token array and exploded together.
    Same multiset of (w1, w2) rows, so counts are identical.)
    """
    tok = docs.select(_toks(text_col).alias("_t"))
    nulls = F.array_repeat(F.lit(None).cast("string"), F.size("_t"))
    unis = F.arrays_zip(F.col("_t").alias("w1"), nulls.alias("w2"))
    return (
        tok.select(
            F.explode(F.concat(unis, _bigrams(F.col("_t")))).alias("g")
        )
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
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
    return (
        docs.select(F.explode(_toks(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
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
    groupBy(token) emits both counts via count_if (round 16, §2.4 —
    the same fuse as DSIR's ``target_pred``): one corpus decode, one
    exchange, no join. Identical values by construction: a token seen
    only under ``old_pred`` comes out with ``n_new = 0``, exactly the
    full-outer join's coalesce; rows matching NEITHER predicate are
    filtered before the explode (they are in neither snapshot, so
    they never reached either count table); counts are exact int64
    either way. Same math and determinism contract as
    :func:`token_drift` from the joined table onward."""
    if not isinstance(alpha, int) or alpha <= 0:
        raise ValueError(
            f"token_drift_split: alpha must be a positive int, got {alpha!r}"
        )
    op = F.expr(old_pred) if isinstance(old_pred, str) else old_pred
    np_ = F.expr(new_pred) if isinstance(new_pred, str) else new_pred
    j = (
        docs.select(
            op.cast("boolean").alias("_o"),
            np_.cast("boolean").alias("_n"),
            F.explode(_toks(text_col)).alias("token"),
        )
        .filter(F.col("_o") | F.col("_n"))
        .groupBy("token")
        .agg(
            F.count(F.when(F.col("_o"), 1)).alias("n_old"),
            F.count(F.when(F.col("_n"), 1)).alias("n_new"),
        )
    )
    return _drift_topk(j, alpha, k)


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


# --- model-probe aggregates, one per smoothing family -----------------------
# Each scorer derives a handful of bounded scalars from its model (V /
# row count for the auto-broadcast decision / count-entropy for the
# skew pre-flight) in ONE small aggregation job. The aggregates live
# here, outside the scorers, so a caller that scores MANY batches
# against one fixed model — the streaming LM gate — can run the probe
# once per stream via :func:`lm_model_stats` and pass the row back in
# (round 15, guide §5: the driver job was repeated per micro-batch for
# a value that cannot change between batches).


def _addk_model_stats(lm: DataFrame):
    _is_bi = F.col("w2").isNotNull()
    return lm.agg(
        F.count(F.when(F.col("w2").isNull(), 1)).alias("v"),
        F.count("*").alias("n"),
        F.sum(F.when(_is_bi, F.col("cnt"))).alias("bn"),
        F.count(F.when(_is_bi, 1)).alias("bk"),
        F.sum(
            F.when(
                _is_bi,
                F.col("cnt").cast("double")
                * F.log(F.col("cnt").cast("double")),
            )
        ).alias("bnlogn"),
    ).first()


def _kn_model_stats(lm: DataFrame):
    bi = lm.filter(F.col("w2").isNotNull())
    return bi.agg(
        F.count("*").alias("b"),
        F.countDistinct("w2").alias("v"),
        F.sum("cnt").alias("bn"),
        F.sum(
            F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double"))
        ).alias("bnlogn"),
    ).first()


def _sb_model_stats(lm: DataFrame):
    _is_uni = F.col("w2").isNull()
    return lm.agg(
        F.sum(F.when(_is_uni, F.col("cnt"))).alias("n"),
        F.count("*").alias("rows"),
        F.count(F.when(_is_uni, 1)).alias("uk"),
        F.sum(
            F.when(
                _is_uni,
                F.col("cnt").cast("double")
                * F.log(F.col("cnt").cast("double")),
            )
        ).alias("unlogn"),
    ).first()


def _jm_model_stats(lm: DataFrame):
    _is_bi = F.col("w2").isNotNull()
    return lm.agg(
        F.count(F.when(F.col("w2").isNull(), 1)).alias("v"),
        F.count("*").alias("n"),
        F.sum(F.when(F.col("w2").isNull(), F.col("cnt"))).alias("t"),
        F.sum(F.when(_is_bi, F.col("cnt"))).alias("bt"),
        F.count(F.when(_is_bi, 1)).alias("bk"),
        F.sum(
            F.when(
                _is_bi,
                F.col("cnt").cast("double")
                * F.log(F.col("cnt").cast("double")),
            )
        ).alias("bnlogn"),
    ).first()


def lm_model_stats(lm: DataFrame, smoothing: str = "addk"):
    """Run ``smoothing``'s model-probe aggregation ONCE and return the
    row the matching scorer's ``model_stats=`` parameter expects. For a
    model that is fixed across many scoring calls (the streaming gate's
    per-stream model) this amortizes the per-call driver probe job; the
    scalars are a pure function of the model, so passing them back in
    is value-identical to letting the scorer probe itself."""
    try:
        probe = {
            "addk": _addk_model_stats,
            "kn": _kn_model_stats,
            "sb": _sb_model_stats,
            "jm": _jm_model_stats,
        }[smoothing]
    except KeyError:
        raise ValueError(
            f"lm_model_stats: unknown smoothing {smoothing!r}"
            " (expected addk|kn|sb|jm)"
        ) from None
    return probe(lm)


def perplexity_score(
    docs: DataFrame,
    lm: DataFrame,
    alpha: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool | None = None,
    broadcast_max_rows: int = 8_000_000,
    model_materialized: bool = False,
    n_salts: int = 16,
    salt_threshold: float = 0.5,
    model_stats=None,
    pairs: DataFrame | None = None,
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
    outcome mattering.

    The shuffle fallback is additionally SKEW-GUARDED: the model's
    bigram-count entropy (computed in the same scalar agg as ``V`` —
    no extra pass) stands in for the scoring corpus's join-key
    distribution, and when its normalized entropy drops below
    ``salt_threshold`` the score joins are salted over ``n_salts``
    deterministic salts (corpus side scattered by xxhash64, model
    side replicated) — row-identical output, but the hot key's rows
    land on ``n_salts`` reducers instead of one straggler.
    """
    if not isinstance(alpha, int) or alpha <= 0:
        raise ValueError(
            f"perplexity_score: alpha must be a positive int, got {alpha!r}"
        )
    # loud upfront, like every other knob: n_salts=0 would otherwise
    # surface as REMAINDER_BY_ZERO mid-job (ANSI) or silently score
    # every bigram as unseen (non-ANSI pmod -> NULL join keys)
    _validate_salt_knobs("perplexity_score", n_salts, salt_threshold)
    spark = docs.sparkSession
    # The model is consumed THREE times below (size/V probe + the two
    # broadcast builds); if it arrives as an unmaterialized plan — in
    # particular bigram_lm_train's full-corpus aggregation — each
    # consumer would re-execute that aggregation (cross-job, so
    # exchange reuse cannot save it). Materialize once: the model is
    # vocabulary-bounded, so executor-local storage is cheap, and the
    # train-then-score pipeline pays for ONE training pass.
    # (Measured: 3.2x on the sf0.1 train+score benchmark entry.)
    # Caveat: localCheckpoint blocks are not executor-loss-recoverable
    # (lineage truncated); losing one fails the query cleanly — on
    # preemptible clusters write the trained model to parquet and
    # score from that instead (the CLI train-filter/score split).
    # ``model_materialized=True`` skips the checkpoint when the caller
    # already holds a materialized model (the streaming gate caches the
    # parquet-read model ONCE across micro-batches and opts out here).
    if not model_materialized:
        lm = lm.localCheckpoint(eager=True)
    uni = lm.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("_c_w1"), F.col("cnt").alias("_c1")
    )
    bi = lm.filter(F.col("w2").isNotNull()).select(
        F.col("w1").alias("_b_w1"),
        F.col("w2").alias("_b_w2"),
        F.col("cnt").alias("_c2"),
    )
    # V = distinct unigram types, a scalar the oracle derives the same
    # way; bounded driver constant. ONE small agg over the model also
    # yields the total row count (the auto-broadcast size signal) AND
    # the bigram-key entropy statistics (the skew pre-flight for the
    # shuffle fallback) — no extra pass for either. A caller scoring
    # many batches against ONE fixed model (the streaming gate) passes
    # ``model_stats`` (from :func:`lm_model_stats`) so the probe job
    # runs once per stream, not once per micro-batch (round 15).
    v, n_model, b_tokens, b_keys, b_nlogn = (
        model_stats if model_stats is not None else _addk_model_stats(lm)
    )
    broadcast_model = _resolve_broadcast(
        "perplexity_score", n_model, broadcast_model, broadcast_max_rows
    )
    if broadcast_model:
        uni, bi = F.broadcast(uni), F.broadcast(bi)

    # every document emits its bigrams PLUS one NULL sentinel pair, so
    # short documents (no bigrams) survive the explode and the corpus
    # is scanned exactly once — no second filter pass, no anti-join.
    # ``pairs`` injects a prebuilt (_id, w1, w2) table with EXACTLY
    # _pair_rows' rows (round 16: the shared-explode compositions let
    # train and score read one checkpointed gram table instead of
    # scanning+tokenizing the corpus twice; the DuckDB oracles pin
    # the composed values).
    if pairs is None:
        pairs = _pair_rows(docs, id_col, text_col)
    _ne = _model_norm_entropy(b_tokens, b_keys, b_nlogn)
    if not broadcast_model and _ne is not None and _ne < salt_threshold:
        # SKEW PRE-FLIGHT (free: the entropy came out of the same agg
        # as V). The shuffle fallback exchanges the bigram-exploded
        # corpus on the Zipf-skewed (w1, w2) key; when the TRAIN
        # corpus's bigram distribution — the best available proxy for
        # the scoring corpus — is concentrated (norm entropy below
        # ``salt_threshold``), the hot key becomes one straggler
        # reducer. Salt: scatter each corpus pair over ``n_salts``
        # deterministic salts and replicate the model rows across all
        # of them — every pair still meets exactly ONE replica of its
        # model row, so the result is row-identical to the plain left
        # join (the x84 oracle is unchanged); the hot key's rows now
        # land on n_salts reducers instead of one.
        _warn_salting("perplexity_score", salt_threshold, n_salts)
        pairs = _salt_probe(pairs, ["_id", "w1", "w2"], n_salts, "_ps")
        bi = _salt_replicate(bi, n_salts, "_bs")
        uni = _salt_replicate(uni, n_salts, "_us")
        joined = (
            pairs.join(
                bi,
                (pairs.w1 == bi._b_w1)
                & (pairs.w2 == bi._b_w2)
                & (pairs._ps == bi._bs),
                "left",
            )
            .join(
                uni,
                (pairs.w1 == uni._c_w1) & (pairs._ps == uni._us),
                "left",
            )
        )
    else:
        joined = (
            pairs.join(
                bi, (pairs.w1 == bi._b_w1) & (pairs.w2 == bi._b_w2), "left"
            )
            .join(uni, pairs.w1 == uni._c_w1, "left")
        )
    # post-join arithmetic as parsed strings (round 16 — the same
    # construction-cost batching as _pair_rows; identical expression
    # trees: SQL ln IS F.log, int literals type like F.lit's ints, and
    # the x84 oracle pins the values). Sentinel rows contribute NULL
    # _q (ignored by SUM), exactly as before.
    p = (
        f"(CAST(coalesce(_c2, 0) + {alpha} AS DOUBLE)"
        f" / CAST(coalesce(_c1, 0) + {alpha} * {v} AS DOUBLE))"
    )
    per_doc = (
        joined.selectExpr(
            "_id",
            "CAST(w1 IS NOT NULL AS BIGINT) AS _is_bg",
            "CASE WHEN w1 IS NOT NULL THEN "
            f"CAST(round(ln({p}), 6) AS DECIMAL(18,6)) END AS _q",
        )
        .groupBy("_id")
        .agg(F.sum("_is_bg").alias("n_bigrams"), F.sum("_q").alias("_total"))
    )
    avg_nll = (
        "CASE WHEN n_bigrams > 0 THEN "
        "-(CAST(_total AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) END"
    )
    # avg_neg_logprob ships UNROUNDED: its operands (exact decimal
    # total, int count) make the division bit-identical on any engine,
    # and a display ROUND would *reintroduce* divergence — Spark
    # rounds the shortest decimal repr where DuckDB rounds the binary
    # value, which differs when the repr lands exactly on a half
    # boundary (observed once in 5,000 docs at sf0.1). ppl must round
    # because exp() itself is only ulp-identical across engines.
    return per_doc.selectExpr(
        f"_id AS `{id_col}`",
        "n_bigrams",
        f"{avg_nll} AS avg_neg_logprob",
        f"round(exp({avg_nll}), 6) AS ppl",
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
    n_salts: int = 16,
    salt_threshold: float = 0.5,
    model_stats=None,
    pairs: DataFrame | None = None,
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

    Plan shape: the model-derived tables (bigrams, context totals,
    continuation counts) are vocabulary-bounded and broadcast under
    the shared auto-pick policy (``_resolve_broadcast``, same as
    ``perplexity_score``): the bigram row count — which bounds all
    three derived tables — comes out of the scalar agg this smoothing
    needs anyway, so the probe is free; an over-bound model falls back
    to shuffle joins WITH a warning instead of OOMing executors (a
    bigram table is corpus-bounded, not vocab-bounded). Under the
    broadcast (normal) path the corpus is tokenized and scored
    map-side in one scan (NULL-sentinel trick for short documents) —
    no shuffle touches corpus rows until the per-document rollup on
    ``doc_id``.

    Round-16 (§2.4): context totals ``(c1, N1+(w1·))`` and
    continuation counts ``N1+(·w2)`` used to be TWO separate
    groupBy-exchange chains over the checkpointed model, and the
    scalars a third countDistinct scan. All per-word statistics now
    come out of ONE unpivot (each bigram row explodes into a
    w1-tagged and a w2-tagged row) + ONE groupBy(word), checkpointed
    once (vocab-bounded); the scalars are a tiny follow-up agg over
    that table. Null semantics are preserved exactly: a word only
    ever seen as ``w2`` carries ``_c1 = NULL`` (sum over an empty
    fwd set), which takes the same unseen-context branch as the old
    join miss; a word only ever seen as ``w1`` carries
    ``_n1bwd = 0``, indistinguishable from the old NULL under the
    expression's ``coalesce(_n1bwd, 0)``. ``b``/``v``/``bn`` are
    exact integer aggregates (order-independent); ``bnlogn`` is a
    double whose summation order changes, but it only feeds the
    salt-threshold plan decision, never an output value — and the
    salted plan is row-identical by construction.

    The shuffle fallback is SKEW-GUARDED exactly like
    ``perplexity_score``: the model's bigram-count entropy rides the
    same scalar agg as ``B``/``V`` (no extra pass), and when its
    normalized entropy drops below ``salt_threshold`` all three score
    joins are salted over ``n_salts`` deterministic salts (corpus side
    scattered by xxhash64, model sides replicated) — row-identical
    output, hot keys spread over ``n_salts`` reducers.
    """
    if not isinstance(discount_milli, int) or not 0 < discount_milli < 1000:
        raise ValueError(
            "kneser_ney_score: discount_milli must be an int in (0, 1000),"
            f" got {discount_milli!r}"
        )
    _validate_salt_knobs("kneser_ney_score", n_salts, salt_threshold)
    # four consumers (ctx/cont/scalars/broadcast join) — materialize
    # the vocabulary-bounded model once (see perplexity_score; callers
    # holding an already-materialized model opt out)
    if not model_materialized:
        lm = lm.localCheckpoint(eager=True)
    bi = lm.filter(F.col("w2").isNotNull()).select("w1", "w2", "cnt")
    # ONE unpivot + ONE groupBy(word) replaces the old separate
    # ctx (groupBy w1) and cont (groupBy w2) exchange chains — see
    # the docstring's round-16 note for the null-semantics proof.
    # Checkpointed eagerly: it has three consumers (two score joins
    # plus the scalar probe) and is vocab-bounded.
    wordstats = (
        bi.select(
            F.expr(
                "explode(array("
                "struct(w1 AS word, cnt AS _cnt, true AS _fwd),"
                "struct(w2 AS word, CAST(NULL AS BIGINT) AS _cnt, false AS _fwd)"
                ")) AS s"
            )
        )
        .select("s.*")
        .groupBy("word")
        .agg(
            F.sum(F.when(F.col("_fwd"), F.col("_cnt"))).alias("_c1"),
            F.count(F.when(F.col("_fwd"), 1)).alias("_n1fwd"),
            F.count(F.when(~F.col("_fwd"), 1)).alias("_n1bwd"),
            # partial Σ cnt·ln(cnt) over this word's bigram rows — the
            # skew pre-flight's entropy numerator, summed globally in
            # the scalar probe below (double; order-sensitive only in
            # the last ulp, and it never reaches an output value)
            F.sum(
                F.when(
                    F.col("_fwd"),
                    F.col("_cnt").cast("double")
                    * F.log(F.col("_cnt").cast("double")),
                )
            ).alias("_bnlogn_part"),
        )
        .localCheckpoint(eager=True)
    )
    ctx = wordstats.select(
        F.col("word").alias("w1"), "_c1", "_n1fwd"
    )
    cont = wordstats.select(F.col("word").alias("w2"), "_n1bwd")
    # scalars: distinct bigram types + continuation vocabulary — a
    # tiny agg over the vocab-bounded wordstats table (round 16: was
    # a countDistinct scan over the model); the same agg yields the
    # count-entropy statistics for the shuffle-fallback skew
    # pre-flight (no extra pass). Streaming callers amortize it per
    # stream via lm_model_stats (round 15).
    if model_stats is not None:
        b_types, v_cont, b_tokens, b_nlogn = model_stats
    else:
        _s = wordstats.agg(
            F.coalesce(F.sum("_n1fwd"), F.lit(0)).alias("b"),
            F.count(F.when(F.col("_n1bwd") > 0, 1)).alias("v"),
            F.sum("_c1").alias("bn"),
            F.sum("_bnlogn_part").alias("bnlogn"),
        ).first()
        b_types, v_cont, b_tokens, b_nlogn = (
            _s["b"], _s["v"], _s["bn"], _s["bnlogn"],
        )
    scale = int(b_types) + int(v_cont) + 1
    dm = int(discount_milli)
    # b_types IS the bigram row count, which bounds every broadcast
    # side below (ctx and cont are per-w1/per-w2 rollups of it)
    _broadcasting = _resolve_broadcast(
        "kneser_ney_score", int(b_types), broadcast_model, broadcast_max_rows
    )
    _bc = F.broadcast if _broadcasting else (lambda df: df)
    _ne = _model_norm_entropy(b_tokens, b_types, b_nlogn)
    _salted = not _broadcasting and _ne is not None and _ne < salt_threshold

    # ``pairs`` injection: see perplexity_score (same contract)
    if pairs is None:
        pairs = _pair_rows(docs, id_col, text_col)
    if _salted:
        # Same construction as perplexity_score's salted fallback:
        # every corpus pair carries ONE deterministic salt; every
        # model-derived table is replicated across all n_salts values,
        # so each pair still meets exactly one replica of its matching
        # row (left-join misses stay misses) — row-identical output,
        # but the Zipf-hot (w1)/(w2) keys land on n_salts reducers.
        _warn_salting("kneser_ney_score", salt_threshold, n_salts)
        pairs = _salt_probe(pairs, ["_id", "w1", "w2"], n_salts, "_salt")
        j = (
            pairs.join(
                _salt_replicate(
                    bi.withColumnRenamed("cnt", "_c2"), n_salts, "_salt"
                ),
                ["w1", "w2", "_salt"],
                "left",
            )
            .join(_salt_replicate(ctx, n_salts, "_salt"), ["w1", "_salt"], "left")
            .join(
                _salt_replicate(cont, n_salts, "_salt"), ["w2", "_salt"], "left"
            )
        )
    else:
        j = (
            pairs.join(
                _bc(bi.withColumnRenamed("cnt", "_c2")),
                ["w1", "w2"],
                "left",
            )
            .join(_bc(ctx), ["w1"], "left")
            .join(_bc(cont), ["w2"], "left")
        )
    # Per-term double divisions, NEVER the cross-multiplied int64 form
    # (max(c2·1000−D,0)·scale and 1000·c1·scale overflow int64 for a
    # realistically sized model — c1 ~ 6e7 for a hot context times
    # scale ~ 3e8 bigram types exceeds 2^63). Each factor here stays
    # bounded by 1000 × (corpus bigram tokens) — exact int64 with
    # ~400x headroom even at petatoken scale — and the probability is
    # three IEEE ops in a PINNED order (t1 + (t2 · pc)), which any
    # engine reproduces bit-for-bit; the x89 oracle mirrors the same
    # tree shape. Built as parsed strings (round 16 — the _pair_rows
    # construction-cost batching; identical expression trees, the
    # oracle pins the values).
    t1 = (
        f"CAST(greatest(coalesce(_c2, 0) * 1000 - {dm}, 0) AS DOUBLE)"
        " / CAST(1000 * _c1 AS DOUBLE)"
    )
    t2 = f"CAST({dm} * _n1fwd AS DOUBLE) / CAST(1000 * _c1 AS DOUBLE)"
    pc = f"CAST(coalesce(_n1bwd, 0) + 1 AS DOUBLE) / CAST({scale} AS DOUBLE)"
    p = f"CASE WHEN _c1 IS NOT NULL THEN ({t1}) + (({t2}) * ({pc})) ELSE {pc} END"
    per_doc = (
        j.selectExpr(
            "_id",
            "CAST(w1 IS NOT NULL AS BIGINT) AS _is_bg",
            "CASE WHEN w1 IS NOT NULL THEN "
            f"CAST(round(ln({p}), 6) AS DECIMAL(18,6)) END AS _q",
        )
        .groupBy("_id")
        .agg(F.sum("_is_bg").alias("n_bigrams"), F.sum("_q").alias("_total"))
    )
    avg_nll = (
        "CASE WHEN n_bigrams > 0 THEN "
        "-(CAST(_total AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) END"
    )
    return per_doc.selectExpr(
        f"_id AS `{id_col}`",
        "n_bigrams",
        f"{avg_nll} AS avg_neg_logprob",
        f"round(exp({avg_nll}), 6) AS ppl",
    )


def _trigrams(t):
    """Consecutive-token triple array — the 3-gram sibling of
    ``_bigrams`` (same zip_with-over-slices shape, same reason: no
    per-element re-evaluation of the tokenizer)."""
    z = F.arrays_zip(
        F.slice(t, 1, F.size(t) - 2).alias("w1"),
        F.slice(t, 2, F.size(t) - 2).alias("w2"),
        F.slice(t, 3, F.size(t) - 2).alias("w3"),
    )
    return F.when(F.size(t) >= 3, z).otherwise(
        F.array().cast("array<struct<w1:string,w2:string,w3:string>>")
    )


def trigram_lm_train(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Train the 3-gram count model stupid-backoff scoring consumes:
    one row per observed n-gram — trigram rows carry all three words,
    bigram rows have ``w3 = NULL``, unigram rows ``w2 = w3 = NULL``.
    ONE scan, ONE tokenize, one explode + ONE groupBy (single
    fixed-width shuffle); model size is bounded by the corpus's
    distinct n-grams, not its row count. (Round-15 optimization: the
    earlier three-branch union re-scanned and re-tokenized the corpus
    once per n-gram order; all three gram arrays are now built from
    one materialized token array and exploded together — same
    multiset of rows, identical counts.)
    """
    tok = docs.select(_toks(text_col).alias("_t"))
    t = F.col("_t")
    n = F.size(t)
    nulls = F.array_repeat(F.lit(None).cast("string"), n)
    unis = F.arrays_zip(t.alias("w1"), nulls.alias("w2"), nulls.alias("w3"))
    bis = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(t, 1, n - 1).alias("w1"),
            F.slice(t, 2, n - 1).alias("w2"),
            F.slice(nulls, 1, n - 1).alias("w3"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string,w3:string>>"))
    return (
        tok.select(
            F.explode(F.concat(unis, bis, _trigrams(t))).alias("g")
        )
        .select("g.w1", "g.w2", "g.w3")
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("cnt"))
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
    n_salts: int = 16,
    salt_threshold: float = 0.5,
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

    Plan: the model materializes once (localCheckpoint, same caveat
    as ``perplexity_score``), its derived tables broadcast under the
    shared auto-pick policy (``_resolve_broadcast``; the model row
    count rides the same scalar agg that derives ``N``, so the probe
    is free), and the corpus is scanned once (trigram explode + NULL
    sentinel, map-side). A trigram model is corpus-bounded — Brants-
    scale models are exactly what this smoothing exists for — so the
    over-bound case warns and falls back to shuffle joins instead of
    OOMing executors.

    The shuffle fallback is SKEW-GUARDED like the other two scorers:
    the unigram-count entropy rides the same scalar agg as ``N`` (no
    extra pass — the unigram keys are the most concentrated of the
    five join keys, so they are the signal), and below
    ``salt_threshold`` all five score joins are salted over
    ``n_salts`` deterministic salts (corpus side scattered by
    xxhash64, model sides replicated) — row-identical output with hot
    keys spread over ``n_salts`` reducers.
    """
    if not isinstance(alpha_milli, int) or not 0 < alpha_milli < 1000:
        raise ValueError(
            "stupid_backoff_score: alpha_milli must be an int in (0, 1000),"
            f" got {alpha_milli!r}"
        )
    _validate_salt_knobs("stupid_backoff_score", n_salts, salt_threshold)
    if not model_materialized:
        lm = lm.localCheckpoint(eager=True)
    tri = lm.filter(F.col("w3").isNotNull()).select(
        F.col("w1").alias("_t_w1"),
        F.col("w2").alias("_t_w2"),
        F.col("w3").alias("_t_w3"),
        F.col("cnt").alias("_c123"),
    )
    big = lm.filter(F.col("w3").isNull() & F.col("w2").isNotNull()).select(
        F.col("w1").alias("_b_w1"),
        F.col("w2").alias("_b_w2"),
        F.col("cnt").alias("_b_cnt"),
    )
    uni = lm.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("_u_w1"), F.col("cnt").alias("_u_cnt")
    )
    # ONE bounded agg yields the unigram total N (the scoring floor),
    # the model row count (the auto-broadcast size signal), AND the
    # unigram-count entropy statistics (the skew pre-flight for the
    # shuffle fallback — unigram keys are the most concentrated of the
    # five join keys)
    n_tokens, n_model, u_keys, u_nlogn = (
        model_stats if model_stats is not None else _sb_model_stats(lm)
    )
    n_tokens = int(n_tokens or 0)
    if n_tokens == 0:
        raise ValueError("stupid_backoff_score: empty model")
    _broadcasting = _resolve_broadcast(
        "stupid_backoff_score", int(n_model), broadcast_model, broadcast_max_rows
    )
    _bc = F.broadcast if _broadcasting else (lambda df: df)
    _ne = _model_norm_entropy(n_tokens, u_keys, u_nlogn)
    _salted = not _broadcasting and _ne is not None and _ne < salt_threshold
    if _salted:
        _warn_salting("stupid_backoff_score", salt_threshold, n_salts)

    triples = _triple_rows(docs, id_col, text_col)
    if _salted:
        # one deterministic salt per corpus triple; each model table is
        # replicated across all n_salts values under its own salt
        # column, and every join condition gains a salt equality — each
        # triple meets exactly ONE replica of its matching row, so the
        # output is row-identical to the unsalted left joins while the
        # Zipf-hot unigram/bigram keys land on n_salts reducers.
        triples = _salt_probe(
            triples, ["_id", "w1", "w2", "w3"], n_salts, "_ss"
        )
        tri = _salt_replicate(tri, n_salts, "_ts")
        big = _salt_replicate(big, n_salts, "_gs")
        uni = _salt_replicate(uni, n_salts, "_ns")
        _tri_on = F.col("_ss") == F.col("_ts")
        _b12_on = F.col("_ss") == F.col("_b12s")
        _b23_on = F.col("_ss") == F.col("_b23s")
        _u2_on = F.col("_ss") == F.col("_u2s")
        _u3_on = F.col("_ss") == F.col("_u3s")
    else:
        _tri_on = _b12_on = _b23_on = _u2_on = _u3_on = F.lit(True)
        big = big.withColumn("_gs", F.lit(0))
        uni = uni.withColumn("_ns", F.lit(0))
    j = (
        triples.join(
            _bc(tri),
            (F.col("w1") == F.col("_t_w1"))
            & (F.col("w2") == F.col("_t_w2"))
            & (F.col("w3") == F.col("_t_w3"))
            & _tri_on,
            "left",
        )
        .join(
            _bc(
                big.withColumnRenamed("_b_cnt", "_c12").withColumnRenamed(
                    "_gs", "_b12s"
                )
            ),
            (F.col("w1") == F.col("_b_w1"))
            & (F.col("w2") == F.col("_b_w2"))
            & _b12_on,
            "left",
        )
        .drop("_b_w1", "_b_w2")
        .join(
            _bc(
                big.select(
                    F.col("_b_w1").alias("_b2_w1"),
                    F.col("_b_w2").alias("_b2_w2"),
                    F.col("_b_cnt").alias("_c23"),
                    F.col("_gs").alias("_b23s"),
                )
            ),
            (F.col("w2") == F.col("_b2_w1"))
            & (F.col("w3") == F.col("_b2_w2"))
            & _b23_on,
            "left",
        )
        .join(
            _bc(
                uni.select(
                    F.col("_u_w1").alias("_u2_w1"),
                    F.col("_u_cnt").alias("_c2"),
                    F.col("_ns").alias("_u2s"),
                )
            ),
            (F.col("w2") == F.col("_u2_w1")) & _u2_on,
            "left",
        )
        .join(
            _bc(
                uni.select(
                    F.col("_u_w1").alias("_u3_w1"),
                    F.col("_u_cnt").alias("_c3"),
                    F.col("_ns").alias("_u3s"),
                )
            ),
            (F.col("w3") == F.col("_u3_w1")) & _u3_on,
            "left",
        )
    )
    # scoring arithmetic as parsed strings (round 16 — the _pair_rows
    # construction-cost batching; identical expression trees, x93's
    # oracle pins the values). ``a`` is the same Divide-of-casts tree
    # the Column form built; constant folding collapses both alike.
    a = f"(CAST({int(alpha_milli)} AS DOUBLE) / CAST(1000 AS DOUBLE))"
    nt = int(n_tokens)
    s = (
        "CASE WHEN _c123 IS NOT NULL THEN"
        " CAST(_c123 AS DOUBLE) / CAST(_c12 AS DOUBLE)"
        f" WHEN _c23 IS NOT NULL THEN {a} *"
        " (CAST(_c23 AS DOUBLE) / CAST(_c2 AS DOUBLE))"
        f" WHEN _c3 IS NOT NULL THEN ({a} * {a}) *"
        f" (CAST(_c3 AS DOUBLE) / CAST({nt} AS DOUBLE))"
        f" ELSE ({a} * {a}) * (CAST(1 AS DOUBLE) / CAST({nt} AS DOUBLE)) END"
    )
    per_doc = (
        j.selectExpr(
            "_id",
            "CAST(w1 IS NOT NULL AS BIGINT) AS _is_tg",
            "CASE WHEN w1 IS NOT NULL THEN "
            f"CAST(round(ln({s}), 6) AS DECIMAL(18,6)) END AS _q",
        )
        .groupBy("_id")
        .agg(F.sum("_is_tg").alias("n_trigrams"), F.sum("_q").alias("_total"))
    )
    avg_nls = (
        "CASE WHEN n_trigrams > 0 THEN "
        "-(CAST(_total AS DOUBLE) / CAST(n_trigrams AS DOUBLE)) END"
    )
    return per_doc.selectExpr(
        f"_id AS `{id_col}`",
        "n_trigrams",
        f"{avg_nls} AS avg_neg_logscore",
        f"round(exp({avg_nls}), 6) AS sppl",
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
    from pyspark.sql import Window

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


def jelinek_mercer_score(
    docs: DataFrame,
    lm: DataFrame,
    lam: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool | None = None,
    broadcast_max_rows: int = 8_000_000,
    model_materialized: bool = False,
    n_salts: int = 16,
    salt_threshold: float = 0.5,
    model_stats=None,
    pairs: DataFrame | None = None,
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
    ulp-identical.

    Shares the scorers' size-guarded auto-broadcast policy
    (``_resolve_broadcast``) AND their skew pre-flight: when the model
    has to shuffle (over-bound) and its bigram distribution is
    concentrated (normalized entropy below ``salt_threshold``), all
    three score joins are salted over ``n_salts`` deterministic salts
    (probe rows carry one salt, model tables replicate across all) —
    row-identical output, Zipf-hot keys spread over ``n_salts``
    reducers.
    """
    if not 0.0 < lam < 1.0:
        raise ValueError(
            f"jelinek_mercer_score: lam must be in (0, 1), got {lam!r}"
        )
    _validate_salt_knobs("jelinek_mercer_score", n_salts, salt_threshold)
    if not model_materialized:
        lm = lm.localCheckpoint(eager=True)
    uni = lm.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("_c_w1"), F.col("cnt").alias("_c1")
    )
    # the SAME unigram rows, re-keyed on w2 for the backoff leg
    uni2 = lm.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("_u_w2"), F.col("cnt").alias("_cu")
    )
    bi = lm.filter(F.col("w2").isNotNull()).select(
        F.col("w1").alias("_b_w1"),
        F.col("w2").alias("_b_w2"),
        F.col("cnt").alias("_c2"),
    )
    v, n_model, t_tokens, b_tokens, b_keys, b_nlogn = (
        model_stats if model_stats is not None else _jm_model_stats(lm)
    )
    broadcast_model = _resolve_broadcast(
        "jelinek_mercer_score", n_model, broadcast_model, broadcast_max_rows
    )
    if broadcast_model:
        uni, uni2, bi = F.broadcast(uni), F.broadcast(uni2), F.broadcast(bi)
    _ne = _model_norm_entropy(b_tokens, b_keys, b_nlogn)
    _salted = not broadcast_model and _ne is not None and _ne < salt_threshold

    # ``pairs`` injection: see perplexity_score (same contract)
    if pairs is None:
        pairs = _pair_rows(docs, id_col, text_col)
    if _salted:
        # same construction as the other three scorers (see
        # _salt_probe/_salt_replicate): one deterministic salt per
        # corpus pair, model tables replicated across all salts, every
        # join gains a salt equality — row-identical to the unsalted
        # left joins, hot keys on n_salts reducers.
        _warn_salting("jelinek_mercer_score", salt_threshold, n_salts)
        pairs = _salt_probe(pairs, ["_id", "w1", "w2"], n_salts, "_ps")
        bi = _salt_replicate(bi, n_salts, "_bs")
        uni = _salt_replicate(uni, n_salts, "_us")
        uni2 = _salt_replicate(uni2, n_salts, "_u2s")
        joined = (
            pairs.join(
                bi,
                (pairs.w1 == bi._b_w1)
                & (pairs.w2 == bi._b_w2)
                & (pairs._ps == bi._bs),
                "left",
            )
            .join(
                uni,
                (pairs.w1 == uni._c_w1) & (pairs._ps == uni._us),
                "left",
            )
            .join(
                uni2,
                (pairs.w2 == uni2._u_w2) & (pairs._ps == uni2._u2s),
                "left",
            )
        )
    else:
        joined = (
            pairs.join(
                bi, (pairs.w1 == bi._b_w1) & (pairs.w2 == bi._b_w2), "left"
            )
            .join(uni, pairs.w1 == uni._c_w1, "left")
            .join(uni2, pairs.w2 == uni2._u_w2, "left")
        )
    # scoring arithmetic as parsed strings (round 16 — the _pair_rows
    # construction-cost batching; identical trees, x110's oracle pins
    # the values). Double literals use the `...D` suffix so they parse
    # AS DOUBLE with the exact repr round-trip of the F.lit floats
    # they replace (a bare SQL decimal literal would parse DECIMAL).
    denom = float(int(t_tokens or 0) + int(v))
    ml = (
        "CASE WHEN coalesce(_c1, 0) > 0 THEN"
        " CAST(coalesce(_c2, 0) AS DOUBLE) / CAST(_c1 AS DOUBLE)"
        " ELSE 0.0D END"
    )
    backoff = f"CAST(coalesce(_cu, 0) + 1 AS DOUBLE) / {denom!r}D"
    p = f"{float(lam)!r}D * ({ml}) + {1.0 - float(lam)!r}D * ({backoff})"
    per_doc = (
        joined.selectExpr(
            "_id",
            "CAST(w1 IS NOT NULL AS BIGINT) AS _is_bg",
            "CASE WHEN w1 IS NOT NULL THEN "
            f"CAST(round(ln({p}), 6) AS DECIMAL(18,6)) END AS _q",
        )
        .groupBy("_id")
        .agg(F.sum("_is_bg").alias("n_bigrams"), F.sum("_q").alias("_total"))
    )
    avg_nll = (
        "CASE WHEN n_bigrams > 0 THEN "
        "-(CAST(_total AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) END"
    )
    return per_doc.selectExpr(
        f"_id AS `{id_col}`",
        "n_bigrams",
        f"{avg_nll} AS avg_neg_logprob",
        f"round(exp({avg_nll}), 6) AS ppl",
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
    corpus pass (round 16, §2.4 — doremi's fused scoring half).

    ``model`` is the fused count table ``(w1, w2, cnt, cnt_t)``:
    ``cnt`` the base-corpus counts (= ``bigram_lm_train(docs)``),
    ``cnt_t`` the target-subset counts (a gram unseen in the target
    has ``cnt_t = 0`` — exactly absent from the target model). The
    corpus is exploded into bigram pairs ONCE and left-joined against
    both models' broadcast uni/bi tables in the same map-side stage;
    one groupBy(_id) emits both documents' sums. Each model's
    per-pair probability/ln/round/DECIMAL tree is byte-for-byte the
    expression ``perplexity_score`` builds (alpha=1), so per-doc
    ``avg_neg_logprob`` values are bit-identical to two independent
    scoring passes — the x142 DuckDB oracle and the pred-vs-DataFrame
    equivalence test pin it. Returns ``(id_col, _ab, _ar)``; docs
    with no bigram evidence carry NULL in both (the sentinel row
    keeps them in the output, as in ``perplexity_score``)."""
    uni_b = model.filter("w2 IS NULL").select(
        F.col("w1").alias("_cb_w1"), F.col("cnt").alias("_c1b")
    )
    bi_b = model.filter("w2 IS NOT NULL").select(
        F.col("w1").alias("_bb_w1"),
        F.col("w2").alias("_bb_w2"),
        F.col("cnt").alias("_c2b"),
    )
    uni_r = model.filter("w2 IS NULL AND cnt_t > 0").select(
        F.col("w1").alias("_cr_w1"), F.col("cnt_t").alias("_c1r")
    )
    bi_r = model.filter("w2 IS NOT NULL AND cnt_t > 0").select(
        F.col("w1").alias("_br_w1"),
        F.col("w2").alias("_br_w2"),
        F.col("cnt_t").alias("_c2r"),
    )
    pairs = _pair_rows(docs, id_col, text_col)
    j = (
        pairs.join(
            F.broadcast(bi_b),
            (pairs.w1 == F.col("_bb_w1")) & (pairs.w2 == F.col("_bb_w2")),
            "left",
        )
        .join(F.broadcast(uni_b), pairs.w1 == F.col("_cb_w1"), "left")
        .join(
            F.broadcast(bi_r),
            (pairs.w1 == F.col("_br_w1")) & (pairs.w2 == F.col("_br_w2")),
            "left",
        )
        .join(F.broadcast(uni_r), pairs.w1 == F.col("_cr_w1"), "left")
    )
    pb = (
        "(CAST(coalesce(_c2b, 0) + 1 AS DOUBLE)"
        f" / CAST(coalesce(_c1b, 0) + 1 * {int(v_b)} AS DOUBLE))"
    )
    pr = (
        "(CAST(coalesce(_c2r, 0) + 1 AS DOUBLE)"
        f" / CAST(coalesce(_c1r, 0) + 1 * {int(v_r)} AS DOUBLE))"
    )
    per_doc = (
        j.selectExpr(
            "_id",
            "CAST(w1 IS NOT NULL AS BIGINT) AS _is_bg",
            "CASE WHEN w1 IS NOT NULL THEN "
            f"CAST(round(ln({pb}), 6) AS DECIMAL(18,6)) END AS _qb",
            "CASE WHEN w1 IS NOT NULL THEN "
            f"CAST(round(ln({pr}), 6) AS DECIMAL(18,6)) END AS _qr",
        )
        .groupBy("_id")
        .agg(
            F.sum("_is_bg").alias("n_bigrams"),
            F.sum("_qb").alias("_tb"),
            F.sum("_qr").alias("_tr"),
        )
    )
    ab = (
        "CASE WHEN n_bigrams > 0 THEN "
        "-(CAST(_tb AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) END"
    )
    ar = (
        "CASE WHEN n_bigrams > 0 THEN "
        "-(CAST(_tr AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) END"
    )
    return per_doc.selectExpr(
        f"_id AS `{id_col}`", f"{ab} AS _ab", f"{ar} AS _ar"
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
    runs at 100 TB; the per-domain aggregate is one fixed-width
    shuffle on the domain key; everything after it is a few-row
    window. Reference scope: beyond-reference (training-pipeline
    extension).

    ``target_pred`` (round 16, §2.4 — the dsir_score/x131 pattern):
    when the target is a predicate-selected subset of ``docs``, pass
    the predicate instead of a DataFrame and the whole update fuses
    to TWO corpus-wide passes (the algorithmic floor: count grams
    once, score once) from the generic path's four. ONE
    explode+groupBy counts BOTH corpora (``count`` / ``count_if`` —
    the token_drift_split trick; a gram with ``cnt_t = 0`` is exactly
    a gram absent from the target model, and both count columns are
    exact int64 either way), checkpointed once (vocab-bounded, the
    same bound as each scorer's own model checkpoint); ONE corpus
    pass scores both models (:func:`_addk_scores_pair`, per-model
    expression trees identical to ``perplexity_score``'s); and the
    per-document join against ``domain`` runs once instead of twice.
    When the two models together exceed ``broadcast_max_rows`` (the
    fused pass broadcasts both at once), scoring falls back to the
    two independent passes — each broadcasts its own model while it
    fits the bound alone, else takes its own skew-salted shuffle
    join — while keeping the fused single-pass training.
    Values are bit-identical to the generic path by construction —
    pinned by the x142 DuckDB oracle and the pred-vs-DataFrame
    equivalence test.
    """
    if (target is None) == (target_pred is None):
        raise ValueError(
            "doremi_domain_weights: pass exactly one of target (a "
            "separate corpus) or target_pred (a predicate selecting "
            "the target subset of docs)"
        )
    if target_pred is None:
        base_lm = bigram_lm_train(docs, text_col=text_col)
        ref_lm = bigram_lm_train(target, text_col=text_col)
        sb = perplexity_score(docs, base_lm, text_col=text_col).select(
            "doc_id", F.col("avg_neg_logprob").alias("_ab")
        )
        sr = perplexity_score(docs, ref_lm, text_col=text_col).select(
            "doc_id", F.col("avg_neg_logprob").alias("_ar")
        )
        joined = (
            docs.select("doc_id", F.col(domain_col).alias("domain"))
            .join(sb, "doc_id")
            .join(sr, "doc_id")
            .filter(F.col("_ab").isNotNull() & F.col("_ar").isNotNull())
        )
    else:
        pred = (
            F.expr(target_pred)
            if isinstance(target_pred, str)
            else target_pred
        )
        # ONE explode + ONE groupBy trains BOTH models. Row multisets
        # are exactly bigram_lm_train's: base counts every gram of
        # every doc; target counts only rows whose flag is true (a
        # NULL predicate counts like filter() — not at all).
        tok = docs.select(
            pred.cast("boolean").alias("_tgt"), _toks(text_col).alias("_t")
        )
        nulls = F.array_repeat(F.lit(None).cast("string"), F.size("_t"))
        unis = F.arrays_zip(F.col("_t").alias("w1"), nulls.alias("w2"))
        grams = tok.select(
            "_tgt",
            F.explode(F.concat(unis, _bigrams(F.col("_t")))).alias("g"),
        ).select("_tgt", "g.w1", "g.w2")
        model = (
            grams.groupBy("w1", "w2")
            .agg(
                F.count("*").alias("cnt"),
                F.count(F.when(F.col("_tgt"), 1)).alias("cnt_t"),
            )
            .localCheckpoint(eager=True)
        )
        base_lm = model.select("w1", "w2", "cnt")
        ref_lm = model.filter("cnt_t > 0").select(
            "w1", "w2", F.col("cnt_t").alias("cnt")
        )
        stats_b = _addk_model_stats(base_lm)
        stats_r = _addk_model_stats(ref_lm)
        # the fused pass broadcasts BOTH models in one stage, so the
        # bound applies to their combined rows; over it, each model
        # is gated (and warned about) alone by its own
        # perplexity_score pass below
        if int(stats_b["n"]) + int(stats_r["n"]) <= broadcast_max_rows:
            scored = _addk_scores_pair(
                docs,
                model,
                int(stats_b["v"]),
                int(stats_r["v"]),
                text_col,
            )
        else:
            sb = perplexity_score(
                docs,
                base_lm,
                text_col=text_col,
                model_materialized=True,
                model_stats=stats_b,
                broadcast_max_rows=broadcast_max_rows,
            ).select("doc_id", F.col("avg_neg_logprob").alias("_ab"))
            sr = perplexity_score(
                docs,
                ref_lm,
                text_col=text_col,
                model_materialized=True,
                model_stats=stats_r,
                broadcast_max_rows=broadcast_max_rows,
            ).select("doc_id", F.col("avg_neg_logprob").alias("_ar"))
            scored = sb.join(sr, "doc_id")
        joined = (
            docs.select("doc_id", F.col(domain_col).alias("domain"))
            .join(scored, "doc_id")
            .filter(F.col("_ab").isNotNull() & F.col("_ar").isNotNull())
        )
    agg = joined.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.round("_ab", 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("_sb"),
        F.sum(F.round("_ar", 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("_sr"),
    )
    w = agg.select(
        "domain",
        "n_docs",
        F.round(
            F.col("_sb") / F.col("n_docs") - F.col("_sr") / F.col("n_docs"), 6
        ).alias("excess_anlp"),
    ).withColumn(
        "weight",
        F.round(F.exp(F.lit(float(eta)) * F.col("excess_anlp")), 6),
    )
    from pyspark.sql import Window

    tot = F.sum(F.col("weight").cast("decimal(18,6)")).over(
        Window.partitionBy()
    )
    return w.select(
        "domain",
        "n_docs",
        "excess_anlp",
        "weight",
        F.round(F.col("weight") / tot.cast("double"), 6).alias(
            "mixture_share"
        ),
    )


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
    of the single-round operator; the ONLY values that cross the
    driver boundary between rounds are the 6-decimal shares (read
    back exactly via ``Decimal(str(·))``) and the integer ``n_d``
    (an exact decimal×int floor), so a DuckDB oracle can replay all
    T rounds as chained CTEs. Per-round results are
    ``localCheckpoint``-ed (bounded: one row per domain), so the
    returned union never re-executes an LM chain.

    Scale: per round, one partitioned-window rank over the corpus
    (computed ONCE, checkpointed, reused every round), two
    auto-broadcast map-only scoring scans, and one fixed-width domain
    shuffle — T rounds cost T× the single-round operator's scoring,
    nothing super-linear. Reference scope: beyond-reference
    (training-pipeline extension)."""
    from decimal import Decimal, ROUND_HALF_UP

    from pyspark.sql import Window

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
        w = (
            joined.groupBy("domain")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.round("_ab", 6).cast("decimal(18,6)"))
                .cast("double")
                .alias("_sb"),
                F.sum(F.round("_ar", 6).cast("decimal(18,6)"))
                .cast("double")
                .alias("_sr"),
            )
            .join(F.broadcast(prevdf), "domain")
            .select(
                "domain",
                "n_selected",
                "n_docs",
                F.round(
                    F.col("_sb") / F.col("n_docs")
                    - F.col("_sr") / F.col("n_docs"),
                    6,
                ).alias("excess_anlp"),
                "_prev",
            )
            .withColumn(
                "weight",
                F.round(
                    F.col("_prev")
                    * F.exp(F.lit(float(eta)) * F.col("excess_anlp")),
                    6,
                ),
            )
        )
        tot = F.sum(F.col("weight").cast("decimal(18,6)")).over(
            Window.partitionBy()
        )
        w = w.select(
            F.lit(t).alias("round"),
            "domain",
            "n_selected",
            "n_docs",
            "excess_anlp",
            "weight",
            F.round(F.col("weight") / tot.cast("double"), 6).alias(
                "mixture_share"
            ),
        ).localCheckpoint(eager=True)
        # a domain whose docs are all too short to score never reaches
        # the agg — carry its share forward instead of KeyError-ing
        # the next round's budget (it still gets its >=1-doc floor)
        rows_t = w.collect()
        import math as _math

        if any(
            r["mixture_share"] is None or _math.isnan(r["mixture_share"])
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
