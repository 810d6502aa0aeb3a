"""Round-16 second-pass probes: measure-first evidence (guide §1) for
four candidate optimizations before touching the engine.

  A. x142 doremi: ONE explode+groupBy trains BOTH models (count_if,
     vocab-bounded checkpoint) and ONE corpus pass scores both —
     4 corpus-wide passes -> 2, one doc_id join instead of two.
  B. x89: bigram-only train (KN uses only the model's bigram rows;
     the unigram half of the train explode/agg/checkpoint is waste).
  C. x84: train and score share ONE corpus explode via a checkpointed
     (_id, w1, w2) gram table (the x131 trade: executor-local
     materialization vs a second scan+tokenize+explode).
  D. x95: derive n/d from the bounded histogram instead of a
     corpus-wide stats agg over the scored checkpoint.

Usage: python plans/r16/probe_r16b.py check|time
"""
from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
from csvb_spark.session import get_session  # noqa: E402
from csvb_spark.operators import lm as LM  # noqa: E402
from csvb_spark.operators.lm import (  # noqa: E402
    _gram_rows,
    _toks_sql,
    _zip_sql,
    lm_model_stats,
)

SF = "/root/testdata/sf0.1"


def docs_df(spark, sf=SF):
    return spark.read.parquet(f"{sf}/documents.parquet")


# --------------------------------------------------------------- A: x142
def x142_cur(spark, sf=SF):
    d = docs_df(spark, sf)
    return LM.doremi_domain_weights(d, d.filter("doc_id % 7 = 0"))


def x142_fused(spark, sf=SF):
    d = docs_df(spark, sf)
    # one explode trains both models
    tok = d.select(
        F.expr("doc_id % 7 = 0").cast("boolean").alias("_tgt"),
        F.expr(_toks_sql("text")).alias("_t"),
    )
    nulls = F.array_repeat(F.lit(None).cast("string"), F.size("_t"))
    unis = F.arrays_zip(F.col("_t").alias("w1"), nulls.alias("w2"))
    grams = tok.select(
        "_tgt", F.explode(F.concat(unis, F.expr(_zip_sql(2, 2)))).alias("g")
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
    vb = int(lm_model_stats(base_lm, "addk")["v"])
    vr = int(lm_model_stats(ref_lm, "addk")["v"])
    # one corpus pass scores both models
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
    pairs = _gram_rows(d, 2, "text", "doc_id")
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
        f" / CAST(coalesce(_c1b, 0) + 1 * {vb} AS DOUBLE))"
    )
    pr = (
        "(CAST(coalesce(_c2r, 0) + 1 AS DOUBLE)"
        f" / CAST(coalesce(_c1r, 0) + 1 * {vr} AS DOUBLE))"
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
    scored = per_doc.selectExpr(
        "_id AS doc_id", f"{ab} AS _ab", f"{ar} AS _ar"
    )
    joined = (
        d.select("doc_id", F.col("source").alias("domain"))
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
        "weight", F.round(F.exp(F.lit(1.0) * F.col("excess_anlp")), 6)
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


# --------------------------------------------------------------- B: x89
def x89_cur(spark, sf=SF):
    d = docs_df(spark, sf)
    return LM.kneser_ney_score(
        d, LM.bigram_lm_train(d.filter(F.col("doc_id") % 2 == 0))
    )


def x89_btrim(spark, sf=SF):
    d = docs_df(spark, sf)
    tok = d.filter(F.col("doc_id") % 2 == 0).select(F.expr(_toks_sql("text")).alias("_t"))
    bi_train = (
        tok.select(F.explode(F.expr(_zip_sql(2, 2))).alias("g"))
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    return LM.kneser_ney_score(d, bi_train)


# --------------------------------------------------------------- C: x84
def x84_fused(spark, sf=SF):
    d = docs_df(spark, sf)
    tok = d.select(F.col("doc_id").alias("_id"), F.expr(_toks_sql("text")).alias("_t"))
    nulls = F.array_repeat(F.lit(None).cast("string"), F.size("_t"))
    unis = F.arrays_zip(F.col("_t").alias("w1"), nulls.alias("w2"))
    sent = F.array(
        F.struct(
            F.lit(None).cast("string").alias("w1"),
            F.lit(None).cast("string").alias("w2"),
        )
    )
    base = (
        tok.select(
            "_id",
            F.explode(F.concat(unis, F.expr(_zip_sql(2, 2)), sent)).alias("g"),
        )
        .select("_id", "g.w1", "g.w2")
        .localCheckpoint(eager=True)
    )
    lm = (
        base.filter("w1 IS NOT NULL")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    pairs = base.filter("w2 IS NOT NULL OR w1 IS NULL")
    # scoring tail of perplexity_score (broadcast path, alpha=1)
    stats = lm_model_stats(lm, "addk")
    v = int(stats["v"])
    uni = lm.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("_c_w1"), F.col("cnt").alias("_c1")
    )
    bi = lm.filter(F.col("w2").isNotNull()).select(
        F.col("w1").alias("_b_w1"),
        F.col("w2").alias("_b_w2"),
        F.col("cnt").alias("_c2"),
    )
    joined = pairs.join(
        F.broadcast(bi),
        (pairs.w1 == bi._b_w1) & (pairs.w2 == bi._b_w2),
        "left",
    ).join(F.broadcast(uni), pairs.w1 == uni._c_w1, "left")
    p = (
        "(CAST(coalesce(_c2, 0) + 1 AS DOUBLE)"
        f" / CAST(coalesce(_c1, 0) + 1 * {v} AS DOUBLE))"
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
    return per_doc.selectExpr(
        "_id AS doc_id",
        "n_bigrams",
        f"{avg_nll} AS avg_neg_logprob",
        f"round(exp({avg_nll}), 6) AS ppl",
    )


# --------------------------------------------------------------- D: x95
def x95_cur(spark, sf=SF):
    d = docs_df(spark, sf)
    return LM.perplexity_buckets(d, LM.bigram_lm_train(d))


def x95_preD(spark, sf=SF):
    """The pre-round-16b perplexity_buckets shape: corpus-wide stats
    agg over the scored checkpoint + histogram re-derived lazily in
    the assignment plan's broadcast build."""
    d = docs_df(spark, sf)
    lm = LM.bigram_lm_train(d)
    labels = ("head", "middle", "tail")
    n_buckets = 3
    scored = (
        LM.perplexity_score(d, lm)
        .select("doc_id", "ppl")
        .localCheckpoint(eager=True)
    )
    stats = scored.filter(F.col("ppl").isNotNull()).agg(
        F.count("*").alias("n"), F.count_distinct(F.col("ppl")).alias("d")
    ).first()
    n = int(stats["n"])
    label_arr = F.array(*[F.lit(s) for s in labels])
    hist = (
        scored.filter(F.col("ppl").isNotNull())
        .groupBy("ppl")
        .agg(F.count("*").alias("_n"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("ppl").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    buckets = hist.withColumn("_cum", F.sum("_n").over(w)).select(
        "ppl",
        F.expr(f"cast(((_cum - 1) * {n_buckets}) div {n} + 1 as int)").alias(
            "bucket"
        ),
    )
    return scored.join(F.broadcast(buckets), "ppl", "left").select(
        "doc_id",
        "ppl",
        "bucket",
        F.when(F.col("bucket").isNull(), F.lit("unscored"))
        .otherwise(F.element_at(label_arr, F.col("bucket")))
        .alias("cut"),
    )


def x95_statstrim(spark, sf=SF):
    d = docs_df(spark, sf)
    lm = LM.bigram_lm_train(d)
    labels = ("head", "middle", "tail")
    n_buckets = 3
    scored = (
        LM.perplexity_score(d, lm)
        .select("doc_id", "ppl")
        .localCheckpoint(eager=True)
    )
    hist = (
        scored.filter(F.col("ppl").isNotNull())
        .groupBy("ppl")
        .agg(F.count("*").alias("_n"))
        .localCheckpoint(eager=True)
    )
    st = hist.agg(
        F.count("*").alias("d"), F.coalesce(F.sum("_n"), F.lit(0)).alias("n")
    ).first()
    n, dd = int(st["n"]), int(st["d"])
    assert dd <= 1_000_000
    label_arr = F.array(*[F.lit(s) for s in labels])
    if n == 0:
        return scored.select(
            "doc_id",
            "ppl",
            F.lit(None).cast("int").alias("bucket"),
            F.lit("unscored").alias("cut"),
        )
    from pyspark.sql import Window

    w = Window.orderBy("ppl").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    buckets = hist.withColumn("_cum", F.sum("_n").over(w)).select(
        "ppl",
        F.expr(f"cast(((_cum - 1) * {n_buckets}) div {n} + 1 as int)").alias(
            "bucket"
        ),
    )
    return scored.join(F.broadcast(buckets), "ppl", "left").select(
        "doc_id",
        "ppl",
        "bucket",
        F.when(F.col("bucket").isNull(), F.lit("unscored"))
        .otherwise(F.element_at(label_arr, F.col("bucket")))
        .alias("cut"),
    )


# --- real-composition A/B pairs (post-implementation): "cur" = the
# pre-round shape reconstructed, "new" = the implemented composition
def x142_generic(spark, sf=SF):
    d = docs_df(spark, sf)
    return LM.doremi_domain_weights(d, d.filter("doc_id % 7 = 0"))


def x142_pred(spark, sf=SF):
    d = docs_df(spark, sf)
    return LM.doremi_domain_weights(d, target_pred="doc_id % 7 = 0")


PAIRS = {
    "x142": (x142_generic, x142_pred),
    "x89": (x89_cur, x89_btrim),
    "x95d": (x95_preD, x95_cur),
}


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "check"
    only = sys.argv[2:] or list(PAIRS)
    spark = get_session("probe_r16b")
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "check":
        for name in only:
            cur, new = PAIRS[name]
            a, b = cur(spark), new(spark)
            d1 = a.exceptAll(b).count()
            d2 = b.exceptAll(a).count()
            print(f"{name}: exceptAll cur-new={d1} new-cur={d2} "
                  f"rows cur={a.count()} new={b.count()}", flush=True)
    else:
        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        for name in only:
            cur, new = PAIRS[name]
            # warm both
            noop(cur(spark)); noop(new(spark))
            ts = {"cur": [], "new": []}
            for _ in range(3):
                for key, fn in (("cur", cur), ("new", new)):
                    t0 = time.perf_counter()
                    noop(fn(spark))
                    ts[key].append(round(time.perf_counter() - t0, 3))
            print(f"{name}: cur={ts['cur']} new={ts['new']}", flush=True)


if __name__ == "__main__":
    main()
