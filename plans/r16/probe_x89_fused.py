"""Probe (guide §1/§2.4): x89 model-side restructure prototype.

Current kneser_ney_score derives THREE model-side tables from the
checkpointed lm — bi (filter), ctx (groupBy w1), cont (groupBy w2) —
costing two separate Exchange+BroadcastExchange chains plus a
countDistinct stats job. Prototype: ONE unpivot (explode each bigram
row into a w1-tagged and a w2-tagged row) + ONE groupBy(word) agg
produces ctx and cont columns together, checkpointed once; the model
scalars (b, v, bn, bnlogn) come from a second tiny agg over that
vocab-bounded table instead of a countDistinct scan over the model.

Null-semantics equivalence with the current two-table form:
- join on w1: a word only ever seen as w2 now MATCHES with _c1 = NULL
  (sum over an empty fwd set) — the scoring CASE keys on
  `_c1 IS NOT NULL`, so it takes the same ELSE branch as today's
  join miss.
- join on w2: a word only ever seen as w1 now matches with
  _n1bwd = 0 — today's miss gives NULL, and the expression wraps it
  in coalesce(_n1bwd, 0) either way.
Scalars: b/v/bn are exact integer aggregates (order-independent);
bnlogn is a double whose summation order changes, but it only feeds
the salt-threshold plan decision, never an output value.

Run: python plans/r16/probe_x89_fused.py
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from csvb_spark.session import get_session
from pyspark.sql import functions as F

spark = get_session(app_name="probe_x89_fused", master="local[32]", shuffle_partitions=32)
sf_dir = "/root/testdata/sf0.1"
docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
train = docs.filter(F.col("doc_id") % 2 == 0)

from csvb_spark.operators import lm as L
from csvb_spark.operators.lm import _gram_rows


def t(label, fn, n=3):
    xs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        xs.append(time.perf_counter() - t0)
    print(f"{label}: med={sorted(xs)[len(xs)//2]:.3f} min={min(xs):.3f} max={max(xs):.3f}")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def kn_fused(docs, lm, discount_milli=750, id_col="doc_id", text_col="text"):
    lm = lm.localCheckpoint(eager=True)
    bi = lm.filter(F.col("w2").isNotNull()).select("w1", "w2", "cnt")
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
    stats = wordstats.agg(
        F.coalesce(F.sum("_n1fwd"), F.lit(0)).alias("b"),
        F.count(F.when(F.col("_n1bwd") > 0, 1)).alias("v"),
        F.sum("_c1").alias("bn"),
        F.sum("_bnlogn_part").alias("bnlogn"),
    ).first()
    b_types, v_cont = int(stats["b"]), int(stats["v"])
    scale = b_types + v_cont + 1
    dm = int(discount_milli)
    pairs = _gram_rows(docs, 2, text_col, id_col)
    ws = wordstats.select("word", "_c1", "_n1fwd", "_n1bwd")
    j = (
        pairs.join(F.broadcast(bi.withColumnRenamed("cnt", "_c2")), ["w1", "w2"], "left")
        .join(
            F.broadcast(ws.select(F.col("word").alias("w1"), "_c1", "_n1fwd")),
            ["w1"],
            "left",
        )
        .join(
            F.broadcast(ws.select(F.col("word").alias("w2"), "_n1bwd")),
            ["w2"],
            "left",
        )
    )
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


spark.sparkContext.setJobDescription("x89 declared (noop)")
t("x89 declared, noop sink", lambda: noop(
    L.kneser_ney_score(docs, L.bigram_lm_train(train))))

spark.sparkContext.setJobDescription("x89 fused wordstats (noop)")
t("x89 FUSED wordstats, noop sink", lambda: noop(
    kn_fused(docs, L.bigram_lm_train(train))))

# value identity (exact: decimals + doubles must compare equal)
ref = L.kneser_ney_score(docs, L.bigram_lm_train(train))
new = kn_fused(docs, L.bigram_lm_train(train))
d = ref.exceptAll(new).count() + new.exceptAll(ref).count()
print(f"x89 fused-vs-declared exceptAll diff rows: {d}")

spark.stop()
