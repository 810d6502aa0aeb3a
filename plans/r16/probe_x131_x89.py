"""Probe (guide §1): where do x131_dsir_importance and
x89_kneser_ney_perplexity actually spend their time at sf0.1?

x131: times (a) the declared query as-is under the noop sink, (b) the
weight-build half alone, (c) a prototype FUSED plan that explodes the
corpus once into a checkpointed narrow (_id, _in_t, bucket) table and
derives both the bucket counts and the scoring join from it (§2.4 /
§8: decide + score over a lightweight proxy built in one pass).
Asserts the fused result is row-identical to the declared query.

x89: times the declared query, plus its model-side sub-jobs (ctx/cont
aggregations, stats agg) to see whether the residual the r15 verdict
flagged (item 7) is model-side fixed overhead or corpus-side work.

Run: python plans/r16/probe_x131_x89.py
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from csvb_spark.session import get_session
from pyspark.sql import functions as F

spark = get_session(app_name="probe_x131_x89", master="local[32]", shuffle_partitions=32)
sf_dir = "/root/testdata/sf0.1"
docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

from csvb_spark.operators import classify as C
from csvb_spark.operators import lm as L


def t(label, fn, n=3):
    best = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best.append(time.perf_counter() - t0)
    print(f"{label}: med={sorted(best)[len(best)//2]:.3f} min={min(best):.3f} max={max(best):.3f}")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


# ---------------- x131 ----------------
spark.sparkContext.setJobDescription("x131 declared (noop)")
t("x131 declared, noop sink", lambda: noop(
    C.dsir_score(docs, target_pred="doc_id % 7 = 0", n_buckets=65536)))

spark.sparkContext.setJobDescription("x131 weight build alone (noop)")
t("x131 weight build alone", lambda: noop(
    C.dsir_bucket_weights(docs, target_pred="doc_id % 7 = 0", n_buckets=65536)))

# feature explode volume
nfeats = C._dsir_feats(docs, "text", "doc_id", 65536, 7).count()
print(f"x131 exploded feature rows at sf0.1: {nfeats}")


def fused():
    pred = F.expr("doc_id % 7 = 0")
    feats = (
        C._dsir_feats(docs, "text", "doc_id", 65536, 7, flag=pred)
        .localCheckpoint(eager=True)
    )
    counts = (
        feats.groupBy("bucket")
        .agg(
            F.count("*").alias("_cr"),
            F.count(F.when(F.col("_in_t"), 1)).alias("_ct"),
        )
        .localCheckpoint(eager=True)
    )
    totals = counts.agg(
        (F.coalesce(F.sum("_cr"), F.lit(0)) + F.lit(65536)).cast("double").alias("_r_tot"),
        (F.coalesce(F.sum("_ct"), F.lit(0)) + F.lit(65536)).cast("double").alias("_t_tot"),
    )
    w = counts.crossJoin(F.broadcast(totals)).select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.round(
            F.log(
                ((F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(1)).cast("double") * F.col("_r_tot"))
                / ((F.coalesce(F.col("_cr"), F.lit(0)) + F.lit(1)).cast("double") * F.col("_t_tot"))
            ),
            6,
        ).cast("decimal(18,6)").alias("log_weight"),
    )
    return (
        feats.join(F.broadcast(w), "bucket", "left")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_features"),
            F.sum(F.coalesce(F.col("log_weight"), F.lit(0).cast("decimal(18,6)")))
            .cast("double")
            .alias("log_importance"),
        )
        .select(F.col("_id").alias("doc_id"), "n_features", "log_importance")
    )


spark.sparkContext.setJobDescription("x131 fused prototype (noop)")
t("x131 FUSED prototype, noop sink", lambda: noop(fused()))

# row-identity check
ref = C.dsir_score(docs, target_pred="doc_id % 7 = 0", n_buckets=65536)
diff = ref.exceptAll(fused()).count() + fused().exceptAll(ref).count()
print(f"x131 fused-vs-declared exceptAll diff rows: {diff}")

# ---------------- x89 ----------------
lm = L.bigram_lm_train(docs)

spark.sparkContext.setJobDescription("x89 declared (noop)")
t("x89 declared, noop sink", lambda: noop(
    L.kneser_ney_score(docs, L.bigram_lm_train(docs))))

# model-side pieces alone
def model_side():
    m = L.bigram_lm_train(docs).localCheckpoint(eager=True)
    bi = m.filter(F.col("w2").isNotNull()).select("w1", "w2", "cnt")
    ctx = bi.groupBy("w1").agg(F.sum("cnt").alias("_c1"), F.count("*").alias("_n1fwd"))
    cont = bi.groupBy("w2").agg(F.count("*").alias("_n1bwd"))
    L.lm_model_stats(m, "kn")
    noop(ctx)
    noop(cont)

spark.sparkContext.setJobDescription("x89 model side alone")
t("x89 model side (train ckpt + stats + ctx + cont)", model_side)

# train alone
spark.sparkContext.setJobDescription("x89 train alone")
t("x89 bigram_lm_train checkpoint alone",
  lambda: L.bigram_lm_train(docs).localCheckpoint(eager=True))

spark.stop()
