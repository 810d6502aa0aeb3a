"""Probe (guide §1/§2.4): x86 token_drift one-scan prototype.

The declared x86 compares the even and odd doc_id halves of ONE
corpus, yet token_drift(old, new) counts each side in its own
explode+groupBy (two full parquet decodes — the doc_id%2 filter cannot
prune row groups) and full-outer joins the two count tables. When both
snapshots are predicate-selected subsets of one corpus, ONE explode
carrying two boolean flags + ONE groupBy(token) with count_if per side
yields the joined count table directly: one corpus decode, one
exchange, no join. Identity: a token only in the old half comes out
with n_new = 0, exactly the full-outer coalesce's value; counts are
exact int64 either way.

Run: python plans/r16/probe_x86_one_scan.py
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from csvb_spark.session import get_session
from pyspark.sql import functions as F

spark = get_session(app_name="probe_x86", master="local[32]", shuffle_partitions=32)
docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")

from csvb_spark.operators import lm as L
from csvb_spark.operators.lm import _toks_sql


def declared():
    return L.token_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        k=40,
    )


def one_scan(alpha=1, k=40):
    op = (F.col("doc_id") % 2 == 0).alias("_o")
    np_ = (F.col("doc_id") % 2 == 1).alias("_n")
    j = (
        docs.select(
            op.cast("boolean").alias("_o"),
            np_.cast("boolean").alias("_n"),
            F.expr(f"explode({_toks_sql('text')}) AS token"),
        )
        .filter(F.col("_o") | F.col("_n"))
        .groupBy("token")
        .agg(
            F.count(F.when(F.col("_o"), 1)).alias("n_old"),
            F.count(F.when(F.col("_n"), 1)).alias("n_new"),
        )
    )
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
        w.select("token", "n_old", "n_new", contrib.alias("contrib"))
        .orderBy(F.desc("contrib"), F.asc("token"))
        .limit(k)
    )


# identity first
a = declared().collect()
b = one_scan().collect()
print("identical rows:", [tuple(r) for r in a] == [tuple(r) for r in b], len(a), len(b))

# interleaved A/B under count() (bench protocol); contention cancels
declared().count(); one_scan().count()  # warm
res = {"declared": [], "one_scan": []}
for _ in range(4):
    for name, fn in (("declared", declared), ("one_scan", one_scan)):
        t0 = time.perf_counter(); fn().count()
        res[name].append(round(time.perf_counter() - t0, 3))
for kk, v in res.items():
    print(kk, "med2:", sorted(v)[1:3], v)
spark.stop()
