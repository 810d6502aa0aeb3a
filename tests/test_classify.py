"""Hashed linear classifier + random projection: path agreement,
plan shape (the formula paths must be shuffle-free), and edge cases.
Oracle equivalence vs DuckDB is covered by test_oracle.py (x64/x65)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csvb_spark.operators.classify import (
    feature_bucket,
    formula_weights_table,
    hashed_features,
    linear_classifier_score,
)
from csvb_spark.operators.similarity import rp_project, rp_signs


def _plan(df) -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
        "formatted"
    )
    return df._jdf.queryExecution().explainString(jmode)  # noqa: SLF001


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_classifier_formula_path_is_shuffle_free(spark, sf_dir):
    plan = _plan(linear_classifier_score(_docs(spark, sf_dir)))
    assert "Exchange" not in plan  # map-only: the 100 TB contract


def test_classifier_paths_agree(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    n_buckets = 1 << 18
    a = {tuple(r) for r in linear_classifier_score(docs).collect()}
    w = formula_weights_table(spark, n_buckets)
    b = {
        tuple(r)
        for r in linear_classifier_score(docs, weights=w).collect()
    }
    assert a == b


def test_classifier_sparse_model_missing_buckets_score_zero(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], ["doc_id", "text"]
    )
    # a model that covers NO bucket: every feature contributes 0
    empty = spark.createDataFrame([], "bucket bigint, weight int")
    out = linear_classifier_score(docs, weights=empty).collect()[0]
    assert out["margin"] == 0
    assert out["score"] == 0.0
    assert out["keep"] is False  # threshold is strict >
    # 3 unigrams + 2 bigrams
    assert out["n_features"] == 5


def test_classifier_threshold_flips_keep(spark):
    docs = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
    lo = linear_classifier_score(docs, threshold=-1.0).collect()[0]
    hi = linear_classifier_score(docs, threshold=1.0).collect()[0]
    assert lo["keep"] is True
    assert hi["keep"] is False


def test_feature_bucket_range(spark):
    buckets = (
        _docs(spark, "/root/testdata/sf0.001")
        .select(F.explode(hashed_features()).alias("f"))
        .select(feature_bucket(F.col("f"), 64).alias("b"))
        .agg(F.min("b"), F.max("b"))
        .collect()[0]
    )
    assert 0 <= buckets[0] and buckets[1] < 64


def test_rp_project_plan_is_map_only(spark, sf_dir):
    plan = _plan(rp_project(_embs(spark, sf_dir), out_dim=4))
    assert "Exchange" not in plan


def test_rp_project_shape_and_determinism(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    n = embs.count()
    out = rp_project(embs, out_dim=3)
    assert out.count() == 3 * n
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in rp_project(embs, out_dim=3).collect())
    assert a == b


def test_rp_signs_engine_neutral_recipe():
    # pin a few values so any refactor that changes the hash recipe
    # (and would silently break the DuckDB oracle) fails loudly
    signs = rp_signs(2, 4, seed=11)
    assert len(signs) == 2 and all(len(r) == 4 for r in signs)
    assert all(s in (-1, 1) for row in signs for s in row)
    assert signs == rp_signs(2, 4, seed=11)
    assert signs != rp_signs(2, 4, seed=12)  # seed varies the matrix


def test_rp_project_empty_input_raises(spark):
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        rp_project(empty)


def test_hard_negatives_exclude_same_label(spark, sf_dir):
    from csvb_spark.operators.similarity import hard_negatives

    embs = _embs(spark, sf_dir)
    probes = embs.filter(F.col("vec_id") < 10)
    out = hard_negatives(embs, probes, k=3)
    # no (probe, neighbor) pair shares a label
    joined = (
        out.join(
            embs.select(F.col("vec_id").alias("probe_id"), F.col("label").alias("pl")),
            "probe_id",
        )
        .join(embs.select("vec_id", F.col("label").alias("nl")), "vec_id")
    )
    assert joined.filter("pl = nl").count() == 0
    assert out.groupBy("probe_id").count().filter("count > 3").count() == 0


def test_hard_negatives_ivf_path_runs(spark, sf_dir):
    from csvb_spark.operators.similarity import hard_negatives, kmeans_train

    embs = _embs(spark, sf_dir)
    cents = kmeans_train(embs, k=4, iters=1)
    out = hard_negatives(
        embs, embs.filter(F.col("vec_id") < 5), k=3, centroids=cents, nprobe=2
    )
    rows = out.collect()
    assert rows and all(r["rnk"] <= 3 for r in rows)


def test_classifier_paths_agree_on_adversarial_unicode(spark):
    # quotes, backslashes, NULs, multi-byte, RTL, combining marks,
    # repeated separators — one batch, both scoring paths, exact match
    texts = [
        "",
        " ",
        "\t\n  mixed\tws\n",
        "quote ' quote '' end",
        "back\\slash \\\\ two",
        "nul\x00byte",
        "héllo wörld ÉÀÇ",
        "ÅÄÖ åäö ß ẞ",
        "עברית ערבית مرحبا",
        "日本語 テキスト 中文",
        "é combining å ring",
        "emoji 🙂 🚀 🎯 end",
        "ALL CAPS SHOUTING",
        "a" * 500,
        ("word " * 200).strip(),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    from csvb_spark.operators.classify import (
        formula_weights_table,
        linear_classifier_score,
    )

    n_buckets = 4096
    a = {
        tuple(r)
        for r in linear_classifier_score(docs, n_buckets=n_buckets).collect()
    }
    w = formula_weights_table(spark, n_buckets)
    b = {
        tuple(r)
        for r in linear_classifier_score(docs, n_buckets=n_buckets, weights=w).collect()
    }
    assert a == b
    # score stays within the weight-range bound |w| <= 500 → |score| <= 0.5
    assert all(abs(t[3]) <= 0.5 for t in a)


def test_corpus_diff_statuses(spark):
    from csvb_spark.operators.splits import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (5, "e"), (4, None)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        5: "added",
        4: "unchanged",  # NULL text on both sides: null-safe equal
    }


def test_cli_diff(spark, tmp_path, capsys):
    import pandas as pd

    from csvb_spark.cli import main

    old = str(tmp_path / "old.parquet")
    new = str(tmp_path / "new.parquet")
    pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}).to_parquet(old)
    pd.DataFrame({"doc_id": [1, 2, 4], "text": ["a", "B", "d"]}).to_parquet(new)
    rc = main(["diff", "--old", old, "--new", new])
    out = capsys.readouterr().out
    assert rc == 0
    for status in ("added", "changed", "removed", "unchanged"):
        assert status in out


def test_normalize_text_unicode_forms(spark):
    import unicodedata

    from csvb_spark.operators.text import normalize_text

    decomposed = "Café  du\tmonde"  # e + combining acute, run of ws
    ligature = "ﬁne ﬁle"  # U+FB01 ligature; NFC keeps, NFKC folds
    control = "a\x00b\x08c"
    docs = spark.createDataFrame(
        [(1, decomposed), (2, ligature), (3, control), (4, None)],
        "doc_id bigint, text string",
    )
    nfc = {r["doc_id"]: r for r in normalize_text(docs).collect()}
    assert nfc[1]["norm_text"] == "Café du monde"
    assert nfc[1]["changed"]
    assert nfc[2]["norm_text"] == ligature  # NFC preserves ligatures
    assert not nfc[2]["changed"]
    assert nfc[3]["norm_text"] == "abc" and nfc[3]["changed"]
    assert nfc[4]["norm_text"] is None and not nfc[4]["changed"]

    nfkc = {r["doc_id"]: r for r in normalize_text(docs, form="NFKC").collect()}
    assert nfkc[2]["norm_text"] == unicodedata.normalize(
        "NFKC", "ﬁne ﬁle"
    )
    assert nfkc[2]["changed"]

    with pytest.raises(ValueError, match="unknown form"):
        normalize_text(docs, form="NFX")


def test_normalize_text_then_dedup_catches_decomposed_dups(spark):
    # the motivating composition: byte-different, canonically-equal
    # texts dedup ONLY after normalization
    from csvb_spark.operators.dedup import exact_groups
    from csvb_spark.operators.text import normalize_text

    docs = spark.createDataFrame(
        [(1, "café"), (2, "café")], "doc_id bigint, text string"
    )
    raw_groups = exact_groups(docs)
    assert raw_groups.count() == 2  # byte-distinct: no dup found
    normed = normalize_text(docs).select(
        "doc_id", F.col("norm_text").alias("text")
    )
    assert exact_groups(normed).count() == 1  # one canonical group


def test_ivf_index_prunes_partitions_and_matches_knn_join(spark, sf_dir, tmp_path):
    from csvb_spark.operators.similarity import (
        ivf_index_topk,
        kmeans_train,
        knn_join,
        write_ivf_index,
    )

    embs = _embs(spark, sf_dir)
    cents = kmeans_train(embs, k=4, iters=1)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(embs, cents, path)

    probe = embs.filter(F.col("vec_id") == 7)
    got = ivf_index_topk(spark, path, cents, probe, k=5, nprobe=2)

    # partition pruning is visible at plan time: the cid filter lands
    # in PartitionFilters, not a post-scan Filter
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(jmode)  # noqa: SLF001
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters", 1)[1].split("\n")[0]

    # same codebook + same nprobe → identical candidates, scores, and
    # ranking as the in-memory IVF-pruned k-NN join
    want = {
        (r["vec_id"], r["cos_sim"])
        for r in knn_join(embs, probe, k=5, centroids=cents, nprobe=2).collect()
    }
    assert {(r["vec_id"], r["cos_sim"]) for r in got.collect()} == want

    import os

    cells = sorted(d for d in os.listdir(path) if d.startswith("cid="))
    assert len(cells) >= 2  # layout actually partitioned by cell


def test_classifier_null_text_agrees_across_paths(spark):
    from csvb_spark.operators.classify import (
        formula_weights_table,
        linear_classifier_score,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, "real text")], "doc_id bigint, text string"
    )
    a = {tuple(r) for r in linear_classifier_score(docs, n_buckets=512).collect()}
    w = formula_weights_table(spark, 512)
    b = {
        tuple(r)
        for r in linear_classifier_score(docs, n_buckets=512, weights=w).collect()
    }
    assert a == b
    assert {t[0] for t in a} == {1, 2}  # the NULL-text doc is KEPT by both


def test_ivfpq_index_prunes_and_matches_in_memory(spark, sf_dir, tmp_path):
    from csvb_spark.operators.similarity import (
        ivfpq_index_topk,
        ivfpq_topk,
        pq_seeded_codebook,
        seed_centroids,
        write_ivfpq_index,
    )

    embs = _embs(spark, sf_dir)
    cb = pq_seeded_codebook(m=4, k=4, scale=0.2)
    path = str(tmp_path / "ivfpq_idx")
    write_ivfpq_index(embs, cb, path, n_centroids=4)
    cents = seed_centroids(embs, 4)
    probe = embs.filter(F.col("vec_id") == 9)

    got = ivfpq_index_topk(spark, path, cb, cents, probe, k=5, nprobe=2)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(jmode)  # noqa: SLF001
    assert "PartitionFilters" in plan

    want = {
        (r["vec_id"], r["adc_dist"])
        for r in ivfpq_topk(embs, probe, cb, k=5, n_centroids=4, nprobe=2).collect()
    }
    assert {(r["vec_id"], r["adc_dist"]) for r in got.collect()} == want


def _planted_quality_corpus(spark):
    # positives share "good" vocabulary, negatives share "bad" vocabulary,
    # with common filler words on both sides
    pos = [
        "excellent wonderful prose with great clarity and depth",
        "great writing excellent structure wonderful argument",
        "wonderful excellent great insightful and thorough text",
        "clear great excellent reasoning wonderful evidence",
        "excellent great wonderful well sourced careful prose",
    ]
    neg = [
        "spam junk garbage click here buy now cheap",
        "junk spam cheap garbage free offer click now",
        "garbage junk spam worthless cheap click bait",
        "cheap spam garbage junk nonsense buy click",
        "spam garbage cheap junk low quality click farm",
    ]
    rows = [(i, t, 1) for i, t in enumerate(pos)] + [
        (100 + i, t, 0) for i, t in enumerate(neg)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, label int")


def test_trained_weights_beat_formula_gate_on_planted_split(spark):
    from csvb_spark.operators.classify import (
        linear_classifier_score,
        linear_classifier_train,
    )

    labeled = _planted_quality_corpus(spark)
    w = linear_classifier_train(labeled, n_buckets=4096, lr=4000, steps=3)
    trained = {
        r["doc_id"]: r["keep"]
        for r in linear_classifier_score(
            labeled, n_buckets=4096, weights=w
        ).collect()
    }
    formula = {
        r["doc_id"]: r["keep"]
        for r in linear_classifier_score(labeled, n_buckets=4096).collect()
    }
    truth = {r["doc_id"]: bool(r["label"]) for r in labeled.collect()}
    acc_trained = sum(trained[d] == truth[d] for d in truth) / len(truth)
    acc_formula = sum(formula[d] == truth[d] for d in truth) / len(truth)
    assert acc_trained == 1.0  # separable vocabulary: perfect on train set
    assert acc_trained > acc_formula  # the gate the model replaces


def test_trainer_is_deterministic(spark):
    from csvb_spark.operators.classify import linear_classifier_train

    labeled = _planted_quality_corpus(spark)
    a = sorted(tuple(r) for r in linear_classifier_train(labeled, n_buckets=1024).collect())
    b = sorted(tuple(r) for r in linear_classifier_train(labeled, n_buckets=1024).collect())
    assert a == b
    assert a  # nonempty model


def test_trainer_output_feeds_score_path_shape(spark):
    from csvb_spark.operators.classify import (
        linear_classifier_score,
        linear_classifier_train,
    )

    labeled = _planted_quality_corpus(spark)
    w = linear_classifier_train(labeled, n_buckets=1024, steps=1)
    assert [f.name for f in w.schema.fields] == ["bucket", "weight"]
    assert dict(w.dtypes) == {"bucket": "bigint", "weight": "bigint"}
    out = linear_classifier_score(labeled, n_buckets=1024, weights=w)
    assert out.count() == labeled.count()


def test_trainer_validates_lr_and_bucket_limit(spark):
    from csvb_spark.operators.classify import linear_classifier_train

    labeled = _planted_quality_corpus(spark)
    with pytest.raises(ValueError, match="lr must be a positive int"):
        linear_classifier_train(labeled, lr=0.5)  # type: ignore[arg-type]
    with pytest.raises(ValueError, match="driver_bucket_limit"):
        linear_classifier_train(labeled, n_buckets=1 << 22)


def test_ivfpq_index_accepts_shifted_seed_ids(spark, sf_dir, tmp_path):
    from csvb_spark.operators.similarity import (
        ivfpq_index_topk,
        ivfpq_topk,
        pq_seeded_codebook,
        seed_centroids,
        write_ivfpq_index,
    )

    # a corpus whose ids do NOT start at 0: shift everything by 1000
    embs = _embs(spark, sf_dir).withColumn("vec_id", F.col("vec_id") + 1000)
    seeds = [1000, 1001, 1002, 1003]
    cb = pq_seeded_codebook(m=4, k=4, scale=0.2)
    path = str(tmp_path / "ivfpq_shifted")
    write_ivfpq_index(embs, cb, path, n_centroids=4, seed_ids=seeds)
    cents = seed_centroids(embs, 4, seed_ids=seeds)
    probe = embs.filter(F.col("vec_id") == 1009)

    got = ivfpq_index_topk(spark, path, cb, cents, probe, k=5, nprobe=2)
    want = ivfpq_topk(
        embs, probe, cb, k=5, n_centroids=4, nprobe=2, seed_ids=seeds
    )
    assert {(r["vec_id"], r["adc_dist"]) for r in got.collect()} == {
        (r["vec_id"], r["adc_dist"]) for r in want.collect()
    }


def test_seed_centroids_validates_ids(spark, sf_dir):
    from csvb_spark.operators.similarity import ivf_topk, seed_centroids

    embs = _embs(spark, sf_dir)
    with pytest.raises(ValueError, match="distinct ids"):
        seed_centroids(embs, 3, seed_ids=[0, 0, 1])
    with pytest.raises(ValueError, match="seed centroids"):
        seed_centroids(embs, 2, seed_ids=[0, 10**9])
    # ivf_topk shares the seed convention and the codebook check: a
    # corpus missing a seed id raises instead of probing fewer cells,
    # and so does a seed codebook smaller than nprobe
    probe = embs.filter(F.col("vec_id") == 5)
    with pytest.raises(ValueError, match="seed centroids"):
        ivf_topk(embs.filter(F.col("vec_id") != 2), probe, n_centroids=4)
    with pytest.raises(ValueError, match="nprobe"):
        ivf_topk(embs, probe, n_centroids=2, nprobe=4)


def test_hard_negatives_null_labels_are_a_distinct_value(spark):
    from csvb_spark.operators.similarity import knn_join

    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.9, 0.1], None),  # NULL-labeled corpus row
        (2, [0.8, 0.2], "b"),
        (3, [0.7, 0.3], None),
    ]
    embs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )
    # NULL-labeled probe: candidates with real labels ARE mined,
    # the other NULL-labeled row is not (NULL == NULL null-safely)
    probe = embs.filter(F.col("vec_id") == 1)
    got = {
        r["vec_id"]
        for r in knn_join(embs, probe, k=5, neg_label_col="label").collect()
    }
    assert got == {0, 2}
    # labeled probe: NULL-labeled corpus rows count as a differing label
    probe2 = embs.filter(F.col("vec_id") == 0)
    got2 = {
        r["vec_id"]
        for r in knn_join(embs, probe2, k=5, neg_label_col="label").collect()
    }
    assert got2 == {1, 2, 3}


def test_calibration_table_planted(spark):
    """x99: a perfectly separable labeling (label := score >= 0.0)
    yields frac_positive 0.0 below the boundary bin and 1.0 at/above
    it; counts and exact means line up; knobs validate loudly."""
    from csvb_spark.operators.classify import calibration_table

    rows = [
        (1, -0.45, False), (2, -0.45, False),   # bin 0
        (3, -0.05, False),                       # bin 4
        (4, 0.05, True), (5, 0.05, True),        # bin 5
        (6, 0.45, True),                         # bin 9
        (7, 0.5, True),                          # score == hi -> clamped to 9
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, y boolean")
    out = {r["bin"]: r for r in calibration_table(df, "y").collect()}
    assert set(out) == {0, 4, 5, 9}
    assert out[0]["n"] == 2 and out[0]["frac_positive"] == 0.0
    assert out[0]["mean_score"] == -0.45
    assert out[4]["n"] == 1 and out[4]["frac_positive"] == 0.0
    assert out[5]["n"] == 2 and out[5]["frac_positive"] == 1.0
    assert out[9]["n"] == 2 and out[9]["n_pos"] == 2  # 0.45 + clamped 0.5
    assert out[9]["mean_score"] == (0.45 + 0.5) / 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_bins"):
        calibration_table(df, "y", n_bins=1)
    with _pytest.raises(ValueError, match="lo < hi"):
        calibration_table(df, "y", lo=1.0, hi=0.0)


def test_dsir_score_ranks_target_like_docs_higher(spark):
    """DSIR (Xie et al. 2023): documents that share the target
    corpus's vocabulary must carry higher log-importance than
    off-domain documents; every raw doc appears exactly once (NULL
    and empty text included); the weight join broadcasts."""
    from csvb_spark.operators.classify import dsir_score

    target = spark.createDataFrame(
        [(1000 + i, "physics energy momentum quantum field") for i in range(8)],
        "doc_id bigint, text string",
    )
    raw = spark.createDataFrame(
        [
            (0, "quantum field energy physics"),       # on-domain
            (1, "physics momentum quantum"),           # on-domain
            (2, "pizza recipe cheese tomato basil"),   # off-domain
            (3, "celebrity gossip fashion weekend"),   # off-domain
            (4, None),
            (5, ""),
        ],
        "doc_id bigint, text string",
    )
    scored = dsir_score(raw, target, n_buckets=4096)
    rows = {r["doc_id"]: r for r in scored.collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 5}  # nobody vanishes
    per_feat = {
        k: rows[k]["log_importance"] / rows[k]["n_features"] for k in (0, 1, 2, 3)
    }
    assert min(per_feat[0], per_feat[1]) > max(per_feat[2], per_feat[3])

    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
        "formatted"
    )
    plan = scored._jdf.queryExecution().explainString(jmode)  # noqa: SLF001
    assert "BroadcastHashJoin" in plan  # bounded weight table broadcasts

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        dsir_score(raw, target, n_buckets=0)
    with _pytest.raises(ValueError, match="n_buckets"):
        dsir_score(raw, target, n_buckets=1 << 21)


def test_dsir_score_target_pred_matches_target_df(spark):
    """Round-16 refactor pin: the fused target_pred path (one corpus
    explode feeding weight counts AND the scoring join) must produce
    EXACTLY the rows of the compositional path given the equivalent
    target DataFrame — same ids, counts, and bit-identical doubles."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.classify import dsir_score

    raw = spark.createDataFrame(
        [
            (0, "quantum field energy physics"),
            (1, "physics momentum quantum"),
            (2, "pizza recipe cheese tomato basil"),
            (3, "quantum pizza celebrity weekend"),
            (4, None),
            (5, ""),
            (6, "field energy"),
        ],
        "doc_id bigint, text string",
    )
    pred_rows = sorted(
        dsir_score(raw, target_pred="doc_id % 3 = 0", n_buckets=2048)
        .collect()
    )
    df_rows = sorted(
        dsir_score(
            raw, raw.filter(F.expr("doc_id % 3 = 0")), n_buckets=2048
        ).collect()
    )
    assert [tuple(r) for r in pred_rows] == [tuple(r) for r in df_rows]


def test_cli_score_dsir(spark, tmp_path, capsys):
    """`score --method dsir --target ...` runs DSIR end to end: the
    per-feature importance gate keeps on-domain docs and drops
    off-domain ones; flag contradictions are loud."""
    import pandas as pd
    import pytest as _pytest

    from csvb_spark.cli import main

    raw = str(tmp_path / "raw.parquet")
    pd.DataFrame(
        {
            "doc_id": list(range(4)),
            "text": [
                "quantum field energy physics",
                "physics momentum quantum energy",
                "pizza recipe cheese tomato",
                "celebrity gossip fashion news",
            ],
        }
    ).to_parquet(raw)
    target = str(tmp_path / "target.parquet")
    pd.DataFrame(
        {
            "doc_id": [100 + i for i in range(6)],
            "text": ["physics energy momentum quantum field theory"] * 6,
        }
    ).to_parquet(target)

    out_dir = str(tmp_path / "dsir_scored")
    rc = main(
        [
            "score", "--parquet", raw, "--method", "dsir",
            "--target", target, "--n-buckets", "4096",
            "--min-avg-importance", "0.0", "--output", out_dir,
        ]
    )
    assert rc == 0
    assert "n_keep" in capsys.readouterr().out
    got = {r["doc_id"]: r["keep"] for r in spark.read.parquet(out_dir).collect()}
    assert got[0] and got[1] and not got[2] and not got[3]

    # train-filter --method dsir writes the weight table; score
    # --model consumes it with identical results to the in-line path
    wdir = str(tmp_path / "dsir_weights")
    rc = main(
        [
            "train-filter", "--parquet", raw, "--method", "dsir",
            "--target", target, "--n-buckets", "4096", "--output", wdir,
        ]
    )
    assert rc == 0
    assert "dsir model:" in capsys.readouterr().out
    w = spark.read.parquet(wdir)
    # self-describing: hash params travel with the table
    assert set(w.columns) == {"bucket", "log_weight", "n_buckets", "seed"}
    assert w.filter("bucket = -1").count() == 1  # neutral default row
    assert w.select("n_buckets").first()[0] == 4096
    out2 = str(tmp_path / "dsir_scored_model")
    rc = main(
        [
            "score", "--parquet", raw, "--method", "dsir",
            "--model", wdir, "--n-buckets", "4096",
            "--min-avg-importance", "0.0", "--output", out2,
        ]
    )
    assert rc == 0
    capsys.readouterr()
    a = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b

    with _pytest.raises(SystemExit, match="exactly one of"):
        main(["score", "--parquet", raw, "--method", "dsir"])
    with _pytest.raises(SystemExit, match="exactly one of"):
        main(["score", "--parquet", raw, "--method", "dsir",
              "--target", target, "--model", wdir])
    with _pytest.raises(SystemExit, match="--target applies"):
        main(["score", "--parquet", raw, "--method", "classifier",
              "--target", target])
    with _pytest.raises(SystemExit, match="does not apply"):
        main(["score", "--parquet", raw, "--method", "dsir",
              "--target", target, "--max-ppl", "10"])
    with _pytest.raises(SystemExit, match="requires --target"):
        main(["train-filter", "--parquet", raw, "--method", "dsir",
              "--output", wdir])
    # a train/score bucket mismatch is LOUD, never silent garbage
    with _pytest.raises(SystemExit, match="contradicts"):
        main(["score", "--parquet", raw, "--method", "dsir",
              "--model", wdir, "--n-buckets", "8192"])
    # pointing --model at a non-DSIR table is the same loud error
    # both surfaces raise (streaming validates identically)
    notw = str(tmp_path / "not_a_weight_table")
    spark.range(3).write.parquet(notw)
    with _pytest.raises(SystemExit, match="not a DSIR weight table"):
        main(["score", "--parquet", raw, "--method", "dsir",
              "--model", notw])


def test_dsir_target_only_buckets_carry_positive_weight(spark):
    """Review finding: the weight table must include buckets seen ONLY
    in the target corpus (full outer join) — they are maximal domain
    evidence, and a persisted model scoring new data must reward them,
    not fall through to the neutral default."""
    from csvb_spark.operators.classify import (
        dsir_bucket_weights,
        dsir_score_with_weights,
    )

    raw = spark.createDataFrame(
        [(i, f"common{i % 3} filler{i} words{i}") for i in range(9)],
        "doc_id bigint, text string",
    )
    target = spark.createDataFrame(
        [(100, "renormalization lagrangian renormalization")],
        "doc_id bigint, text string",
    )
    w = dsir_bucket_weights(raw, target, n_buckets=2048)
    # score a NEW doc made purely of target-only vocabulary: its avg
    # importance must beat both an off-domain doc and a truly-unseen
    # gibberish doc (which takes the neutral default row)
    probe = spark.createDataFrame(
        [
            (0, "renormalization lagrangian"),
            (1, "common0 filler1 words2"),
            (2, "zzqx wvut totally unseen"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r["log_importance"] / r["n_features"]
        for r in dsir_score_with_weights(probe, w).collect()
    }
    assert got[0] > 0 > got[1]
    assert got[2] == 0.0  # neutral default
    assert got[0] > got[2] > got[1]
