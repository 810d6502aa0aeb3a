"""Bigram-LM perplexity scoring: ranking behavior, edge cases, plan
shape. Oracle parity is x84 in test_oracle.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csvb_spark.operators.lm import bigram_lm_train, perplexity_score


def _corpus(spark):
    fluent = "the cat sat on the mat and the cat slept"
    rows = [(i, fluent) for i in range(8)] + [
        (100, "zqx vbn plm wrt kjh dfg"),  # vocabulary never repeated
        (101, "the cat sat on the mat"),  # in-domain
        (200, "one"),  # single token: no bigrams
        (201, None),  # NULL text
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_perplexity_ranks_in_domain_below_garbage(spark):
    docs = _corpus(spark)
    lm = bigram_lm_train(docs)
    got = {r["doc_id"]: r for r in perplexity_score(docs, lm).collect()}
    assert got[101]["ppl"] < got[100]["ppl"]  # fluent beats junk
    assert got[0]["ppl"] < got[100]["ppl"]
    assert got[101]["avg_neg_logprob"] < got[100]["avg_neg_logprob"]
    # all docs present; short/NULL docs carry NULL scores, 0 bigrams
    assert set(got) == {*range(8), 100, 101, 200, 201}
    for d in (200, 201):
        assert got[d]["n_bigrams"] == 0
        assert got[d]["ppl"] is None and got[d]["avg_neg_logprob"] is None


def test_lm_train_counts(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id bigint, text string"
    )
    lm = bigram_lm_train(docs)
    uni = {r["w1"]: r["cnt"] for r in lm.filter(F.col("w2").isNull()).collect()}
    bi = {
        (r["w1"], r["w2"]): r["cnt"]
        for r in lm.filter(F.col("w2").isNotNull()).collect()
    }
    assert uni == {"a": 3, "b": 3}
    assert bi == {("a", "b"): 3, ("b", "a"): 1}


def test_perplexity_deterministic_and_alpha_guard(spark):
    docs = _corpus(spark)
    lm = bigram_lm_train(docs)
    a = sorted(tuple(r) for r in perplexity_score(docs, lm).collect())
    b = sorted(tuple(r) for r in perplexity_score(docs, lm).collect())
    assert a == b
    with pytest.raises(ValueError, match="alpha"):
        perplexity_score(docs, lm, alpha=0)
    with pytest.raises(ValueError, match="alpha"):
        perplexity_score(docs, lm, alpha=0.5)  # type: ignore[arg-type]


def test_broadcast_model_uses_broadcast_joins(spark):
    docs = _corpus(spark)
    lm = bigram_lm_train(docs)
    out = perplexity_score(docs, lm, broadcast_model=True)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(jmode)  # noqa: SLF001
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # scoring never shuffles the corpus


def test_cli_train_filter_and_score_classifier(spark, tmp_path, capsys):
    import pandas as pd

    from csvb_spark.cli import main

    data = str(tmp_path / "labeled.parquet")
    pd.DataFrame(
        {
            "doc_id": list(range(6)),
            "text": [
                "excellent great wonderful prose",
                "great excellent clear writing",
                "wonderful excellent great text",
                "spam junk garbage click",
                "junk spam cheap garbage",
                "garbage junk spam click",
            ],
            "label": [1, 1, 1, 0, 0, 0],
        }
    ).to_parquet(data)
    model_dir = str(tmp_path / "clf_model")
    rc = main(
        [
            "train-filter", "--parquet", data, "--method", "classifier",
            "--output", model_dir, "--n-buckets", "4096", "--steps", "3",
        ]
    )
    assert rc == 0
    assert "classifier model:" in capsys.readouterr().out

    out_dir = str(tmp_path / "scored")
    rc = main(
        [
            "score", "--parquet", data, "--method", "classifier",
            "--model", model_dir, "--n-buckets", "4096", "--output", out_dir,
        ]
    )
    assert rc == 0
    got = capsys.readouterr().out
    assert "n_docs" in got and "n_keep" in got
    scored = {r["doc_id"]: r["keep"] for r in spark.read.parquet(out_dir).collect()}
    assert [scored[i] for i in range(6)] == [True] * 3 + [False] * 3


def test_cli_train_filter_and_score_lm(spark, tmp_path, capsys):
    import pandas as pd

    from csvb_spark.cli import main

    data = str(tmp_path / "docs.parquet")
    pd.DataFrame(
        {
            "doc_id": list(range(5)),
            "text": [
                "the cat sat on the mat",
                "the cat sat on the mat again",
                "the cat slept on the mat",
                "the mat sat on the cat",
                "zzq wxv unseen gibberish tokens here",
            ],
        }
    ).to_parquet(data)
    model_dir = str(tmp_path / "lm_model")
    rc = main(
        ["train-filter", "--parquet", data, "--method", "lm", "--output", model_dir]
    )
    assert rc == 0
    assert "lm model:" in capsys.readouterr().out

    out_dir = str(tmp_path / "lm_scored")
    rc = main(
        [
            "score", "--parquet", data, "--method", "lm", "--model", model_dir,
            "--max-ppl", "200", "--output", out_dir,
        ]
    )
    assert rc == 0
    rows = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    # the gibberish doc has the worst perplexity of the corpus
    assert rows[4]["ppl"] == max(r["ppl"] for r in rows.values())

    # lm scoring without a model is a loud error
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="requires --model"):
        main(["score", "--parquet", data, "--method", "lm"])


def test_token_drift_surfaces_planted_vocabulary(spark):
    from csvb_spark.operators.lm import token_drift

    base = "the cat sat on the mat near the tree"
    old = spark.createDataFrame(
        [(i, base) for i in range(10)], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(i, base) for i in range(8)]
        + [(100, "spam casino jackpot spam casino"), (101, "spam jackpot spam")],
        "doc_id bigint, text string",
    )
    out = token_drift(old, new, k=5).collect()
    # the planted vocabulary dominates the positive drift
    top = [r["token"] for r in out[:3]]
    assert set(top) <= {"spam", "casino", "jackpot"}
    assert out[0]["token"] == "spam"  # highest new-mass token first
    assert out[0]["n_old"] == 0 and out[0]["n_new"] == 4
    assert all(out[i]["contrib"] >= out[i + 1]["contrib"] for i in range(len(out) - 1))

    # identical corpora: every contribution is ~0 (only count-scale
    # smoothing noise), and the op is deterministic
    same = token_drift(old, old, k=10)
    vals = [r["contrib"] for r in same.collect()]
    assert all(abs(v) < 1e-9 for v in vals)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        token_drift(old, new, alpha=0)


def test_token_drift_split_matches_two_df_form(spark):
    """Round-16 refactor pin: the one-scan split form (one explode +
    count_if per side) must produce EXACTLY the rows of
    token_drift(docs.filter(p), docs.filter(q)) — including tokens
    exclusive to one side (the full-outer-coalesce edge) and docs
    matching NEITHER predicate (in no snapshot, so in no count)."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.lm import token_drift, token_drift_split

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),          # old (x%3==0)
            (1, "spam casino jackpot spam"),        # new (x%3==1)
            (2, "neither half sees this text"),     # in NO snapshot
            (3, "the cat slept oldonly"),           # old
            (4, "the dog ran newonly"),             # new
            (5, None),                               # neither
            (6, ""),                                 # old (empty token)
        ],
        "doc_id bigint, text string",
    )
    p_old = F.col("doc_id") % 3 == 0
    p_new = F.col("doc_id") % 3 == 1
    ref = token_drift(docs.filter(p_old), docs.filter(p_new), k=50).collect()
    got = token_drift_split(docs, p_old, p_new, k=50).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]
    assert any(r["token"] == "oldonly" and r["n_new"] == 0 for r in ref)
    assert any(r["token"] == "newonly" and r["n_old"] == 0 for r in ref)
    assert not any(r["token"] == "neither" for r in ref)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        token_drift_split(docs, p_old, p_new, alpha=0)


def test_cli_drift(spark, tmp_path, capsys):
    import pandas as pd

    from csvb_spark.cli import main

    old = str(tmp_path / "old.parquet")
    new = str(tmp_path / "new.parquet")
    pd.DataFrame({"doc_id": [1, 2], "text": ["the cat sat", "the dog ran"]}).to_parquet(old)
    pd.DataFrame({"doc_id": [1, 2], "text": ["the cat sat", "spam spam spam"]}).to_parquet(new)
    rc = main(["drift", "--old", old, "--new", new, "--k", "3"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "spam" in out and "contrib" in out


def test_cli_score_lm_null_ppl_passes_gate(spark, tmp_path, capsys):
    """A document with no bigram evidence (ppl NULL) PASSES the LM
    gate under --max-ppl — same rule as the streaming ingest gate —
    and keep is a real boolean, never three-valued NULL (which the
    n_keep summary would silently exclude)."""
    import pandas as pd

    from csvb_spark.cli import main

    data = str(tmp_path / "docs.parquet")
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["the cat sat on the mat", "the cat sat again", "x"],
        }
    ).to_parquet(data)
    model_dir = str(tmp_path / "lm_model")
    assert main(
        ["train-filter", "--parquet", data, "--method", "lm",
         "--output", model_dir]
    ) == 0
    capsys.readouterr()

    out_dir = str(tmp_path / "scored")
    assert main(
        ["score", "--parquet", data, "--method", "lm", "--model", model_dir,
         "--max-ppl", "1e9", "--output", out_dir]
    ) == 0
    rows = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert rows[2]["ppl"] is None
    assert rows[2]["keep"] is True          # NULL ppl passes the gate
    assert all(r["keep"] is True for r in rows.values())
    # the summary counts ALL kept docs, including the NULL-ppl one
    assert "| 3      | 3      |" in capsys.readouterr().out.replace("\n", "")


# --- round 7: interpolated Kneser-Ney ----------------------------------------
def test_kneser_ney_separates_gibberish(spark):
    """KN perplexity ranks an out-of-domain gibberish document above
    every fluent in-domain document (the quality-filter contract),
    including under a held-out model where its bigrams are unseen."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.lm import bigram_lm_train, kneser_ney_score

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the mat again"),
        (2, "the dog sat on the mat"),
        (3, "the cat slept on the mat"),
        (4, "zzq wxv gibberish unseen tokens qqx"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    lm = bigram_lm_train(docs.filter(F.col("doc_id") < 4))
    got = {r.doc_id: r.ppl for r in kneser_ney_score(docs, lm).collect()}
    assert got[4] == max(got.values())
    assert all(got[i] < got[4] for i in range(4))


def test_kneser_ney_probabilities_nearly_normalize(spark):
    """For a seen context, summing P(w2|w1) over the continuation
    vocabulary must land near 1 (the discount redistribution is mass-
    preserving up to the documented add-one OOV floor)."""
    import math

    from csvb_spark.operators.lm import bigram_lm_train, kneser_ney_score

    docs = spark.createDataFrame(
        [(0, "a b a c a b a d b c d a")], "doc_id bigint, text string"
    )
    lm = bigram_lm_train(docs)
    bi = {(r.w1, r.w2): r.cnt for r in lm.collect() if r.w2 is not None}
    vocab = sorted({w2 for _, w2 in bi})
    B, V = len(bi), len(vocab)
    scale = B + V + 1
    c1 = {}
    n1fwd = {}
    n1bwd = {}
    for (w1, w2), c in bi.items():
        c1[w1] = c1.get(w1, 0) + c
        n1fwd[w1] = n1fwd.get(w1, 0) + 1
        n1bwd[w2] = n1bwd.get(w2, 0) + 1
    total = sum(
        (
            max(bi.get(("a", w2), 0) * 1000 - 750, 0) * scale
            + 750 * n1fwd["a"] * (n1bwd.get(w2, 0) + 1)
        )
        / (1000 * c1["a"] * scale)
        for w2 in vocab
    )
    assert 0.9 < total <= 1.05  # mass-preserving up to the OOV floor
    # and the operator's own scores agree with this hand replay for
    # one concrete bigram-only document
    probe = spark.createDataFrame([(9, "a b")], "doc_id bigint, text string")
    r = kneser_ney_score(probe, lm).collect()[0]
    p_ab = (
        max(bi[("a", "b")] * 1000 - 750, 0) * scale
        + 750 * n1fwd["a"] * (n1bwd["b"] + 1)
    ) / (1000 * c1["a"] * scale)
    # one bigram: q = round(ln(p), 6); ppl = round(exp(-q), 6)
    assert r.ppl == round(math.exp(-round(math.log(p_ab), 6)), 6)


def test_kneser_ney_wordstats_miss_semantics(spark):
    """Round-16 refactor pin: the fused per-word stats table must keep
    the OLD two-table join-miss semantics exactly — a context word the
    model only ever saw as w2 carries c1 = NULL (unseen-context branch,
    pure continuation probability), and a continuation word the model
    only ever saw as w1 behaves as n1bwd = 0 under the coalesce."""
    import math

    from csvb_spark.operators.lm import bigram_lm_train, kneser_ney_score

    # train "s a a e": s appears ONLY as w1, e ONLY as w2
    train = spark.createDataFrame(
        [(0, "s a a e")], "doc_id bigint, text string"
    )
    lm = bigram_lm_train(train)
    # bigrams: (s,a) (a,a) (a,e) → B=3; w2 vocab {a,e} → V=2; scale=6
    # c1: s=1 a=2 · n1fwd: s=1 a=2 · n1bwd: a=2 e=1
    probes = spark.createDataFrame(
        [(1, "e a"), (2, "a s")], "doc_id bigint, text string"
    )
    got = {r.doc_id: r.ppl for r in kneser_ney_score(probes, lm).collect()}

    def ppl(p):
        return round(math.exp(-round(math.log(p), 6)), 6)

    # doc 1: context e has no forward rows → c1 NULL → ELSE branch:
    # pc(a) = (n1bwd[a]+1)/scale = 3/6
    assert got[1] == ppl(3 / 6)
    # doc 2: context a seen; continuation s never a w2 → n1bwd → 0:
    # p = max(0−750,0)/(1000·2) + (750·2/(1000·2)) · ((0+1)/6)
    assert got[2] == ppl(0.75 * (1 / 6))


def test_kneser_ney_rejects_bad_discount(spark):
    import pytest as _pytest

    from csvb_spark.operators.lm import bigram_lm_train, kneser_ney_score

    docs = spark.createDataFrame([(0, "a b")], "doc_id bigint, text string")
    lm = bigram_lm_train(docs)
    for bad in (0, 1000, 1.5, -5):
        with _pytest.raises(ValueError, match="discount_milli"):
            kneser_ney_score(docs, lm, discount_milli=bad)


def test_cli_sample_methods(spark, tmp_path, capsys):
    """The sample subcommand drives all three deterministic draws and
    writes the sampled rows; flag misuse is a loud SystemExit."""
    import pandas as pd
    import pytest as _pytest

    from csvb_spark.cli import main

    data = str(tmp_path / "docs.parquet")
    pd.DataFrame(
        {
            "doc_id": list(range(40)),
            "w": [1 + i % 5 for i in range(40)],
            "grp": ["a" if i % 2 else "b" for i in range(40)],
            "quality_score": [round((i % 10) * 0.1, 1) for i in range(40)],
            "n_tokens": [10] * 40,
        }
    ).to_parquet(data)

    out = str(tmp_path / "s1")
    assert main(
        ["sample", "--parquet", data, "--method", "weighted",
         "--k", "7", "--weight-col", "w", "--output", out]
    ) == 0
    assert "| 7" in capsys.readouterr().out
    assert spark.read.parquet(out).count() == 7

    out2 = str(tmp_path / "s2")
    assert main(
        ["sample", "--parquet", data, "--method", "per-group",
         "--k", "3", "--group-col", "grp", "--output", out2]
    ) == 0
    capsys.readouterr()
    got = spark.read.parquet(out2)
    assert got.count() == 6  # 3 per group x 2 groups

    out3 = str(tmp_path / "s3")
    assert main(
        ["sample", "--parquet", data, "--method", "budget",
         "--budget", "50", "--output", out3]
    ) == 0
    capsys.readouterr()
    got3 = spark.read.parquet(out3)
    assert got3.count() == 5  # 50 tokens / 10 each
    # every method ships FULL input rows (weighted adds skey)
    assert set(got3.columns) >= {"doc_id", "w", "grp", "quality_score"}
    w_rows = spark.read.parquet(out)
    assert set(w_rows.columns) >= {"doc_id", "w", "grp", "skey"}

    with _pytest.raises(SystemExit, match="weighted requires"):
        main(["sample", "--parquet", data, "--method", "weighted"])
    with _pytest.raises(SystemExit, match="per-group requires"):
        main(["sample", "--parquet", data, "--method", "per-group"])
    with _pytest.raises(SystemExit, match="budget requires"):
        main(["sample", "--parquet", data, "--method", "budget"])
    # cross-method flags are rejected loudly, never silently dropped
    with _pytest.raises(SystemExit, match="--budget applies"):
        main(["sample", "--parquet", data, "--method", "weighted",
              "--k", "3", "--weight-col", "w", "--budget", "10"])
    with _pytest.raises(SystemExit, match="--k applies"):
        main(["sample", "--parquet", data, "--method", "budget",
              "--budget", "10", "--k", "3"])
    with _pytest.raises(SystemExit, match="--seed has no effect"):
        main(["sample", "--parquet", data, "--method", "budget",
              "--budget", "10", "--seed", "9"])
    with _pytest.raises(SystemExit, match="--group-col applies"):
        main(["sample", "--parquet", data, "--method", "weighted",
              "--k", "3", "--weight-col", "w", "--group-col", "grp"])


def test_cli_score_lm_kn_smoothing(spark, tmp_path, capsys):
    """--smoothing kn routes through the Kneser-Ney scorer; the
    gibberish document still ranks worst, and cross-method misuse is
    a loud error."""
    import pandas as pd
    import pytest as _pytest

    from csvb_spark.cli import main

    data = str(tmp_path / "docs.parquet")
    pd.DataFrame(
        {
            "doc_id": list(range(5)),
            "text": [
                "the cat sat on the mat",
                "the cat sat on the mat again",
                "the cat slept on the mat",
                "the mat sat on the cat",
                "zzq wxv unseen gibberish tokens here",
            ],
        }
    ).to_parquet(data)
    model_dir = str(tmp_path / "lm_model")
    assert main(
        ["train-filter", "--parquet", data, "--method", "lm",
         "--output", model_dir]
    ) == 0
    capsys.readouterr()

    out_dir = str(tmp_path / "kn_scored")
    assert main(
        ["score", "--parquet", data, "--method", "lm", "--model", model_dir,
         "--smoothing", "kn", "--max-ppl", "1e6", "--output", out_dir]
    ) == 0
    rows = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert rows[4]["ppl"] == max(r["ppl"] for r in rows.values())

    with _pytest.raises(SystemExit, match="--smoothing applies"):
        main(["score", "--parquet", data, "--method", "classifier",
              "--smoothing", "kn"])


# --- round 7: stupid-backoff trigram LM --------------------------------------
def test_stupid_backoff_tiers_and_anchors(spark):
    """Anchor values per backoff tier: a fully-seen document scores
    sppl exactly 1.0 (every ratio is 1), the OOV floor is N/alpha^2,
    short documents carry NULLs, and fluency ranks in tier order."""
    from csvb_spark.operators.lm import stupid_backoff_score, trigram_lm_train

    fluent = "the cat sat on the mat and the dog slept in the sun"
    train = spark.createDataFrame(
        [(i, fluent) for i in range(4)], "doc_id bigint, text string"
    )
    lm = trigram_lm_train(train)
    test = spark.createDataFrame(
        [
            (1, fluent),
            (2, "the cat sat on the mat quietly today"),
            (3, "zzq wxv unseen gibberish"),
            (4, "two words"),
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in stupid_backoff_score(test, lm).collect()}
    assert got[1].sppl == 1.0 and got[1].n_trigrams == 11
    assert got[1].sppl < got[2].sppl < got[3].sppl
    # OOV floor: every trigram of doc 3 is alpha^2/N -> sppl = N/0.16
    n_tokens = 4 * len(fluent.split())
    assert abs(got[3].sppl - n_tokens / 0.16) < 1e-3
    assert got[4].n_trigrams == 0 and got[4].sppl is None

    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha_milli"):
        stupid_backoff_score(test, lm, alpha_milli=0)
    with _pytest.raises(ValueError, match="empty model"):
        stupid_backoff_score(
            test,
            trigram_lm_train(
                spark.createDataFrame([], "doc_id bigint, text string")
            ),
        )


# --- round 8: shared size-guarded auto-broadcast across all scorers ----------
def _plan_of(df):
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
        "formatted"
    )
    return df._jdf.queryExecution().explainString(jmode)  # noqa: SLF001


@pytest.mark.parametrize("scorer", ["kn", "sb", "addk"])
def test_scorers_share_auto_broadcast_policy(spark, scorer):
    """All three scorers broadcast a bounded model automatically and
    fall back to non-broadcast joins WITH a warning when the model
    exceeds broadcast_max_rows — an over-bound broadcast would be an
    executor OOM, not a slow query (VERDICT r7 / ADVICE)."""
    import warnings

    from csvb_spark.operators.lm import (
        bigram_lm_train,
        kneser_ney_score,
        perplexity_score,
        stupid_backoff_score,
        trigram_lm_train,
    )

    docs = _corpus(spark)
    if scorer == "sb":
        lm = trigram_lm_train(docs)
        run = lambda **kw: stupid_backoff_score(docs, lm, **kw)  # noqa: E731
    else:
        lm = bigram_lm_train(docs)
        fn = kneser_ney_score if scorer == "kn" else perplexity_score
        run = lambda **kw: fn(docs, lm, **kw)  # noqa: E731

    # bounded model → auto-broadcast, no warning, no corpus shuffle.
    # Escalate ONLY UserWarning (what the policy emits): a blanket
    # simplefilter("error") also detonates py4j's GC-time socket
    # ResourceWarning inside __del__ whenever a dropped gateway
    # connection happens to be collected here — the one unraisable-
    # exception warning in an otherwise clean 1000+-test run
    # (round-15 verdict item 10).
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        plan = _plan_of(run())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # over-bound model → warning + shuffle fallback (no model broadcast)
    with pytest.warns(UserWarning, match="broadcast_max_rows"):
        fb = run(broadcast_max_rows=0)
    assert "BroadcastHashJoin" not in _plan_of(fb)
    # values identical on either path
    a = sorted(map(tuple, run().collect()))
    b = sorted(map(tuple, fb.collect()))
    assert a == b


def test_cli_score_lm_sb_smoothing(spark, tmp_path, capsys):
    """--smoothing sb scores against a TRIGRAM model (train-filter
    --ngram 3) and gates on sppl; mismatched model shapes are loud
    errors in BOTH directions, as is --ngram on the classifier."""
    import pandas as pd

    from csvb_spark.cli import main

    # train on FLUENT text only (training on the gibberish too would
    # make its unique trigrams fully seen — ratio 1, sppl 1.0)
    fluent = "the cat sat on the mat and the dog slept in the sun"
    train_data = str(tmp_path / "train.parquet")
    pd.DataFrame(
        {"doc_id": [10, 11, 12, 13], "text": [fluent] * 4}
    ).to_parquet(train_data)
    data = str(tmp_path / "docs.parquet")
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [fluent, "the cat sat on the mat quietly",
                     "zzq wxv unseen gibberish tokens"],
        }
    ).to_parquet(data)
    tri_dir = str(tmp_path / "lm3")
    assert main(
        ["train-filter", "--parquet", train_data, "--method", "lm",
         "--ngram", "3", "--output", tri_dir]
    ) == 0
    bi_dir = str(tmp_path / "lm2")
    assert main(
        ["train-filter", "--parquet", train_data, "--method", "lm",
         "--output", bi_dir]
    ) == 0
    capsys.readouterr()

    out_dir = str(tmp_path / "sb_scored")
    assert main(
        ["score", "--parquet", data, "--method", "lm", "--model", tri_dir,
         "--smoothing", "sb", "--max-ppl", "50", "--output", out_dir]
    ) == 0
    rows = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert rows[0]["sppl"] == 1.0  # exactly the training text
    assert rows[0]["sppl"] < rows[1]["sppl"] < rows[2]["sppl"]
    assert rows[0]["keep"] and not rows[2]["keep"]

    with pytest.raises(SystemExit, match="TRIGRAM"):
        main(["score", "--parquet", data, "--method", "lm",
              "--model", bi_dir, "--smoothing", "sb"])
    with pytest.raises(SystemExit, match="BIGRAM"):
        main(["score", "--parquet", data, "--method", "lm",
              "--model", tri_dir, "--smoothing", "kn"])
    with pytest.raises(SystemExit, match="--ngram applies"):
        main(["train-filter", "--parquet", data, "--method", "classifier",
              "--ngram", "3", "--output", str(tmp_path / "x")])


def test_cli_sample_flag_defaults(tmp_path):
    """Method-specific sample flags default to None, so an EXPLICITLY
    passed default value is caught too (the r7 --seed 7 false-accept),
    and --score-col/--tokens-col are budget-only."""
    import pandas as pd

    from csvb_spark.cli import main

    data = str(tmp_path / "docs.parquet")
    pd.DataFrame(
        {"doc_id": [1, 2], "w": [1, 2], "quality_score": [0.1, 0.9],
         "n_tokens": [10, 10]}
    ).to_parquet(data)
    with pytest.raises(SystemExit, match="--seed has no effect"):
        main(["sample", "--parquet", data, "--method", "budget",
              "--budget", "10", "--seed", "7"])
    with pytest.raises(SystemExit, match="--score-col applies"):
        main(["sample", "--parquet", data, "--method", "weighted",
              "--k", "1", "--weight-col", "w",
              "--score-col", "quality_score"])
    with pytest.raises(SystemExit, match="--tokens-col applies"):
        main(["sample", "--parquet", data, "--method", "weighted",
              "--k", "1", "--weight-col", "w", "--tokens-col", "n_tokens"])


def test_shuffle_fallback_salts_skewed_key(spark):
    """Planted 90%-one-bigram corpus + over-bound model: the shuffle
    fallback detects the concentrated key distribution (entropy probe
    rides the V agg — no extra pass) and salts the score joins; the
    output is row-identical to the broadcast path (VERDICT r7 task 6)."""
    import warnings as _warnings

    from csvb_spark.operators.lm import bigram_lm_train, perplexity_score

    rows = [(i, "the the the the the the the the") for i in range(90)] + [
        (100 + i, f"alpha{i} beta{i} gamma{i}") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    lm = bigram_lm_train(docs)

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        salted = perplexity_score(docs, lm, broadcast_max_rows=0)
    msgs = [str(w.message) for w in caught]
    assert any("salting" in m for m in msgs)
    plan = _plan_of(salted)
    assert "xxhash64" in plan  # the salt scatter is in the plan
    assert "BroadcastHashJoin" not in plan

    # row-identical to the broadcast path (the oracle contract)
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, perplexity_score(docs, lm, broadcast_model=True).collect()))
    assert a == b

    # a UNIFORM corpus's fallback does NOT salt (entropy above threshold)
    uni_docs = spark.createDataFrame(
        [(i, f"u{i} v{i} w{i} x{i}") for i in range(50)],
        "doc_id bigint, text string",
    )
    uni_lm = bigram_lm_train(uni_docs)
    with _warnings.catch_warnings(record=True) as caught2:
        _warnings.simplefilter("always")
        unsalted = perplexity_score(uni_docs, uni_lm, broadcast_max_rows=0)
    assert not any("salting" in str(w.message) for w in caught2)
    assert "xxhash64" not in _plan_of(unsalted)


def test_perplexity_buckets_rules(spark):
    """Equal-mass CCNet cut: ties share buckets, unscored docs get
    NULL/'unscored', and the head bucket is the LOWEST-ppl third."""
    from csvb_spark.operators.lm import bigram_lm_train, perplexity_buckets

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),   # mid ppl
            (2, "a a a a"),     # most predictable -> head
            (3, "b b c"),       # least predictable -> tail
            (4, "x"),           # no bigram evidence
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in perplexity_buckets(docs, bigram_lm_train(docs)).collect()
    }
    assert (out[2]["bucket"], out[2]["cut"]) == (1, "head")
    assert (out[1]["bucket"], out[1]["cut"]) == (2, "middle")
    assert (out[3]["bucket"], out[3]["cut"]) == (3, "tail")
    for d in (4, 5):
        assert out[d]["bucket"] is None and out[d]["cut"] == "unscored"
        assert out[d]["ppl"] is None

    # ties share a bucket: two identical docs cannot straddle a cut
    tied = spark.createDataFrame(
        [(i, "z z z") for i in range(6)], "doc_id long, text string"
    )
    t = perplexity_buckets(tied, bigram_lm_train(tied)).collect()
    assert len({r["bucket"] for r in t}) == 1

    # validation
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        perplexity_buckets(docs, bigram_lm_train(docs), n_buckets=1)
    with _pytest.raises(ValueError, match="labels"):
        perplexity_buckets(
            docs, bigram_lm_train(docs), n_buckets=3, labels=("a", "b")
        )


def test_perplexity_buckets_assignment_is_broadcast(spark):
    """The bucket table joins back by BROADCAST — assignment is
    map-side; the only corpus-wide work is the scoring itself."""
    from csvb_spark.operators.lm import bigram_lm_train, perplexity_buckets

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    out = perplexity_buckets(docs, bigram_lm_train(docs))
    assert "BroadcastHashJoin" in _plan_of(out)


# --- round 8: Jelinek-Mercer interpolation ------------------------------------
def test_jelinek_mercer_ranks_and_validates(spark):
    """JM interpolation: fluent text outranks unseen-bigram text,
    which outranks OOV gibberish (the backoff leg separates them);
    short docs carry NULLs; lambda outside (0,1) is a loud error; a
    trigram model is rejected by the shared shape check."""
    import pytest as _pytest

    from csvb_spark.operators.lm import (
        bigram_lm_train,
        check_model_shape,
        jelinek_mercer_score,
        trigram_lm_train,
    )

    fluent = "the cat sat on the mat and the dog slept in the sun"
    train = spark.createDataFrame(
        [(i, fluent) for i in range(4)], "doc_id bigint, text string"
    )
    lm = bigram_lm_train(train)
    test = spark.createDataFrame(
        [
            (1, fluent),
            (2, "the mat sat on the cat"),  # seen words, some new bigrams
            (3, "zzq wxv unseen gibberish"),
            (4, "oneword"),
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in jelinek_mercer_score(test, lm).collect()}
    assert got[1].ppl < got[2].ppl < got[3].ppl
    assert got[4].n_bigrams == 0 and got[4].ppl is None

    # lambda -> 1 approaches pure ML: the fully-seen doc's ppl drops
    tight = {
        r.doc_id: r for r in jelinek_mercer_score(test, lm, lam=0.99).collect()
    }
    assert tight[1].ppl < got[1].ppl

    with _pytest.raises(ValueError, match="lam"):
        jelinek_mercer_score(test, lm, lam=1.0)
    with _pytest.raises(ValueError, match="lam"):
        jelinek_mercer_score(test, lm, lam=0.0)
    with _pytest.raises(ValueError, match="BIGRAM"):
        check_model_shape(trigram_lm_train(train).columns, "jm", "test")


def test_cli_score_lm_jm_smoothing(spark, tmp_path, capsys):
    """--smoothing jm routes through the Jelinek-Mercer scorer; the
    gibberish document ranks worst; a trigram model is rejected."""
    import pandas as pd
    import pytest as _pytest

    from csvb_spark.cli import main

    train = str(tmp_path / "train_jm.parquet")
    pd.DataFrame(
        {
            "doc_id": [10, 11, 12, 13],
            "text": ["the cat sat on the mat and the dog slept"] * 4,
        }
    ).to_parquet(train)
    data = str(tmp_path / "docs_jm.parquet")
    pd.DataFrame(
        {
            "doc_id": list(range(3)),
            "text": [
                "the cat sat on the mat",
                "the dog slept on the mat",
                "zzq wxv unseen gibberish tokens here",
            ],
        }
    ).to_parquet(data)
    bi_dir = str(tmp_path / "lm_bi_jm")
    assert main(
        ["train-filter", "--parquet", train, "--method", "lm",
         "--output", bi_dir]
    ) == 0
    capsys.readouterr()

    out_dir = str(tmp_path / "jm_scored")
    assert main(
        ["score", "--parquet", data, "--method", "lm", "--model", bi_dir,
         "--smoothing", "jm", "--max-ppl", "1e6", "--output", out_dir]
    ) == 0
    rows = {r["doc_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert rows[2]["ppl"] == max(r["ppl"] for r in rows.values())

    tri_dir = str(tmp_path / "lm_tri_jm")
    assert main(
        ["train-filter", "--parquet", data, "--method", "lm",
         "--ngram", "3", "--output", tri_dir]
    ) == 0
    capsys.readouterr()
    with _pytest.raises(SystemExit, match="BIGRAM"):
        main(["score", "--parquet", data, "--method", "lm",
              "--model", tri_dir, "--smoothing", "jm"])


@pytest.mark.parametrize("smoothing", ["kn", "sb", "jm", "addk"])
def test_kn_sb_shuffle_fallback_salts_skewed_key(spark, smoothing):
    """ALL FOUR smoothing families share the skew guard on the
    over-bound shuffle fallback (the scoring core's _join_models).
    Planted 90%-one-n-gram corpus + broadcast_max_rows=0: each scorer
    must detect the concentrated key distribution (entropy probe rides
    the scalar agg it already runs) and salt the score joins, with
    output row-identical to the broadcast path; a uniform corpus's
    fallback must NOT salt."""
    import warnings as _warnings

    from csvb_spark.operators.lm import (
        bigram_lm_train,
        jelinek_mercer_score,
        kneser_ney_score,
        perplexity_score,
        stupid_backoff_score,
        trigram_lm_train,
    )

    if smoothing == "kn":
        train, score = bigram_lm_train, kneser_ney_score
    elif smoothing == "jm":
        train, score = bigram_lm_train, jelinek_mercer_score
    elif smoothing == "addk":
        train, score = bigram_lm_train, perplexity_score
    else:
        train, score = trigram_lm_train, stupid_backoff_score

    rows = [(i, "the the the the the the the the") for i in range(90)] + [
        (100 + i, f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    lm = train(docs)

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        salted = score(docs, lm, broadcast_max_rows=0)
    assert any("salting" in str(w.message) for w in caught)
    plan = _plan_of(salted)
    assert "xxhash64" in plan  # the salt scatter is in the plan
    assert "BroadcastHashJoin" not in plan

    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, score(docs, lm, broadcast_model=True).collect()))
    assert a == b

    # uniform corpus: fallback shuffles but does NOT salt
    uni_docs = spark.createDataFrame(
        [(i, f"u{i} v{i} w{i} x{i}") for i in range(50)],
        "doc_id bigint, text string",
    )
    uni_lm = train(uni_docs)
    with _warnings.catch_warnings(record=True) as caught2:
        _warnings.simplefilter("always")
        unsalted = score(uni_docs, uni_lm, broadcast_max_rows=0)
    assert not any("salting" in str(w.message) for w in caught2)
    assert "xxhash64" not in _plan_of(unsalted)


def test_doremi_domain_weights_semantics(spark):
    """DoReMi polarity (round 14, x142): the domain whose text the
    TARGET-trained reference LM penalizes (off-target junk) gets the
    smaller mixture share — weight ∝ exp(anlp_corpus − anlp_target),
    and the reference term dominates for off-target text. Shares
    normalize to 1 and every domain appears once."""
    from csvb_spark.operators.lm import doremi_domain_weights

    clean = [
        f"the quick brown fox jumps over the lazy dog number {i}"
        for i in range(30)
    ]
    junk = [
        f"zxq wvv qqj {i} kpf mmz jjx vvq zzt {i * 7} qqp"
        for i in range(30)
    ]
    rows = [(i, t, "clean") for i, t in enumerate(clean)] + [
        (100 + i, t, "junk") for i, t in enumerate(junk)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    target = docs.filter("source = 'clean'")
    out = {
        r.domain: r
        for r in doremi_domain_weights(docs, target).collect()
    }
    assert set(out) == {"clean", "junk"}
    assert out["clean"].n_docs == 30 and out["junk"].n_docs == 30
    assert out["clean"].mixture_share > out["junk"].mixture_share
    assert abs(out["clean"].mixture_share + out["junk"].mixture_share - 1.0) < 1e-5


def test_doremi_target_pred_matches_target_df(spark):
    """Round-16 refactor pin: the fused target_pred path (one
    explode+groupBy training BOTH models, one corpus pass scoring
    both) must produce EXACTLY the rows of the generic path given the
    equivalent target DataFrame — same domains, counts, bit-identical
    doubles. Covers empty/NULL text (sentinel rows), a domain whose
    docs are all too short to score, NULL domain values, and docs
    matching neither/both halves of the predicate."""
    from csvb_spark.operators.lm import doremi_domain_weights

    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "news"),
        (1, "the quick brown fox sleeps", "news"),
        (2, "zxq wvv qqj kpf mmz jjx vvq", "spam"),
        (3, "zxq wvv mmz", "spam"),
        (4, None, "empty"),
        (5, "", "empty"),
        (6, "single", "short"),
        (7, "the lazy dog sleeps", None),
        (8, "quick brown quick brown", "news"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )
    import pytest as _pytest

    pred_rows = sorted(
        doremi_domain_weights(docs, target_pred="doc_id % 2 = 0").collect(),
        key=lambda r: (r["domain"] is None, r["domain"]),
    )
    df_rows = sorted(
        doremi_domain_weights(docs, docs.filter("doc_id % 2 = 0")).collect(),
        key=lambda r: (r["domain"] is None, r["domain"]),
    )
    assert [tuple(r) for r in pred_rows] == [tuple(r) for r in df_rows]
    # the over-broadcast-bound fallback (fused train, two scoring
    # passes) is value-identical too
    fb_rows = sorted(
        doremi_domain_weights(
            docs, target_pred="doc_id % 2 = 0", broadcast_max_rows=1
        ).collect(),
        key=lambda r: (r["domain"] is None, r["domain"]),
    )
    assert [tuple(r) for r in fb_rows] == [tuple(r) for r in pred_rows]
    # the target= branch honours the bound too: both scoring passes
    # warn and shuffle, with the same weights
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df_fb_rows = sorted(
            doremi_domain_weights(
                docs, docs.filter("doc_id % 2 = 0"), broadcast_max_rows=0
            ).collect(),
            key=lambda r: (r["domain"] is None, r["domain"]),
        )
    assert any("broadcast_max_rows" in str(w.message) for w in caught)
    assert [tuple(r) for r in df_fb_rows] == [tuple(r) for r in df_rows]
    # exactly one of target / target_pred, loudly
    with _pytest.raises(ValueError, match="exactly one"):
        doremi_domain_weights(docs)
    with _pytest.raises(ValueError, match="exactly one"):
        doremi_domain_weights(
            docs, docs.filter("doc_id % 2 = 0"), target_pred="doc_id % 2 = 0"
        )


def test_doremi_fused_broadcast_gates_on_both_models(spark, monkeypatch):
    """The fused target_pred branch broadcasts the base AND the target
    model in one stage, so its gate counts both. A bound the base
    model alone fits under, but the pair does not, takes the generic
    one-model-per-pass scoring, with identical weights."""
    import warnings

    import csvb_spark.operators.lm as lm

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog", "news"),
            (1, "the quick brown fox sleeps", "news"),
            (2, "zxq wvv qqj kpf mmz jjx vvq", "spam"),
            (3, "zxq wvv mmz", "spam"),
            (4, "quick brown quick brown", "news"),
        ],
        "doc_id bigint, text string, source string",
    )
    sizes, fused = [], []
    stats, pair = lm._model_stats, lm._addk_scores_pair

    def spy_stats(*args):
        row = stats(*args)
        sizes.append(row["rows"])
        return row

    def spy_pair(*args):
        fused.append(1)
        return pair(*args)

    monkeypatch.setattr(lm, "_model_stats", spy_stats)
    monkeypatch.setattr(lm, "_addk_scores_pair", spy_pair)

    def weights(bound: int) -> list[tuple]:
        sizes.clear()
        fused.clear()
        out = lm.doremi_domain_weights(
            docs, target_pred="doc_id % 2 = 0", broadcast_max_rows=bound
        ).collect()
        return sorted(tuple(r) for r in out)

    want = weights(8_000_000)
    assert fused
    n_base, n_target = sizes[:2]
    assert 0 < n_target <= n_base
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # each model alone still broadcasts
        got = weights(n_base)  # the old gate: base rows <= bound
    assert not fused
    assert got == want


def test_doremi_iterated_trajectory_semantics(spark, sf_dir):
    """Iterated DoReMi structural invariants: one row per
    (round, domain); per-round shares normalize to ~1; avg_share is
    the across-rounds mean of the 6-rounded shares; every round-1
    budget is the uniform floor(N/D) clamp and every round-2 budget
    derives from round-1 shares; rounds<1 fails loudly."""
    import math
    from decimal import Decimal

    import pytest as _pytest

    from csvb_spark.operators.lm import doremi_domain_weights_iterated

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter("doc_id % 7 = 0")
    out = doremi_domain_weights_iterated(docs, target, rounds=2).collect()
    n_total = docs.count()
    domains = {r.domain for r in out}
    assert len(out) == 2 * len(domains)
    by_round: dict[int, list] = {}
    for r in out:
        by_round.setdefault(r.round, []).append(r)
    assert set(by_round) == {1, 2}
    for t, rows in by_round.items():
        s = sum(Decimal(str(r.mixture_share)) for r in rows)
        assert abs(float(s) - 1.0) < 1e-4, (t, s)  # 6-dec rounding slack
        for r in rows:
            assert 1 <= r.n_selected <= n_total
            assert math.isfinite(r.excess_anlp)
    # round-1 budgets are the uniform clamp
    share0 = Decimal(1) / Decimal(len(domains))
    for r in by_round[1]:
        assert r.n_selected <= int(
            Decimal(str(round(float(share0), 6))) * n_total
        ) + 1
    # avg_share = mean of the two 6-rounded shares, same on both rows
    shares = {
        (r.round, r.domain): Decimal(str(r.mixture_share)) for r in out
    }
    from decimal import ROUND_HALF_UP

    for r in out:
        # Spark F.round is HALF_UP — python round() is banker's and
        # disagrees on exact 7th-decimal ties like 0.0477415
        mean = (shares[(1, r.domain)] + shares[(2, r.domain)]) / 2
        want = float(
            Decimal(str(float(mean))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        assert abs(r.avg_share - want) < 1e-9, r
    with _pytest.raises(ValueError, match="rounds"):
        doremi_domain_weights_iterated(docs, target, rounds=0)


def test_doremi_iterated_unscoreable_domain_oracle_corner(spark, tmp_path):
    """Round-15 review find: a domain whose docs are ALL too short to
    score (single-token → no bigrams → NULL perplexity) never reaches
    the round-1 aggregate, and the operator deliberately carries its
    share forward while still budgeting its docs into the round-2
    selection. The oracle's round-2 budget (n2) INNER-JOINed s1,
    silently dropping that domain's docs from the round-2 proxy
    corpus — the two engines trained different proxies in exactly the
    corner the operator handles. n2 now LEFT JOINs with the
    carried-forward (initial uniform) share; this synthetic corpus —
    one all-singleton domain among two scoreable ones — hash-matches
    the full trajectory through the real corpus entry."""
    import duckdb

    from csvb_spark.queries import corpus
    from tests.oracle_compare import compare

    rows = []
    for i in range(90):
        if i % 3 == 0:
            txt = f"the quick brown fox jumps over the lazy dog {i}"
            dom = "clean"
        elif i % 3 == 1:
            txt = f"zxq wvv qqj {i} kpf mmz jjx vvq zzt {i * 7} qqp"
            dom = "junk"
        else:
            txt = "solo"  # one token: zero bigrams, unscoreable
            dom = "tiny"
        rows.append((i, txt, "en", dom, len(txt)))
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    q = corpus()["x145_doremi_iterated"]
    df = q.spark(spark, sf_dir)
    # the unscoreable domain must be absent from the OUTPUT (no
    # scored rows) while its docs still shaped the round-2 proxy
    assert set(r.domain for r in df.collect()) == {"clean", "junk"}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    problems = compare(q.spark(spark, sf_dir), con, q.oracle)
    assert not problems, problems


@pytest.mark.parametrize("smoothing", ["addk", "kn", "sb", "jm"])
def test_precomputed_model_stats_is_value_identical(spark, smoothing):
    """Round 15: the streaming gate probes the fixed model ONCE per
    stream (lm_model_stats) instead of once per micro-batch. The stats
    row is a pure function of the model, so passing it back in must
    yield row-identical scores — and an unknown smoothing name fails
    loudly."""
    from csvb_spark.operators.lm import (
        jelinek_mercer_score,
        kneser_ney_score,
        lm_model_stats,
        stupid_backoff_score,
        trigram_lm_train,
    )

    docs = _corpus(spark)
    if smoothing == "sb":
        lm = trigram_lm_train(docs).localCheckpoint(eager=True)
        scorer = stupid_backoff_score
    else:
        lm = bigram_lm_train(docs).localCheckpoint(eager=True)
        scorer = {
            "addk": perplexity_score,
            "kn": kneser_ney_score,
            "jm": jelinek_mercer_score,
        }[smoothing]
    stats = lm_model_stats(lm, smoothing)
    base = sorted(
        map(tuple, scorer(docs, lm, model_materialized=True).collect())
    )
    fast = sorted(
        map(
            tuple,
            scorer(
                docs, lm, model_materialized=True, model_stats=stats
            ).collect(),
        )
    )
    assert base == fast

    with pytest.raises(ValueError, match="unknown smoothing"):
        lm_model_stats(lm, "nope")
