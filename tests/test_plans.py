"""Plan-shape regression tests + the MinHash verify-stage oracle.

The perf wins of rounds 2-3 are plan properties (merge-hinted band
self-join, no nested-loop joins, Arrow-batched IVF, top-k via
TakeOrderedAndProject). EXPLAIN-based assertions keep refactors from
silently regressing them.

The verify-stage oracle gives p09's exact-Jaccard verification math a
hard DuckDB signal: banding itself has no cross-engine twin (xxhash64),
but ``word_shingles`` + intersect/union Jaccard is SQL-expressible —
same pattern x140 (formerly gate slot p06) proves for char shingles.
"""

from __future__ import annotations

import re

import pytest


# the EXPLAIN hook moved to product code with the round-12 plan lint;
# keep the local name so the assertions below read unchanged
from csvb_spark.plans.lint import physical_plan as _plan  # noqa: E402


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- MinHash verify-stage oracle -----------------------------------------------


def test_word_shingle_jaccard_matches_duckdb(spark, sf_dir):
    """The exact-Jaccard verification inside minhash_lsh_pairs
    (word_shingles → intersect/union ratio) matches DuckDB on a fixed
    candidate set — so p09's verify stage has a hard correctness
    signal even though the banded candidate generation can't."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.dedup import word_shingles
    from tests.oracle_compare import compare, duck_connection

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 30)
    sh = d.select("doc_id", word_shingles("text", 3).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    spark_df = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("doc_id_a"),
        F.col("b.doc_id").alias("doc_id_b"),
        F.round(
            F.size(F.array_intersect("a.sh", "b.sh"))
            / F.size(F.array_union("a.sh", "b.sh")),
            6,
        ).alias("jaccard"),
    )
    oracle = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
  FROM documents WHERE doc_id < 30
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[g:g+2], ' ')
                        FOR g IN generate_series(1, greatest(len(t) - 2, 1))]) AS s
  FROM toks
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
"""
    problems = compare(spark_df, duck_connection(sf_dir), oracle)
    assert not problems, "; ".join(problems)


# --- plan-shape regressions -----------------------------------------------------


def test_minhash_plan_shape(spark, sf_dir):
    """p09: the band-bucket self-join must stay a (merge-hinted)
    shuffle join — a broadcast plan rebuilds the signature pipeline
    twice with no exchange reuse, and a nested-loop join would be the
    all-pairs catastrophe banding exists to avoid."""
    from csvb_spark.operators.dedup import minhash_lsh_pairs

    plan = _plan(minhash_lsh_pairs(_docs(spark, sf_dir), min_jaccard=0.4))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan  # merge hint on the band self-join held


def test_minhash_signature_stays_codegen(spark, sf_dir):
    """The signature path must stay explode + partial-agg groupBy-min
    (whole-stage codegen), not interpreted higher-order lambdas: the
    shuffle carries one fixed-width row per document."""
    from csvb_spark.operators.dedup import minhash_signatures

    plan = _plan(minhash_signatures(_docs(spark, sf_dir)))
    assert "Generate" in plan and "explode" in plan  # shingle explode
    # partial aggregation on the map side: the shuffle carries one
    # fixed-width (doc_id, 16×int64) row per document, never the
    # exploded shingle stream
    assert "partial_min" in _plan(minhash_signatures(_docs(spark, sf_dir)), "simple")


@pytest.mark.parametrize("n_probes", [1, 2])
def test_ivf_plan_shape(spark, sf_dir, n_probes):
    """p14 (one probe) and x52 (two): one path, the P = 1 case of the
    probe-MATRIX shape. The corpus side is scan → one Arrow-batched
    pandas UDF (cell, row norm, dot with every probe) → scalar
    filter/top-k. No higher-order aggregate evaluation (r3's fallback
    evaluated K interpreted HOF dot products per corpus row), no join
    at all (probes are driver-side literal arrays), top-k via
    TakeOrderedAndProject."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.similarity import ivf_topk

    e = _embs(spark, sf_dir)
    probe = e.filter(F.col("vec_id") < n_probes)
    out = ivf_topk(e, probe, k=10).collect()
    assert len(out) == 10
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in out)
    plan = _plan(ivf_topk(e, probe, k=10))
    assert "ArrowEvalPython" in plan  # vectorized assignment/scoring
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan  # probes are driver-side constants
    assert "aggregate(" not in plan  # no interpreted HOF folds


@pytest.mark.parametrize("metric", ["cos", "l2ip", "l2"])
def test_cell_kernel_matches_sql_folds(spark, sf_dir, metric):
    """The numpy fold behind the cell kernel is bit-equal to the SQL
    ``dot`` formulation of each metric (and so to the DuckDB oracles'
    ``list_dot_product``) for every row × centroid, run on the driver
    and inside a pandas UDF on the executors; the kernel's cell is the
    SQL argmin with lower-cid ties."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from csvb_spark.operators import similarity as S

    e = _embs(spark, sf_dir)
    book = S.seed_centroids(e, 8)
    ids, C = S._book_arrays(book)
    v = S.as_double(F.col("embedding"))

    def sql_dist(cv):
        c = F.array(*[F.lit(x) for x in cv])
        if metric == "l2":
            diff = F.zip_with(v, c, lambda x, y: x - y)
            return S.dot(diff, diff)
        if metric == "l2ip":
            return S.dot(c, c) - 2.0 * S.dot(v, c)
        return -(S.dot(v, c) / F.sqrt(S.dot(c, c)))

    dist = S._dist

    def on_executor(vs):
        return pd.Series(list(dist(np.stack(vs.tolist()), C, metric)))

    on_executor.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    rows = e.select(
        "embedding",
        F.array(*[sql_dist(book[c]) for c in ids]).alias("sql"),
        pandas_udf(on_executor, "array<double>")("embedding").alias("ex"),
        S._cell_kernel([book], metric)(F.col("embedding"))[0].alias("cell"),
    ).collect()
    on_driver = dist(np.array([r.embedding for r in rows]), C, metric)
    assert len(rows) == 500
    for r, drv in zip(rows, on_driver):
        assert r.sql == list(r.ex) == drv.tolist()
        assert r.cell == min(zip(r.sql, ids.tolist()))[1]


def test_similarity_udfs_unpickle_without_csvb_spark(spark, tmp_path):
    """Executor closures capture only numpy arrays and functions built
    inside the module: every similarity UDF's pickled function loads
    and runs, with the same output, in an interpreter where importing
    csvb_spark fails. (A search of the pickle bytes for "csvb_spark"
    cannot express this: cloudpickle records the source file and
    module name of every function it ships by value.)"""
    import subprocess
    import sys

    import numpy as np
    import pandas as pd
    from pyspark import cloudpickle

    from csvb_spark.operators import similarity as S

    book = {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [1.0, 1.0]}
    pq = [{0: [1.0], 1: [-1.0]}, {0: [0.5], 1: [2.0]}]
    funcs = [
        u.func
        for u in (
            S._cell_kernel([book], "cos", probes=np.array([[1.0, 2.0]])),
            S._cell_kernel([book], "l2ip", 2),
            S._cell_kernel(pq, "l2"),
        )
    ]
    script = """
import pickle, sys
class _NoCsvb:
    def find_spec(self, name, path=None, target=None):
        if name.split(".")[0] == "csvb_spark":
            raise ImportError("csvb_spark is not importable here")
sys.meta_path.insert(0, _NoCsvb())
import numpy as np, pandas as pd
funcs = pickle.loads(sys.stdin.buffer.read())
vs = pd.Series([np.array(x, dtype=np.float32) if x else None
                for x in ([0.9, 0.1], None, [1.0], [-2.0, 3.0])])
print(repr([f(vs) for f in funcs]))
assert not [m for m in sys.modules if m.startswith("csvb_spark")]
"""
    got = subprocess.run(
        [sys.executable, "-c", script],
        input=cloudpickle.dumps(funcs),
        capture_output=True,
        cwd=tmp_path,
        timeout=120,
    )
    assert got.returncode == 0, got.stderr.decode()
    vs = pd.Series(
        [np.array(x, dtype=np.float32) if x else None
         for x in ([0.9, 0.1], None, [1.0], [-2.0, 3.0])]
    )
    assert got.stdout.decode().strip() == repr([f(vs) for f in funcs])


def test_ivf_bounded_probe_contract_enforced(spark, sf_dir):
    """An over-bound probe table raises (pointing at knn_join) instead
    of silently collecting to the driver; knn_join handles the same
    input distributed (VERDICT r7 task 4)."""
    import pytest

    from csvb_spark.operators.similarity import ivf_topk, knn_join

    e = _embs(spark, sf_dir)
    big_probe = e  # the whole corpus as probes: the knn_join shape
    with pytest.raises(ValueError, match="knn_join"):
        ivf_topk(e, big_probe, k=3, max_probes=5)
    # the distributed operator accepts exactly the same input
    out = knn_join(e, big_probe.limit(8), k=2)
    assert out.count() == 16  # 8 probes x k=2
    # and a probe inside the bound still works
    assert ivf_topk(e, e.filter(e.vec_id < 3), k=3, max_probes=5).count() == 3


def test_sample_frames_vectorized_slices(spark):
    """Frame sampling's slice math (equal payload slices, clamped at
    the end, n_frames rows per doc even for short/empty payloads) —
    pinned against hand-computed frames so the NumPy index-arithmetic
    path can't drift from the documented stub semantics."""
    import zlib

    from csvb_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, b"abcdefghij"), (2, b"xy"), (3, b"")],
        "doc_id long, payload binary",
    )
    out = sample_frames(df, n_frames=4).collect()
    got = {
        (r.doc_id, r.frame_id): (bytes(r.frame_bytes), r.frame_len, r.frame_crc)
        for r in out
    }
    assert len(out) == 12  # 3 docs × 4 frames, empties included
    expected = {
        (1, 0): b"ab", (1, 1): b"cd", (1, 2): b"ef", (1, 3): b"gh",
        (2, 0): b"x", (2, 1): b"y", (2, 2): b"", (2, 3): b"",
        (3, 0): b"", (3, 1): b"", (3, 2): b"", (3, 3): b"",
    }
    for key, fb in expected.items():
        assert got[key] == (fb, len(fb), zlib.crc32(fb)), key


def test_wide_gram_keys_change_nothing_at_fixture_scale(spark, sf_dir):
    """wide_gram_keys=True (the >2^32-distinct-gram scale flag) swaps
    the 64-bit gram key for a two-seeded 128-bit composite; outputs
    must be row-identical at any scale where neither key collides —
    the flag exists for the birthday bound, not for semantics."""
    from csvb_spark.operators.dedup import substring_spans
    from csvb_spark.operators.splits import contamination_check
    from csvb_spark.operators.text import bigram_familiarity

    docs = _docs(spark, sf_dir)
    for fn in (
        lambda w: substring_spans(docs, wide_gram_keys=w),
        lambda w: substring_spans(docs, policy="keep_first", wide_gram_keys=w),
        lambda w: bigram_familiarity(docs, wide_gram_keys=w),
        lambda w: contamination_check(
            docs, docs.limit(50), wide_gram_keys=w
        ),
    ):
        narrow = {tuple(r) for r in fn(False).collect()}
        wide = {tuple(r) for r in fn(True).collect()}
        assert narrow == wide and narrow


def test_knn_join_ivf_prunes_to_cell_equi_join(spark, sf_dir):
    """x51: with a codebook, knn_join's candidate generation is a
    broadcast HASH join on cid — the ranking exchange is bounded by
    the cell join (≈ nprobe/K of the cross product), never a
    nested-loop cross join. The exact path keeps the cross join by
    design (bounded probe contract)."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.similarity import kmeans_train, knn_join

    e = _embs(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < 20)
    cb = kmeans_train(e, k=8, iters=1)
    plan = _plan(knn_join(e, probes, k=5, centroids=cb, nprobe=2))
    assert "BroadcastHashJoin" in plan  # cid equi-join
    assert "BroadcastNestedLoopJoin" not in plan  # no cross product
    exact_plan = _plan(knn_join(e, probes, k=5))
    assert "BroadcastNestedLoopJoin" in exact_plan


def test_knn_join_codebook_validation(spark, sf_dir):
    """A codebook smaller than nprobe or with ragged dimensions is
    rejected at build time, not via a silent KeyError downstream."""
    import pytest
    from pyspark.sql import functions as F

    from csvb_spark.operators.similarity import kmeans_train, knn_join

    e = _embs(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < 5)
    cb = kmeans_train(e, k=2, iters=1)
    with pytest.raises(ValueError, match="nprobe"):
        knn_join(e, probes, centroids=cb, nprobe=4)
    ragged = cb.filter("NOT (cid = 1 AND pos = 1)")  # drop one component
    with pytest.raises(ValueError, match="dimensions"):
        knn_join(e, probes, centroids=ragged, nprobe=2)


def _ragged_embs(spark):
    """Twelve 4-dim vectors plus one NULL (id 12) and one 2-dim vector
    (id 13)."""
    import numpy as np

    vecs = np.random.RandomState(5).standard_normal((12, 4)).round(3).tolist()
    rows = [(i, v) for i, v in enumerate(vecs)] + [(12, None), (13, [50.0, 50.0])]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_family_skips_null_and_wrong_dim_vectors(spark):
    """A NULL or wrong-dim vector has no cell: it is never an IVF or
    IVF-PQ candidate, never enters a k-means centroid, and gets NULL PQ
    codes; as a probe it raises on the driver. (Before, np.stack failed
    on the ragged batch, and a NULL distance sorted first in
    array_min, so both rows landed in cell 0 and the 2-dim vector
    dragged a k-means centroid toward (50, 50).)"""
    import pytest
    from pyspark.sql import functions as F

    from csvb_spark.operators import similarity as S

    e = _ragged_embs(spark)
    good = e.filter(F.col("vec_id") < 12)
    valid = set(range(12))

    def ids(df, col="vec_id"):
        return {r[col] for r in df.collect()}

    one = S.ivf_topk(e, e.filter("vec_id = 0"), k=20, n_centroids=3, nprobe=3)
    assert ids(one) == valid - {0}
    two = S.ivf_topk(e, e.filter("vec_id < 2"), k=40, n_centroids=3, nprobe=3)
    assert ids(two) == valid
    for bad, msg in ((12, "NULL"), (13, "2-dim")):
        with pytest.raises(ValueError, match=msg):
            S.ivf_topk(e, e.filter(F.col("vec_id") == bad), n_centroids=3, nprobe=1)

    cb = S.kmeans_train(e, k=3, iters=1)
    assert sorted(cb.collect()) == sorted(S.kmeans_train(good, k=3, iters=1).collect())

    knn = S.knn_join(e, e.filter("vec_id < 2"), k=20, centroids=cb, nprobe=3)
    assert ids(knn) == valid
    assert all(r.cos_sim is not None for r in knn.collect())

    pq = S.pq_seeded_codebook(m=2, k=2, sub=2, seed=3)
    codes = {r.vec_id: (r.code_0, r.code_1) for r in S.pq_encode(e, pq).collect()}
    assert codes[12] == codes[13] == (None, None)
    assert all(None not in codes[i] for i in valid)

    ivfpq = S.ivfpq_topk(e, e.filter("vec_id = 0"), pq, k=20, n_centroids=3, nprobe=3)
    assert ids(ivfpq) == valid - {0}


def test_cell_assignment_plans_have_no_hof_folds(spark, sf_dir, monkeypatch, tmp_path):
    """Every cell assignment runs in the Arrow-batched kernel: no
    interpreted ``aggregate(`` fold in the plans kmeans_train collects,
    write_ivf_index writes, pq_encode and ivfpq_topk build, and
    knn_join(centroids=) keeps only the scoring folds the exact path
    has."""
    from pyspark.sql import functions as F

    from csvb_spark.operators import similarity as S

    e = _embs(spark, sf_dir)
    seen: list[str] = []
    collect, parquet = type(e).collect, type(e.write).parquet

    def spy_collect(df):
        seen.append(_plan(df))
        return collect(df)

    def spy_parquet(writer, path, *a, **kw):
        seen.append(_plan(writer._df))  # noqa: SLF001
        return parquet(writer, path, *a, **kw)

    monkeypatch.setattr(type(e), "collect", spy_collect)
    monkeypatch.setattr(type(e.write), "parquet", spy_parquet)
    cb = S.kmeans_train(e, k=4, iters=1)
    S.write_ivf_index(e, cb, str(tmp_path / "idx"))
    monkeypatch.undo()
    assignments = [p for p in seen if "ArrowEvalPython" in p]
    assert len(assignments) == 2  # one Lloyd pass + the index write
    pq = S.pq_seeded_codebook(m=4, k=4, sub=16, seed=11, scale=0.1)
    probe = e.filter(F.col("vec_id") == 0)
    assignments += [
        _plan(S.pq_encode(e, pq)),
        _plan(S.ivfpq_topk(e, probe, pq, k=10, n_centroids=8, nprobe=2)),
    ]
    for plan in assignments:
        assert "ArrowEvalPython" in plan and "aggregate(" not in plan
    probes = e.filter(F.col("vec_id") < 20)
    ivf = _plan(S.knn_join(e, probes, k=5, centroids=cb, nprobe=2))
    exact = _plan(S.knn_join(e, probes, k=5))
    assert "ArrowEvalPython" in ivf
    assert ivf.count("aggregate(") == exact.count("aggregate(")


def test_knn_join_exclude_self_off_keeps_equal_ids(spark, sf_dir):
    """Cross-table callers with independent id spaces can disable the
    self-match filter: rnk 1 for an identical vector is the id itself
    with cosine 1."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.similarity import knn_join

    e = _embs(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < 3)
    out = knn_join(e, probes, k=1, exclude_self=False).collect()
    assert {(r.probe_id, r.vec_id) for r in out} == {(i, i) for i in range(3)}
    assert all(r.cos_sim == 1.0 for r in out)


def test_brute_force_topk_plan_shape(spark, sf_dir):
    """p07: broadcast 1-row probe (never a shuffle), top-k via
    TakeOrderedAndProject (never a global sort)."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.similarity import brute_force_topk

    e = _embs(spark, sf_dir)
    plan = _plan(brute_force_topk(e, e.filter(F.col("vec_id") == 0), k=10))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row broadcast cross join
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_containment_pairs_subset_dup(spark, sf_dir):
    """x97: a short doc quoted whole inside a long one scores
    containment 1.0 in the A-in-B direction only — the asymmetric
    fact Jaccard misses; the index join stays an equi-join."""
    from csvb_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "unrelated words only here now")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["containment"]
        for r in containment_pairs(docs, min_containment=0.5).collect()
    }
    assert got[(1, 2)] == 1.0  # short fully contained in long
    assert (2, 1) not in got  # reverse direction dilutes below 0.5
    assert not any(3 in pair for pair in got)

    # stop-shingle cap: with max_df=2 hiding nothing changes here
    # (every shared shingle has df=2); the plan is equi-join only
    plan = _plan(containment_pairs(_docs(spark, sf_dir)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_df"):
        containment_pairs(docs, max_df=1)


def test_ngram_novelty_planted(spark):
    """x98: duplicated docs score 0 novelty, a fully unique doc
    scores 1.0, and a half-shared doc lands exactly between."""
    from csvb_spark.operators.dedup import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),      # twin of 2 -> 0.0
            (2, "alpha beta gamma delta"),
            (3, "wholly unique trigram words"), # -> 1.0
            # shares its first trigram with 1/2, second is unique
            (4, "alpha beta gamma unique"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(docs).collect()}
    assert out[1]["novelty"] == 0.0 and out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 1.0
    assert out[4]["n_grams"] == 2 and out[4]["n_unique"] == 1
    assert out[4]["novelty"] == 0.5


def test_c4_line_filter_differential(spark):
    """Seeded adversarial corpus (punctuation/quotes/blocked words/
    whitespace-only lines/empty/NULL/unicode) vs an independent pure-
    Python model of the C4 rules — every column must match."""
    import random
    import re

    from csvb_spark.operators.text import c4_line_filter

    rng = random.Random(42)
    vocab = [
        "alpha", "beta", "javascript", "JavaScript", "lorem", "ipsum",
        "{", "}", "word", "x", "é", "...", '"', "end.", "huh?", "yes!",
        "", " ", "\t",
    ]
    docs = []
    for i in range(200):
        if i % 37 == 0:
            docs.append((i, None))
            continue
        lines = [
            " ".join(rng.choices(vocab, k=rng.randint(0, 8)))
            for _ in range(rng.randint(0, 6))
        ]
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_line_filter(df, min_kept_lines=2).collect()}

    def model(text):
        if text is None:
            return (0, 0, False, "")
        segs = text.split("\n")
        kept = []
        for s in segs:
            t = s.strip()
            words = re.split(r"\s+", t)
            ok = (
                len(words) >= 3
                and len(t) > 0
                and re.search(r'[.!?"]$', t) is not None
                and "javascript" not in t.lower()
            )
            if ok:
                kept.append(s)
        low = text.lower()
        keep_doc = (
            len(kept) >= 2 and "lorem ipsum" not in low and "{" not in low
        )
        return (len(segs), len(kept), keep_doc, "\n".join(kept))

    for i, text in docs:
        exp = model(text)
        r = got[i]
        actual = (r["n_lines"], r["n_kept"], r["keep_doc"], r["clean_text"])
        assert actual == exp, f"doc {i}: {actual} != {exp} for {text!r}"


def test_matryoshka_topk_funnel(spark, sf_dir):
    """x96: the funnel plan mirrors p07 (broadcast probe, two
    TakeOrderedAndProject stages, no shuffle join) — and the funnel
    SEMANTICS hold: a vector whose similarity lives only in the tail
    dims never reaches the rerank."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.similarity import matryoshka_topk

    e = _embs(spark, sf_dir)
    out = matryoshka_topk(e, e.filter(F.col("vec_id") == 0), dims=16, k=10)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" in plan
    # two stages, each listed twice by the formatted explain (tree +
    # detail section)
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "SortMergeJoin" not in plan

    # planted funnel miss: id 2 matches the probe ONLY in dims 5-8
    # (its prefix is orthogonal to the probe's), id 1 matches in dims
    # 1-4 — with dims=4 the shortlist (size 1) keeps id 1 even though
    # id 2's full cosine is comparable. Prefixes stay nonzero-norm
    # (ANSI divide-by-zero).
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (1, [1.0, 1.0, 1.0, 1.0, 0.1, -0.1, 0.1, -0.1]),
        (2, [0.1, -0.1, 0.1, -0.1, 1.0, 1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = matryoshka_topk(
        df, df.filter(F.col("vec_id") == 0), dims=4, k=1, rerank_k=1
    ).collect()
    assert [r["vec_id"] for r in got] == [1]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="rerank_k"):
        matryoshka_topk(df, df, k=10, rerank_k=5)
    with _pytest.raises(ValueError, match="dims"):
        matryoshka_topk(df, df, dims=0)
    # single-probe contract is enforced, pointing at knn_join
    with _pytest.raises(ValueError, match="knn_join"):
        matryoshka_topk(df, df, k=1)


def test_q03_broadcasts_dimensions(spark, sf_dir):
    """q03: the customer dimension side must broadcast; only the
    orderkey edge shuffles."""
    from csvb_spark.queries import corpus

    plan = _plan(corpus()["q03_shipping_priority"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q01_pushes_filter_and_prunes_columns(spark, sf_dir):
    """q01: the shipdate filter reaches the parquet scan and the scan
    reads only the columns the query touches."""
    from csvb_spark.queries import corpus

    plan = _plan(corpus()["q01_pricing_summary"].spark(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "l_comment" not in plan  # column pruning held


# --- scrubbing / assembly operators (round 3) ---------------------------------


def test_scrub_operators_map_only(spark, sf_dir):
    """PII redaction, repetition stats, and mixture sampling are
    map-only JVM-side work: zero exchanges, zero Python evaluation."""
    from csvb_spark.operators.splits import mixture_sample
    from csvb_spark.operators.text import pii_redact, repetition_stats

    d = _docs(spark, sf_dir)
    for df in (
        pii_redact(d),
        repetition_stats(d),
        mixture_sample(d, {"src0": 0.5}),
    ):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_c4_line_filter_map_only(spark, sf_dir):
    """The C4 line/page filter is a pure per-row array filter — zero
    exchanges, zero Python evaluation (contrast line_dedup, whose
    cross-doc frequency count genuinely shuffles)."""
    from csvb_spark.operators.text import c4_line_filter

    plan = _plan(c4_line_filter(_docs(spark, sf_dir)))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_c4_line_filter_rules(spark):
    """Planted newline docs: each C4 rule fires on the line or page
    it should and nothing else."""
    from csvb_spark.operators.text import c4_line_filter

    docs = spark.createDataFrame(
        [
            # 5 good lines -> keep_doc
            (1, "\n".join(f"one two three four {i}." for i in range(5))),
            # terminal-punct rule drops the bare line; javascript rule
            # drops the third; only 1 survivor -> page dropped
            (2, "one two three four five.\nno terminal punct here\n"
                "Uses JavaScript for rendering."),
            # page-level phrase rules
            (3, "\n".join("lorem ipsum dolor sit amet." for _ in range(5))),
            (4, "\n".join("function f() { return 1; }." for _ in range(5))),
            # short line rule
            (5, "\n".join("too short." for _ in range(5))),
            # NULL text: empty-document outcome, keep_doc a REAL false
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in c4_line_filter(docs, min_kept_lines=5).collect()
    }
    assert out[1]["keep_doc"] and out[1]["n_kept"] == 5
    assert out[2]["n_kept"] == 1 and not out[2]["keep_doc"]
    assert out[2]["clean_text"] == "one two three four five."
    assert out[3]["n_kept"] == 5 and not out[3]["keep_doc"]  # lorem ipsum
    assert out[4]["n_kept"] == 5 and not out[4]["keep_doc"]  # curly brace
    assert out[5]["n_kept"] == 0 and not out[5]["keep_doc"]
    assert out[6]["n_lines"] == 0 and out[6]["n_kept"] == 0
    assert out[6]["keep_doc"] is False and out[6]["clean_text"] == ""


def test_pack_sequences_single_exchange(spark, sf_dir):
    """Concat-and-chunk packing is exactly one shuffle (the per-stream
    window sort): more exchanges would mean the cumsum re-partitioned."""
    from csvb_spark.operators.splits import pack_sequences

    plan = _plan(
        pack_sequences(_docs(spark, sf_dir), "n_chars", budget=4096), "simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_bucketed_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """The documented ANN scale path (SCALE.md §4): persist the
    bucketized corpus partitioned by bucket id, and a probe's bucket
    filter prunes at the FILE level — the scan's PartitionFilters
    carries the predicate and only the probed bucket's files are
    listed. This is what turns a bucket probe from 'scan everything,
    filter' into 'read 1/2^n_planes of the corpus'."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.similarity import bucketize

    out = str(tmp_path / "emb_by_bucket")
    bucketize(_embs(spark, sf_dir), n_planes=4).write.partitionBy(
        "bucket"
    ).parquet(out)
    # probe a bucket that exists (bucket population is data-dependent)
    some_bucket = spark.read.parquet(out).groupBy("bucket").count().first()[0]
    probed = spark.read.parquet(out).filter(F.col("bucket") == some_bucket)
    plan = _plan(probed)
    assert "PartitionFilters: [isnotnull(bucket" in plan
    # pruning is real: only the probed bucket's rows are read
    total = spark.read.parquet(out).count()
    assert 0 < probed.count() < total


def test_asof_join_has_no_join_node(spark, sf_dir):
    """The as-of join is union + window — there must be NO join
    operator at all (the naive theta-join formulation plans a
    BroadcastNestedLoopJoin, O(|L|·|R|) per key)."""
    from csvb_spark.queries import corpus

    plan = _plan(corpus()["x27_asof_join"].spark(spark, sf_dir), "simple")
    assert "Join" not in plan
    assert "Window" in plan


def test_range_join_binned_is_equi_join(spark, sf_dir):
    """The binned range join must plan as a shuffle equi-join on the
    bin key, never a nested-loop over the range predicate."""
    from csvb_spark.queries import corpus

    plan = _plan(corpus()["x28_range_join_binned"].spark(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_time_rollup_reuses_finest_partials(spark, sf_dir):
    """Every granularity level reads the persisted finest partials
    (InMemoryTableScan) — one raw scan serves all levels."""
    from csvb_spark.queries import corpus

    df = corpus()["x29_time_rollup"].spark(spark, sf_dir)
    try:
        assert _plan(df, "simple").count("InMemoryTableScan") == 3
    finally:
        spark.catalog.clearCache()


def test_dedup_incremental_finds_planted_exact_dups(spark, sf_dir):
    """An exact duplicate has an identical signature, hence identical
    band keys in EVERY band — incremental lookup can never miss it.
    Plant copies of corpus texts as a 'new batch' (fresh ids) and
    assert each is found with jaccard 1.0 against its source, using a
    PRECOMPUTED corpus band index (the at-scale flow)."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.dedup import dedup_incremental, minhash_bands

    corpus = _docs(spark, sf_dir).select("doc_id", "text")
    planted = (
        corpus.filter(F.col("doc_id") % 7 == 0)
        .limit(20)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    index = minhash_bands(corpus)
    found = dedup_incremental(
        planted, corpus, corpus_bands=index, min_jaccard=0.99
    ).collect()
    hits = {(r["new_doc_id"], r["corpus_doc_id"]) for r in found}
    for r in planted.collect():
        assert (r["doc_id"], r["doc_id"] - 1_000_000) in hits
    assert all(r["jaccard"] == 1.0 for r in found if r["new_doc_id"] - 1_000_000 == r["corpus_doc_id"])


def test_contamination_no_cartesian(spark, sf_dir):
    """The contamination candidate join is an equi-join on the gram
    hash — never a nested-loop/cartesian pair explosion."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.splits import contamination_check

    d = _docs(spark, sf_dir)
    plan = _plan(
        contamination_check(
            d.filter(F.col("doc_id") % 10 != 0),
            d.filter(F.col("doc_id") % 10 == 0),
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_band_index_bucket_pruning(spark, sf_dir, tmp_path):
    """A persisted bucket-partitioned band index gives the SAME
    answers as the in-memory index, and the probe plan carries a
    dynamic-partition-pruning subquery on the bucket column (so a
    probe batch only reads the index partitions it can collide
    with)."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.dedup import (
        dedup_incremental,
        write_band_index,
    )

    corpus = _docs(spark, sf_dir).select("doc_id", "text")
    planted = (
        corpus.filter(F.col("doc_id") % 11 == 0)
        .limit(10)
        .select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    )
    path = str(tmp_path / "band_index")
    write_band_index(corpus, path, n_buckets=16)
    idx = spark.read.parquet(path)
    assert "bucket" in idx.columns

    bucketed = dedup_incremental(
        planted, corpus, corpus_bands=idx, min_jaccard=0.99, n_buckets=16
    )
    plain = dedup_incremental(planted, corpus, min_jaccard=0.99)
    got = {tuple(r) for r in bucketed.collect()}
    assert got == {tuple(r) for r in plain.collect()}
    assert len(got) >= 10

    plan = _plan(bucketed)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_compact_band_index(spark, sf_dir, tmp_path):
    """Two appends fragment each bucket into two files; compaction
    rewrites to one file per bucket with an identical row multiset."""
    import glob

    from pyspark.sql import functions as F

    from csvb_spark.operators.dedup import compact_band_index, write_band_index

    corpus = _docs(spark, sf_dir).select("doc_id", "text")
    path = str(tmp_path / "idx")
    write_band_index(corpus.filter(F.col("doc_id") % 2 == 0), path, n_buckets=8)
    write_band_index(
        corpus.filter(F.col("doc_id") % 2 == 1), path, n_buckets=8, mode="append"
    )
    before = sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )
    frag = max(
        len(glob.glob(f"{b}/*.parquet")) for b in glob.glob(f"{path}/bucket=*")
    )
    assert frag >= 2

    n = compact_band_index(spark, path)
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert n == len(before) and before == after
    assert all(
        len(glob.glob(f"{b}/*.parquet")) == 1 for b in glob.glob(f"{path}/bucket=*")
    )


def test_substring_spans_planted_duplicate(spark, sf_dir):
    """A 15-token sentence planted in two otherwise-different docs must
    come back as one maximal span in each, exactly covering it."""
    from csvb_spark.operators import dedup

    shared = " ".join(f"dup{i}" for i in range(15))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma"),
            (2, shared + " delta epsilon zeta"),
            (3, "totally unrelated words " + " ".join(f"u{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in dedup.substring_spans(docs, k=10, min_docs=2).collect()
    }
    # doc 1: tokens 3..17 hold the sentence; doc 2: tokens 1..15
    assert got == {1: (3, 17, 15), 2: (1, 15, 15)}


def test_strip_spans_rewrites_only_planted(spark, sf_dir):
    from csvb_spark.operators import dedup

    shared = " ".join(f"dup{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared),
            (2, shared + " delta"),
            (3, "short clean doc"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup.strip_spans(docs, k=10, min_docs=2).collect()}
    assert got[1].clean_text == "alpha beta" and got[1].n_removed == 12
    assert got[2].clean_text == "delta" and got[2].n_removed == 12
    assert got[3].clean_text == "short clean doc" and got[3].n_removed == 0


def _exact_substring_spans(corpus, k, min_docs):
    """Brute-force exact reference for substring duplication spans:
    a position is covered iff it lies inside SOME contiguous token run
    of length >= k that occurs in >= min_docs distinct documents
    (occurrence checked by naive scan, no k-gram reasoning); spans are
    the maximal runs of covered positions, 1-based inclusive. O(n^4) —
    for tiny corpora only."""

    def occurs_in(needle, toks):
        n = len(needle)
        return any(toks[i : i + n] == needle for i in range(len(toks) - n + 1))

    out = {}
    for d, toks in corpus.items():
        covered = set()
        n = len(toks)
        for s in range(n):
            for e in range(s + k - 1, n):
                needle = toks[s : e + 1]
                nd = sum(1 for toks2 in corpus.values() if occurs_in(needle, toks2))
                if nd >= min_docs:
                    covered.update(range(s + 1, e + 2))  # 1-based inclusive
        spans = []
        for p in sorted(covered):
            if spans and p == spans[-1][1] + 1:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        out[d] = [(a, b, b - a + 1) for a, b in spans]
    return out


def test_substring_spans_match_exact_reference_on_adversarial_corpora(spark):
    """Differential vs the brute-force exact reference: for
    policy='all' the k-gram seed + island construction is
    COVERAGE-EXACT — every duplicated substring of length >= k has all
    its k-windows duplicated and vice versa, so emitted spans must
    equal the maximal covered runs bit-for-bit. Cases target the
    shapes where island merging could plausibly diverge: chained
    overlapping spans with DIFFERENT duplicate partners, nested
    repeats, periodic self-similar runs, sub-threshold (< k) repeats,
    and seeded-random heavy-overlap corpora; both the min/max
    min_docs=2 fast path and the count_distinct path run."""
    import random

    from csvb_spark.operators import dedup

    A = [f"a{i}" for i in range(4)]
    B = [f"b{i}" for i in range(5)]
    P = ["p0", "p1", "p2"]
    fixed = {
        # chained: doc1 holds A+B adjacent; A shared only with doc2,
        # B only with doc3 — doc1's island fuses them into one span no
        # single partner duplicates in full (coverage still exact)
        1: A + B,
        2: ["x1", "x2"] + A + ["x3"],
        3: B + ["y1", "y2", "y3"],
        # periodic run: self-similar within AND across docs
        4: ["w"] * 8 + ["z4"],
        5: ["z5"] + ["w"] * 5,
        # nested: P inside A-context in one doc, bare in another;
        # sub-threshold pair ("q1 q2" with k=3) must NOT seed
        6: ["q1", "q2"] + P + ["q1", "q2"],
        7: P + ["r7"],
    }
    corpora = [fixed]
    rng = random.Random(20260814)
    for _ in range(3):
        vocab = [f"t{i}" for i in range(6)]
        corpora.append(
            {
                d: [rng.choice(vocab) for _ in range(rng.randint(4, 18))]
                for d in range(1, 7)
            }
        )
    for corpus in corpora:
        docs = spark.createDataFrame(
            [(d, " ".join(toks)) for d, toks in corpus.items()],
            "doc_id long, text string",
        )
        for k, min_docs in ((3, 2), (3, 3), (4, 2)):
            expect = _exact_substring_spans(corpus, k, min_docs)
            got = {d: [] for d in corpus}
            for r in dedup.substring_spans(
                docs, k=k, min_docs=min_docs, policy="all"
            ).collect():
                got[r.doc_id].append((r.span_start, r.span_end, r.span_tokens))
            for d in corpus:
                assert sorted(got[d]) == expect[d], (d, k, min_docs, corpus[d])


def test_substring_spans_keep_first_ownership_granularity(spark):
    """keep_first's documented approximation is OWNERSHIP granularity:
    each duplicated gram is kept by its minimal owning doc, so a doc
    whose adjacent grams have different canonical owners strips the
    union while each owner keeps its own piece — quantified here on
    the adversarial chained-overlap shape."""
    from csvb_spark.operators import dedup

    A = [f"a{i}" for i in range(4)]
    B = [f"b{i}" for i in range(4)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(A + ["only1"])),            # canonical owner of A
            (2, " ".join(B + ["only2"])),            # canonical owner of B
            (3, " ".join(A + B)),                    # later copy of both
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.span_start, r.span_end)
        for r in dedup.substring_spans(docs, k=4, min_docs=2, policy="keep_first").collect()
    }
    # owners keep their copies; doc 3 strips the fused union (1..8)
    assert got == {3: (1, 8)}


def test_substring_spans_plan_shape(spark, sf_dir):
    """Span assembly must reuse one doc_id exchange (window + groupBy),
    and the dup-gram filter must come back as a broadcast semi-join —
    never a shuffled join of the full gram stream against itself."""
    from csvb_spark.operators import dedup
    from csvb_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    df = dedup.substring_spans(spark.table("documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 3


def test_ivf_accepts_trained_quantizer(spark, sf_dir):
    """kmeans_train output feeds ivf_topk as its coarse quantizer:
    train -> pivot -> query, deterministic across invocations."""
    from csvb_spark.operators import similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from pyspark.sql import functions as F

    trained = similarity.kmeans_train(embs, k=8, iters=2).collect()
    codebook: dict[int, list[float]] = {}
    for r in trained:
        codebook.setdefault(r.cid, [0.0] * 64)[r.pos - 1] = r.val
    probe = embs.filter(F.col("vec_id") == 0)

    def run():
        return [
            (r.vec_id, r.cos_sim)
            for r in similarity.ivf_topk(
                embs, probe, k=10, n_centroids=8, nprobe=4, centroids=codebook
            ).collect()
        ]

    got = run()
    assert len(got) == 10
    assert all(got[i][1] >= got[i + 1][1] for i in range(9))  # sorted desc
    assert all(vid != 0 for vid, _ in got)  # probe excluded
    assert got == run()  # deterministic

    # a bad codebook fails loudly at build time, not downstream
    import pytest

    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivf_topk(
            embs, probe, nprobe=4, centroids={0: codebook[0], 1: codebook[1]}
        )
    with pytest.raises(ValueError, match="dimensions"):
        similarity.ivf_topk(
            embs, probe, nprobe=1, centroids={0: codebook[0], 1: codebook[1][:32]}
        )


def _ref_substring_spans(rows, k=10, min_docs=2):
    """Pure-Python reference for substring_spans (string grams, no
    hashing — also cross-checks the operator's no-collision
    assumption on these inputs)."""
    import re
    from collections import defaultdict

    toks = {d: re.split(r"\s+", t.strip()) for d, t in rows}
    gram_docs = defaultdict(set)
    positions = defaultdict(list)
    for d, w in toks.items():
        for i in range(1, len(w) - k + 2):
            g = " ".join(w[i - 1 : i - 1 + k])
            gram_docs[g].add(d)
            positions[d].append((i, g))
    out = set()
    for d, lst in positions.items():
        starts = sorted(i for i, g in lst if len(gram_docs[g]) >= min_docs)
        spans = []
        for s in starts:
            if spans and s <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], s + k - 1)
            else:
                spans.append([s, s + k - 1])
        for a, b in spans:
            out.add((d, a, b, b - a + 1))
    return out


def test_substring_spans_edge_corpora(spark, sf_dir):
    from csvb_spark.operators import dedup

    s15 = " ".join(f"s{i}" for i in range(15))
    t15 = " ".join(f"t{i}" for i in range(15))
    corpora = [
        # identical docs -> full-doc spans
        [(1, "a b c d e f g h i j k l"), (2, "a b c d e f g h i j k l")],
        # shorter than k -> nothing
        [(1, "a b c d e f g h i"), (2, "a b c d e f g h i")],
        # two shared regions adjacent in one doc -> one merged span
        [(1, s15 + " " + t15), (2, s15 + " x y z"), (3, "p q r " + t15)],
        # same gram twice within ONE doc only -> excluded (min_docs=2)
        [(1, s15 + " gap " + s15), (2, "unrelated " + " ".join(f"u{i}" for i in range(12)))],
        # gram twice in doc A, once in doc B -> two spans in A, one in B
        [(1, s15 + " mid1 mid2 " + s15), (2, s15)],
        # messy whitespace normalizes identically
        [(1, "  a\tb   c d e f g h i j  "), (2, "a b c d e f g h i j")],
        # three-way duplicate
        [(1, s15), (2, s15), (3, s15)],
    ]
    for rows in corpora:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in dedup.substring_spans(df, k=10, min_docs=2).collect()
        }
        assert got == _ref_substring_spans(rows), rows


def test_semantic_dedup_over_kmeans_cells(spark, sf_dir):
    """SemDeDup proper blocks on k-means cells: train the quantizer,
    use cell assignments as the blocking label, dedup within cells.
    Deterministic end to end."""
    from pyspark.sql import functions as F

    from csvb_spark.operators import similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    codebook: dict[int, list[float]] = {}
    for r in similarity.kmeans_train(embs, k=8, iters=2).collect():
        codebook.setdefault(r.cid, [0.0] * 64)[r.pos - 1] = r.val
    cents = [(cid, codebook[cid]) for cid in sorted(codebook)]
    choices = [
        F.struct(
            (
                similarity.dot(
                    F.array(*[F.lit(x) for x in cv]), F.array(*[F.lit(x) for x in cv])
                )
                - 2.0
                * similarity.dot(
                    similarity.as_double(F.col("embedding")),
                    F.array(*[F.lit(x) for x in cv]),
                )
            ).alias("d"),
            F.lit(cid).alias("cid"),
        )
        for cid, cv in cents
    ]
    cells = embs.withColumn("label", F.array_min(F.array(*choices))["cid"])

    def run():
        return sorted(
            (r.vec_id, r.label)
            for r in similarity.emb_near_dedup(cells, min_cos=0.4).collect()
        )

    got = run()
    n = embs.count()
    assert 0 < len(got) <= n
    assert got == run()  # deterministic


def test_adaptive_quality_keeps_singleton_groups(spark, sf_dir):
    """Ceiling semantics: a 1-doc source keeps its document (a floor
    cutoff would silently erase whole small sources)."""
    from csvb_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "the only doc of tiny source", "tiny"),
         (2, "first of big " + "x " * 50, "big"),
         (3, "second of big " + "y " * 50, "big")],
        "doc_id long, text string, source string",
    )
    kept = {r.doc_id for r in text.adaptive_quality_filter(docs).collect()}
    assert 1 in kept  # singleton survives
    assert len(kept & {2, 3}) == 2  # ceil(0.9*2) = 2


def test_kmeans_seeds_are_k_lowest_ids(spark, sf_dir):
    """Init takes the k LOWEST ids even when ids are offset/sparse
    (filter(id < k) would find nothing)."""
    from pyspark.sql import functions as F

    from csvb_spark.operators import similarity

    embs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("vec_id", F.col("vec_id") + 1000)
    )
    out = similarity.kmeans_train(embs, k=4, iters=1).collect()
    assert {r.cid for r in out} == {1000, 1001, 1002, 1003}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="need >= 4"):
        similarity.kmeans_train(embs.limit(3), k=4, iters=1)


def test_substring_spans_keep_first_plan_shape(spark, sf_dir):
    """keep_first must not add exchanges over the policy='all' plan
    (the redundant dropDuplicates once cost a full extra shuffle)."""
    from csvb_spark.operators import dedup
    from csvb_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    df = dedup.substring_spans(spark.table("documents"), policy="keep_first")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 3


def test_chunk_documents_edge_corpora(spark, sf_dir):
    """Differential vs a Python reference over edge shapes: short doc,
    exact-boundary doc, stride > chunk (gaps), whitespace mess."""
    import re

    from csvb_spark.operators import text

    def ref(rows, chunk, stride):
        out = set()
        for d, t in rows:
            w = re.split(r"\s+", t.strip())
            last = max(len(w) - chunk + 1, 1)
            for i in range(1, last + 1, stride):
                piece = w[i - 1 : i - 1 + chunk]
                out.add((d, (i - 1) // stride, i, " ".join(piece), len(piece)))
        return out

    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),   # shorter than chunk
        (2, " ".join(f"v{i}" for i in range(32))),   # exactly one chunk
        (3, " ".join(f"u{i}" for i in range(33))),   # one full + tail
        (4, "  a\tb   c  "),                          # whitespace mess
        (5, " ".join(f"t{i}" for i in range(100))),  # several chunks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for chunk, stride in [(32, 16), (32, 48), (8, 8)]:
        got = {
            (r.doc_id, r.chunk_id, r.chunk_start, r.chunk_text, r.n_tokens)
            for r in text.chunk_documents(
                df, chunk_tokens=chunk, stride=stride
            ).collect()
        }
        assert got == ref(rows, chunk, stride), (chunk, stride)


# --- round 6: plan shapes of the new operators -------------------------------
def test_classifier_trained_weights_path_broadcasts_model(spark, sf_dir):
    """The trained-weights scoring path is exactly one broadcast join
    + one doc rollup — the model never shuffles the corpus."""
    from csvb_spark.operators.classify import (
        formula_weights_table,
        linear_classifier_score,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = formula_weights_table(spark, 4096)
    plan = _plan(linear_classifier_score(docs, n_buckets=4096, weights=w))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_token_drift_plan_no_cartesian(spark, sf_dir):
    """token_drift's scalar-totals attach is a broadcast of ONE row —
    never a CartesianProduct — and the corpora are never sort-merged
    against each other (only their bounded count tables meet)."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.lm import token_drift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(
        token_drift(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        )
    )
    assert "CartesianProduct" not in plan
    # top-k is a TakeOrdered, not a global sort of the vocab join
    assert "TakeOrderedAndProject" in plan


def test_png_pipeline_is_map_only(spark, sf_dir):
    """synthesize → decode is pure mapInPandas: zero shuffles."""
    from csvb_spark.operators.multimodal import png_round_trip

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(png_round_trip(docs))
    assert "Exchange" not in plan


def test_pagerank_dangling_scalar_broadcasts(spark):
    """The per-iteration dangling-mass attach is a 1-row broadcast,
    never a CartesianProduct over the rank table."""
    from csvb_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2), (2, 3)], "src bigint, dst bigint")
    plan = _plan(pagerank(e, iters=1))
    assert "CartesianProduct" not in plan


# --- LM scorers: auto-broadcast ----------------------------------------------
@pytest.mark.parametrize("smoothing", ["addk", "kn", "sb", "jm"])
def test_lm_scorers_default_broadcast_model_tables(spark, sf_dir, smoothing):
    """With DEFAULT args every smoothing broadcasts its bounded model
    tables (bigrams, context/continuation counts, backoff lookups):
    the score pass is map-only over the corpus — no sort-merge
    exchange of the n-gram-exploded corpus on a Zipf-skewed token
    key."""
    from pyspark.sql import functions as F

    from csvb_spark.operators import lm as L

    train, score = {
        "addk": (L.bigram_lm_train, L.perplexity_score),
        "kn": (L.bigram_lm_train, L.kneser_ney_score),
        "sb": (L.trigram_lm_train, L.stupid_backoff_score),
        "jm": (L.bigram_lm_train, L.jelinek_mercer_score),
    }[smoothing]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(score(docs, train(docs.filter(F.col("doc_id") % 2 == 0))))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_perplexity_over_bound_model_warns_and_shuffles(spark, sf_dir):
    """An over-bound model falls back to the shuffle join WITH the
    warning naming the sample-then-broadcast contract."""
    import warnings

    from csvb_spark.operators.lm import bigram_lm_train, perplexity_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = bigram_lm_train(docs)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        scored = perplexity_score(docs, lm, broadcast_max_rows=1)
    assert any("broadcast_max_rows" in str(x.message) for x in w)
    # forced-off path still computes the same result shape
    assert scored.columns == ["doc_id", "n_bigrams", "avg_neg_logprob", "ppl"]


def test_jpeg_pipeline_is_map_only(spark, sf_dir):
    """synthesize → entropy-decode is pure mapInPandas: zero
    shuffles, same plan shape as the PNG path."""
    from csvb_spark.operators.multimodal import jpeg_round_trip

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(jpeg_round_trip(docs))
    assert "Exchange" not in plan


def test_mulaw_pipeline_is_map_only(spark, sf_dir):
    from csvb_spark.operators.multimodal import mulaw_round_trip

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(mulaw_round_trip(docs))
    assert "Exchange" not in plan


def test_minhash_skew_preflight_warns_on_hot_bucket(spark):
    """Opt-in band-bucket pre-flight: a boilerplate-heavy corpus (90%
    identical text -> one hot band bucket) warns and names the
    exact-dedup-first fix; output matches the no-preflight run; a
    diverse corpus stays silent."""
    import warnings as _warnings

    import pytest as _pytest

    from csvb_spark.operators.dedup import minhash_lsh_pairs

    boiler = "all work and no play makes a dull page of boilerplate text"
    rows = [(i, boiler) for i in range(45)] + [
        (100 + i, f"unique document number {i} with words {i * 7} and {i * 13}")
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    with _pytest.warns(UserWarning, match="exact dedup"):
        flagged = minhash_lsh_pairs(docs, skew_warn_threshold=0.6)
    plain = minhash_lsh_pairs(docs)
    assert sorted(map(tuple, flagged.collect())) == sorted(
        map(tuple, plain.collect())
    )

    diverse = spark.createDataFrame(
        [(i, f"doc {i} talks about topic{i} item{i*3} thing{i*11}")
         for i in range(30)],
        "doc_id bigint, text string",
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        minhash_lsh_pairs(diverse, skew_warn_threshold=0.6).collect()
    assert not any("exact dedup" in str(w.message) for w in caught)


def test_source_overlap_planted(spark):
    """x102: a feed that re-publishes another feed's docs shows up as
    an ordered (copy→origin) row with containment 1.0; the matrix
    includes intra-source duplication and nothing for clean sources."""
    from csvb_spark.operators.dedup import source_overlap

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base, "wiki"),
            (2, base + " iota kappa", "crawl"),  # crawl ⊃ wiki doc
            (3, base, "crawl"),                  # crawl re-publishes wiki
            (4, "totally different words here now", "clean"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r["source_a"], r["source_b"]): (r["n_pairs"], r["avg_containment"])
        for r in source_overlap(docs, min_containment=0.8).collect()
    }
    # doc1 (wiki) is fully contained in docs 2 and 3 (crawl): 2 pairs
    assert got[("wiki", "crawl")] == (2, 1.0)
    # doc3 == doc1 exactly, so crawl→wiki scores 1.0 (1 pair);
    # doc2→wiki is 6/8 = 0.75 and filters out at 0.8
    assert got[("crawl", "wiki")] == (1, 1.0)
    # intra-crawl: doc3 ⊂ doc2 (1.0); doc2→doc3 (0.75) filtered
    assert got[("crawl", "crawl")] == (1, 1.0)
    assert not any("clean" in k for k in got)


def test_new_curation_op_plan_shapes(spark, sf_dir):
    """x100/x101/x103: no cartesian products anywhere; the quota's two
    ranking phases both partition the window by domain (never a
    global window); batching reads only the two columns it needs."""
    from pyspark.sql import functions as F

    from csvb_spark.operators.splits import length_bucket_batches
    from csvb_spark.operators.text import char_entropy
    from csvb_spark.operators.web import domain_quota_sample

    docs = _docs(spark, sf_dir).withColumn(
        "url", F.concat(F.lit("http://h."), F.col("source"), F.lit(".com/p"))
    )
    qplan = _plan(domain_quota_sample(docs))
    assert "CartesianProduct" not in qplan
    assert qplan.count("Window") >= 2  # two-phase ranking, both windowed
    # a GLOBAL window (empty partition spec) would be a single-reducer
    # sort — both windows must carry a partition spec
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", qplan):
        assert "domain" in m.group(1)

    bplan = _plan(length_bucket_batches(_docs(spark, sf_dir)))
    assert "CartesianProduct" not in bplan
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", bplan):
        assert "bucket" in m.group(1) and "shard" in m.group(1)
    # column pruning: the scan reads only doc_id + text
    m = re.search(r"ReadSchema: ([^\n]*)", bplan)
    assert m and "doc_id" in m.group(1) and "text" in m.group(1)
    assert "source" not in m.group(1) and "lang" not in m.group(1)

    eplan = _plan(char_entropy(_docs(spark, sf_dir)))
    assert "CartesianProduct" not in eplan
    assert "BroadcastNestedLoopJoin" not in eplan


def test_luhn_and_script_mix_map_only(spark, sf_dir):
    """x105/x106: the card-validation and script-histogram scrubs are
    pure per-row regex/HOF work — zero exchanges, zero Python eval."""
    from csvb_spark.operators.text import luhn_scan, script_mix

    for df in (luhn_scan(_docs(spark, sf_dir)), script_mix(_docs(spark, sf_dir))):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_script_mix_empty_and_null_docs_are_other(spark):
    """Empty or NULL text has every class count 0 — it must label
    dominant='other', not fall through the tie cascade to 'latin'
    (a routing-signal mislabel); whitespace-only stays 'space' and
    real text keeps its script."""
    from csvb_spark.operators.text import script_mix

    d = spark.createDataFrame(
        [(0, ""), (1, None), (2, "hello world"), (3, "мир труд май")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["dominant"] for r in script_mix(d).collect()}
    assert got[0] == "other"
    assert got[1] == "other"
    assert got[2] == "latin"
    assert got[3] == "cyrillic"


def test_luhn_scan_validates_planted_cards(spark):
    """Planted PANs: valid test numbers pass, a bad check digit fails,
    short runs are not candidates, separators are stripped."""
    from csvb_spark.operators.text import luhn_scan

    d = spark.createDataFrame(
        [
            (0, "pay 4111 1111 1111 1111 now"),
            (1, "bad 4111111111111112 and good 5555-5555-5555-4444"),
            (2, "too short 123456789"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in luhn_scan(d).collect()}
    assert rows[0]["n_valid"] == 1 and rows[0]["valid_cards"] == "4111111111111111"
    assert rows[1]["n_candidates"] == 2 and rows[1]["n_valid"] == 1
    assert rows[1]["valid_cards"] == "5555555555554444"
    assert rows[2]["n_candidates"] == 0 and rows[2]["valid_cards"] is None
    assert rows[3]["n_candidates"] == 0


def test_decay_topk_single_exchange_windowed_limit(spark, sf_dir):
    """x107: the recency reference is a broadcast scalar (no fact-table
    shuffle for it); the per-key top-k is ONE hash exchange on the key
    with the rank limit pushed into the sort (WindowGroupLimit)."""
    from csvb_spark.operators.temporal import decay_topk
    from csvb_spark.sources.catalog import load_tables

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    plan = _plan(decay_topk(ev), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_retention_funnel_single_scan_two_exchanges(spark, sf_dir):
    """x108: one fingerprint window + one group aggregation — the
    table is scanned once and only two hash exchanges appear."""
    from csvb_spark.operators.profile import retention_funnel

    plan = _plan(retention_funnel(_docs(spark, sf_dir)), "simple")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_curriculum_order_no_global_sort(spark, sf_dir):
    """x111: every window over table data carries a partition spec
    (the composite bucket); the only partition-less window is the
    offsets cumsum over the bounded bucket-count table. Equality with
    the single-window ROW_NUMBER spec is the oracle's job."""
    import re

    from csvb_spark.operators.splits import curriculum_order

    plan = _plan(
        curriculum_order(_docs(spark, sf_dir), "n_chars", [200.0, 500.0]),
        "simple",
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    data_windows = [s for s in specs if "_co_bucket#" in s and "," in s]
    # rank windows partition by the composite bucket
    assert any(s.strip().startswith("_co_bucket#") for s in data_windows)
    assert "CartesianProduct" not in plan


def test_web_extract_ops_map_only(spark, sf_dir):
    """x113/x114: link extraction and HTML strip are pure per-row
    regex work — zero exchanges, zero Python eval."""
    from csvb_spark.operators.web import extract_links, html_strip

    for df in (
        extract_links(_docs(spark, sf_dir)),
        html_strip(_docs(spark, sf_dir)),
    ):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_html_strip_rule_order(spark):
    """Planted edge cases: a script body with bare '<' must vanish via
    the block rule (the tag rule alone would leave 'var x = 1'
    residue); double-encoded entities decode exactly one level."""
    from csvb_spark.operators.web import html_strip

    d = spark.createDataFrame(
        [
            (0, '<script>if (a < b && c > d) { go("x") }</script>hello'),
            (1, "&amp;lt; stays encoded, &lt; decodes"),
            (2, "<p>a</p><!-- <b>hidden</b> -->b"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["clean_text"] for r in html_strip(d).collect()}
    assert got[0] == "hello"
    assert got[1] == "&lt; stays encoded, < decodes"
    assert got[2] == "a\nb"  # </p> is a block boundary -> newline
    assert got[3] == ""


def test_tpch_closure_plans_broadcast_dims_no_cartesian(spark, sf_dir):
    """Round 12: the q62-q66 partsupp-surrogate queries keep every
    dimension join broadcast and never degrade to a cartesian product
    — the plan properties their scale notes claim. (q62's per-part MIN
    is a window over ONE shuffle; q63/q66 semi-prune through broadcast
    red-part keys.)"""
    from csvb_spark.queries import corpus

    C = corpus()
    for name in (
        "q62_tpch_q2_min_cost_supplier",
        "q63_tpch_q9_product_profit",
        "q64_tpch_q11_important_stock",
        "q65_tpch_q16_supplier_relation",
        "q66_tpch_q20_part_promotion",
    ):
        plan = _plan(C[name].spark(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        if name != "q64_tpch_q11_important_stock":
            # q64's BroadcastNestedLoopJoin is the intentional 1-row
            # threshold broadcast (HAVING's scalar subquery — the q57/
            # q61 shape); everywhere else a BNLJ would be a join-key
            # regression
            assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, name
    # q62 specifically: the correlated MIN is a window, not a self-join
    plan62 = _plan(C["q62_tpch_q2_min_cost_supplier"].spark(spark, sf_dir))
    assert "Window" in plan62


# --- bench-flagship plan pins (round 13, verdict item 5) ----------------------
# The corpus-wide lint (test_plan_lint.py) catches structural
# catastrophes; these pins catch SILENT drifts in the ten heaviest
# bench entries — an extra shuffle, a lost pushed filter, a widened
# scan — so a pushdown regression fails a test instead of surfacing as
# a bench-drift suspicion a round later. Shapes pinned at the BENCH
# scale (sf0.1): join strategies are size-dependent, so the sf0.001
# test fixture would pin a different (broadcast-ier) plan than the one
# the bench actually runs. Exchange counts are ceilings (fewer is
# fine); scan columns are exact supersets (reading MORE columns fails).

_BENCH_SF_DIR = "/root/testdata/sf0.1"

# (name, max shuffle exchanges, scan cols or None when the operator's
#  inputs are driver-materialized [localCheckpoint -> ExistingRDD, no
#  parquet scan in-plan], required PushedFilters fragments,
#  python eval nodes allowed)
_FLAGSHIP_SHAPES = [
    ("x97_containment_pairs", 1, None, [], False),
    ("x131_dsir_importance", 3, {"doc_id", "text"}, [], False),
    # round 15: the distinct-ppl histogram lost its eager checkpoint
    # (it fed one scalar probe that now aggregates the checkpointed
    # scored rows directly), so its small groupBy exchange moved from a
    # hidden side job INTO this plan — 2 in-plan exchanges now, but one
    # fewer driver job and one fewer materialization overall; both
    # exchanges are over the bounded (doc_id, ppl) projection, never
    # the corpus
    ("x95_perplexity_buckets", 2, None, [], False),
    ("x93_stupid_backoff_trigram", 1, {"doc_id", "text"}, [], False),
    ("p09_dedup_minhash_lsh", 10, {"doc_id", "text"},
     ["IsNotNull(doc_id)"], False),
    ("x110_jm_perplexity", 1, {"doc_id", "text"}, [], False),
    ("x89_kneser_ney_perplexity", 3, {"doc_id", "text"}, [], False),
    ("x84_bigram_perplexity", 1, {"doc_id", "text"}, [], False),
    # p14's ArrowEvalPython is the vectorized ADC probe — the one
    # sanctioned Python node in the flagship set
    ("p14_sim_ivf_topk", 1, {"embedding", "vec_id"},
     ["Not(EqualTo(vec_id,0))"], True),
    ("q03_shipping_priority", 1,
     {"c_custkey", "c_mktsegment", "l_discount", "l_extendedprice",
      "l_orderkey", "l_shipdate", "o_custkey", "o_orderdate",
      "o_orderkey"},
     ["GreaterThan(l_shipdate", "LessThan(o_orderdate"], False),
]

_EXCH_RE = re.compile(r"^[ :|+\-*]*Exchange \(\d+\)\s*$", re.M)
_PY_RE = re.compile(
    r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas"
)
_SCHEMA_RE = re.compile(r"ReadSchema: struct<([^>]*)>")


@pytest.mark.parametrize(
    ("name", "max_shuffles", "scan_cols", "pushed", "py_ok"),
    _FLAGSHIP_SHAPES,
    ids=[r[0] for r in _FLAGSHIP_SHAPES],
)
def test_bench_flagship_plan_shape(
    spark, name, max_shuffles, scan_cols, pushed, py_ok
):
    import os

    from csvb_spark.queries import corpus

    if not os.path.isdir(_BENCH_SF_DIR):
        pytest.skip(f"bench fixture {_BENCH_SF_DIR} not present")
    plan = _plan(corpus()[name].spark(spark, _BENCH_SF_DIR))

    n_shuf = len(_EXCH_RE.findall(plan))
    assert n_shuf <= max_shuffles, (
        f"{name}: {n_shuf} shuffle exchanges (pinned max {max_shuffles})"
        " — a new shuffle crept into a bench flagship"
    )

    schemas = _SCHEMA_RE.findall(plan)
    got_cols = {f.split(":")[0] for s in schemas for f in s.split(",") if f}
    if scan_cols is None:
        assert not schemas, (
            f"{name}: expected driver-materialized inputs (no parquet "
            f"scan), found scans reading {sorted(got_cols)}"
        )
    else:
        assert got_cols <= scan_cols, (
            f"{name}: scan reads {sorted(got_cols - scan_cols)} beyond "
            f"the pinned column set — pruning regressed"
        )

    for frag in pushed:
        assert frag in plan, f"{name}: pushed filter {frag!r} missing"

    if not py_ok:
        assert not _PY_RE.search(plan), (
            f"{name}: Python evaluation node appeared in a JVM-only "
            "flagship plan"
        )
