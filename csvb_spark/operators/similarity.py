"""Embedding similarity over an ``array<float>`` column: exact cosine
top-k, LSH and IVF/PQ approximate search, k-means and PQ training,
embedding-space dedup, projection and drift.

All arithmetic that decides a ranking runs in one IEEE order, the
strict left-fold ``0.0 + t_0 + t_1 + …`` in DOUBLE that DuckDB's
``list_dot_product`` also uses, so every operator is bit-identical to
a SQL oracle:

- ``dot`` / ``norm2`` / ``cosine``: the fold as a SQL higher-order
  ``aggregate``. The exact paths score with it (``brute_force_topk``,
  ``knn_join``, ``matryoshka_topk``, ``hyperplane_lsh_topk``).
- ``_fold``: the same fold in numpy, over the last axis of broadcast
  arrays, for a dot product or a squared L2 distance. The driver runs
  it for every constant it computes (centroid norms, probe cell
  rankings, PQ ADC tables), the executors inside the kernel below.
- ``_cell_kernel``: the one Arrow-batched ``pandas_udf`` that assigns
  cells. Against centroid literals it gives each row its nearest cell
  (a probe its ``n`` nearest, a PQ row one code per subspace) by one
  of three metrics, ties to the lower cid:
  ``cos`` (max ``v·c/‖c‖``; ``ivf_topk``), ``l2ip`` (min
  ``c·c − 2·v·c``; ``kmeans_train``, ``knn_join``, ``write_ivf_index``)
  and ``l2`` (min squared L2; PQ codes and IVF-PQ cells). A NULL or
  wrong-dim vector gets a NULL cell (``bucket_id``'s rule): it is
  never an IVF candidate and never enters a centroid mean.

Quantizers (hyperplanes, seed vectors, trained or seeded codebooks) are
bounded driver constants inlined as literals, so a probe prunes to its
cells before any distance math and a DuckDB oracle can replay
assignment, probing and scoring.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm2(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    ad, bd = as_double(a), as_double(b)
    return dot(ad, bd) / (norm2(ad) * norm2(bd))


def cosine_pnorm(a: Column, b: Column, b_norm: Column) -> Column:
    """Cosine where ``b``'s norm is already materialized (broadcast
    probe column). HOF aggregates are interpreted, so evaluating
    norm2(probe) per candidate row is a wasted dim-length fold — the
    probe projection computes it once with the SAME norm2 expression,
    keeping the value (and thus the product) bit-identical to
    ``cosine``'s and to the DuckDB oracle's formulation."""
    ad, bd = as_double(a), as_double(b)
    return dot(ad, bd) / (norm2(ad) * b_norm)


def brute_force_topk(
    embeddings: DataFrame,
    probe: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of ``embeddings`` against a 1-row probe.

    probe must have columns (id_col, vec_col); output:
    (vec_id, cos_sim) ordered desc with id tiebreak.
    """
    p = F.broadcast(probe.select(*_probe_cols(id_col, vec_col)))
    return _cos_topk(embeddings.crossJoin(p), k, vec_col, id_col)


def _probe_cols(id_col: str, vec_col: str) -> list[Column]:
    """A broadcast probe's id, vector and norm, the norm computed once
    per probe with :func:`cosine`'s own fold."""
    return [
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
        norm2(as_double(F.col(vec_col))).alias("probe_norm"),
    ]


def _cos_sim(vec_col: str) -> Column:
    return F.round(
        cosine_pnorm(F.col(vec_col), F.col("probe_vec"), F.col("probe_norm")), 6
    ).alias("cos_sim")


def _cos_topk(candidates: DataFrame, k: int, vec_col: str, id_col: str) -> DataFrame:
    """Top-k (row, probe) candidate pairs by cosine DESC, id ASC, the
    probe's own row excluded."""
    return (
        candidates.filter(F.col(id_col) != F.col("probe_id"))
        .select(id_col, _cos_sim(vec_col))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def matryoshka_topk(
    embeddings: DataFrame,
    probe: DataFrame,
    dims: int = 16,
    k: int = 10,
    rerank_k: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka funnel retrieval (Kusupati et al. 2022): shortlist
    ``rerank_k`` candidates by cosine over the FIRST ``dims``
    dimensions (MRL-trained embeddings pack most signal into the
    prefix), then rerank the shortlist with full-dimension cosine and
    return the top ``k``. Output: ``(vec_id, cos_low, cos_full)``
    ordered by ``cos_full`` desc with id tiebreak.

    Both stages are exact given their inputs (sequential-fold dot
    products rounded to 6, ties broken by id), so any engine replays
    the same shortlist and the same final k — the approximation is
    the funnel itself (a true neighbor outside the low-dim shortlist
    is unrecoverable, the standard MRL trade).

    Plan: ONE corpus pass — the probe prefix/norms broadcast, the
    low-dim cosine is map-side over ``slice(vec, 1, dims)`` (a
    dims/64 FLOP cut; at 100 TB store the prefix as its own parquet
    column and the scan reads dims/full_dim of the bytes), and the
    full vector rides the rerank_k-bounded TakeOrderedAndProject so
    the rerank needs no second scan or join. Reference scope:
    beyond-reference (training-pipeline extension).
    """
    if dims < 1:
        raise ValueError(f"matryoshka_topk: dims must be >= 1, got {dims}")
    if rerank_k < k:
        raise ValueError(
            f"matryoshka_topk: rerank_k ({rerank_k}) must be >= k ({k})"
        )
    # single-probe contract, ENFORCED (the shortlist/rerank LIMITs are
    # global — a multi-row probe would interleave different probes'
    # candidates into one meaningless top-k with no probe_id to tell
    # them apart). The count is one tiny job on a table that is about
    # to broadcast anyway; batch probing is knn_join's job.
    n_probe = probe.limit(2).count()
    if n_probe != 1:
        raise ValueError(
            f"matryoshka_topk: probe must be exactly 1 row, got "
            f"{'>=2' if n_probe > 1 else n_probe} — for a probe BATCH use "
            "knn_join (optionally with centroids= for the IVF path)"
        )

    def pref(c: Column) -> Column:
        return F.slice(c, 1, dims)

    p = F.broadcast(
        probe.select(
            *_probe_cols(id_col, vec_col),
            pref(F.col(vec_col)).alias("probe_pref"),
            norm2(as_double(pref(F.col(vec_col)))).alias("probe_pref_norm"),
        )
    )
    shortlist = (
        embeddings.crossJoin(p)
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(
            id_col,
            vec_col,
            "probe_vec",
            "probe_norm",
            F.round(
                cosine_pnorm(
                    pref(F.col(vec_col)),
                    F.col("probe_pref"),
                    F.col("probe_pref_norm"),
                ),
                6,
            ).alias("cos_low"),
        )
        .orderBy(F.desc("cos_low"), F.asc(id_col))
        .limit(rerank_k)
    )
    return (
        shortlist.select(
            id_col,
            "cos_low",
            F.round(
                cosine_pnorm(F.col(vec_col), F.col("probe_vec"), F.col("probe_norm")),
                6,
            ).alias("cos_full"),
        )
        .orderBy(F.desc("cos_full"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def bucket_id(vec: Column, planes: list[list[float]]) -> Column:
    """LSH bucket: integer whose bit p is sign(vec · plane_p).

    NULL when the vector's length differs from the plane dim —
    ``zip_with`` pads the shorter side with NULLs, which would
    otherwise turn every dot product NULL and silently funnel the
    whole corpus into bucket 0."""
    vd = as_double(vec)
    acc = F.lit(0).cast("bigint")
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        acc = acc + F.when(dot(vd, lit_plane) > 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return F.when(F.size(vec) == len(planes[0]), acc)


def bucketize(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector its LSH bucket (map-only). At scale, write
    this out partitioned/bucketed by `bucket` so probes prune I/O."""
    planes = _hyperplanes(n_planes, dim, seed)
    return embeddings.withColumn("bucket", bucket_id(F.col(vec_col), planes))


def hyperplane_lsh_topk(
    embeddings: DataFrame,
    probe: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    hamming_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors in the probe's bucket(s).

    ``hamming_probe`` is the multi-probe RADIUS: all buckets within
    that Hamming distance of the probe's bucket are scanned (a vector
    near a hyperplane lands on either side, so the nearest neighbors
    of a probe concentrate in buckets a few bits away). 0 = exact
    bucket only; 1 adds the n_planes adjacent buckets; r adds
    C(n_planes, r) more per extra bit — at scale each bucket is one
    partition of a bucket-partitioned table, so the scan cost is
    (buckets probed)/2^n_planes of the corpus.
    """
    import itertools

    planes = _hyperplanes(n_planes, dim, seed)
    bucketed = bucketize(embeddings, n_planes, dim, seed, vec_col)
    pb = bucket_id(F.col(vec_col), planes)
    masks = [
        sum(1 << b for b in bits)
        for r in range(1, min(hamming_probe, n_planes) + 1)
        for bits in itertools.combinations(range(n_planes), r)
    ]
    probe_buckets = F.array(pb, *[pb.bitwiseXOR(F.lit(m)) for m in masks])
    p = F.broadcast(
        probe.select(
            *_probe_cols(id_col, vec_col), probe_buckets.alias("probe_buckets")
        )
    )
    candidates = bucketed.join(
        p, F.array_contains(F.col("probe_buckets"), F.col("bucket"))
    )
    return _cos_topk(candidates, k, vec_col, id_col)


# --- one fold and one cell-assignment kernel -------------------------------


def _numpy_core():
    """The fold, the three cell metrics and the cell ranking, built as
    LOCAL functions: cloudpickle ships a module-level function by
    reference (an executor would have to import csvb_spark) but these
    by value, so the driver and the executors run the same code."""

    def fold(a, b, sq=False):
        """Strict left-fold over the last axis, broadcasting the others:
        ``0.0 + t_0 + t_1 + …`` with ``t_d = a_d·b_d``, or
        ``(a_d − b_d)²`` when ``sq`` — the IEEE order of :func:`dot`."""
        a = np.asarray(a, dtype=np.float64)
        b = np.asarray(b, dtype=np.float64)
        out = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
        for d in range(a.shape[-1]):
            t = a[..., d] - b[..., d] if sq else a[..., d] * b[..., d]
            out += t * t if sq else t
        return out

    def dist(V, C, metric):
        """rows(V) × rows(C), smaller = nearer: ``cos`` is −v·c/‖c‖
        (the row's own norm cannot change the order), ``l2ip`` is
        c·c − 2·v·c (nor can ‖v‖²), ``l2`` the squared L2 distance."""
        if metric == "l2":
            return fold(V[:, None], C[None], sq=True)
        dots = fold(V[:, None], C[None])
        cc = fold(C, C)
        return -(dots / np.sqrt(cc)) if metric == "cos" else cc - 2.0 * dots

    def rank(V, C, metric, n=1):
        """Row indices into C of each row's ``n`` nearest cells,
        nearest first, ties to the lower index."""
        D = dist(V, C, metric)
        if n == 1:
            return D.argmin(axis=1)[:, None]
        return np.argsort(D, axis=1, kind="stable")[:, :n]

    return fold, dist, rank


_fold, _dist, _rank = _numpy_core()


def _book_arrays(book: dict[int, list[float]]) -> tuple[np.ndarray, np.ndarray]:
    ids = sorted(book)
    return (
        np.array(ids, dtype=np.int64),
        np.array([book[c] for c in ids], dtype=np.float64),
    )


def _cell_kernel(books: list[dict], metric: str, n: int = 1, probes=None):
    """The cell-assignment ``pandas_udf`` over a vector column.

    ``books`` holds one ``{cid: components}`` codebook per contiguous
    slice of the vector: one for IVF, ``m`` for PQ. The UDF returns
    ``array<bigint>``: the ``n`` nearest cids of a single codebook, or
    one code per slice. With ``probes`` (P × dim) it returns
    ``struct<cells, vnorm, pdots>`` instead, adding the row norm and
    the row's dot with every probe (``ivf_topk``'s scoring inputs).
    NULL and wrong-dim vectors get NULL.

    Marked nondeterministic (the values are not): a filter on its
    output would otherwise be pushed below the projection and the
    optimizer would evaluate the UDF twice."""
    from pyspark.sql.functions import pandas_udf

    arrays = [_book_arrays(b) for b in books]
    dim = sum(C.shape[1] for _, C in arrays)
    P = None if probes is None else np.asarray(probes, dtype=np.float64)

    def cells(vs: pd.Series) -> pd.Series:
        ok = np.array([v is not None and len(v) == dim for v in vs], dtype=bool)
        V = np.zeros((int(ok.sum()), dim))
        if len(V):
            V[:] = np.stack(vs[ok].tolist())
        picked, off = [], 0
        for ids, C in arrays:
            picked.append(ids[_rank(V[:, off : off + C.shape[1]], C, metric, n)])
            off += C.shape[1]
        rows = np.flatnonzero(ok)
        out = [None] * len(vs)
        for i, cid in zip(rows, np.concatenate(picked, axis=1)):
            out[i] = cid
        if P is None:
            return pd.Series(out)
        vnorm = np.full(len(vs), np.nan)
        vnorm[ok] = np.sqrt(_fold(V, V))
        pdots = [None] * len(vs)
        for i, pd_row in zip(rows, _fold(V[:, None], P[None])):
            pdots[i] = pd_row
        return pd.DataFrame({"cells": out, "vnorm": vnorm, "pdots": pdots})

    rtype = (
        "array<bigint>"
        if P is None
        else "struct<cells:array<bigint>,vnorm:double,pdots:array<double>>"
    )
    return pandas_udf(cells, rtype).asNondeterministic()


def _assign(df: DataFrame, book: dict, metric: str, vec_col: str) -> DataFrame:
    """``df`` plus ``cid``, each row's nearest cell (NULL for a NULL or
    wrong-dim vector)."""
    return df.withColumn("cid", _cell_kernel([book], metric)(F.col(vec_col))[0])


def _nearest(vecs: np.ndarray, book: dict, metric: str, n: int) -> list[list[int]]:
    """Driver-side twin of the kernel: each probe's ``n`` nearest cids."""
    ids, C = _book_arrays(book)
    return ids[_rank(np.atleast_2d(vecs), C, metric, n)].tolist()


def _codebook(centroids, nprobe: int = 1) -> dict[int, list[float]]:
    """A coarse codebook as ``{cid: components}`` in cid order, from a
    :func:`kmeans_train`-shaped (cid, pos, val) DataFrame or a dict,
    validated for what would otherwise fail silently downstream:
    at least ``nprobe`` cells, no NULL cell, one dimension."""
    if not isinstance(centroids, dict):
        by_cid: dict[int, dict[int, float]] = {}
        for r in centroids.collect():
            by_cid.setdefault(int(r["cid"]), {})[int(r["pos"])] = float(r["val"])
        centroids = {c: [v[p] for p in sorted(v)] for c, v in by_cid.items()}
    if len(centroids) < nprobe:
        raise ValueError(
            f"codebook has {len(centroids)} centroids but nprobe={nprobe}"
        )
    if any(v is None for v in centroids.values()):
        raise ValueError("codebook has a NULL centroid")
    dims = {len(v) for v in centroids.values()}
    if len(dims) != 1:
        raise ValueError(f"codebook dimensions are inconsistent: {sorted(dims)}")
    return {int(c): [float(x) for x in centroids[c]] for c in sorted(centroids)}


def _width(book: dict) -> int:
    return len(next(iter(book.values())))


def seed_centroids(
    embs: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed_ids: list | None = None,
) -> dict[int, list[float]]:
    """The IVF seed convention as a reusable collect: cell ``c``'s
    centroid is the vector with id ``seed_ids[c]`` (a bounded K×dim
    driver constant). ``seed_ids`` defaults to ``0..n_centroids-1``,
    so a corpus whose ids don't start at 0 passes any ``n_centroids``
    ids it likes — cells are numbered by position in the list."""
    if seed_ids is None:
        seed_ids = list(range(n_centroids))
    if len(seed_ids) != len(set(seed_ids)) or len(seed_ids) != n_centroids:
        raise ValueError(
            f"seed_centroids: seed_ids must be {n_centroids} distinct ids,"
            f" got {seed_ids!r}"
        )
    seeds = embs.filter(F.col(id_col).isin(list(seed_ids)))
    by_id = dict(seeds.select(id_col, vec_col).collect())
    missing = [s for s in seed_ids if s not in by_id]
    if missing:
        raise ValueError(
            f"seed_centroids: need ids {seed_ids} as seed "
            f"centroids, found {sorted(by_id)}"
        )
    return _codebook({c: by_id[s] for c, s in enumerate(seed_ids)})


def _probe_rows(
    probe: DataFrame, id_col: str, vec_col: str, dim: int, limit: int, who: str
) -> list[tuple[object, np.ndarray]]:
    """At most ``limit`` probe rows as ``(id, float64 vector)``. Probes
    are driver constants, so a NULL or wrong-dim probe vector raises
    here instead of silently matching nothing."""
    rows = probe.select(id_col, vec_col).limit(limit).collect()
    for pid, pv in rows:
        if pv is None or len(pv) != dim:
            got = "NULL" if pv is None else f"{len(pv)}-dim"
            raise ValueError(f"{who}: probe {pid} vector is {got}, expected {dim}-dim")
    return [(pid, np.array(pv, dtype=np.float64)) for pid, pv in rows]


def _probe(probe, id_col, vec_col, dim, who) -> tuple[object, np.ndarray]:
    rows = _probe_rows(probe, id_col, vec_col, dim, 1, who)
    if not rows:
        raise ValueError(f"{who}: empty probe DataFrame")
    return rows[0]


def ivf_topk(
    embeddings: DataFrame,
    probe: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: dict[int, list[float]] | None = None,
    max_probes: int = 10_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize every
    vector to its nearest centroid, then scan only each probe's
    ``nprobe`` closest centroid lists; one global top-k over all
    probes' candidates.

    The BOUNDED-PROBE contract is enforced: the probe side collects to
    the driver (the IVF query shape — a handful of query vectors
    against a big corpus), so a probe table larger than ``max_probes``
    raises with a pointer to :func:`knn_join`, the probe-side-
    distributed operator, instead of silently materializing on the
    driver.

    The coarse quantizer is :func:`seed_centroids` (centroid c is the
    vector with ``vec_id == c``, c < n_centroids) or a trained codebook
    passed via ``centroids`` ({cid: components}, e.g. a pivoted
    :func:`kmeans_train` result; ``n_centroids`` is then ignored).
    Cells rank by cosine DESC, cid ASC — the kernel's ``cos`` metric on
    the executors for assignment, the same fold on the driver for each
    probe's cells.

    Plan: one Arrow-batched UDF per corpus row computes the cell, the
    row norm and the dot with every probe; the rest is scalar codegen
    (posexplode the dots, keep (row, probe) pairs whose cell that probe
    probes, cos = pdot/(vnorm·pnorm)) and TakeOrderedAndProject. No
    join and no interpreted HOF.
    """
    from csvb_spark.operators.dedup import spread

    book = _codebook(
        seed_centroids(embeddings, n_centroids, vec_col, id_col)
        if centroids is None
        else centroids,
        nprobe,
    )
    probes = _probe_rows(
        probe, id_col, vec_col, _width(book), max_probes + 1, "ivf_topk"
    )
    if len(probes) > max_probes:
        raise ValueError(
            f"ivf_topk: probe side exceeds max_probes={max_probes} rows;"
            " it is collected to the driver (the bounded-probe IVF"
            " contract). Use knn_join for a large probe table (broadcast"
            "/cell-equi-join scoring, fully distributed), or raise"
            " max_probes."
        )
    if not probes:
        return embeddings.select(id_col, F.lit(0.0).alias("cos_sim")).limit(0)

    pids = [pid for pid, _ in probes]
    pmat = np.array([pv for _, pv in probes])
    cids_lit = F.array(
        *[
            F.array(*[F.lit(c) for c in cl])
            for cl in _nearest(pmat, book, "cos", nprobe)
        ]
    )
    pid_lit = F.array(*[F.lit(pid) for pid in pids])
    pnorm_lit = F.array(*[F.lit(float(x)) for x in np.sqrt(_fold(pmat, pmat))])
    j = F.col("j")
    cos = F.round(F.col("pdot") / (F.col("vnorm") * pnorm_lit[j]), 6)
    rows = spread(embeddings)
    if len(pids) == 1:
        # the lone probe's self-exclusion pushes into the scan
        rows = rows.filter(F.col(id_col) != pids[0])
    return (
        rows.select(
            id_col, _cell_kernel([book], "cos", probes=pmat)(F.col(vec_col)).alias("f")
        )
        .selectExpr(
            f"`{id_col}`",
            "f.cells[0] AS cid",
            "f.vnorm",
            "posexplode(f.pdots) AS (j, pdot)",
        )
        .filter(
            F.array_contains(cids_lit[j], F.col("cid")) & (F.col(id_col) != pid_lit[j])
        )
        .select(id_col, cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization: per-vector ``scale`` =
    max(|v|)/127 and ``q_i = floor(v_i/scale + 0.5)`` ∈ [-127, 127] —
    4× smaller storage than float32 for a 100 TB embedding table,
    with the reconstruction ``q_i × scale`` good to ~scale/2 per
    coordinate. Map-only.

    Determinism notes: the round is spelled ``floor(x + 0.5)`` (not
    ROUND) so every engine agrees on .5 boundaries, and
    ``recon_err`` (the L2 reconstruction error) folds sequentially,
    matching DuckDB's ``list_dot_product`` bit-for-bit. A zero vector
    quantizes to zeros with scale 0.
    """
    v = as_double(F.col(vec_col))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: F.when(scale == 0, F.lit(0).cast("bigint")).otherwise(
            F.floor(x / scale + F.lit(0.5)).cast("bigint")
        ),
    )
    diff = F.zip_with(v, q, lambda x, qi: x - qi * scale)
    return embeddings.select(
        id_col,
        F.round(scale, 9).alias("scale"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("q_str"),
        F.round(F.sqrt(dot(diff, diff)), 6).alias("recon_err"),
    )


def neardup_pairs_by_label(
    embeddings: DataFrame,
    min_cos: float = 0.8,
    max_id: int | None = 2000,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key (label).

    The label acts as the blocking bucket (like LSH buckets at
    scale); pairs explode only within a block.
    """
    e = embeddings if max_id is None else embeddings.filter(F.col("vec_id") < max_id)
    a = e.select("label", F.col("vec_id").alias("id_a"), F.col(vec_col).alias("va"))
    b = e.select("label", F.col("vec_id").alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos_sim") >= min_cos)
        .select("label", "id_a", "id_b", "cos_sim")
    )


def kmeans_train(
    embs: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic distributed k-means (Lloyd's), the trainer for
    :func:`ivf_topk`'s coarse quantizer.

    Determinism contract (everything an engine could disagree on is
    pinned):

    - init = the ``k`` lowest-id vectors;
    - assignment is the kernel's ``l2ip`` metric, argmin of
      ``dot(c,c) - 2*dot(v,c)`` in the fold's IEEE order (``||v||²`` is
      constant per row and cannot change the argmin), ties to the
      lower centroid id;
    - the centroid update is a per-(cid, dim) mean of DECIMAL(30,6)
      sums — order-independent, so parallel partial aggregation
      cannot perturb it;
    - a cluster that loses all members keeps its previous centroid;
    - a NULL or wrong-dim vector joins no cluster.

    Per iteration: one map-only assignment pass against centroid
    literals + one shuffle (the (cid, dim) aggregate, ≤ k×dim groups).
    The driver holds only the k×dim quantizer.

    Returns the trained quantizer as rows ``(cid, pos, val)`` with
    1-based ``pos``.
    """
    spark = embs.sparkSession
    vecs = embs.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    init = vecs.orderBy("vid").limit(k).collect()
    if len(init) < k:
        raise ValueError(f"kmeans_train: need >= {k} vectors, got {len(init)}")
    cents = _codebook({int(r["vid"]): r["v"] for r in init})
    # DECIMAL(30,6) components (sum accumulates in DECIMAL(38,6)): a
    # (18,6) per-value cast would NULL-overflow any component >= 10^12
    # and silently zero that centroid dimension via the dict
    # initialization below.
    exact = F.col("val").cast("double").cast("decimal(30,6)")
    mean = (F.sum(exact).cast("double") / F.count("*")).alias("m")
    for _ in range(iters):
        stats = (
            _assign(vecs, cents, "l2ip", "v")
            .filter(F.col("cid").isNotNull())
            .select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(mean)
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in stats:
            new.setdefault(int(r["cid"]), [0.0] * len(cents[int(r["cid"])]))[
                int(r["pos"])
            ] = float(r["m"])
        cents.update(new)
    rows = [
        (cid, pos + 1, val)
        for cid in sorted(cents)
        for pos, val in enumerate(cents[cid])
    ]
    return spark.createDataFrame(rows, "cid long, pos int, val double")


def emb_near_dedup(
    embs: DataFrame, min_cos: float = 0.4, vec_col: str = "embedding"
) -> DataFrame:
    """Semantic (embedding-space) dedup, the SemDeDup shape: exact
    cosine pairs inside blocking labels → connected components → keep
    the cluster-canonical (min vec_id); unpaired vectors pass through.

    The label is the blocking bucket (a cluster id from
    :func:`kmeans_train` at scale — SemDeDup proper blocks on k-means
    cells exactly like this); pairs explode only within a block, the
    component labeling shuffles fixed-width (id, label) rows, and the
    tiny drop set broadcasts into the final anti-join, so the
    embedding table itself is never shuffled.

    Returns surviving ``(vec_id, label)`` rows (the vector column is
    projected away — downstream joins re-attach it by id when needed).
    """
    from csvb_spark.operators.dedup import dedup_clusters

    pairs = neardup_pairs_by_label(embs, min_cos=min_cos, max_id=None, vec_col=vec_col)
    labels = dedup_clusters(pairs, left_col="id_a", right_col="id_b")
    drop = labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("vec_id")
    )
    # no broadcast hint: the drop set is data-dependent (O(corpus) on a
    # heavily-duplicated crawl) — AQE broadcasts it when it actually fits
    return embs.join(drop, "vec_id", "left_anti").select("vec_id", "label")

def knn_join(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    nprobe: int = 1,
    exclude_self: bool = True,
    neg_label_col: str | None = None,
) -> DataFrame:
    """Batch k-NN join: for EVERY probe vector, its top-k cosine
    neighbors from the corpus — the retrieval primitive behind
    dedup-against-index and embedding-based eval contamination.

    ``neg_label_col``: restrict candidates to corpus rows whose label
    DIFFERS from the probe's — the hard-negative-mining mode (see
    :func:`hard_negatives`). The filter runs before ranking, inside
    the same exchange; no extra pass. Labels compare NULL-safely: a
    NULL label is a distinct label value, so NULL-vs-non-NULL pairs
    are mined and NULL-vs-NULL pairs are not.

    Exact formulation (``centroids=None``): broadcast the (small)
    probe set, map-side cosine against every corpus row, then a
    per-probe window top-k. The ranking shuffle carries only
    fixed-width ``(probe_id, vec_id, cos)`` rows — |probes|×|corpus|
    of them, fine for a bounded probe batch.

    IVF-pruned formulation (``centroids=`` a :func:`kmeans_train`
    result): the kernel's ``l2ip`` metric (``c·c − 2·v·c``, lower-cid
    ties — the trainer's assignment) puts every corpus row in its
    nearest cell and every probe in its ``nprobe`` nearest, and
    candidates meet through a broadcast cid equi-join instead of a
    cross join, so the ranking exchange carries ≈
    |probes|×|corpus|·(nprobe/K) rows. Scoring and ranking are
    identical to the exact path. Approximate: a true neighbor in an
    unprobed cell is missed — that is the IVF contract. A NULL or
    wrong-dim vector, on either side, has no cell and meets nothing.

    ``exclude_self`` drops candidates whose ``id_col`` equals the
    probe's id — the right default when probes are drawn from the
    corpus itself. Pass ``False`` when probes and corpus come from
    different tables with independent id spaces, where equal ids are
    legitimate neighbors, not self-matches.

    Output: ``(probe_id, vec_id, cos_sim, rnk)``, ``rnk`` 1..k per
    probe, ordered by cosine desc with vec_id tiebreak.
    """
    from pyspark.sql import Window

    p_cols = _probe_cols(id_col, vec_col)
    if neg_label_col is not None:
        p_cols.append(F.col(neg_label_col).alias("probe_label"))

    if centroids is None:
        candidates = corpus.crossJoin(F.broadcast(probes.select(*p_cols)))
    else:
        book = _codebook(centroids, nprobe)
        cells = _cell_kernel([book], "l2ip", nprobe)(F.col(vec_col))
        p = probes.select(*p_cols, cells.alias("_cells"))
        p = p.select("*", F.explode("_cells").alias("cid")).drop("_cells")
        # corpus rows carry ONE cell, so a (probe, corpus) pair meets in
        # at most one cell — the equi-join never duplicates candidates
        candidates = _assign(corpus, book, "l2ip", vec_col).join(
            F.broadcast(p), "cid"
        )

    if neg_label_col is not None:
        # null-safe: a NULL label is a distinct label VALUE, so
        # NULL-vs-non-NULL pairs are mined and NULL-vs-NULL pairs are
        # not — a stated contract instead of SQL NULL semantics
        # silently dropping every candidate of a NULL-labeled probe
        candidates = candidates.filter(
            ~F.col(neg_label_col).eqNullSafe(F.col("probe_label"))
        )
    scored = candidates.filter(
        F.col(id_col) != F.col("probe_id") if exclude_self else F.lit(True)
    ).select("probe_id", id_col, _cos_sim(vec_col))
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", id_col, "cos_sim", "rnk")
    )


# --- product quantization (PQ) ----------------------------------------


def pq_train(
    embs: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train a product quantizer (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the vector into
    ``m`` contiguous subspaces and run the deterministic
    :func:`kmeans_train` independently on each slice. Returns the
    codebook as rows ``(s, cid, pos, val)`` with 0-based subspace
    ``s`` and 1-based in-subspace ``pos``.

    PQ is the memory story for 100 TB ANN: a 64-dim float vector
    (256 B) compresses to ``m`` uint8 codes (m bytes) — the index
    fits in RAM at billions of vectors, and ADC scoring (see
    :func:`pq_adc_topk`) never touches the original vectors. Training
    cost is m independent kmeans runs over the slice columns; each is
    the bounded-driver-constant pattern kmeans_train documents.
    """
    dim = len(embs.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    sub = dim // m
    parts = []
    for s in range(m):
        sl = embs.select(
            id_col,
            F.slice(as_double(F.col(vec_col)), s * sub + 1, sub).alias(vec_col),
        )
        cb = kmeans_train(sl, k=k, iters=iters, vec_col=vec_col, id_col=id_col)
        parts.append(cb.select(F.lit(s).alias("s"), "cid", "pos", "val"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _pq_books(codebooks) -> list[dict[int, list[float]]]:
    """One ``{cid: components}`` book per subspace, from a
    :func:`pq_train` DataFrame ``(s, cid, pos, val)`` or a
    ``{(s, cid): components}`` dict, validated: contiguous subspaces,
    one subvector length, and dense 0-based cids (ADC's lookup tables
    index by code value; pq_train over dense ids yields this)."""
    if isinstance(codebooks, dict):
        cb = {key: list(map(float, v)) for key, v in codebooks.items()}
    else:
        tmp: dict[tuple[int, int], dict[int, float]] = {}
        for r in codebooks.collect():
            tmp.setdefault((int(r["s"]), int(r["cid"])), {})[int(r["pos"])] = float(
                r["val"]
            )
        cb = {key: [vals[p] for p in sorted(vals)] for key, vals in tmp.items()}
    if not cb:
        raise ValueError("pq: empty codebook")
    subs = {s for s, _ in cb}
    if subs != set(range(len(subs))):
        raise ValueError(f"pq: non-contiguous subspace ids {sorted(subs)}")
    if len({len(v) for v in cb.values()}) != 1:
        raise ValueError("pq: ragged codebook subvector lengths")
    books = [{c: v for (sp, c), v in cb.items() if sp == s} for s in range(len(subs))]
    for s, book in enumerate(books):
        if sorted(book) != list(range(len(book))):
            raise ValueError(f"pq: non-dense cids {sorted(book)} in subspace {s}")
    return books


def _pq_dim(books: list[dict]) -> int:
    return len(books) * _width(books[0])


def _pq_codes(df: DataFrame, books: list[dict], vec: Column, keep: list) -> DataFrame:
    """``keep`` columns plus ``code_0 … code_{m-1}``: the kernel's
    per-subspace squared-L2 argmin of ``vec``."""
    codes = df.select(*keep, _cell_kernel(books, "l2")(vec).alias("_codes"))
    return codes.select(
        *keep,
        *[F.col("_codes")[s].cast("int").alias(f"code_{s}") for s in range(len(books))],
    )


def pq_encode(
    embs: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector its per-subspace nearest codeword (true
    squared-L2 argmin, ties to the lower cid). Output:
    ``(id, code_0 … code_{m-1})`` — one small int per subspace, the
    entire PQ index row; NULL codes for a NULL or wrong-dim vector.
    Map-only: one kernel call against the codebook literals.
    """
    return _pq_codes(embs, _pq_books(codebooks), F.col(vec_col), [id_col])


def _adc_sum(pv: np.ndarray, books: list[dict]) -> Column:
    """The ADC distance of a row as m table lookups: entry (s, cid) is
    the squared-L2 fold of probe slice s against codeword cid, computed
    on the driver, and the terms add left to right like the oracle's
    ``((t0 + t1) + t2) + t3``."""
    dist, off = None, 0
    for s, book in enumerate(books):
        _, C = _book_arrays(book)
        table = _fold(pv[off : off + C.shape[1]], C, sq=True)
        off += C.shape[1]
        term = F.element_at(
            F.array(*[F.lit(float(x)) for x in table]),
            F.col(f"code_{s}").cast("int") + 1,
        )
        dist = term if dist is None else dist + term
    return dist


def _adc_topk(coded: DataFrame, dist: Column, pid, k: int, id_col: str) -> DataFrame:
    return (
        coded.filter(F.col(id_col) != F.lit(pid))
        .select(id_col, F.round(dist, 6).alias("adc_dist"))
        # a NULL or wrong-dim vector has NULL codes, which ASC would rank first
        .filter(F.col("adc_dist").isNotNull())
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def pq_adc_topk(
    embs: DataFrame,
    probe: DataFrame,
    codebooks,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC):
    encode the corpus with :func:`pq_encode`, precompute the m×K
    probe-to-codeword distance table, and score every row as the sum
    of ``m`` table lookups — no per-row vector math at all. Output:
    ``(id, adc_dist)`` ascending with id tiebreak (squared L2).

    The probe and the m×K table are bounded driver constants; the
    table entries come from the same fold the oracle's
    ``list_dot_product`` uses, so the lookups are bit-identical
    cross-engine. The scored scan is pure codegen (element_at on
    literal arrays + a fixed-order sum) and the top-k is
    TakeOrderedAndProject. At scale the codes table is the only thing
    read — m bytes per row instead of the vector.
    """
    books = _pq_books(codebooks)
    pid, pv = _probe(probe, id_col, vec_col, _pq_dim(books), "pq")
    codes = _pq_codes(embs, books, F.col(vec_col), [id_col])
    return _adc_topk(codes, _adc_sum(pv, books), pid, k, id_col)


def pq_seeded_codebook(
    m: int = 4, k: int = 4, sub: int = 16, seed: int = 11, scale: float = 1.0
) -> dict[tuple[int, int], list[float]]:
    """Deterministic random codebook for tests/oracles (the
    ``_hyperplanes`` pattern): values formatted to exactly 3 decimals
    so a SQL literal of the same text parses to the identical double
    in any engine. ``scale`` shrinks codewords toward the magnitude
    of the vectors being coded (residuals are much smaller than raw
    vectors — a unit-scale codebook would assign every residual the
    same nearest codeword and the codes stop discriminating)."""
    rng = np.random.RandomState(seed)
    arr = rng.standard_normal((m, k, sub)) * scale
    return {
        (s, c): [float(f"{x:.3f}") for x in arr[s, c]]
        for s in range(m)
        for c in range(k)
    }


def _ivfpq_books(codebooks, cents: dict) -> list[dict]:
    books = _pq_books(codebooks)
    if _width(cents) != _pq_dim(books):
        raise ValueError(
            f"ivfpq: centroid dim {_width(cents)} != m*sub {_pq_dim(books)}"
        )
    return books


def _ivfpq_coded(
    embs: DataFrame, books: list[dict], cents: dict, vec_col: str, id_col: str,
    keep: Column,
) -> DataFrame:
    """(id, cid, code_0..m-1): the coarse cell (squared L2) and the PQ
    codes of the RESIDUAL vector − centroid — the map-only encode that
    ivfpq_topk and the persisted index share. Cells are the dense
    0..K-1 of :func:`seed_centroids`. Rows failing ``keep`` are dropped
    before coding (Catalyst cannot push it past the kernel itself)."""
    table = F.array(*[F.array(*[F.lit(x) for x in cents[c]]) for c in sorted(cents)])
    resid = F.zip_with(
        F.col(vec_col),
        F.element_at(table, F.col("cid").cast("int") + 1),
        lambda a, b: a.cast("double") - b,
    )
    cells = _assign(embs, cents, "l2", vec_col).filter(keep)
    cells = cells.select(id_col, "cid", resid.alias("_r"))
    return _pq_codes(cells, books, F.col("_r"), [id_col, "cid"])


def _ivfpq_probe(
    probe: DataFrame,
    books: list[dict],
    cents: dict,
    nprobe: int,
    vec_col: str,
    id_col: str,
) -> tuple[object, Column, Column]:
    """The probe side ivfpq_topk and ivfpq_index_topk share: the probe
    id, a filter keeping its ``nprobe`` nearest cells (squared L2), and
    the ADC distance — one residual table set per probed cell, chosen
    by a CASE on ``cid``."""
    pid, pv = _probe(probe, id_col, vec_col, _pq_dim(books), "ivfpq")
    probed = _nearest(pv, cents, "l2", nprobe)[0]
    dist = None
    for c in probed:
        cd = _adc_sum(pv - np.array(cents[c]), books)
        hit = F.col("cid") == c
        dist = F.when(hit, cd) if dist is None else dist.when(hit, cd)
    return pid, F.col("cid").isin(probed), dist


def ivfpq_topk(
    embs: DataFrame,
    probe: DataFrame,
    codebooks,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed_ids: list | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composition production ANN
    indexes (FAISS ``IVFx,PQy``) actually ship: a coarse quantizer
    prunes the corpus to the probe's ``nprobe`` nearest cells, and
    within those cells rows are scored by ADC over PQ codes of the
    RESIDUAL (vector − cell centroid). Residual encoding is what
    makes small PQ codebooks accurate: each subquantizer only has to
    cover the spread within a cell, not the whole space.

    Deterministic contract: the coarse quantizer is
    :func:`seed_centroids` — data rows, so the oracle reads them from
    the table; assignment and the probe's cell ranking are the
    kernel's true squared-L2 argmin with lower-cid ties, and the
    per-cell ADC tables are driver constants from the same fold.

    Plan: assignment + residual + codes are map-only against
    centroid/codebook literals; only rows of probed cells are coded
    (the persisted index, partitioned by cid, prunes at the file level
    instead), per-row cost is m lookups chosen by a CASE over nprobe
    cells, and the top-k is TakeOrderedAndProject. Output: (id, adc_dist) ascending, id
    tiebreak, probe row excluded.
    """
    cents = _codebook(
        seed_centroids(embs, n_centroids, vec_col, id_col, seed_ids), nprobe
    )
    books = _ivfpq_books(codebooks, cents)
    pid, keep, dist = _ivfpq_probe(probe, books, cents, nprobe, vec_col, id_col)
    coded = _ivfpq_coded(embs, books, cents, vec_col, id_col, keep)
    return _adc_topk(coded, dist, pid, k, id_col)


def rp_signs(out_dim: int, in_dim: int, seed: int = 11) -> list[list[int]]:
    """Deterministic ±1 random-projection matrix (Achlioptas 2003,
    sparse/sign random projections): ``sign[j][i]`` is derived from the
    parity of ``md5(j:i:seed)``'s first 8 hex chars, so ANY engine can
    re-derive the matrix from the three integers alone — no shipped
    artifact. ``out_dim × in_dim`` ints: a bounded constant (the same
    driver-constant pattern as the IVF codebooks), NOT data."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{j}:{i}:{seed}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1
            for i in range(1, in_dim + 1)
        ]
        for j in range(1, out_dim + 1)
    ]


def rp_project(
    embs: DataFrame,
    out_dim: int = 8,
    seed: int = 11,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-projection dimensionality reduction — the standard
    pre-LSH / pre-clustering step when the raw embedding dim makes
    banding or cross-cell scoring too wide (project 768 → 8-32 dims,
    then band/bucket the short code).

    Output: ``(vec_id, pos, val)`` long-form, 1-based ``pos`` —
    ``val = round(Σ_i v[i] * sign[pos][i], 6)``.

    Determinism contract: the sign matrix is :func:`rp_signs`
    (md5-parity, engine-recomputable); each term is cast to
    DECIMAL(30,6) and summed EXACTLY (order-independent — parallel
    partial aggregation cannot perturb it), with one final
    decimal→double cast. Same integer-exactness design as
    ``kmeans_train``'s centroid update.

    Plan: map-only — per output dim one zip_with/aggregate fold over
    the vector against a literal sign array; zero shuffles, zero
    Python, linear in corpus size. The sign matrix costs
    ``out_dim × in_dim`` ints on the driver regardless of data scale.
    Reference scope: beyond-reference (training-pipeline extension).
    """
    first = embs.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("rp_project: empty embeddings input")
    in_dim = int(first["d"])
    signs = rp_signs(out_dim, in_dim, seed)
    v = as_double(F.col(vec_col))
    cols = []
    for j in range(1, out_dim + 1):
        sj = F.array(*[F.lit(s) for s in signs[j - 1]])
        acc = F.aggregate(
            F.zip_with(v, sj, lambda x, s: (x * s).cast("decimal(30,6)")),
            F.lit(0).cast("decimal(30,6)"),
            # decimal addition widens to (31,6); cast back so the fold's
            # accumulator type is stable (exact — terms are |x| ≲ 1e3)
            lambda a, t: (a + t).cast("decimal(30,6)"),
        )
        cols.append(
            F.named_struct(
                F.lit("pos"), F.lit(j), F.lit("val"), F.round(acc.cast("double"), 6)
            )
        )
    return embs.select(
        F.col(id_col), F.explode(F.array(*cols)).alias("o")
    ).select(id_col, F.col("o.pos").alias("pos"), F.col("o.val").alias("val"))


def hard_negatives(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for
    every probe, the ``k`` corpus vectors MOST similar to it that
    carry a DIFFERENT label — the near-miss negatives that make
    InfoNCE/triplet training converge (random negatives are too easy;
    same-label neighbors are positives, not negatives).

    Pure composition over :func:`knn_join`'s candidate machinery: the
    label-mismatch filter runs inside the ranking exchange, so cost
    and plan shape are identical to the plain k-NN join — broadcast
    probe batch + map-side cosine exactly, or cid equi-join when a
    ``centroids`` codebook prunes (the 100 TB path). Output:
    ``(probe_id, vec_id, cos_sim, rnk)``.
    """
    return knn_join(
        corpus,
        probes,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
        centroids=centroids,
        nprobe=nprobe,
        exclude_self=True,
        neg_label_col=label_col,
    )


def write_ivf_index(
    embs: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus hive-partitioned by IVF cell — the ANN twin
    of ``dedup.write_band_index``: a probe knows its ``nprobe`` cells
    from the (bounded, driver-constant) codebook alone, so the read
    side partition-prunes to those directories and per-query I/O is
    ``nprobe/K`` of the corpus BEFORE any compute — the property that
    makes IVF pay at 100 TB, where the win is skipped I/O, not
    skipped math. Cells are :func:`knn_join`'s (the kernel's ``l2ip``
    metric). One shuffle (repartition by cid keeps one file per cell
    per write, so pruned partitions are also few files)."""
    _write_cells(_assign(embs, _codebook(centroids), "l2ip", vec_col), path, mode)


def _write_cells(df: DataFrame, path: str, mode: str) -> None:
    df.repartition("cid").write.mode(mode).partitionBy("cid").parquet(path)


def ivf_index_topk(
    spark,
    path: str,
    centroids: DataFrame,
    probe: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine top-k for a 1-row probe against a :func:`write_ivf_index`
    layout, reading ONLY the probe's ``nprobe`` nearest cells (the
    filter is on the partition column, so it prunes directories at
    planning time — asserted via ``PartitionFilters`` in tests).

    The probe's cells are :func:`knn_join`'s (the ``l2ip`` ranking on
    the driver) and the pruned cells are scored by
    :func:`brute_force_topk`, so the result equals
    ``knn_join(centroids=...)`` for that probe. :func:`ivf_topk` ranks
    cells by cosine instead, so with centroids of unequal norm the two
    can probe different cells."""
    book = _codebook(centroids, nprobe)
    _, pv = _probe(probe, id_col, vec_col, _width(book), "ivf_index_topk")
    cells = spark.read.parquet(path).filter(
        F.col("cid").isin(_nearest(pv, book, "l2ip", nprobe)[0])
    )
    return brute_force_topk(cells, probe.limit(1), k, vec_col, id_col)


def write_ivfpq_index(
    embs: DataFrame,
    codebooks,
    path: str,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
    seed_ids: list | None = None,
) -> None:
    """Persist the IVF-PQ index: (id, cid, code_0..m-1) hive-partitioned
    by coarse cell. This is the layout FAISS's ``IVFx,PQy`` keeps in
    RAM, as a parquet table: m bytes-ish of code per row instead of
    the full vector (the raw embeddings can go cold), and a probe
    reads only its ``nprobe`` cell directories before any ADC math.
    One shuffle (repartition by cid → one file per cell per write)."""
    cents = seed_centroids(embs, n_centroids, vec_col, id_col, seed_ids)
    books = _ivfpq_books(codebooks, cents)
    coded = _ivfpq_coded(embs, books, cents, vec_col, id_col, F.lit(True))
    _write_cells(coded, path, mode)


def ivfpq_index_topk(
    spark,
    path: str,
    codebooks,
    centroids: dict[int, list[float]],
    probe: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k against a :func:`write_ivfpq_index` layout, reading
    ONLY the probe's ``nprobe`` nearest cells (planning-time partition
    pruning — the cid filter never scans the other cells' files).
    Candidates, ADC tables, and ranking are :func:`ivfpq_topk`'s over
    the same codebook/centroids, so the two agree exactly; the index
    buys cold storage + pruned I/O."""
    cents = _codebook(centroids, nprobe)
    books = _ivfpq_books(codebooks, cents)
    pid, keep, dist = _ivfpq_probe(probe, books, cents, nprobe, vec_col, id_col)
    return _adc_topk(spark.read.parquet(path).filter(keep), dist, pid, k, id_col)


def centroid_drift(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space DRIFT monitor — x86 token drift's geometric
    twin: per label, the cosine between the two snapshot halves'
    centroids (here the even/odd id halves; in production, yesterday's
    embeddings vs today's). A label whose centroid swings is a class
    whose content changed — re-embed, re-cluster, or investigate the
    upstream source. Output: ``(label, n_old, n_new, centroid_cos)``
    (NULL cosine when a half is empty or zero).

    Determinism: cosine is scale-invariant, so it is computed from the
    per-dimension element SUMS, not means — each element is rounded to
    6 and quantized to DECIMAL(18,6) ONCE (the x92/x103 pattern), and
    everything after that stays in exact decimal arithmetic
    (dot/norms are sums of DECIMAL(18,6) products — DECIMAL(36,12),
    exact in both engines) until one final deterministic double
    division. No rounding of already-agreed doubles anywhere.

    Plan: one explode to ``(label, dim)`` granularity — the exchange
    carries ``labels × dim`` aggregated rows, not the corpus — then a
    ``labels``-sized aggregate; counts ride a second tiny aggregate on
    the unexploded table. Reference scope: beyond-reference
    (training-pipeline extension).
    """
    half = F.pmod(F.col(id_col), F.lit(2))
    tagged = embeddings.select(
        F.col(label_col).alias("label"),
        half.alias("_half"),
        F.posexplode(F.col(vec_col)).alias("pos", "_v"),
    )
    q = F.round(F.col("_v").cast("double"), 6).cast("decimal(18,6)")
    per_dim = tagged.groupBy("label", "pos").agg(
        F.coalesce(F.sum(F.when(F.col("_half") == 0, q)), F.lit(0))
        .cast("decimal(18,6)")
        .alias("_so"),
        F.coalesce(F.sum(F.when(F.col("_half") == 1, q)), F.lit(0))
        .cast("decimal(18,6)")
        .alias("_sn"),
    )
    sums = per_dim.groupBy("label").agg(
        F.sum(F.col("_so") * F.col("_sn")).alias("_dot"),
        F.sum(F.col("_so") * F.col("_so")).alias("_no"),
        F.sum(F.col("_sn") * F.col("_sn")).alias("_nn"),
    )
    counts = embeddings.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.when(half == 0, 1)).alias("n_old"),
        F.count(F.when(half == 1, 1)).alias("n_new"),
    )
    cos = F.when(
        (F.col("_no").cast("double") > 0) & (F.col("_nn").cast("double") > 0),
        F.col("_dot").cast("double")
        / (
            F.sqrt(F.col("_no").cast("double"))
            * F.sqrt(F.col("_nn").cast("double"))
        ),
    )
    return counts.join(sums, "label").select(
        "label", "n_old", "n_new", cos.alias("centroid_cos")
    )
