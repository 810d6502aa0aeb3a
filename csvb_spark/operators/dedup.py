"""Deduplication operators for training-data pipelines.

Four tiers, all pure DataFrame (no Python in the row path):

- **exact**: hash-groupBy on a content digest. One shuffle on the
  digest; partial aggregation makes the map side cheap.
- **MinHash + LSH**: per-row signature computed with nested
  higher-order lambdas (NO explode over permutations — the signature
  is one projection), then banding, then a self-join per band bucket.
  The only shuffle is on (band_id, band_key), whose cardinality is
  ~n_docs × n_bands; hot buckets (boilerplate docs) are the skew risk
  and AQE skew-join handles them.
- **SimHash**: 64-bit signature per row (map-only), near-dup pairs by
  Hamming distance via 16-bit chunk banding (pigeonhole: distance ≤ 3
  ⇒ some chunk of 4 matches exactly).
- **n-gram Jaccard**: exact verification pass over candidate pairs —
  used standalone within small blocking buckets, or as the verifier
  behind MinHash candidates.

At 100 TB you run exact first (cheapest), then MinHash-LSH with the
verifier; SimHash is the cheap alternative when you want one int64
per doc (e.g. for incremental dedup against a bloom/static set).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from csvb_spark.operators.text import char_shingles, tokens


def spread(df: DataFrame, *cols: str, n: int | None = None) -> DataFrame:
    """Ensure a CPU-heavy narrow projection runs with ≥ core-count
    parallelism.

    Higher-order array lambdas (``transform``/``aggregate``/...) are
    interpreted, not whole-stage-codegen'd, so per-row cost is high and
    the scan's partitioning decides the wall clock. A small single-file
    scan arrives as ONE partition and serializes the whole signature
    computation onto one core; at real scale the scan already has more
    partitions than cores and this is a no-op (the partition check is
    planning-only, no job runs).
    """
    n = n or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *cols) if cols else df.repartition(n)


def content_digest(col: str | Column = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.encode(c, "UTF-8"))


def exact_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per distinct content: keeper (min doc_id) + copy count."""
    return (
        docs.groupBy(content_digest(text_col).alias("fp"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Documents surviving exact dedup (min doc_id per content)."""
    keep = exact_groups(docs, text_col).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


def word_shingles(col: str | Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles.

    Built as a chain of ``zip_with`` over k shifted slices rather
    than ``transform(sequence(...), i -> slice(t, i, k))``: an
    expression referenced inside a higher-order lambda re-evaluates
    PER ELEMENT, so the sequence form re-ran the tokenizer split once
    per shingle — quadratic in document length (measured 2.7 s →
    linear on the sf0.1 shingle explode). zip_with children evaluate
    once per row; zip_with NULL-pads the shorter slice and concat_ws
    skips NULLs, reproducing the old slice-truncation semantics for
    tail shingles exactly."""
    t = tokens(col)
    m = F.greatest(F.size(t) - (k - 1), F.lit(1))
    acc = F.slice(t, 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(t, 1 + j, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    # NULL text: the old sequence form yielded one '' shingle
    # (size(NULL) is -1, concat_ws over a NULL slice is '') — keep
    # that contract rather than propagating NULL
    return F.when(t.isNull(), F.array(F.lit(""))).otherwise(
        F.array_distinct(acc)
    )


def minhash_signature(shingles: Column, num_perm: int = 16) -> Column:
    """num_perm MinHash values in ONE projection (Column form).

    Each shingle STRING is hashed exactly once; permutation i then
    re-hashes the resulting 8-byte value with seed i — O(bytes) work
    per shingle plus O(num_perm) fixed-width hashes, instead of
    num_perm full string hashes. NOTE: higher-order lambdas are
    interpreted (no codegen) and Catalyst textually duplicates the
    ``shingles`` argument expression into every permutation lambda, so
    only pass a *materialized column* here — for the full pipeline use
    :func:`minhash_signatures`, whose explode/groupBy shape stays
    entirely inside whole-stage codegen (and produces the same values).
    """
    hs = F.transform(shingles, lambda s: F.xxhash64(s))
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.array_min(F.transform(hs, lambda h: F.xxhash64(h, i))),
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    num_perm: int = 16,
    shingle_words: int = 3,
    spread_input: bool = True,
) -> DataFrame:
    """(doc_id, sig: array<bigint>[num_perm]) via explode + groupBy-min.

    Same values as ``minhash_signature`` (min over shingles of
    xxhash64(xxhash64(shingle), perm)), but shaped for codegen: the
    shingle set is derived once per document, exploded, each shingle
    STRING hashed exactly once to a bigint, and the num_perm
    permutation hashes are then fixed-width (8-byte input) hashes —
    plain column expressions, no interpreted lambdas, and the
    string-hashing cost is paid once instead of num_perm times
    (profiled: the 16× string re-hash was ~60% of the whole operator
    at sf0.1). Partial aggregation collapses each document back to one
    row on the map side, so the groupBy shuffle carries exactly one
    (doc_id, num_perm × int64) row per document — NOT the exploded
    shingle stream.

    ``spread_input=False`` skips the ``spread`` parallelism check for
    callers whose input is ALREADY shuffle-partitioned (the streaming
    sink signs its micro-batch AFTER exact dedup's groupBy): the
    check is a plan-time no-op there, but verifying that costs a full
    analyze+optimize+plan of the input lineage per call (``df.rdd``)
    — measured ~0.7 s of driver time per micro-batch (round 16, §5).
    """
    base = (
        spread(docs.select("doc_id", text_col))
        if spread_input
        else docs.select("doc_id", text_col)
    )
    exploded = base.select(
        "doc_id",
        F.explode(word_shingles(text_col, shingle_words)).alias("s"),
    ).select("doc_id", F.xxhash64("s").alias("hs"))
    # ONE parsed expression for all num_perm aggregates: building them
    # as individual Column objects costs 4+ py4j round-trips each and
    # was ~25% of the operator's per-run plan-construction time (the
    # bench counts construction — a real user's driver pays it too).
    # SQL `i` literals are INT like F.lit(i), so hash values are
    # bit-identical to the Column form.
    sig = ", ".join(f"min(xxhash64(hs, {i}))" for i in range(num_perm))
    return exploded.groupBy("doc_id").agg(
        F.expr(f"array({sig})").alias("sig")
    )


def minhash_bands(
    docs: DataFrame,
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    spread_input: bool = True,
) -> DataFrame:
    """(doc_id, sig, band_id, band_key) — the LSH banding table, the
    unit both the self-join dedup and the incremental path index.

    The groupBy-min signature path is whole-stage-codegen end to end;
    the groupBy's own shuffle doubles as the exchange barrier that
    stops CollapseProject from inlining the signature into every band
    expression and both join sides. Row after partial agg is
    (doc_id, num_perm × int64) — fixed width, independent of document
    length. Band keys are literal-unrolled multi-arg xxhash64 over
    direct array items: plain (codegen'd) expressions — the
    lambda/slice/concat_ws form of the same key is interpreted and
    was the dominant cost of the whole operator at sf0.1.
    """
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(
        docs, text_col, num_perm, shingle_words, spread_input=spread_input
    )
    # one parsed expression for the whole band array (same py4j
    # economics as the signature aggregate above; values unchanged —
    # SQL array indexing is 0-based like Column.getItem)
    structs = ", ".join(
        "named_struct('band_id', {b}, 'band_key', xxhash64({args}))".format(
            b=b,
            args=", ".join(
                f"sig[{b * rows_per_band + j}]" for j in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sigs.select(
        "doc_id",
        "sig",
        F.expr(f"explode(array({structs}))").alias("band"),
    ).select("doc_id", "sig", "band.band_id", "band.band_key")


def band_bucket(band_key: str | Column = "band_key", n_buckets: int = 64) -> Column:
    """Partition bucket for a persisted band index: a stable hash of
    the band key. Both the writer and the probe compute it from the
    key alone, so any engine/run agrees on the layout."""
    c = F.col(band_key) if isinstance(band_key, str) else band_key
    return F.pmod(F.xxhash64(c), F.lit(n_buckets))


def write_band_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus MinHash band index hive-partitioned by
    ``bucket = pmod(xxhash64(band_key), n_buckets)``.

    The layout is the scale path for :func:`dedup_incremental`: a
    probe batch computes the SAME bucket on its own band keys, the
    candidate equi-join includes ``bucket``, and Spark's dynamic
    partition pruning reads only the index partitions the batch can
    collide with — per-batch I/O is bounded by batch size × collision
    rate, never index size. One shuffle (repartition by bucket keeps
    one file per partition per write instead of one per task)."""
    b = minhash_bands(docs, text_col, num_perm, bands, shingle_words)
    write_band_index_from_bands(b, path, n_buckets=n_buckets, mode=mode)


def write_band_index_from_bands(
    bands_df: DataFrame,
    path: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist an ALREADY-COMPUTED :func:`minhash_bands` table in the
    :func:`write_band_index` layout. Exists so a caller that has just
    signed a batch for the :func:`dedup_incremental` probe can reuse
    those band rows for the index append instead of re-shingling and
    re-signing the same documents (the streaming sink signed every
    micro-batch twice before round 15's optimization pass)."""
    (
        bands_df.select("doc_id", "sig", "band_id", "band_key")
        .withColumn("bucket", band_bucket("band_key", n_buckets))
        .repartition("bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def compact_band_index(spark, path: str) -> int:
    """Rewrite a :func:`write_band_index` layout so each bucket holds
    one file — streaming ingest appends a file per (micro-batch ×
    bucket), and probe-side partition pruning only pays off if pruned
    partitions are also FEW files. Reads the index fully, rewrites
    into a sibling directory, then swaps atomically-enough for a
    single-writer maintenance job (at production scale this is the
    compaction pass a transactional table format runs for you).
    Returns the number of rows compacted."""
    import os
    import shutil

    df = spark.read.parquet(path)
    n = df.count()
    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__old"
    (
        df.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    min_jaccard: float = 0.5,
    skew_warn_threshold: float | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    Jaccard over the shingle sets.

    Plan shape: project(signature) → explode(bands) → shuffle on
    (band, key) → pair join → exact-Jaccard verify. Output:
    (doc_id_a, doc_id_b, est_jaccard, jaccard).

    ``skew_warn_threshold``: opt-in skew pre-flight. When set, the
    band-bucket histogram (``profile.skew_report`` over the banding,
    which is then materialized once and reused by both sides of the
    self-join) is checked before the candidate join; a normalized
    entropy below the threshold raises a warning. The warning — not a
    salt — is deliberate: salting cannot shrink a hot bucket's pair
    OUTPUT, which is quadratic in bucket size (AQE skew-split already
    rebalances the exchange itself; see the merge hint below). The
    actionable fix the warning names is running EXACT dedup first, so
    identical boilerplate collapses to one representative per digest
    before it can form a quadratic band bucket. Default off: the
    pre-flight costs one extra aggregation over the banding.
    """
    # Shuffle economics: only (doc_id, sig, band_id, band_key) moves
    # through the candidate join — 16 bigints + keys per row, never
    # the shingle arrays. Shingles are re-derived from text for the
    # (small) candidate set during verification. No spread() here
    # (round-15): the verify joins either BROADCAST this side (a
    # pre-broadcast repartition is pure waste — the collect flattens
    # it) or shuffle it on the join key (which discards a round-robin
    # layout); the shingle HOF work is parallelized by the explicit
    # repartition barrier AFTER the joins, not by this input's layout.
    base = docs.select("doc_id", text_col)
    banded = minhash_bands(docs, text_col, num_perm, bands, shingle_words)
    if skew_warn_threshold is not None:
        from csvb_spark.operators.profile import skew_report

        banded = banded.localCheckpoint(eager=True)
        rep = skew_report(
            banded.select(
                F.concat_ws(
                    "\x00", F.col("band_id").cast("string"), F.col("band_key")
                ).alias("bucket")
            ),
            "bucket",
            k=1,
        ).first()
        ne = rep["norm_entropy"] if rep is not None else None
        # a single-bucket banding normalizes to NULL entropy but is the
        # degenerate-skew case, not the uniform one
        if rep is not None and rep["n_keys"] == 1:
            ne = 0.0
        if ne is not None and ne < skew_warn_threshold:
            import warnings

            warnings.warn(
                "minhash_lsh_pairs: band buckets are skewed "
                f"(norm_entropy={ne}, hottest bucket holds "
                f"{rep['n']} of {rep['total_rows']} band rows). AQE "
                "skew-split rebalances the exchange, but the hot "
                "bucket's candidate-pair OUTPUT is quadratic in its "
                "size — run exact dedup (exact_dedup/exact_groups) "
                "first so identical boilerplate collapses before "
                "banding.",
                stacklevel=2,
            )

    a = banded.alias("a")
    b = banded.alias("b")
    # est: unrolled equality votes (codegen) instead of zip_with/filter;
    # ONE parsed expression — the generator-of-Columns form was ~0.2s
    # of py4j chatter per plan construction. `/ CAST(n AS DOUBLE)`
    # keeps the int-sum / double division of the Column form (a bare
    # `16.0` literal would parse as DECIMAL and change the type).
    votes = " + ".join(
        f"CAST(a.sig[{j}] = b.sig[{j}] AS INT)" for j in range(num_perm)
    )
    est = F.expr(f"({votes}) / CAST({num_perm} AS DOUBLE)")
    pairs = (
        # merge hint: a broadcast plan would rebuild the banding twice
        # (once for the broadcast, once streamed) with no exchange
        # reuse; the shuffle join also keeps AQE skew-splitting
        # available for hot band buckets (boilerplate documents).
        a.join(
            b.hint("merge"),
            F.expr(
                "a.band_id = b.band_id AND a.band_key = b.band_key "
                "AND a.doc_id < b.doc_id"
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.round(est, 6).alias("est_jaccard"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )

    # exact-Jaccard verification: join the (small) candidate set back
    # to the raw text and shingle only the surviving rows — AQE
    # broadcasts the candidate side, so no shingle set is ever computed
    # for a document that isn't in some candidate pair.
    shingled = (
        pairs.join(
            base.select(
                F.col("doc_id").alias("doc_id_a"), F.col(text_col).alias("text_a")
            ),
            "doc_id_a",
        )
        .join(
            base.select(
                F.col("doc_id").alias("doc_id_b"), F.col(text_col).alias("text_b")
            ),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            "est_jaccard",
            word_shingles("text_a", shingle_words).alias("sh_a"),
            word_shingles("text_b", shingle_words).alias("sh_b"),
        )
    )
    # Exchange barrier: derive each side's shingle set exactly once.
    # Without it CollapseProject inlines the shingle expression into
    # both the intersect and the union below (4 derivations per pair);
    # the shuffle moves only the surviving candidate pairs' arrays.
    shingled = shingled.repartition(
        shingled.sparkSession.sparkContext.defaultParallelism
    )
    verified = shingled.withColumn(
        "jaccard",
        F.round(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
            6,
        ),
    )
    return verified.filter(F.col("jaccard") >= min_jaccard).select(
        "doc_id_a", "doc_id_b", "est_jaccard", "jaccard"
    )


def dedup_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    min_jaccard: float = 0.5,
    corpus_bands: DataFrame | None = None,
    n_buckets: int = 64,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup lookup of a NEW batch against an EXISTING corpus:
    (new_doc_id, corpus_doc_id, est_jaccard, jaccard) for every new
    document whose exact word-shingle Jaccard against some corpus
    document reaches ``min_jaccard`` — the incremental flow of a
    continuously-growing corpus, where re-running the full self-join
    dedup per batch would re-sign the whole corpus every time.

    Pass ``corpus_bands`` (a persisted :func:`minhash_bands` output)
    to skip re-signing the corpus. If it carries the ``bucket``
    partition column of :func:`write_band_index` (built with
    ``n_buckets``), the probe recomputes the bucket on its own band
    keys and joins on it too — dynamic partition pruning then reads
    only the index partitions the batch can collide with. An EXACT
    duplicate always collides (identical signature → identical band
    keys in every band), so exact dups are never missed; near-dups
    follow the standard LSH recall curve.

    Pass ``new_bands`` (a :func:`minhash_bands` table over
    ``new_docs``) to skip re-signing the batch — the streaming sink
    signs each micro-batch once and reuses the rows here AND for the
    index append (round-15 optimization; signatures are deterministic,
    so the result is identical either way).
    """
    if new_bands is None:
        new_bands = minhash_bands(
            new_docs, text_col, num_perm, bands, shingle_words
        )
    nb = new_bands.select(
        F.col("doc_id").alias("new_doc_id"),
        F.col("sig").alias("sig_n"),
        "band_id",
        "band_key",
    )
    cb = corpus_bands
    if cb is None:
        cb = minhash_bands(corpus_docs, text_col, num_perm, bands, shingle_words)
    join_keys = ["band_id", "band_key"]
    keep = [
        F.col("doc_id").alias("corpus_doc_id"),
        F.col("sig").alias("sig_c"),
        "band_id",
        "band_key",
    ]
    if "bucket" in cb.columns:
        nb = nb.withColumn("bucket", band_bucket("band_key", n_buckets))
        join_keys = ["bucket", *join_keys]
        keep.append("bucket")
    cb = cb.select(*keep)
    est = sum(
        (F.col("sig_n")[j] == F.col("sig_c")[j]).cast("int") for j in range(num_perm)
    ) / F.lit(float(num_perm))
    cands = (
        nb.join(cb, join_keys)
        .select("new_doc_id", "corpus_doc_id", F.round(est, 6).alias("est_jaccard"))
        .dropDuplicates(["new_doc_id", "corpus_doc_id"])
    )
    shingled = (
        cands.join(
            new_docs.select(
                F.col("doc_id").alias("new_doc_id"),
                word_shingles(text_col, shingle_words).alias("sh_n"),
            ),
            "new_doc_id",
        )
        .join(
            corpus_docs.select(
                F.col("doc_id").alias("corpus_doc_id"),
                word_shingles(text_col, shingle_words).alias("sh_c"),
            ),
            "corpus_doc_id",
        )
    )
    # exchange barrier: derive each side's shingles once (same
    # CollapseProject economics as minhash_lsh_pairs' verify stage)
    shingled = shingled.repartition(
        shingled.sparkSession.sparkContext.defaultParallelism
    )
    return (
        shingled.withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_n", "sh_c"))
                / F.size(F.array_union("sh_n", "sh_c")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("new_doc_id", "corpus_doc_id", "est_jaccard", "jaccard")
    )


def simhash64_from_hashes(hashes_col: str = "th") -> Column:
    """64-bit SimHash from a pre-hashed token array: per-bit signed
    vote over the hashes. Written as a SQL expression because the
    bit-shift amount is a lambda variable (the Python ``shiftleft``
    wrapper only accepts a literal int).
    """
    return F.expr(
        f"""
        aggregate(
          sequence(0, 63),
          0L,
          (acc, b) -> acc + IF(
            aggregate(
              {hashes_col},
              0,
              (vote, h) -> vote + IF((h & shiftleft(1L, b)) != 0, 1, -1)
            ) > 0,
            shiftleft(1L, b), 0L)
        )
        """
    )


def simhash_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Banding by 16-bit chunks: distance ≤ 3 guarantees at least one of
    the 4 chunks is identical (pigeonhole), so candidate generation is
    an equi-join on (chunk_id, chunk_value) — shuffle-friendly, no
    cross join.

    Token hashes are materialized behind an exchange barrier so each
    token is hashed exactly once; the 64-bit vote then folds over the
    hash array. Without the barrier the projection collapse would
    re-tokenize and re-hash the document once per bit (64×).
    """
    hashed = spread(docs.select("doc_id", text_col)).select(
        "doc_id", F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("th")
    )
    hashed = hashed.repartition(
        hashed.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    sigs = hashed.select("doc_id", simhash64_from_hashes("th").alias("sig"))
    # barrier again: (doc_id, int64) rows; stops the vote-aggregate
    # from being inlined into each of the 4 chunk lambdas below
    sigs = sigs.repartition(
        sigs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    chunks = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), c -> struct("
                "  c AS chunk_id,"
                "  shiftrightunsigned(sig, c * 16) & 65535L AS chunk_val))"
            )
        ).alias("ch"),
    ).select("doc_id", "sig", "ch.chunk_id", "ch.chunk_val")

    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(
            b.hint("merge"),
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang", "source"),
    k: int = 4,
    min_jaccard: float = 0.3,
) -> DataFrame:
    """Exact character-k-gram Jaccard over pairs within blocking
    buckets. The blocking join keys bound the pair explosion; at
    scale, block on cheap invariants (lang, length band, source).
    """
    sh = spread(docs.select(*block_cols, "doc_id", text_col)).select(
        *block_cols, "doc_id", char_shingles(text_col, k).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    cond = (F.col("a.doc_id") < F.col("b.doc_id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    jac = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) / F.size(
        F.array_union(F.col("a.sh"), F.col("b.sh"))
    )
    return (
        a.join(b.hint("merge"), cond)
        .select(
            *[F.col(f"a.{c}").alias(c) for c in block_cols],
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    max_df: int = 50,
    min_containment: float = 0.6,
    broadcast_max_docs: int = 8_000_000,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT near-dup pairs:
    ``C(A→B) = |S(A) ∩ S(B)| / |S(A)|`` over distinct word
    ``k``-gram shingles — the subset-duplicate detector Jaccard
    misses (a short doc quoted whole inside a long one scores
    near-1.0 containment but low Jaccard; Broder 1997 defines both).
    Emits ``(doc_id_a, doc_id_b, containment)`` for every ORDERED
    pair with ``containment >= min_containment`` — A-in-B and B-in-A
    are different facts.

    Shingles with document frequency above ``max_df`` are dropped
    from the shingle UNIVERSE (numerator and denominator alike — the
    standard stop-shingle rule): a boilerplate shingle shared by a
    million documents carries no dedup signal but would alone explode
    the index to 10^12 pairs. The cap makes the worst-case fan-out
    per shingle ``max_df²`` BY CONSTRUCTION — the skew bound is in
    the algorithm, not in runtime mitigation. Documents whose capped
    shingle set is empty have no evidence and emit nothing.

    Shingles are FINGERPRINTED to 64-bit ``xxhash64`` before any
    shuffle (exactly Broder 1997's move — shingle sets are compared
    via fingerprints, not strings): every exchange is keyed on a
    fixed 8-byte long instead of a variable ``k``-word string. Two
    distinct shingles colliding would inflate one intersection count
    by 1; at 2^-64 per pair that is vanishingly rarer than the
    approximation already accepted by ``max_df``.

    Plan (inverted-index posting lists, no self-join): explode
    distinct shingles (map-side) → ONE exchange on the shingle hash →
    a WINDOW count per hash → cap filter → posting-list collect.
    Ordering of the last three matters twice over. The cap is
    enforced BEFORE any list materializes, so ``collect_list``'s
    aggregation state really is a ≤``max_df``-element array — a
    collect-then-filter shape would buffer a boilerplate shingle's
    million ids in one agg buffer before discarding them, the exact
    blowup the cap exists to prevent (WindowExec's per-key buffer
    spills to disk; hash-agg merge state does not). And the window
    form needs only the one exchange: a count-then-semi-join cap
    re-exchanges (and re-tokenizes) the whole shingle stream, which
    measured 2.5× slower end-to-end; the collect groupBy rides the
    window's partitioning. Then: map-side pair expansion of each
    list (the i<j nested ``transform`` touches ≤ max_df² bounded
    elements, partial-aggregating BEFORE the pair exchange) → one
    groupBy counting each UNORDERED pair once → per-doc set sizes
    joined back. The size table is one row per surviving document,
    materialized once (localCheckpoint) for its two join consumers:
    under ``broadcast_max_docs`` it broadcasts (the pair table — the
    widest in the plan — is then never re-exchanged); above, the
    by-design 100 TB path is two equi-joins on the pair keys. The
    posting-list table is also materialized once because the pair
    expansion and the size aggregation both consume it. Measured at
    the bench's synthetic sf1: 9.2 s (shingle-string self-join) →
    3.9 s (this shape). Reference scope: beyond-reference
    (training-pipeline extension).
    """
    if max_df < 2:
        raise ValueError(f"containment_pairs: max_df must be >= 2, got {max_df}")
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col(text_col), k)).alias("g")
    ).select("doc_id", F.xxhash64("g").alias("gh"))
    posts = (
        sh.withColumn("_df", F.count("*").over(Window.partitionBy("gh")))
        .filter(F.col("_df") <= max_df)
        .groupBy("gh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ids"))
        .select("_ids", F.size("_ids").alias("_df"))
        .localCheckpoint(eager=True)
    )
    sz = (
        posts.select(F.explode("_ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("_n"))
        .localCheckpoint(eager=True)
    )
    if sz.count() <= broadcast_max_docs:
        sz = F.broadcast(sz)
    # |A∩B| is symmetric: expand each posting list to its UNORDERED
    # i<j pairs map-side (halves the heaviest exchange), aggregate
    # once, then emit both ordered directions with their own
    # denominators. The inner slice re-evaluates per outer element —
    # O(len²) copies — but len <= max_df by the filter above.
    pair_arr = F.flatten(
        F.transform(
            F.slice(F.col("_ids"), 1, F.size("_ids") - 1),
            lambda a, i: F.transform(
                F.slice(F.col("_ids"), i + 2, F.size("_ids")),
                lambda b: F.struct(a.alias("_da"), b.alias("_db")),
            ),
        )
    )
    inter = (
        posts.filter(F.col("_df") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p._da").alias("_da"), F.col("p._db").alias("_db"))
        .agg(F.count("*").alias("_i"))
    )
    both = (
        inter.join(
            sz.select(F.col("doc_id").alias("_da"), F.col("_n").alias("_na")),
            "_da",
        )
        .join(
            sz.select(F.col("doc_id").alias("_db"), F.col("_n").alias("_nb")),
            "_db",
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("_da").alias("doc_id_a"),
                        F.col("_db").alias("doc_id_b"),
                        F.round(F.col("_i") / F.col("_na"), 6).alias(
                            "containment"
                        ),
                    ),
                    F.struct(
                        F.col("_db").alias("doc_id_a"),
                        F.col("_da").alias("doc_id_b"),
                        F.round(F.col("_i") / F.col("_nb"), 6).alias(
                            "containment"
                        ),
                    ),
                )
            ).alias("p")
        )
        .select("p.*")
    )
    return both.filter(F.col("containment") >= min_containment)


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a document's
    distinct word ``k``-gram shingles that occur in NO other document
    — the uniqueness signal curation pipelines use both ways (high
    novelty ≈ fresh content worth keeping; near-zero novelty ≈
    assembled from boilerplate, and a memorization-risk flag when
    computed against a trained model's corpus).

    Output: ``(doc_id, n_grams, n_unique, novelty)`` with ``novelty``
    rounded to 6 (0.0 for documents whose every shingle recurs).

    Plan: one map-side distinct-shingle explode, ONE groupBy for
    document frequency (partial-aggregated; the df==1 filter drops
    the heavy-hitter tail before the join, so the join side is the
    LIGHT end of the Zipf curve — the opposite skew profile from
    ``containment_pairs``), one equi-join back, one per-doc count.
    Nothing corpus-wide beyond those two keyed exchanges; no pair
    explosion at all. Reference scope: beyond-reference
    (training-pipeline extension).
    """
    # ONE shingle pass: the exploded table is materialized once and
    # serves all three consumers (df histogram, the unique-set join,
    # and the per-doc totals — every doc emits >= 1 shingle row, so
    # n_grams needs no second word_shingles evaluation over the
    # corpus, which would double the dominant map-side tokenize cost).
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col(text_col), k)).alias("g")
    ).localCheckpoint(eager=True)
    uniq = (
        sh.groupBy("g")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") == 1)
        .select("g")
    )
    per_doc = sh.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    n_unique = sh.join(uniq, "g").groupBy("doc_id").agg(
        F.count("*").alias("n_unique")
    )
    return per_doc.join(n_unique, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
        F.round(
            F.coalesce("n_unique", F.lit(0)) / F.col("n_grams"), 6
        ).alias("novelty"),
    )


#: the most id bytes (edges × the width of both ids) that
#: :func:`dedup_clusters` collects to the driver for its union-find;
#: 1M bigint edges (16 MB) fit, as under the row bound alone
_DRIVER_EDGE_BUDGET_BYTES = 32 << 20


def _driver_clusters(pairs: DataFrame, left_col: str, edges: list) -> DataFrame:
    """:func:`dedup_clusters` over a collected edge list: union-find on
    the driver, one ``(doc_id, cluster_id)`` row per node with the
    smallest id of its component."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges:
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict = {}
    for n in parent:
        r = find(n)
        m = roots.get(r)
        if m is None or n < m:
            roots[r] = n
    dt = pairs.schema[left_col].dataType
    schema = StructType([StructField("doc_id", dt), StructField("cluster_id", dt)])
    return pairs.sparkSession.createDataFrame(
        [(n, roots[find(n)]) for n in parent], schema
    )


def dedup_clusters(
    pairs: DataFrame,
    left_col: str = "doc_id_a",
    right_col: str = "doc_id_b",
    max_iter: int = 25,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-duplicate PAIRS → one
    ``(doc_id, cluster_id)`` row per paired document, where
    ``cluster_id`` is the smallest doc_id in the component — the
    final step of a dedup pipeline (pick one keeper per cluster, drop
    the rest). Documents with no pair are not emitted (they are their
    own keeper).

    Iterative hash-min label propagation: every node starts labeled
    with itself; each round every node takes the min of its own and
    its neighbors' labels; converged when no label changed. Rounds
    needed = component diameter — tiny for near-dup clusters (dense
    clique-ish blobs), so the loop runs 2-4 times in practice. Each
    round is two shuffles over (node, label) pairs — fixed-width rows
    independent of document size — and the label frontier is
    ``localCheckpoint``-ed so the plan does not grow with iterations
    (at deployment scale, use a checkpoint dir instead of executor
    blocks). The driver-side loop holds only a changed-row COUNT,
    never data. Raises RuntimeError if not converged in ``max_iter``
    (never returns silently wrong clusters).

    Bounded-collect fast path (round 16, guide §1.2/§5): the pair
    table is DUPLICATE-pairs-sized — tiny next to the corpus in every
    real dedup — yet each propagation round costs two fixed driver
    jobs and shuffles, so at small pair counts the loop is pure
    scheduling overhead (~90 % of the curate capstone's split stage
    at sf0.1). When the edge list is small the components are computed
    with a driver-side union-find instead. The bound is in bytes as
    well as rows, so the driver never holds an unbounded table: one
    aggregate job counts the edges first (and, for string/binary ids,
    measures the widest id), and the edges are collected only when
    the count is within ``driver_max_edges`` and count × the two ids'
    width (the schema's fixed width, else the widest id seen) fits
    :data:`_DRIVER_EDGE_BUDGET_BYTES`. Identical output by
    construction: min-label per component, and Python's string
    ordering (code points) agrees with Spark's UTF8 binary ordering.
    Above the bound, the distributed loop below is unchanged — that
    path's per-round cost is then amortized by real work.
    """
    edges = pairs.select(
        F.col(left_col).alias("a"), F.col(right_col).alias("b")
    )
    fixed, variable = 0, []
    for c in ("a", "b"):
        if isinstance(edges.schema[c].dataType, (StringType, BinaryType)):
            variable.append(F.max(F.octet_length(c)))
        else:  # Catalyst's own width of the type (8 for bigint)
            fixed += edges._jdf.schema().apply(c).dataType().defaultSize()
    n_edges, *widths = edges.agg(F.count("*"), *variable).first()
    id_bytes = fixed + sum(w or 0 for w in widths)
    if (
        n_edges <= driver_max_edges
        and n_edges * id_bytes <= _DRIVER_EDGE_BUDGET_BYTES
    ):
        return _driver_clusters(pairs, left_col, edges.collect())
    bidir = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        bidir.select(F.col("a").alias("n"))
        .distinct()
        .withColumn("label", F.col("n"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        prop = bidir.join(
            labels.select(F.col("n").alias("b"), "label"), "b"
        ).select(F.col("a").alias("n"), "label")
        # carry each node's PREVIOUS label through the aggregate (the
        # labels side contributes it; propagated rows carry NULL, and
        # a node always has exactly one labels row, so max(_old) IS
        # the old label) — the convergence check is then a flat scan
        # of the materialized frontier instead of a per-iteration
        # shuffle join of new-vs-old labels (round-15 optimization;
        # one fewer shuffle per round at scale, one fewer join job
        # per round at bench scale)
        merged = (
            labels.select("n", "label", F.col("label").alias("_old"))
            .unionByName(
                prop.select(
                    "n",
                    "label",
                    F.lit(None)
                    .cast(labels.schema["label"].dataType)
                    .alias("_old"),
                )
            )
            .groupBy("n")
            .agg(
                F.min("label").alias("label"), F.max("_old").alias("_old")
            )
            .localCheckpoint()
        )
        changed = merged.filter(F.col("label") != F.col("_old")).count()
        labels = merged.select("n", "label")
        if changed == 0:
            return labels.select(
                F.col("n").alias("doc_id"), F.col("label").alias("cluster_id")
            )
    raise RuntimeError(f"dedup_clusters did not converge in {max_iter} rounds")


def substring_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 10,
    min_docs: int = 2,
    policy: str = "all",
    wide_gram_keys: bool = False,
) -> DataFrame:
    """Exact-substring duplication spans, the seed+merge formulation
    of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every maximal token
    span whose word ``k``-grams each appear verbatim in at least
    ``min_docs`` distinct documents.

    Exactness bound (differential-tested against an O(n^4) brute-force
    reference on adversarial overlapping/nested/periodic corpora,
    ``tests/test_plans.py``): for ``policy='all'`` the construction is
    COVERAGE-EXACT, not approximate — a position sits inside some
    duplicated substring of length >= k iff it sits inside a
    duplicated k-window (every length->=k duplicate contains each of
    its positions in a duplicated k-window, and every duplicated
    k-window IS such a substring), and the island merge emits exactly
    the maximal runs of that position set (recall = precision = 1
    modulo hash collisions; see the key-width note below). Duplicated
    runs SHORTER than k are invisible by definition — that threshold,
    plus ``policy='keep_first'`` attributing ownership at gram (not
    occurrence) granularity, is where approximation genuinely lives.
    A fused island may span hits from DIFFERENT duplicate partners;
    coverage is still exact, only per-partner attribution is not.

    Output: one row per maximal span —
    ``(doc_id, span_start, span_end, span_tokens)``, 1-based token
    positions, end inclusive. Downstream removal is a substring cut on
    these spans; emitting spans (not rewritten text) keeps the operator
    composable with span-level policies (keep-first-copy, strip-all).

    Plan shape / scale notes:

    - k-gram seeding explodes ~one row per token; the gram is shuffled
      as a single ``xxhash64`` int64, never the string (k=10 grams are
      ~60 bytes; the hash is 8). At 64 bits a collision needs ~2^32
      distinct grams (birthday bound) — fine per-partition-of-corpus;
      at full 100 TB scope pass ``wide_gram_keys=True`` and the key
      becomes two independently-seeded hashes (~2^64 bound, 16 bytes
      on the wire — see ``text.gram_key_struct``).
    - frequency filter is a partial-aggregated groupBy on the hash,
      then a semi-join back (AQE broadcasts it when the duplicated-gram
      dictionary is small, which is the common case).
    - island merge is one window + one groupBy, both partitioned by
      ``doc_id`` — the groupBy reuses the window's exchange, so the
      whole merge costs a single shuffle.
    """
    from csvb_spark.operators.text import gram_key_cols, gram_key_exprs

    keys = gram_key_cols(wide_gram_keys)
    t = docs.select("doc_id", tokens(text_col).alias("t"))
    starts = F.when(
        F.size("t") >= k, F.sequence(F.lit(1), F.size("t") - (k - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    seeds = t.select(
        "doc_id",
        F.explode(starts).alias("start"),
        *gram_key_exprs(
            F.concat_ws(" ", F.slice("t", F.col("start"), F.lit(k))),
            wide_gram_keys,
        ),
    )
    if min_docs == 2:
        # count_distinct plans as TWO exchanges (a (gh, doc_id) dedup
        # pass, then the gh agg); "seen in >=2 distinct docs" is just
        # min != max — one fully partial-aggregated exchange carrying
        # (gh, min, max) instead of the whole (gh, doc_id) pair stream.
        dup = (
            seeds.groupBy(*keys)
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .select(*keys, "lo")
        )
    else:
        dup = (
            seeds.groupBy(*keys)
            .agg(
                F.count_distinct("doc_id").alias("nd"),
                F.min("doc_id").alias("lo"),
            )
            .filter(F.col("nd") >= min_docs)
            .select(*keys, "lo")
        )
    if policy == "keep_first":
        # Lee et al.'s keep-one-copy semantics at gram granularity: the
        # minimal doc owning a gram keeps it; only later copies become
        # strippable hits. (Within-doc repeats in the canonical doc are
        # kept — occurrence-level pruning would need position-ordered
        # ownership, which banding can't see; documented approximation.)
        # seeds is unique on (doc_id, start) and dup on gh, so the join
        # output needs no dedup — a dropDuplicates here would add a full
        # extra exchange the doc_id window below cannot reuse
        hits = (
            seeds.join(dup, keys)
            .filter(F.col("doc_id") != F.col("lo"))
            .select("doc_id", "start")
        )
    elif policy == "all":
        hits = seeds.join(dup.select(*keys), keys, "left_semi").select(
            "doc_id", "start"
        )
    else:
        raise ValueError(f"unknown policy: {policy!r}")

    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("start")
    prev_max_start = F.max("start").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    # a seed extends the running island while start <= prev_end + 1
    # (prev_end = prev_max_start + k - 1); otherwise it breaks a new one
    brk = F.when(
        F.col("start") > F.coalesce(prev_max_start, F.lit(-k)) + k, 1
    ).otherwise(0)
    islands = hits.withColumn("island", F.sum(brk).over(w))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + (k - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def near_dedup(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    k: int = 4,
    min_jaccard: float = 0.3,
    keep: str = "min_id",
) -> DataFrame:
    """The corpus after near-duplicate REMOVAL: one canonical document
    survives per connected near-dup cluster; documents in no cluster
    pass through untouched. ``keep`` picks the canonical: ``min_id``
    (the default — stable, cheapest) or ``longest`` (max ``n_chars``,
    ties to min id) — the quality-aware choice real pipelines prefer,
    since near-dup clusters usually contain one full document plus
    truncated/boilerplate-wrapped copies, and keeping the longest
    keeps the most content.

    This is the last step of the dedup pipeline — pairs
    (:func:`ngram_jaccard_pairs` or :func:`minhash_lsh_pairs`) →
    clusters (:func:`dedup_clusters`) → keep-canonical. Pass ``pairs``
    to reuse an already-computed candidate set.

    The drop set (cluster members that are not their cluster's min) is
    usually tiny relative to the corpus, so AQE broadcasts the final
    anti-join and the corpus itself is never shuffled; on a heavily
    duplicated corpus the drop set is large and AQE falls back to a
    shuffle join instead of forcing an oversized broadcast. Note the
    clustering step runs a bounded number of driver-coordinated jobs
    (label-propagation rounds), not a single lazy plan.
    """
    if keep not in ("min_id", "longest"):
        raise ValueError(
            f"near_dedup: keep must be 'min_id' or 'longest', got {keep!r}"
        )
    if pairs is None:
        pairs = ngram_jaccard_pairs(docs, text_col=text_col, k=k, min_jaccard=min_jaccard)
    labels = dedup_clusters(pairs)
    if keep == "longest":
        # rank cluster members by content length; the label table is
        # pairs-sized, so the size join back is tiny and the window
        # partitions on the cluster id (bounded cluster sizes)
        from pyspark.sql import Window

        sized = labels.join(
            docs.select("doc_id", F.length(F.col(text_col)).alias("_len")),
            "doc_id",
        )
        rn = F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("_len").desc(), "doc_id"
            )
        )
        drop = sized.withColumn("_rn", rn).filter(F.col("_rn") > 1).select("doc_id")
    else:
        drop = labels.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    # no broadcast hint: on a heavily-duplicated corpus the drop set is
    # O(corpus) — AQE broadcasts it only when it actually fits
    return docs.join(drop, "doc_id", "left_anti")


def strip_spans(
    docs: DataFrame,
    spans: DataFrame | None = None,
    text_col: str = "text",
    k: int = 10,
    min_docs: int = 2,
    policy: str = "all",
) -> DataFrame:
    """Apply :func:`substring_spans` to the corpus: rewrite each
    document with its duplicated spans cut out (strip-all policy).

    Output: ``(doc_id, clean_text, n_tokens, n_removed)`` —
    ``clean_text`` is the surviving tokens joined by single spaces
    (whitespace-normalized, like any retokenized corpus), covering
    every document, including untouched ones and ones removed in full
    (``clean_text = ''``).

    Pass ``spans`` to reuse a materialized span set; otherwise they
    are derived in-plan. The span side aggregates to one array row
    per affected document before the join, so the join input is
    |affected docs|, not |spans|, and AQE broadcasts it in the common
    case where duplication is sparse. The rewrite itself is a
    higher-order filter over token positions — map-only, no Python.
    """
    if spans is None:
        spans = substring_spans(docs, text_col, k=k, min_docs=min_docs, policy=policy)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sp")
    )
    t = tokens(text_col)
    joined = docs.select("doc_id", t.alias("t")).join(per_doc, "doc_id", "left")
    sp = F.coalesce(F.col("sp"), F.expr("array()").cast(per_doc.schema["sp"].dataType))
    kept = F.filter(
        F.col("t"),
        lambda x, i: ~F.exists(
            sp,
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("t").alias("n_tokens"),
        (F.size("t") - F.size(kept)).alias("n_removed"),
    )


def line_dedup(
    docs: DataFrame,
    segments: Column | None = None,
    min_docs: int = 2,
    joiner: str = "\n",
    text_col: str = "text",
    wide_gram_keys: bool = False,
) -> DataFrame:
    """Repeated-line removal (the RefinedWeb / CCNet line-dedup shape):
    drop every segment that occurs verbatim in ``min_docs`` or more
    DISTINCT documents — boilerplate headers, cookie banners,
    navigation chrome — and reassemble each document from its
    surviving segments in original order.

    ``segments`` is any ``array<string>`` expression over the row
    (default: newline split of ``text_col``); pass a custom
    segmentation (sentences, fixed token windows) when the corpus has
    no newlines. Output per input doc: ``doc_id``, ``n_lines``,
    ``n_kept``, ``clean_text`` (empty string when every line was
    boilerplate).

    Plan: posexplode → segment-hash key (fixed-width int64 on the
    wire, never the line text; ``wide_gram_keys`` widens to 128-bit
    past the ~2^32-distinct-line birthday bound) → two-level
    partial-aggregated groupBy for the distinct-doc count (no
    count_distinct shuffle of raw doc_ids) → left-anti join against
    the ≥min_docs set → one keyed shuffle to reassemble. The frequent
    set is the heavy-hitter tail of the line distribution —
    broadcast-sized in the common case; AQE decides, and skew on a
    viral line lands in the anti-join where AQE skew-split applies.
    Reference scope: beyond-reference (training-pipeline extension);
    method shape per Penedo et al. 2023 (RefinedWeb) §3.3.
    """
    from csvb_spark.operators.text import gram_key_cols, gram_key_struct

    keys = gram_key_cols(wide_gram_keys)
    segs_expr = segments if segments is not None else F.split(F.col(text_col), "\n")
    segs = (
        docs.select("doc_id", F.posexplode(segs_expr).alias("pos", "seg"))
        .select(
            "doc_id",
            "pos",
            "seg",
            gram_key_struct(F.col("seg"), wide_gram_keys).alias("gk"),
        )
        .select("doc_id", "pos", "seg", "gk.*")
    )
    frequent = (
        segs.select(*keys, "doc_id")
        .groupBy(*keys, "doc_id")
        .agg(F.lit(1))
        .groupBy(*keys)
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select(*keys)
    )
    kept = segs.join(frequent, keys, "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
        ).alias("clean_text"),
    )
    return (
        docs.select("doc_id", F.size(segs_expr).alias("n_lines"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    k: int = 3,
    max_df: int = 50,
    min_containment: float = 0.6,
    broadcast_max_docs: int = 8_000_000,
) -> DataFrame:
    """Cross-SOURCE duplication matrix: aggregate
    :func:`containment_pairs` up to the provenance level — for every
    ordered source pair, how many near-duplicate document pairs point
    from source A into source B and how strongly. The corpus-report
    view a curation run reads before deciding which feed to drop:
    a row ``(crawl-x, wiki, 1200, 0.93)`` says crawl-x is largely a
    re-scrape of wiki.

    Output: ``(source_a, source_b, n_pairs, avg_containment)`` — one
    row per ordered source pair with at least one qualifying document
    pair (self-pairs ``A→A`` included: intra-source duplication is the
    dedup workload itself). ``avg_containment`` is an
    order-independent mean (exact DECIMAL(18,6) sum over the rounded
    containments, divided in double) so any engine replays it
    bit-identically.

    Plan: the containment chain (see :func:`containment_pairs` for the
    df-capped posting-list shape), then two equi-joins against the
    narrow ``(doc_id, source)`` projection and ONE aggregation on the
    source pair — the join key is the pair table's own key, and the
    doc→source side prunes to two columns at the scan. Output
    cardinality is ``n_sources²`` at most — driver-safe to collect at
    any corpus size. Reference scope: beyond-reference
    (training-pipeline extension).
    """
    pairs = containment_pairs(
        docs,
        text_col=text_col,
        k=k,
        max_df=max_df,
        min_containment=min_containment,
        broadcast_max_docs=broadcast_max_docs,
    )
    src = docs.select(F.col("doc_id"), F.col(source_col).alias("_src"))
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_id_a"), F.col("_src").alias("source_a")
            ),
            "doc_id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_id_b"), F.col("_src").alias("source_b")
            ),
            "doc_id_b",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            (
                F.sum(F.col("containment").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("avg_containment"),
        )
    )


def dedup_cluster_sizes(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup CLUSTER-SIZE histogram — the duplication profile a
    dataset card reports (and the first thing to inspect before
    choosing dedup aggressiveness): how many clusters of each size the
    corpus contains, where size-1 rows are the unclustered documents.
    Output: ``(cluster_size, n_clusters)``.

    ``pairs`` defaults to :func:`ngram_jaccard_pairs` (the
    oracle-checkable path); feed MinHash-LSH pairs at scale. Plan: the
    label table from :func:`dedup_clusters` is pairs-sized, so both
    aggregations after it are tiny; the singleton count is ONE scalar
    (corpus count minus labeled count) appended via union — the corpus
    itself is scanned once, for its count. Reference scope:
    beyond-reference (training-pipeline extension).
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(docs, text_col=text_col)
    labels = dedup_clusters(pairs)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters")
    )
    n_docs = docs.count()
    n_labeled = labels.count()
    singles = docs.sparkSession.createDataFrame(
        [(1, n_docs - n_labeled)], "cluster_size bigint, n_clusters bigint"
    )
    return (
        hist.select(F.col("cluster_size").cast("bigint"), "n_clusters")
        .unionByName(singles)
        .filter(F.col("n_clusters") > 0)
    )
