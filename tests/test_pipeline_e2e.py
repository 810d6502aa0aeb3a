"""End-to-end corpus build: the assembly operators composed the way a
real training-data pipeline runs them, finishing in a partitioned
parquet export — verifies the operators COMPOSE (schemas line up,
determinism survives chaining) and that the final layout is the one a
trainer consumes (split-partitioned files, deterministic order keys).
"""

from __future__ import annotations


def test_corpus_build_end_to_end(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from csvb_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from csvb_spark.operators.splits import (
        assign_splits,
        corpus_shuffle,
        mixture_sample,
        pack_sequences,
    )
    from csvb_spark.operators.text import pii_redact, repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_raw = docs.count()

    # 1. scrub: redacted text replaces raw text
    scrubbed = (
        pii_redact(docs)
        .select("doc_id", F.col("redacted").alias("text"))
        .join(docs.drop("text"), "doc_id")
    )

    # 2. near-dup removal: keep each cluster's keeper (min doc_id);
    #    unpaired docs are implicitly their own keeper
    pairs = ngram_jaccard_pairs(docs, k=4, min_jaccard=0.3)
    clusters = dedup_clusters(pairs)
    dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    kept = scrubbed.join(dropped, "doc_id", "left_anti")
    n_kept = kept.count()
    assert 0 < n_kept < n_raw  # the fixture does contain near-dups

    # 3. mixture downsampling + split assignment (both hash-determined)
    mixed = mixture_sample(kept, {"src0": 1.0}, default_rate=0.8)
    split_df = assign_splits(mixed)

    # 4. deterministic shuffle + packing, then split-partitioned export
    packed = pack_sequences(
        corpus_shuffle(split_df), "n_chars", budget=4096, part_col="split",
        order_col="shuffle_key",
    )
    out = str(tmp_path / "corpus")
    packed.write.partitionBy("split").parquet(out)

    back = spark.read.parquet(out)
    assert back.count() == mixed.count()
    # the export preserves every pipeline invariant:
    assert set(r["split"] for r in back.select("split").distinct().collect()) <= {
        "train",
        "valid",
        "test",
    }
    # no dropped doc leaked through
    assert back.join(dropped, "doc_id", "left_semi").count() == 0
    # PII was scrubbed before export
    assert back.filter(F.col("text").rlike("@example\\.com")).count() == 0
    # packing offsets are within budget and ranks deterministic: re-run
    # the same pipeline and get the identical export (hash-determinism
    # end to end, no rand() anywhere)
    assert back.filter(F.col("seq_offset") >= 4096).count() == 0
    again = pack_sequences(
        corpus_shuffle(assign_splits(mixture_sample(kept, {"src0": 1.0}, 0.8))),
        "n_chars", budget=4096, part_col="split", order_col="shuffle_key",
    )
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in packed.collect()}

    # quality stats compose over the scrubbed text too
    stats = repetition_stats(kept)
    assert stats.count() == n_kept


def test_dedup_clusters_wide_ids_over_byte_budget_go_distributed(spark, monkeypatch):
    """The driver-side union-find is bounded in bytes, not only rows:
    string ids too wide for the budget take the distributed label
    propagation, with identical clusters; the same edge count with
    narrow ids still collects."""
    import csvb_spark.operators.dedup as dedup

    collected = []
    driver = dedup._driver_clusters

    def spy(*args):
        collected.append(1)
        return driver(*args)

    monkeypatch.setattr(dedup, "_driver_clusters", spy)
    # 3 components: chains 0-1-...-9, 10-...-19, and star 20-{21..29}
    edges = [(i, i + 1) for i in range(9)] + [(i, i + 1) for i in range(10, 19)]
    edges += [(20, j) for j in range(21, 30)]

    def clusters(pad: str) -> list[tuple]:
        collected.clear()
        pairs = spark.createDataFrame(
            [(f"{a:04d}{pad}", f"{b:04d}{pad}") for a, b in edges],
            "doc_id_a string, doc_id_b string",
        )
        return sorted(tuple(r) for r in dedup.dedup_clusters(pairs).collect())

    wide = "w" * 500
    fast = clusters(wide)
    assert collected and len(fast) == 30
    assert {c for _, c in fast} == {f"{i:04d}{wide}" for i in (0, 10, 20)}
    # 27 edges x 2 x 504 bytes ≈ 27 KB over a 16 KiB budget
    monkeypatch.setattr(dedup, "_DRIVER_EDGE_BUDGET_BYTES", 16 << 10)
    assert clusters(wide) == fast
    assert not collected
    clusters("")  # 27 x 8 bytes fits: still collected
    assert collected
