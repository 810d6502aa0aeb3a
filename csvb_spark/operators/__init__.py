"""Beyond-reference operators for large-scale training-data pipelines.

- ``dedup``       exact / MinHash-LSH / SimHash / n-gram Jaccard
- ``similarity``  exact, LSH, IVF and IVF-PQ top-k, k-NN join, k-means
                  and PQ training on one numpy fold and one
                  cell-assignment kernel
- ``text``        token stats, quality, language ID, fingerprints
- ``sessions``    gap-based sessionization (batch; streaming twin in
                  ``csvb_spark.streaming.sessions``)
- ``search``      BM25 lexical top-k + reciprocal-rank fusion
- ``bpe``         distributed BPE vocabulary training + apply
- ``skew``        salted join / salted exact count-distinct
- ``multimodal``  binary payload + metadata plumbing (mapInPandas)
- ``splits``      dataset assembly: splits, contamination, mixture
                  sampling, corpus shuffle, sequence packing
- ``temporal``    as-of join, binned range join, hierarchical rollup

Design notes per operator family: SCALE.md at the repo root.
"""

from csvb_spark.operators import (  # noqa: F401
    bpe,
    dedup,
    multimodal,
    search,
    sessions,
    similarity,
    skew,
    splits,
    temporal,
    text,
    web,
)
