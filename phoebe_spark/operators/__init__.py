"""Relational and data-pipeline operators.

- ``text``       — language-ID, quality scoring, token counting,
                   fingerprints, BPE tokenizer training
- ``dedup``      — exact, MinHash-LSH, SimHash, n-gram Jaccard,
                   winnowing, components, decontamination
- ``similarity`` — embedding cosine top-k (brute force + LSH-bucketed +
                   IVF), all-pairs GEMM, quantization
- ``sampling``   — hash split/sample, stratified + weighted sampling
- ``curation``   — quality rules, repetition, packing, mixture weights
- ``skyline``    — 2D Pareto-frontier preference queries
- ``skew``       — salted two-phase aggregation
- ``multimodal`` — binary media columns: magic-byte mime sniff, PNG/WAV
                   decode, image hashes, audio spectra
- ``layout``     — Z-order (Morton) expressions, exact global ranks
"""

from phoebe_spark.operators import (  # noqa: F401
    curation,
    dedup,
    layout,
    multimodal,
    sampling,
    similarity,
    skew,
    skyline,
    text,
)
