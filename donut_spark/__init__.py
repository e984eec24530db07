"""donut_spark — a PySpark-native document extraction & analytics engine.

A from-scratch, Spark-first re-implementation of the data-processing
semantics of the `jireh-father/donut` reference (table-OCR fork of NAVER
Donut): JSON-tree linearization/delinearization, HTML boilerplate
normalization, reading-order span extraction, nTED/TEDS scoring — all
expressed as DataFrame transformations + Arrow-vectorized pandas UDFs,
plus the large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) such an engine needs at
100 TB scale.

Layout:
    core/       pure-Python kernels (no Spark imports) — unit-testable
    functions/  pandas-UDF + higher-order-function wrappers
    sources/    table catalog (parquet/Iceberg-shaped) + fixture synth
    operators/  pipelines: extraction, dedup, similarity, multimodal
    plans/      explicit physical-plan helpers (skew decluster, lineage)
    streaming/  Structured Streaming variant of the extraction pipeline
"""

__version__ = "0.1.0"
