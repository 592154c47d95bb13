"""Training-data pipeline operators over extracted text / embeddings.

These are the large-scale corpus-preparation stages a Common-Crawl
extraction pipeline feeds (dedup, similarity search, text quality,
multimodal plumbing). All hot paths are native ``pyspark.sql.functions``
(JVM/codegen side); Python appears only in vectorized pandas UDFs
(SimHash bit packing, multimodal decode) — never per-row.
"""

__all__ = ["dedup", "multimodal", "similarity", "textstats"]
