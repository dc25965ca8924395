"""PySpark-native knowledge-graph construction engine.

A from-scratch, Spark-first rebuild of the query and data-processing
capabilities of ``stephenkiilu/LLM-Information-extraction`` (see SURVEY.md):

- triple extraction over interleaved text+media documents
  (``documents(doc_id, spans array<struct<kind,text,media_ref,offset>>)``)
  via a vectorized, deterministic gazetteer extractor (replaces the
  reference's per-document LLM loop, ``main.py:143-165``),
- mention normalization + exact canonical-map entity linking
  (``evaluation_gpt4_vs_gpt5.py:43-70, 99-127``),
- fuzzy entity linking: an exhaustive per-field difflib scan of the
  gazetteer with the reference's scoring (``evaluation_gpt4_vs_gpt5.py:72-96``),
- connected-components canonicalization (large-star/small-star),
- graph materialization into ``triples`` / ``entities`` tables with
  per-stage lineage + snapshot resume,
- the reference's full evaluation suite as distributed aggregations
  (``evaluation_gpt4_vs_gpt5.py:151-225``, ``whitematter_error_analysis.py``,
  ``whitematter_distributions.py``),
- plus large-scale training-data-pipeline operators: deduplication
  (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
  similarity search, text analysis, and multimodal-column plumbing.

Everything is DataFrame-declarative; the only Python in hot paths is
Arrow-batched (``mapInPandas`` / ``pandas_udf``).
"""

__version__ = "0.1.0"
