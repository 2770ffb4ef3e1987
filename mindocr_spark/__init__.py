"""mindocr_spark — a PySpark-native document-content extraction engine.

A from-scratch re-expression of the capabilities of the reference OCR
toolkit (wtomin/mindocr) for web text: the reference's staged
det→rec→layout pipeline (region detection → per-region decoding →
reading-order assembly, `tools/infer/text/predict_system.py:32-109` in the
reference) becomes one fused Arrow-batched stage over a table of
Common-Crawl-style pages, running the whole chain per document:

    scan(pages) → [parse_html → score_nodes → detect_blocks →
    assemble_text] → write(results + metrics/lineage)

Everything is DataFrame-native; the only Python execution is inside
that single ``mapInPandas``, backed by the pure, deterministic spec in
:mod:`mindocr_spark.extract_core`.
"""

__version__ = "0.1.0"
