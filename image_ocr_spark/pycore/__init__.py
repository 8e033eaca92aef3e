"""Pure-Python semantic core (no Spark imports).

Single source of truth for per-document semantics.  The Spark operators in
``image_ocr_spark.operators`` call these functions inside Arrow batch
passes (``operators/rowmap.py``: ``map_batches`` / ``map_rows`` /
``map_groups``); the pytest oracle calls them directly in a single
process, so the byte-identity gate holds by construction for those
passes, while the native Spark SQL expressions in
``image_ocr_spark.functions`` (and the rollup in ``operators/blocks.py``)
are verified against these on golden pairs and the full fixture corpus.
"""
