"""image_ocr_spark — a PySpark-native web-scale main-content extraction engine.

Re-expresses the capabilities of the reference OCR pipeline
(``yukichim/image-ocr``, see SURVEY.md) as an idiomatic Spark job over
Common-Crawl-style page tables ``(url, warc_ts, html:binary, text, lang)``:

- ``pycore``    — pure-Python semantic core (HTML/PDF tokenizers, normalizers,
                  classifier, field extractors).  This is the single source of
                  truth for per-document semantics; the Spark operators wrap it
                  in Arrow-batched mapInArrow functions, and the test oracle
                  calls it directly, so byte-identity holds by construction.
- ``operators`` — Spark operators: tokenize (mapInArrow), block scoring &
                  content selection, span joins, dedup, similarity search,
                  checkpoint manifests.
- ``functions`` — native Spark SQL expressions mirroring pycore exactly:
                  SQL text for normalization (dates, amounts), field
                  extraction and classifier scoring; column builders for
                  text stats, PII, scripts and URLs.
- ``fixtures``  — deterministic synthetic page generator (seeded; derives
                  pages from the driver's ``documents`` table).
- ``plans``     — end-to-end pipeline assembly (the flagship query).
"""

__version__ = "0.1.0"
