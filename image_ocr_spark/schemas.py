"""Public schemas of the engine (the Spark IR, mirroring SURVEY.md §1).

The tokenizer's node struct (the reference's OCRWord/OCRBlock rows,
`engines/base.py:63-92`) lives with its producer: ``PACKED_DDL`` in
operators/tokenize.py.
"""

from pyspark.sql import types as T

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# page + doc_id/kind carried through for fixture lineage
GEN_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.LongType(), False),  # unix secs; cast later
        T.StructField("html", T.BinaryType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("kind", T.StringType(), False),
    ]
)
