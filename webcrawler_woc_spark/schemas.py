"""The pages-corpus schema, declared once so a JSON-lines corpus is read
without schema inference (``main.py --pages-format json`` and the streaming
sources). The warehouse tables' schemas are ``plans/state.py``
``TABLE_SCHEMAS``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Common-Crawl-style page corpus (BASELINE.json input_hint).
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)
