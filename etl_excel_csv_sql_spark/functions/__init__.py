"""Column-expression library.

Every function here returns a pyspark Column built from built-in
``pyspark.sql.functions`` — no Python UDFs — so everything stays inside
WholeStageCodegen and remains visible to Catalyst (pushdown, folding, CSE).
"""

from etl_excel_csv_sql_spark.functions.scalars import (
    EXCEL_ORIGIN_TRUE,
    compose_filename,
    excel_serial_to_timestamp,
    format_timestamp,
    sanitize_sql_string,
    scrub_path_chars,
)
from etl_excel_csv_sql_spark.functions.text import (
    char_ngrams,
    normalize_text,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
    word_shingles,
)
from etl_excel_csv_sql_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)

__all__ = [
    "EXCEL_ORIGIN_TRUE",
    "compose_filename",
    "excel_serial_to_timestamp",
    "format_timestamp",
    "sanitize_sql_string",
    "scrub_path_chars",
    "char_ngrams",
    "normalize_text",
    "punct_ratio",
    "stopword_ratio",
    "token_count",
    "tokens",
    "word_shingles",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
]
