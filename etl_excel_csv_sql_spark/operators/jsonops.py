"""Semi-structured (JSON) processing: schema-on-read over string columns.

The reference moves everything through flat CSV/Excel grids; real event
streams carry a JSON payload column. Two Spark-native paths, both pure
Catalyst (``from_json`` is a JVM expression — no UDF, stays inside
whole-stage codegen, and Catalyst prunes unreferenced struct fields from
the parse via ``spark.sql.optimizer.enableJsonExpressionOptimization``):

- **typed extraction** (``typed_extract``): a declared schema projects the
  payload into real columns — the right path when the contract is known.
  Malformed payloads degrade to NULL fields, never fail the job.
- **schema-less explode** (``kv_explode``): ``map<string,string>`` parse +
  ``explode`` flattens unknown payloads into (id, key, value) rows — the
  discovery path when the contract is NOT known. ``from_json`` to a map
  returns NULL for malformed input, so invalid payloads drop out of the
  explode instead of poisoning it.

Malformed-input semantics (measured, tests/test_jsonops.py): struct parse
→ null-filled struct; map parse → NULL map (but also NULL for valid
non-object roots). ``is_valid_json`` therefore uses ``try_parse_json``
(the VARIANT parser — accepts any JSON value), mirroring DuckDB's
``json_valid`` exactly.

Scale: both paths are narrow maps over the scan — no shuffle is added by
parsing. The per-group profile is one conditional-aggregate pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def is_valid_json(col: Column | str) -> Column:
    """True iff the string parses as a JSON object/array/value —
    DuckDB ``json_valid`` parity, probed value-for-value on objects,
    arrays, scalars, 'null'/'true' literals, malformed, empty, and NULL.

    r10 review: the previous ``from_json`` to ``map<string,string>``
    returned NULL for every non-OBJECT root, so valid arrays ('[1,2]')
    and scalars ('123') were counted malformed, inflating
    ``json_payload_profile``'s n_malformed for array-emitting
    producers. ``try_parse_json`` (the VARIANT parser) accepts any JSON
    value and yields NULL exactly for malformed input.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & F.try_parse_json(c).isNotNull()


def typed_extract(df: DataFrame, json_col: str, ddl_schema: str) -> DataFrame:
    """Project a JSON string column into typed top-level columns.

    ``ddl_schema`` is a DDL string (e.g. ``"k INT, tag STRING"``).
    Catalyst's JSON expression optimizer prunes the parse to the fields a
    downstream select actually references, so over-declaring the schema
    does not cost I/O or CPU for unused fields.
    """
    from pyspark.sql.types import StructType

    parsed = F.from_json(F.col(json_col), ddl_schema)
    # parse the DDL properly — a naive comma split breaks on
    # parameterized types like DECIMAL(10,2)
    names = [f.name for f in StructType.fromDDL(ddl_schema).fields]
    return df.select(
        "*", *[parsed[n].alias(n) for n in names]
    )


def kv_explode(df: DataFrame, id_col: str, json_col: str) -> DataFrame:
    """Flatten a schema-less JSON object column into (id, key, value) rows.

    Malformed / NULL payloads produce zero rows (NULL map under explode),
    so the output is exactly the valid key-value pairs. One narrow map +
    explode — no shuffle.
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.from_json(F.col(json_col), "map<string,string>")).alias(
            "key", "value"
        ),
    )


def json_payload_profile(
    df: DataFrame, group_col: str, json_col: str, int_field: str
) -> DataFrame:
    """Per-group payload health + typed-field stats in ONE aggregate pass.

    Output: (group, n_events, n_malformed, n_with_field, avg_field,
    min_field, max_field). ``n_malformed`` counts non-NULL strings that do
    not parse; the typed stats come from the declared-schema extraction.
    At scale this is the payload-contract monitor: a schema change or
    producer bug shows up as n_malformed / n_with_field drift per group.
    """
    c = F.col(json_col)
    valid = is_valid_json(c)
    field = F.from_json(c, f"{int_field} BIGINT")[int_field]
    return (
        df.groupBy(F.col(group_col).alias("group_key"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum((c.isNotNull() & ~valid).cast("long")).alias("n_malformed"),
            F.sum(field.isNotNull().cast("long")).alias("n_with_field"),
            F.round(F.avg(field), 6).alias("avg_field"),
            F.min(field).alias("min_field"),
            F.max(field).alias("max_field"),
        )
    )


def variant_extract(
    df: DataFrame,
    id_col: str,
    json_col: str,
    paths: dict[str, tuple[str, str]],
) -> DataFrame:
    """Typed extraction through the VARIANT type (Spark 4): parse once
    with ``try_parse_json`` (malformed → NULL variant, job never fails),
    then ``try_variant_get`` per requested path.

    ``paths`` maps output column name → (variant path, target type),
    e.g. ``{"k_int": ("$.k", "int")}``. VARIANT differs from the
    from_json paths above: the payload is parsed ONCE into a binary
    semi-structured encoding and every extraction reads that encoding —
    the open-schema columnar-JSON storage pattern (same model as
    Parquet/Iceberg/Delta variant columns) rather than a per-expression
    re-parse.

    Output: (id, is_valid, <one column per path>).
    """
    v = F.try_parse_json(F.col(json_col))
    return df.select(
        F.col(id_col).alias("id"),
        (v.isNotNull() & F.col(json_col).isNotNull()).alias("is_valid"),
        *[
            F.try_variant_get(v, path, typ).alias(name)
            for name, (path, typ) in paths.items()
        ],
    )
