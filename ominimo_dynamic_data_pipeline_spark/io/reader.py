"""Sources.

Reference behavior being re-expressed (not copied):
  * JSON-lines source with full schema inference
    (``/root/reference/src/reader.py:10-28``).
  * CSV source with ``header=true, inferSchema=true, sep=',', quote='"',
    escape='"', multiLine=false, encoding=UTF-8``
    (``/root/reference/src/reader.py:29-40``).
  * Driver-side glob expansion joined into a comma string and injected into
    the first source only (``/root/reference/main.py:26-39,116-117``) — a
    quirk we fix: Spark readers natively take globs and *lists* of paths,
    so ``path`` may be a str (glob ok) or list[str].

Improvements for scale:
  * ``schema`` may be declared in metadata (DDL string) which removes the
    extra inference scan the reference pays on every CSV read
    (SURVEY.md §4.2 inefficiency 2).
  * parquet is first-class (columnar, splittable, predicate-pushdown-able —
    the 100 TB format).
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

_CSV_DEFAULTS = {
    "header": "true",
    "sep": ",",
    "quote": '"',
    "escape": '"',
    "multiLine": "false",
    "encoding": "UTF-8",
}

# Metadata format -> (Spark source name, default options that metadata
# ``options`` override, whether a declared schema applies).
#   * xml: native source (Spark >= 4.0), one row per ``rowTag`` element;
#     rowTag defaults to "row" so metadata stays minimal, and nested
#     elements land as structs/arrays for normalize_fields' recursive
#     flattening.
#   * text: one row per line (column ``value``); ``wholetext=true`` reads
#     one row per file — raw-corpus ingestion for the text ops.
#   * binaryfile: multimodal ingestion, (path, modificationTime, length,
#     content) rows; narrow with ``pathGlobFilter`` (e.g. "*.jpg").
_FORMATS: dict[str, tuple[str, Mapping[str, str], bool]] = {
    "json": ("json", {}, True),
    "csv": ("csv", _CSV_DEFAULTS, True),
    "parquet": ("parquet", {}, True),
    "orc": ("orc", {}, True),
    "xml": ("xml", {"rowTag": "row"}, True),
    "text": ("text", {}, False),
    "binaryfile": ("binaryFile", {}, False),
}


def read_source(spark: SparkSession, source: Mapping[str, Any]) -> DataFrame:
    """Read one source spec ``{name, path, format, schema?, options?}``.

    ``format`` is case-insensitive: JSON (json-lines), CSV, PARQUET, ORC,
    XML, TEXT, BINARYFILE.  ``path`` may be a string (globs allowed) or a
    list of paths.
    """
    fmt = str(source.get("format", "parquet")).strip().lower()
    if fmt not in _FORMATS:
        raise ValueError(
            f"Unsupported source format: {source.get('format')!r}"
        )
    name, defaults, takes_schema = _FORMATS[fmt]
    path = source["path"]
    paths = path if isinstance(path, list) else [path]
    schema = source.get("schema")  # DDL string, optional
    reader = spark.read.format(name).options(
        **{**defaults, **(source.get("options") or {})}
    )
    if schema and takes_schema:
        reader = reader.schema(schema)
    elif fmt == "csv":
        # Without a declared schema, fall back to inference (reference
        # behavior) — costs an extra scan; declare schemas at scale.
        reader = reader.option("inferSchema", "true")
    return reader.load(paths)


def read_sources(
    spark: SparkSession, dataflow: Mapping[str, Any]
) -> dict[str, DataFrame]:
    """Read every source of a dataflow into the named-frames environment."""
    frames: dict[str, DataFrame] = {}
    for source in dataflow.get("sources", []):
        frames[source["name"]] = read_source(spark, source)
    return frames
