"""Auto-rewrite convenience: the reference's manual two-step —

    schemaOnRead = generator.getSchemaOnRead(path)
    session.read().schema(schemaOnRead).json(path)   // re-run query
    (/root/reference/README.md:23-28)

— as one call. ``prune`` builds the query once against full-schema readers,
derives each source's minimal read-schema from the analyzed plan, then
re-builds the same query against pruned readers.

Why it matters on Spark: Catalyst's built-in SchemaPruning already covers
Parquet/ORC nested pruning, but (a) JSON sources get a full parse without an
explicit read schema, and (b) nested pruning through Aggregate/Window/Sort
shapes has version-dependent holes (SURVEY.md §4). Supplying the read schema
closes both, and at 100 TB a narrower JSON parse is the difference between a
CPU-bound scan and an IO-bound one.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from score_spark.schema_on_read.generator import SchemaOnRead

_log = logging.getLogger(__name__)


@dataclass
class Source:
    """``schema`` (optional) is the source's FULL schema when the caller
    already knows it: schemaless formats (JSON/CSV) otherwise pay a full
    inference scan just to build the pre-prune query — a driver-blocking
    read of the entire input that at 100 TB dwarfs the query itself. The
    pruned re-read always gets the derived minimal schema regardless."""

    path: str | list[str]
    format: str = "parquet"
    options: dict[str, Any] = field(default_factory=dict)
    schema: Any = None

    def paths(self) -> list[str]:
        return [self.path] if isinstance(self.path, str) else list(self.path)


def _read(spark: SparkSession, src: Source, schema=None) -> DataFrame:
    reader = spark.read.format(src.format).options(**src.options)
    if schema is None:
        schema = src.schema
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(src.paths())


def prune(
    spark: SparkSession,
    sources: Mapping[str, Source],
    query_fn: Callable[[Mapping[str, DataFrame]], DataFrame],
) -> DataFrame:
    """Build ``query_fn`` over pruned-schema readers.

    Best-effort like the reference (README.md:9): any source whose pruned
    schema can't be derived is re-read with its full schema; any overall
    failure returns the full-schema query unchanged. Each fallback logs one
    warning naming the source (or the whole query) and the error.
    """
    full = {name: _read(spark, src) for name, src in sources.items()}
    df = query_fn(full)
    sor = SchemaOnRead.generate(df)

    pruned_readers: dict[str, DataFrame] = {}
    for name, src in sources.items():
        if src.format.lower() == "csv":
            # Spark binds a user schema to CSV columns POSITIONALLY
            # (enforceSchema): a column-dropping schema silently shifts
            # every later column into the wrong field — no error, wrong
            # values (review r9). CSV has no nested structure to narrow
            # anyway, so the only "pruning" would be that unsafe column
            # drop; keep the full read.
            pruned_readers[name] = full[name]
            continue
        try:
            schema = sor.for_paths(*src.paths())
            pruned_readers[name] = _read(spark, src, schema=schema)
        except Exception as e:
            _log.warning(
                "prune: source %r read with its full schema: %s: %s", name, type(e).__name__, e
            )
            pruned_readers[name] = full[name]
    try:
        return query_fn(pruned_readers)
    except Exception as e:
        _log.warning("prune: whole query kept its full-schema reads: %s: %s", type(e).__name__, e)
        return df
