"""Query registry: the oracle-checked query inventory behind ``__spark_entry__.py``.

Each implemented operator from SURVEY.md §2 registers a :class:`QuerySpec`
binding a name to

- ``builder(spark, sf_dir) -> DataFrame`` — the Spark-first plan, and
- ``oracle`` — the equivalent ANSI SQL DuckDB runs over the same parquet
  views (``None`` for genuinely non-SQL-expressible ops → the driver records
  a weaker rows-only check).

Column names (and, where hashing is type-sensitive, types) are aligned
between the two on purpose: the driver sorts columns by name before value-
hashing, so every computed column is aliased identically on both sides.

``queries()`` lists its keys in registration order, i.e. the order in
which ``_load_all`` imports the registering modules.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Decorator: register ``fn`` as the Spark builder for ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags
        )
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from .operators import (  # noqa: F401
        asof_interp,
        upsert,
        dedup,
        similarity,
        clusters,
        udaf,
        udtf,
        skew,
    )
    from .plans import (  # noqa: F401
        windows,
        tpch,
        advanced,
        setops,
    )
    from .streaming import windows as stream_windows  # noqa: F401
    from .streaming import filesink  # noqa: F401
    from .streaming import jsonl  # noqa: F401
    from .streaming import enrich  # noqa: F401
    from .streaming import txn_stream  # noqa: F401
    from .ml import models  # noqa: F401
    from .plans import tpch2  # noqa: F401
    from .operators import traindata  # noqa: F401
    from .operators import traindata2  # noqa: F401
    from .operators import merge_tx  # noqa: F401
    from .operators import traindata3  # noqa: F401
    from .operators import traindata4  # noqa: F401
    from .plans import analytics  # noqa: F401
    from .plans import stats  # noqa: F401
    from .sources import pyds  # noqa: F401
    from .sources import images  # noqa: F401
    from .plans import bucketed  # noqa: F401
    from .sources import files  # noqa: F401
    from .plans import ddl  # noqa: F401
    from .plans import advanced2  # noqa: F401
    from .plans import advanced3  # noqa: F401
    from .plans import advanced4  # noqa: F401
    from .operators import traindata5  # noqa: F401
    from .plans import advanced5  # noqa: F401
    from .plans import advanced6  # noqa: F401
    from .plans import advanced7  # noqa: F401
    from .plans import advanced8  # noqa: F401
    from .plans import advanced9  # noqa: F401
    from .plans import pandas_api  # noqa: F401
    from .plans import advanced10  # noqa: F401
    from .operators import traindata6  # noqa: F401
    from .streaming import multisrc  # noqa: F401
    from .plans import advanced11  # noqa: F401
    from .plans import advanced12  # noqa: F401
    from .ml import recommend  # noqa: F401
    from .operators import merge_ivm  # noqa: F401
    from .plans import advanced13  # noqa: F401
    from .operators import graph2  # noqa: F401
    from .streaming import pystream  # noqa: F401
    from .plans import advanced14  # noqa: F401
    from .plans import advanced15  # noqa: F401
    from .streaming import latedrop  # noqa: F401
    from .streaming import scd2_stream  # noqa: F401
    from .plans import advanced16  # noqa: F401
    from .operators import udaf2  # noqa: F401
    from .plans import advanced17  # noqa: F401
    from .operators import txn  # noqa: F401
    from .operators import graph  # noqa: F401
    from .plans import (  # noqa: F401
        aggregates,
        corpus,
        joins,
        relational,
        text,
    )


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    return dict(_REGISTRY)


def queries() -> dict[str, Builder]:
    return {name: spec.builder for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
