"""Query registry — the verification surface for SURVEY.md §2.

Every engine operator registers here with a (name, spark_fn, oracle_sql)
triple. ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views
over this registry; the driver hash-compares each Spark result against
the DuckDB oracle at sf=0.01.

Registration is decorator-based so each operator module owns its own
entries; importing this package pulls them all in.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check


REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register an engine operator's demonstration query.

    ``oracle`` is the DuckDB-runnable ANSI SQL equivalent (tables
    region/nation/customer/supplier/part/orders/lineitem/events/
    documents/embeddings are pre-registered views). Column names must
    match the Spark result exactly — alias both sides.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")

        def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
            from pmc_conversion_spark.session import apply_engine_conf
            apply_engine_conf(spark)
            return fn(spark, sf_dir)

        tuned.__name__ = fn.__name__
        tuned.__doc__ = fn.__doc__
        tuned.__wrapped__ = fn  # inspect.unwrap → real file:line
        REGISTRY[name] = RegisteredQuery(name=name, fn=tuned, oracle=oracle)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _load_modules()
    return {name: rq.fn for name, rq in REGISTRY.items()}


def oracles() -> dict[str, str]:
    _load_modules()
    return {name: rq.oracle for name, rq in REGISTRY.items() if rq.oracle is not None}


_LOADED = False


def _load_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from pmc_conversion_spark.queries import (  # noqa: F401
        relational,
        scans,
        manifest,
        scalars,
        pipeline,
        events_q,
        llmdata,
        temporal,
        reference_e2e,
        storage,
        quality,
        analytics,
        olap_sql,
    )
    _LOADED = True
