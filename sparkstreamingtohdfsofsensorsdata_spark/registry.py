"""Query registry: the single source of truth for the driver contract.

Every operator module registers its queries here with the ``@query``
decorator. ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin
views over this registry, and the local parity tests iterate it, so an
operator is "declared done" in exactly one place.

``oracle`` is the DuckDB-runnable ANSI SQL equivalent; ``None`` marks a
genuinely non-SQL-expressible op (the driver then records a weaker
rows-only check — SURVEY.md §5.2).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as the Spark implementation of query ``name``."""

    def decorate(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Timestamp semantics must not depend on the caller's session:
            # parquet instants are rendered in session TZ, and the DuckDB
            # oracle is UTC-naive — pin UTC so both sides agree.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            # Nor may results depend on the caller's cwd: ship this
            # package to Python workers so by-reference cloudpickled
            # UDFs import cleanly everywhere (see ensure_package_on_workers).
            from .session import ensure_package_on_workers

            ensure_package_on_workers(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        # next(iter(...), "") tolerates a whitespace-only docstring — a
        # bare [0] here would IndexError at import time and take the
        # whole registry down with it.
        doc_first = next(iter((fn.__doc__ or "").strip().splitlines()), "")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=wrapped,
            oracle=oracle,
            description=description or doc_first,
            tags=tuple(tags),
        )
        # Return the WRAPPED callable, so the module-level name carries
        # the same UTC-pin + package-ship guarantees as the registry
        # entry: a consumer importing golden.q_tpch_q3 directly on a
        # non-UTC session used to bypass both and silently diverge from
        # the oracle (review r6).
        return wrapped

    return decorate


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (side effect: registry population)
    and return every registered key, once, in registration order.
    """
    # Imports are local to avoid a cycle: operator modules import `query`
    # from this module at their import time.
    from .functions import scalars, udfs  # noqa: F401
    from . import llm, streaming  # noqa: F401
    from .functions import collections  # noqa: F401
    from . import golden, operators  # noqa: F401

    return dict(REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in load_all().items()}


def oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None
    }
