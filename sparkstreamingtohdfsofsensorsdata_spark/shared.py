"""Declared shared intermediates: one session-attached store for every
table (or control-plane value) that several query keys read.

Several query families reuse one expensive intermediate within a
session — the co-purchase edge layer feeds all twelve graph kernels,
the SimHash pairs, CC labels and exact top-k each feed several llm
keys. Each such intermediate is declared ONCE where it is built::

    @shared("graph.sym", payer="q_graph_degree", reads=("graph.edges",))
    def sym_edges(spark, sf_dir): ...

- ``name`` identifies the intermediate in the store;
- ``reads`` names the declared intermediates its build calls, which
  fixes the dependency order;
- ``payer`` is the query key whose own computation the build is. A
  harness that times keys one by one charges the build to that key, so
  per-key numbers do not depend on which consumer happens to run first.

The decorated function serves the value memoized per (live session,
``memo_key(sf_dir)``). Everything a harness needs is derived from the
declarations: ``payers()`` in dependency order, ``warm`` per payer,
``prepay`` (build a payer's intermediates now), ``clear`` (drop exactly
one payer's intermediates) and ``clear_all``.

The store rides the session OBJECT, never a module global: the
localCheckpoint blocks and broadcasts it holds belong to that session,
and a sibling ``newSession()`` starts empty. Dropping an entry is
enough to release it — the ContextCleaner reclaims checkpoint blocks
and broadcasts once their handle is garbage-collected.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .tables import _dir_fingerprint

_STORE_ATTR = "_graft_shared"


@dataclass(frozen=True)
class Intermediate:
    name: str
    payer: str
    reads: tuple[str, ...]
    get: Callable[[SparkSession, str], Any]  # the memoized build


# name -> declaration
DECLARED: dict[str, Intermediate] = {}


def memo_key(sf_dir: str) -> tuple:
    """(path, file fingerprint), like ``tables.register_views``: an
    in-place fixture rewrite under the same path must not serve a stale
    checkpointed handle."""
    return (os.path.abspath(sf_dir), _dir_fingerprint(sf_dir))


def _store(spark: SparkSession) -> dict[tuple, dict[str, Any]]:
    store = getattr(spark, _STORE_ATTR, None)
    if store is None:
        store = {}
        setattr(spark, _STORE_ATTR, store)
    return store


def shared(name: str, *, payer: str, reads: tuple[str, ...] = ()):
    """Declare the decorated ``(spark, sf_dir)`` build function as the
    shared intermediate ``name`` and memoize it in the session store."""

    def wrap(build: Callable[[SparkSession, str], Any]):
        if name in DECLARED:
            raise ValueError(f"duplicate shared intermediate {name!r}")

        @functools.wraps(build)
        def get(spark: SparkSession, sf_dir: str) -> Any:
            store = _store(spark)
            key = memo_key(sf_dir)
            entry = store.get(key)
            if entry is None:
                # a new fingerprint for a known path supersedes the old
                # entry: without the eviction every in-place fixture
                # rewrite would leak one more set of handles
                for stale in [k for k in store if k[0] == key[0]]:
                    del store[stale]
                entry = store[key] = {}
            if name not in entry:
                entry[name] = build(spark, sf_dir)
            return entry[name]

        DECLARED[name] = Intermediate(name, payer, tuple(reads), get)
        return get

    return wrap


def _dependency_order() -> list[str]:
    """Every declared intermediate after the ones it reads; ties go by
    (payer, name), so the order does not depend on which declaring
    module happened to be imported first."""
    done: list[str] = []

    def visit(name: str) -> None:
        if name in done:
            return
        for dep in DECLARED[name].reads:
            visit(dep)
        done.append(name)

    for decl in sorted(DECLARED.values(), key=lambda d: (d.payer, d.name)):
        visit(decl.name)
    return done


def payers() -> list[str]:
    """Payer keys in dependency order: a payer comes after every payer
    whose intermediates its own intermediates read, so prepaying them in
    this order charges each build to its own payer."""
    order: list[str] = []
    for name in _dependency_order():
        payer = DECLARED[name].payer
        if payer not in order:
            order.append(payer)
    return order


def _owned(payer: str) -> list[str]:
    return [n for n in _dependency_order() if DECLARED[n].payer == payer]


def warm(spark: SparkSession, sf_dir: str, payer: str) -> bool:
    """True iff every intermediate charged to ``payer`` would be served
    from the store for this exact (path, fingerprint)."""
    entry = _store(spark).get(memo_key(sf_dir), {})
    return all(name in entry for name in _owned(payer))


def prepay(spark: SparkSession, sf_dir: str, payer: str) -> None:
    """Build ``payer``'s intermediates now, in dependency order. A
    DataFrame-valued one (a lazy localCheckpoint) is forced with a noop
    write; any other value is built by the call itself."""
    for name in _owned(payer):
        value = DECLARED[name].get(spark, sf_dir)
        if isinstance(value, DataFrame):
            value.write.format("noop").mode("overwrite").save()


def clear(spark: SparkSession, payer: str) -> None:
    """Drop exactly ``payer``'s intermediates (every sf_dir), leaving
    other payers' entries warm — a rerun of the payer then pays the
    builds its first number was charged for. No-op for a key that pays
    for nothing."""
    owned = set(_owned(payer))
    for entry in _store(spark).values():
        for name in owned & entry.keys():
            del entry[name]


def clear_all(spark: SparkSession) -> None:
    _store(spark).clear()
