"""One registry for the values a session builds once and reuses.

Two families live here:

* ``llm.*`` — the corpus-level frames the LLM operators share: MinHash
  signatures, token streams, centroids, IVF assignments and the other
  shared frames are built once per corpus per session and reused by
  every query that reads them. Spark's plan-keyed cache manager cannot
  do this: most of these frames are consumed through differently-
  projected plans, or are iterative (localCheckpoint breaks plan
  identity).
* ``tables.schema`` — each input table's inferred Parquet schema
  (``tables.load_table``), a plain value with nothing to free, so a
  repeat read of the table starts no schema-inference job.

Each value is keyed by ``(name, applicationId, sf_dir, *key)``.

Lifecycle:

* ``memo`` returns the entry for its key, calling ``build`` on a miss.
  ``build`` persists whatever it wants kept; the registry adds no
  persist of its own.
* Entries of another applicationId belong to a stopped session in this
  process (their blocks died with its context). They are dropped on the
  next access so the frames do not leak driver memory across session
  restarts.
* ``release(prefix, sf_dir)`` frees every DataFrame in the matching
  entries and forgets them. A long-lived service sweeping many corpora
  calls ``release(sf_dir=...)`` after each one; the bench calls
  ``release("llm")`` between passes so warm numbers measure executed
  plans, not cache hits, while the table schemas stay memoized as they
  do in a long-lived session.

Names are dotted (``llm.<module>.<frame>``, ``tables.schema``), so
``release("llm.dedup")`` frees one module's entries and leaves the
others alone, and
``release("tables", sf_dir)`` makes the next read of each of that
directory's tables infer its schema again.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# (name, applicationId, sf_dir, *key) -> (value, how to free its frames)
_ENTRIES: dict[tuple, tuple[Any, Callable[[DataFrame], Any] | None]] = {}
_PIN_IDS = itertools.count()


def _current_app(spark: SparkSession) -> str:
    """This session's applicationId, after dropping every entry of
    another application (stopped sessions' frames are dead)."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _ENTRIES if k[1] != app]:
        del _ENTRIES[k]
    return app


def memo(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    build: Callable[[], Any],
    key: tuple[Hashable, ...] = (),
    free: Callable[[DataFrame], Any] | None = DataFrame.unpersist,
) -> Any:
    """The memoized ``build()`` result for ``(name, sf_dir, *key)`` in
    this session. The value may be a DataFrame, a tuple holding some, or
    a plain value. ``free`` releases each of its DataFrames (default:
    ``unpersist``; localCheckpoint-backed frames pass
    ``operators.graph._free_checkpoint``; a value holding no DataFrame
    passes ``None``)."""
    k = (name, _current_app(spark), sf_dir, *key)
    if k not in _ENTRIES:
        _ENTRIES[k] = (build(), free)
    return _ENTRIES[k][0]


def pin(spark: SparkSession, name: str, sf_dir: str, df: DataFrame) -> DataFrame:
    """Register a per-call persisted frame for ``release`` without
    memoizing it: every call adds its own entry."""
    k = (name, _current_app(spark), sf_dir, next(_PIN_IDS))
    _ENTRIES[k] = (df, DataFrame.unpersist)
    return df


def entries(
    prefix: str | None = None, sf_dir: str | None = None
) -> dict[tuple, Any]:
    """The live entries under ``prefix`` (a dotted name or one of its
    parents) and ``sf_dir``, key -> value; ``None`` matches all."""
    return {
        k: v
        for k, (v, _free) in _ENTRIES.items()
        if (prefix is None or k[0] == prefix or k[0].startswith(prefix + "."))
        and (sf_dir is None or k[2] == sf_dir)
    }


def release(prefix: str | None = None, sf_dir: str | None = None) -> None:
    """Free and forget every entry under ``prefix`` and ``sf_dir``
    (``None`` = all)."""
    for k in entries(prefix, sf_dir):
        value, free = _ENTRIES.pop(k)
        for df in value if isinstance(value, tuple) else (value,):
            if not isinstance(df, DataFrame):
                continue  # e.g. the embedding count, n_cells
            try:
                free(df)
            except Exception:
                pass  # context already stopped — nothing to free
