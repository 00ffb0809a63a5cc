"""The query scope that owns every relation an operator persists.

Several operators persist an expensive shared relation (the Jaccard
shingle base, the IVF embedding base, the MinHash band table, the
decontamination gram base). The returned query plans are lazy, so an
in-function unpersist would fire before the plan ever executes.
Instead every such relation is persisted through persist() below, which
records it in one list, and the registry (registry.query) wraps each
registered query so that its OUTERMOST call releases that list on entry.
A query's persisted relations therefore live until the next registered
query starts, or until release_all(). A registered query that calls
another registered query while it builds (dedup_clusters,
ann_recall_eval) shares one scope: only the outermost call releases.
The scope is process-wide, so queries are built one at a time (nothing
in this repository builds them from concurrent threads).

Interactive sessions (and the bench teardown) free everything at once
with release_all() instead of waiting for the next query or session
shutdown.

Notebook lifecycle example (see examples/interactive_session.py for the
runnable version)::

    import data_engineering_spotify_etl_airflow_aws_spark as engine
    from data_engineering_spotify_etl_airflow_aws_spark import caches, registry
    from data_engineering_spotify_etl_airflow_aws_spark.session import get_spark

    engine.load_all_operators()
    spark = get_spark()
    sf = "/root/testdata/sf0.01"

    registry.QUERIES["minhash_lsh_near_dup"](spark, sf).show()   # persists base
    # entering the next query releases that base; ivf persists its own
    registry.QUERIES["ivf_topk_similar"](spark, sf).show()
    # ... exploration done - executor memory back in one call:
    caches.release_all()
    # later queries just rebuild their bases on demand
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from typing import TYPE_CHECKING

from pyspark import StorageLevel

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []
_depth = 0


def persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """Persist ``df`` at ``level`` (default: DataFrame.persist's own)
    until the next registered query starts or release_all() runs."""
    out = df.persist(level)
    _PERSISTED.append(out)
    return out


def release_all() -> None:
    """Unpersist and drop every relation persisted through this module.
    Safe to call at any time; subsequent queries rebuild their bases on
    demand."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


@contextmanager
def query_scope() -> Iterator[None]:
    """Scope of one registered query's build: the outermost entry
    releases the previous query's relations; nested entries (a query
    calling another registered query) release nothing."""
    global _depth
    if _depth == 0:
        release_all()
    _depth += 1
    try:
        yield
    finally:
        _depth -= 1
