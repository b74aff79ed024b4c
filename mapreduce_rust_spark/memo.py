"""Session memos: scan plans and derived tables shared between the
queries of one Spark application.

Each entry is keyed by ``(applicationId, *key)``; ``key[0]`` names the
memo (``"table"``, ``"copurchase_edges"``, ``"bpe_merges"``, ...). A
``"plan"`` entry holds no rows (a scan DataFrame, a schema); a
``"result"`` entry holds derived rows (a checkpointed or persisted
table, a learned merge list). One Python process holds one live
SparkContext at a time, so another application's entries belong to a
stopped context whose blocks died with it: every call drops them
without ``unpersist`` (which fails on a stopped context's frame).
``COUNTS`` tallies ``(key[0], "hit" | "miss")`` for the bench record.
"""

from __future__ import annotations

from collections import Counter
from typing import Any, Callable

from pyspark.sql import DataFrame

COUNTS: Counter = Counter()
_ENTRIES: dict[tuple, tuple[str, Any]] = {}


def session_memo(spark, kind: str, key: tuple,
                 build: Callable[[], Any]) -> Any:
    """The value memoized under ``key`` in ``spark``'s application;
    ``build()`` runs only on a miss."""
    if kind not in ("plan", "result"):
        raise ValueError(f"memo kind must be 'plan' or 'result': {kind!r}")
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _ENTRIES if k[0] != app_id]:
        del _ENTRIES[k]
    full_key = (app_id, *key)
    hit = full_key in _ENTRIES
    COUNTS[key[0], "hit" if hit else "miss"] += 1
    if not hit:
        _ENTRIES[full_key] = (kind, build())
    return _ENTRIES[full_key][1]


def clear_results() -> None:
    """Drop every ``result`` entry and unpersist the DataFrames among
    them; ``plan`` entries stay."""
    for k in [k for k, (kind, _) in _ENTRIES.items() if kind == "result"]:
        value = _ENTRIES.pop(k)[1]
        if isinstance(value, DataFrame):
            value.unpersist()
