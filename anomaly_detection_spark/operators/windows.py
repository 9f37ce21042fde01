"""Shared WindowSpec builders (SURVEY.md §2.5 W13).

The reference declares a named window ``standard`` as
``PARTITION BY index_id, granularity_item_id ORDER BY data_timestamp``
(``anomaly_proj_query.sql:48-51``) and reuses it with different frames
(``:90-94``). Spark has no named-window DSL syntax, so the parity
mechanism for DataFrame code is shared ``WindowSpec`` objects: every
windowed stage of a pipeline shares the same partitioning key, so
Catalyst plans ONE Exchange and fuses same-spec Window operators.
Only windows that also share one ORDER BY share a Sort: a DESC rank
next to ASC frames costs a second per-key Sort.  The flags engine
itself (``detect/rules.py``) is one generated SQL statement whose
windows all order on (keys, ts ASC) — one Exchange, one Sort, two
Window operators — and takes the recency rank as
``count(*) − row_number() + 1`` rather than from a DESC window.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _cols(keys: Sequence[str | Column]) -> list[Column]:
    return [F.col(k) if isinstance(k, str) else k for k in keys]


def series_window(keys: Sequence[str], ts_col: str) -> WindowSpec:
    """PARTITION BY keys ORDER BY ts — the reference's ``standard`` window."""
    return Window.partitionBy(*_cols(keys)).orderBy(F.col(ts_col).asc())


def series_window_desc(keys: Sequence[str], ts_col: str) -> WindowSpec:
    """PARTITION BY keys ORDER BY ts DESC — recency ranking (W4)."""
    return Window.partitionBy(*_cols(keys)).orderBy(F.col(ts_col).desc())


def partition_window(keys: Sequence[str]) -> WindowSpec:
    """Frameless whole-partition window (W7/W8: unbounded RANGE frame).

    ``AVG(x) OVER (PARTITION BY k)`` — Spark, like BigQuery, skips
    NULLs, preserving the reference's first-row-diff NULL semantics
    (SURVEY.md §2.5 NULL note).
    """
    return Window.partitionBy(*_cols(keys))
