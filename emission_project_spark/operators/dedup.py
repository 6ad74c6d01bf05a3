"""Deduplication / set operators (SURVEY.md §2.4, D1/U1/O1).

The reference deduplicates with ``drop_duplicates(subset=[...])`` whose
survivor is "first row in current order" (``emission-dag.py:76,96,...``)
— nondeterministic across engines when duplicate keys differ on non-key
columns. For oracle-stable results we pin the survivor with a window
rank over an explicit tiebreaker (SURVEY.md §2.4 D1).

Scale: ``row_number() OVER (PARTITION BY keys ...)`` is a single hash
shuffle on the dedup keys — the same shuffle ``dropDuplicates`` costs —
and AQE handles skewed keys. No global sort is involved.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_subset(
    df: DataFrame,
    keys: Sequence[str],
    tiebreaker: Sequence[str] | None = None,
) -> DataFrame:
    """Keep one row per key group, deterministically.

    ``tiebreaker`` columns order the group ascending (nulls last) and
    the first row survives. With no tiebreaker, all non-key columns are
    used (lexicographic min row) — fully deterministic either way,
    unlike ``dropDuplicates``.
    """
    tb = list(tiebreaker) if tiebreaker else [c for c in df.columns if c not in keys]
    if not tb:  # keys cover every column: plain distinct is deterministic
        return df.distinct()
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in tb])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def union_distinct(*dfs: DataFrame) -> DataFrame:
    """Set-union by name (reference U1: ``pd.concat`` + ``drop_duplicates``
    over start/target country and city columns, ``emission-dag.py:127,145,152``)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.distinct()

