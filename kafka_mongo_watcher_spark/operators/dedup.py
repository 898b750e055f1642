"""Last-writer-wins dedup per key within a micro-batch.

The reference gets LWW implicitly: a single change-stream cursor is totally
ordered, and Kafka hash-partitioning by document key preserves per-key order
downstream (/root/reference/internal/kafka/client.go:25-36). A distributed
micro-batch has no such total order, so we make LWW explicit:
window/row_number over (commit_seq, offset) descending per (repo, path)
— the north_star's mandated dedup.

`lww_dedup` is the reference operator. `LakeTable.merge` applies every batch
through the per-key fold of operators/patch.py instead, which returns the
same rows for a batch without partial updates (tests/test_dedup.py) and is
one map-side-combinable aggregate: a hot repo carrying ~50% of a batch
(FIXTURES.md §2) collapses inside each map task before the shuffle, where
the window would sort all of its rows in one reducer. AQE skew handling
stays on as a second line of defense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY_COLS = ("repo", "path")
ORDER_COLS = ("commit_seq", "offset")


def _ordering(df: DataFrame):
    return [F.col(c).desc() for c in ORDER_COLS if c in df.columns] or [
        F.col("commit_seq").desc()
    ]


def lww_dedup(df: DataFrame, key_cols=KEY_COLS) -> DataFrame:
    """Keep only the last writer per key: row_number()==1 over the key window
    ordered by (commit_seq, offset) desc. One shuffle on the key columns —
    the same shuffle the downstream merge needs, so at scale the exchange is
    reused (Catalyst sees compatible partitioning)."""
    w = Window.partitionBy(*key_cols).orderBy(*_ordering(df))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
