"""Last-writer-wins dedup per key within a micro-batch.

The reference gets LWW implicitly: a single change-stream cursor is totally
ordered, and Kafka hash-partitioning by document key preserves per-key order
downstream (/root/reference/internal/kafka/client.go:25-36). A distributed
micro-batch has no such total order, so we make LWW explicit:
window/row_number over (commit_seq, offset) descending per (repo, path)
— the north_star's mandated dedup.

Skew: one hot repo can carry ~50% of a batch (FIXTURES.md §2), which makes
the window's hash-partitioned sort lopsided. `lww_dedup_salted` does
two-phase LWW: phase 1 reduces within (key, salt) using max_by — a partial
aggregation with map-side combine, so the hot key is split across
`n_salts` reducers — then phase 2 reduces the ≤n_salts survivors per key.
Results are identical to the unsalted path (tested); only the shuffle shape
changes. AQE skew handling stays on as a second line of defense.
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


def key_order_tuples(
    df: DataFrame, key_cols=KEY_COLS, order_cols=None, extra_cols=(), extra_aggs=()
) -> DataFrame:
    """Distinct (extra, key, ordering) tuples with physical-copy counts —
    the semijoin's pass 1a as a standalone, reusable aggregation.

    ONE payload-free scan (parquet column pruning keeps it on the key/order/
    extra columns) with map-side partial combine. LakeTable.merge persists
    this and derives THREE things from it — per-partition lineage counters,
    the duplicate-delivery gate, and the semijoin winner set — where r3
    scanned the batch's key columns twice (a cube()-expanded lineage agg
    with an exact 4-column count_distinct, then the broadcast build's own
    tuple aggregation). `extra_cols` (e.g. partition_id) widen the grouping
    so lineage can re-aggregate per partition; `lww_dedup_semijoin`
    collapses them back out before picking winners. `extra_aggs` (Column
    aggregates) ride the same pass without splitting any tuple; the scan
    reads whatever columns they name.
    """
    order_cols = list(
        order_cols or [c for c in ORDER_COLS if c in df.columns] or ["commit_seq"]
    )
    return (
        df.groupBy(*extra_cols, *key_cols, *order_cols)
        .agg(F.count(F.lit(1)).alias("_cnt"), *extra_aggs)
    )


def lww_dedup_semijoin(
    df: DataFrame,
    key_cols=KEY_COLS,
    cache_registry: list | None = None,
    has_dups: bool | None = None,
    tuples: DataFrame | None = None,
    tuples_partition_disjoint: bool = False,
) -> DataFrame:
    """Shuffle-light LWW dedup: the payload never crosses the wire.

    Pass 1 shuffles ONLY (key, ordering) pairs — parquet column pruning makes
    the scan nearly free — and hash-aggregates each key's max ordering
    (max(struct), a real aggregate ⇒ map-side partial combine, no sort).
    Pass 2 broadcasts the winner tuples and keeps the matching source rows
    with a left-semi join. The content column is scanned once and never
    shuffled: at 100 TB this moves ~2% of the bytes the window/row_number
    plan moves, and replaces its per-partition sort with a hash lookup.

    Ordering tuples (commit_seq, offset) are unique per row for any
    offset-tracked change log (offsets are the resume token: gap-free and
    unique per partition, /root/reference/internal/mongo/watch_producer.go:
    106-134), but a duplicated within-batch delivery must still collapse to
    ONE row per key (merge assumes |winners| = 1/key): the final
    dropDuplicates over the tiny winner set restores the invariant at the
    cost of shuffling only winner rows (~1/key — the same volume the merge
    shuffles anyway). Joins are null-safe so rows with null key/order columns
    survive exactly as they do in the window path (callers using
    drop_malformed=False). Caller falls back to `lww_dedup`/
    `lww_dedup_salted` when the winner set is too large to broadcast
    (initial snapshot loads) — same results.

    NOT a pure plan builder unless you opt in (ADVICE r3): with
    ``has_dups=None`` the duplicate-delivery gate runs EAGERLY as one tiny
    payload-free Spark job at call time, and without a ``cache_registry``
    the gate's pass-1 aggregation is recomputed by the returned plan.
    Callers on a hot path must either precompute ``has_dups`` (LakeTable.
    merge folds it into its lineage job) or pass ``cache_registry`` and
    unpersist after their action.
    """
    order_cols = [c for c in ORDER_COLS if c in df.columns] or ["commit_seq"]
    # pass 1a: collapse to distinct (key, ordering) tuples, remembering how
    # many physical rows carry each tuple (replayed at-least-once deliveries
    # ⇒ _cnt > 1). Payload-free: only key+ordering cross the wire, and the
    # map-side partial agg collapses dupes before the shuffle. A caller that
    # already materialized this set (LakeTable.merge persists it for its
    # lineage counters) passes it in — any extra grouping columns it carried
    # (partition_id) are collapsed out here, summing the copy counts so a
    # tuple redelivered across partitions still reads as duplicated.
    if tuples is None:
        tuples = key_order_tuples(df, key_cols, order_cols)
    else:
        extra = [
            c for c in tuples.columns if c not in (*key_cols, *order_cols, "_cnt")
        ]
        if extra and tuples_partition_disjoint:
            # Keyed-delivery contract: the extra grouping column is key-
            # derived (envelope hash mode; Kafka keyed produce client.go:
            # 29-31; Mongo shard key), so a (key, ordering) tuple can never
            # repeat across groups — drop the column, skip the re-shuffle.
            tuples = tuples.drop(*extra)
        elif extra:
            tuples = tuples.groupBy(*key_cols, *order_cols).agg(
                F.sum("_cnt").alias("_cnt")
            )
    # pass 1b: max ordering per key (tiny: one row per distinct tuple);
    # _cnt trails the order cols in the struct so it never affects the max.
    win = (
        tuples.groupBy(*key_cols)
        .agg(F.max(F.struct(*[F.col(c) for c in order_cols], F.col("_cnt"))).alias("_w"))
        .select(
            *[F.col(c).alias(f"_w_{c}") for c in key_cols],
            *[F.col(f"_w.{c}").alias(f"_w_{c}") for c in order_cols],
            F.col("_w._cnt").alias("_w_cnt"),
        )
    )

    def _semi(src: DataFrame, winners: DataFrame) -> DataFrame:
        cond = None
        for c in [*key_cols, *order_cols]:
            eq = F.col(c).eqNullSafe(F.col(f"_w_{c}"))
            cond = eq if cond is None else (cond & eq)
        return src.join(F.broadcast(winners.drop("_w_cnt")), cond, "left_semi")

    # Gate: does ANY winning tuple have >1 physical copies? The common
    # no-dups answer buys a single-branch plan with NO payload shuffle — the
    # whole point of this strategy. (r1 shipped an unconditional
    # dropDuplicates over full winner rows here, re-introducing the payload
    # exchange it had just eliminated; that reduce stage dominated merge CPU
    # and was the largest non-scaling term in the r2 scaling diagnosis.)
    #
    # `has_dups` precomputed by the caller (LakeTable.merge folds an exact
    # duplicate count into its lineage aggregation — same payload-free scan,
    # ONE job for both) keeps this function a lazy plan builder: zero Spark
    # jobs at call time. A conservative True (e.g. dups among loser tuples
    # only) is safe — the dup branch degenerates to the clean semi plus an
    # empty duped side. With has_dups=None this function runs the gate
    # EAGERLY as one tiny payload-free job at call time (ADVICE r2); pass a
    # cache_registry so the gate's pass-1 materialization is REUSED by the
    # main plan's broadcast build instead of recomputed — the caller
    # unpersists after its write job. Payload-free: ~1 tuple/key.
    if cache_registry is not None:
        win = win.persist()
        cache_registry.append(win)
    if has_dups is None:
        has_dups = win.filter(F.col("_w_cnt") > 1).limit(1).count() > 0
    if not has_dups:
        return _semi(df, win)
    # Replayed deliveries present: rows of once-delivered tuples still skip
    # the shuffle; only rows of duplicated tuples pay a (tiny) dedup shuffle.
    clean = _semi(df, win.filter(F.col("_w_cnt") == 1))
    duped = _semi(df, win.filter(F.col("_w_cnt") > 1)).dropDuplicates(
        [*key_cols, *order_cols]
    )
    return clean.unionByName(duped)


def lww_dedup_salted(df: DataFrame, key_cols=KEY_COLS, n_salts: int = 16) -> DataFrame:
    """Two-phase LWW for skewed keys (SURVEY.md §4 item 1).

    Phase 1: group by (key, salt) — salt derived from the ordering column so
    it is deterministic — and take max_by(row, ordering). max_by is a real
    aggregate, so Spark applies map-side partial aggregation: the hot key's
    millions of events collapse to ≤n_salts rows before the wide shuffle.
    Phase 2: same max_by grouped by the bare key.
    """
    order_cols = [c for c in ORDER_COLS if c in df.columns]
    ord_struct = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in df.columns])
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(n_salts))

    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.max_by(payload, ord_struct).alias("_row"))
    )
    phase2 = (
        phase1.groupBy(*key_cols)
        .agg(F.max_by(F.col("_row"), F.struct(*[F.col(f"_row.{c}") for c in order_cols])).alias("_row"))
    )
    return phase2.select("_row.*")
