"""Partial-update application (Mongo updateDescription deltas).

Mongo change streams can deliver an update as a delta —
``updateDescription.updatedFields`` / ``removedFields`` — instead of a full
document (the reference watcher forwards updateDescription unless
``ignoreUpdateDescription`` is set, /root/reference/internal/mongo/event.go).
A CDC lake engine must APPLY such deltas: the stored row keeps the columns
the event didn't touch. This module folds a batch of mixed full/patch
events into one row per key, and it is `LakeTable.merge`'s only apply
route: a batch of full rows folds to each key's newest row (the
`operators.dedup.lww_dedup` result), and a batch holding a patch appends
each folded row as a delta whose `_write_mask` names the columns it wrote;
reads resolve those deltas per column (`LakeTable._resolve_lww_columns`).

Batch convention
----------------
A row is a PATCH iff ``op == 'update'`` and ``patch_mask`` (array<string>)
is non-null; the mask lists the payload columns the event writes. A masked
column whose value is NULL is Mongo removedFields — an explicit unset, not
inheritance. Every other row (insert / replace / delete / full update with
null mask) writes every column; a delete writes every column to NULL and
tombstones the key.

Per-column LWW fold
-------------------
The final value of column c for a key is the value of the LAST event that
WRITES c (by ``(commit_seq, offset)``). Only when NO event in the batch
writes c does the column inherit from table state — at read or
compaction time, never at ingest.

Scale shape: the fold is ONE aggregate keyed on (repo, path) —
``max_by`` with a conditional ordering key per column, map-side
combinable, so a hot key collapses inside each map task before the
shuffle; no window, no self-join, no state read.

Ordering contract
-----------------
WITHIN a batch, arbitrary arrival order is fine — the fold orders by
``(commit_seq, offset)``. ACROSS batches, per-column resolution relies on
the change stream's per-key ordered delivery (the oplog contract the
reference tails). A later batch delivering an OLDER patch wins the columns
no newer event writes only while the newer rows are still deltas;
compaction stores one full row carrying the newest ``commit_seq``, after
which such a patch loses every column. True cross-batch out-of-order
patching would need per-column versions in storage — deliberately out of
scope, matching what ordered CDC sources guarantee. Batch-CUT invariance
over in-order streams is property-tested (tests/test_patch.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def patch_row() -> Column:
    """True on a PATCH row (see the batch convention above)."""
    return (F.col("op") == "update") & F.col("patch_mask").isNotNull()


def fold_patch_batch(
    batch: DataFrame,
    payload_cols: list[str],
    *,
    key_cols: tuple[str, ...] = ("repo", "path"),
    order_cols: tuple[str, ...] = ("commit_seq", "offset"),
    mask_aliases: dict[str, str] | None = None,
) -> DataFrame:
    """One row per key: per-column LWW fold honoring ``patch_mask``.

    Returns key cols + ``partition_id``/``offset``/``op``/``commit_seq``
    (each from the key's LAST event) + one ``c`` value and one ``_w_c``
    boolean ("some batch event wrote c") per payload column. Keys where any
    ``_w_c`` is false inherit that column from table state (the caller's
    job — LakeTable stores the flags as the row's write mask).
    ``mask_aliases`` maps a derived column to the mask name that writes it
    (e.g. ``content_sha256`` is written whenever the mask says
    ``content``). A batch without a ``patch_mask`` column holds no patch
    row: every row writes every column, and each key keeps its newest row.
    """
    mask_aliases = mask_aliases or {}
    if "patch_mask" not in batch.columns:
        batch = batch.withColumn("patch_mask", F.lit(None).cast("array<string>"))
    ordk = F.struct(*[F.col(c) for c in order_cols])
    is_patch = patch_row()
    aggs: list[Column] = []
    for c in payload_cols:
        writes = (~is_patch) | F.array_contains(
            F.col("patch_mask"), F.lit(mask_aliases.get(c, c))
        )
        # delete rows write NULL; max_by ignores rows whose ordering key is
        # NULL, so non-writers never contribute
        val = F.when(F.col("op") != "delete", F.col(c))
        aggs.append(F.max_by(val, F.when(writes, ordk)).alias(c))
        aggs.append(F.max(writes.cast("int")).cast("boolean").alias(f"_w_{c}"))
    aggs += [
        F.max_by("op", ordk).alias("op"),
        F.max(order_cols[0]).alias(order_cols[0]),
        F.max_by(order_cols[1], ordk).alias(order_cols[1]),
        F.max_by("partition_id", ordk).alias("partition_id"),
    ]
    return batch.groupBy(*[F.col(c) for c in key_cols]).agg(*aggs)
