"""Cross-batch stale-event suppression — custom stateful streaming operator
built on `applyInPandasWithState` (Arrow-batched, never per-row Python).

Why it exists: the merge sink is already idempotent LWW, so re-delivered or
out-of-order events are *correct* without help — but every one of them still
pays the full merge path (normalize+fingerprint, bucket shuffle, delta
write, compaction pressure). An at-least-once upstream that re-delivers
even 1% of a 10^10-event stream wastes 10^8 merge slots per replay. This
operator drops events that have already lost LWW *before* they reach the
merge: per (repo, path) it remembers the highest (commit_seq, offset) it
has ever forwarded — two longs per key, RocksDB-spillable state at scale —
and forwards only rows that beat that watermark. Intra-batch LWW ordering
stays the merge's job; the state advances to the batch max either way.

Correctness argument: a suppressed row's (commit_seq, offset) is ≤ a row
forwarded in an EARLIER epoch, and epochs commit in order, so by LWW the
suppressed row can never change final table state (tested: final snapshot
is identical with and without suppression, including replayed epochs).
Partial-update PATCH rows (op 'update' with a non-null `patch_mask`,
operators/patch.py) pass through untouched and never advance the
watermark: an out-of-order patch may write a column no later event
touches, so it can still win per-column LWW. Only full rows advance the
watermark, and a suppressed full row is older than a full row already
forwarded — which writes every column — so it wins no column either.
Spark versions the state store per epoch — a replayed epoch re-reads the
previous epoch's state — so a crash between suppressor and sink cannot
suppress an event that was never forwarded.

Malformed rows (null key or null ordering) are forwarded untouched: the
DLQ / transform stage downstream owns the reject decision
(transformer.go:19-23 semantics); eating them here would make rejects
unobservable.

The reference never needs this operator: one mongo cursor is totally
ordered and Kafka preserves per-key order downstream
(/root/reference/internal/mongo/watch_producer.go:106-134,
 /root/reference/internal/kafka/client.go:25-36). The problem appears
exactly when the stream is distributed — which is the point of this engine.

Cost model (100 TB honesty): suppression adds one hash shuffle of the batch
on (repo, path) plus an Arrow round-trip. Worth it when the re-delivery /
out-of-order ratio is material (upstream at-least-once, cursor restarts,
multi-source fan-in); pure overhead on a clean exactly-once feed — hence
opt-in (`run_replay_stream(suppress_stale=True)`).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

KEY_COLS = ("repo", "path")
ORDER_COLS = ("commit_seq", "offset")
_STATE_SCHEMA = "max_seq BIGINT, max_off BIGINT"


def _suppress_fn(out_cols: list[str], key_cols):
    """Build the per-group state function. `out_cols` pins the output column
    order to the declared schema (pandas frames must match it exactly)."""
    has_mask = "patch_mask" in out_cols

    def fn(
        key,  # noqa: ARG001 — (repo, path), unused: state is per-group already
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            gate_seq, gate_off = state.get  # frozen for the whole batch
        else:
            gate_seq, gate_off = None, None
        max_seq, max_off = gate_seq, gate_off
        for pdf in pdfs:
            if not len(pdf):
                continue
            # malformed = null key or null ordering; those rows neither
            # suppress nor advance the watermark (all null-key rows share
            # one group, so a watermark there would eat later rejects)
            valid = pdf["commit_seq"].notna() & pdf["offset"].notna()
            for kc in key_cols:
                valid &= pdf[kc].notna()
            # full = rows the watermark gates; patch rows bypass it like
            # malformed ones
            full = valid
            if has_mask:
                full = valid & ~((pdf["op"] == "update") & pdf["patch_mask"].notna())
            if gate_seq is None:
                keep = pdf
            else:
                # gate is the state as of batch START: suppression is purely
                # cross-batch, so output is deterministic under Arrow
                # chunking; intra-batch LWW stays the merge's job
                beats = (pdf["commit_seq"] > gate_seq) | (
                    (pdf["commit_seq"] == gate_seq) & (pdf["offset"] > gate_off)
                )
                # malformed rows (the DLQ owns them) and patch rows
                # always pass through
                keep = pdf[beats | ~full]
            v = pdf[full]
            if len(v):
                top_seq = int(v["commit_seq"].max())
                top_off = int(v.loc[v["commit_seq"] == top_seq, "offset"].max())
                if max_seq is None or (top_seq, top_off) > (max_seq, max_off):
                    max_seq, max_off = top_seq, top_off
            if len(keep):
                yield keep[out_cols]
        if max_seq is not None:
            state.update((max_seq, max_off))

    return fn


def suppress_stale(events: DataFrame, key_cols=KEY_COLS) -> DataFrame:
    """Streaming transform: drop events whose (commit_seq, offset) is at or
    below the per-key watermark of already-forwarded events. Schema is
    preserved; only provably-LWW-losing rows disappear."""
    out_cols = list(events.columns)
    return events.groupBy(*key_cols).applyInPandasWithState(
        _suppress_fn(out_cols, tuple(key_cols)),
        outputStructType=events.schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
