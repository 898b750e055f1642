"""`spark.readStream.format("lake_changes")` — watch a LakeTable's
changelog as a Structured Streaming source.

This closes the CDC loop on the OUTPUT side: the reference watches a Mongo
change stream and produces to Kafka (kafka-mongo-watcher README.md "watch"
command, internal/mongo/watcher.go); here the lake table our ingest MERGE
maintains is itself watchable, so downstream consumers tail it exactly the
way the reference tails Mongo — resumable offsets, ordered per-commit
batches, insert/delete markers — without a Kafka broker in the middle.

Built on the PySpark 4 Python Data Source API (pyspark.sql.datasource,
SPARK-44076) in its DISTRIBUTED form: `latestOffset`/`partitions` run
driver-side on manifest JSON only (no data IO), and each InputPartition —
one (commit version, bucket) delta-file group — is read by an EXECUTOR as
Arrow RecordBatches. A MERGE commit's delta files are exactly its change
rows (the batch's per-key LWW winners, plans/lake.py::changes), so a
micro-batch reads O(changed rows) parquet: no join, no shuffle, no table
scan, and the work of one commit fans out across buckets.

Offsets are `{"version": N}` = "committed through table version N";
versions are immutable once committed, so replaying an offset range is
deterministic and Spark's checkpoint gives end-to-end exactly-once with an
idempotent sink. `expire_snapshots` retention must out-live checkpoint lag,
exactly like Kafka retention vs consumer lag.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

#: DDL type name → pyarrow factory (applied lazily; executors import arrow).
_PA_TYPES = {
    "string": "string",
    "bigint": "int64",
    "long": "int64",
    "int": "int32",
    "integer": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "boolean": "bool_",
    "double": "float64",
    "float": "float32",
}


def _pa_schema(fields: list[tuple[str, str]]):
    import pyarrow as pa

    def _pa_type(ddl: str):
        ddl = ddl.lower()
        if ddl.startswith("array<") and ddl.endswith(">"):
            return pa.list_(_pa_type(ddl[6:-1]))
        factory = _PA_TYPES.get(ddl)
        if factory is None:
            raise ValueError(f"lake_changes: unsupported column type {ddl!r}")
        return getattr(pa, factory)()

    return pa.schema([pa.field(name, _pa_type(ddl)) for name, ddl in fields])


def _read_manifest(table_path: str, version: int | None = None) -> dict:
    mdir = os.path.join(table_path, "_manifests")
    if version is None:
        # the atomic commit pointer lives at the TABLE ROOT (LakeTable
        #._flip_latest); branch heads are not streamable — publish first
        with open(os.path.join(table_path, "_latest")) as f:
            version = int(f.read().strip())
    mpath = os.path.join(mdir, f"v{version:08d}.json")
    if not os.path.exists(mpath):
        raise ValueError(
            f"lake_changes: no committed version {version} at {table_path} "
            "(expired by retention? keep expire_snapshots beyond checkpoint lag)"
        )
    with open(mpath) as f:
        return json.load(f)


def _entry_files(table_path: str, m: dict, section: str, b: str) -> list[str]:
    """Sidecar-aware file list (mirror of LakeTable._entry_files without a
    table handle — the data source must stay importable executor-side)."""
    e = m.get(section, {}).get(b, [])
    if isinstance(e, dict) and set(e) == {"ref", "n"}:
        with open(os.path.join(table_path, "_manifests", e["ref"])) as f:
            e = json.load(f)
    return list(e) if isinstance(e, list) else list(e.keys())


class _ChangesPartition(InputPartition):
    def __init__(self, version: int, files: list[str], fields: list[tuple[str, str]]):
        self.version = version
        self.files = files
        self.fields = fields


class LakeChangesStreamReader(DataSourceStreamReader):
    """Distributed streaming reader over a MOR LakeTable's commit log."""

    def __init__(self, schema_fields: list[tuple[str, str]], options: dict):
        self.path = options["path"]
        self.fields = schema_fields  # (name, ddl) incl. _commit_version/_change_type
        start = options.get("startingversion", "latest")
        self._start = None if start == "latest" else int(start)
        self.max_versions = int(options.get("maxversionsperbatch", "0")) or None
        # Last planned/committed end version — the base the per-batch
        # version cap advances from. The engine's observed call order is
        # latestOffset → initialOffset → partitions → [latestOffset →
        # commit → partitions]*, so the FIRST planned batch of a run sees
        # base=None and is deliberately uncapped: capping it against
        # `startingVersion` would, after a checkpoint restart (where
        # initialOffset is never consulted), plan an offset RANGE BEHIND
        # the checkpoint and re-deliver committed versions. Safe-by-
        # construction beats a throttled first batch.
        self._base: int | None = None

    def initialOffset(self) -> dict:
        v = (
            self._start
            if self._start is not None
            else _read_manifest(self.path)["version"]
        )
        self._base = v
        return {"version": v}

    def latestOffset(self) -> dict:
        """Current committed version, capped to maxVersionsPerBatch beyond
        the last planned batch end (once known — see __init__ on why the
        first batch of a run is uncapped). The cap MUST be applied here —
        the offset Spark logs for the batch is exactly what `partitions`
        will be asked to cover, so shrinking later would drop commits."""
        cur = _read_manifest(self.path)["version"]
        if self.max_versions is not None and self._base is not None:
            cur = min(cur, self._base + self.max_versions)
        return {"version": cur}

    def partitions(self, start: dict, end: dict):
        """One partition per (merge version, bucket) — driver-side manifest
        walk, no data IO."""
        lo, hi = start["version"], end["version"]
        self._base = hi
        out = []
        for v in range(lo + 1, hi + 1):
            m = _read_manifest(self.path, v)
            kind = m.get("commit_kind", "unknown")
            if kind in ("compact", "create", "rebucket"):
                continue  # physical-only rewrites: no logical changes
            if kind != "merge":
                # Matches the batch changes() API (plans/lake.py): a
                # rollback DOES change logical table state but is not
                # expressible as incremental rows — silently skipping it
                # would let a tailing consumer's downstream copy diverge
                # forever (ADVICE r4). The consumer must re-sync from a
                # snapshot and restart the stream past this version.
                raise ValueError(
                    f"lake_changes: version {v} has commit_kind {kind!r}; "
                    "the changelog cannot express it incrementally — "
                    "re-sync from a snapshot and resume after this version"
                )
            if m.get("write_mode") != "mor":
                raise ValueError(
                    f"lake_changes: version {v} is a copy-on-write merge; the "
                    "changelog requires merge-on-read commits (COW rewrites do "
                    "not isolate per-commit change rows)"
                )
            base = os.path.join("data", f"v{v:08d}")
            for b in m.get("deltas", {}):
                files = [
                    os.path.join(self.path, f)
                    for f in _entry_files(self.path, m, "deltas", b)
                    if f.startswith(base + os.sep) or f.startswith(base + "_")
                ]
                if files:
                    out.append(_ChangesPartition(v, files, self.fields))
        return out

    def read(self, partition: _ChangesPartition):
        """Executor-side: the partition's delta parquet → Arrow batches in
        the source schema. Missing columns (pre-evolution files) null-fill;
        `_commit_version` / `_change_type` are derived, never stored."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        target = _pa_schema(partition.fields)
        for f in partition.files:
            t = pq.read_table(f)
            n = t.num_rows
            if n == 0:
                continue
            arrays = []
            for field in target:
                if field.name == "_commit_version":
                    arrays.append(
                        pa.repeat(pa.scalar(partition.version, type=field.type), n)
                    )
                elif field.name == "_change_type":
                    # vectorized: a commit's delta can be millions of rows
                    deleted = pc.fill_null(
                        t.column("is_deleted").combine_chunks(), False
                    )
                    ct = pc.if_else(
                        deleted, pa.scalar("delete"), pa.scalar("upsert")
                    ).cast(field.type)
                    if isinstance(ct, pa.ChunkedArray):
                        ct = pa.concat_arrays(ct.chunks) if ct.num_chunks != 1 else ct.chunk(0)
                    arrays.append(ct)
                elif field.name in t.column_names:
                    col = t.column(field.name).cast(field.type).combine_chunks()
                    if isinstance(col, pa.ChunkedArray):
                        col = (
                            col.chunk(0)
                            if col.num_chunks == 1
                            else pa.concat_arrays(col.chunks)
                        )
                    arrays.append(col)
                else:
                    arrays.append(pa.nulls(n, type=field.type))
            yield pa.RecordBatch.from_arrays(arrays, schema=target)

    def commit(self, end: dict) -> None:
        self._base = end["version"]  # versions are immutable; checkpoint
        # holds the authoritative offset — nothing to persist here


class LakeChangesDataSource(DataSource):
    """format("lake_changes") — options:

    - `path` (required): LakeTable root directory
    - `startingVersion`: first EXCLUDED version (0 replays the whole
      changelog; default "latest" = watch from now, the Mongo
      change-stream default)
    - `maxVersionsPerBatch`: cap commits per micro-batch (the
      maxFilesPerTrigger analog). Engages from the second planned batch
      of each run — the first is uncapped by design, because capping it
      after a checkpoint restart could plan a range behind the
      checkpoint and re-deliver committed versions
    """

    @classmethod
    def name(cls) -> str:
        return "lake_changes"

    def _fields(self) -> list[tuple[str, str]]:
        from kafka_mongo_watcher_spark.plans.lake import INTERNAL_FIELDS

        m = _read_manifest(self.options["path"])
        return (
            [tuple(x) for x in m["user_schema"]]
            + INTERNAL_FIELDS
            + [("_commit_version", "bigint"), ("_change_type", "string")]
        )

    def schema(self) -> str:
        return ", ".join(f"`{n}` {t}" for n, t in self._fields())

    def streamReader(self, schema) -> LakeChangesStreamReader:
        return LakeChangesStreamReader(self._fields(), dict(self.options))
