"""Independent reference for the benchmark's correctness gate.

A sequential, per-key replay of the change-event log in (commit_seq,
offset) order with per-column last-writer-wins patch semantics, written
without the engine's code: a full event (insert / replace / update without
`patch_mask`) writes every column, a delete removes the key, and a patch
(`op == 'update'` with a mask) writes only the masked columns — `content`
also writes `content_sha256` — leaving the others as they were, or NULL
when the key was absent. Content is normalized and fingerprinted here
with its own code.
"""

from __future__ import annotations

import hashlib
import unicodedata

COLS = ("repo", "path", "commit", "lang", "content_sha256")


def normalize(raw: str | None) -> str | None:
    """NFC, CRLF/CR -> LF, trailing whitespace stripped from every line,
    exactly one trailing newline (empty stays empty)."""
    if raw is None:
        return None
    s = unicodedata.normalize("NFC", raw).replace("\r\n", "\n").replace("\r", "\n")
    s = "\n".join(line.rstrip() for line in s.split("\n")).rstrip("\n")
    return s + "\n" if s else ""


def fingerprint(raw: str | None) -> str | None:
    s = normalize(raw)
    return None if s is None else hashlib.sha256(s.encode("utf-8")).hexdigest()


def read_events(chunk_dir: str) -> list[dict]:
    """Events of one event-log chunk, read with pyarrow (not Spark)."""
    import pyarrow.parquet as pq

    return pq.read_table(chunk_dir).to_pylist()


class LwwState:
    """Current state keyed by (repo, path). Rows keep the raw content and
    fingerprint it on demand, so only surviving rows pay for it."""

    def __init__(self):
        self.rows: dict[tuple[str, str], dict] = {}

    def apply(self, events) -> dict[tuple[str, str], dict]:
        """Apply one batch; returns the batch's changelog oracle: per key
        the last event's (commit_seq, change type)."""
        changed = {}
        for e in sorted(events, key=lambda e: (e["commit_seq"], e.get("offset") or 0)):
            repo, path = e.get("repo"), e.get("path")
            if not repo or not path:
                continue
            key = (repo, path)
            op = e["op"]
            changed[key] = (e["commit_seq"], "delete" if op == "delete" else "upsert")
            if op == "delete":
                self.rows.pop(key, None)
                continue
            mask = e.get("patch_mask") if op == "update" else None
            if mask is None:
                row = {"commit": e.get("commit"), "lang": e.get("lang"), "raw": e.get("content_raw")}
            else:
                row = dict(self.rows.get(key) or {"commit": None, "lang": None, "raw": None})
                for c in mask:
                    row["raw" if c == "content" else c] = e.get("content_raw" if c == "content" else c)
                if "content" in mask:
                    row.pop("sha", None)
            row["commit_seq"] = e["commit_seq"]
            self.rows[key] = row
        return changed

    def row(self, key) -> tuple | None:
        """(repo, path, commit, lang, content_sha256, commit_seq) or None."""
        r = self.rows.get(key)
        if r is None:
            return None
        if "sha" not in r:
            r["sha"] = fingerprint(r["raw"])
        return (key[0], key[1], r["commit"], r["lang"], r["sha"], r["commit_seq"])

    def table(self) -> set[tuple]:
        return {self.row(k) for k in self.rows}


def engine_row(r) -> tuple:
    """The oracle's tuple shape from an engine row (Row or dict)."""
    return (r["repo"], r["path"], r["commit"], r["lang"], r["content_sha256"], r["commit_seq"])


def digest(rows) -> str:
    """Order-independent sha256 over a set of row tuples."""
    h = hashlib.sha256()
    for t in sorted(rows, key=repr):
        h.update(repr(t).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()
