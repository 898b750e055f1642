"""Vectorized per-event transforms (Arrow/pandas UDFs — never per-row Python).

The reference serializes every change event to canonical Extended JSON so
that downstream consumers see deterministic bytes per event
(/root/reference/internal/mongo/event.go:31-33,
/root/reference/internal/mongo/transformer.go:25-29; golden byte-equality in
transformer_test.go:44,52). Our analog of that determinism contract is a
canonical *content normalization* followed by a sha256 fingerprint: the
per-row invariant `content_sha256` must be byte-stable regardless of which
executor, batch, or replay produced it.

Normalization (byte-deterministic, locale/time independent):
  1. Unicode NFC normalization.
  2. CRLF/CR → LF.
  3. Strip trailing whitespace from every line.
  4. Exactly one trailing newline (empty string stays empty).

`normalize_content_py` / `sha256_hex_py` are the plain-Python versions
shared with the sequential replay oracle (tests compare the engine's final
state against the oracle via these exact bytes, mirroring the reference's
golden-JSON strategy in cmd/watcher/main_test.go:111-119).
"""

from __future__ import annotations

import hashlib
import unicodedata

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_RESULT_TYPE = T.StructType(
    [
        T.StructField("content", T.StringType(), True),
        T.StructField("content_sha256", T.StringType(), True),
    ]
)


def normalize_content_py(raw: str | None) -> str | None:
    """Canonical content normalization (plain Python, shared with the oracle)."""
    if raw is None:
        return None
    s = unicodedata.normalize("NFC", raw)
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    s = "\n".join(line.rstrip() for line in s.split("\n"))
    s = s.rstrip("\n")
    return s + "\n" if s else ""


def sha256_hex_py(s: str | None) -> str | None:
    if s is None:
        return None
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


@F.pandas_udf(_RESULT_TYPE)
def _normalize_and_fingerprint_udf(raw: pd.Series) -> pd.DataFrame:
    # One Arrow batch in, one Arrow batch out: normalization + sha256 fused so
    # the string crosses the JVM<->Python boundary exactly once.
    norm = raw.map(normalize_content_py, na_action="ignore")
    sha = norm.map(sha256_hex_py, na_action="ignore")
    return pd.DataFrame({"content": norm, "content_sha256": sha})


# Characters python's str.rstrip() strips from an ASCII line once \r and \n
# are out of band: space, \t, \v, \f, \x1c-\x1f (FS/GS/RS/US are Unicode
# whitespace per str.isspace()).
_ASCII_LINE_WS = "[ \t\x0b\x0c\x1c-\x1f]"


def _ascii_normalize_expr(col):
    """The canonical normalization as pure Catalyst expressions — valid ONLY
    for pure-ASCII input, where NFC is the identity. Byte-equality with
    normalize_content_py is asserted in tests/test_functions.py.

    TWO regex passes, not four: this chain is the dominant per-event CPU of
    the whole replay (~100 us/event at ~800 B content in the r2 profile), so
    line-ending fold + line-trailing-ws strip fuse into one pass and the
    two end-of-string strips into another. Possessive quantifiers (*+, ++)
    keep java.util.regex from backtracking across the whitespace runs."""
    # CRLF/CR → LF, stripping whitespace that trails each line, in one pass
    s = F.regexp_replace(col, _ASCII_LINE_WS + "*+(\r\n|\r|\n)", "\n")
    # strip any run of whitespace/newlines trailing the whole string
    s = F.regexp_replace(s, "[ \t\x0b\x0c\x1c-\x1f\n]++$", "")
    return F.when(s == "", F.lit("")).otherwise(F.concat(s, F.lit("\n")))


def is_non_ascii(col):
    """True for a row holding any non-ASCII character (NULL for NULL):
    byte length == char length iff every char is 1 UTF-8 byte — two
    counters instead of a third regex scan per row."""
    return F.octet_length(col) != F.length(col)


def ascii_fingerprint(col):
    """Column → struct<content, content_sha256>, JVM only (regexp chain +
    sha2, no Python worker) — valid ONLY when every input row is ASCII,
    like `_ascii_normalize_expr`. `LakeTable.merge` plans it for a batch
    whose pre-pass saw no `is_non_ascii` row; anything else uses
    `normalize_and_fingerprint`."""
    ascii_norm = _ascii_normalize_expr(col)
    return F.struct(
        ascii_norm.alias("content"),
        F.sha2(ascii_norm, 256).alias("content_sha256"),
    )


def normalize_and_fingerprint(col):
    """Column → struct<content, content_sha256>.

    Hybrid plan: pure-ASCII rows are normalized and sha256'd entirely
    JVM-side (regexp chain + sha2 — NFC is the identity on ASCII); only
    non-ASCII rows pay the pandas-UDF roundtrip. The UDF's input is NULLED for ASCII rows rather
    than branch-gated, because Spark extracts python UDFs into an
    ArrowEvalPython node that runs over every row regardless of when()
    branches — nulls keep the Arrow transfer near-zero-byte while the
    expression stays a single-pass projection (no filter/union double-scan
    of the upstream dedup).

    Usage: df.withColumn("_nf", normalize_and_fingerprint(F.col("content_raw")))
             .withColumn("content", F.col("_nf.content")) ...
    """
    non_ascii = is_non_ascii(col)
    return F.when(~non_ascii, ascii_fingerprint(col)).otherwise(
        _normalize_and_fingerprint_udf(F.when(non_ascii, col))
    )
