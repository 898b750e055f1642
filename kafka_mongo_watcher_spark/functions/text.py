"""Text-analysis functions for training-data pipelines — all JVM-side
Catalyst expressions (no UDFs): language-ID heuristic, quality scoring,
token counting, document fingerprinting."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MARKERS = {
    "en": ["the", "and", "key", "table"],
    "es": ["query", "data", "scan", "merge"],
    "de": ["window", "group", "sort", "batch"],
    "fr": ["join", "filter", "line", "order"],
    "zh": ["spark", "stream", "hash", "agg"],
}
STOPWORDS = ["the", "a", "and", "of", "to", "in"]


def _toks(text_col):
    return F.split(text_col, " ")


def lang_id(df: DataFrame, *, text_col: str = "text", markers=None) -> DataFrame:
    """n-gram-heuristic language ID: marker-token hit counts per language,
    argmax with deterministic tiebreak (marker-dict order)."""
    markers = markers or DEFAULT_MARKERS
    toks = _toks(F.col(text_col))
    out = df
    for lang, words in markers.items():
        hits = F.size(F.filter(toks, lambda t: t.isin(words)))
        out = out.withColumn(f"hits_{lang}", hits)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in markers])
    pred = None
    for lang in reversed(list(markers)):
        cond = F.col(f"hits_{lang}") == best
        pred = F.when(cond, F.lit(lang)).otherwise(pred) if pred is not None else F.lit(lang)
    return out.withColumn("predicted", pred)


def quality_score(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Length / token / stopword-ratio quality features + a composite score
    in [0,1] (heuristic gate for corpus filtering)."""
    toks = _toks(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    avg_tok = (n_chars - n_tokens + 1) / n_tokens.cast("double")
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))) / n_tokens.cast("double")
    punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[^a-zA-Z0-9\s]"), 0))
    score = (
        F.least(n_tokens / F.lit(64.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.3
        + (1 - F.least(punct / n_chars.cast("double") * 10, F.lit(1.0))) * 0.3
    )
    return df.select(
        "*",
        n_tokens.alias("n_tokens"),
        F.round(avg_tok, 4).alias("avg_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        punct.alias("n_punct"),
        F.round(score, 4).alias("quality"),
    )


def token_counts(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (letters runs,
    digit runs, single punctuation — the pre-tokenizer approximation)."""
    return df.select(
        "*",
        F.size(_toks(F.col(text_col))).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("bpe_ish_tokens"),
    )


def fingerprint(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint: lower, collapse whitespace, trim,
    sha256 — the batch-dedup key."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.select("*", F.sha2(norm, 256).alias("fingerprint"))


def repetition_signals(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition counters (Rae et al. 2021 §A1.1: repetitious
    documents are low-quality training data): word/line duplication and the
    most-frequent-word-bigram count. Emitted as INTEGER counters (numerators
    and denominators) so downstream thresholds — e.g. Gopher's
    dup_line_frac > 0.30, top-2-gram fraction > 0.20 — divide them however
    they like and cross-engine comparisons stay exact.

    Scale shape: pure per-row projection, shuffle-free, whole-stage codegen.
    The top-bigram scan is O(unique_bigrams x bigrams) per document — fine
    for web-scale documents (10^3..10^4 words); for pathological multi-MB
    single documents, explode+groupBy(doc_id, bigram) trades that for a
    shuffle. No UDFs."""
    w = F.split(F.col(text_col), " ")
    lines = F.split(F.col(text_col), "\n")
    pair_len = F.greatest(F.size(w) - 1, F.lit(0))
    bg = F.zip_with(
        F.slice(w, 1, pair_len),
        F.slice(w, 2, pair_len),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    top_bg = F.when(F.size(bg) == 0, F.lit(0)).otherwise(
        F.array_max(
            F.transform(
                F.array_distinct(bg),
                lambda x: F.size(F.filter(bg, lambda y: y == x)),
            )
        )
    )
    return df.select(
        "*",
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_unique_words"),
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("n_unique_lines"),
        F.size(bg).alias("n_bigrams"),
        top_bg.alias("top_bigram_count"),
    )


def corpus_filter(
    df: DataFrame,
    *,
    text_col: str = "text",
    min_words: int = 5,
    max_words: int = 100_000,
    max_dup_line_pct: int = 30,
    max_top_bigram_pct: int = 20,
    min_stopword_pct: int = 5,
    max_punct_pct: int = 25,
) -> DataFrame:
    """Composite keep/drop corpus-quality gate (Gopher rules, Rae et al.
    2021 §A1.1): length bounds, duplicate-line fraction, most-frequent-
    bigram fraction, stopword floor, punctuation ceiling — the standard
    pre-training document filter, composed from this module's signals into
    one decision column plus an auditable reason list.

    Every threshold compares INTEGERS (`numerator * 100 > pct * denominator`)
    rather than floats, so the decision is bit-identical across engines (the
    DuckDB oracle twin in __spark_entry__ replays the same integer algebra —
    no float-rounding divergence at the boundary).

    Emits `keep` (boolean) and `drop_reasons` (comma-joined, fixed order) —
    downstream pipelines `filter("keep")` for the corpus and aggregate
    drop_reasons for loss accounting. Pure per-row Catalyst projection:
    shuffle-free, whole-stage codegen, scales linearly with input bytes.
    """
    w = _toks(F.col(text_col))
    lines = F.split(F.col(text_col), "\n")
    n_words = F.size(w)
    n_chars = F.length(F.col(text_col))
    n_lines = F.size(lines)
    dup_lines = n_lines - F.size(F.array_distinct(lines))
    pair_len = F.greatest(n_words - 1, F.lit(0))
    bg = F.zip_with(
        F.slice(w, 1, pair_len), F.slice(w, 2, pair_len),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    top_bg = F.when(F.size(bg) == 0, F.lit(0)).otherwise(
        F.array_max(
            F.transform(F.array_distinct(bg), lambda x: F.size(F.filter(bg, lambda y: y == x)))
        )
    )
    stop_hits = F.size(F.filter(w, lambda t: t.isin(STOPWORDS)))
    punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[^a-zA-Z0-9\s]"), 0))

    reasons = [
        ("too_short", n_words < min_words),
        ("too_long", n_words > max_words),
        ("dup_lines", dup_lines * 100 > F.lit(max_dup_line_pct) * n_lines),
        ("rep_bigrams", top_bg * 100 > F.lit(max_top_bigram_pct) * F.size(bg)),
        ("low_stopword", stop_hits * 100 < F.lit(min_stopword_pct) * n_words),
        ("high_punct", punct * 100 > F.lit(max_punct_pct) * n_chars),
    ]
    reason_arr = F.array_compact(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in reasons])
    )
    return df.select(
        "*",
        (F.size(reason_arr) == 0).alias("keep"),
        F.concat_ws(",", reason_arr).alias("drop_reasons"),
    )


def chunk_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
) -> DataFrame:
    """Sliding-window document chunking — the standard pre-training step
    that splits long documents into fixed-token windows with overlap so no
    training example exceeds the context budget and boundaries don't lose
    bigram context.

    stride = chunk_tokens - overlap_tokens; windows start at 0, stride,
    2*stride, ...; a document of n <= chunk_tokens tokens yields exactly one
    chunk; otherwise ceil((n - chunk_tokens)/stride) + 1 chunks, the last
    one possibly short (slice clamps). Emits one row per (doc, chunk_id)
    with the chunk text and its token count.

    Scale shape: split → sequence → transform → posexplode, all inside
    whole-stage codegen — a pure generator projection, shuffle-free, no
    Python. Row count grows by the chunking factor only; the source text
    column is scanned once.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    toks = _toks(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - chunk_tokens) / F.lit(float(stride))).cast("int") + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * stride + 1, F.lit(chunk_tokens)), " "
        ),
    )
    other = [c for c in df.columns if c != text_col]
    return df.select(
        *other, F.posexplode(chunks).alias("chunk_id", "chunk_text")
    ).withColumn("chunk_tokens", F.size(F.split(F.col("chunk_text"), " ")))


def corpus_mix(
    df: DataFrame,
    quotas: dict[str, int],
    *,
    group_col: str = "source",
    id_cols=("doc_id",),
    seed: str = "",
    n_salts: int = 16,
) -> DataFrame:
    """Deterministic stratified corpus mixing — the "data recipe" step of a
    pre-training pipeline: take exactly `quotas[g]` documents from each
    group g (domain, language, source), selected reproducibly so the same
    recipe over the same corpus yields the same dataset on every run, every
    partitioning, every cluster size.

    Selection rule: within each group, rank documents by
    sha256(seed ⊕ id_cols) ascending (ties broken by id) and keep the first
    `quota`. A group smaller than its quota is taken whole; groups absent
    from `quotas` are dropped (mixing is an explicit recipe, not a default).

    Scale shape: a naive per-group row_number puts each group on ONE
    reducer — with 5 domains over 100 TB that is 5 straggler tasks. Instead
    the rank runs in two phases (salting): phase 1 ranks within (group,
    salt) — n_salts parallel reducers per group — keeping at most `quota`
    candidates per salt; phase 2 ranks the ≤ n_salts×quota survivors per group. Output is
    identical to the single global per-group rank (any row in the true
    top-quota is in its salt's top-quota), which is exactly what the
    contract oracle computes with one ROW_NUMBER in DuckDB.
    """
    if not quotas:
        raise ValueError("corpus_mix requires a non-empty quota recipe")
    ids = [F.col(c) for c in id_cols]
    h = F.sha2(
        F.concat_ws("\x1f", F.lit(str(seed)), *[c.cast("string") for c in ids]),
        256,
    )
    quota_map = F.create_map(
        *[F.lit(x) for kv in quotas.items() for x in kv]
    )
    d = (
        df.withColumn("_cm_h", h)
        .withColumn("_cm_q", quota_map[F.col(group_col).cast("string")])
        .filter(F.col("_cm_q").isNotNull())
    )
    from pyspark.sql import Window

    salt = F.pmod(F.xxhash64(*ids), F.lit(int(n_salts)))
    w1 = Window.partitionBy(F.col(group_col), salt).orderBy(
        F.col("_cm_h"), *ids
    )
    d = d.withColumn("_cm_r", F.row_number().over(w1)).filter(
        F.col("_cm_r") <= F.col("_cm_q")
    )
    w2 = Window.partitionBy(group_col).orderBy(F.col("_cm_h"), *ids)
    d = d.withColumn("_cm_r", F.row_number().over(w2)).filter(
        F.col("_cm_r") <= F.col("_cm_q")
    )
    return d.drop("_cm_h", "_cm_q", "_cm_r")


# PII scrubbing patterns — deliberately simple, anchored, and portable
# across regex engines (Java in Spark, RE2 in DuckDB): no backrefs, no
# lookaround, no \b-dependent unicode classes. Order matters: emails are
# scrubbed before bare domains would be, IPs before phone-like digit runs.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\[\] .-]{7,}[0-9]", "<PHONE>"),
)


def scrub_pii(
    df: DataFrame,
    *,
    text_col: str = "text",
    out_col: str | None = None,
    kinds=("email", "ipv4", "phone"),
) -> DataFrame:
    """PII redaction for pre-training corpora: replace emails, IPv4
    addresses, and phone-number-like digit runs with typed placeholder
    tokens, and count the redactions per kind so a downstream gate can drop
    documents that are mostly PII.

    Pure Catalyst (`regexp_replace` / a size-of-split count per kind) — one
    shuffle-free projection inside whole-stage codegen, no Python per row.
    The patterns avoid engine-specific regex features on purpose, so the
    DuckDB contract oracle runs the very same expressions. Recall is
    deliberately conservative (precision over recall: a placeholder in
    clean text costs more than a rare missed obfuscated email — the
    standard corpus-scrubbing trade-off); swap PII_PATTERNS for stricter
    models where the corpus warrants it.

    Output: `out_col` (default overwrite of `text_col`) plus one
    `n_<kind>` int column per requested kind.
    """
    out_col = out_col or text_col
    pats = [(k, p, t) for (k, p, t) in PII_PATTERNS if k in kinds]
    if not pats:
        raise ValueError(f"no known PII kinds in {kinds!r}")
    # counts ride the progressively-scrubbed text, not the raw input: an
    # IPv4 also matches the phone-shaped pattern, so counting every kind on
    # the raw text would double-count what only ONE replacement consumes —
    # each n_<kind> is exactly the number of <TOKEN>s that kind inserted.
    # occurrences = parts-after-split − 1 (null text → null counts).
    running = F.col(text_col)
    counts = []
    for kind, pat, token in pats:
        counts.append(
            (F.size(F.split(running, pat, -1)) - F.lit(1)).alias(f"n_{kind}")
        )
        running = F.regexp_replace(running, pat, token)
    return df.select(*df.columns, *counts).withColumn(out_col, running)
