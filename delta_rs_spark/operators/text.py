"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All pure `pyspark.sql.functions` compositions —
JVM-side, whole-stage-codegen, no Python in the hot path — and each has an
exact ANSI-SQL equivalent for the oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# small stopword profiles for the n-gram/stopword language heuristic
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que"],
}


def with_words(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("_words", F.split(F.lower(F.col(text_col)), r"\s+"))


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-profile language guess with deterministic precedence.

    score(lang) = #distinct profile words present; winner = highest score,
    ties broken by profile order (en > de > fr > es); all-zero → 'und'
    (undetermined, BCP-47 convention).
    """
    d = with_words(df.select(id_col, text_col), text_col)
    for lang, words in LANG_PROFILES.items():
        d = d.withColumn(
            f"_s_{lang}",
            F.size(F.array_intersect(F.array_distinct("_words"), F.array(*[F.lit(w) for w in words]))),
        )
    langs = list(LANG_PROFILES)
    best = F.greatest(*[F.col(f"_s_{l}") for l in langs])
    guess = F.lit("und")
    for lang in reversed(langs):  # earlier profiles win ties: build from the back
        guess = F.when(
            (F.col(f"_s_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(guess)
    return d.select(id_col, guess.alias("lang_guess"))


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features + composite score.

    Integer/exact arithmetic only (counts and length ratios quantized to
    DECIMAL), so the score is engine-independent bit-for-bit.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = F.size(F.split(t, r"\s+"))
    n_spaces = n_chars - F.length(F.regexp_replace(t, r"\s", ""))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[.,;:!?]", ""))
    n_distinct = F.size(F.array_distinct(F.split(F.lower(t), r"\s+")))

    avg_word_len = ((n_chars - n_spaces).cast("decimal(18,6)") / n_words).cast("double")
    ttr = (n_distinct.cast("decimal(18,6)") / n_words).cast("double")
    punct_ratio = (n_punct.cast("decimal(18,6)") / n_chars).cast("double")

    score = (
        F.when(n_words >= 20, F.lit(1)).otherwise(F.lit(0))
        + F.when((avg_word_len >= 3) & (avg_word_len <= 12), F.lit(1)).otherwise(F.lit(0))
        + F.when(ttr >= 0.3, F.lit(1)).otherwise(F.lit(0))
        + F.when(punct_ratio <= 0.1, F.lit(1)).otherwise(F.lit(0))
    )
    return df.select(
        id_col,
        n_chars.alias("n_chars_computed"),
        n_words.alias("n_words"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        score.cast("int").alias("quality_score"),
    )


def token_count(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (word pieces & punctuation)."""
    t = F.col(text_col)
    ws = F.size(F.split(t, r"\s+"))
    bpe = F.size(F.regexp_extract_all(F.lower(t), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0))
    return df.select(
        id_col,
        ws.alias("ws_tokens"),
        bpe.alias("regex_tokens"),
        F.ceil(F.length(t) / F.lit(4)).cast("long").alias("approx_bpe_tokens"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    context-window packing primitive of LLM data prep (and of RAG indexing).

    Whole-stage codegen throughout: the token array is built once, chunk
    indices come from ``posexplode(sequence(...))``, and each chunk is a
    ``slice`` + ``concat_ws`` over that array — no UDF, no shuffle; a 100 TB
    corpus chunks as a narrow map whose output is ~(1 + overlap/stride)× the
    input bytes. Stride = chunk_tokens - overlap; the last chunk may be
    short; documents shorter than one chunk yield exactly one chunk.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    d = df.select(
        id_col, F.split(F.lower(F.col(text_col)), r"\s+").alias("_w")
    ).withColumn(
        "_n_chunks",
        F.greatest(
            F.lit(1),
            F.ceil((F.size("_w") - F.lit(overlap)) / F.lit(stride)).cast("int"),
        ),
    )
    return d.select(
        id_col,
        F.posexplode(F.expr("sequence(0, _n_chunks - 1)")).alias("chunk_id", "_i"),
        F.col("_w"),
    ).select(
        id_col,
        "chunk_id",
        F.concat_ws(
            " ", F.slice("_w", F.col("chunk_id") * stride + 1, chunk_tokens)
        ).alias("chunk_text"),
        F.least(
            F.lit(chunk_tokens), F.size("_w") - F.col("chunk_id") * stride
        ).alias("n_tokens"),
    )


def pack_sequences(
    chunks: DataFrame,
    token_budget: int = 256,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    chunk_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Assign chunks to fixed-token-budget training sequences (the packing
    step between chunking and batching in an LLM data pipeline).

    Deterministic cumulative-fill packing: chunks are bucketed by
    ``hash(doc_id) % n_buckets`` (the parallelism unit — one window per
    bucket, never a global order), ordered by (doc, chunk), and a sequence
    boundary falls wherever the running token total crosses the budget:
    ``seq = floor(cum_tokens_before / budget)``. A sequence may overflow by
    at most one chunk — the concat-then-split approximation production
    packers use — in exchange for a single window pass, full determinism,
    and no driver state. Exact bin packing is NP-hard and inherently
    order-dependent; this formulation is engine-reproducible (exact SQL
    oracle) and scales as one shuffle on the bucket key.

    Output: one row per chunk with its (bucket, seq_in_bucket, global
    seq_key) assignment; aggregate by seq_key for per-sequence stats.
    """
    from pyspark.sql import Window as W

    from .sampling import hash_bucket

    # md5-derived bucket (not xxhash64): engine-reproducible, same helper as
    # the deterministic split/sample operators
    bucket = F.pmod(hash_bucket(id_col), F.lit(n_buckets))
    w = (
        W.partitionBy("_bucket")
        .orderBy(id_col, chunk_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        chunks.withColumn("_bucket", bucket)
        .withColumn("_cum", F.sum(tokens_col).over(w) - F.col(tokens_col))
        .select(
            id_col,
            chunk_col,
            tokens_col,
            F.col("_bucket").alias("bucket"),
            F.floor(F.col("_cum") / token_budget).cast("int").alias("seq_in_bucket"),
            (
                F.col("_bucket") * F.lit(1 << 32)
                + F.floor(F.col("_cum") / token_budget)
            ).alias("seq_key"),
        )
    )


def repetition_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token-repetition features — the quality signal that flags
    boilerplate / degenerate generations (a top-word dominating the text).

    Explode-and-aggregate rather than per-row array fold: the per-(doc, word)
    count is a map-side-combinable two-level aggregation, so cost stays
    O(tokens) with 8-byte-ish shuffle rows even for book-length documents,
    where an ``aggregate()`` over the words array would be O(len × distinct)
    inside a single task. Ratios are decimal-quantized (engine-invariant).
    """
    words = df.select(
        id_col, F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_w")
    )
    per_word = words.groupBy(id_col, "_w").agg(F.count(F.lit(1)).alias("_cnt"))
    return (
        per_word.groupBy(id_col)
        .agg(
            F.sum("_cnt").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max("_cnt").alias("top_word_count"),
        )
        .select(
            id_col,
            "n_words",
            "n_distinct_words",
            "top_word_count",
            F.round(
                (F.col("top_word_count").cast("decimal(18,6)") / F.col("n_words")).cast(
                    "double"
                ),
                6,
            ).alias("repetition_ratio"),
            F.round(
                (
                    F.col("n_distinct_words").cast("decimal(18,6)") / F.col("n_words")
                ).cast("double"),
                6,
            ).alias("distinct_ratio"),
        )
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of whitespace-normalized text,
    plus a 64-bit rolling-style prefix (hex→bigint) usable as a shard key."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    fp = F.md5(norm)
    return df.select(
        id_col,
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fingerprint64"),
    )


# ---------------------------------------------------------------------------
# PII redaction (emails / IPv4 / phone numbers), pure regexp codegen
# ---------------------------------------------------------------------------

# applied IN ORDER — emails first (their digits must not look like phones),
# then IPs (dotted digits must not look like phones), then phones; every
# pattern is valid in both Java regex (Spark) and RE2 (the DuckDB oracle)
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d() -]{7,}\d", "<PHONE>"),
]


def pii_redact(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Replace emails, IPv4 addresses, and phone-number-shaped digit runs
    with typed placeholder tokens — the standard scrub pass before a corpus
    becomes training data.

    A chain of ``regexp_replace`` expressions: per-row codegen inside the
    scan stage, no UDF, no shuffle — at 100 TB this runs at scan speed.
    Patterns are deliberately conservative (precision over recall); extend
    ``PII_PATTERNS`` for project-specific identifiers.
    """
    col = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return df.withColumn(out_col, col)


# ---------------------------------------------------------------------------
# Character-level Shannon entropy (gibberish / compression-quality signal)
# ---------------------------------------------------------------------------

def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy over characters, in bits.

    Low entropy flags repeated-character junk and template boilerplate;
    implausibly high entropy flags binary-ish noise — both standard
    pretraining quality filters. Uses H = log2(N) - Σ n_c·log2(n_c) / N so
    every log argument is an integer COUNT (engine-invariant inputs); each
    term is decimal-quantized before the sum so reduction order can't move
    the result. Two map-side-combinable aggregations; the shuffle carries
    (doc, char) partial counts — ∝ corpus bytes, the floor for any
    character statistic.
    """
    chars = df.filter(F.length(text_col) > 0).select(
        id_col, F.explode(F.split(F.col(text_col), "")).alias("ch")
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("n_c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("n_c").alias("n_chars"),
            F.sum(
                (F.col("n_c") * F.log2("n_c")).cast("decimal(28,12)")
            ).alias("_s"),
        )
        .select(
            id_col,
            F.col("n_chars"),
            F.round(
                (
                    F.log2("n_chars").cast("decimal(28,12)")
                    - F.col("_s") / F.col("n_chars")
                ).cast("double"),
                6,
            ).alias("char_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style heuristic quality rules (Rae et al. 2021, public appendix A)
# ---------------------------------------------------------------------------

# the Gopher repetition/quality filter's stop list (public paper value)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 40,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.80,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Per-document Gopher-style quality signals + pass/fail verdict.

    The four public rules a web-scale curation pipeline applies before any
    model-based scoring (word-count window, mean word length window, fraction
    of words containing an alphabetic character, minimum distinct stopword
    hits). Pure built-ins — one narrow map, no shuffle, 100 TB safe; the
    verdict column drives a later filter/partition step.
    """
    d = with_words(df.select(id_col, text_col), text_col).withColumn(
        "_w", F.filter("_words", lambda w: w != F.lit(""))
    )
    n_words = F.size("_w")
    mean_len = F.round(
        F.aggregate(
            "_w", F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).cast("double")
        / n_words.cast("double"),
        4,
    )
    alpha_frac = F.round(
        F.size(F.filter("_w", lambda w: w.rlike("[a-z]"))).cast("double")
        / n_words.cast("double"),
        4,
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct("_w"), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )
    passes = (
        n_words.between(min_words, max_words)
        & mean_len.between(min_mean_word_len, max_mean_word_len)
        & (alpha_frac >= min_alpha_frac)
        & (stop_hits >= min_stop_hits)
    )
    return d.select(
        id_col,
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        passes.alias("passes"),
    )


# ---------------------------------------------------------------------------
# Boilerplate / hot-shingle ratio (CCNet-style line-frequency filtering,
# lifted to n-gram shingles because the corpus has no line structure)
# ---------------------------------------------------------------------------

def boilerplate_ratio(
    df: DataFrame,
    n: int = 3,
    max_doc_freq: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fraction of each document's distinct n-gram shingles that are
    corpus-hot (appear in more than ``max_doc_freq`` documents).

    High ratio ⇒ the document is mostly made of boilerplate phrasing shared
    across the corpus — the n-gram generalization of CCNet's duplicated-line
    filter. Two shuffles total, both carrying 8-byte shingle hashes rather
    than text: explode(distinct hashes) → df-count groupBy, then one join
    back and a per-doc count. Hot-shingle df counts are bounded by
    vocabulary, not corpus size.
    """
    from ..caching import persist_tracked

    from .dedup import shingle_hash_sets

    # three consumers (df-count, the hot join, the final ratio join) — persist
    # so the corpus is shingled once, not three times
    sets = persist_tracked(
        shingle_hash_sets(df.select(id_col, text_col), n, id_col, text_col)
    )
    exploded = sets.select(id_col, "n_sh", F.explode("sh_arr").alias("sh"))
    hot = (
        exploded.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("sh")
    )
    per_doc = (
        exploded.join(hot, "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hot"))
    )
    return (
        sets.select(id_col, "n_sh")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.col("n_sh").cast("long").alias("n_shingles"),
            F.coalesce("n_hot", F.lit(0)).cast("long").alias("n_hot"),
            F.round(
                F.coalesce("n_hot", F.lit(0)).cast("double") / F.col("n_sh").cast("double"),
                4,
            ).alias("boilerplate_ratio"),
        )
    )


def hashed_classifier(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_weights: int = 2001,
) -> DataFrame:
    """Feature-hashed linear text classifier scores — the fastText /
    Vowpal-Wabbit "hashing trick" shape used for cheap quality/domain
    classifiers over web-scale corpora: no vocabulary table, each token's
    weight is addressed by a hash, the document score is the mean token
    weight, and the label is the score's sign.

    The weight function here is a deterministic surrogate (md5-derived
    integer in [-(n_weights-1)/2, +(n_weights-1)/2]) standing in for
    trained weights: with real weights you broadcast a (bucket → weight)
    table and join on ``hash(token) % n_buckets``; the Spark-side shape —
    tokenize, hash, per-document sum, threshold — is identical, and the
    hash surrogate keeps the operator exactly recomputable by the SQL
    oracle (no model file to ship).

    Returns (id, n_tokens, score, label): score = round(Σ w(token) /
    n_tokens, 6) with the sum carried as an exact BIGINT (engine- and
    order-invariant), label = score_sum > 0.

    DAG and 100 TB shape: tokenize → explode → per-document sum/count
    (map-side combinable; the shuffle key is the document id, naturally
    high-cardinality and unskewed). Pure codegen — md5/conv/aggregates are
    all JVM built-ins; no UDF, no vocabulary join, no driver state.
    """
    half = (n_weights - 1) // 2
    words = df.select(
        id_col,
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
        ).alias("w"),
    )
    weight = (
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % n_weights
        - half
    )
    return (
        words.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(weight).alias("_wsum"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.round(F.col("_wsum") / F.col("n_tokens"), 6).alias("score"),
            (F.col("_wsum") > 0).alias("label"),
        )
    )


def hashed_classifier_oracle_sql(table: str = "documents", n_weights: int = 2001) -> str:
    """DuckDB recomputation of ``hashed_classifier`` — same md5-addressed
    weights, same exact integer sum, same rounded mean."""
    half = (n_weights - 1) // 2
    return rf"""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')) AS w
  FROM {table}
),
scored AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(CAST(('0x' || substr(md5(w), 1, 8)) AS UBIGINT) % {n_weights} AS BIGINT) - {half}) AS BIGINT) AS wsum
  FROM words GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(CAST(wsum AS DOUBLE) / n_tokens, 6) AS score,
       wsum > 0 AS label
FROM scored
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Corpus-wide line dedup (CCNet-style boilerplate line removal)
# ---------------------------------------------------------------------------

def line_dedup(
    df: DataFrame,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove lines that repeat across the CORPUS from every document —
    the CCNet/RefinedWeb first-pass cleaner (nav bars, cookie banners,
    license footers repeat verbatim across millions of pages; dropping
    corpus-hot lines removes boilerplate that per-document heuristics
    cannot see).

    A line's dedup key is ``lower(trim(line))``; lines whose key is empty
    (blank / whitespace-only) are structure, not content — never counted,
    always kept. Lines whose key occurs ``>= min_count`` times corpus-wide
    are removed from EVERY document (including the first occurrence, per
    CCNet). Output: one row per input document — the reassembled text
    (original line order), lines kept, lines removed; a document whose
    every line was hot comes back with empty text, not silently dropped
    (the caller decides whether an emptied doc survives).

    NULL text is treated as an empty document (one blank line, kept) — a
    missing field must not produce negative removed-counts or vanish a row.

    100 TB shape: the explode subtree is consumed twice (line-key census
    and the kept-line anti-join) plus one narrow line-count pass — persist
    the input when it is itself a derived frame. Census is a map-side
    combinable shuffle; only the HOT dictionary survives it (bounded by
    corpus redundancy, usually small enough for AQE to broadcast into the
    anti-join); reassembly is one shuffle keyed by document. No UDFs, no
    driver collect.
    """
    text_safe = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        id_col, F.posexplode(F.split(text_safe, "\n")).alias("pos", "line")
    )
    key = F.lower(F.trim(F.col("line")))
    hot = (
        lines.select(key.alias("line_key"))
        .filter(F.col("line_key") != "")
        .groupBy("line_key")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("line_key")
    )
    kept = (
        lines.withColumn("line_key", key)
        .join(hot, "line_key", "left_anti")
        .drop("line_key")
    )
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line,
            ),
            "\n",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    base = df.select(
        id_col, F.size(F.split(text_safe, "\n")).alias("_n_lines")
    )
    return base.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        F.coalesce("n_lines_kept", F.lit(0)).cast("long").alias("n_lines_kept"),
        (F.col("_n_lines") - F.coalesce("n_lines_kept", F.lit(0)))
        .cast("long")
        .alias("n_lines_removed"),
    )


def substring_dedup(
    df: DataFrame,
    min_count: int = 2,
    window: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove every token span covered by a ``window``-token sequence that
    occurs ``>= min_count`` times corpus-wide — exact-substring dedup, the
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") ExactSubstr pass re-expressed for a distributed engine: where
    the paper builds one suffix array over the concatenated corpus, the
    shuffle-native equivalent is a windowed token-gram census. Both find
    exactly the spans of >= ``window`` tokens that repeat (a repeat of
    length L >= window duplicates all L - window + 1 of its windows, so
    window-gram hits reconstruct the full span); spans shorter than
    ``window`` are below the dedup threshold by definition.

    Semantics (single pass, like the paper's):
    - tokens = whitespace split of the raw text (case-SENSITIVE — exact
      duplication means verbatim copies; contrast the lowercased corpus
      contract used by the statistical operators);
    - every occurrence counts toward ``min_count``, including repeats
      within one document (self-repetition is still duplication);
    - ALL covered occurrences are removed (the first too, per Lee et al. —
      training wants the span's frequency reduced to ~0, and any kept-one
      policy is a separate keeplist decision);
    - remaining tokens are rejoined with single spaces (whitespace is
      normalized, the same contract as the tokenizer); a fully-covered or
      NULL document comes back as empty text, not a dropped row;
    - NOT idempotent by design: removal splices new token adjacencies,
      which a second pass may census differently — the paper's semantics
      are one census over the ORIGINAL corpus.

    100 TB shape: one posexplode to (doc, pos, gram-hash) — linear in
    corpus tokens, the same O(n) a suffix array pays, but embarrassingly
    parallel; the census is a map-side-combinable groupBy whose surviving
    HOT dictionary is bounded by corpus redundancy (AQE broadcasts it into
    the semi join when small); duplicated positions fold per document
    (sort + interval-merge in codegen, intervals <= positions/1, typically
    few per doc), and the final token filter costs O(tokens x intervals)
    per doc with merged intervals. Grams shuffle as xxhash64 (8 bytes),
    not token strings; a 2^-64 collision falsely REMOVES a span — the
    conservative direction for dedup (same pattern as the shingle-hash
    operators).
    """
    text_safe = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(text_safe, r"\s+"), lambda w: w != "")
    base = df.select(id_col, toks.alias("_toks")).withColumn(
        "_n", F.size("_toks")
    )

    gram_hashes = F.when(
        F.col("_n") >= window,
        F.expr(
            f"transform(sequence(0, _n - {window}),"
            f" i -> xxhash64(concat_ws(' ', slice(_toks, i + 1, {window}))))"
        ),
    ).otherwise(F.expr("cast(array() as array<bigint>)"))
    pos = base.select(
        id_col, F.posexplode_outer(gram_hashes).alias("pos", "g")
    ).filter(F.col("g").isNotNull())

    hot = (
        pos.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("g")
    )
    dup = (
        pos.join(hot, "g", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("_dups"))
    )

    # merge sorted window-starts into disjoint [s, e) cover intervals —
    # adjacency (p == last.e) merges too, keeping the interval list minimal
    iv = F.aggregate(
        F.coalesce(F.col("_dups"), F.expr("cast(array() as array<int>)")),
        F.expr("cast(array() as array<struct<s:int,e:int>>)"),
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], p + window
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(p.alias("s"), (p + window).alias("e"))))
        ),
    )

    covered = base.join(dup, id_col, "left").withColumn("_iv", iv)
    kept = F.filter(
        "_toks",
        lambda t, i: ~F.exists(
            "_iv", lambda v: (v["s"] <= i) & (i < v["e"])
        ),
    )
    return covered.select(
        id_col,
        F.array_join(kept, " ").alias("text_dedup"),
        F.size(kept).cast("long").alias("n_tokens_kept"),
        (F.col("_n") - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )
