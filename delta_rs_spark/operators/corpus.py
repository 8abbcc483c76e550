"""Corpus-level text statistics: benchmark-contamination rates and global
n-gram frequencies.

Both operators are pure ``pyspark.sql.functions`` compositions over an
exploded n-gram relation — JVM-side, map-side-combinable, exact-SQL-oracle
expressible. They are part of the beyond-the-reference training-data-pipeline
surface (the reference, delta-rs v0, ships no text operators).

Scale notes:
- Contamination joins the corpus's distinct per-doc shingles against the
  benchmark's distinct shingle set on the *shingle string*. At test scale the
  string key keeps the operator bit-identical to the SQL oracle; at 100 TB
  you would key the join on ``xxhash64(shingle)`` so the shuffle carries 8-byte
  keys (the same trade documented on ``exact_dedup``), and/or pre-filter with
  a broadcast Bloom filter of the benchmark set before the exact join.
- ``top_ngrams`` is a classic two-phase aggregation: partial counts map-side,
  one hash shuffle on the n-gram, top-k via ``ORDER BY + LIMIT`` which Spark
  executes as per-partition TakeOrdered + single-driver merge — no global
  sort of the full frequency table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _tokens(text_col: str):
    """The corpus tokenization contract, defined once: lowercase +
    whitespace split, empty tokens dropped. Every corpus operator and its
    DuckDB oracle (``string_split_regex(lower(text), '\\s+')``) must agree
    on this expression.

    ENGINE-PARITY CAVEAT: Java regex ``\\s`` includes U+000B where RE2's
    does not, and Spark/DuckDB ``lower()`` can disagree on non-ASCII case
    folding (e.g. U+0130). The ``*_oracle_sql`` helpers therefore assume an
    ASCII-whitespace / ASCII-case corpus — true of the test tables; a
    production corpus with exotic whitespace should be normalized upstream
    (text.normalize) before these operators.
    """
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != ""
    )


def _shingled(df: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) — every word n-gram occurrence (duplicates preserved)."""
    return (
        df.filter(F.size(F.split(F.lower(F.col(text_col)), r"\s+")) >= n)
        .select(id_col, F.split(F.lower(F.col(text_col)), r"\s+").alias("_w"))
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(_w) - {n}),"
                    f" i -> concat_ws(' ', slice(_w, i + 1, {n})))"
                )
            ).alias("shingle"),
        )
    )


def contamination_rates(
    df: DataFrame,
    benchmark_filter,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document overlap with a benchmark subset's n-gram vocabulary.

    The decontamination primitive of LLM training pipelines: a training
    document whose n-grams heavily overlap an eval benchmark must be dropped.
    ``benchmark_filter`` is a boolean Column selecting the benchmark rows of
    ``df``; every non-benchmark document is scored.

    Returns (id, n_shingles, n_contaminated, contamination_rate) where the
    rate is |distinct shingles ∩ benchmark vocabulary| / |distinct shingles|,
    decimal-quantized so the division is engine-invariant.
    """
    bench_vocab = (
        _shingled(df.filter(benchmark_filter), n, id_col, text_col)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    doc_shingles = _shingled(
        df.filter(~benchmark_filter), n, id_col, text_col
    ).distinct()
    return (
        doc_shingles.join(bench_vocab, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_rate",
            F.round(
                (
                    F.col("n_contaminated").cast("decimal(18,6)")
                    / F.col("n_shingles")
                ).cast("double"),
                6,
            ),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k terms by TF-IDF (smoothed: idf = ln((N+1)/(df+1))).

    Ranking is by the 6-decimal-rounded score with the term string as
    tiebreak: rounding collapses the ≤2-ulp libm differences between
    engines, so the window order (and therefore the selected rows) is
    engine-invariant, while ranks stay honest TF-IDF order.

    DAG (all map-side-combinable aggregations + one windowed top-k):
    explode words → tf per (doc, term) → df per term → join back on term →
    per-doc window top-k. The document count N is a 1-row broadcast, not a
    driver collect. At 100 TB the term-df join is the big shuffle; its key
    space (the vocabulary) is Zipf-skewed, which AQE's skew-join splitting
    handles — and the window is partitioned by document, which is naturally
    high-cardinality."""
    from ..caching import persist_tracked

    words = df.select(
        id_col, F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term")
    )
    # tf feeds the document-frequency counts AND the scoring join: persist
    # so the corpus explode runs once
    tf = (
        words.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(persist_tracked)
    )
    df_w = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        tf.join(df_w, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log((F.col("_n") + 1) / (F.col("df") + 1)), 6),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


def top_ngrams(
    df: DataFrame,
    n: int = 3,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The k most frequent word n-grams corpus-wide (occurrence counts,
    ties broken by the n-gram string for a deterministic result)."""
    return (
        _shingled(df, n, id_col, text_col)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .orderBy(F.col("occurrences").desc(), "shingle")
        .limit(k)
    )


def contamination_rates_bloom(
    spark,
    df: DataFrame,
    benchmark_filter,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits_per_key: int = 16,
    n_probes: int = 6,
) -> DataFrame:
    """`contamination_rates` with a broadcast Bloom prefilter — the 100 TB
    shape. Identical output (the Bloom filter only PRUNES; an exact
    semi-join verifies every surviving candidate, so false positives never
    reach the result).

    Why: the exact form shuffles every distinct corpus shingle into the
    benchmark join. At 100 TB that is the dominant shuffle, yet almost all
    shingles are clean. Here the benchmark vocabulary (bounded: an eval
    suite) is folded into an m-bit Bloom bitset held by the driver and
    embedded as ONE array<bigint> literal; membership is a pure-codegen
    AND of k probe-bit tests, evaluated map-side inside the scan stage.
    Only Bloom-passing shingles (true hits + ~0.04% false positives at
    16 bits/key) enter the broadcast verify join — shuffle volume drops
    from |corpus shingles| to |contaminated + fp|.

    Probe positions are computed IN Spark (``xxhash64(shingle, i)``) for
    both the build and probe sides, so driver and executors can never
    disagree on the hash function.
    """
    bench_vocab = (
        _shingled(df.filter(benchmark_filter), n, id_col, text_col)
        .select("shingle")
        .distinct()
    )
    n_bench = bench_vocab.count()
    m = 1 << max(6, (max(1, n_bench * bits_per_key) - 1).bit_length())

    probe_cols = [
        F.pmod(F.xxhash64("shingle", F.lit(i)), F.lit(m)).alias(f"p{i}")
        for i in range(n_probes)
    ]
    words = [0] * (m // 64)
    for r in bench_vocab.select(*probe_cols).collect():
        for i in range(n_probes):
            b = r[i]
            words[b >> 6] |= 1 << (b & 63)
    # array<bigint> literal wants signed longs
    bits = F.lit([w - (1 << 64) if w >= (1 << 63) else w for w in words])

    member = None
    for i in range(n_probes):
        probe = f"pmod(xxhash64(shingle, {i}), {m}L)"
        test = F.expr(
            f"(shiftright(element_at(_bloom, cast({probe} div 64 as int) + 1), "
            f"cast({probe} % 64 as int)) & 1) = 1"
        )
        member = test if member is None else (member & test)

    doc_shingles = _shingled(
        df.filter(~benchmark_filter), n, id_col, text_col
    ).distinct()
    totals = doc_shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        doc_shingles.withColumn("_bloom", bits)
        .filter(member)
        .drop("_bloom")
        .join(F.broadcast(bench_vocab), "shingle", "left_semi")  # exact verify
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        totals.join(hits, id_col, "left")
        .withColumn("n_contaminated", F.coalesce("n_contaminated", F.lit(0)))
        .withColumn(
            "contamination_rate",
            F.round(
                (
                    F.col("n_contaminated").cast("decimal(18,6)")
                    / F.col("n_shingles")
                ).cast("double"),
                6,
            ),
        )
    )


def unigram_lm_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean token log-probability under a unigram language
    model trained on the corpus itself — the cheap perplexity proxy used to
    quality-filter web text when a real LM is too expensive to run over
    every candidate document (CCNet-style filtering; low ``avg_logprob`` ⇒
    rare-token soup, high ⇒ fluent/common phrasing).

    The model is p(w) = c(w)/N over the corpus's own token counts, so every
    scored token is in-vocabulary by construction (no smoothing term to
    pick). Per document: avg_logprob = (Σ_w tf·ln c(w))/len(doc) − ln N.

    DAG and 100 TB shape: explode → per-(doc, word) counts (map-side
    combinable; the join below therefore carries one row per DISTINCT
    (doc, word), not one per token) → word totals → join tf⟷counts on the
    word. That join's key space is the Zipf-skewed vocabulary — AQE skew
    splitting handles the head; at extreme scale broadcast the top-k head
    vocabulary (it covers most token mass in a few thousand rows, the same
    trade as the contamination Bloom) and shuffle only the tail. N rides as
    a 1-row broadcast, never a driver collect. Each tf·ln c term is
    quantized to DECIMAL(25,9) before the exact sum, so the per-document
    reduction is addition-order- and engine-invariant.
    """
    from ..caching import persist_tracked

    words = df.select(
        id_col, F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    # tf feeds the vocab counts AND the scoring join: persist so the corpus
    # explode runs once (it is distinct-(doc,word)-sized, far below corpus)
    tf = (
        words.groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(persist_tracked)
    )
    cw = tf.groupBy("w").agg(F.sum("tf").alias("c"))
    tot = cw.agg(F.sum("c").alias("n"))
    return (
        tf.join(cw, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col, "n")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum((F.col("tf") * F.log(F.col("c"))).cast("decimal(25,9)")).alias(
                "_lp"
            ),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.round(
                F.col("_lp").cast("double") / F.col("n_tokens") - F.log(F.col("n")),
                6,
            ).alias("avg_logprob"),
        )
    )


def dsir_importance(
    df: DataFrame,
    target_filter,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights: per-document mean log-likelihood
    ratio between a TARGET-domain unigram LM and the RAW-corpus unigram LM
    (Xie et al. 2023, "Data Selection for Language Modeling via Importance
    Resampling" — the public recipe behind domain-matched pretraining
    mixes). Documents whose token distribution looks like the target domain
    get high weights; importance resampling then upweights them.

    ``target_filter`` is a boolean Column selecting the target-domain rows
    of ``df``; every non-target (raw) document is scored. Both LMs are
    add-one smoothed over the JOINT vocabulary V:

        avg_logratio = (Σ_w tf·(ln(c_t(w)+1) − ln(c_r(w)+1))) / n_tokens
                       + ln(N_r+|V|) − ln(N_t+|V|)

    where c_t/c_r are target/raw corpus counts and N_t/N_r the corpus token
    totals. The smoothing constant folds out of the per-term sum, so only
    one DECIMAL(25,9)-quantized term product rides through the aggregation —
    addition-order- and engine-invariant, like ``unigram_lm_scores``.

    DAG and 100 TB shape: one exploded-words pass feeds BOTH vocabularies
    via conditional aggregation (no second scan); per-(doc, word) tf is
    map-side combinable so the vocab join carries one row per DISTINCT
    (doc, word); the join key space is the Zipf-skewed vocabulary (AQE skew
    splitting; broadcast the head vocabulary at extreme scale); the three
    scalars (N_t, N_r, |V|) ride as a 1-row broadcast, never a collect.
    """
    words = df.select(
        id_col,
        target_filter.alias("_t"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    from ..caching import persist_tracked

    # cw feeds the scalar totals AND the scoring join: persist the
    # vocab-sized counts so each corpus pass runs once (cw, tf = the honest
    # two-aggregation minimum; persisting the token-stream-sized `words`
    # would be the wrong trade)
    cw = (
        words.groupBy("w")
        .agg(
            F.sum(F.when(F.col("_t"), 1).otherwise(0)).cast("long").alias("ct"),
            F.sum(F.when(F.col("_t"), 0).otherwise(1)).cast("long").alias("cr"),
        )
        .transform(persist_tracked)
    )
    scalars = cw.agg(
        F.sum("ct").alias("nt"),
        F.sum("cr").alias("nr"),
        F.count(F.lit(1)).alias("v"),
    )
    tf = (
        words.filter(~F.col("_t"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per_doc = (
        tf.join(cw, "w")
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(
                (
                    F.col("tf")
                    * (F.log(F.col("ct") + 1) - F.log(F.col("cr") + 1))
                ).cast("decimal(25,9)")
            ).alias("_s"),
        )
    )
    return per_doc.crossJoin(F.broadcast(scalars)).select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(
            F.col("_s").cast("double") / F.col("n_tokens")
            + F.log(F.col("nr") + F.col("v"))
            - F.log(F.col("nt") + F.col("v")),
            6,
        ).alias("avg_logratio"),
    )


def dsir_importance_oracle_sql(
    table: str = "documents", target_pred: str = "source IN ('src0', 'src1')"
) -> str:
    """DuckDB recomputation of ``dsir_importance`` (same tokenization, same
    DECIMAL(25,9) per-term quantization, same expression shapes so the
    doubles agree at the rounded 6 decimals)."""
    return rf"""
WITH words AS (
  SELECT doc_id, ({target_pred}) AS t,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')) AS w
  FROM {table}
),
cw AS (
  SELECT w,
         CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS cr
  FROM words GROUP BY 1
),
scalars AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM cw
),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM words WHERE NOT t GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       round(CAST(SUM(CAST(tf * (ln(ct + 1) - ln(cr + 1)) AS DECIMAL(25,9)))
                  AS DOUBLE) / SUM(tf)
             + ln(nr + v) - ln(nt + v), 6) AS avg_logratio
FROM tf JOIN cw USING (w) CROSS JOIN scalars
GROUP BY doc_id, nr, nt, v
ORDER BY doc_id
"""


def pmi_bigrams(
    df: DataFrame,
    min_count: int = 5,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Collocation mining: the corpus's top-k adjacent-word bigrams by
    pointwise mutual information, PMI = ln(p(ab) / (p(a)·p(b))) with
    unigram probabilities from the full token stream and bigram
    probabilities from the adjacent-pair stream. The classic
    Church & Hanks (1990) association measure; in a training-data pipeline
    it surfaces boilerplate phrases and template fragments worth
    inspecting, and feeds phrase-aware tokenizer vocabularies.

    A ``min_count`` floor on the bigram count suppresses the
    low-frequency PMI explosion (a pair seen once between two rare words
    maximizes PMI), which is also Church & Hanks' published remedy.

    DAG and 100 TB shape: the unigram and bigram count relations each take
    ONE corpus tokenize+explode pass and are persisted MEMORY_AND_DISK —
    they are vocab-sized, orders of magnitude smaller than the corpus, and
    every downstream consumer (totals N/M, the two vocab joins) reads the
    cached aggregate instead of re-deriving the corpus explode (without the
    persist the lineage re-evaluates: 5 full corpus scans at 100 TB; with
    it, 2 — the honest minimum for two independent aggregations). The
    count-floor filter runs BEFORE the two vocab joins, so the join input
    is the (tiny) frequent-bigram set, not the full bigram vocabulary;
    corpus totals N and M ride as 1-row broadcasts; top-k is ORDER BY +
    LIMIT = per-partition TakeOrdered + driver merge of k rows, never a
    global sort. Every arithmetic term is ln of an exact BIGINT count
    combined in a fixed operation order, so the rounded value is
    engine-invariant (same discipline as ``unigram_lm_scores``).
    """
    from ..caching import persist_tracked

    toks = df.select(_tokens(text_col).alias("_w"))
    cw = (
        toks.select(F.explode("_w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(persist_tracked)
    )
    cb = (
        toks.filter(F.size("_w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_w) - 2),"
                    " i -> struct(_w[i] as w1, _w[i + 1] as w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .transform(persist_tracked)
    )
    totals = cw.agg(F.sum("c").alias("n")).crossJoin(
        cb.agg(F.sum("c_ab").alias("m"))
    )
    return (
        cb.filter(F.col("c_ab") >= min_count)
        .join(cw.select(F.col("w").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(cw.select(F.col("w").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("c_ab"),
            F.round(
                F.log("c_ab")
                - F.log("c_a")
                - F.log("c_b")
                + F.lit(2) * F.log("n")
                - F.log("m"),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top_k)
    )


def pmi_bigrams_oracle_sql(
    table: str = "documents", min_count: int = 5, top_k: int = 50
) -> str:
    """DuckDB recomputation of ``pmi_bigrams`` — same tokenization, same
    adjacent-pair extraction, same fixed-order float expression."""
    return rf"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS ws
  FROM {table}
),
cw AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY 1
),
cb AS (
  SELECT z[1] AS w1, z[2] AS w2, count(*) AS c_ab
  FROM (
    SELECT unnest(list_zip(ws[1:len(ws) - 1], ws[2:len(ws)])) AS z
    FROM toks WHERE len(ws) >= 2
  )
  GROUP BY 1, 2
),
tot AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM cw) AS n,
         (SELECT CAST(SUM(c_ab) AS BIGINT) FROM cb) AS m
)
SELECT cb.w1, cb.w2, CAST(c_ab AS BIGINT) AS c_ab,
       round(ln(c_ab) - ln(a.c) - ln(b.c) + 2 * ln(n) - ln(m), 6) AS pmi
FROM cb
JOIN cw a ON cb.w1 = a.w
JOIN cw b ON cb.w2 = b.w
CROSS JOIN tot
WHERE c_ab >= {min_count}
ORDER BY pmi DESC, w1, w2
LIMIT {top_k}
"""


def source_vocab_overlap(
    df: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus sources — the standard
    first look at how much two crawls/dumps overlap lexically before
    deciding mixture weights (near-identical vocabularies suggest
    duplicated provenance; disjoint ones justify separate mixture slots).

    Output: one row per unordered source pair (s_a < s_b) with the
    distinct-vocabulary sizes, intersection, union, and
    ``round(|A∩B| / |A∪B|, 6)`` — including pairs whose vocabularies are
    fully DISJOINT (inter = 0, jaccard = 0.0): the disjoint case is
    precisely the one that justifies a separate mixture slot, so it must
    be a visible row, not an absence. The pair universe therefore comes
    from the per-source sizes (every s_a < s_b combination), with the
    word-key intersection counts left-joined onto it.

    DAG and 100 TB shape: ONE tokenize+explode pass → DISTINCT
    (source, word) (a map-side-combinable dedup shuffle keyed on the
    word-dominant composite), persisted MEMORY_AND_DISK — it is
    vocab×sources-sized and feeds three consumers (sizes + both sides of
    the self-join), which would otherwise each re-derive the corpus
    explode. The pairwise intersection is a self-join on the WORD key, so
    each word contributes only its own source-pair combinations (sources
    are few — the blowup is |pairs| per word, not |corpus|). The pair
    universe is built driver-side from the collected per-source sizes —
    bounded driver metadata (one row per SOURCE, tens at 100 TB), the
    same class as stats rows; this keeps a cartesian product out of the
    executor plan entirely. Every count is exact BIGINT.

    NOTE: unlike most operators here, construction is EAGER — building the
    pair universe runs one small Spark job (the per-source sizes collect)
    before the lazy result frame is returned. NULL sources are excluded up
    front: a source-less document belongs to no pair (the SQL oracle's
    ``a.s < b.s`` predicate never matches NULL either), and driver-side
    ``sorted()`` over mixed None/str keys would raise.
    """
    from ..caching import persist_tracked

    sv = (
        df.filter(F.col(source_col).isNotNull())
        .select(
            F.col(source_col).alias("s"),
            F.explode(_tokens(text_col)).alias("w"),
        )
        .distinct()
        .transform(persist_tracked)
    )
    # bounded driver metadata: one (source, vocab) row per source
    sizes = sorted(
        (r.s, r.vocab)
        for r in sv.groupBy("s").agg(F.count(F.lit(1)).alias("vocab")).collect()
    )
    pairs = df.sparkSession.createDataFrame(
        [
            (sa, sb, va, vb)
            for i, (sa, va) in enumerate(sizes)
            for sb, vb in sizes[i + 1 :]
        ],
        "s_a string, s_b string, vocab_a long, vocab_b long",
    )
    inter = (
        sv.alias("a")
        .join(sv.alias("b"), "w")
        .filter(F.col("a.s") < F.col("b.s"))
        .groupBy(F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # both sides are pair-cardinality aggregates (tiny); AQE broadcasts the
    # intersection side at runtime — no cartesian anywhere in the plan
    return (
        pairs.join(inter, ["s_a", "s_b"], "left")
        .select(
            "s_a",
            "s_b",
            "vocab_a",
            "vocab_b",
            F.coalesce(F.col("inter"), F.lit(0)).cast("long").alias("inter"),
        )
        .select(
            "s_a",
            "s_b",
            "vocab_a",
            "vocab_b",
            "inter",
            (F.col("vocab_a") + F.col("vocab_b") - F.col("inter")).alias("uni"),
            F.round(
                F.col("inter")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("s_a", "s_b")
    )


def source_vocab_overlap_oracle_sql(table: str = "documents") -> str:
    """DuckDB recomputation of ``source_vocab_overlap``."""
    return rf"""
WITH sv AS (
  SELECT DISTINCT source AS s,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')) AS w
  FROM {table}
),
sizes AS (SELECT s, CAST(count(*) AS BIGINT) AS vocab FROM sv GROUP BY 1),
pairs AS (
  SELECT sa.s AS s_a, sb.s AS s_b, sa.vocab AS vocab_a, sb.vocab AS vocab_b
  FROM sizes sa JOIN sizes sb ON sa.s < sb.s
),
inter AS (
  SELECT a.s AS s_a, b.s AS s_b, CAST(count(*) AS BIGINT) AS inter
  FROM sv a JOIN sv b ON a.w = b.w AND a.s < b.s
  GROUP BY 1, 2
)
SELECT p.s_a, p.s_b, p.vocab_a, p.vocab_b,
       CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
       p.vocab_a + p.vocab_b - coalesce(i.inter, 0) AS uni,
       round(CAST(coalesce(i.inter, 0) AS DOUBLE)
             / (p.vocab_a + p.vocab_b - coalesce(i.inter, 0)), 6) AS jaccard
FROM pairs p
LEFT JOIN inter i ON p.s_a = i.s_a AND p.s_b = i.s_b
ORDER BY p.s_a, p.s_b
"""


# ---------------------------------------------------------------------------
# BPE pair census (tokenizer training, first merge iteration)
# ---------------------------------------------------------------------------

def bpe_pair_counts(
    df: DataFrame, top_k: int = 50, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide adjacent symbol-pair frequencies WITHIN words — the
    census a byte-pair-encoding tokenizer trainer runs every merge
    iteration (the pair with the highest count becomes the next merge).
    This is the distributed inner loop of BPE training: one pass, counts
    exact, ties broken lexicographically so the winning merge is
    deterministic across engines and cluster sizes.

    Distinct from word n-grams (pmi_bigrams / top_ngrams count WORD
    adjacency; this counts CHARACTER adjacency inside words). 100 TB
    shape: tokenize + per-word pair expansion are narrow codegen (split +
    zip_with over character arrays — no UDF, no per-char shuffle); the
    only shuffle is the map-side-combinable pair count, whose key space is
    bounded by the symbol-pair alphabet, not the corpus.
    """
    words = df.select(F.explode(_tokens(text_col)).alias("w")).filter(
        F.length("w") >= 2
    )
    # character array; Spark's split keeps a TRAILING empty element
    # (limit=-1 semantics), so slice bounds come from length(w), not
    # size(cs) — otherwise every word emits a bogus ('last char', '') pair
    cs = F.split(F.col("w"), "(?!^)")
    n = F.length(F.col("w"))
    pairs = F.zip_with(
        F.slice(cs, 1, n - 1),
        F.slice(cs, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        words.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# BPE tokenizer: full training loop + corpus encoding
# ---------------------------------------------------------------------------
#
# Symbol representation shared by train/encode and their SQL oracles: every
# symbol is wrapped as \x01<sym>\x02, words join their symbols with nothing,
# documents join their words with \x03. With wrapped symbols, applying one
# BPE merge (a, b) -> ab is EXACTLY a string replace of "\x01a\x02\x01b\x02"
# with "\x01ab\x02": left-to-right non-overlapping (Java/DuckDB replace
# semantics, verified identical), never matching across a symbol boundary
# (a bare "a b" search could false-match the tail of another symbol, e.g.
# "xa a" contains "a a") and never across a word boundary (\x03 breaks the
# pattern). This is what makes the ITERATIVE training loop and the encode
# chain exactly oracle-expressible in SQL — each round is one census + one
# replace, both engine-parity-safe. ASSUMPTION (documented like the _tokens
# engine-parity caveat): corpus text contains no \x01/\x02/\x03 control
# characters — true of any normal text; normalize upstream if not.

_SOH, _STX, _WB = "\x01", "\x02", "\x03"


def _syms_expr(w):
    """word -> wrapped symbol string \x01c\x02\x01c\x02... (char-initial)."""
    chars = F.slice(F.split(w, "(?!^)"), 1, F.length(w))
    return F.array_join(
        F.transform(chars, lambda c: F.concat(F.lit(_SOH), c, F.lit(_STX))), ""
    )


# bpe_train: compact the lazy replace chain into a persisted frame after
# this many rounds (bounds plan depth at real merge counts; chosen above the
# default n_merges=8 so the default path runs zero extra jobs, and low
# enough that census recompute stays a dozen vocab-sized string maps)
_REMATERIALIZE_EVERY = 12


def bpe_train(
    df: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> list[tuple[str, str, int]]:
    """Full BPE tokenizer training (Sennrich et al. 2016) on the corpus:
    learn ``n_merges`` merges, most-frequent pair first, ties broken
    lexicographically on the wrapped pair key — deterministic across
    engines, partitionings, and cluster sizes.

    Trains on the WORD-FREQUENCY table (the classic formulation): one
    corpus pass builds (word, count), then every round is a pair census +
    one replace over the vocabulary frame — vocab-sized work per merge,
    never corpus-sized. Each census is a map-side-combinable shuffle whose
    key space is the live pair alphabet. The per-round winner is a 1-row
    driver collect (the same bounded-driver-aggregate contract as the
    k-means trainers).

    EAGER-BUILD CONTRACT: runs 1 + n_merges bounded jobs; returns the
    learned merge list [(left, right, count)], the driver-held artifact
    (like IVF centroids / PQ codebooks).

    Job-count discipline (round 12, guide §1.2 "remove unnecessary passes"):
    each round used to persist+count a fully materialized replaced vocab —
    TWO jobs per merge (census + materialization) plus cache churn, and the
    materialization job is pure overhead: the replace is a trivial
    vocab-sized string map. The replaces are now CHAINED lazily on top of
    ONE persisted base vocab, so a round costs exactly its census job
    (round k's census re-applies k literal replaces to the cached vocab —
    linear, vocab-sized, no shuffle). To bound plan depth for real merge
    counts (32k merges would otherwise build a 32k-deep expression chain),
    the chain is compacted back into a persisted frame every
    ``_REMATERIALIZE_EVERY`` rounds — at the default 8 merges that is zero
    extra jobs. Winners, tie-breaks, and counts are bit-identical: the same
    replaces run in the same order, only WHERE they evaluate changed."""
    vocab = (
        df.select(F.explode(_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(_syms_expr(F.col("w")).alias("syms"), "cnt")
    )
    base = vocab.persist()
    cur = base
    chain_depth = 0
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            inner = F.expr("substring(syms, 2, length(syms) - 2)")
            sarr = F.transform(
                F.split(inner, _STX + _SOH),
                lambda s: F.concat(F.lit(_SOH), s, F.lit(_STX)),
            )
            pairs = F.zip_with(
                F.slice(sarr, 1, F.size(sarr) - 1),
                F.slice(sarr, 2, F.size(sarr) - 1),
                lambda a, b: F.concat(a, b),
            )
            top = (
                cur.filter(F.length("syms") > 0)
                .select(F.explode(pairs).alias("pair"), "cnt")
                .groupBy("pair")
                .agg(F.sum("cnt").alias("pcnt"))
                .orderBy(F.col("pcnt").desc(), F.col("pair"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            pair, pcnt = top[0].pair, int(top[0].pcnt)
            left_w, right_w = pair.split(_STX + _SOH)
            merges.append((left_w[1:], right_w[:-1], pcnt))
            cur = cur.select(
                F.replace(
                    F.col("syms"),
                    F.lit(pair),
                    F.lit(pair.replace(_STX + _SOH, "")),
                ).alias("syms"),
                "cnt",
            )
            chain_depth += 1
            if chain_depth >= _REMATERIALIZE_EVERY:
                nb = cur.persist()
                nb.count()  # materialize before dropping the parent cache
                base.unpersist()
                base, cur, chain_depth = nb, nb, 0
    finally:
        base.unpersist()
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple],
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "auto",
) -> DataFrame:
    """Tokenize every document with a learned BPE merge list — the encode
    side of the tokenizer, segmenting every word exactly as training did.
    Output: (id, n_tokens, tokens_str — space-joined in document order).

    Two equivalent execution paths (equivalence fuzz-pinned in
    tests/test_operators.py):

    - ``"codegen"``: the document becomes one wrapped symbol string, each
      merge is one literal ``replace``, and the token list falls out of
      three marker replaces — zero shuffles, zero Python, and exactly
      SQL-oracle-expressible.
      The chain depth is n_merges, so this is for small merge lists.
    - ``"arrow"``: an Arrow-batched ``mapInPandas`` kernel doing
      rank-priority merging (always merge the lowest-rank adjacent pair,
      leftmost first — the GPT-2 ``bpe()`` rescan loop: each of the
      ≤ |word|−1 merge steps rescans the adjacent pairs, so O(|word|²)
      worst case per word, INDEPENDENT of merge-list size; natural-language
      word lengths plus the per-batch word cache make the quadratic term
      immaterial in practice). The production path for real tokenizers
      (32k-100k merges, where a codegen chain cannot compile).

    PRECONDITION for path equivalence (and therefore for ``"auto"``): the
    merge list must be a TRAINED one — i.e. ordered so that each merge's
    two parts are themselves producible by strictly lower-rank merges (the
    invariant `bpe_train` guarantees, because a pair can only win a round
    after its parts exist in the vocabulary). Under that invariant
    rank-priority merging reproduces sequential rank-order application
    exactly (fuzz-pinned). For an ARBITRARY hand-written merge list the
    paths can diverge — e.g. a merge (ab, c) ranked BELOW the merge (a, b)
    that creates its left part: sequential application sees no "ab" symbol
    when it processes rank 0 and yields [ab, c], while rank-priority
    re-examines pairs after every merge and yields [abc]. ``"auto"``
    flips from codegen to arrow at 64 merges, so callers passing untrained
    merge lists must pin ``method`` explicitly.

    ``"auto"`` picks codegen up to 64 merges, arrow past that."""
    if method == "auto":
        method = "codegen" if len(merges) <= 64 else "arrow"
    if method == "arrow":
        return _bpe_encode_arrow(df, merges, id_col, text_col)
    if method != "codegen":
        raise ValueError(f"unknown method {method!r}")
    doc_syms = F.array_join(
        F.transform(_tokens(text_col), lambda w: _syms_expr(w)), _WB
    )
    s = doc_syms
    for mrg in merges:
        left_s, right_s = str(mrg[0]), str(mrg[1])
        s = F.replace(
            s,
            F.lit(_SOH + left_s + _STX + _SOH + right_s + _STX),
            F.lit(_SOH + left_s + right_s + _STX),
        )
    tokens_str = F.trim(
        F.replace(
            F.replace(F.replace(s, F.lit(_STX), F.lit("")), F.lit(_WB), F.lit("")),
            F.lit(_SOH),
            F.lit(" "),
        )
    )
    tokens_str = F.coalesce(tokens_str, F.lit(""))
    return df.select(
        id_col,
        F.when(tokens_str == "", F.lit(0))
        .otherwise(F.size(F.split(tokens_str, " ")))
        .cast("long")
        .alias("n_tokens"),
        tokens_str.alias("tokens_str"),
    )


def _bpe_encode_arrow(
    df: DataFrame, merges: list[tuple], id_col: str, text_col: str
) -> DataFrame:
    """Arrow-batched rank-priority BPE encoder (see `bpe_encode`, including
    the trained-merge-list precondition). The merge-rank dict ships once per
    task in the serialized closure (a 32k merge list is ~1 MB —
    broadcast-variable territory only past millions of merges); within each
    Arrow batch distinct words are encoded once and cached (Zipf makes the
    cache hit rate high on natural text). Per word the kernel is the GPT-2
    rescan loop — every merge step rescans all adjacent pairs, O(|word|²)
    worst case (a heap would make it O(|word|·log|word|), but word lengths
    are small and the cache amortizes repeats, so the constant-factor-free
    rescan wins in practice)."""
    ranks = {(str(m[0]), str(m[1])): i for i, m in enumerate(merges)}
    out_schema = f"{id_col} long, n_tokens long, tokens_str string"

    def encode_batches(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def word_tokens(w: str) -> list[str]:
            got = cache.get(w)
            if got is not None:
                return got
            syms = list(w)
            while len(syms) > 1:
                # lowest-rank adjacent pair, leftmost on ties
                best_rank, best_i = None, -1
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_i = r, i
                if best_rank is None:
                    break
                syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
            cache[w] = syms
            return syms

        for pdf in batches:
            toks = []
            for t in pdf[text_col]:
                if not isinstance(t, str) or not t:
                    toks.append([])
                    continue
                doc: list[str] = []
                for w in t.lower().split():
                    doc.extend(word_tokens(w))
                toks.append(doc)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_tokens": [len(x) for x in toks],
                    "tokens_str": [" ".join(x) for x in toks],
                }
            )

    return df.select(id_col, text_col).mapInPandas(encode_batches, out_schema)
