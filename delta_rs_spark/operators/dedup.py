"""Deduplication operators for large-scale document corpora.

All operators are pure DataFrame compositions (JVM-side, codegen'd) —
including SimHash, whose bit votes run as md5-via-conv expressions with no
Python anywhere in the path. Every hash is derived from deterministic
built-ins (xxhash64 / md5), so results are reproducible across runs and
cluster sizes.

Scale notes (the point of each design):
- exact: one shuffle on the text hash, map-side combine. 100 TB safe.
- n-gram Jaccard: prefix-filtered similarity join (AllPairs/PPJoin) — only
  the Jaccard-threshold prefix of each sorted shingle-hash set enters the
  inverted-index self-join; candidates verified with array_intersect. A
  document-frequency cap optionally drops web-scale hot shingles.
- MinHash LSH: signature matrix computed shuffle-free inside codegen
  (array_min over transform per permutation); candidate generation via
  band-hash buckets, array_intersect verification only on candidates.
- SimHash: 64-bit fingerprints; near-dup candidates via 16-bit band join
  (Hamming ≤ 3 ⇒ at least one of 4 bands equal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1 for the universal-hash permutation family: with
# a, b, h all < 2^31, a*h + b < 2^62 never overflows int64 (Spark runs ANSI)
_MERSENNE = (1 << 31) - 1


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("_words", F.split(F.lower(F.col(text_col)), r"\s+"))


def shingle_hash_sets(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """id → sorted distinct shingle-hash array (`sh_arr`) + size (`n_sh`).

    Built entirely inside whole-stage codegen (split → transform → xxhash64 →
    array_distinct → array_sort); no explode, no shuffle — one narrow map.
    The sort gives every document the same canonical global order, which the
    prefix filter in `ngram_jaccard_pairs` relies on.

    Documents with fewer than ``n`` words have no shingles and are dropped up
    front by a cheap word-count filter (which Catalyst pushes to the scan
    side). Filtering *before* computing the shingle array matters twice over:
    a post-hoc ``size(sh_arr) > 0`` filter gets pushed below the exchange and
    re-evaluates the whole shingle expression on the narrow pre-shuffle side,
    and ``sequence(0, size-n)`` with ``size < n`` would produce a descending
    sequence and an invalid ``slice(_w, 0, ...)``.
    """
    # empty tokens from leading/trailing/repeated whitespace are dropped —
    # they would otherwise mint bogus shingles, making texts that differ
    # only in surrounding whitespace never match (the oracle SQLs filter
    # identically)
    _w = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != ""
    )
    return (
        df.filter(F.size(_w) >= n)
        .select(id_col, _w.alias("_w"))
        .select(
            id_col,
            F.expr(
                f"""
                array_sort(array_distinct(transform(
                  transform(
                    sequence(0, size(_w) - {n}),
                    i -> concat_ws(' ', slice(_w, i + 1, {n}))
                  ),
                  s -> xxhash64(s)
                )))
                """
            ).alias("sh_arr"),
        )
        .withColumn("n_sh", F.size("sh_arr"))
    )


def _verify_candidate_pairs(
    candidates: DataFrame, sets: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Exact Jaccard for (doc_a, doc_b) candidate pairs via array_intersect.

    Cost is proportional to |candidates|, never to the number of co-occurring
    pairs: two id-equi-joins against the per-doc set table, then a codegen'd
    sorted-array intersection per pair.
    """
    sa = sets.select(
        F.col(id_col).alias("doc_a"), F.col("sh_arr").alias("arr_a"), F.col("n_sh").alias("n_a")
    )
    sb = sets.select(
        F.col(id_col).alias("doc_b"), F.col("sh_arr").alias("arr_b"), F.col("n_sh").alias("n_b")
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("arr_a", "arr_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact key; returns the surviving ids + key hash.

    Groups by the md5 of the key columns, NOT the raw columns: the shuffle
    then carries a 32-char key instead of whole documents — for a text-dedup
    over a 100 TB corpus that is the difference between shuffling hashes and
    shuffling the corpus. One hash-shuffle with map-side partial aggregation;
    no sort, no window. (md5 collisions would merge distinct documents; at
    2^-128 per pair this is the standard trade for content-addressed dedup.)
    """
    return (
        df.select(id_col, _key_hash(key_cols).alias("key_hash"))
        .groupBy("key_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "key_hash")
    )


def _key_hash(key_cols: list[str]):
    """md5 over the key columns, NULL-distinguishing: concat_ws silently
    DROPS null arguments, so ('x', NULL) and (NULL, 'x') would collide and
    merge distinct documents — each column coalesces to a sentinel no real
    string column produces (NUL byte). Non-null single-column keys hash
    exactly as md5(col) did before."""
    return F.md5(
        F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key_cols],
        )
    )


# ---------------------------------------------------------------------------
# 2. Exact n-gram Jaccard pairs (inverted index — no n² blowup)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All document pairs with shingle-set Jaccard ≥ threshold (exact result).

    Prefix-filtered similarity join (AllPairs/PPJoin family): under a global
    shingle order, Jaccard(A,B) ≥ t implies |A∩B| ≥ ⌈t·|A|⌉, and two sets with
    overlap ≥ α must collide within their first ``len - α + 1`` elements — so
    only that prefix is exploded and joined. Candidates are then verified with
    a codegen'd ``array_intersect`` (cost ∝ candidates, not co-occurring
    pairs). For t=0.8 the prefix is ~20% of each set: the shuffle carries 5×
    fewer rows and the join output collapses from "every pair sharing any
    shingle" to "pairs sharing a rare-prefix shingle". Lossless — the final
    jaccard filter is exact.

    ``threshold == 0`` degenerates to every co-occurring pair (prefix = whole
    set); ``max_doc_freq`` additionally drops shingles appearing in more than
    that many documents from candidate generation (approximate: web-scale
    hot-key guard; verification still uses full sets).

    The shingle-set table feeds three plan branches (prefix explode + both
    verify sides); it is persisted MEMORY_AND_DISK so the text is shingled
    once, not three times — the standard trade for similarity joins, since
    carrying the set arrays through the candidate shuffle instead would cost
    O(prefix rows × set size) in shuffle bytes.
    """
    from ..caching import persist_tracked

    sets = shingle_hash_sets(df.select(id_col, text_col), n, id_col, text_col)
    sets = persist_tracked(sets)

    # prefix length |A| - ceil(t*|A|) + 1 under the array_sort order;
    # posexplode keeps each prefix element's 0-based position for the
    # position filter below
    prefix = sets.select(
        id_col,
        F.posexplode(
            F.slice(
                "sh_arr",
                F.lit(1),
                F.col("n_sh") - F.ceil(F.lit(float(threshold)) * F.col("n_sh")).cast("int") + 1,
            )
        ).alias("pos", "sh"),
        "n_sh",
    )
    if max_doc_freq is not None:
        freq = prefix.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        prefix = prefix.join(freq.filter(F.col("df") <= max_doc_freq).select("sh"), "sh")

    a = prefix.select(
        F.col(id_col).alias("doc_a"), "sh", F.col("pos").alias("pos_a"), F.col("n_sh").alias("pn_a")
    )
    b = prefix.select(
        F.col(id_col).alias("doc_b"), "sh", F.col("pos").alias("pos_b"), F.col("n_sh").alias("pn_b")
    )
    # PPJoin position filter (lossless): Jaccard ≥ t ⟺ |A∩B| ≥
    # t·(|A|+|B|)/(1+t) =: α. All common elements of a colliding pair sit at
    # positions ≥ (pos_a, pos_b) of its FIRST common element, so that row
    # satisfies min(|A|-pos_a, |B|-pos_b) ≥ |A∩B| ≥ α — and the first common
    # element is always inside both prefixes (the prefix theorem). Rows from
    # LATER shared shingles may fail the bound, but the pair survives through
    # its first-collision row, so filtering each row before the distinct
    # never drops a true pair; it cut candidate volume 2.8× at sf0.1
    # (81,635 → 29,444 pairs entering distinct+verify) and the reduction
    # grows with document size at corpus scale. The 1e-9 slack keeps the
    # double-arithmetic α from ever rounding ABOVE its exact value (slightly
    # more permissive is lossless; stricter would not be).
    alpha = F.lit(float(threshold) / (1.0 + float(threshold))) * (
        F.col("pn_a") + F.col("pn_b")
    ) - F.lit(1e-9)
    candidates = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: t·|A| ≤ |B| ≤ |A|/t is necessary for Jaccard ≥ t
        .filter(
            (F.col("pn_b") >= F.lit(float(threshold)) * F.col("pn_a"))
            & (F.col("pn_a") >= F.lit(float(threshold)) * F.col("pn_b"))
        )
        .filter(
            F.least(
                F.col("pn_a") - F.col("pos_a"), F.col("pn_b") - F.col("pos_b")
            )
            >= alpha
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_candidate_pairs(candidates, sets, threshold, id_col)


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------

def _permutation_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_i(x) = (a_i * x + b_i) mod M, seeded by index (public LCG constants)."""
    params = []
    state = 0x9E3779B97F4A7C15
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state % (_MERSENNE - 1)) or 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % _MERSENNE
        params.append((a, b))
    return params


def _signatures_from_sets(sets: DataFrame, num_perm: int) -> DataFrame:
    """Attach `signature` (array<long>, length num_perm) to a shingle-set table.

    Entirely JVM-side: per permutation i, a single left fold
    ``aggregate(h, M, (acc, x) -> least(acc, (a_i*x + b_i) mod M))`` over the
    per-doc hash array — zero shuffles and zero exploded rows (an explode +
    groupBy formulation would shuffle |docs|×|shingles| rows at 100 TB).
    The fold form computes each minimum in ONE pass with no intermediate
    array; the previous ``array_min(transform(...))`` shape allocated and
    re-scanned a hash-set-sized array per permutation (2 passes + 1 alloc
    × num_perm per document). Identical output: min over a transformed set
    == fold with ``least``, and every pmod result is < M, so the M seed
    never survives a non-empty array (shingle sets are non-empty by the
    ``size >= n`` filter upstream).
    """
    mins = ", ".join(
        f"aggregate(_hm, {_MERSENNE}L, (acc, x) -> "
        f"least(acc, pmod(x * {a}L + {b}L, {_MERSENNE}L)))"
        for a, b in _permutation_params(num_perm)
    )
    return sets.withColumn(
        "_hm", F.expr(f"transform(sh_arr, x -> pmod(x, {_MERSENNE}L))")
    ).withColumn("signature", F.expr(f"array({mins})")).drop("_hm")


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 64,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """id → array<long> MinHash signature, computed without any shuffle."""
    sets = shingle_hash_sets(df.select(id_col, text_col), n, id_col, text_col)
    return _signatures_from_sets(sets, num_perm).select(id_col, "signature")


def minhash_lsh_dedup(
    df: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact Jaccard.

    Candidate pairs come from equal band hashes (bands × rows = num_perm);
    only candidates are verified — exact Jaccard via array_intersect on the
    per-doc sorted shingle-hash sets — so every post-signature step is
    proportional to band collisions, never to co-occurring pairs or n².
    """
    rows_per_band = num_perm // bands
    from ..caching import persist_tracked

    # persisted WITH the signature column: the cached frame feeds the band
    # explode on BOTH sides of the candidate self-join and both verify sides.
    # Persisting only the shingle sets (the pre-round-11 shape) left the
    # num_perm-fold signature expression dangling above the cache — Spark
    # re-evaluated it once per self-join side (measured: the two signature
    # Projects were ~70% of the query's task time at sf0.1). The columnar
    # cache prunes unread columns, so the verify branches still read only
    # (id, sh_arr, n_sh) and the band branches only (id, signature).
    sets = persist_tracked(
        _signatures_from_sets(
            shingle_hash_sets(df.select(id_col, text_col), n, id_col, text_col),
            num_perm,
        )
    )
    sig = sets.select(id_col, "signature")

    # one SQL string, one parse: the Column-API formulation (bands × struct/
    # lit/getItem calls) cost hundreds of py4j round trips per DataFrame
    # build — pure driver overhead the bench pays on every invocation
    band_cols = F.expr(
        "explode(array({}))".format(
            ", ".join(
                "named_struct('band', {}, 'bh', xxhash64({}))".format(
                    bi,
                    ", ".join(
                        f"signature[{bi * rows_per_band + r}]"
                        for r in range(rows_per_band)
                    ),
                )
                for bi in range(bands)
            )
        )
    ).alias("bb")
    banded = sig.select(id_col, band_cols).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "bh")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "bh")
    candidates = (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    return _verify_candidate_pairs(candidates, sets, threshold, id_col)


# ---------------------------------------------------------------------------
# 4. SimHash (pure codegen — no Python anywhere in the path)
# ---------------------------------------------------------------------------

def simhash64(text_col) -> "F.Column":
    """64-bit SimHash over word tokens, md5-based (stable across processes),
    computed entirely in whole-stage codegen.

    Per row: tokenize, hash each word's md5 hex prefix into a 64-bit value
    (two 32-bit halves via ``conv`` — each half fits a signed long), fold the
    words into a 64-slot ±1 vote vector with ``aggregate``/``zip_with``, and
    pack ``votes > 0`` into a long with bitwise-or of shifted bits (shifts
    wrap bitwise, so bit 63 never trips ANSI overflow). Bit-identical to the
    previous Arrow-batched pandas UDF, but JVM-side — no Python workers, no
    Arrow transfer, and the expression pipelines inside the scan stage.
    """
    words = f"filter(split(lower({text_col}), '\\\\s+'), w -> w != '')"
    hashes = (
        f"transform({words}, w -> struct("
        "cast(conv(substr(md5(w), 1, 8), 16, 10) as bigint) as hi, "
        "cast(conv(substr(md5(w), 9, 8), 16, 10) as bigint) as lo))"
    )
    votes = (
        f"aggregate({hashes}, array_repeat(0, 64), (acc, h) -> "
        "zip_with(acc, sequence(0, 63), (v, j) -> v + "
        "CASE WHEN (CASE WHEN j < 32 THEN shiftright(h.lo, j) "
        "ELSE shiftright(h.hi, j - 32) END & 1) = 1 THEN 1 ELSE -1 END))"
    )
    # pack: or-together shiftleft(1, j) for every positive-vote bit
    fp = (
        "aggregate(zip_with(__votes__, sequence(0, 63), (v, j) -> "
        "CASE WHEN v > 0 THEN shiftleft(cast(1 as bigint), j) "
        "ELSE cast(0 as bigint) END), cast(0 as bigint), (acc, x) -> acc | x)"
    ).replace("__votes__", votes)
    return F.coalesce(F.expr(fp), F.lit(0).cast("long"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming.

    Pigeonhole banding: split 64 bits into max_hamming+1 bands; distance ≤ k
    forces at least one identical band, so the join runs on band equality and
    only collisions get the exact popcount check.
    """
    n_bands = max_hamming + 1
    width = 64 // n_bands

    from ..caching import persist_tracked

    # persisted: the fingerprint table (16 bytes/doc) feeds the band explode
    # on BOTH sides of the candidate self-join; without the cache the
    # O(words × 64) vote-fold expression is evaluated twice per document
    # (once per join side) — the same double-evaluation the minhash path
    # fixes by persisting its signatures
    fp = persist_tracked(df.select(id_col, simhash64(text_col).alias("fp")))
    bands = fp.select(
        id_col,
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned(F.col("fp"), bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bh"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "fp", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    a = bands.select(F.col(id_col).alias("doc_a"), F.col("fp").alias("fp_a"), "band", "bh")
    b = bands.select(F.col(id_col).alias("doc_b"), F.col("fp").alias("fp_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# 5. Embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.985,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    dim: int = 64,
) -> DataFrame:
    """Pairs of vectors with cosine similarity ≥ threshold.

    ``method="auto"`` (default) picks the scale path by threshold:

    - ≥ 0.7 → ``"lsh"``: banded sign-LSH candidate generation + exact
      cosine verify (`similarity.lsh_bucketed_pairs`). All equi-joins;
      candidate volume ∝ bucket density; banding derived from the
      threshold so the per-pair miss probability is below 1e-9
      (deterministic hyperplanes — pinned equal to brute force by
      tests/test_operators.py::test_lsh_bucketed_pairs_high_threshold_near_dups).
    - < 0.7 → ``"block"``: blocked exact GEMM pairs
      (`similarity.blocked_exact_pairs`). At low thresholds the sign-LSH
      bit-agreement gap collapses (p_bit = 1 − θ/π → 0.5) and hitting the
      miss floor makes nearly every pair a candidate — the honest cost is
      Θ(n²/B) block I/O, so the right plan pays it at BLAS speed instead
      of as an equi-join explosion (measured 30× at test scale).

    Both are exact (identical output); ``method="brute"`` keeps the O(n²)
    codegen cross join as the test oracle."""
    if method == "auto":
        method = "lsh" if threshold >= 0.7 else "block"
    if method == "lsh":
        from .similarity import lsh_bucketed_pairs

        return lsh_bucketed_pairs(
            df, threshold, id_col=id_col, vec_col=vec_col, dim=dim
        )
    if method == "block":
        from .similarity import blocked_exact_pairs

        return blocked_exact_pairs(df, threshold, id_col=id_col, vec_col=vec_col)
    if method != "brute":
        raise ValueError(
            f"unknown method {method!r} (expected 'auto', 'lsh', 'block' or 'brute')"
        )
    norm = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)),
    ).filter(  # degenerate (zero/NaN/Inf-norm) vectors: see similarity._with_norm
        (F.col("nrm") > 0) & (F.col("nrm") < F.lit(float("inf")))
    )
    a = norm.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = norm.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                F.aggregate(
                    F.zip_with("va", "vb", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("na") * F.col("nb")),
                4,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Incremental dedup-index maintenance (CDF + txn watermark)
# ---------------------------------------------------------------------------

def update_dedup_index(
    spark,
    corpus_table,
    index_uri: str,
    key_cols: list[str] | None = None,
    id_col: str = "doc_id",
    app_id: str = "exact-dedup-index",
    compact_threshold_files: int | None = None,
) -> dict:
    """Incrementally maintain an exact-dedup index over a growing corpus.

    ``compact_threshold_files``: each refresh appends one small file; when
    set, a refresh leaving the index with more files than the threshold
    runs OPTIMIZE in the same call (``compacted`` in the returned
    metrics).

    The index is itself a Delta table of ``(key_hash, doc_id)`` — one row per
    distinct content hash, keeping the first (lowest-id) document seen. Each
    call processes ONLY the corpus rows inserted since the last run:

    1. The last-processed corpus version is read from the index table's
       ``txn`` watermark (the reference's exactly-once mechanism,
       ``rust/src/delta.rs:863-866`` / E7) — crash-safe because the watermark
       commits atomically WITH the index rows it covers.
    2. New rows come from the corpus change feed (cdf.py) for the unprocessed
       version range — work is proportional to what changed, never corpus size.
    3. Batch-internal dups collapse in one hash-shuffle; cross-batch dups are
       a left-anti join against the index on ``key_hash`` (broadcast or
       shuffled hash join, Catalyst/AQE decide by size).

    Returns metrics: versions processed, rows seen, new keys added, duplicate
    rows detected. Re-running with nothing new is a watermark-check no-op.
    New content arrives as CDF ``insert`` rows AND ``update_postimage`` rows
    (an UPDATE introduces content just like an insert; missing it would let
    a later exact duplicate of the updated text slip through). The index
    grows one-way: deletes are ignored and an updated document's OLD hash
    stays indexed (stale entries are harmless for dedup; rebuild to
    reclaim).
    """
    from ..cdf import load_cdf
    from ..protocol.actions import TxnAction
    from ..protocol.snapshot import NotATableError
    from ..table import DeltaTable
    from ..writer import write_deltalake

    key_cols = key_cols or ["text"]
    corpus_version = corpus_table.version

    index = None
    last: int | None = None
    try:
        index = DeltaTable(index_uri)
        last = index.get_app_transaction_version(app_id)
    except NotATableError:
        pass

    start = 0 if last is None else last + 1
    if start > corpus_version:
        return {
            "processed_versions": 0,
            "rows_seen": 0,
            "new_keys": 0,
            "duplicate_rows": 0,
            "corpus_version": corpus_version,
            "compacted": False,
        }

    changes = load_cdf(
        spark, corpus_table, starting_version=start, ending_version=corpus_version
    )
    fresh_content = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    )
    hashed = fresh_content.select(
        _key_hash(key_cols).alias("key_hash"),
        F.col(id_col).alias("doc_id"),
    )

    if index is not None:
        existing = index.to_df(spark, columns=["key_hash"])
        fresh = hashed.join(existing, "key_hash", "left_anti")
    else:
        fresh = hashed

    # cached: the metrics collect and the index write both execute this
    # lineage (CDF read -> hash -> anti join -> groupBy); without the cache
    # the whole incremental pass runs twice per refresh
    new_unique = (
        fresh.groupBy("key_hash").agg(F.min("doc_id").alias("doc_id")).cache()
    )
    try:
        stats = (
            hashed.agg(
                F.count(F.lit(1)).alias("rows_seen"),
            )
            .crossJoin(new_unique.agg(F.count(F.lit(1)).alias("new_keys")))
            .collect()[0]
        )
        rows_seen, new_keys = stats["rows_seen"], stats["new_keys"]
        duplicate_rows = rows_seen - new_keys

        import time as _time

        txn = TxnAction(
            app_id=app_id, version=corpus_version, last_updated=int(_time.time() * 1000)
        )
        write_deltalake(
            spark,
            new_unique.select("key_hash", "doc_id"),
            index_uri,
            mode="append",
            extra_actions=[txn],
            operation="STREAMING UPDATE",
            operation_parameters_extra={"appId": app_id, "corpusVersion": corpus_version},
        )
    finally:
        new_unique.unpersist()
    compacted = False
    if compact_threshold_files is not None:
        idx_t = DeltaTable(index_uri)
        if len(idx_t.files()) > compact_threshold_files:
            idx_t.optimize(spark)
            compacted = True
    return {
        "processed_versions": corpus_version - start + 1,
        "rows_seen": rows_seen,
        "new_keys": new_keys,
        "duplicate_rows": duplicate_rows,
        "corpus_version": corpus_version,
        "compacted": compacted,
    }


# ---------------------------------------------------------------------------
# 7. Semantic dedup keep-list (SemDeDup-style, over embeddings)
# ---------------------------------------------------------------------------

def semantic_keeplist(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    n_list: int = 8,
    n_probe: int = 3,
    iters: int = 2,
) -> DataFrame:
    """Ids surviving SEMANTIC near-duplicate removal: vectors whose cosine
    similarity ≥ threshold form duplicate clusters; each cluster keeps its
    minimum id, everything unclustered passes through.

    The embedding analogue of the text keep-list (SemDeDup-family pipeline
    step): pairs → clusters via min-label propagation → survivors via one
    size-adaptive anti join — the loser set scales with duplicates found
    (a constant fraction of the corpus at a fixed dup rate), so the join is
    deliberately unhinted and AQE picks broadcast vs shuffle at runtime.

    ``method`` picks the pair-enumeration path:

    - ``"exact"`` (default): `embedding_cosine_pairs` — banded sign-LSH at
      high thresholds, corpus-wide blocked GEMM below 0.7. Exact, but the
      low-threshold path is Θ(n²) compute: correct up to ~10⁷ vectors,
      unrunnable at 100×.
    - ``"clustered"``: SemDeDup's own scale recipe — k-means partition the
      corpus (`similarity.clustered_exact_pairs`), enumerate pairs only
      within clusters (multi-probed by ``n_probe`` to recover boundary
      pairs). Work ∝ n²·n_probe²/n_list, so n_list scaled with corpus size
      keeps per-cluster work bounded. Every surviving pair is exactly
      scored; the contract traded away is pair RECALL (floor pinned vs the
      exact keeplist in tests/test_recall.py). At ``n_probe = n_list`` the
      pair set — and so the keeplist — provably equals the exact path
      (pinned by
      tests/test_recall.py::test_clustered_pairs_probe_all_equals_exact).
    """
    from .clustering import connected_components

    if method == "exact":
        pairs = embedding_cosine_pairs(
            emb, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    elif method == "clustered":
        from .similarity import clustered_exact_pairs

        pairs = clustered_exact_pairs(
            emb,
            threshold=threshold,
            n_list=n_list,
            n_probe=n_probe,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
        )
    else:
        raise ValueError(f"unknown method {method!r} (expected 'exact' or 'clustered')")
    comp = connected_components(pairs, src_col="id_a", dst_col="id_b")
    losers = comp.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    # Deliberately unhinted anti join: the losers frame is every duplicate
    # id — at a fixed dup rate a constant FRACTION of the corpus (10⁸-10⁹
    # ids at 100 TB), so a forced broadcast is a driver-OOM plan. AQE
    # broadcasts while small and shuffles once it isn't; plan-gated by
    # tests/test_plan_quality.py::test_keeplist_anti_joins_are_unhinted.
    return emb.select(id_col).join(losers, id_col, "left_anti")


def semantic_keeplist_collapsed(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kw,
) -> DataFrame:
    """`semantic_keeplist` with the Θ(c²) degeneracy guard built in:
    collapse EXACT-duplicate vectors first (one shuffle keyed on the vector
    bytes — the same plan as `exact_dedup`), run the semantic keeplist over
    the per-group keepers only, and every collapsed copy is a loser by
    construction.

    PROVABLY equal to ``semantic_keeplist(emb, ...)``:

    - identical non-zero vectors have round-4 cosine exactly 1.0 ≥ θ, so an
      exact-dup group is a clique in the pair graph — only its min id can
      ever survive, and that min id IS the group's keeper;
    - any cross-group pair scores identically to its keepers' pair (the
      vectors are byte-equal), so the keeper graph is the exact quotient of
      the full graph and component minima coincide (each keeper is its
      group's minimum);
    - DEGENERATE vectors — zero norm, NULL, NULL elements, NaN/Inf
      elements — bypass the collapse and pass through, matching the
      uncollapsed keeplist, whose pair paths exclude every vector without
      a finite positive norm (`similarity._with_norm`; the numpy GEMM
      path agrees: NaN comparisons are false). The predicate below is the
      same finite-positive-norm² test, NULL-coalesced to NOT-collapsible:
      grouping such rows (Spark's groupBy treats NaN = NaN and NULL =
      NULL) would delete copies the uncollapsed path keeps — the silent-
      data-loss class ADVICE r9 flagged for the NULL case.

    WHY it exists: the one-shot keeplist materializes Θ(c²) pairs for a
    duplicate cluster of size c. Real
    corpora carry boilerplate clusters of 10⁵-10⁷ byte-identical documents;
    collapsing them first reduces c to the count of DISTINCT near-duplicate
    variants, which is what the quadratic residual should be spent on.
    Pinned equal to the uncollapsed path on a corpus with a degenerate
    exact-dup cluster in tests/test_operators.py."""
    sq = F.aggregate(
        F.col(vec_col).cast("array<double>"),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    nonzero = F.coalesce(
        (sq > F.lit(0.0)) & (sq < F.lit(float("inf"))), F.lit(False)
    )
    keepers = (
        emb.filter(nonzero)
        .groupBy(vec_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, vec_col)
    )
    keep = semantic_keeplist(
        keepers, threshold=threshold, id_col=id_col, vec_col=vec_col, **kw
    )
    return keep.unionByName(emb.filter(~nonzero).select(id_col))


def keeplist_by_score(
    df: DataFrame,
    pairs: DataFrame,
    score,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Ids surviving near-duplicate removal where each duplicate cluster
    keeps its BEST member by ``score`` (a Column over ``df``; ties break to
    the smallest id) — the keep-longest / keep-highest-quality policy most
    curation pipelines actually want (min-id keeps whichever shard arrived
    first; score-keep preserves the most complete copy).

    Same scale shape as the min-id keep-list: clusters from min-label
    propagation over the pair graph, per-cluster argmax as one
    max(struct(score, -id)) aggregate (no window over the corpus — the
    shuffle is cluster-count-sized), survivors via one size-adaptive anti
    join whose build side scales with duplicates found — unhinted, so AQE
    decides broadcast vs shuffle from the runtime sizes.

    NULL scores rank below every non-NULL score (Spark struct ordering
    puts NULL fields lowest; equal NULLs fall through to the -id
    tiebreaker), so an all-NULL cluster still collapses to its minimum id
    rather than surviving whole — pinned by
    tests/test_operators.py::test_keeplist_by_score_null_scores_still_collapse.
    """
    from .clustering import connected_components

    comp = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    scored = comp.join(
        df.select(F.col(id_col).alias("node"), score.alias("_s")), "node"
    )
    winners = scored.groupBy("cluster_id").agg(
        (-F.max(F.struct(F.col("_s"), (-F.col("node")).alias("negid"))).negid)
        .alias("winner")
    )
    # Both joins deliberately unhinted: winners is cluster-count-sized and
    # losers duplicate-count-sized — both scale as a constant fraction of
    # the corpus at a fixed dup rate, so forced broadcasts are driver-OOM
    # plans at the 100 TB the docstring advertises. AQE picks broadcast
    # while the runtime sizes are small and shuffled equi-joins once they
    # are not (gated: test_keeplist_anti_joins_are_unhinted).
    losers = (
        scored.join(winners, "cluster_id")
        .filter(F.col("node") != F.col("winner"))
        .select(F.col("node").alias(id_col))
    )
    return df.select(id_col).join(losers, id_col, "left_anti")
