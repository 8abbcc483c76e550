"""Similarity search over embedding columns (array<float>).

The index ladder, as a 100 TB engine needs:
- ``cosine_topk``: exact brute force — the baseline and the oracle-checkable
  form. Dot products in whole-stage codegen (`zip_with` + `aggregate`).
- ``lsh_topk``: random-hyperplane (sign) LSH — bucket join + exact rerank
  inside buckets; candidate count scales with bucket density, not n².
  Hyperplanes are derived from deterministic hashes so every run/cluster
  produces identical buckets.
- ``ivf_topk``: inverted-file (IVF) index — spherical k-means coarse
  quantizer trained with driver-held centroids (the corpus is never
  collected; each Lloyd iteration is one distributed pass, exactly the
  MLlib k-means execution shape), then probe the ``n_probe`` nearest lists
  per query and rerank exactly inside them. Work per query scales with
  n·n_probe/n_list instead of n².
- ``quantized_topk``: scan compression — int8 scalar quantization (4x
  fewer candidate-scan bytes) with an exact rerank.
- Pair enumeration for dedup: ``blocked_exact_pairs`` (exact corpus-wide
  GEMM, honest Θ(n²)) and ``clustered_exact_pairs`` (k-means partition,
  exact pairs within clusters — the low-threshold path that survives
  100×), plus ``random_projection`` to shrink everything upstream.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _with_norm(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    # DEGENERATE vectors (failed embeds) are EXCLUDED: a zero norm makes
    # cosine 0.0/0.0 = NaN, and Spark sorts NaN above every double — a
    # single such vector would otherwise rank as every query's #1 neighbor
    # (and NaN >= threshold is TRUE, so pair filters would pass it too).
    # The same argument covers NaN/Inf ELEMENTS: their norm is NaN/Inf,
    # and because Spark orders NaN GREATER than everything, `norm > 0`
    # alone would leak exactly the vectors the filter exists to stop —
    # `norm < inf` closes it (NaN < inf and inf < inf are both false).
    # NULL elements make the norm NULL, which no comparison passes.
    return (
        df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).cast("array<double>").alias(f"{prefix}_v"),
        )
        .withColumn(
            f"{prefix}_norm",
            F.sqrt(F.aggregate(f"{prefix}_v", F.lit(0.0), lambda acc, x: acc + x * x)),
        )
        .filter(
            (F.col(f"{prefix}_norm") > 0)
            & (F.col(f"{prefix}_norm") < F.lit(float("inf")))
        )
    )


def _cosine(va, vb, na, nb):
    return F.aggregate(F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x) / (
        na * nb
    )


def _two_phase_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-k per query without any reducer ever seeing O(n) rows for one
    query key: phase 1 ranks within (q_id, input partition) — the shuffle
    key carries the partition id, so a query scored against the whole
    corpus spreads over all reducers — and keeps ≤k rows per (query,
    partition); phase 2 ranks the reduced set (≤ k·#partitions rows per
    query). Any row phase 1 drops is dominated by ≥k better rows in its own
    partition, so the final top-k — and its tiebreak order — is identical
    to a single global window."""
    w1 = W.partitionBy("q_id", "_pid").orderBy(F.col("cosine").desc(), F.col("c_id"))
    w2 = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prank", F.row_number().over(w1))
        .filter(F.col("_prank") <= k)
        .drop("_pid", "_prank")
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "cosine",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def _screened_topk(scored: DataFrame, cosine_expr, k: int, keep: int) -> DataFrame:
    """Tail of the screen-then-rerank operator (`quantized_topk`):
    keep the top ``keep`` candidates per query by the approximate
    ``qscore`` (two-phase windows — no reducer sees O(corpus) rows for one
    query), then rank the survivors by the EXACT ``cosine_expr`` (rounded
    to 6 digits, id tiebreak — the same ordering contract as
    :func:`cosine_topk`, so approximate paths never disagree with the
    exact baseline on a shared pair)."""
    w1 = W.partitionBy("q_id", "_pid").orderBy(F.col("qscore").desc(), F.col("c_id"))
    w2 = W.partitionBy("q_id").orderBy(F.col("qscore").desc(), F.col("c_id"))
    cand = (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_pr", F.row_number().over(w1))
        .filter(F.col("_pr") <= keep)
        .drop("_pid", "_pr")
        .withColumn("_qr", F.row_number().over(w2))
        .filter(F.col("_qr") <= keep)
        .drop("_qr")
    )
    w3 = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        cand.withColumn("cosine", F.round(cosine_expr, 6))
        .withColumn("rank", F.row_number().over(w3))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "cosine",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (excluding self).

    Ranking uses the cosine rounded to 6 digits with id tiebreak, so the
    result is well-defined even under float reassociation.
    """
    c = _with_norm(corpus, id_col, vec_col, "c")
    q = _with_norm(queries, id_col, vec_col, "q")
    # broadcast the QUERY side: it is bounded by construction (a probe set),
    # while the corpus can be 100 TB — each executor scans its corpus
    # partitions once against the in-memory query block
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "cosine",
            F.round(_cosine(F.col("q_v"), F.col("c_v"), F.col("q_norm"), F.col("c_norm")), 6),
        )
    )
    return _two_phase_topk(scored, k)


def _hyperplane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5 bits (seeded by plane index)."""
    planes = []
    for p in range(n_planes):
        bits: list[int] = []
        counter = 0
        while len(bits) < dim:
            h = hashlib.md5(f"plane-{p}-{counter}".encode()).digest()
            for byte in h:
                for k in range(8):
                    bits.append(1 if (byte >> k) & 1 else -1)
            counter += 1
        planes.append(bits[:dim])
    return planes


def _unit(df: DataFrame, prefix: str) -> DataFrame:
    """L2-normalize `{prefix}_v` (dropping zero vectors) so cosine == dot."""
    return df.filter(F.col(f"{prefix}_norm") > 0).withColumn(
        f"{prefix}_v",
        F.transform(f"{prefix}_v", lambda x: x / F.col(f"{prefix}_norm")),
    )


def _dot(va, vb):
    return F.aggregate(F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)


def _flit(x: float) -> str:
    """Shortest-repr double literal in SQL text (parses to Literal(x,
    DoubleType) — `repr` round-trips doubles exactly)."""
    return repr(float(x)) + "D"


def _assign_lists(
    vectors: DataFrame, cents: list[list[float]], prefix: str, n_probe: int
) -> DataFrame:
    """Attach the top-``n_probe`` centroid list ids per vector.

    The centroids are driver-held literals, so assignment is a pure codegen
    map: an array of ``n_list`` dot products per row, sorted as
    (-dot, list_id) structs, sliced, exploded. Zero joins, zero shuffles —
    the old formulation (cross join + row_number window) shuffled
    n·n_list rows just to pick each vector's nearest lists. Ties break to
    the smallest list_id, matching the previous ordering.
    """
    # SQL-text dot array (round 12): the Column form built n_list
    # aggregate(zip_with(...)) trees with dim literals each through py4j —
    # pure driver construction chatter re-paid per call; one parsed SQL
    # string does identical arithmetic in identical order, so the doubles
    # are bit-equal)
    dots = F.expr(
        "array("
        + ", ".join(
            f"aggregate(zip_with({prefix}_v,"
            " array(" + ", ".join(_flit(x) for x in c) + "),"
            " (x, y) -> x * y), 0.0D, (a, x) -> a + x)"
            for c in cents
        )
        + ")"
    )
    pick = f"""
        transform(
          slice(
            array_sort(transform(sequence(0, {len(cents) - 1}),
              i -> struct(-element_at(_dots, i + 1) AS nd, i AS list_id))),
            1, {min(n_probe, len(cents))}),
          s -> s.list_id)
    """
    return (
        vectors.withColumn("_dots", dots)
        .withColumn("list_id", F.explode(F.expr(pick)))
        .drop("_dots")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_list: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """k-means coarse quantizer over unit vectors.

    Centroids are plain Lloyd means of the unit-normalized corpus (NOT
    re-normalized — strict spherical k-means would renormalize, but the
    same unnormalized centroids score BOTH corpus assignment and query
    probing, so the norm bias cancels between the two sides; empirically
    this variant measures slightly higher recall at the pinned
    n_probe/n_list than the renormalized form, see tests/test_recall.py).
    Centroids (n_list × dim doubles — a few KB) live on the driver, like
    MLlib's k-means; every Lloyd iteration is one distributed pass over the
    corpus (codegen literal-centroid assignment + per-dimension mean via
    posexplode, which scales to any dim without a dim-wide agg). Seeds are
    the n_list corpus vectors with the smallest xxhash64(id) — deterministic
    across runs and cluster sizes.
    """
    # persisted for the trainer's lifetime: seeds + every Lloyd iteration
    # read the SAME unit-normalized projection — without the cache each of
    # the 1 + iters bounded jobs re-scans the corpus and re-evaluates the
    # norm/unit folds. Training is fully eager (every consumer collects
    # inside this function), so the cache is released before returning.
    c = _unit(_with_norm(corpus, id_col, vec_col, "c"), "c").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        seeds = (
            c.orderBy(F.xxhash64(F.col("c_id")), F.col("c_id"))
            .limit(n_list)
            .select("c_v")
            .collect()
        )
        if not seeds:
            # an empty (or all-degenerate) corpus has nothing to seed from —
            # raise the contract violation instead of returning [] and letting
            # a downstream scorer fail obscurely (persisted-index creation
            # guards this case itself and DEFERS instead)
            raise ValueError(
                "cannot train IVF centroids: corpus has no finite nonzero vectors"
            )
        cents = [list(r.c_v) for r in seeds]
        for _ in range(iters):
            assigned = _assign_lists(c, cents, "c", 1)
            means = (
                assigned.select("list_id", F.posexplode("c_v").alias("pos", "val"))
                .groupBy("list_id", "pos")
                # order-insensitive mean: quantize to DECIMAL, sum exactly,
                # divide — float avg() would make the trained centroids (and so
                # the list assignment) vary with shuffle reduction order, and
                # the determinism contract is pinned by tests/test_recall.py
                .agg(
                    (
                        F.sum(F.col("val").cast("decimal(25,12)"))
                        / F.count(F.lit(1))
                    )
                    .cast("double")
                    .alias("m")
                )
                .groupBy("list_id")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda s: s.m,
                    ).alias("cent")
                )
                .collect()
            )
            for row in means:  # lists that captured no vectors keep their seed
                cents[row.list_id] = list(row.cent)
        return cents
    finally:
        c.unpersist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_list: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine neighbors via an IVF coarse quantizer.

    Corpus vectors are assigned to their nearest centroid list (one
    partition-pruning equi-join key); each query probes its ``n_probe``
    nearest lists and reranks exactly inside them. Recall tunes with
    n_probe/n_list; at ``n_probe = n_list`` probing is exhaustive and the
    output provably equals :func:`cosine_topk` (pinned row for row by
    tests/test_recall.py::test_ivf_exhaustive_probe_equals_brute_force). The list assignment is an equi-join, so at scale the
    candidate generation shuffles n·n_probe/n_list rows instead of n² pairs.

    Vectors stay RAW end to end: a vector's own norm is a positive scalar,
    so it cannot change which centroid dots rank highest (assignment is
    norm-invariant), and the rerank then scores with the SAME
    dot/(|q|·|c|) expression as :func:`cosine_topk` — bit-identical
    cosines, so the approximate path and the exact baseline never disagree
    on a shared (query, neighbor) pair.
    """
    cents = train_ivf_centroids(corpus, n_list, iters, id_col, vec_col)

    c = _assign_lists(_with_norm(corpus, id_col, vec_col, "c"), cents, "c", 1)
    q = _assign_lists(_with_norm(queries, id_col, vec_col, "q"), cents, "q", n_probe)

    scored = (
        q.join(c, "list_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "cosine",
            F.round(
                _cosine(F.col("q_v"), F.col("c_v"), F.col("q_norm"), F.col("c_norm")), 6
            ),
        )
        # each corpus vector lives in exactly one list, so (query, neighbor)
        # pairs are already unique — no dedup shuffle needed
    )
    return _two_phase_topk(scored, k)


def _lsh_bucket_tables(
    df: DataFrame, n_planes: int, n_tables: int, dim: int, vec_col: str
) -> DataFrame:
    """Explode each row into ``n_tables`` (table, bucket) rows — one
    independent sign-LSH hash table per plane set. Buckets are computed in
    one codegen pass (the plane matrix is a driver literal, no shuffle)."""
    # SQL-text build (round 12): n_tables·n_planes aggregate(zip_with(...))
    # sign-dot trees were assembled through py4j per call — pure driver
    # construction cost. The dot is the identical
    # fold (zip_with multiply, left fold from 0.0D), so every bucket bit —
    # and the SQL oracle's signed-chain recomputation — is unchanged.
    all_planes = _hyperplane_signs(n_planes * n_tables, dim)
    buckets = []
    for t in range(n_tables):
        terms = ["CAST(0 AS BIGINT)"]
        for i, signs in enumerate(all_planes[t * n_planes : (t + 1) * n_planes]):
            arr = "array(" + ", ".join(_flit(float(s)) for s in signs) + ")"
            dot = (
                f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> x * y),"
                " 0.0D, (a, x) -> a + x)"
            )
            terms.append(
                f"(CASE WHEN {dot} >= 0 THEN CAST({1 << i} AS BIGINT)"
                " ELSE 0 END)"
            )
        buckets.append("(" + " + ".join(terms) + ")")
    return df.select(
        "*",
        F.posexplode(F.expr("array(" + ", ".join(buckets) + ")")).alias(
            "table", "bucket"
        ),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share a bucket in ANY of ``n_tables``
    independent sign-LSH hash tables, exact cosine rerank inside.

    Multi-table is the standard recall lever for hyperplane LSH: a single
    table misses a true neighbor whose signs differ on one plane; with L
    independent tables the miss probability decays as miss_1^L. Candidate
    volume is ~L·n²/2^planes — n_planes tunes per-table selectivity (cost),
    n_tables tunes recall, independently. Duplicated candidates (pairs
    colliding in several tables) are deduped before scoring, so the rerank
    work is ∝ distinct candidates.
    """
    c = _lsh_bucket_tables(_with_norm(corpus, id_col, vec_col, "c"), n_planes, n_tables, dim, "c_v")
    q = _lsh_bucket_tables(_with_norm(queries, id_col, vec_col, "q"), n_planes, n_tables, dim, "q_v")
    # broadcast the bounded query side: the bucket key has only L·2^n_planes
    # distinct values, so a shuffle join would funnel the corpus through few
    # hot reducers; a broadcast join never moves the corpus at all
    scored = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .dropDuplicates(["q_id", "c_id"])
        .withColumn(
            "cosine",
            F.round(_cosine(F.col("q_v"), F.col("c_v"), F.col("q_norm"), F.col("c_norm")), 6),
        )
    )
    return _two_phase_topk(scored, k)


# ---------------------------------------------------------------------------
# Banded-LSH similar-pair generation (the scale path for embedding near-dup)
# ---------------------------------------------------------------------------

def _band_params(
    threshold: float, target_miss: float = 1e-9, max_planes: int = 256
) -> tuple[int, int]:
    """(rows_per_band, n_bands) for sign-LSH banding at a cosine threshold.

    For two vectors at the threshold angle, one random hyperplane separates
    them with probability p = arccos(t)/π; a band of r planes agrees with
    probability (1-p)^r, and b bands all disagree with probability
    (1-(1-p)^r)^b — the per-pair miss bound. Picks the LARGEST r (best
    candidate pruning: bucket count grows 2^r per band) whose band count
    for the target miss still fits in ``max_planes`` total planes. All
    pairs ABOVE the threshold have strictly smaller miss probability.
    """
    t = min(1.0, max(-1.0, threshold))
    p_split = math.acos(t) / math.pi
    if p_split <= 0.0:
        return 1, 1
    for r in range(16, 0, -1):
        p_band = (1.0 - p_split) ** r
        if p_band <= 0.0 or p_band >= 1.0:
            continue
        b = max(1, math.ceil(math.log(target_miss) / math.log(1.0 - p_band)))
        if r * b <= max_planes:
            return r, b
    return 1, max_planes


def lsh_bucketed_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    target_miss: float = 1e-9,
    round_digits: int = 4,
) -> DataFrame:
    """Pairs with cosine ≥ threshold via banded sign-LSH candidates + exact
    verify — the scale path that replaces the O(n²) cross join.

    Plan shape (all equi-joins, no Cartesian product):
    1. One pass computes every plane dot product per vector — the plane
       matrix is a driver-held literal (like IVF centroids), so signatures
       are pure codegen, zero shuffles.
    2. ``posexplode`` the b band keys → self-equi-join on (band, key):
       candidates ∝ bucket density, not n². The shuffle carries
       (id, band, key) — never the vectors.
    3. ``distinct`` the candidate id pairs, join the vectors back by id,
       verify the exact cosine in codegen, filter.

    Banding parameters derive from the threshold (``_band_params``): the
    probability of missing a qualifying pair is below ``target_miss``
    (default 1e-9 — deterministic planes, so a given dataset either
    matches the brute-force output or it doesn't; pinned equal to brute
    force by
    tests/test_operators.py::test_lsh_bucketed_pairs_high_threshold_near_dups). Lower thresholds cost more bands; genuinely
    antagonistic thresholds (<~0.3) degrade toward brute-force candidate
    volume — use ``dedup.embedding_cosine_pairs(method="brute")`` there.
    """
    from ..caching import persist_tracked

    r, b = _band_params(threshold, target_miss)
    planes = _hyperplane_signs(r * b, dim)
    # SQL-text literal matrix (round 12): up to max_planes F.lit(list)
    # py4j calls otherwise — one parsed SQL string instead, identical
    # literal values
    planes_col = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(_flit(float(s)) for s in row) + ")"
            for row in planes
        )
        + ")"
    )

    norm = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn(
            "nrm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
        )
        # degenerate vectors: cosine would be NaN, and NaN >= threshold is
        # TRUE under Spark semantics — every zero/NaN/Inf vector would pair
        # with every bucket-mate; finite positive norm only, matching
        # _with_norm (NaN > 0 is also TRUE, so `> 0` alone leaked them)
        .filter((F.col("nrm") > 0) & (F.col("nrm") < F.lit(float("inf"))))
    )
    # persisted: norm feeds the signature pass AND both vector-verify sides —
    # without the cache each consumer re-scans the source and re-evaluates
    # the norm fold (3 full scans of the vector table per call)
    norm = persist_tracked(norm)

    dots = F.transform(planes_col, lambda p: _dot(F.col("v"), p))
    # band key as a base-2 number over the band's r sign bits (MSB first) —
    # no shift-by-column needed, stays in codegen
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(b - 1)),
        lambda band: F.aggregate(
            F.sequence(F.lit(0), F.lit(r - 1)),
            F.lit(0).cast("long"),
            lambda acc, j: acc * 2
            + F.when(
                F.element_at(F.col("_dots"), band * r + j + 1) >= 0, 1
            ).otherwise(0),
        ),
    )
    # persisted: sig feeds BOTH sides of the candidate self-join — without
    # the cache the r·b plane-dot signature expression (the expensive part
    # of this operator) is evaluated twice per vector, once per join side
    # (the same double-evaluation dedup.minhash_lsh_dedup fixes by caching
    # its signatures). The cached rows are (id, band, key) — b small rows
    # per vector, never the vectors themselves.
    sig = persist_tracked(
        norm.withColumn("_dots", dots)
        .select("id", F.posexplode(keys).alias("band", "key"))
    )

    cand = (
        sig.select(F.col("id").alias("id_a"), "band", "key")
        .join(sig.select(F.col("id").alias("id_b"), "band", "key"), ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    va = norm.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = norm.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                round_digits,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def blocked_exact_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 2048,
    round_digits: int = 4,
    _grid_literal_max: int = 2000,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact cosine pairs via blocked matrix products — the scale path for
    LOW thresholds, where sign-LSH stops pruning.

    Why this exists: a sign-LSH band with r bits passes a random pair with
    probability 2^-r, and the bit-agreement gap between "qualifying" and
    "random" pairs shrinks as the threshold drops (p_bit = 1 − θ/π → 0.5).
    Below ~0.6-0.7, hitting a 1e-9 miss floor forces so many low-r bands
    that nearly EVERY pair becomes a candidate — the plan degenerates to
    brute force re-expressed as an equi-join explosion, plus band overhead
    (measured 30 s at 2k×64 where this path takes ~1 s).

    Low-threshold all-pairs is inherently Θ(n²/B) I/O (every block must
    meet every block), so the right design makes the compute BLAS-bound:
    hash rows into ⌈n/block_size⌉ blocks, form the upper-triangle block
    pairs (a driver literal, broadcast), route each side with one
    equi-join, and score each block pair as ONE numpy matmul inside an
    Arrow-batched cogrouped ``applyInPandas`` — 64-dim dot products at
    GEMM speed instead of per-element interpreted expression trees. Pair
    canonicalization (lo < hi + dedupe) happens inside the kernel, so the
    output matches the codegen paths row-for-row: (id_a, id_b, cosine
    rounded to ``round_digits``).

    Shuffle volume: each row is replicated once per block pair touching
    its block (≈ n·n_blocks vectors) — the unavoidable quadratic term,
    with ``block_size`` bounding per-task memory (2048×64 doubles ≈ 1 MB
    per side per task).

    EAGER-BUILD CONTRACT: unless ``n_rows`` is supplied, constructing this
    DataFrame runs ONE bounded Spark job (a count over the non-zero-norm
    vectors) to size the block grid — the grid must be fixed before the
    plan exists, the same contract as ``corpus.source_vocab_overlap``.
    Callers that already know the corpus size (a Delta source's log-level
    ``numRecords`` sum, a prior aggregate) pass ``n_rows`` and the build
    stays fully lazy; the count is only a grid-sizing hint, so a stale or
    approximate value changes task granularity, never output rows.
    """
    import math

    spark = df.sparkSession
    norm = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn(
            "nrm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
        )
        # degenerate vectors (zero/NaN/Inf norm): excluded like every other
        # path here — finite positive norm only, matching _with_norm
        .filter((F.col("nrm") > 0) & (F.col("nrm") < F.lit(float("inf"))))
    )
    # persisted: norm feeds the grid-sizing count AND both GEMM routing
    # sides — without the cache the source is scanned (and the norm fold
    # evaluated) up to three times per call
    from ..caching import persist_tracked

    norm = persist_tracked(norm)
    # one bounded job sizing the block grid, skipped when the caller
    # already knows the count (see EAGER-BUILD CONTRACT above)
    n = n_rows if n_rows is not None else norm.count()
    n_blocks = max(1, math.ceil(n / block_size))
    blocks = norm.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    # two independent frames: reusing one grid in both joins trips Spark's
    # ambiguous-self-join analysis on pid. Below ~2k blocks the grid is a
    # driver literal; past that (upper-triangle ≈ B²/2 rows) it enumerates
    # distributedly from two integer ranges — same rows, no driver list.
    # (Honest ceiling either way: exact low-threshold all-pairs is Θ(n²)
    # COMPUTE; past ~10⁷ vectors raise the threshold into LSH territory or
    # cluster first — no plan makes 5·10¹⁷ dot products cheap.)
    grid = _block_grid(spark, n_blocks, _grid_literal_max)
    grid_r = _block_grid(spark, n_blocks, _grid_literal_max)
    left = blocks.join(
        F.broadcast(grid.select("pid", F.col("bi").alias("blk"))), "blk"
    ).select("pid", "id", "v", "nrm")
    # distinct column names break the self-join lineage ambiguity; the
    # cogroup kernel reads both sides positionally anyway
    right = (
        blocks.select(
            F.col("blk").alias("blk_r"),
            F.col("id").alias("id"),
            F.col("v").alias("v"),
            F.col("nrm").alias("nrm"),
        )
        .join(
            F.broadcast(grid_r.select("pid", F.col("bj").alias("blk_r"))), "blk_r"
        )
        .select("pid", "id", "v", "nrm")
    )

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    return (
        left.groupby("pid")
        .cogroup(right.groupby("pid"))
        .applyInPandas(_gemm_kernel(threshold, round_digits), out_schema)
    )


def _block_grid(spark, n_blocks: int, grid_literal_max: int) -> DataFrame:
    """Upper-triangle block-pair grid (pid, bi, bj). Below
    ``grid_literal_max`` blocks it is a driver literal; past that
    (upper-triangle ≈ B²/2 rows) it enumerates distributedly from two
    integer ranges — same rows, no driver list."""
    if n_blocks <= grid_literal_max:
        return spark.createDataFrame(
            [
                (i * n_blocks + j, i, j)
                for i in range(n_blocks)
                for j in range(i, n_blocks)
            ],
            "pid long, bi int, bj int",
        )
    left_rng = spark.range(n_blocks).select(F.col("id").cast("int").alias("bi"))
    right_rng = spark.range(n_blocks).select(F.col("id").cast("int").alias("bj"))
    return (
        left_rng.join(right_rng, F.col("bi") <= F.col("bj"))
        .select(
            (F.col("bi").cast("long") * n_blocks + F.col("bj")).alias("pid"),
            "bi",
            "bj",
        )
    )


def _gemm_kernel(threshold: float, round_digits: int):
    """Cogrouped-applyInPandas kernel: one numpy matmul per block pair,
    thresholded, pairs canonicalized (lo < hi + dedupe) so output matches
    the codegen paths row-for-row. Shared by the corpus-wide and the
    within-cluster blocked paths."""

    def gemm(left_pdf, right_pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if left_pdf.empty or right_pdf.empty:
            return empty
        A = np.asarray(left_pdf["v"].tolist(), dtype=np.float64)
        B = np.asarray(right_pdf["v"].tolist(), dtype=np.float64)
        cos = np.round(
            (A @ B.T)
            / np.outer(left_pdf["nrm"].to_numpy(), right_pdf["nrm"].to_numpy()),
            round_digits,
        )
        ia, ib = np.nonzero(cos >= threshold)
        if not len(ia):
            return empty
        ids_a = left_pdf["id"].to_numpy()[ia]
        ids_b = right_pdf["id"].to_numpy()[ib]
        out = pd.DataFrame(
            {
                "id_a": np.minimum(ids_a, ids_b),
                "id_b": np.maximum(ids_a, ids_b),
                "cosine": cos[ia, ib],
            }
        )
        # same-block pairs appear in both orders; self-pairs on the diagonal
        out = out[out["id_a"] < out["id_b"]].drop_duplicates(["id_a", "id_b"])
        return out

    return gemm


def clustered_exact_pairs(
    df: DataFrame,
    threshold: float,
    n_list: int = 8,
    n_probe: int = 1,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 2048,
    round_digits: int = 4,
    _grid_literal_max: int = 2000,
) -> DataFrame:
    """Cosine pairs ≥ threshold enumerated WITHIN k-means clusters — the
    SemDeDup-at-scale recipe: partition the corpus with the IVF coarse
    quantizer (`train_ivf_centroids`), then run the blocked exact GEMM only
    inside each cluster. Compute drops from Θ(n²) corpus-wide to
    Θ(n_list · (n·n_probe/n_list)²) = Θ(n²·n_probe²/n_list) — with n_list
    scaled ∝ corpus size the per-cluster work stays bounded, which is what
    lets low-threshold semantic dedup survive a 100× corpus where the
    corpus-wide exact path cannot run at all.

    The price is recall, not precision: every emitted pair is exactly
    scored (same GEMM kernel, same rounding as `blocked_exact_pairs`), but
    a qualifying pair split across clusters is missed. ``n_probe`` > 1
    multi-probes each vector into its nearest clusters to recover boundary
    pairs (recall floor pinned in tests/test_recall.py); at
    ``n_probe = n_list`` every pair co-occurs in every cluster and the
    output provably equals `blocked_exact_pairs` (pinned by
    tests/test_recall.py::test_clustered_pairs_probe_all_equals_exact).

    Same EAGER-BUILD CONTRACT as `blocked_exact_pairs` (centroid training
    already runs bounded driver jobs; one more count sizes the per-cluster
    block grid).
    """
    import math

    spark = df.sparkSession
    cents = train_ivf_centroids(df, n_list, iters, id_col, vec_col)
    assigned = _assign_lists(
        _with_norm(df, id_col, vec_col, "c"), cents, "c", n_probe
    ).select(
        "list_id",
        F.col("c_id").alias("id"),
        F.col("c_v").alias("v"),
        F.col("c_norm").alias("nrm"),
    )
    # persisted: assigned feeds the max-cluster sizing job AND both GEMM
    # routing sides — without the cache the n_list·dim centroid-assignment
    # expression (plus the scan and norm fold under it) runs three times
    from ..caching import persist_tracked

    assigned = persist_tracked(assigned)
    # bounded job: size the block grid from the LARGEST cluster, not the
    # average — k-means clusters skew, and per-task GEMM memory grows with
    # the square of rows-per-(cluster, block), so the hot cluster is the
    # one that must respect block_size
    max_cluster = (
        assigned.groupBy("list_id").count().agg(F.max("count")).collect()[0][0]
    )
    n_blocks = max(1, math.ceil((max_cluster or 0) / block_size))
    blocks = assigned.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    grid = _block_grid(spark, n_blocks, _grid_literal_max)
    grid_r = _block_grid(spark, n_blocks, _grid_literal_max)
    left = blocks.join(
        F.broadcast(grid.select("pid", F.col("bi").alias("blk"))), "blk"
    ).select("list_id", "pid", "id", "v", "nrm")
    # re-aliasing every column mints fresh attribute ids, breaking the
    # self-join lineage ambiguity (same trick as blocked_exact_pairs)
    right = (
        blocks.select(
            F.col("list_id").alias("list_id"),
            F.col("blk").alias("blk_r"),
            F.col("id").alias("id"),
            F.col("v").alias("v"),
            F.col("nrm").alias("nrm"),
        )
        .join(
            F.broadcast(grid_r.select("pid", F.col("bj").alias("blk_r"))), "blk_r"
        )
        .select("list_id", "pid", "id", "v", "nrm")
    )

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    pairs = (
        left.groupby("list_id", "pid")
        .cogroup(right.groupby("list_id", "pid"))
        .applyInPandas(_gemm_kernel(threshold, round_digits), out_schema)
    )
    if n_probe > 1:
        # multi-probed pairs co-occur in several clusters; the kernel is
        # deterministic per call, but two per-cluster GEMM invocations are
        # not guaranteed bit-identical BLAS results, and round(., 4) sits on
        # a boundary for an adversarial cosine — dedupe on the (id_a, id_b)
        # KEY and keep the max cosine (deterministic, and equal to a plain
        # distinct whenever the scores agree) rather than betting row-for-row
        # equality with blocked_exact_pairs on cross-call float bit-identity
        pairs = pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))
    return pairs


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: int8-quantized candidate scoring, exact float
    rerank of the oversampled survivors.

    The scale story: scanning a 100 TB float32 corpus for scoring moves 4×
    the bytes the int8 form does (at scale the quantized column would be
    precomputed and stored alongside the embedding; here it is derived in
    codegen to keep the operator self-contained). Unit vectors quantize to
    ``round(u_i · 127)``; the integer dot preserves ranking to within
    quantization error, so keeping ``k · oversample`` candidates per query
    before the exact rerank recovers the true top-k with high probability —
    recall tunes with ``oversample``. Candidate selection reuses the
    two-phase window shape (no reducer sees O(corpus) rows per query)."""
    c = _unit(_with_norm(corpus, id_col, vec_col, "c"), "c")
    q = _unit(_with_norm(queries, id_col, vec_col, "q"), "q")
    cq = c.withColumn(
        "c_q", F.transform("c_v", lambda x: F.round(x * 127).cast("int"))
    )
    qq = q.withColumn(
        "q_q", F.transform("q_v", lambda x: F.round(x * 127).cast("int"))
    )
    scored = (
        cq.crossJoin(F.broadcast(qq))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "qscore",
            F.aggregate(
                F.zip_with("q_q", "c_q", lambda x, y: x * y),
                F.lit(0),
                lambda acc, x: acc + x,
            ),
        )
    )
    return _screened_topk(scored, _dot(F.col("q_v"), F.col("c_v")), k, k * oversample)


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection
# ---------------------------------------------------------------------------

def _rp_signs(in_dim: int, out_dim: int, seed: int) -> list[list[float]]:
    """±1 projection matrix entries (Achlioptas dense sign variant) derived
    from md5 so every run/cluster/engine builds the identical matrix."""
    return [
        [
            1.0
            if int(hashlib.md5(f"rp:{seed}:{i}:{j}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    in_dim: int = 64,
    out_dim: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reduce embeddings to ``out_dim`` via a deterministic ±1 random
    projection (y_j = Σ_i R_ij·x_i / √out_dim) — the standard JL-lemma
    pre-step that shrinks vectors before LSH bucketing or brute-force
    rerank, cutting every downstream shuffle and dot product by
    in_dim/out_dim while approximately preserving pairwise distances
    (Achlioptas 2003 — database-friendly random projections: ±1 entries
    lose nothing vs Gaussian).

    The matrix is tiny (in_dim × out_dim), generated driver-side from md5
    and folded into the plan as LITERAL coefficients: each output column
    compiles to an unrolled multiply-add chain inside whole-stage codegen —
    a stateless narrow map with zero shuffle, zero Python, and perfect
    linear scaling. (Past ~10k matrix entries, switch to a broadcast numpy
    matrix in ``mapInPandas`` — memory-bandwidth-bound matmul — but at that
    point the output is no longer oracle-expressible as SQL literals.)

    Output: (id, rp00..rp{out_dim-1:02d}) doubles rounded to 4 decimals —
    the sum order is the same left-to-right chain the oracle evaluates, so
    results are engine-exact at the rounded precision.
    """
    signs = _rp_signs(in_dim, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    cols = [F.col(id_col)]
    for j, row in enumerate(signs):
        terms = " + ".join(
            f"({'' if c > 0 else '-'}CAST(element_at({vec_col}, {i + 1}) AS DOUBLE))"
            for i, c in enumerate(row)
        )
        cols.append(F.expr(f"round(({terms}) * {scale!r}, 4)").alias(f"rp{j:02d}"))
    return df.select(*cols)
