"""Deterministic sampling and dataset splitting for training pipelines.

Seeded `df.sample` draws differ per partitioning and engine; these operators
hash a stable id instead — `md5(id)`'s first 8 hex digits as a uniform
integer in [0, 2^32) — so the same row lands in the same split/sample on
every run, any cluster size, and any engine that can md5 (the DuckDB
oracles compute the identical bucket). Pure codegen: no UDFs, no shuffles —
splitting a 100 TB corpus is a narrow map.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKETS = 1 << 32


def hash_bucket(id_col: str | Column, salt: str = "") -> Column:
    """Uniform integer in [0, 2^32) from md5 of the id (+ optional salt to
    derive independent hash draws from the same ids). Column and name
    arguments hash IDENTICALLY (same cast + salt concat) — a Column input
    used to silently drop the salt, making "independent" draws perfectly
    correlated."""
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    raw = F.concat(col.cast("string"), F.lit(salt))
    return F.conv(F.substring(F.md5(raw), 1, 8), 16, 10).cast("long")


def deterministic_sample(
    df: DataFrame, fraction: float, id_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Keep ~fraction of rows, chosen by id hash — reproducible everywhere,
    and a row's membership never changes as the corpus grows."""
    return df.filter(hash_bucket(id_col, salt) < int(fraction * _BUCKETS))


def split_column(
    id_col: str,
    weights: Sequence[float],
    names: Sequence[str],
    salt: str = "",
) -> Column:
    """A `split` label column assigning each row to one of `names` with the
    given proportions (cumulative hash-range partitioning)."""
    if len(weights) != len(names):
        raise ValueError("weights and names must have the same length")
    total = float(sum(weights))
    bucket = hash_bucket(id_col, salt)
    expr = None
    acc = 0.0
    for w, name in zip(weights[:-1], names[:-1]):
        acc += w / total
        cond = bucket < int(acc * _BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return (F.lit(names[0]) if expr is None else expr.otherwise(names[-1])).alias("split")


def train_val_test_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    names: Sequence[str] = ("train", "val", "test"),
    salt: str = "",
) -> DataFrame:
    """Attach a deterministic `split` column; filter on it for each set.
    Disjoint and exhaustive by construction."""
    return df.withColumn("split", split_column(id_col, weights, names, salt))


def grouped_split(
    df: DataFrame,
    group_col: str,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    names: Sequence[str] = ("train", "val", "test"),
    salt: str = "",
) -> DataFrame:
    """Leakage-proof split: hash the GROUP key, so every row of a group
    (a domain, an author, a dedup cluster id) lands in the same split.

    Splitting by row id leaks near-duplicates and same-source documents
    across train/eval; hashing the group key is the standard fix, and it
    stays a narrow map — no shuffle, no group materialization.
    """
    return df.withColumn("split", split_column(group_col, weights, names, salt))


def stratified_take(
    df: DataFrame,
    stratum_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Exactly ``n`` rows per stratum, chosen deterministically.

    Rows are ranked inside each stratum by their id hash (uniform, engine-
    independent) and the first ``n`` kept — an exact-count stratified sample
    that is reproducible on any engine and stable under repartitioning.
    One shuffle on the stratum key; rank top-n is a bounded per-key
    windowed scan (Spark's WindowGroupLimit pushes the limit into the sort,
    so no stratum ever materializes fully).
    """
    w = F.row_number().over(
        Window.partitionBy(stratum_col).orderBy(hash_bucket(id_col, salt), F.col(id_col))
    )
    return df.withColumn("_rk", w).filter(F.col("_rk") <= n_per_stratum).drop("_rk")


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-group keep rates — the dataset-mixture knob of a training pipeline
    (e.g. up-weight curated sources, down-weight crawl).

    Membership is by id hash against the group's threshold: deterministic,
    engine-independent, stable as the corpus grows, and a pure codegen map
    (the rates dict compiles to a CASE expression — no join, no shuffle,
    no driver-side sampling state even with thousands of groups).
    """
    bucket = hash_bucket(id_col, salt)
    thr: Column = F.lit(int(default_rate * _BUCKETS))
    expr = None
    for g, r in rates.items():
        cond = F.col(group_col) == g
        t = F.lit(int(r * _BUCKETS))
        expr = F.when(cond, t) if expr is None else expr.when(cond, t)
    thr = thr if expr is None else expr.otherwise(thr)
    return df.filter(bucket < thr)


def global_shuffle_shards(
    df: DataFrame,
    num_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the export step of
    a training pipeline, where the curated corpus must reach the trainer in
    a reproducible pseudo-random order, split into a fixed number of shard
    files.

    Each row gets ``shard = md5-bucket(id) mod num_shards`` and ``pos`` =
    its rank within the shard by the full md5 hex (id as tiebreak, though
    md5 collisions over one corpus are not a practical concern). The order
    is a pure function of (id, salt): any engine, any cluster size, any
    partitioning reproduces it, and re-running after an append only inserts
    the new rows into their hash positions instead of reshuffling everything
    (contrast ``ORDER BY rand()``, which is neither stable nor resumable).

    Scale shape: shard assignment is a stateless narrow map; the within-
    shard rank is one hash shuffle with md5-balanced keys. num_shards is
    the parallelism knob — size it to the target output-file count
    (thousands at 100 TB) so each shard is one task's worth of data. The
    dense ``pos`` rank makes the oracle comparison exact at test scale; for
    a pure export, ``repartition(num_shards, shard).sortWithinPartitions
    (hx)`` achieves the same physical layout without materializing ranks.
    """
    hx = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    out = df.select(
        F.pmod(
            F.conv(F.substring(hx, 1, 8), 16, 10).cast("long"), F.lit(num_shards)
        )
        .cast("int")
        .alias("shard"),
        hx.alias("_hx"),
        F.col(id_col),
    )
    w = Window.partitionBy("shard").orderBy("_hx", id_col)
    return out.withColumn("pos", F.row_number().over(w)).select(
        "shard", "pos", id_col
    )
