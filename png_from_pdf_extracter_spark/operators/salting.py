"""Skew handling: salted repartition ahead of the extraction UDF stage.

The reference is sequential so skew is moot (SURVEY.md §4); at 10^12 turns a
hot conversation would pin one task for hours. AQE's skew-join splitting does
not apply to a Python map stage, so we salt explicitly: each row carries the
key ``(partition_id, xxhash64(conv_id, turn_idx) % salt_buckets)``, so one
hot conversation spans ``salt_buckets`` keys. Extraction is per-row
stateless, so no unsalt step is needed — downstream reassembly shuffles by
``(conv_id, turn_idx)`` anyway.

The rows are distributed by RANGE over that key, not by hash. Each task then
owns a contiguous run of ``(bucket, salt)`` keys, so the output write —
partitioned by bucket — opens at most ``n_buckets + num_partitions - 1``
files per table; a hash exchange scattered each bucket's salts over up to
``min(salt_buckets, num_partitions)`` tasks, one file each. Skew relief is kept: Spark draws the range bounds from a row
sample, so a heavy bucket is cut between tasks at its salt values while a
light bucket stays whole. The price is one sampling job per shuffle, which
re-reads the filtered scan in the JVM only (the key columns are computed
there; no row reaches Python).

``salted_repartition_auto`` adds the measure-first variant: the shuffle is
the single biggest data movement in the pipeline (every payload byte), so
when a cheap sample shows no conversation exceeds a task's worth of rows
AND the source splits are already balanced, skipping it is a pure win —
the scan's natural parallelism feeds mapInPandas directly. At 100 TB the
sample is a driver-side decision costing one tiny job over ~2% of splits.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_repartition(
    df: DataFrame, num_partitions: int, salt_buckets: int = 8
) -> DataFrame:
    """Range-partition ``df`` over ``(partition_id, salt)`` into
    ``num_partitions`` tasks, each holding whole buckets or whole salt
    slices of one (see the module docstring)."""
    salt = F.pmod(F.xxhash64(F.col("conv_id"), F.col("turn_idx")), F.lit(salt_buckets))
    return df.repartitionByRange(num_partitions, F.col("partition_id"), salt)


def max_key_share(
    df: DataFrame,
    key_col: str = "conv_id",
    sample_fraction: float = 0.02,
    seed: int = 42,
) -> float:
    """Fraction of (sampled) rows held by the hottest key — the skew
    statistic the auto mode decides on. One small job at plan time."""
    agg = (
        df.sample(fraction=sample_fraction, seed=seed)
        .groupBy(key_col)
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
        .first()
    )
    if not agg or not agg["tot"]:
        return 0.0
    return float(agg["mx"]) / float(agg["tot"])


def salted_repartition_auto(
    df: DataFrame,
    num_partitions: int,
    salt_buckets: int = 8,
    key_col: str = "conv_id",
    hot_share_threshold: Optional[float] = None,
    sample_fraction: float = 0.02,
) -> DataFrame:
    """Shuffle only when measured skew warrants it.

    Default threshold: ``1 / num_partitions`` — if the hottest conversation
    holds more than one task's fair share of rows, a task would straggle
    and we salt; otherwise the scan's own splits are good enough and the
    full-payload shuffle is skipped entirely.
    """
    threshold = (
        hot_share_threshold
        if hot_share_threshold is not None
        else 1.0 / max(num_partitions, 1)
    )
    share = max_key_share(df, key_col, sample_fraction)
    if share > threshold:
        return salted_repartition(df, num_partitions, salt_buckets)
    return df


def salted_equi_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    hot_keys: DataFrame | list,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Big-big equi-join with explicit hot-key splitting — the general
    form of the skew fix ``asof_join_skewed`` applies to temporal joins.

    A sort-merge join puts every row of one key into one task; a key
    holding 10% of a 100 TB table pins that task for hours (AQE's skew
    split helps only when the skewed side can be sub-split WITHOUT
    replicating the other side's matching partition — for very hot keys
    the replicated-salt form below is the standard fix). Plan:

    - LEFT rows of a hot key get a deterministic salt in [0, S):
      ``pmod(xxhash64(all left columns), S)`` — no randomness, so the
      join is replayable and task-retry-safe.
    - RIGHT rows of a hot key are replicated S times (posexplode over a
      static array), once per salt value.
    - Both sides join on (key, salt): the hot key now occupies S tasks
      instead of 1. Cold keys carry salt 0 on both sides — single copy,
      zero overhead.

    ``hot_keys``: a small DataFrame with column ``key`` (or a Python
    list) — typically the output of a cheap sampled count like
    ``max_key_share``'s aggregate; it is broadcast to tag both sides
    map-only. Result equals the plain join exactly (pinned in tests).

    Cost: |right ∩ hot| * S extra rows — bounded and chosen; the
    alternative is an unbounded straggler.
    """
    if how not in ("inner", "left", "left_outer"):
        # an unmatched replicated RIGHT row would surface S times
        raise ValueError(
            f"salted_equi_join supports inner/left joins, got {how!r}"
        )
    spark = left.sparkSession
    if isinstance(hot_keys, list):
        hot_keys = spark.createDataFrame(
            [(k,) for k in hot_keys], [key]
        )
    hot = F.broadcast(hot_keys.select(key).distinct().withColumn("__hot", F.lit(True)))

    l_tag = left.join(hot, key, "left")
    l_salted = l_tag.withColumn(
        "__salt",
        F.when(
            F.col("__hot").isNotNull(),
            F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_buckets)),
        ).otherwise(F.lit(0)),
    ).drop("__hot")

    r_tag = right.join(hot, key, "left")
    r_salted = (
        r_tag.withColumn(
            "__salts",
            F.when(
                F.col("__hot").isNotNull(),
                F.sequence(F.lit(0), F.lit(salt_buckets - 1)),
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("__salt", F.explode("__salts"))
        .drop("__salts", "__hot")
    )
    out = l_salted.join(r_salted, [key, "__salt"], how)
    return out.drop("__salt")


def skew_report(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-group key-skew diagnostics — the planning report you run
    BEFORE choosing a salting factor (`salted_repartition`) or a skew
    join (`salted_equi_join`). Per group: ``n_rows``, ``n_keys``,
    ``max_key_rows`` (hottest key), ``top1_share`` (its row fraction),
    the Gini coefficient of the per-key row distribution, and
    ``hot_factor`` = how many times hotter than average the hottest key
    is (= the minimum salt factor that levels it, integer ceil).

    Gini via the rank identity ``G = 2*sum(i*c_i)/(k*sum(c)) - (k+1)/k``
    over counts sorted ascending — the rank-weighted sum stays BIGINT
    and only two terminal divisions touch floats (floor-6dp emitters),
    per the exact-rational rule. Plan: one combinable count aggregate on
    (group, key), one per-group rank window over KEYS (not rows — the
    window input is already aggregated, so a trillion-row table windows
    over its distinct-key table), one final aggregate.
    """
    counts = df.groupBy(*group_cols, key_col).agg(
        F.count("*").alias("c")
    )
    w = Window.partitionBy(
        *[F.col(g) for g in group_cols]
    ).orderBy(F.col("c").asc(), F.col(key_col).asc())
    ranked = counts.withColumn("r", F.row_number().over(w))
    agg = ranked.groupBy(*group_cols).agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_key_rows"),
        F.sum(F.col("r").cast("long") * F.col("c")).cast("long").alias("__s2"),
    )
    top1 = F.col("max_key_rows").cast("double") / F.col("n_rows").cast("double")
    gini = (
        (2 * F.col("__s2")).cast("double")
        / (F.col("n_keys") * F.col("n_rows")).cast("double")
        - (F.col("n_keys") + 1).cast("double") / F.col("n_keys").cast("double")
    )
    hot = (
        (
            F.col("max_key_rows") * F.col("n_keys")
            + F.col("n_rows")
            - 1
        )
        / F.col("n_rows")
    ).cast("long")
    return agg.select(
        *group_cols,
        "n_rows",
        "n_keys",
        "max_key_rows",
        (F.floor(top1 * F.lit(1e6)) / F.lit(1e6)).alias("top1_share"),
        (F.floor(gini * F.lit(1e6)) / F.lit(1e6)).alias("gini"),
        hot.alias("hot_factor"),
    )


def rendezvous_shard(
    df: DataFrame,
    key_col: str,
    shards: list[str],
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: each key
    goes to ``argmax over shards of md5(key ':' shard)`` — the
    consistent-placement scheme whose defining invariant is MINIMAL
    MOVEMENT: adding a shard relocates only the keys the NEW shard now
    wins (~1/(n+1) of them), and nothing moves between existing shards.
    That is the property an incremental 100-TB pipeline needs when its
    output fan-out grows.

    Map-only Column work: the per-shard scores live in ONE array
    expression folded by ``array_max`` over (score, shard) structs —
    no explode, no join, no shuffle, whole plan stays in codegen.
    Ties are pre-broken by construction: the comparand is
    ``score * 64 + shard_index`` (unique per shard, <= 64 shards), so
    the argmax is total without relying on struct tie-break rules.
    """
    if not shards or len(shards) > 64:
        raise ValueError("rendezvous_shard needs 1..64 shard names")
    key = F.col(key_col).cast("string")

    def scored(shard: str, idx: int):
        h = F.conv(
            F.substring(F.md5(F.concat(key, F.lit(":" + shard))), 1, 8),
            16,
            10,
        ).cast("long")
        return F.struct(
            (h * 64 + idx).alias("cmp"), F.lit(shard).alias("shard")
        )

    best = F.array_max(
        F.array(*[scored(s, i) for i, s in enumerate(shards)])
    )
    return df.withColumn("shard", best["shard"])
