"""Sessionization — gap-based event sessions per user.

A training-data-pipeline staple the reference cannot express (no
window functions at all, SURVEY §2.8): split each user's event stream
into sessions wherever the inter-event gap exceeds a threshold, with
the classic two-window formulation (lag -> new-session flag -> running
sum as session id). One hash partitioning on the user serves both
windows and the final aggregation — a single shuffle end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap: int,
) -> DataFrame:
    """Per (user, session): session_id (0-based per user), n_events,
    duration (same unit as ts_col), first/last event time.

    ``ts_col`` must be a monotonic numeric time (e.g. epoch nanos);
    ``gap`` is the session-breaking silence in the same unit.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    flagged = df.withColumn(
        "_new",
        F.when(
            F.col(ts_col) - F.lag(F.col(ts_col)).over(w) > gap, 1
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(ts_col) - F.min(ts_col)).alias("duration"),
        F.min(ts_col).alias("t_first"),
        F.max(ts_col).alias("t_last"),
    )


def sample_groups(
    df: DataFrame,
    id_col: str | Column,
    fraction_pct: int,
    salt: int = 0,
) -> DataFrame:
    """Deterministic row sampling: keep ~fraction_pct% of rows, chosen
    by a content hash of the id (engine-portable, reproducible on any
    cluster size — the property Spark's sample() lacks). Used for
    train/eval splits and corpus downsampling; the complement
    (>= fraction_pct) is the exact remainder."""
    from dataset_grouper_spark import keys

    c = F.col(id_col) if isinstance(id_col, str) else id_col
    # keys.scramble is overflow-safe for any int64 id (split multiply),
    # but the `+ salt` must not overflow first: reduce the id mod 2^32
    # before adding so no intermediate exceeds int64 even for ids near
    # 2^63 (ANSI mode throws on long overflow).
    salted = F.pmod(c.cast("long"), F.lit(2**32)) + F.lit(salt % 2**31)
    bucket = F.pmod(keys.scramble(salted), F.lit(100))
    return df.filter(bucket < fraction_pct)


def cap_per_group(
    df: DataFrame,
    group_col: str | Column,
    id_col: str,
    k: int,
) -> DataFrame:
    """Deterministic per-group row cap — domain/source balancing.

    Corpus mixing caps how much any one source contributes. Rows are
    kept per group in md5(id) order (an engine-portable shuffle of the
    ids: unbiased, reproducible anywhere, no RNG state), truncated at
    ``k``. One window shuffle on the group key; output drops the helper
    rank. The complement (rank > k) is the exact overflow set.
    """
    gc = F.col(group_col) if isinstance(group_col, str) else group_col
    w = Window.partitionBy(gc).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def split_by_group(
    df: DataFrame,
    group_col: str | Column,
    splits: dict[str, int],
    salt: str = "",
) -> DataFrame:
    """Leakage-safe dataset split: EVERY row of a group lands in the
    same split (a group straddling train/test leaks near-duplicate
    examples across the boundary — the failure mode row-level splits
    have on grouped data).

    ``splits`` maps label -> integer percent (must sum to 100). The
    group key is hashed with the engine-portable md5-derived long
    (plus ``salt`` for independent re-splits), bucketed mod 100, and
    labeled by cumulative ranges — reproducible on any cluster size or
    engine, no RNG state. Adds a ``split`` column.
    """
    from dataset_grouper_spark.functions.hashing import md5_long

    if sum(splits.values()) != 100:
        raise ValueError("split percents must sum to 100")
    gc = F.col(group_col) if isinstance(group_col, str) else group_col
    bucket = F.pmod(md5_long(F.concat(gc.cast("string"), F.lit(salt))), F.lit(100))
    label = None
    acc = 0
    for name, pct in splits.items():
        acc += pct
        cond = bucket < F.lit(acc)
        label = F.when(cond, F.lit(name)) if label is None else label.when(cond, F.lit(name))
    return df.withColumn("split", label)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fractions: dict[str, int],
    default_pct: int = 0,
    salt: int = 0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep ~``fractions[s]``% of
    each stratum ``s`` (``default_pct`` for unlisted strata), chosen by
    the same content-hash bucket as :func:`sample_groups` — so the
    sample is reproducible on any engine and cluster size, and
    composing with a different ``salt`` yields an independent draw.

    This is the corpus-mixing primitive: "keep 100% of wiki, 30% of
    web, 5% of crawl" is one filter. The per-stratum threshold is a
    literal map lookup (``create_map`` indexed by the strata column) — a single
    codegen'd expression, no join, no when-chain — so the filter sits
    directly on the scan and Catalyst can push it into the source.
    For thousands of strata or runtime-computed fractions, broadcast-join
    a fractions table instead; for the handfuls typical of corpus
    mixing, the literal map wins (zero shuffle, zero extra plan nodes).
    """
    from dataset_grouper_spark import keys

    pairs: list[Column] = []
    for s, pct in fractions.items():
        pairs.extend([F.lit(s), F.lit(int(pct))])
    thresh = (
        F.coalesce(
            F.create_map(*pairs)[F.col(strata_col)],
            F.lit(int(default_pct)),
        )
        if pairs
        else F.lit(int(default_pct))
    )
    salted = F.pmod(F.col(id_col).cast("long"), F.lit(2**32)) + F.lit(
        salt % 2**31
    )
    bucket = F.pmod(keys.scramble(salted), F.lit(100))
    return df.filter(bucket < thresh)


def probability_sample(
    df: DataFrame,
    prob_col: Column | str,
    id_col: str,
    salt: int = 0,
) -> DataFrame:
    """Per-row weighted sampling: keep each row with probability
    ``clamp(prob_col, 0, 1)`` — the quality-weighted corpus-sampling
    primitive (keep probability from an LM score, a classifier, a
    recency decay …), decided by the same deterministic content-hash
    bucket as :func:`sample_groups` so the draw is reproducible on any
    engine and cluster size, and a different ``salt`` is an
    independent draw.

    Basis-point resolution (the probability is floored to 1/10000);
    a zero-shuffle scan-side filter — the probability expression and
    the hash are one codegen'd predicate.
    """
    p = F.col(prob_col) if isinstance(prob_col, str) else prob_col
    from dataset_grouper_spark import keys

    bps = F.floor(
        F.lit(10000.0) * F.greatest(F.least(p, F.lit(1.0)), F.lit(0.0))
    )
    salted = F.pmod(F.col(id_col).cast("long"), F.lit(2**32)) + F.lit(
        salt % 2**31
    )
    bucket = F.pmod(keys.scramble(salted), F.lit(10000))
    return df.filter(bucket < bps)


def probability_sample_where_sql(
    prob_sql: str, id_col: str, salt: int = 0
) -> str:
    """DuckDB WHERE-clause twin of :func:`probability_sample`."""
    m = 4294967296
    return (
        f"(CAST((({id_col} % {m} + {m}) % {m} + {salt % 2**31}) AS HUGEINT)"
        f" * 2654435761) % {m} % 10000"
        f" < floor(10000.0 * greatest(least({prob_sql}, 1.0), 0.0))"
    )


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    temperature: float = 2.0,
    salt: int = 0,
) -> DataFrame:
    """Temperature-flattened corpus mixing: resample so stratum shares
    follow ``p_s^(1/T)`` (T>1 flattens the head, the multilingual-
    pretraining standard; T=1 is a no-op, T→∞ approaches uniform) —
    :func:`stratified_sample` with the fractions COMPUTED from the
    observed distribution instead of hand-specified.

    Sampling can only REMOVE rows, so the flattened distribution is
    realized by keeping the smallest stratum whole and downsampling
    everything larger: acceptance ``a_s ∝ share_s^(1/T) / share_s``
    (the per-row boost a stratum needs), normalized by its maximum —
    attained at the smallest stratum — and floored to basis points.
    The rate table broadcasts back (bounded by #strata) and the keep
    decision is the same content-hash bucket as :func:`sample_groups`,
    mod 10000 for basis-point resolution. Fully distributed — no
    driver collect.

    Determinism across engines: counts are exact integers, the ratio
    is one IEEE division, and ``pow`` is evaluated on both engines on
    identical doubles — the DuckDB twin reproduces the identical rate
    unless pow differs in the last ulp EXACTLY at a 1-bp floor
    boundary (vanishingly rare and data-stable; the contract query
    pins it).
    """
    if temperature <= 0:
        raise ValueError("temperature must be positive")
    from dataset_grouper_spark import keys
    from dataset_grouper_spark.cache import persist_tracked

    # rows with a NULL stratum are excluded up front: an inner join on
    # the rate table can never match NULL, and letting the NULL group
    # into the counts would skew every real stratum's rate (coalesce
    # the column first if NULL should be its own stratum)
    df = df.filter(F.col(strata_col).isNotNull())

    # persisted: counts feed BOTH the per-stratum ratio and the max
    # normalizer — without materialization Catalyst re-derives each
    # branch from the scan and the corpus is aggregated twice
    counts = persist_tracked(
        df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_c"))
    )
    ref = counts.agg(F.max("_c").alias("_cmax"))
    share = F.col("_c") / F.col("_cmax")
    ratios = persist_tracked(
        counts.crossJoin(F.broadcast(ref)).select(
            F.col(strata_col).alias("_stratum"),
            (F.pow(share, F.lit(1.0 / temperature)) / share).alias("_ratio"),
        )
    )
    rmax = ratios.agg(F.max("_ratio").alias("_rmax"))
    rates = ratios.crossJoin(F.broadcast(rmax)).select(
        "_stratum",
        F.floor(F.lit(10000.0) * F.col("_ratio") / F.col("_rmax"))
        .cast("int")
        .alias("_bps"),
    )
    salted = F.pmod(F.col(id_col).cast("long"), F.lit(2**32)) + F.lit(
        salt % 2**31
    )
    bucket = F.pmod(keys.scramble(salted), F.lit(10000))
    return (
        df.join(
            F.broadcast(rates), F.col(strata_col) == F.col("_stratum")
        )
        .filter(bucket < F.col("_bps"))
        .drop("_stratum", "_bps")
    )


def temperature_mix_sql(
    table: str,
    strata_col: str,
    id_col: str,
    temperature: float = 2.0,
    salt: int = 0,
) -> str:
    """DuckDB twin of :func:`temperature_mix` (HUGEINT scramble mirror,
    pmod-spelled inner mod for negative ids)."""
    m = 4294967296
    return f"""
      WITH counts AS (
        SELECT {strata_col} AS stratum, count(*) AS c
        FROM {table} GROUP BY 1
      ), ratios AS (
        SELECT stratum,
               pow(c / (SELECT max(c) FROM counts),
                   {1.0 / temperature!r})
                 / (c / (SELECT max(c) FROM counts)) AS ratio
        FROM counts
      ), rates AS (
        SELECT stratum,
               CAST(floor(10000.0 * ratio
                          / (SELECT max(ratio) FROM ratios)) AS INT) AS bps
        FROM ratios
      )
      SELECT t.* FROM {table} t
      JOIN rates r ON r.stratum = t.{strata_col}
      WHERE (CAST((({id_col} % {m} + {m}) % {m} + {salt % 2**31})
                  AS HUGEINT) * 2654435761) % {m} % 10000 < r.bps
    """


def stratified_sample_sql(
    table: str,
    strata_col: str,
    id_col: str,
    fractions: dict[str, int],
    default_pct: int = 0,
    salt: int = 0,
) -> str:
    """DuckDB WHERE-clause twin of :func:`stratified_sample` (HUGEINT
    arithmetic mirrors the overflow-safe scramble exactly). DuckDB's
    ``%`` follows the dividend's sign where Spark's ``pmod`` is always
    non-negative, so the inner mod is spelled pmod-style —
    ``(x % m + m) % m`` — to agree with the Spark side on negative ids
    too."""
    whens = " ".join(
        f"WHEN '{s}' THEN {int(pct)}" for s, pct in fractions.items()
    )
    case = (
        f"CASE {strata_col} {whens} ELSE {int(default_pct)} END"
        if fractions
        else str(int(default_pct))
    )
    m = 4294967296
    return (
        f"SELECT * FROM {table} WHERE "
        f"(CAST((({id_col} % {m} + {m}) % {m} + {salt % 2**31}) AS HUGEINT)"
        f" * 2654435761) % {m} % 100 < {case}"
    )


def contrastive_negatives(
    df: DataFrame,
    id_col: str,
    k: int,
    salt: int = 0,
) -> DataFrame:
    """Deterministic negative sampling — the contrastive-training pair
    generator (embedding/retrieval training needs k random non-matching
    docs per anchor; RNG-based sampling is irreproducible across
    cluster sizes). Each anchor draws ``k`` uniform negatives from the
    corpus by content hash, never itself.

    Mechanics: dense 0..N-1 ranks over the id order (the distributed
    prefix sum — no one-task window), then negative j of anchor rank a
    is rank ``scramble(a*k + j + salt) % (N-1)`` shifted past ``a``
    (uniform over the N-1 non-anchor rows), mapped back rank→id with
    one join. Two shuffles + a k-explode; the rank table is the join
    dimension. A different ``salt`` is an independent draw.

    Returns (anchor_id, neg_rank 0..k-1, neg_id).
    """
    from dataset_grouper_spark import keys
    from dataset_grouper_spark.cache import persist_tracked
    from dataset_grouper_spark.operators import prefix

    if k < 1:
        raise ValueError("k must be >= 1")
    ranked = persist_tracked(
        prefix.running_sum(
            df.select(F.col(id_col)).withColumn("_one", F.lit(1)),
            "_one",
            id_col,
            out_col="_rk",
        ).select(
            F.col(id_col), (F.col("_rk") - 1).cast("long").alias("_rank")
        )
    )
    n = ranked.agg(F.count(F.lit(1)).alias("_n"))
    anchors = (
        ranked.crossJoin(F.broadcast(n))
        .filter(F.col("_n") > 1)
        .select(
            F.col(id_col).alias("anchor_id"),
            "_rank",
            "_n",
            F.explode(
                F.sequence(F.lit(0), F.lit(k - 1), F.lit(1))
            ).alias("neg_rank"),
        )
    )
    h = F.pmod(
        keys.scramble(
            F.col("_rank") * F.lit(k) + F.col("neg_rank") + F.lit(salt)
        ),
        F.col("_n") - 1,
    )
    target = F.when(h >= F.col("_rank"), h + 1).otherwise(h)
    picked = anchors.select(
        "anchor_id", "neg_rank", target.alias("_tgt")
    )
    lookup = ranked.select(
        F.col("_rank").alias("_tgt"), F.col(id_col).alias("neg_id")
    )
    return picked.join(lookup, "_tgt").drop("_tgt")


def contrastive_negatives_sql(
    table: str, id_col: str, k: int, salt: int = 0
) -> str:
    """DuckDB twin of :func:`contrastive_negatives` (HUGEINT scramble
    mirror of keys.scramble: (x mod 2^32) * KNUTH mod 2^32)."""
    m = 4294967296
    return f"""
      WITH ranked AS (
        SELECT {id_col},
               row_number() OVER (ORDER BY {id_col}) - 1 AS rnk,
               count(*) OVER () AS n
        FROM {table}
      ), anchors AS (
        SELECT {id_col} AS anchor_id, rnk, n, j AS neg_rank,
               (CAST(((rnk * {k} + j + {salt}) % {m} + {m}) % {m}
                     AS HUGEINT) * 2654435761) % {m} % (n - 1) AS h
        FROM ranked, unnest(generate_series(0, {k - 1})) AS g(j)
        WHERE n > 1
      )
      SELECT a.anchor_id, CAST(a.neg_rank AS INT) AS neg_rank,
             r.{id_col} AS neg_id
      FROM anchors a
      JOIN ranked r
        ON r.rnk = CASE WHEN a.h >= a.rnk THEN a.h + 1 ELSE a.h END
    """
