"""Gap-based sessionization over event streams.

Engine-added capability (task mandate: operations a large-scale web/training
pipeline needs): group per-user event sequences into sessions split at
inactivity gaps — the standard preprocessing step for clickstream corpora,
dialogue-turn assembly, and per-session quality filtering before a crawl's
events feed a training set.

Scale design (100 TB): both operators are a single shuffle keyed by
``user_col`` — hash-uniform (billions of users, no hot key), no global sort.
The window functions (``lag``, running ``sum``) and the downstream aggregate
all ride the SAME partitioning, so Catalyst plans exactly one Exchange; the
per-user sort is local to each partition. Nothing collects to the driver.

Determinism contract (driver oracle): event ordering is (ts, id) — the id
tiebreak makes equal timestamps deterministic; gap comparison is exact int64
microsecond arithmetic (``unix_micros`` == DuckDB ``epoch_us``), and the value
sum goes through DECIMAL(20,2) so both engines add exactly (CLAUDE.md money
rule). Reference analog: none — the reference (terraref/extractors-metadata)
processes datasets one message at a time and has no cross-event windowing;
this is the engine widening that per-message model to corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """Assign each event a per-user session: adds ``session_seq`` (1-based
    per-user session index) and ``session_id`` ("<user>-<seq>").

    A new session starts at the first event per user and whenever the gap to
    the previous event exceeds ``gap_s`` (strict >, exact microseconds).
    Plan: one Exchange on ``user_col``; lag + running sum share the sort.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    # parquet timestamps read as TIMESTAMP_NTZ; the session tz is pinned UTC
    # (session.py), so the cast is wall-clock-exact and unix_micros equals
    # DuckDB epoch_us on the naive value.
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us = F.lag(us).over(w)
    new_sess = (
        prev_us.isNull() | (us - prev_us > F.lit(int(gap_s) * 1_000_000))
    ).cast("long")
    # (ts, id) is unique per partition, so the default RANGE frame of an
    # ordered window equals ROWS UNBOUNDED PRECEDING..CURRENT ROW — the
    # oracle spells the ROWS frame explicitly.
    seq = F.sum(new_sess).over(w)
    return df.withColumn("session_seq", seq).withColumn(
        "session_id",
        F.concat_ws("-", F.col(user_col).cast("string"), F.col("session_seq").cast("string")),
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    type_col: str = "event_type",
    gap_s: int = 1800,
) -> DataFrame:
    """Per-session rollup: event count, span, distinct types, exact value sum.

    Columns: (user, session_seq, session_id, n_events, duration_us,
    n_types, sum_value). ``duration_us`` stays exact int64; ``sum_value``
    sums through DECIMAL(20,2) then rounds — exact in any engine.
    The aggregate reuses the sessionize Exchange (same key prefix), so the
    whole operator is one shuffle end-to-end.
    """
    s = sessionize(df, user_col, ts_col, id_col, gap_s)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return s.groupBy(user_col, "session_seq", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(us) - F.min(us)).alias("duration_us"),
        F.countDistinct(type_col).alias("n_types"),
        F.round(F.sum(F.col(value_col).cast("decimal(20,2)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


def allen_census(
    df: DataFrame,
    key_col: str = "user_id",
    s_col: str = "s",
    e_col: str = "en",
    id_col: str = "event_id",
) -> DataFrame:
    """Allen interval-algebra CENSUS per key: classify every interval
    pair into its Allen (1983) relation and count each relation — the
    temporal-reasoning profile of a key's activity (how much of it is
    sequential vs nested vs overlapping), the qualitative summary the
    interval_join/interval_union family doesn't give.

    Pairs are taken in the CANONICAL orientation a < b by (s, e, id) —
    lexicographic on exact int64 microseconds with the id tie-break —
    which collapses Allen's 13 relations to the 7 forward ones (the six
    inverses are implied by orientation): with a.s < b.s the pair is
    ``before`` (a.e < b.s), ``meets`` (a.e = b.s), ``overlaps``
    (b.s < a.e < b.e), ``finished_by`` (a.e = b.e) or ``contains``
    (a.e > b.e); with a.s = b.s it is ``starts`` (a.e < b.e) or
    ``equals`` (a.e = b.e) — ``started_by`` cannot occur under the
    canonical order. Every decision is an int64 comparison; no floats.

    Scale shape: one Exchange keyed by ``key_col``; the pair join is
    per-key O(n^2/2) (the theil_sen per-key stream-length contract —
    bounded events per key, narrow 4-column frames through the
    fan-out). Output is one row per key with the 7 counts + n_pairs.

    Reference analog: none — the reference processes messages
    independently; this is part of the engine's temporal widening.
    FULL oracle: verbatim pair replay in SQL.
    """
    iv = df.select(
        F.col(key_col).alias("_k"),
        F.col(s_col).cast("long").alias("_s"),
        F.col(e_col).cast("long").alias("_e"),
        F.col(id_col).cast("long").alias("_id"),
    )
    a = iv.select(
        F.col("_k"),
        F.col("_s").alias("_as"), F.col("_e").alias("_ae"),
        F.col("_id").alias("_aid"),
    )
    b = iv.select(
        F.col("_k"),
        F.col("_s").alias("_bs"), F.col("_e").alias("_be"),
        F.col("_id").alias("_bid"),
    )
    pairs = a.join(b, "_k").filter(
        (F.col("_as") < F.col("_bs"))
        | (
            (F.col("_as") == F.col("_bs"))
            & (
                (F.col("_ae") < F.col("_be"))
                | ((F.col("_ae") == F.col("_be")) & (F.col("_aid") < F.col("_bid")))
            )
        )
    )
    rel = (
        F.when(
            F.col("_as") < F.col("_bs"),
            F.when(F.col("_ae") < F.col("_bs"), F.lit("before"))
            .when(F.col("_ae") == F.col("_bs"), F.lit("meets"))
            .when(F.col("_ae") < F.col("_be"), F.lit("overlaps"))
            .when(F.col("_ae") == F.col("_be"), F.lit("finished_by"))
            .otherwise(F.lit("contains")),
        )
        .when(F.col("_ae") < F.col("_be"), F.lit("starts"))
        .otherwise(F.lit("equals"))
    )
    tagged = pairs.select("_k", rel.alias("_rel"))
    agg = [
        F.sum((F.col("_rel") == F.lit(r)).cast("long")).alias("n_" + r)
        for r in (
            "before", "meets", "overlaps", "finished_by",
            "contains", "starts", "equals",
        )
    ]
    return tagged.groupBy(F.col("_k").alias(key_col)).agg(
        F.count(F.lit(1)).alias("n_pairs"), *agg
    )


def interval_schedule(
    iv: DataFrame, max_select: int = 12
) -> DataFrame:
    """Greedy activity selection (the exchange-argument OPTIMAL
    max-non-overlap schedule): per user repeatedly take the interval
    with the earliest END among those starting at/after the last
    selected end — tie order (e_us, s_us, event_id) frozen.  Bounded to
    ``max_select`` picks per key (the output-budget contract, stated in
    the emitted k; both engines share the cap, so the oracle stays
    exact).  Intervals touching at endpoints do NOT overlap
    (start >= prev end admits).

    One Arrow pass (applyInPandas per key), key-parallel — the 100 TB
    shape.  Oracle twin: ``max_select`` unrolled pick stages
    (row_number argmin + carry prev_end; see oracles._interval_sched_sql).

    Completes the interval family: interval_union (measure),
    interval_join (stabbing), allen_census (relations) — this is the
    selection/optimization member.
    """
    import pandas as pd

    k = int(max_select)

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["e_us", "s_us", "event_id"]
        ).reset_index(drop=True)
        out = []
        prev_end = None
        for row in pdf.itertuples(index=False):
            if len(out) >= k:
                break
            if prev_end is None or row.s_us >= prev_end:
                out.append(
                    (
                        row.user_id,
                        len(out) + 1,
                        row.event_id,
                        row.s_us,
                        row.e_us,
                    )
                )
                prev_end = row.e_us
        cols = ["user_id", "k", "event_id", "s_us", "e_us"]
        return pd.DataFrame(out, columns=cols).astype(
            {c: "int64" for c in cols}
        )

    return iv.groupBy("user_id").applyInPandas(
        f, "user_id long, k long, event_id long, s_us long, e_us long"
    )
