"""Association rules over sessions: support / confidence / lift.

Market-basket analytics on the event stream (the §2.4 composition the
product team actually asks for): a basket = the DISTINCT event types of
one session (the engine's frozen gap sessionization), and for every
ordered type pair (a -> b):

    support(a,b) = sessions containing both / N
    confidence   = sessions with both / sessions with a
    lift         = confidence / (sessions with b / N)

Exactness: every statistic is a RATIO OF EXACT COUNTS; the emitted
metrics are 1e-9 half-even fixed point of (num * N^k) / den chains written
with identical literal arithmetic — exact int64 numerators/denominators
(< 2^53), single correctly-rounded divisions, so both engines agree
bitwise before the rounding margin even matters.

Scale design: baskets collapse to DISTINCT (session, type) FIRST (the
fan-out cap: pairs per session are bounded by the TYPE VOCABULARY, not
session length); the pair join is session-keyed on the collapsed frame;
singleton counts ride one tiny type-keyed aggregate joined back broadcast.

Reference analog: none — engine-added event analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sessions import sessionize


def session_rules(
    df: DataFrame,
    gap_s: int = 43_200,
    min_pair_sessions: int = 1,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """(ante, cons, n_both, n_ante, n_cons, n_sessions, conf_fp, lift_fp)
    for ordered type pairs co-occurring in >= ``min_pair_sessions``
    sessions."""
    s = sessionize(df, user_col, ts_col, id_col, gap_s=gap_s)
    basket = s.select("session_id", F.col(type_col).alias("ty")).distinct()
    n_sessions = basket.select("session_id").distinct().count()
    ty_count = basket.groupBy("ty").agg(F.count(F.lit(1)).alias("n_ty"))
    a = basket.select("session_id", F.col("ty").alias("ante"))
    b = basket.select("session_id", F.col("ty").alias("cons"))
    both = (
        a.join(b, "session_id")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= min_pair_sessions)
    )
    na = ty_count.select(F.col("ty").alias("ante"), F.col("n_ty").alias("n_ante"))
    nc = ty_count.select(F.col("ty").alias("cons"), F.col("n_ty").alias("n_cons"))
    j = both.join(F.broadcast(na), "ante").join(F.broadcast(nc), "cons")
    conf = F.col("n_both").cast("double") / F.col("n_ante").cast("double")
    # lift = (n_both * N) / (n_ante * n_cons): exact int64 products first
    lift = (F.col("n_both") * F.lit(n_sessions)).cast("double") / (
        F.col("n_ante") * F.col("n_cons")
    ).cast("double")
    return j.select(
        "ante", "cons", "n_both", "n_ante", "n_cons",
        F.lit(n_sessions).cast("long").alias("n_sessions"),
        F.bround(conf * 1000000000.0, 0).cast("long").alias("conf_fp"),
        F.bround(lift * 1000000000.0, 0).cast("long").alias("lift_fp"),
    )
