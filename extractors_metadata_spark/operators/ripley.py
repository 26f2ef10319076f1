"""Per-key Ripley's K sufficient statistics — point-pattern analysis.

Ripley's K (Ripley 1976; THE multi-scale clustering-vs-dispersion
statistic of spatial point-pattern analysis) counts, per radius r, the
point pairs within r: K(r) = (A / n^2) * sum_pairs 1[d <= r].  A
pattern more clustered than random rises above pi*r^2, dispersed
patterns fall below.  This operator computes the EXACT sufficient
statistics per key (user) and radius — (n_points, n_pairs) — and
leaves the float normalization (A/n^2, the L-transform) consumer-side:
no transcendental or division ever crosses the engine boundary.  Reference analog: none;
this completes the spatial-statistics suite (moran/getis-ord field
autocorrelation, knox space-time interaction) with the classic
point-pattern function.

Exactness: coordinates are micro-degree integers via the
bround == round_even 0-decimal pairing with a nonneg shift (the
hausdorff_pairs idiom); pair distances compare as exact int64 squares
(coordinate spans < 2^31 keep d^2 < 2^63); every radius threshold is
an integer compare.  Counting ALL radii from ONE pair set: pairs are
generated once filtered to the largest radius, each smaller count a
conditional sum — one shuffle, not |radii|.

Scale shape: the pair join is KEY-LOCAL (user-keyed self-equi-join
with event_id_a < event_id_b keeping each unordered pair once) — pair
fan-out bounded by per-key stream length squared, the stated
theil_sen/radius-gyration contract for per-entity statistics.  For a
GLOBAL K over an unbounded point set the candidate stage swaps to the
hausdorff cell-blocking (side S = max radius, one-ring dilation,
triangle-complete) — same verify, different generator.  Keys with a
single point emit n_pairs = 0 rows (the zero is real: K is defined,
the pattern is trivially empty).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ripley_k(
    pts: DataFrame,
    radii: Sequence[int],
    key_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key Ripley K sufficient statistics -> (key, r, n_points,
    n_pairs).  ``pts``: (key, id, qx, qy) integer micro-degree points;
    ``radii``: ascending integer radii in the same units."""
    rs = sorted(int(r) for r in radii)
    if not rs or rs[0] <= 0:
        raise ValueError("ripley_k: radii must be positive integers")
    rmax = rs[-1]
    npts = pts.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_points")
    )
    a = pts.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("ia"),
        F.col("qx").alias("xa"),
        F.col("qy").alias("ya"),
    )
    b = pts.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("ib"),
        F.col("qx").alias("xb"),
        F.col("qy").alias("yb"),
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    pairs = (
        a.join(b, "key")
        .filter(F.col("ia") < F.col("ib"))
        .select("key", (dx * dx + dy * dy).alias("d2"))
        .filter(F.col("d2") <= rmax * rmax)
    )
    counts = pairs.groupBy("key").agg(
        *[
            F.sum((F.col("d2") <= r * r).cast("long")).alias(f"_c{r}")
            for r in rs
        ]
    )
    wide = npts.join(counts, "key", "left")
    rarr = F.array(
        *[
            F.struct(
                F.lit(r).cast("long").alias("r"),
                F.coalesce(F.col(f"_c{r}"), F.lit(0).cast("long")).alias(
                    "n_pairs"
                ),
            )
            for r in rs
        ]
    )
    return wide.select(
        "key", "n_points", F.explode(rarr).alias("o")
    ).select(
        F.col("key").alias(key_col),
        F.col("o.r").alias("r"),
        "n_points",
        F.col("o.n_pairs").alias("n_pairs"),
    )
