"""Engine-deterministic rounding for division-derived values.

``round(x, k)`` implementations disagree on representational ties:
Spark rounds the shortest decimal representation HALF_UP (so
``sum/16 = x.70375`` → up), DuckDB rounds numerically on the binary
double (→ whichever side the double landed). Ratios of exact quantities
(rounded_sum/count, distinct/total, |∩|/|∪|) produce such ties
routinely.

``round_det`` computes ``floor(x·10^k + 0.5) / 10^k`` instead: every
step is an IEEE operation on identical input doubles, so both engines
get bit-identical results regardless of ties. Mirror in SQL as
``floor(x * 10^k + 0.5) / 10^k.0``.

Use for DISPLAY rounding of division results. Plain round() remains
fine for values that already live on the target grid (sums of 2-dp
prices rounded to 2 dp) and for irrational-valued expressions (sqrt,
cosine) where exact ties have measure zero.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def round_det(col: Column, k: int) -> Column:
    scale = 10**k
    return F.floor(col * scale + 0.5) / F.lit(float(scale))

