"""Engine-portable exact averaging.

The round-1/round-2 float-parity postmortem, condensed:

* ``avg(double)`` sums in engine- and partition-dependent order; the
  last-ulp difference flips the 4th rounded decimal on knife-edge
  groups (observed at sf0.1, and guaranteed to recur whenever the
  driver regenerates data).
* Summing exact integers (cents, microseconds) fixes the order
  dependence but moves the problem to ``round(sum/d, 4)``: integer
  ratios land EXACTLY on .00005 boundaries, where Spark rounds the
  shortest decimal representation (BigDecimal HALF_UP -> away from
  zero) while DuckDB rounds the binary double (often the other way).
  Observed: -4.7788 vs -4.7787 at sf0.01.

So the rounding itself must be integer arithmetic. ``round_div(s, d)``
= nearest integer to s/d with halves toward +infinity, computed as
``floor((2s + d) / (2d))``:

* 2s+d and 2d are exact in doubles while |2s+d| < 2^53 (holds through
  sf0.1 for cents and microsecond sums; at cluster scale bit-parity
  with a foreign engine is not a contract anyway),
* the double division is correctly rounded; at a half boundary the
  quotient is an exact integer (exact), elsewhere it is >= 1/(2d) away
  from an integer (far above one ulp) -- floor is always exact.

Every averaged metric is then ``round_div(scaled_sum, scaled_count) /
10000.0``: a 4-decimal value whose nearest-double conversion is the
single, identical, final operation on both engines.

``avg4_sql`` emits the same formula as SQL text for the DuckDB
oracles (and for Spark SQL endpoints -- CASTs to DOUBLE are explicit
because a bare ``100.0`` literal is DECIMAL in Spark SQL, which leaks
Decimal objects into the result surface).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_div(num: Column, den: Column) -> Column:
    """Nearest integer to num/den (den > 0), halves toward +infinity,
    exact for |2*num + den| < 2^53."""
    return F.floor((2 * num + den) / (2.0 * den)).cast("long")


def avg4(scaled_sum: Column, scaled_count: Column) -> Column:
    """4-decimal average as double: round_div in integer space, one
    final /10000.0. ``scaled_sum``/``scaled_count`` must already be
    integer columns scaled so that sum/count is in 1e-4 units."""
    return round_div(scaled_sum, scaled_count) / 10000.0


def avg4_sql(scaled_sum: str, scaled_count: str) -> str:
    """The identical formula as engine-portable SQL text."""
    return (
        f"CAST(floor(CAST(2 * ({scaled_sum}) + ({scaled_count}) AS DOUBLE)"
        f" / CAST(2 * ({scaled_count}) AS DOUBLE)) AS BIGINT)"
        f" / CAST(10000 AS DOUBLE)"
    )


def cents(col: Column | str) -> Column:
    """Exact integer cents of a 2-decimal currency double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")
