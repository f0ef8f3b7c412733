"""Order-insensitive aggregate helpers.

A parallel double ``sum`` accumulates in partition order, so two runs
(or Spark vs a sequential oracle engine) can differ by ~1 ulp of the
total — enough to flip a ``round(.., 2)`` landing near a .005 boundary
and break a value-hash compare. Summing DECIMAL instead is exact and
associative: every engine gets bit-identical totals regardless of
partitioning.

The per-element double→decimal cast is safe at scale 6: the inputs are
prices/values with ~2 decimal digits of real precision, so element
values sit ~1e-10 away from any 5e-7 rounding boundary.

The DuckDB oracles (each plan module's ``ORACLES``) spell the same sum
inline as ``sum(CAST(x AS DECIMAL(27,6)))``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 27 integer+fraction digits leaves sum headroom: Spark widens
# sum(decimal(27,6)) to decimal(37,6), i.e. 1e21 of total before
# overflow — far beyond any 100 TB aggregate of price-scale values.
DEC = "decimal(27,6)"


def dec_sum(col: Column | str, scale: int = 2) -> Column:
    """Exact (order-insensitive) sum of a double column, rounded to
    ``scale`` and cast back to double so output schemas stay unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)), scale).cast("double")


def dec_avg(col: Column | str, scale: int = 4) -> Column:
    """Order-insensitive mean: exact DECIMAL total, cast once to double,
    ONE correctly-rounded division by the non-null count. Unlike avg(),
    identical across engines and partitionings (a parallel double avg
    accumulates in partition order). DuckDB mirror:
    ``round(sum(CAST(x AS DECIMAL(27,6)))::DOUBLE / count(x), s)``.

    LATENT TIE CAVEAT (found by the round-9 sf0.001 sweep): the final
    ``round(double, s)`` is the one step whose TIE behavior the two
    engines don't share (Spark HALF_UP on the exact binary expansion;
    DuckDB's double round takes a different path), so a quotient
    landing exactly on a half-ulp tie can differ in the last digit.
    No driver-graded scale currently hits a tie; keys where one
    MANIFESTS should switch to :func:`dec_avg_exact` (point_in_region
    and point_in_region_grid did, round 9)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)).cast("double") / F.count(c), scale)


def dec_avg_exact(col: str, scale: int = 4) -> Column:
    """Tie-safe order-insensitive mean: the HALF-AWAY-FROM-ZERO
    rounding happens in EXACT INTEGER arithmetic on the micro-unit
    decimal total — no double ever rounds, so the engines cannot
    disagree at ties. With S6 = the sum in 1e-6 units (exact integer)
    and n the non-null count, the mean rounded to ``scale`` digits is

        sign(S6) * ((2*|S6| + d*n) div (2*d*n)) / 10^scale,  d = 10^(6-scale)

    (for non-negative S6 this is floor(S6/(d*n) + 1/2)), published as
    DOUBLE — both engines divide the same integer by the same power of
    ten, so the bits match. DuckDB mirror:
    ``(CASE WHEN S6 < 0 THEN -1 ELSE 1 END
       * ((2*abs(S6) + d*n) // (2*d*n)))::DOUBLE / 10^scale`` with
    ``S6 = CAST(sum(CAST(x AS DECIMAL(27,6)) * 1000000) AS HUGEINT)``."""
    d = 10 ** (6 - scale)
    s6 = f"cast(sum(cast({col} as decimal(27,6)) * 1000000) as decimal(38,0))"
    n = f"count({col})"
    return F.expr(
        f"cast((case when {s6} < 0 then -1 else 1 end)"
        f" * cast((2 * abs({s6}) + {d} * {n})"
        f" div (2 * {d} * {n}) as bigint) as double)"
        f" / cast({10 ** scale} as double)"
    )
