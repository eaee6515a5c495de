"""Shared helpers for corpus operators."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def spread_by(spark: SparkSession, df: DataFrame, *cols: str) -> DataFrame:
    """Keyed twin of :func:`spread` for window/groupBy consumers: when
    the scan carries fewer splits than the cluster, hash-partition on
    the consumer's own keys — the downstream window/aggregation reuses
    this exchange (same keys, same partition count -> no second
    shuffle), and the expensive per-partition sort runs on the whole
    cluster instead of 1-6 scan tasks (top3 window: 1.2 -> 0.5 s at
    1.5M orders/local[32]).  Skipped on well-split inputs, where the
    partial WindowGroupLimit / partial-agg pre-shuffle reduction is
    worth more than the head start."""
    target = int(spark.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(*cols)
    return df


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin the input up to cluster parallelism when the scan
    carries fewer splits (guide §2.5, input skew): the bench corpora
    are single parquet files with 1-6 row groups, so a scan stage —
    and every per-row computation fused into it (regex, md5, Arrow
    kernels) — otherwise runs on 1-6 of the 32 cores.  Skipped
    whenever the scan already has >= parallelism splits (any real
    multi-file corpus; repartitioning there would only add a shuffle).
    Callers should project to the needed columns FIRST so the exchange
    ships minimal bytes."""
    target = int(spark.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact-arithmetic aggregation discipline (round-5 sweep)
#
# Float aggregates (sum/avg/stddev/corr over DOUBLE) are partition-order
# dependent: Spark's partial-sum merge order at the driver's partitioning
# differs from DuckDB's sequential sum, so a value within an ulp of a
# rounding boundary lands on either side (corpus_report flaked exactly
# this way in CORRECTNESS_r04).  Every money/value column in the testdata
# is an exact 2-dp decimal stored as its nearest double (verified: all of
# l_quantity/l_extendedprice/l_discount/l_tax/o_totalprice/value/
# p_retailprice/c_acctbal reconstruct from round(x*100)), so the fix is
# structural, not cosmetic:
#
#   1. read each k-dp decimal as an EXACT scaled integer at the scan
#      (``exact_scaled_int`` — floor(x*10^k + 0.5), bit-identical in any
#      IEEE engine);
#   2. aggregate in exact 128-bit integer space (``spark_sum128`` sums
#      DECIMAL(28,0) -> DECIMAL(38,0); DuckDB's sum(BIGINT) is already
#      HUGEINT) — order-independent by construction;
#   3. derive outputs with the IDENTICAL double expression in both
#      engines (cast-exact-int -> a fixed sequence of IEEE ops is
#      deterministic), floor-rounding (``fround``) only at the very end.
#
# Spark's round() is additionally avoided everywhere: it rounds the
# double's decimal STRING (Double.toString -> HALF_UP) while DuckDB
# rounds the raw binary double, so they disagree on values like 0.50145
# even when both engines hold the identical double (``floor_round``).
# ---------------------------------------------------------------------------


def floor_scaled(col: Column, digits: int) -> Column:
    """``floor(x*10^k + 0.5)`` of a double Column as BIGINT: pure IEEE
    double ops, bit-identical in any engine.  The integer-scaled
    outputs (``*_e4`` columns) keep every double off the driver's hash
    surface."""
    return F.floor(col * 10**digits + F.lit(0.5))


def floor_round(col: Column, digits: int) -> Column:
    """Portable rounding of a double Column: floor(x*10^k + 0.5)/10^k.
    Spark's round() converts the double through its decimal string
    (Double.toString -> HALF_UP), so a value like 0.50145 whose nearest
    double sits just BELOW the midpoint rounds UP in Spark but DOWN in
    engines that round the raw binary double (DuckDB) — found by the
    sf0.1 oracle sweep, one row in 6500."""
    return floor_scaled(col, digits) / 10**digits


def content_hash() -> Column:
    """md5 of the normalized ``text`` column (whitespace runs -> one
    space, trim, lower): the content key of every exact-dedup decision.
    Explicit whitespace class, NOT \\s: Java's \\s includes \\x0B
    (vertical tab) while DuckDB's RE2 \\s does not, so a \\x0B-bearing
    doc would hash differently in the two engines."""
    return F.md5(F.lower(F.trim(F.regexp_replace("text", "[ \t\n\x0b\f\r]+", " "))))


def exact_scaled_int(col: str, digits: int = 2) -> str:
    """Exact integer reading of a k-dp decimal stored as a double:
    ``floor(x*10^k + 0.5)`` as BIGINT.  Valid (and bit-identical) in
    both Spark SQL and DuckDB; exact whenever the source value is a
    k-dp decimal (midpoints cannot occur: x*10^k is then within an ulp
    of an integer, never near .5)."""
    p = 10**digits
    return f"CAST(floor(({col}) * {p} + 0.5) AS BIGINT)"


def spark_sum128(int_snippet: str) -> str:
    """Exact 128-bit sum of an integer snippet on the Spark side:
    DECIMAL(28,0) input promotes to a DECIMAL(38,0) sum, so per-group
    totals stay exact far past int64 (~1e38 in the scaled unit).
    Partial aggregation (map-side combine) still applies: decimal sums
    merge associatively.

    COST: the DECIMAL(38,0) aggregation buffer is not long-backed —
    an interleaved A/B on q1 at sf0.1 measured the all-decimal form
    1.8x slower than int64 sums (0.39 -> 0.71 s).  Use this only where
    per-row magnitudes genuinely exceed int64 headroom (sums of
    squares / co-moments: price_cents² is 2.5e15 per row, overflowing
    int64 at ~3.7k rows per group); for plain money sums use
    ``spark_sum64`` and its documented bounds."""
    return f"sum(CAST(({int_snippet}) AS DECIMAL(28,0)))"


def spark_sum64(int_snippet: str) -> str:
    """Exact int64 sum — the FAST path (long-backed, whole-stage
    codegen).  Headroom at 100 TB (TPC-H SF~130k, lineitem ~8e11 rows,
    worst case one-sixth of the table in a single q1 group = 1.3e11
    rows): cents-scale sums reach ~5e17 (18x headroom in int64's
    9.2e18); per-row-bounded 1e-4-unit products like price_c*disc_c
    (disc_c <= 10) reach ~2.5e18 (3.7x).  1e-4-unit FULL products
    (price_c*(100-disc_c), ~3.6e8/row) would NOT fit — decompose them
    into two cents-scale sums (100*Σprice_c − Σprice_c*disc_c) and
    recombine exactly in decimal post-agg, or use ``spark_sum128``.
    Overflow is LOUD, not silent: Spark 4 runs ANSI mode by default,
    so an int64 sum overflow raises instead of wrapping."""
    return f"sum({int_snippet})"


def duck_sum128(int_snippet: str) -> str:
    """DuckDB twin of ``spark_sum128``: sum(BIGINT) is HUGEINT
    (128-bit) natively."""
    return f"sum({int_snippet})"


def fround(expr: str, digits: int) -> str:
    """Engine-portable floor-rounding of a double-valued SQL snippet:
    floor(x*10^k + 0.5)/10^k.  The snippet must itself be
    deterministic across engines (a fixed IEEE op sequence over exact
    aggregates); then the floor agrees bit-for-bit.  Never use
    engine round() (see module note)."""
    p = 10**digits
    return f"(floor(({expr}) * {p} + 0.5) / {p})"
