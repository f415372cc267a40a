package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic-arithmetic helpers for oracle parity.
  *
  * Floating-point SUM is order-sensitive, and Spark's partial
  * aggregation makes the order nondeterministic — so any money
  * aggregate is computed as per-row `round(x*100)` (pure IEEE ops,
  * bit-identical in any engine) followed by an exact integer sum
  * (< 2^53, no error). Ratios/cosines are rounded to 6dp after
  * double-exact arithmetic.
  */
object Det {
  /** Per-row conversion to integer cents; safe to SUM exactly. */
  def cents(c: Column): Column = round(c * lit(100)).cast(LongType)

  /** Exact money sum in cents (bigint). */
  def sumCents(c: Column): Column = sum(cents(c))

  /** 6-decimal rounding for derived doubles (ratios, cosines, avgs).
    *
    * SURFACE-DEPRECATED for hash-compared output (kept for internal
    * use and non-oracle surfaces): `round(x, 6)` renders the double's
    * shortest decimal repr and rounds it BigDecimal-HALF_UP — engines
    * disagree on exact decimal midpoints (the q45 sf0.1 finding: 3
    * ties in ~134k rows). Use [[e6]] instead.
    */
  def r6(c: Column): Column = round(c, 6)

  /** Micro-units surface for derived doubles: `floor(x·1e6 + 0.5)` as
    * BIGINT — the replacement for [[r6]] on every hash-compared
    * column. Three IEEE-correctly-rounded ops (multiply, add, floor)
    * on a bit-identical input tree are deterministic in ANY engine;
    * no decimal representation exists anywhere, so the decimal-
    * midpoint tie class that broke q45 at sf0.1 cannot occur. (For
    * negatives this is round-half-toward-+∞ — a definition, applied
    * identically on both sides.) Oracle twin:
    * `floor(x * 1e6 + 0.5)::BIGINT`.
    *
    * NaN CONTRACT: Spark (non-ANSI) maps NaN → floor(NaN)=NaN →
    * cast-to-long 0, SILENTLY; the DuckDB twin ERRORS on NaN instead.
    * Every call site must therefore guard NaN-capable inputs (0/0
    * ratios, zero-norm cosines) with `when()` BEFORE e6 — all current
    * sites do. Never feed e6 an unguarded ratio: a NaN row would
    * surface as 0 here and blow up the oracle there.
    */
  def e6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)).cast(LongType)
}
