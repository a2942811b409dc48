package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{abs, floor, lit, when}

/** Cross-engine BIT-STABLE decimal rounding: `floor(x·10^d + 0.5) / 10^d`,
  * guarded by `abs(x) < 2^(52−d)` (pass-through above).
  *
  * The gate's hash compare needs Spark and DuckDB to agree on rounded
  * doubles even when the pre-round value sits within an ulp of a `.xx5`
  * boundary. The builtin `round(x, d)` does NOT give that: Spark's
  * `RoundBase` routes through `scala.math.BigDecimal(Double)` — i.e.
  * `java.math.BigDecimal.valueOf`, HALF_UP on the SHORTEST DECIMAL
  * REPRESENTATION of the double — while DuckDB rounds the scaled binary
  * value. On the double nearest 1.005 (1.00499999999999989…, which scales
  * to 100.49999999999999 — the `·100` stays below the half) Spark's
  * round(·,2) yields 1.01, DuckDB's 1.00: identical input bits, different
  * hashes. So a fold-order pin alone cannot make a rounded column
  * corpus-robust (found by the r15 review of the fold-pin work, which had
  * claimed exactly that). Not every `.xx5` literal exhibits it: 2.675's
  * scaled product lands within half an ulp of 267.5 and IEEE multiplication
  * rounds UP to it, so there all forms agree on 2.68 — the divergence class
  * is exactly the values whose scaled product stays on the low side.
  *
  * This formula closes the class because every step is deterministic IEEE
  * double arithmetic that both engines execute identically: one multiply,
  * one add, `floor`, one divide. 10^d is exact as a double for d ≤ 22, the
  * scale factor is applied as ONE multiplication (never
  * `x·100 = (x·10)·10`), and the SQL twin below spells the identical
  * shape, so the two engines' instruction streams match op for op. Spark's
  * `floor` yields a LONG whose long→double promotion on the divide
  * round-trips bit-exactly (the integral value originated as a double),
  * after which both engines divide the same double bits by the same exact
  * power of ten.
  *
  * TOTALITY GUARD (r15, found by the adversarial-corpus replay, not by
  * review): the floor form alone is NOT total — Spark's long-typed `floor`
  * turns NaN → 0 and clamps ±huge to ±Long.Max, where DuckDB's
  * double-typed `floor` keeps NaN → NaN and overflow → ±inf, so an
  * adversarial session sum of NaN hashed 0.0-vs-NaN and a ~1e300 sum
  * hashed 9.2e16-vs-inf. The fix: apply the floor form only when
  * `abs(x) < 2^(52−d)` and pass x through otherwise. The guard is sound on
  * BOTH sides of the threshold:
  *
  *  - ABOVE: any double with `|x| ≥ 2^(52−d)` has ulp ≥ 2^−d, i.e. is an
  *    integral multiple of 2^−d — whose decimal expansion (`2^−d =
  *    5^d/10^d`) terminates within d digits — so rounding it to d decimals
  *    IS the identity and the pass-through returns the mathematically
  *    rounded value. NaN and ±inf land here too, identically in all three
  *    dialects, because Spark SQL, DuckDB and Java all order NaN above
  *    every finite value (making `abs(x) < t` false).
  *  - BELOW: the scaled value `v = x·10^d + 0.5` satisfies
  *    `|v| < 2^(52−d)·10^d + 1 = 2^52·5^d + 1`, which can exceed Spark's
  *    long-typed floor range for d ≥ 5 (and even for d ≤ 4 exceeds 2^52,
  *    though it provably stays under 2^63 there). The below region
  *    therefore SPLITS on `|v| < 2^52` (r16, to admit the gate's d = 6 and
  *    d = 9 sites):
  *      * `|v| < 2^52`: Spark's long floor is range-safe and its
  *        long→double promotion is exact (every long below 2^52 is a
  *        double) — identical to DuckDB's double-typed floor.
  *      * `|v| ≥ 2^52`: v is INTEGRAL — ulp(v) ≥ 1 forces every such
  *        double to an integer value (and v lands on an integer through
  *        every IEEE path: a half-integral `c·10^d` below 2^52 plus 0.5 is
  *        exact; an integral one at ulp 1 ties to even; at ulp ≥ 2 the
  *        +0.5 rounds away) — so `floor(v) = v` and the branch emits `v/p`
  *        directly, no long ever involved. DuckDB's double floor computes
  *        the same identity, and the SQL twin spells `v/p` verbatim so the
  *        instruction streams still match op for op.
  *    For d ≤ 4 the split is VALUE-IDENTICAL to the r15 two-branch form:
  *    in the `|v| ≥ 2^52` subcase the old long floor returned exactly the
  *    integral v (bounded by 2^52·5^4 < 2^63, promoted back exactly), the
  *    same double `v/p` emits — so the r15 correctness/adversarial replays
  *    carry over unchanged.
  *
  * The digits bound is now d ≤ 9 (the gate uses d ∈ {2, 4, 6, 9}): the
  * long-floor range argument is gone, so the binding constraints are just
  * `10^d` exact as a double (d ≤ 22), `10^d` printable as an exact integer
  * literal by [[stableRoundSql]] (d ≤ 18), and the `2^(52−d)` threshold
  * shift (d ≤ 52) — 9 is simply the largest the gate needs, kept tight so
  * a new site thinks before widening.
  *
  * Semantics: ties round half-up toward +∞ (−2.675 → −2.67), slightly
  * different from HALF_UP's away-from-zero on negatives — acceptable
  * because both engines agree, which is the property the gate needs.
  * NULL propagates identically in both engines (a NULL comparison is
  * not-true, taking the pass-through branch, which returns NULL).
  */
object StableRound {

  /** 2^52: below it Spark's long floor is range-safe and promotes back
    * exactly; at or above it every double is integral and floor is the
    * identity. Exact as a double (a pure power of two). */
  private val FloorSafe: Double = (1L << 52).toDouble

  /** 2^(52−digits): above it every double is a multiple of 2^−digits and
    * d-decimal rounding is the identity. Exact as a double (a pure power
    * of two). */
  private def passThrough(digits: Int): Double = {
    require(digits >= 0 && digits <= 9,
      s"digits out of the gate's supported range [0, 9]: $digits")
    (1L << (52 - digits)).toDouble
  }

  /** The Spark side: guarded `floor(c·10^d + 0.5) / 10^d` as a
    * [[Column]] (NULL takes the pass-through branch and stays NULL). */
  def stableRound(c: Column, digits: Int): Column = {
    val p = pow10(digits)
    val v = c * lit(p) + lit(0.5)
    when(abs(c) < lit(passThrough(digits)),
        when(abs(v) < lit(FloorSafe), floor(v) / lit(p))
          .otherwise(v / lit(p)))
      .otherwise(c)
  }

  /** The DuckDB-oracle side: the same guarded formula as SQL text, for
    * embedding in an `oracleSql` string. `inner` is parenthesized
    * verbatim (and therefore spelled multiple times — oracle SQL, cost
    * immaterial, and every call site's inner expression is deterministic). */
  def stableRoundSql(inner: String, digits: Int): String = {
    val p = sqlLit(digits)
    val t = passThrough(digits).toLong
    s"CASE WHEN abs(($inner)) < $t.0 " +
      s"THEN (CASE WHEN abs(($inner) * $p + 0.5) < 4503599627370496.0 " +
      s"THEN floor(($inner) * $p + 0.5) / $p " +
      s"ELSE (($inner) * $p + 0.5) / $p END) ELSE ($inner) END"
  }

  /** Reference for StableRoundSpec and StreamingSessionsSpec, ported to
    * Python by `scripts/stableround_sweep.py`: the plain-Scala twin that
    * re-derives an engine's rounded value on the driver.
    * `math.abs(NaN) < 2^(52−d)` is false in Java too, so the guard branches
    * identically; `math.floor` is double-typed, which below 2^52 equals the
    * long floor exactly. */
  def stableRoundScala(d: Double, digits: Int): Double =
    if (math.abs(d) < passThrough(digits)) {
      val p = pow10(digits)
      val v = d * p + 0.5
      if (math.abs(v) < FloorSafe) math.floor(v) / p else v / p
    } else d

  private def pow10(digits: Int): Double =
    math.pow(10.0, digits.toDouble)

  private def sqlLit(digits: Int): String =
    pow10(digits).toLong.toString + ".0"
}
