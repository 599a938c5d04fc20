package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.floor

/** Cross-engine-stable fixed-scale formatting for oracle-compared doubles.
  *
  * `round(x, n)` is NOT portable: Spark rounds the shortest decimal
  * representation (BigDecimal HALF_UP) while DuckDB rounds the binary
  * double, so exact-decimal boundaries like 41.61/160 = 0.2600625 hash
  * differently. Truncation `floor(x * 10^n) / 10^n` is pure IEEE
  * arithmetic — bit-identical in both engines for the same input double.
  * Scale-0 `round()` (halves are exact in binary) stays portable and is
  * still used where the reference rounds to integers.
  */
object Fmt {
  def trunc(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    // +1e-6 on the SCALED value: cross-engine float-sum noise (~1e-7 on
    // the scaled magnitude for averages) can no longer flip the floor
    // when the true value sits exactly on a decimal grid line — the one
    // systematic hash-mismatch class (weather averages land on exact
    // 3-decimal values). Mirrored in [[sql]]; both engines shift the
    // boundary identically, so outputs stay bit-equal.
    floor(c * f + 1e-6) / f
  }

  def t6(c: Column): Column = trunc(c, 6)

  /** DuckDB-side mirror of [[trunc]]. */
  def sql(e: String, scale: Int): String = s"floor(($e) * 1e$scale + 1e-6) / 1e$scale"
  def sql6(e: String): String = sql(e, 6)
}
