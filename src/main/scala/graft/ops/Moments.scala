package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, StructType}

/** The exact-integer moment algebra of the statistics family, written
  * once. LMFAO (SIGMOD'19) computes a batch of aggregates around one
  * shared cofactor matrix; here the batch is plain `sum` columns, which
  * Catalyst already computes in one codegen'd hash aggregate, and the
  * algebra over them is plain functions.
  *
  * Column helpers combine sums that are exact integers in
  * DECIMAL(38,0) (DuckDB's HUGEINT) and cast to DOUBLE once, so every
  * reported float is one identically-associated expression over exact
  * integers on both engines. Driver helpers run the small integer power
  * iterations (m_pca_power, k22_hits, m_als_rank1) on collected entries
  * with `BigInt` accumulators, converting to double through Spark's own
  * `Decimal`, so each iterate is the integer the Spark and DuckDB
  * formulas floor to.
  */
private[graft] object Moments {

  /** Exact 128-bit fixed point: DECIMAL(38,0), DuckDB's HUGEINT. */
  def exact(c: Column): Column = c.cast("decimal(38,0)")

  /** The co-moment n·Σab − Σa·Σb, exact. */
  def comoment(n: Column, sa: Column, sb: Column, sab: Column): Column =
    exact(n) * exact(sab) - exact(sa) * exact(sb)

  /** Pearson r from raw sums: the co-moment over the product of the
    * two variance co-moments' square roots, each cast to double once. */
  def pearson(n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column,
              syy: Column): Column =
    comoment(n, sx, sy, sxy).cast("double") /
      (sqrt(comoment(n, sx, sx, sxx).cast("double")) *
        sqrt(comoment(n, sy, sy, syy).cast("double")))

  /** The 9 sums of the normal equations of y ~ β₀ + β₁·x1 + β₂·x2:
    * `n`, `s1`, `s2`, `s11`, `s12`, `s22`, `sy`, `s1y`, `s2y`. */
  def normalSums(y: Column, x1: Column, x2: Column): Seq[Column] = Seq(
    count(lit(1)).as("n"), sum(x1).as("s1"), sum(x2).as("s2"),
    sum(x1 * x1).as("s11"), sum(x1 * x2).as("s12"),
    sum(x2 * x2).as("s22"), sum(y).as("sy"), sum(x1 * y).as("s1y"),
    sum(x2 * y).as("s2y"))

  /** Cramer's rule over [[normalSums]]' columns: the exact determinants
    * (det A, det A₀, det A₁, det A₂), with βₖ = det Aₖ / det A. */
  def cramer: Seq[Column] = {
    val Seq(n, s1, s2, s11, s12, s22, sy, s1y, s2y) =
      Seq("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")
        .map(col)
    Seq(det3(n, s1, s2, s1, s11, s12, s2, s12, s22),
      det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22),
      det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22),
      det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y))
  }

  /** Row-major 3×3 determinant by cofactor expansion, exact. */
  private def det3(m: Column*): Column = {
    val a = m.map(exact)
    a(0) * (a(4) * a(8) - a(5) * a(7)) -
      a(1) * (a(3) * a(8) - a(5) * a(6)) +
      a(2) * (a(3) * a(7) - a(4) * a(6))
  }

  /** Sparse integer matvec u(i) = Σ w·x(j) over the `(i, j, w)`
    * entries. An entry whose `j` has no x contributes nothing, and an
    * `i` with no contributing entry is absent from u: the inner join of
    * the SQL form. */
  def matvec(entries: Iterable[(Long, Long, BigInt)],
             x: collection.Map[Long, BigInt]): Map[Long, BigInt] = {
    val u = collection.mutable.HashMap.empty[Long, BigInt]
    for ((i, j, w) <- entries; xj <- x.get(j))
      u(i) = u.getOrElse(i, BigInt(0)) + w * xj
    u.toMap
  }

  /** A `LocalRelation` of driver-computed tuples under the DDL schema
    * `ddl`, whose columns are nullable unless declared NOT NULL. */
  def local(s: SparkSession, ddl: String, rows: Seq[Product]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromTuple): _*),
      StructType.fromDDL(ddl))

  /** floor(x·scale / by) in doubles, each integer converted by Spark's
    * own `Decimal`: bit-identical to Spark's
    * `floor(cast(x AS double) * scale / cast(by AS double))`. A zero
    * `by` fails, as Spark's ANSI division does. */
  def renorm(x: BigInt, scale: Double, by: BigInt): Long = {
    if (by == 0) throw new ArithmeticException("renorm: division by zero")
    math.floor(Decimal(x).toDouble * scale / Decimal(by).toDouble).toLong
  }
}
