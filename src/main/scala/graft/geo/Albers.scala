package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** EPSG:4326 → EPSG:3005 (NAD83 / BC Albers) forward projection.
  *
  * The reference delegates this to PostGIS `ST_Transform(geom, 3005)`
  * (/root/reference/sql_to_line.py:215). No proj4j/Sedona/GeoTools is on the
  * classpath, so the ellipsoidal Albers Equal-Area Conic forward formulas are
  * implemented directly from public knowledge: Snyder, *Map Projections — A
  * Working Manual* (USGS PP 1395, 1987), eqns 14-1..14-4 + 3-12, with the
  * EPSG:3005 parameter set (GRS80; lat0=45, lon0=-126, sp1=50, sp2=58.5,
  * FE=1_000_000 m, FN=0). NAD83 ≈ WGS84 (identity datum shift).
  *
  * The projection is defined ONCE as a formula tree over the tiny algebra
  * [[Alg]], then instantiated twice: as Spark `Column`s (codegen'd built-in
  * math functions — stays inside WholeStageCodegen) and as a SQL string for
  * the DuckDB oracle. Both engines therefore evaluate the *identical* IEEE
  * double expression tree; the only cross-engine risk is libm ulp drift in
  * sin/cos/ln, absorbed by rounding declared outputs to 2 dp (meter scale).
  *
  * The `Column` form is an expression tree (five math-function calls per
  * point), copied wherever it is used. Bind each result to a named column
  * once, as `Segments.withProjected` does, and build on that column:
  * inlined at every use, the trees made one generated method larger than
  * HotSpot's 8000-byte `HugeMethodLimit`, which the JIT does not compile.
  */
object Albers {
  // GRS80 ellipsoid + EPSG:3005 parameters (public EPSG registry values).
  val aEll = 6378137.0
  val invF = 298.257222101
  private val f  = 1.0 / invF
  val e2: Double = 2 * f - f * f
  val e: Double  = math.sqrt(e2)
  private val d2r  = math.Pi / 180.0
  private val phi0 = 45.0 * d2r
  val lam0: Double = -126.0 * d2r
  private val phi1 = 50.0 * d2r
  private val phi2 = 58.5 * d2r
  val FE = 1000000.0
  val FN = 0.0

  /** Snyder eqn 3-12: authalic-latitude q. */
  private def qOf(phi: Double): Double = {
    val s = math.sin(phi)
    (1 - e2) * (s / (1 - e2 * s * s) - (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
  }
  /** Snyder eqn 14-15: m. */
  private def mOf(phi: Double): Double = {
    val s = math.sin(phi)
    math.cos(phi) / math.sqrt(1 - e2 * s * s)
  }

  // Projection constants (data-independent → computed once on the driver and
  // inlined as literals in BOTH engines, so they are bit-identical).
  private val q0 = qOf(phi0)
  private val q1 = qOf(phi1)
  private val q2 = qOf(phi2)
  private val m1 = mOf(phi1)
  private val m2 = mOf(phi2)
  val n: Double    = (m1 * m1 - m2 * m2) / (q2 - q1)      // Snyder 14-14
  val bigC: Double = m1 * m1 + n * q1                      // Snyder 14-13
  val rho0: Double = aEll * math.sqrt(bigC - n * q0) / n   // Snyder 14-12a

  /** Minimal double-expression algebra: one formula definition, two targets. */
  trait Alg[T] {
    def lit(d: Double): T
    def add(a: T, b: T): T
    def sub(a: T, b: T): T
    def mul(a: T, b: T): T
    def div(a: T, b: T): T
    def sin(a: T): T
    def cos(a: T): T
    def ln(a: T): T
    def sqrt(a: T): T
  }

  object ColumnAlg extends Alg[Column] {
    def lit(d: Double): Column            = org.apache.spark.sql.functions.lit(d)
    def add(a: Column, b: Column): Column = a + b
    def sub(a: Column, b: Column): Column = a - b
    def mul(a: Column, b: Column): Column = a * b
    def div(a: Column, b: Column): Column = a / b
    def sin(a: Column): Column            = org.apache.spark.sql.functions.sin(a)
    def cos(a: Column): Column            = org.apache.spark.sql.functions.cos(a)
    def ln(a: Column): Column             = org.apache.spark.sql.functions.log(a)
    def sqrt(a: Column): Column           = org.apache.spark.sql.functions.sqrt(a)
  }

  /** SQL-text algebra. `Double.toString` round-trips exactly, and DuckDB
    * parses decimal literals to nearest double, so literal values are
    * bit-identical across engines.
    */
  object SqlAlg extends Alg[String] {
    def lit(d: Double): String =
      if (d == d.floor && math.abs(d) < 1e15) s"CAST(${d.toLong} AS DOUBLE)"
      else s"CAST($d AS DOUBLE)"
    def add(a: String, b: String): String = s"($a + $b)"
    def sub(a: String, b: String): String = s"($a - $b)"
    def mul(a: String, b: String): String = s"($a * $b)"
    def div(a: String, b: String): String = s"($a / $b)"
    def sin(a: String): String            = s"sin($a)"
    def cos(a: String): String            = s"cos($a)"
    def ln(a: String): String             = s"ln($a)"
    def sqrt(a: String): String           = s"sqrt($a)"
  }

  /** Forward projection: (lonDeg, latDeg) → (easting, northing) meters.
    * Snyder eqns 14-1..14-4 with q from 3-12.
    */
  def forward[T](alg: Alg[T])(lonDeg: T, latDeg: T): (T, T) = {
    import alg._
    val phi = mul(latDeg, lit(d2r))
    val lam = mul(lonDeg, lit(d2r))
    val s   = sin(phi)
    // q = (1-e²)(s/(1-e²s²) − (1/2e)·ln((1−es)/(1+es)))
    val q = mul(
      lit(1 - e2),
      sub(
        div(s, sub(lit(1.0), mul(lit(e2), mul(s, s)))),
        mul(lit(1 / (2 * e)), ln(div(sub(lit(1.0), mul(lit(e), s)), add(lit(1.0), mul(lit(e), s)))))
      )
    )
    val rho   = div(mul(lit(aEll), sqrt(sub(lit(bigC), mul(lit(n), q)))), lit(n)) // 14-3
    val theta = mul(lit(n), sub(lam, lit(lam0)))                                  // 14-4
    val x     = add(lit(FE), mul(rho, sin(theta)))                                // 14-1
    val y     = add(lit(FN), sub(lit(rho0), mul(rho, cos(theta))))                // 14-2
    (x, y)
  }

  /** Spark side: easting/northing Columns from lon/lat degree Columns. */
  def eastNorth(lon: Column, lat: Column): (Column, Column) = forward(ColumnAlg)(lon, lat)

  /** Oracle side: easting/northing SQL expressions from lon/lat SQL exprs. */
  def eastNorthSql(lon: String, lat: String): (String, String) = forward(SqlAlg)(lon, lat)

  /** Plain-Scala reference evaluation (unit tests / fixtures). */
  object ScalaAlg extends Alg[Double] {
    def lit(d: Double): Double            = d
    def add(a: Double, b: Double): Double = a + b
    def sub(a: Double, b: Double): Double = a - b
    def mul(a: Double, b: Double): Double = a * b
    def div(a: Double, b: Double): Double = a / b
    def sin(a: Double): Double            = math.sin(a)
    def cos(a: Double): Double            = math.cos(a)
    def ln(a: Double): Double             = math.log(a)
    def sqrt(a: Double): Double           = math.sqrt(a)
  }
  def forwardScala(lonDeg: Double, latDeg: Double): (Double, Double) =
    forward(ScalaAlg)(lonDeg, latDeg)
}
