package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Transverse-Mercator projection as pure column expressions — the
  * engine-native replacement for the reference's ST_Transform calls
  * (duckpipe/core.py:140-152 transforms input EPSG:xxxx →
  * EPSG:5179 on ingest; CoordinateCalculator.py emits both CRS).
  *
  * Implements the standard TM series (Snyder, "Map Projections — A
  * Working Manual", USGS PP 1395, eqs. 8-9…8-17 and 3-21) on GRS80.
  * Everything is plain arithmetic on Columns → whole-stage codegen,
  * fully distributed, no UDF boundary.
  *
  * Default parameters are EPSG:5179 (Korea 2000 / Unified CS):
  * lat0=38°, lon0=127.5°, k0=0.9996, FE=1 000 000, FN=2 000 000.
  */
object Proj {
  /** A supported projected CRS: transverse-Mercator (Tm), Lambert
    * conformal conic 2SP (Lcc) or Albers equal-area conic (Aea) —
    * the three families that cover the reference's realistic
    * ST_Transform inputs (core.py:138-152 accepts any EPSG; TM/UTM
    * plus the two conic families span national grids, Lambert-93 /
    * ETRS89-LCC, State Plane and continental equal-area grids). */
  sealed trait Crs

  final case class Tm(
      a: Double = 6378137.0,            // GRS80 semi-major
      f: Double = 1.0 / 298.257222101,  // GRS80 flattening
      lat0Deg: Double = 38.0,
      lon0Deg: Double = 127.5,
      k0: Double = 0.9996,
      fe: Double = 1000000.0,
      fn: Double = 2000000.0) extends Crs {
    val e2: Double = 2 * f - f * f
    val ep2: Double = e2 / (1 - e2)
    val c0: Double = 1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * math.pow(e2, 3) / 256
    val c2: Double = 3 * e2 / 8 + 3 * e2 * e2 / 32 + 45 * math.pow(e2, 3) / 1024
    val c4: Double = 15 * e2 * e2 / 256 + 45 * math.pow(e2, 3) / 1024
    val c6: Double = 35 * math.pow(e2, 3) / 3072
    def mOf(phi: Double): Double =
      a * (c0 * phi - c2 * math.sin(2 * phi) + c4 * math.sin(4 * phi) -
        c6 * math.sin(6 * phi))
    val m0: Double = mOf(math.toRadians(lat0Deg))
    val e1: Double = {
      val s = math.sqrt(1 - e2); (1 - s) / (1 + s)
    }
  }
  val Epsg5179: Tm = Tm()

  /** Lambert conformal conic, 2 standard parallels (Snyder PP 1395,
    * eqs. 15-1…15-11; inverse latitude via the χ series, eq. 3-5 —
    * no iteration, so everything stays a closed-form column tree). */
  final case class Lcc(
      a: Double = 6378137.0,
      f: Double = 1.0 / 298.257222101,
      lat1Deg: Double, lat2Deg: Double,
      lat0Deg: Double, lon0Deg: Double,
      fe: Double, fn: Double) extends Crs {
    val e2: Double = 2 * f - f * f
    val e: Double = math.sqrt(e2)
    private def mOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1 - e2 * s * s)
    }
    private def tOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.tan(math.Pi / 4 - phi / 2) /
        math.pow((1 - e * s) / (1 + e * s), e / 2)
    }
    private val phi1 = math.toRadians(lat1Deg)
    private val phi2 = math.toRadians(lat2Deg)
    private val phi0 = math.toRadians(lat0Deg)
    val n: Double =
      (math.log(mOf(phi1)) - math.log(mOf(phi2))) /
        (math.log(tOf(phi1)) - math.log(tOf(phi2)))
    val bigF: Double = mOf(phi1) / (n * math.pow(tOf(phi1), n))
    val rho0: Double = a * bigF * math.pow(tOf(phi0), n)
    // inverse conformal-latitude series coefficients (Snyder 3-5)
    val i2: Double = e2 / 2 + 5 * math.pow(e2, 2) / 24 +
      math.pow(e2, 3) / 12 + 13 * math.pow(e2, 4) / 360
    val i4: Double = 7 * math.pow(e2, 2) / 48 +
      29 * math.pow(e2, 3) / 240 + 811 * math.pow(e2, 4) / 11520
    val i6: Double = 7 * math.pow(e2, 3) / 120 +
      81 * math.pow(e2, 4) / 1120
    val i8: Double = 4279 * math.pow(e2, 4) / 161280
  }

  /** Albers equal-area conic (Snyder PP 1395, eqs. 14-1…14-21;
    * inverse latitude via the authalic β series, eq. 3-18). */
  final case class Aea(
      a: Double = 6378137.0,
      f: Double = 1.0 / 298.257222101,
      lat1Deg: Double, lat2Deg: Double,
      lat0Deg: Double, lon0Deg: Double,
      fe: Double, fn: Double) extends Crs {
    val e2: Double = 2 * f - f * f
    val e: Double = math.sqrt(e2)
    private def mOf(phi: Double): Double = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1 - e2 * s * s)
    }
    private def qOf(phi: Double): Double = {
      val s = math.sin(phi)
      (1 - e2) * (s / (1 - e2 * s * s) -
        (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
    }
    private val phi1 = math.toRadians(lat1Deg)
    private val phi2 = math.toRadians(lat2Deg)
    private val phi0 = math.toRadians(lat0Deg)
    val n: Double =
      (mOf(phi1) * mOf(phi1) - mOf(phi2) * mOf(phi2)) /
        (qOf(phi2) - qOf(phi1))
    val bigC: Double = mOf(phi1) * mOf(phi1) + n * qOf(phi1)
    val rho0: Double = a * math.sqrt(bigC - n * qOf(phi0)) / n
    val qp: Double = qOf(math.Pi / 2)
    // inverse authalic-latitude series coefficients (Snyder 3-18)
    val b2: Double = e2 / 3 + 31 * math.pow(e2, 2) / 180 +
      517 * math.pow(e2, 3) / 5040
    val b4: Double = 23 * math.pow(e2, 2) / 360 +
      251 * math.pow(e2, 3) / 3780
    val b6: Double = 761 * math.pow(e2, 3) / 45360
  }

  /** Polar stereographic, variant B (EPSG method 9829; Snyder PP 1395
    * p. 160-163, worked example p. 315): polar aspect with a standard
    * parallel — the polar-science CRS family (EPSG 3031 Antarctic,
    * 3413 NSIDC Arctic). The south aspect reuses the north-form
    * conformal machinery via the sign symmetry t_south(φ) =
    * t_north(−φ); inverse latitude via the same conformal-latitude
    * series as Lcc (Snyder 3-5) — closed form, no iteration, so both
    * directions stay single column trees the oracle replays. */
  final case class Ps(
      a: Double = 6378137.0,
      f: Double = 1.0 / 298.257223563,  // WGS84 (3031/3413 datum)
      latFDeg: Double, lon0Deg: Double,
      north: Boolean,
      fe: Double, fn: Double) extends Crs {
    val e2: Double = 2 * f - f * f
    val e: Double = math.sqrt(e2)
    private val phiF = math.toRadians(math.abs(latFDeg))
    val mF: Double =
      math.cos(phiF) / math.sqrt(1 - e2 * math.sin(phiF) * math.sin(phiF))
    val tF: Double = {
      val s = math.sin(phiF)
      math.tan(math.Pi / 4 - phiF / 2) /
        math.pow((1 - e * s) / (1 + e * s), e / 2)
    }
    /** ρ = kRho·t — the whole forward radial scale in one constant. */
    val kRho: Double = a * mF / tF
    // inverse conformal-latitude series coefficients (Snyder 3-5)
    val i2: Double = e2 / 2 + 5 * math.pow(e2, 2) / 24 +
      math.pow(e2, 3) / 12 + 13 * math.pow(e2, 4) / 360
    val i4: Double = 7 * math.pow(e2, 2) / 48 +
      29 * math.pow(e2, 3) / 240 + 811 * math.pow(e2, 4) / 11520
    val i6: Double = 7 * math.pow(e2, 3) / 120 +
      81 * math.pow(e2, 4) / 1120
    val i8: Double = 4279 * math.pow(e2, 4) / 161280
  }

  /** EPSG registry for the TM/UTM family — the engine-native analogue
    * of the reference's arbitrary-EPSG ingest (duckpipe/core.py:118-152
    * accepts any input EPSG and ST_Transforms to 5179). Codes covered:
    * the Korea 2000 belts (5179 unified, 5185/5186/5187 west/central/
    * east on GRS80) and the global UTM grid (326xx north / 327xx south
    * on WGS84). Datum shifts are out of scope: all supported datums are
    * GRS80/WGS84, which agree below 1 mm.
    */
  def epsg(code: Int): Crs = code match {
    case 5179 => Epsg5179
    case 5185 => Tm(lat0Deg = 38.0, lon0Deg = 125.0, k0 = 1.0,
      fe = 200000.0, fn = 600000.0)
    case 5186 => Tm(lat0Deg = 38.0, lon0Deg = 127.0, k0 = 1.0,
      fe = 200000.0, fn = 600000.0)
    case 5187 => Tm(lat0Deg = 38.0, lon0Deg = 129.0, k0 = 1.0,
      fe = 200000.0, fn = 600000.0)
    case z if z >= 32601 && z <= 32660 =>
      Tm(f = 1.0 / 298.257223563, lat0Deg = 0.0,
        lon0Deg = (z - 32600) * 6.0 - 183.0, k0 = 0.9996,
        fe = 500000.0, fn = 0.0)
    case z if z >= 32701 && z <= 32760 =>
      Tm(f = 1.0 / 298.257223563, lat0Deg = 0.0,
        lon0Deg = (z - 32700) * 6.0 - 183.0, k0 = 0.9996,
        fe = 500000.0, fn = 10000000.0)
    // Lambert conformal conic family
    case 2154 => Lcc(lat1Deg = 49.0, lat2Deg = 44.0, lat0Deg = 46.5,
      lon0Deg = 3.0, fe = 700000.0, fn = 6600000.0) // RGF93 / Lambert-93
    case 3034 => Lcc(lat1Deg = 35.0, lat2Deg = 65.0, lat0Deg = 52.0,
      lon0Deg = 10.0, fe = 4000000.0, fn = 2800000.0) // ETRS89-LCC Europe
    // Albers equal-area conic family
    case 3031 => Ps(latFDeg = -71.0, lon0Deg = 0.0, north = false,
      fe = 0.0, fn = 0.0)       // WGS84 Antarctic Polar Stereographic
    case 3413 => Ps(latFDeg = 70.0, lon0Deg = -45.0, north = true,
      fe = 0.0, fn = 0.0)       // NSIDC Sea Ice Polar Stereographic North
    case 5070 => Aea(lat1Deg = 29.5, lat2Deg = 45.5, lat0Deg = 23.0,
      lon0Deg = -96.0, fe = 0.0, fn = 0.0) // NAD83 / Conus Albers
    case other => throw new IllegalArgumentException(
      s"unsupported EPSG:$other — TM/UTM (5179, 5185-5187, " +
        "32601-32660, 32701-32760), LCC (2154, 3034), " +
        "Albers (5070) and polar stereographic (3031, 3413) " +
        "families only")
  }

  /** Geographic → projected for any supported CRS family. */
  def fwd(c: Crs, lonDeg: Column, latDeg: Column): Column = c match {
    case t: Tm  => forward(lonDeg, latDeg, t)
    case l: Lcc => forwardLcc(lonDeg, latDeg, l)
    case a: Aea => forwardAea(lonDeg, latDeg, a)
    case p: Ps  => forwardPs(lonDeg, latDeg, p)
  }

  /** Projected → geographic for any supported CRS family. */
  def inv(c: Crs, x: Column, y: Column): Column = c match {
    case t: Tm  => inverse(x, y, t)
    case l: Lcc => inverseLcc(x, y, l)
    case a: Aea => inverseAea(x, y, a)
    case p: Ps  => inversePs(x, y, p)
  }

  /** Projected (x, y) in `from` → projected struct(x, y) in `to`, via
    * the geographic pivot (inverse then forward) — the reference's
    * ST_Transform between projected CRSs. Staged as `transformAll`
    * over a one-vertex array: an inline `fwd(inv(…))` copies the whole
    * inverse tree into every one of the forward series' references,
    * which took seconds to plan per query. */
  def transform(x: Column, y: Column, from: Crs, to: Crs): Column =
    element_at(transformAll(array(x), array(y), from, to), 1)

  /** Vertex arrays (xs, ys) in `from` → array of struct(x, y) in `to`.
    * The pivot runs as two lambda passes: the inverse builds a
    * struct(lon, lat) per vertex, and the forward series reads that
    * pass's lambda variable, so each vertex's expression is the two
    * series side by side. No subexpression elimination reaches inside
    * a lambda, so the nested form would evaluate (and plan) one
    * inverse per forward reference. */
  def transformAll(xs: Column, ys: Column, from: Crs, to: Crs): Column =
    org.apache.spark.sql.functions.transform(
      zip_with(xs, ys, (x, y) => inv(from, x, y)),
      g => fwd(to, g.getField("lon"), g.getField("lat")))

  // ---- Lambert conformal conic (column expressions) --------------------
  /** (lonDeg, latDeg) → struct(x, y) meters under LCC 2SP. */
  def forwardLcc(lonDeg: Column, latDeg: Column, p: Lcc): Column = {
    val phi = radians(latDeg)
    val lam = radians(lonDeg)
    val esin = lit(p.e) * sin(phi)
    val t = tan(lit(math.Pi / 4) - phi / 2) /
      pow((lit(1.0) - esin) / (lit(1.0) + esin), lit(p.e / 2))
    val rho = lit(p.a * p.bigF) * pow(t, lit(p.n))
    val th = lit(p.n) * (lam - lit(math.toRadians(p.lon0Deg)))
    struct((lit(p.fe) + rho * sin(th)).as("x"),
      (lit(p.fn) + lit(p.rho0) - rho * cos(th)).as("y"))
  }

  /** (x, y) meters under LCC 2SP → struct(lon, lat) degrees. */
  def inverseLcc(x: Column, y: Column, p: Lcc): Column = {
    val dx = x - lit(p.fe)
    val dy = lit(p.rho0) - (y - lit(p.fn))
    val rho = sqrt(dx * dx + dy * dy)
    val tq = pow(rho / lit(p.a * p.bigF), lit(1.0 / p.n))
    val chi = lit(math.Pi / 2) - atan(tq) * 2
    val phi = chi + lit(p.i2) * sin(chi * 2) + lit(p.i4) * sin(chi * 4) +
      lit(p.i6) * sin(chi * 6) + lit(p.i8) * sin(chi * 8)
    val lam = lit(math.toRadians(p.lon0Deg)) + atan2(dx, dy) / lit(p.n)
    struct(degrees(lam).as("lon"), degrees(phi).as("lat"))
  }

  // ---- Albers equal-area conic (column expressions) ---------------------
  private def qCol(p: Aea, phi: Column): Column = {
    val s = sin(phi)
    lit(1 - p.e2) * (s / (lit(1.0) - lit(p.e2) * s * s) -
      lit(1.0 / (2 * p.e)) *
        log((lit(1.0) - lit(p.e) * s) / (lit(1.0) + lit(p.e) * s)))
  }

  /** (lonDeg, latDeg) → struct(x, y) meters under Albers EAC. */
  def forwardAea(lonDeg: Column, latDeg: Column, p: Aea): Column = {
    val phi = radians(latDeg)
    val lam = radians(lonDeg)
    val rho = lit(p.a) * sqrt(lit(p.bigC) - lit(p.n) * qCol(p, phi)) / lit(p.n)
    val th = lit(p.n) * (lam - lit(math.toRadians(p.lon0Deg)))
    struct((lit(p.fe) + rho * sin(th)).as("x"),
      (lit(p.fn) + lit(p.rho0) - rho * cos(th)).as("y"))
  }

  /** (x, y) meters under Albers EAC → struct(lon, lat) degrees.
    * ρ only ever appears squared in the inverse, so ρ² = dx²+dy² is
    * used directly (no sqrt∘square round-trip to mirror). */
  def inverseAea(x: Column, y: Column, p: Aea): Column = {
    val dx = x - lit(p.fe)
    val dy = lit(p.rho0) - (y - lit(p.fn))
    val rho2 = dx * dx + dy * dy
    val q = (lit(p.bigC) - rho2 * lit(p.n * p.n / (p.a * p.a))) / lit(p.n)
    val beta = asin(q / lit(p.qp))
    val phi = beta + lit(p.b2) * sin(beta * 2) + lit(p.b4) * sin(beta * 4) +
      lit(p.b6) * sin(beta * 6)
    val lam = lit(math.toRadians(p.lon0Deg)) + atan2(dx, dy) / lit(p.n)
    struct(degrees(lam).as("lon"), degrees(phi).as("lat"))
  }

  // ---- polar stereographic variant B (column expressions) --------------
  /** (lonDeg, latDeg) → struct(x, y) meters under polar stereographic.
    * South aspect via t_south(φ) = t_north(−φ) and N = FN + ρ·cosΔλ
    * (EPSG GN 7-2 south-pole case); north: N = FN − ρ·cosΔλ. */
  def forwardPs(lonDeg: Column, latDeg: Column, p: Ps): Column = {
    val phi = if (p.north) radians(latDeg) else -radians(latDeg)
    val lam = radians(lonDeg)
    val esin = lit(p.e) * sin(phi)
    val t = tan(lit(math.Pi / 4) - phi / 2) /
      pow((lit(1.0) - esin) / (lit(1.0) + esin), lit(p.e / 2))
    val rho = lit(p.kRho) * t
    val dl = lam - lit(math.toRadians(p.lon0Deg))
    val y = if (p.north) lit(p.fn) - rho * cos(dl)
            else lit(p.fn) + rho * cos(dl)
    struct((lit(p.fe) + rho * sin(dl)).as("x"), y.as("y"))
  }

  /** (x, y) meters under polar stereographic → struct(lon, lat) degrees
    * via the conformal-latitude series (no iteration). */
  def inversePs(x: Column, y: Column, p: Ps): Column = {
    val dx = x - lit(p.fe)
    val dyn = if (p.north) lit(p.fn) - y else y - lit(p.fn)
    val rho = sqrt(dx * dx + dyn * dyn)
    val chi = lit(math.Pi / 2) - atan(rho / lit(p.kRho)) * 2
    val phiN = chi + lit(p.i2) * sin(chi * 2) + lit(p.i4) * sin(chi * 4) +
      lit(p.i6) * sin(chi * 6) + lit(p.i8) * sin(chi * 8)
    val phi = if (p.north) phiN else -phiN
    val lam = lit(math.toRadians(p.lon0Deg)) + atan2(dx, dyn)
    struct(degrees(lam).as("lon"), degrees(phi).as("lat"))
  }

  private def mCol(p: Tm, phi: Column): Column =
    lit(p.a) * (lit(p.c0) * phi - lit(p.c2) * sin(phi * 2) +
      lit(p.c4) * sin(phi * 4) - lit(p.c6) * sin(phi * 6))

  /** (lonDeg, latDeg) → struct(x, y) projected meters. */
  def forward(lonDeg: Column, latDeg: Column, p: Tm = Epsg5179): Column = {
    val phi = radians(latDeg)
    val lam = radians(lonDeg)
    val sinP = sin(phi); val cosP = cos(phi); val tanP = sinP / cosP
    val n = lit(p.a) / sqrt(lit(1.0) - lit(p.e2) * sinP * sinP)
    val t = tanP * tanP
    val c = lit(p.ep2) * cosP * cosP
    val aa = (lam - lit(math.toRadians(p.lon0Deg))) * cosP
    val aa2 = aa * aa; val aa3 = aa2 * aa; val aa4 = aa3 * aa
    val aa5 = aa4 * aa; val aa6 = aa5 * aa
    val x = lit(p.fe) + lit(p.k0) * n * (aa +
      (lit(1.0) - t + c) * aa3 / 6 +
      (lit(5.0) - t * 18 + t * t + c * 72 - lit(58 * p.ep2)) * aa5 / 120)
    val y = lit(p.fn) + lit(p.k0) * (mCol(p, phi) - lit(p.m0) + n * tanP * (
      aa2 / 2 +
      (lit(5.0) - t + c * 9 + c * c * 4) * aa4 / 24 +
      (lit(61.0) - t * 58 + t * t + c * 600 - lit(330 * p.ep2)) * aa6 / 720))
    struct(x.as("x"), y.as("y"))
  }

  /** (x, y) projected meters → struct(lon, lat) degrees. */
  def inverse(x: Column, y: Column, p: Tm = Epsg5179): Column = {
    val m = lit(p.m0) + (y - lit(p.fn)) / lit(p.k0)
    val mu = m / lit(p.a * p.c0)
    val e1 = p.e1
    val phi1 = mu +
      lit(3 * e1 / 2 - 27 * math.pow(e1, 3) / 32) * sin(mu * 2) +
      lit(21 * e1 * e1 / 16 - 55 * math.pow(e1, 4) / 32) * sin(mu * 4) +
      lit(151 * math.pow(e1, 3) / 96) * sin(mu * 6) +
      lit(1097 * math.pow(e1, 4) / 512) * sin(mu * 8)
    val sinP1 = sin(phi1); val cosP1 = cos(phi1); val tanP1 = sinP1 / cosP1
    val c1 = lit(p.ep2) * cosP1 * cosP1
    val t1 = tanP1 * tanP1
    val oneMinusE2Sin2 = lit(1.0) - lit(p.e2) * sinP1 * sinP1
    val n1 = lit(p.a) / sqrt(oneMinusE2Sin2)
    val r1 = lit(p.a * (1 - p.e2)) / pow(oneMinusE2Sin2, 1.5)
    val d = (x - lit(p.fe)) / (n1 * lit(p.k0))
    val d2 = d * d; val d3 = d2 * d; val d4 = d3 * d
    val d5 = d4 * d; val d6 = d5 * d
    val phi = phi1 - (n1 * tanP1 / r1) * (
      d2 / 2 -
      (lit(5.0) + t1 * 3 + c1 * 10 - c1 * c1 * 4 - lit(9 * p.ep2)) * d4 / 24 +
      (lit(61.0) + t1 * 90 + c1 * 298 + t1 * t1 * 45 - lit(252 * p.ep2) -
        c1 * c1 * 3) * d6 / 720)
    val lam = lit(math.toRadians(p.lon0Deg)) + (d -
      (lit(1.0) + t1 * 2 + c1) * d3 / 6 +
      (lit(5.0) - c1 * 2 + t1 * 28 - c1 * c1 * 3 + lit(8 * p.ep2) +
        t1 * t1 * 24) * d5 / 120) / cosP1
    struct(degrees(lam).as("lon"), degrees(phi).as("lat"))
  }

  // ---- SQL mirrors (oracle gate) --------------------------------------
  // The same series as column expressions, emitted as SQL CTE fragments
  // so DuckDB can replay the projection. +,−,×,÷,sqrt are IEEE-exact in
  // both engines; sin/cos/pow may differ in the last ulp, which the
  // oracle-side ROUND absorbs (see GeoQueries.coordinateSql).

  private def d17(x: Double): String = {
    val s = "%.17e".format(x)
    s // full round-trip precision
  }

  /** SQL projecting columns `lon`, `lat` (degrees) of CTE `src` into
    * x/y meters; yields a SELECT with id + tm_x/tm_y. */
  def forwardSql(p: Tm, src: String): String = s"""
    SELECT id, lon, lat, tm_x, tm_y FROM (
      SELECT *,
        ${d17(p.fe)} + ${d17(p.k0)} * n * (aa +
          (1.0 - t + c) * aa*aa*aa / 6 +
          (5.0 - t * 18 + t * t + c * 72 - ${d17(58 * p.ep2)}) * aa*aa*aa*aa*aa / 120) AS tm_x,
        ${d17(p.fn)} + ${d17(p.k0)} * (m - ${d17(p.m0)} + n * tanp * (
          aa*aa / 2 +
          (5.0 - t + c * 9 + c * c * 4) * aa*aa*aa*aa / 24 +
          (61.0 - t * 58 + t * t + c * 600 - ${d17(330 * p.ep2)}) * aa*aa*aa*aa*aa*aa / 720)) AS tm_y
      FROM (
        SELECT *, tanp * tanp AS t,
               ${d17(p.ep2)} * cosp * cosp AS c,
               (lam - ${d17(math.toRadians(p.lon0Deg))}) * cosp AS aa,
               ${d17(p.a)} * (${d17(p.c0)} * phi - ${d17(p.c2)} * sin(phi * 2) +
                 ${d17(p.c4)} * sin(phi * 4) - ${d17(p.c6)} * sin(phi * 6)) AS m
        FROM (
          SELECT *, sin(phi) AS sinp, cos(phi) AS cosp,
                 sin(phi) / cos(phi) AS tanp,
                 ${d17(p.a)} / sqrt(1.0 - ${d17(p.e2)} * sin(phi) * sin(phi)) AS n
          FROM (SELECT *, radians(lat) AS phi, radians(lon) AS lam FROM $src)
        )
      )
    )"""

  /** SQL round-trip replay for LCC 2SP: given CTE `src`(id, lon, lat),
    * yields id + cx/cy (forward, unrounded) + ilon/ilat (inverse of
    * the forward) — the same closed-form series as the column
    * expressions, constants embedded at full precision. */
  def lccRoundtripSql(p: Lcc, src: String): String = s"""
    SELECT id, cx, cy,
      degrees(${d17(math.toRadians(p.lon0Deg))} + atan2(dx, dy) / ${d17(p.n)})
        AS ilon,
      degrees(chi + ${d17(p.i2)} * sin(chi * 2) + ${d17(p.i4)} * sin(chi * 4)
        + ${d17(p.i6)} * sin(chi * 6) + ${d17(p.i8)} * sin(chi * 8)) AS ilat
    FROM (
      SELECT *, ${d17(math.Pi / 2)}
          - 2 * atan(pow(sqrt(dx*dx + dy*dy) / ${d17(p.a * p.bigF)},
                         ${d17(1.0 / p.n)})) AS chi
      FROM (
        SELECT *, cx - ${d17(p.fe)} AS dx,
               ${d17(p.rho0)} - (cy - ${d17(p.fn)}) AS dy
        FROM (
          SELECT id, ${d17(p.fe)} + rho * sin(th) AS cx,
                 ${d17(p.fn)} + ${d17(p.rho0)} - rho * cos(th) AS cy
          FROM (
            SELECT *, ${d17(p.a * p.bigF)} * pow(t, ${d17(p.n)}) AS rho,
                   ${d17(p.n)} * (lam - ${d17(math.toRadians(p.lon0Deg))}) AS th
            FROM (
              SELECT *, tan(${d17(math.Pi / 4)} - phi / 2)
                / pow((1.0 - ${d17(p.e)} * sin(phi))
                      / (1.0 + ${d17(p.e)} * sin(phi)), ${d17(p.e / 2)}) AS t
              FROM (SELECT *, radians(lat) AS phi, radians(lon) AS lam
                    FROM $src))))))"""

  /** SQL round-trip replay for polar stereographic (see
    * lccRoundtripSql): forward to cx/cy then back to ilon/ilat. */
  def psRoundtripSql(p: Ps, src: String): String = {
    val sgn = if (p.north) "" else "-"
    val yTerm = if (p.north) "-" else "+"
    s"""
    SELECT id, cx, cy,
      degrees(${d17(math.toRadians(p.lon0Deg))} + atan2(dx, dyn)) AS ilon,
      degrees($sgn(chi + ${d17(p.i2)} * sin(chi * 2)
        + ${d17(p.i4)} * sin(chi * 4) + ${d17(p.i6)} * sin(chi * 6)
        + ${d17(p.i8)} * sin(chi * 8))) AS ilat
    FROM (
      SELECT *, ${d17(math.Pi / 2)}
          - 2 * atan(sqrt(dx*dx + dyn*dyn) / ${d17(p.kRho)}) AS chi
      FROM (
        SELECT *, cx - ${d17(p.fe)} AS dx,
               ${if (p.north) s"${d17(p.fn)} - cy" else s"cy - ${d17(p.fn)}"}
                 AS dyn
        FROM (
          SELECT id, ${d17(p.fe)} + rho * sin(dl) AS cx,
                 ${d17(p.fn)} $yTerm rho * cos(dl) AS cy
          FROM (
            SELECT *, ${d17(p.kRho)} * t AS rho,
                   lam - ${d17(math.toRadians(p.lon0Deg))} AS dl
            FROM (
              SELECT *, tan(${d17(math.Pi / 4)} - phi / 2)
                / pow((1.0 - ${d17(p.e)} * sin(phi))
                      / (1.0 + ${d17(p.e)} * sin(phi)), ${d17(p.e / 2)}) AS t
              FROM (SELECT *, ${sgn}radians(lat) AS phi, radians(lon) AS lam
                    FROM $src))))))"""
  }

  /** SQL round-trip replay for Albers EAC (see lccRoundtripSql). */
  def aeaRoundtripSql(p: Aea, src: String): String = s"""
    SELECT id, cx, cy,
      degrees(${d17(math.toRadians(p.lon0Deg))} + atan2(dx, dy) / ${d17(p.n)})
        AS ilon,
      degrees(beta + ${d17(p.b2)} * sin(beta * 2)
        + ${d17(p.b4)} * sin(beta * 4) + ${d17(p.b6)} * sin(beta * 6)) AS ilat
    FROM (
      SELECT *, asin(qq / ${d17(p.qp)}) AS beta
      FROM (
        SELECT *, (${d17(p.bigC)}
            - (dx*dx + dy*dy) * ${d17(p.n * p.n / (p.a * p.a))})
            / ${d17(p.n)} AS qq
        FROM (
          SELECT *, cx - ${d17(p.fe)} AS dx,
                 ${d17(p.rho0)} - (cy - ${d17(p.fn)}) AS dy
          FROM (
            SELECT id, ${d17(p.fe)} + rho * sin(th) AS cx,
                   ${d17(p.fn)} + ${d17(p.rho0)} - rho * cos(th) AS cy
            FROM (
              SELECT *, ${d17(p.a)} * sqrt(${d17(p.bigC)} - ${d17(p.n)} * q)
                        / ${d17(p.n)} AS rho,
                     ${d17(p.n)} * (lam - ${d17(math.toRadians(p.lon0Deg))})
                       AS th
              FROM (
                SELECT *, ${d17(1 - p.e2)} * (
                    sin(phi) / (1.0 - ${d17(p.e2)} * sin(phi) * sin(phi))
                    - ${d17(1.0 / (2 * p.e))}
                      * ln((1.0 - ${d17(p.e)} * sin(phi))
                           / (1.0 + ${d17(p.e)} * sin(phi)))) AS q
                FROM (SELECT *, radians(lat) AS phi, radians(lon) AS lam
                      FROM $src)))))))"""

  /** SQL un-projecting columns `tm_x`, `tm_y` (meters) of CTE `src`
    * back to lon/lat degrees; yields a SELECT with id + wgs_x/wgs_y. */
  def inverseSql(p: Tm, src: String): String = s"""
    SELECT id, tm_x, tm_y,
      degrees(${d17(math.toRadians(p.lon0Deg))} + (d -
        (1.0 + t1 * 2 + c1) * d*d*d / 6 +
        (5.0 - c1 * 2 + t1 * 28 - c1 * c1 * 3 + ${d17(8 * p.ep2)} +
          t1 * t1 * 24) * d*d*d*d*d / 120) / cosp1) AS wgs_x,
      degrees(phi1 - (n1 * tanp1 / r1) * (
        d*d / 2 -
        (5.0 + t1 * 3 + c1 * 10 - c1 * c1 * 4 - ${d17(9 * p.ep2)}) * d*d*d*d / 24 +
        (61.0 + t1 * 90 + c1 * 298 + t1 * t1 * 45 - ${d17(252 * p.ep2)} -
          c1 * c1 * 3) * d*d*d*d*d*d / 720)) AS wgs_y
    FROM (
      SELECT *, (tm_x - ${d17(p.fe)}) / (n1 * ${d17(p.k0)}) AS d
      FROM (
        SELECT *, tanp1 * tanp1 AS t1,
               ${d17(p.ep2)} * cosp1 * cosp1 AS c1,
               ${d17(p.a)} / sqrt(ome2) AS n1,
               ${d17(p.a * (1 - p.e2))} / pow(ome2, 1.5) AS r1
        FROM (
          SELECT *, sin(phi1) AS sinp1, cos(phi1) AS cosp1,
                 sin(phi1) / cos(phi1) AS tanp1,
                 1.0 - ${d17(p.e2)} * sin(phi1) * sin(phi1) AS ome2
          FROM (
            SELECT *, mu +
              ${d17(3 * p.e1 / 2 - 27 * math.pow(p.e1, 3) / 32)} * sin(mu * 2) +
              ${d17(21 * p.e1 * p.e1 / 16 - 55 * math.pow(p.e1, 4) / 32)} * sin(mu * 4) +
              ${d17(151 * math.pow(p.e1, 3) / 96)} * sin(mu * 6) +
              ${d17(1097 * math.pow(p.e1, 4) / 512)} * sin(mu * 8) AS phi1
            FROM (
              SELECT *, (${d17(p.m0)} + (tm_y - ${d17(p.fn)}) / ${d17(p.k0)})
                          / ${d17(p.a * p.c0)} AS mu
              FROM $src)
          )
        )
      )
    )"""
}
