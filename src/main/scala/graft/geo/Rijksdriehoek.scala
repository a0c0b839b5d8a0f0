package graft.geo

/**
 * Rijksdriehoek (Dutch RD New, EPSG:28992) -> WGS84 conversion (the specs
 * hold the inverse series, for the round trip).
 *
 * Implements the published approximation polynomials by F.H. Schreutelkamp and
 * G.L. Strang van Hees ("Benaderingsformules voor de transformatie tussen RD- en
 * WGS84-kaartcoordinaten") — decimeter accuracy, which matches the reference
 * engine's semantics (reference: bag/rijksdriehoek.py:12-96, readme.MD:121-122).
 *
 * Pure, deterministic, allocation-light scalar math: safe to call from Spark UDFs
 * or a codegen'd Catalyst Expression; Catalyst may freely reorder/prune around it.
 */
object Rijksdriehoek {

  /** Base point: Onze Lieve Vrouwetoren, Amersfoort. */
  final val X0   = 155000.0
  final val Y0   = 463000.0
  final val Phi0 = 52.15517440
  final val Lam0 = 5.38720621

  // (p, q, coeff) terms: phi += k * dx^p * dy^q / 3600
  private val PqK: Array[(Int, Int, Double)] = Array(
    (0, 1, 3235.65389), (2, 0, -32.58297), (0, 2, -0.24750), (2, 1, -0.84978),
    (0, 3, -0.06550), (2, 2, -0.01709), (1, 0, -0.00738), (4, 0, 0.00530),
    (2, 3, -0.00039), (4, 1, 0.00033), (1, 1, -0.00012))

  private val PqL: Array[(Int, Int, Double)] = Array(
    (1, 0, 5260.52916), (1, 1, 105.94684), (1, 2, 2.45656), (3, 0, -0.81885),
    (1, 3, 0.05594), (3, 1, -0.05607), (0, 1, 0.01199), (3, 2, -0.00256),
    (1, 4, 0.00128), (0, 2, 0.00022), (2, 0, -0.00022), (5, 0, 0.00026))

  @inline private def ipow(base: Double, exp: Int): Double = {
    var r = 1.0; var i = 0
    while (i < exp) { r *= base; i += 1 }
    r
  }

  /** One polynomial series: base + sum of coeff * dx^p * dy^q / 3600 —
    * identical term order/association for every entry point, so the
    * scalar kernels, the tuple form, and the oracle's generated SQL stay
    * bit-identical. */
  @inline private def series(terms: Array[(Int, Int, Double)], base: Double,
      dx: Double, dy: Double): Double = {
    var acc = base
    var i = 0
    while (i < terms.length) {
      val (p, q, c) = terms(i)
      acc += c * ipow(dx, p) * ipow(dy, q) / 3600.0
      i += 1
    }
    acc
  }

  /** RD (x, y) meters -> WGS84 latitude degrees (its series only). */
  def rdToLat(x: Double, y: Double): Double =
    series(PqK, Phi0, 1e-5 * (x - X0), 1e-5 * (y - Y0))

  /** RD (x, y) meters -> WGS84 longitude degrees (its series only). */
  def rdToLon(x: Double, y: Double): Double =
    series(PqL, Lam0, 1e-5 * (x - X0), 1e-5 * (y - Y0))

  /** RD (x, y) meters -> (latitude, longitude) degrees. */
  def rdToWgs84(x: Double, y: Double): (Double, Double) =
    (rdToLat(x, y), rdToLon(x, y))
}
