package graft.geo

/** The inverse of [[Rijksdriehoek]]'s series, from the same paper: the
  * specs round-trip RD -> WGS84 -> RD through it. */
object RijksdriehoekRef {
  import Rijksdriehoek.{Lam0, Phi0, X0, Y0}

  private val PqR: Array[(Int, Int, Double)] = Array(
    (0, 1, 190094.945), (1, 1, -11832.228), (2, 1, -114.221), (0, 3, -32.391),
    (1, 0, -0.705), (3, 1, -2.34), (1, 3, -0.608), (0, 2, -0.008), (2, 3, 0.148))

  private val PqS: Array[(Int, Int, Double)] = Array(
    (1, 0, 309056.544), (0, 2, 3638.893), (2, 0, 73.077), (1, 2, -157.984),
    (3, 0, 59.788), (0, 1, 0.433), (2, 2, -6.439), (1, 1, -0.032),
    (0, 4, 0.092), (1, 4, -0.054))

  private def ipow(base: Double, exp: Int): Double = {
    var r = 1.0; var i = 0
    while (i < exp) { r *= base; i += 1 }
    r
  }

  /** WGS84 (latitude, longitude) degrees -> RD (x, y) meters. */
  def wgs84ToRd(phi: Double, lam: Double): (Double, Double) = {
    val dPhi = 0.36 * (phi - Phi0)
    val dLam = 0.36 * (lam - Lam0)
    var x = X0
    var i = 0
    while (i < PqR.length) {
      val (p, q, r) = PqR(i)
      x += r * ipow(dPhi, p) * ipow(dLam, q)
      i += 1
    }
    var y = Y0
    i = 0
    while (i < PqS.length) {
      val (p, q, s) = PqS(i)
      y += s * ipow(dPhi, p) * ipow(dLam, q)
      i += 1
    }
    (x, y)
  }
}
