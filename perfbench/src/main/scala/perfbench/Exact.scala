package perfbench

/** Plain-JVM reference answers the engine's results are checked against. */
object Exact {

  /** Cosine distance with the engine's arithmetic: float inputs widened to
    * double, one fused loop. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0d; var na = 0.0d; var nb = 0.0d; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val d1 = math.sqrt(na); val d2 = math.sqrt(nb)
    if (d1 == 0.0d || d2 == 0.0d) Double.PositiveInfinity else 1.0d - dot / (d1 * d2)
  }

  /** Half-up rounding to 6 decimals, like Spark's `round(x, 6)`. */
  def round6(d: Double): Double =
    new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Exact top-k by (rounded distance, id). */
  def topK(q: Array[Float], ids: Array[String], vecs: Array[Array[Float]],
           k: Int): Array[(String, Double)] = {
    // insertion-sorted shortlist, wide enough to hold every rounding tie
    val m = k + 16
    val bestD = Array.fill(m)(Double.MaxValue)
    val bestI = Array.fill(m)(-1)
    var i = 0
    while (i < vecs.length) {
      val d = cosine(vecs(i), q)
      if (d < bestD(m - 1)) {
        var p = m - 1
        while (p > 0 && bestD(p - 1) > d) {
          bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1
        }
        bestD(p) = d; bestI(p) = i
      }
      i += 1
    }
    bestI.indices.filter(bestI(_) >= 0).map(p => (ids(bestI(p)), round6(bestD(p))))
      .sortBy { case (id, dist) => (dist, id) }.take(k).toArray
  }

  /** `got` is a correct top-k: same length, each position's distance equals
    * the exact answer's within 1e-6, and each returned id's own exact
    * distance is the one reported. Ids may differ only inside ties. */
  def sameTopK(got: Seq[(String, Double)], want: Seq[(String, Double)],
               distOf: String => Double): Option[String] = {
    val g = got.sortBy { case (id, d) => (d, id) }
    if (g.size != want.size) return Some(s"${g.size} results, want ${want.size}")
    if (g.map(_._1).distinct.size != g.size) return Some("duplicate ids")
    g.zip(want).collectFirst {
      case ((gi, gd), (wi, wd)) if math.abs(gd - wd) > 1e-6 =>
        s"distance $gd for $gi, want $wd for $wi"
      case ((gi, gd), _) if math.abs(round6(distOf(gi)) - gd) > 1e-6 =>
        s"$gi reported at $gd, exact ${round6(distOf(gi))}"
    }
  }

  def recall(got: Seq[String], want: Seq[String]): Double =
    if (want.isEmpty) 1.0 else got.toSet.intersect(want.toSet).size.toDouble / want.size
}
