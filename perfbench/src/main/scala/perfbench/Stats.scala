package perfbench

/** Pure helpers the benchmark's numbers and checks rest on. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Core count from its text form. A value that is not a positive
    * integer fails here, before it can reach a Spark master URL or a
    * JSON document.
    */
  def parseCores(raw: String): Int = {
    val n = scala.util.Try(raw.trim.toInt).getOrElse(throw new IllegalArgumentException(
      s"core count must be a positive integer, got '$raw'"))
    require(n > 0, s"core count must be a positive integer, got '$raw'")
    n
  }

  /** Cosine distance in double precision: 1 - a.b / (|a| |b|). */
  def cosineDistance(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dimension mismatch ${a.length} vs ${b.length}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Brute-force top-k by cosine distance: (id, distance) ascending,
    * ties broken by id.
    */
  def bruteTopK(query: Array[Float], candidates: Iterable[(String, Array[Float])],
      k: Int): Seq[(String, Double)] =
    candidates.iterator.map { case (id, v) => (id, cosineDistance(query, v)) }
      .toSeq.sortBy { case (id, d) => (d, id) }.take(k)

  /** True when `got` is a valid top-k answer against the brute-force
    * `truth`: same length, and the i-th returned distance equals the i-th
    * true distance within `tol`. Ids may differ only among tied distances.
    */
  def matchesTopK(got: Seq[Double], truth: Seq[Double], tol: Double = 1e-4): Boolean =
    got.size == truth.size && got.zip(truth).forall { case (g, t) => math.abs(g - t) <= tol }

  /** Share of the true top-k ids that the answer contains. */
  def recall(got: Seq[String], truth: Seq[String]): Double =
    if (truth.isEmpty) 1.0 else got.toSet.intersect(truth.toSet).size.toDouble / truth.size

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
