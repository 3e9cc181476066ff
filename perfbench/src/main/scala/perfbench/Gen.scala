package perfbench

import scala.util.Random

/** Seeded inputs. Everything the program sees comes from here; the same
  * seed gives the same records, queries and request streams.
  */
object Gen {
  val Dim = 64
  val Clusters = 16
  val Cats: Seq[String] = (0 until 10).map(i => s"c$i")
  val YearLo = 1990
  val YearSpan = 35
  private val Vocab: IndexedSeq[String] = IndexedSeq(
    "amber", "basalt", "cedar", "delta", "ember", "fjord", "granite", "harbor",
    "iris", "juniper", "kelp", "lagoon", "meadow", "nectar", "onyx", "prairie",
    "quartz", "ridge", "sierra", "tundra", "umber", "valley", "willow", "xenon",
    "yarrow", "zephyr", "atlas", "beacon", "canyon", "dune", "estuary", "forest")

  final case class Rec(id: String, emb: Array[Float], cat: String, year: Int,
      flag: Boolean, doc: String) {
    /** Bytes a user hands the system for this record. */
    def userBytes: Long =
      id.length + doc.length + 4L * emb.length + "cat".length + cat.length +
        "year".length + 8 + "flag".length + 1
  }

  final class Space(seed: Long) {
    private val r = new Random(seed)
    val centers: Array[Array[Float]] =
      Array.fill(Clusters)(Array.fill(Dim)(r.nextGaussian().toFloat))
    /** A point of a random cluster, drawn from `rnd`. */
    def point(rnd: Random, spread: Double = 0.35): Array[Float] = {
      val c = centers(rnd.nextInt(Clusters))
      Array.tabulate(Dim)(i => (c(i) + spread * rnd.nextGaussian()).toFloat)
    }
  }

  def doc(rnd: Random, version: Int): String =
    (Seq.fill(6)(Vocab(rnd.nextInt(Vocab.size))) :+ s"v$version").mkString(" ")

  def record(space: Space, rnd: Random, id: String, version: Int): Rec =
    Rec(id, space.point(rnd), Cats(rnd.nextInt(Cats.size)),
      YearLo + rnd.nextInt(YearSpan), rnd.nextBoolean(), doc(rnd, version))

  /** The starting records: ids r00000.. in order. */
  def records(seed: Long, n: Int): IndexedSeq[Rec] = {
    val space = new Space(seed)
    val rnd = new Random(seed * 7919 + 1)
    (0 until n).map(i => record(space, rnd, f"r$i%05d", 0))
  }

  /** Query vectors near the data's clusters. */
  def queries(seed: Long, n: Int, salt: Int): IndexedSeq[Array[Float]] = {
    val space = new Space(seed)
    val rnd = new Random(seed * 104729 + salt)
    IndexedSeq.fill(n)(space.point(rnd, spread = 0.5))
  }

  /** Zipf(s) ranks in [0, n): rank 0 is drawn most often. */
  final class Zipf(n: Int, s: Double = 1.1) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(rnd: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
}
