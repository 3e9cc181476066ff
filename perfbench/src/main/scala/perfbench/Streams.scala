package perfbench

import scala.util.Random

/** Seeded request streams, one for reads and one for writes. A stream
  * yields the same requests in the same order for the same seed, however
  * fast the program answers them.
  */
object Streams {

  /** Lower bound on `year` in the window's `/get`: about 70% of records. */
  val GetYearMin: Int = Gen.YearLo + 10

  final class Reader(seed: Long) {
    private val rnd = new Random(seed * 1000003L + 1)
    private val space = new Gen.Space(seed)

    /** The next cycle of the fixed mix: one `/query`, one `/get` with
      * `where` + limit, one `/search`. The seed picks the vectors and
      * the `cat` value only, so every cycle holds the same request kinds
      * with filters of about the same selectivity.
      */
    def cycle(): Seq[Wire.Req] = Seq(
      Wire.Query(space.point(rnd, 0.5)),
      Wire.GetWhere(Gen.Cats(rnd.nextInt(Gen.Cats.size)), GetYearMin, 10),
      Wire.Search(space.point(rnd, 0.5), 2, 10))
  }

  /** Writes of `batch` records, in turn: an `/add` of new ids, then an
    * `/upsert` of distinct starting ids Zipf-skewed toward the hottest.
    * The seed picks ids and values only, so every seed writes the same
    * shape: after two writes the WAL tail holds `2 * batch` ops.
    */
  final class Writer(seed: Long, n: Int, batch: Int) {
    private val rnd = new Random(seed * 1000003L + 99)
    private val space = new Gen.Space(seed)
    private val zipf = new Gen.Zipf(n)
    private var added = 0
    private var version = 0

    def next(): Wire.Put = {
      version += 1
      if (version % 2 == 1)
        Wire.Put("add", Seq.fill(batch) {
          added += 1
          Gen.record(space, rnd, f"w$added%06d", version)
        })
      else {
        val ids = Iterator.continually(f"r${zipf.draw(rnd)}%05d").distinct.take(batch).toSeq
        Wire.Put("upsert", ids.map(id => Gen.record(space, rnd, id, version)))
      }
    }
  }
}
