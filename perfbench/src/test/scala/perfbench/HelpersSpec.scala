package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("the generator is deterministic per seed") {
    def snapshot(seed: Long) = {
      val recs = Gen.records(seed, 50).map(r => (r.id, r.emb.toSeq, r.cat, r.year, r.flag, r.doc))
      val qs = Gen.queries(seed, 5, salt = 5).map(_.toSeq)
      val reads = { val s = new Streams.Reader(seed); Seq.fill(4)(s.cycle().map(_.body)) }
      val writes = { val s = new Streams.Writer(seed, 50, 5); Seq.fill(12)(s.next().body) }
      (recs, qs, reads, writes)
    }
    assert(snapshot(7) == snapshot(7))
    assert(snapshot(7) != snapshot(8))
  }

  test("every reader cycle is one /query, one /get with a where, one /search") {
    val s = new Streams.Reader(3)
    Seq.fill(4)(s.cycle()).foreach(c =>
      assert(c.map(_.getClass) == Seq(classOf[Wire.Query], classOf[Wire.GetWhere], classOf[Wire.Search])))
  }

  test("writes alternate a full /add of new ids and a full /upsert of distinct starting ids") {
    Seq(5L, 6L, 7L).foreach { seed =>
      val s = new Streams.Writer(seed, 3000, 50)
      Seq.fill(10)(s.next()).zipWithIndex.foreach { case (Wire.Put(route, rs), i) =>
        assert(route == (if (i % 2 == 0) "add" else "upsert"))
        assert(rs.size == 50 && rs.map(_.id).distinct.size == 50)
        assert(rs.forall(_.id.startsWith(if (i % 2 == 0) "w" else "r")))
      }
    }
  }

  test("the median of an odd and of an even sample") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("brute-force cosine top-k orders by distance, then id") {
    val q = Array(1f, 0f)
    val cands = Seq("a" -> Array(0f, 1f), "b" -> Array(1f, 0.1f), "c" -> Array(2f, 0f),
      "d" -> Array(-1f, 0f), "e" -> Array(1f, 0f))
    val top = Stats.bruteTopK(q, cands, 3)
    assert(top.map(_._1) == Seq("c", "e", "b")) // c and e tie at distance 0
    assert(math.abs(top(0)._2) < 1e-12 && math.abs(top(2)._2 - (1 - 1 / math.sqrt(1.01))) < 1e-6)
    assert(math.abs(Stats.cosineDistance(q, Array(-1f, 0f)) - 2.0) < 1e-12)
    assert(Stats.matchesTopK(Seq(0.0, 0.0, 0.005), top.map(_._2)))
    assert(!Stats.matchesTopK(Seq(0.0, 0.0), top.map(_._2)))
    assert(Stats.recall(Seq("c", "b", "x"), Seq("c", "e", "b")) == 2.0 / 3)
  }

  test("the core count parses as a positive integer or fails") {
    assert(Stats.parseCores(" 4 ") == 4)
    Seq("*", "", "4.5", "0", "-2", "four").foreach { raw =>
      intercept[IllegalArgumentException](Stats.parseCores(raw))
    }
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Nil) == 0L)
  }

  test("the model applies acknowledged writes") {
    val Seq(r0, r1) = Gen.records(1, 2)
    val m = new Model(Seq(r0))
    val r0b = r0.copy(doc = "new")
    m(Seq(r0b, r1))
    assert(m.live == Map(r0.id -> r0b, r1.id -> r1))
    assert(m.userBytes == r0b.userBytes + r1.userBytes)
  }

  test("arguments: every flag required, workload known, trace 0 or 1") {
    val ok = Main.parseArgs(Seq("--workload", "serve_read", "--seed", "3", "--seconds", "5", "--trace", "1"))
    assert(ok.workload == Workload.ServeRead && ok.seed == 3L && ok.seconds == 5 && ok.trace)
    intercept[IllegalArgumentException](Main.parseArgs(Seq("--workload", "nope", "--seed", "3",
      "--seconds", "5", "--trace", "0")))
    intercept[IllegalArgumentException](Main.parseArgs(Seq("--workload", "serve_read", "--seed", "3",
      "--seconds", "5", "--trace", "2")))
    intercept[IllegalArgumentException](Main.parseArgs(Seq("--workload", "serve_read")))
  }

  test("the result line carries exactly the contract's keys") {
    val line = Main.result(correct = true, 3, 0, Seq(("read_p50_s", 1.25, "s")))
    assert(line == """{"correct":true,"attempted":3,"failed":0,""" +
      """"metrics":{"read_p50_s":{"value":1.25,"unit":"s"}}}""")
    intercept[IllegalArgumentException](Main.result(correct = true, 1, 0, Seq(("x", Double.NaN, "s"))))
  }
}
