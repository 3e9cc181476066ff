package perfbench

import graft.sources.Catalog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One workload run against one collection root: set-up, the measured
  * window of served reads, and the end-of-run checks. The traced run adds
  * a batch ANN phase and the tracing-overhead replay.
  */
final class Run(spark: SparkSession, w: Workload, seed: Long, seconds: Int,
    trace: Trace, cores: Int, dir: java.nio.file.Path) {
  import Run._
  import spark.implicits._

  private val name = "emb"
  private val client = new graft.api.Client(spark, dir.resolve("data").toString)
  private val face = new graft.api.HttpFace(spark, dir.resolve("data").toString)
  private val port = face.start()

  private val recs = Gen.records(seed, Records)
  private val model = new Model(recs)

  // ---- outcome bookkeeping -----------------------------------------------

  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  /** Seconds of every window read, and of every write. */
  private val readS = collection.mutable.ArrayBuffer[Double]()
  private val writeS = new ConcurrentLinkedQueue[Double]()
  private val respBytes = new ConcurrentLinkedQueue[(String, Int)]()
  private val rejected = new AtomicLong()

  /** Run one operation: count it, and count it failed when it throws or
    * its check returns a complaint.
    */
  private def op(what: => String)(body: => Option[String]): Unit = {
    attempted.incrementAndGet()
    val complaint =
      try body
      catch { case e: Throwable => Some(e.toString) }
    complaint.foreach { m =>
      if (failed.incrementAndGet() <= 20) System.err.println(s"[perfbench] FAILED $what: $m")
    }
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def phase[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $label took ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
      f"JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
  }

  private def dataRoot: java.nio.file.Path =
    java.nio.file.Paths.get(client.describeCollection(name).dataRoot)

  // ---- set-up ------------------------------------------------------------

  private val schema = Catalog.Schema(keys = Map(
    "cat" -> Catalog.KeyConfig(Catalog.VString),
    "year" -> Catalog.KeyConfig(Catalog.VInt),
    "flag" -> Catalog.KeyConfig(Catalog.VBool)))

  private def recordsDf(rs: Seq[Gen.Rec]): DataFrame =
    rs.map(r => (r.id, r.doc, r.emb.toSeq, Map("cat" -> r.cat), Map("year" -> r.year.toLong),
        Map("flag" -> r.flag)))
      .toDF("id", "document", "embedding", "meta", "meta_int", "meta_bool")

  private var setupS, ingestRate, compactS, commitS = 0.0
  private val persistWritten = new ConcurrentLinkedQueue[Double]()

  /** Create the collection, add the records as one DataFrame, commit the
    * log and compact: the DataFrame indexing path.
    */
  private def build(df: DataFrame): Unit = {
    val h = trace.span("setup.create", "create") { client.createCollection(name, schema) }
    val tAdd = timed(trace.span("setup.add", "add") { h.add(df) })
    commitS = timed(trace.span("setup.commit", "commit") { h.commitLog() })
    compactS = persist(h)
    ingestRate = Records / (tAdd + commitS + compactS)
  }

  /** Compact through `h`, whose base version must be the current one. */
  private def persist(h: graft.api.CollectionHandle): Double = {
    val before = if (trace.enabled) Disk.bytes(dataRoot) else 0L
    val s = timed(trace.span("collectionstore.persist", "persist") { h.persist() })
    if (trace.enabled) persistWritten.add((Disk.bytes(dataRoot) - before).toDouble / model.userBytes)
    s
  }

  // ---- served requests ---------------------------------------------------

  private val tailOps = new ConcurrentLinkedQueue[Double]()

  /** What the traced run measures before each request: a fresh handle
    * open, and the WAL tail that handle replays (kept for window reads).
    * The probes run whenever the run is traced, also while span
    * recording is off.
    */
  private def probes(requestId: Long, window: Boolean): Unit = if (trace.enabled) {
    val h = trace.span("handle.open", "handle_open", requestId) { client.getCollection(name) }
    val tail = trace.span("walstore.tail", "tail", requestId) { h.indexingStatus().numUnindexedOps }
    if (window) tailOps.add(tail.toDouble)
  }

  /** Send one read and check its answer against the live set. A window
    * read is traced under its route's class and feeds the latency
    * metric; a read outside the window (warm-up, check, overhead replay)
    * is traced under the class `outside` names and feeds no metric of a
    * route.
    */
  private def read(wire: Wire.Client, r: Wire.Req, requestId: Long,
      outside: Option[String] = None): Unit =
    op(s"${r.route} ${r.body.take(120)}") {
      val window = outside.isEmpty
      probes(requestId, window)
      val span = r match {
        case _: Wire.GetWhere => "httpface.get_where"
        case _ => s"httpface.${r.route}"
      }
      val resp = trace.span(span, outside.getOrElse(r.cls), requestId) { wire.send(r) }
      if (window) {
        readS += resp.seconds
        respBytes.add(r.cls -> resp.body.length)
      }
      if (resp.status == 422) rejected.incrementAndGet()
      if (resp.status != 200) Some(s"status ${resp.status}: ${resp.body.take(300)}")
      else Checks.read(r, Wire.rows(r, Wire.parse(resp.body)), model)
    }

  /** Send one write; on its acknowledgement apply it to the model. */
  private def write(wire: Wire.Client, r: Wire.Put, requestId: Long): Unit =
    op(s"${r.route} of ${r.body.length} bytes") {
      probes(requestId, window = false)
      val resp = trace.span(s"httpface.${r.route}", r.cls, requestId) { wire.send(r) }
      writeS.add(resp.seconds)
      respBytes.add("write" -> resp.body.length)
      if (resp.status == 422) rejected.incrementAndGet()
      if (resp.status == 200 || resp.status == 201) { model(r.recs); None }
      else Some(s"status ${resp.status}: ${resp.body.take(300)}")
    }

  /** The writes, one at a time, then (on `serve_read`) a compaction, so
    * the window reads either a compacted collection or one with a WAL
    * tail. Last, one read whose filter names every metadata key warms the
    * collection: the program builds metadata indexes on the first read
    * that needs them, and the window is not meant to time those builds.
    */
  private def writes(): Unit = {
    val wire = new Wire.Client(port, name)
    val writer = new Streams.Writer(seed, Records, WriteBatch)
    for (i <- 1 to Writes) write(wire, writer.next(), -i)
    if (w.compactWrites) op("persist") { persist(client.getCollection(name)); None }
    read(wire, Wire.Warm, 0L, Some("warm"))
  }

  /** One closed-loop reader: it sends its next request when the last one
    * returns. It sends whole cycles of the fixed mix, and starts another
    * only while one as long as the last still fits in the window, so
    * every run times the same kinds of request in the same proportions,
    * and at least one cycle of them. Traced and untraced runs send the
    * same requests; only the traced run adds its probes and spans.
    */
  private def window(): Unit = {
    val reader = new Streams.Reader(seed)
    val wire = new Wire.Client(port, name)
    val deadline = System.nanoTime() + seconds * 1000000000L
    var id = 0L
    var last = 0L
    do {
      val t0 = System.nanoTime()
      reader.cycle().foreach { r => id += 1; read(wire, r, id) }
      last = System.nanoTime() - t0
    } while (System.nanoTime() + last <= deadline)
  }

  // ---- end of run --------------------------------------------------------

  private var diskRatio, walRatio, versions, heapAfterGcMb = 0.0

  /** A freshly opened handle counts the live records, and a sample of
    * written and starting ids reads back as last acknowledged.
    */
  private def finish(): Unit = {
    op("fresh handle counts the live records") {
      val n = client.getCollection(name).count()
      if (n == model.live.size) None else Some(s"count $n, expected ${model.live.size}")
    }
    val rnd = new scala.util.Random(seed)
    val written = model.live.keys.filter(_.startsWith("w")).toSeq.sorted
    val sample = (rnd.shuffle(written).take(5) ++ rnd.shuffle(recs.map(_.id))).distinct.take(10)
    read(new Wire.Client(port, name), Wire.GetIds(sample), 0L, Some("check"))
    diskRatio = Disk.bytes(dataRoot).toDouble / model.userBytes
    walRatio = Disk.bytes(dataRoot.resolve("_wal")).toDouble / model.userBytes
    versions = client.getCollection(name).versions.size.toDouble
    System.gc()
    heapAfterGcMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
  }

  /** Host speed, taken in the same run: the times of `CalRounds` rounds
    * just before the window and as many just after it, each one Spark job with a shuffle (`cores` small tasks each side)
    * and one sort on the driver's thread. A request here spends its time
    * in both, Spark jobs and driver-side planning, so on a host whose
    * speed drifts (other tenants' load) latencies divided by the median
    * round stay comparable; the median keeps a stall in one round out.
    * The jobs are plain RDD jobs: no SQL optimizer rule of the program's
    * runs in them, so a change to the program moves the reads and not
    * this.
    */
  /** Every calibration round around the window. */
  private val calS = collection.mutable.ArrayBuffer[Double]()
  private def calibration(): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    val unsorted = Array.fill(CalSortSize)(rnd.nextDouble())
    val sc = spark.sparkContext
    (1 to CalRounds).map(_ => timed {
      sc.parallelize(0 until CalTaskSize * cores, cores).map(i => (i % 64, 1L))
        .reduceByKey(_ + _, cores).count()
      java.util.Arrays.sort(unsorted.clone())
    })
  }

  /** Run every phase, then stop the face. */
  def run(): Unit =
    try {
      calibration() // warms the scheduler and the sort; not kept
      // the set-up times the program's calls, not the making of its input
      val df = recordsDf(recs)
      setupS = timed { phase("build")(build(df)); phase("writes")(writes()) }
      calS ++= calibration()
      phase("window")(window())
      calS ++= calibration()
      phase("checks")(finish())
      System.err.println(f"[perfbench] window reads ${readS.map(x => f"$x%.2f").mkString(" ")} s; " +
        f"calibration rounds: median ${Stats.median(calS.toSeq)}%.4f s, before the window " +
        f"${Stats.median(calS.take(CalRounds).toSeq)}%.4f s, after ${Stats.median(calS.drop(CalRounds).toSeq)}%.4f s")
      if (trace.enabled) {
        phase("batch ANN")(batchAnn())
        phase("overhead")(overhead())
      }
    } finally face.stop()

  // ---- traced run extras -------------------------------------------------

  private var indexBuildS, annS, recallAt10, overheadRatio = 0.0

  /** One query DataFrame through the served ANN twice: the first pass
    * builds the IVF over the compacted segment, the second is the probe
    * alone. Recall is taken against brute force over the live set.
    */
  private def batchAnn(): Unit = {
    val h = client.getCollection(name)
    val qs = Gen.queries(seed, BatchQueries, salt = 5)
    val qdf = qs.zipWithIndex.map { case (q, i) => (i.toLong, q.toSeq) }
      .toDF("query_id", "q_embedding")
    def ann(): Array[Row] =
      h.queryAnn(qdf, Wire.K, nprobe = Nprobe, nCentroids = NCentroids, nReplica = NReplica)
        .select("query_id", "id").collect()
    val first = timed(op("queryAnn, first after compaction") {
      trace.span("batch.ann_first", "index_build") { ann() }; None })
    var rows = Array.empty[Row]
    annS = timed(op("queryAnn") { rows = trace.span("batch.ann", "batch_ann") { ann() }; None })
    indexBuildS = first - annS
    val got = rows.toSeq.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getString(1)) }
    val live = model.live.values.map(r => r.id -> r.emb)
    recallAt10 = Stats.median(qs.indices.map(i => Stats.recall(got.getOrElse(i.toLong, Nil),
      Stats.bruteTopK(qs(i), live, Wire.K).map(_._1))))
    op("ANN recall@10 against brute force") {
      if (recallAt10 >= RecallFloor) None else Some(f"$recallAt10%.3f below the floor $RecallFloor")
    }
  }

  /** Replay the window's first `/get` as `OverheadPairs` pairs of reads,
    * one read of each pair with span recording off and one with it on,
    * alternating which goes first, after one untimed read that settles
    * whatever the batch ANN phase left behind. Both sides run the probes;
    * only the recording differs, and the ratio of the two sides' walls is
    * its overhead.
    */
  private def overhead(): Unit = {
    val wire = new Wire.Client(port, name)
    val r = new Streams.Reader(seed).cycle().collectFirst { case g: Wire.GetWhere => g }.get
    read(wire, r, 0L, Some("overhead"))
    var plain, traced = 0.0
    for (i <- 0 until OverheadPairs) {
      val a = () => plain += trace.off(timed(read(wire, r, 0L, Some("overhead"))))
      val b = () => traced += timed(read(wire, r, 0L, Some("overhead")))
      if (i % 2 == 0) { a(); b() } else { b(); a() }
    }
    overheadRatio = traced / plain
  }

  // ---- metrics -----------------------------------------------------------

  /** The window's mean read latency in units of the run's calibration
    * (`cal`, the median round), which takes the host's speed out;
    * `setup_s` stays in seconds. The window holds whole cycles, so the
    * mean weighs every request kind the same in every run.
    */
  def endToEnd: Seq[(String, Double, String)] = {
    Seq(
      ("setup_s", setupS, "s"),
      ("read_cal", readS.sum / readS.size / Stats.median(calS.toSeq), "cal"),
      ("disk_bytes_per_user_byte", diskRatio, "ratio"),
      ("heap_after_gc_mb", heapAfterGcMb, "MB"))
  }

  def perLayer: Seq[(String, Double, String)] = {
    trace.drain()
    val spans = trace.allSpans
    def of(cls: String) = spans.filter(_.cls == cls)
    def cost(cls: String) = Trace.sparkCost(trace, of(cls), cores)
    def median0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    // a slow traced window may not reach every route; 0 marks the gap
    def bytesMedian(cls: String) =
      median0(respBytes.asScala.collect { case (c, b) if c == cls => b.toDouble }.toSeq)
    val sparkByClass = SparkClasses.flatMap { c =>
      val k = cost(c)
      Seq((s"spark.$c.jobs", k.jobs, "count"), (s"spark.$c.job_s", k.jobS, "s"),
        (s"spark.$c.driver_s", k.driverS, "s"), (s"spark.$c.task_s", k.taskS, "s"),
        (s"spark.$c.slot_use", k.slotUse, "ratio"),
        (s"spark.$c.shuffle_bytes", k.shuffleBytes, "B"),
        (s"spark.$c.input_bytes", k.inputBytes, "B"))
    }
    val opens = of("handle_open")
    val getWhere = spans.filter(s => s.name == "httpface.get_where" && s.cls == "get")
    val ctx = spark.sparkContext
    sparkByClass ++ Seq(
      ("spark.cached_rdds_end", ctx.getPersistentRDDs.size.toDouble, "count"),
      ("spark.storage_mb_end",
        ctx.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6, "MB"),
      ("handle.open_s", median0(opens.map(_.wallS)), "s"),
      ("handle.open_jobs", mean0(opens.map(s => trace.jobsOf(s).size.toDouble)), "count"),
      ("walstore.tail_ops", mean0(tailOps.asScala.toSeq), "count"),
      ("host.cal_s", Stats.median(calS.toSeq), "s"),
      ("ingest.records_per_s", ingestRate, "1/s"),
      ("walstore.commit_s", commitS, "s"),
      ("walstore.bytes_per_user_byte", walRatio, "ratio"),
      ("collectionstore.compact_s", compactS, "s"),
      ("collectionstore.persist_jobs", cost("persist").jobs, "count"),
      ("collectionstore.bytes_written_per_user_byte", median0(persistWritten.asScala.toSeq), "ratio"),
      ("collectionstore.versions_on_disk", versions, "count"),
      ("ivf.build_s", indexBuildS, "s"),
      ("ivf.build_jobs", cost("index_build").jobs - cost("batch_ann").jobs, "count"),
      ("ivf.probe_qps", BatchQueries / annS, "1/s"),
      ("ivf.recall_at_10", recallAt10, "ratio"),
      ("ivf.rows_examined_per_result",
        Ivf.rowsExaminedPerResult(spark, dataRoot, Gen.queries(seed, BatchQueries, salt = 5),
          Nprobe, Wire.K), "ratio"),
      ("metainverted.rows_examined_per_result",
        if (getWhere.isEmpty) 0.0
        else getWhere.map(s => trace.jobsOf(s).map(_.inputRecords).sum).sum.toDouble /
          (getWhere.size * Wire.Warm.limit), "ratio"),
      ("httpface.resp_bytes.query", bytesMedian("query"), "B"),
      ("httpface.resp_bytes.get", bytesMedian("get"), "B"),
      ("httpface.resp_bytes.search", bytesMedian("search"), "B"),
      ("httpface.resp_bytes.write", bytesMedian("write"), "B"),
      // the first write of the run warms the write path and is left out
      ("httpface.write_s", median0(writeS.asScala.toSeq.drop(1)), "s"),
      ("quotas.rejected", rejected.get().toDouble, "count"),
      ("trace.overhead_ratio", overheadRatio, "ratio"))
  }


  def writeTrace(path: java.nio.file.Path): Unit = trace.write(path)
}

object Run {
  val Records = 3000
  /** Writes before the window, each of `WriteBatch` records at most. */
  val Writes = 2
  val WriteBatch = 50
  val BatchQueries = 30
  val NCentroids = 32
  val NReplica = 2
  val Nprobe = 4
  val RecallFloor = 0.8
  val OverheadPairs = 4
  val CalRounds = 20
  val CalTaskSize = 50000
  val CalSortSize = 200000
  val SparkClasses: Seq[String] =
    Seq("query", "get", "search", "write", "persist", "index_build", "batch_ann")
}
