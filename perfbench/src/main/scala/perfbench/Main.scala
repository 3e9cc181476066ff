package perfbench

import org.apache.spark.sql.SparkSession

/** One workload. Both share inputs, set-up writes and read mix; they
  * differ only in whether those writes are compacted before the window.
  */
final case class Workload(name: String, compactWrites: Boolean)

object Workload {
  /** Reads of a compacted collection: no WAL tail, so the write layers do
    * no work while the window runs.
    */
  val ServeRead = Workload("serve_read", compactWrites = true)
  /** The same reads with the set-up writes left in the WAL tail, which
    * every read replays and merges.
    */
  val ServeTail = Workload("serve_tail", compactWrites = false)
  val all: Seq[Workload] = Seq(ServeRead, ServeTail)
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`
  *
  * Prints one JSON object as the last line of standard output. Exits
  * non-zero, printing no result, when the run itself cannot complete.
  */
object Main {
  final case class Opts(workload: Workload, seed: Long, seconds: Int, trace: Boolean)

  def parseArgs(args: Seq[String]): Opts = {
    require(args.size % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val kv = args.grouped(2).map { case Seq(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    require(kv.keySet.subsetOf(Set("--workload", "--seed", "--seconds", "--trace")),
      s"unknown arguments ${kv.keySet.mkString(" ")}")
    val w = Workload.all.find(_.name == need("--workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${need("--workload")}; " +
        s"one of ${Workload.all.map(_.name).mkString(", ")}"))
    val seconds = need("--seconds").toInt
    require(seconds > 0, s"--seconds must be positive, got $seconds")
    val trace = need("--trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Opts(w, need("--seed").toLong, seconds, trace)
  }

  def main(args: Array[String]): Unit = {
    // exit explicitly either way: a thread the program left running must
    // not keep the JVM alive past the result, or past a failure
    val code =
      try { runOnce(parseArgs(args.toSeq)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def runOnce(o: Opts): Unit = {
    val cores = math.min(MaxCores, Stats.parseCores(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)))
    val work = java.nio.file.Paths.get(".bench_build", "perfbench").toAbsolutePath
    val dir = work.resolve(s"run-${o.workload.name}-${o.seed}-${ProcessHandle.current.pid}")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(o.trace)
    if (o.trace) spark.sparkContext.addSparkListener(trace.listener)
    val run = new Run(spark, o.workload, o.seed, o.seconds, trace, cores, dir)
    val line = try {
      run.run()
      val metrics = if (o.trace) run.perLayer else run.endToEnd
      if (o.trace) run.writeTrace(work.resolve(s"trace-${o.workload.name}-${o.seed}.jsonl"))
      result(run.failed.get() == 0, run.attempted.get(), run.failed.get(), metrics)
    } finally {
      spark.stop()
      deleteTree(dir)
    }
    println(line)
  }

  val MaxCores = 4

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    metrics.foreach { case (n, v, _) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v") }
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
}
