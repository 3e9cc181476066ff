package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Bytes on disk under a directory. */
object Disk {
  def bytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}

/** Rows the served IVF scans per returned result, read off the index the
  * program persisted: each query probes its `nprobe` nearest centroids
  * and scans their posting lists.
  */
object Ivf {
  def rowsExaminedPerResult(spark: SparkSession, dataRoot: java.nio.file.Path,
      queries: Seq[Array[Float]], nprobe: Int, k: Int): Double = {
    val s = java.nio.file.Files.walk(dataRoot)
    val ivf = try s.filter(p => p.getFileName.toString == "ivf" &&
        java.nio.file.Files.isDirectory(p.resolve("postings")))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .sortBy(p => java.nio.file.Files.getLastModifiedTime(p).toMillis).lastOption
    finally s.close()
    val dir = ivf.getOrElse(throw new IllegalStateException(s"no IVF index under $dataRoot"))
    val centroids = spark.read.parquet(dir.resolve("centroids").toString)
      .select(col("centroid_id").cast("int"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
    val sizes = spark.read.parquet(dir.resolve("postings").toString)
      .groupBy(col("centroid_id").cast("int")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val scanned = queries.map { q =>
      centroids.sortBy { case (_, c) => Stats.cosineDistance(q, c) }.take(nprobe)
        .map { case (id, _) => sizes.getOrElse(id, 0L) }.sum
    }
    scanned.sum.toDouble / (queries.size * k)
  }
}
