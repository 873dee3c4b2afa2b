package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

final case class Metric(name: String, value: Double, unit: String)

/** What one workload reports: operations attempted and failed, end-to-end
  * metrics (untraced run) and per-layer metrics (traced run). */
final case class Result(attempted: Long, failed: Long, endToEnd: Seq[Metric], layers: Seq[Metric])

object Stats {

  def time[T](body: => T): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Median (mean of the middle two for an even count); NaN for no samples. */
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Bytes of every regular file under `root`. */
  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** (bytes in the current version of each versioned table, bytes of all
    * versions) under an `EveStore` root: a table is a directory holding a
    * `MANIFEST` that names its current `v<N>` directory. */
  def liveBytes(root: Path): (Long, Long) = {
    val s = Files.walk(root)
    val manifests = try s.iterator().asScala.filter(_.getFileName.toString == "MANIFEST").toList
    finally s.close()
    manifests.foldLeft((0L, 0L)) { case ((live, all), m) =>
      val table = m.getParent
      val current = table.resolve("v" + Files.readString(m).trim)
      (live + dirBytes(current), all + dirBytes(table))
    }
  }

  /** Used heap after a full collection, in MB: the least of three rounds,
    * since asynchronous unpersists and finalizers can still be releasing
    * memory during the first. */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / 1e6
    }.min
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
