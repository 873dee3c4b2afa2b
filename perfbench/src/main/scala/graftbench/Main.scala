package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Benchmark entry point, normally started by `perfbench/run.py`:
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *     [--spans <file>]
  *
  * Prints one host line and then, as the last line of standard output, the
  * result object: `correct`, `attempted`, `failed` and `metrics` (end-to-end
  * metrics with `--trace 0`, per-layer metrics with `--trace 1`). Every
  * file it writes lives under `--work`, except the traced run's spans.
  */
object Main {

  val Workloads: Seq[String] = Seq("eve_service", "stream_maint")

  /** Routes in the lean eve_service pass of a traced run. */
  val LeanRoutes = 8

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (have ${Workloads.mkString(", ")})")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    refuseStaging(sys.env.get("SPARK_GRAFT_STAGING"), sys.props.get("spark.graft.stagingDir"))

    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    refuseStaging(None, spark.conf.getOption("spark.graft.stagingDir"))

    val rec = new Recorder(spark.sparkContext, enabled = trace)
    Listener.install(spark.sparkContext, rec)
    def runWorkload(name: String, lean: Boolean): Result = name match {
      case "eve_service" =>
        EveService.run(spark, rec, work.resolve("eve"), seed, if (lean) 0 else seconds,
          if (lean) LeanRoutes else EveService.MinRoutes)
      case "stream_maint" =>
        StreamMaint.run(spark, rec, work.resolve("stream"), seed, if (lean) 0 else seconds)
    }
    val result = try {
      val own = runWorkload(workload, lean = false)
      // a traced run reports every layer: the other workload's layers come
      // from a lean pass of it in the same process
      if (!trace) own
      else Workloads.filterNot(_ == workload).map(runWorkload(_, lean = true)).foldLeft(own) { (a, b) =>
        Result(a.attempted + b.attempted, a.failed + b.failed, a.endToEnd, a.layers ++ b.layers)
      }
    } finally {
      opts.get("spans").filter(_ => trace).foreach { p =>
        val path = Paths.get(p)
        Files.createDirectories(path.toAbsolutePath.getParent)
        rec.dump(path)
      }
    }
    val reported = if (trace) result.layers else result.endToEnd
    val finite = reported.forall(m => !m.value.isNaN && !m.value.isInfinite)
    val maxHeap = Runtime.getRuntime.maxMemory()
    println(s"""{"host":{"nproc":$cores,"mem_total_mb":${hostMemMb()},"xmx_mb":${maxHeap / (1L << 20)},""" +
      s""""master":"$master","workload":"$workload","seed":$seed,"seconds":$seconds,"trace":$trace}}""")
    val body = reported.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
      s""""${m.name}":{"value":$v,"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    val correct = result.failed == 0 && finite
    println(s"""{"correct":$correct,"attempted":${result.attempted},"failed":${result.failed},"metrics":$body}""")
    spark.stop()
  }

  /** Seconds since this JVM started. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Staged stores re-attached from an earlier process would turn cold
    * builds into attach times; refuse rather than measure the wrong thing. */
  def refuseStaging(env: Option[String], conf: Option[String]): Unit = {
    env.foreach(v => throw new IllegalStateException(s"SPARK_GRAFT_STAGING is set ($v): unset it to benchmark"))
    conf.foreach(v => throw new IllegalStateException(s"spark.graft.stagingDir is set ($v): unset it to benchmark"))
  }

  private def hostMemMb(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize / (1L << 20)
      case _ => -1L
    }
}
