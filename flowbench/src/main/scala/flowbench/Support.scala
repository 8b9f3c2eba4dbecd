package flowbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result line and the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}

/** Counters of state an iteration leaves behind in the session, read
  * from outside before the caller-side cleanup the operators document. */
object Leaks {
  val Names: Seq[String] = Seq("leaked_persists", "cached_plans",
    "temp_views", "catalog_tables", "sharded_pins")

  def count(spark: SparkSession): Map[String, Long] = {
    val tables = spark.catalog.listTables().collect()
    Map(
      "leaked_persists" -> spark.sparkContext.getPersistentRDDs.size.toLong,
      "cached_plans" -> cachedPlans(spark),
      "temp_views" -> tables.count(_.isTemporary).toLong,
      "catalog_tables" -> tables.count(!_.isTemporary).toLong,
      "sharded_pins" -> graft.operators.ShardedPrefixSum.pinnedCount.toLong)
  }

  /** Entries in the session's cache manager. Spark exposes only
    * `isEmpty`, so the list is read reflectively; when that fails the
    * count degrades to 0/1. */
  private def cachedPlans(spark: SparkSession): Long = {
    val cm = spark.sharedState.cacheManager
    Try {
      val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].size.toLong
    }.getOrElse(if (cm.isEmpty) 0L else 1L)
  }

  /** The cleanup a long-lived caller must do between runs: drop the
    * phase tables and views, unpersist everything, release pins. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect().foreach { t =>
      if (t.isTemporary) spark.catalog.dropTempView(t.name)
      else spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    graft.operators.ShardedPrefixSum.releaseAll()
    graft.pipeline.Memo.clear()
  }
}

/** Facts about the machine a run record was taken on. Records taken
  * across a reboot (different `boot_id`) are not comparable. */
object Machine {
  private def read(p: String): String =
    Try(new String(Files.readAllBytes(Paths.get(p))).trim).getOrElse("")

  def stamp(): Map[String, String] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors().toString,
    "loadavg" -> read("/proc/loadavg").split(' ').take(3).mkString(" "),
    "boot_id" -> read("/proc/sys/kernel/random/boot_id"),
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / 1000000L).toString,
    "java" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION)

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble * 1024 / 1e6)
    .getOrElse(Double.NaN)
}

/** The full record of one run: machine stamps, set-up parts, every
  * iteration with its failures and leak counters, and every span. */
object RunRecord {
  def json(a: Main.Args, start: Map[String, String], end: Map[String, String],
           nproc: Int, inputBytes: Long, inputSha: String, sessionS: Double,
           genS: Double, warms: Seq[Main.Iter],
           iters: Seq[Main.Iter], metrics: Seq[(String, Double, String)],
           spans: Seq[(Int, Span, SpanMetrics)]): String = {
    def stamp(m: Map[String, String]) =
      Json.obj(m.toSeq.sorted.map { case (k, v) => k -> Json.str(v) })
    def iter(i: Main.Iter) = Json.obj(Seq(
      "index" -> i.index.toString, "traced" -> Json.bool(i.traced),
      "flow_s" -> Json.num(i.flowS), "check_s" -> Json.num(i.checkS),
      "write_bytes" -> i.writeBytes.toString,
      "failures" -> Json.arr(i.failures.map(Json.str)),
      "leaks" -> Json.obj(i.leaks.toSeq.sorted.map { case (k, v) => k -> v.toString })))
    Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds), "trace" -> Json.bool(a.trace),
      "machine_start" -> stamp(start), "machine_end" -> stamp(end),
      "local_cores" -> nproc.toString,
      "input_bytes" -> inputBytes.toString, "input_sha256" -> Json.str(inputSha),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "generate_s" -> Json.num(genS),
        "warmup_s" -> Json.num(warms.map(_.flowS).sum))),
      "warmups" -> Json.arr(warms.map(iter)),
      "wall_s" -> Json.num(Main.secondsSince(Main.started)),
      "iterations" -> Json.arr(iters.map(iter)),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "spans" -> Json.arr(spans.map { case (it, s, m) =>
        Json.obj(Seq("iteration" -> it.toString, "id" -> s.id.toString,
          "name" -> Json.str(s.name), "parent" -> s.parent.toString,
          "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString) ++
          m.toMap.map { case (k, v) => k -> Json.num(v) })
      })))
  }
}
