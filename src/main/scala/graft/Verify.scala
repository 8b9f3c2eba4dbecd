package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump for local iteration
    // (same convention as Bench); the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    val trimEvery = sys.env.getOrElse("SPARK_GRAFT_TRIM_EVERY", "16").toInt
    val failed = dump(spark, sfDir, outDir, selected.toSeq.sortBy(_._1), trimEvery)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the run record: queries attempted and the ones that threw (whose
    // parquet dirs are missing or stale - the oracle compare must not
    // be the first to notice)
    Files.writeString(Paths.get(s"$outDir/verify.json"),
      s"""{"queries":${selected.size},"failed":${failed.map(q).mkString("[", ",", "]")}}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Write each query's result to `outDir/<name>` as one parquet file;
    * returns the names of the queries that threw.
    *
    * Periodic trim, same shape as Bench's within-pass sweep: several
    * operators persist internal frames whose lifecycle is the caller's,
    * so a full 170-query dump used to accumulate every query's cached
    * blocks and prefix-sum pins for the session's lifetime.
    * Checkpointed RDDs stay (the pipeline memo roots there); releaseAll
    * is sweep-safe - pipeline products are store-backed and an exempt
    * pin dropped before its product materialized warns and counts
    * (ShardedPrefixSum.unmaterializedReleases). */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, Bench.Query)], trimEvery: Int): Seq[String] =
    queries.zipWithIndex.flatMap { case ((name, fn), i) =>
      if (trimEvery > 0 && i > 0 && i % trimEvery == 0) {
        graft.operators.ShardedPrefixSum.releaseAll()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .filterNot(_.isCheckpointed)
          .foreach(_.unpersist(blocking = false))
      }
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
}
