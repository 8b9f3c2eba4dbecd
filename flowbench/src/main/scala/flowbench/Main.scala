package flowbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Flow benchmark runner: one workload, one process, one closed-loop
  * client.
  *
  * {{{
  * flowbench.Main --workload ortholog_nightly --seed 1 --seconds 1 \
  *   --trace 0 --work <scratch dir> --results <dir for run records>
  * }}}
  *
  * Set-up (timed as `setup_s`): start the session, generate the seeded
  * inputs three times (hashing each copy - the copies must be
  * byte-identical; the median generation time counts), run the
  * workload's untimed warm-up iterations.
  * Then back-to-back timed iterations until `--seconds` have passed.
  * Every iteration reads the input files and commits its outputs; after
  * it, untimed, the leak counters are read, the outputs are checked
  * against the planted truth and their fingerprint against the warm-up's,
  * and the caller-side cleanup runs. An iteration that throws or fails a
  * check counts as failed and is left out of the timings.
  *
  * `--trace 1` registers a [[SpanListener]], passes a span-opening phase
  * store into the pipelines and alternates traced with untraced
  * iterations, so the same process also measures the tracing overhead.
  *
  * The last stdout line is the result object; the run record (machine
  * stamp, every iteration, every span) goes to `--results`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, results: File)

  final case class Iter(index: Int, traced: Boolean, flowS: Double,
                        failures: Seq[String], writeBytes: Long,
                        leaks: Map[String, Long],
                        layers: Map[String, Double], checkS: Double) {
    def ok: Boolean = failures.isEmpty
  }

  val Workloads: Map[String, () => Workload] = Map(
    "ortholog_nightly" -> (() => new OrthologNightly),
    "llm_dedup" -> (() => new LlmDedup))

  /** Span names the traced run reports, whether or not a workload opens
    * them (a layer a workload bypasses reports zeros). */
  val Layers: Seq[String] = Seq("sources.read", "sources.commit",
    "operators.resolve_group", "operators.cascade", "operators.reconcile",
    "operators.dedupe", "operators.weak_sync", "operators.agr_resolve",
    "operators.agr_upsert", "operators.agr_xrefs", "llm.prep", "llm.pairs",
    "llm.survivors", "pipeline.flow")

  val started: Long = System.nanoTime()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try run(a) catch {
      case NonFatal(e) =>
        System.err.println(s"flowbench: ${a.workload} failed in set-up: $e")
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")),
      new File(need("--results")))
  }

  private def run(a: Args): Int = {
    val workload = Workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}"))()
    val stampStart = Machine.stamp()
    val nproc = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"flowbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)

    try {
      // inputs: three generations; identical hashes prove determinism
      val input = new File(a.work, "input")
      val gens = (0 until 3).map { k =>
        val dir = if (k == 0) input else new File(a.work, s"input-copy$k")
        val t = System.nanoTime()
        workload.generate(a.seed, dir)
        val s = secondsSince(t)
        val h = Io.digest(dir)
        if (k > 0) Io.delete(dir)
        (s, h)
      }
      require(gens.map(_._2).distinct.size == 1,
        s"seed ${a.seed} generated different inputs: ${gens.map(_._2)}")
      val genS = median(gens.map(_._1))
      val inputBytes = Io.bytesUnder(input)

      val tracer = if (a.trace) Some(new SpanTracer(spark)) else None

      var baseline: String = null
      /** Run iteration `i`; warm-ups (i = 0) skip the planted-truth
        * checks, and the first one records the output fingerprint every
        * later iteration must reproduce. */
      def iteration(i: Int, traced: Boolean): Iter = {
        val out = new File(a.work, s"iter$i")
        val tr: Tracer = if (traced) tracer.get else NoTrace
        val ctx = IterCtx(spark, input, out, tr, traced, s"fb$i")
        val t = System.nanoTime()
        val res = try Right(tr.span("pipeline.flow")(workload.iterate(ctx)))
          catch { case NonFatal(e) => Left(e) }
        val flowS = secondsSince(t)
        val layers = if (traced) layerMetrics(tracer.get.collect(i), flowS)
          else Map.empty[String, Double]
        val tCheck = System.nanoTime()
        val leaks = Leaks.count(spark)
        val failures = res match {
          case Left(e) => Seq(s"iteration threw: $e")
          case Right(r) =>
            try {
              val fp = r.fingerprint()
              if (baseline == null) baseline = fp
              val drift = if (fp != baseline)
                Seq(s"fingerprint $fp != warm-up $baseline") else Nil
              if (i == 0) drift else r.check() ++ drift
            } catch { case NonFatal(e) => Seq(s"check threw: $e") }
        }
        val bytes = Io.bytesUnder(out)
        Leaks.cleanup(spark)
        Io.delete(out)
        // every timed iteration starts from the same collected heap, and
        // the context cleaner gets to delete what that collection freed
        // (shuffle files, broadcasts) before the next one, not during it
        System.gc()
        Thread.sleep(SettleMs)
        failures.foreach(f => System.err.println(s"flowbench: iteration $i: $f"))
        Iter(i, traced, flowS, failures, bytes, leaks, layers,
          secondsSince(tCheck))
      }

      val warms = (0 until workload.warmups).map(_ => iteration(0, traced = false))
      warms.find(!_.ok).foreach(w =>
        sys.error(s"warm-up iteration failed: ${w.failures.mkString("; ")}"))
      val setupS = sessionS + genS + warms.map(_.flowS).sum

      val iters = ArrayBuffer.empty[Iter]
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      def more: Boolean = iters.isEmpty || System.nanoTime() < deadline ||
        (a.trace && (iters.count(_.traced) == 0 || iters.count(!_.traced) == 0))
      while (more) {
        val i = iters.size + 1
        iters += iteration(i, traced = a.trace && i % 2 == 1)
      }

      val ok = iters.filter(_.ok)
      val timed = if (ok.nonEmpty) ok else iters
      val flows = timed.filter(!_.traced).map(_.flowS)
      val untracedFlowS = if (flows.nonEmpty) median(flows.toSeq)
        else median(timed.map(_.flowS).toSeq)

      val metrics: Seq[(String, Double, String)] = if (!a.trace) Seq(
        ("flow_s", untracedFlowS, "s"),
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", Machine.peakRssMb(), "MB"),
        ("write_mb", median(timed.map(_.writeBytes / 1e6).toSeq), "MB"),
        ("ok_ratio", ok.size.toDouble / iters.size, "ratio"))
      else {
        val traced = timed.filter(_.traced)
        val layerNames = Layers.flatMap(l => SpanMetrics.Names.map(m => s"$l.$m")) ++
          Seq("pipeline.flow.self_s", "span_coverage")
        val layer = layerNames.map { n =>
          (n, median(traced.map(_.layers.getOrElse(n, 0.0)).toSeq),
            unitOf(n))
        }
        val overhead = ("trace_overhead",
          median(traced.map(_.flowS).toSeq) / untracedFlowS, "ratio")
        val leak = Leaks.Names.map { n =>
          (n, median(timed.map(_.leaks(n).toDouble).toSeq), "count")
        }
        layer ++ Seq(overhead) ++ leak
      }

      val correct = iters.forall(_.ok)
      val record = RunRecord.json(a, stampStart, Machine.stamp(), nproc,
        inputBytes, gens.head._2, sessionS, genS, warms, iters.toSeq,
        metrics, tracer.map(_.finished.toSeq).getOrElse(Nil))
      a.results.mkdirs()
      val recFile = new File(a.results,
        s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
      val pw = new PrintWriter(recFile, "UTF-8")
      try pw.println(record) finally pw.close()
      tracer.foreach(_.close())

      println(Json.obj(Seq(
        "correct" -> Json.bool(correct),
        "attempted" -> iters.size.toString,
        "failed" -> iters.count(!_.ok).toString,
        "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
      0
    } finally spark.stop()
  }

  private def unitOf(metric: String): String = metric.split('.').last match {
    case "wall_s" | "driver_s" | "task_s" | "gc_s" | "self_s" => "s"
    case "shuffle_mb" | "spill_mb" | "out_mb" => "MB"
    case "jobs" => "count"
    case _ => "ratio"
  }

  /** One traced iteration's per-layer metrics: each layer's eight
    * metrics summed over its spans (`sources.read` opens several, the
    * reconcile three phase writes), the root's self time, and the share of the
    * iteration's wall time the root span covers. */
  private def layerMetrics(spans: Seq[(Span, SpanMetrics)],
                           iterS: Double): Map[String, Double] = {
    val byLayer = spans.groupBy(_._1.name).map { case (n, xs) =>
      n -> xs.map(_._2).foldLeft(SpanMetrics.Zero)(_ + _)
    }
    val roots = spans.filter(_._1.parent < 0)
    val rootIds = roots.map(_._1.id).toSet
    val rootWall = roots.map(_._2.wallS).sum
    val childWall = spans.filter(s => rootIds.contains(s._1.parent))
      .map(_._2.wallS).sum
    byLayer.toSeq.flatMap { case (n, m) =>
      m.toMap.map { case (k, v) => s"$n.$k" -> v }
    }.toMap ++ Map(
      "pipeline.flow.self_s" -> (rootWall - childWall),
      "span_coverage" -> rootWall / iterS)
  }

  /** Pause after each iteration's cleanup: lets the JIT finish what the
    * iteration made hot and the cleaner finish deleting, so neither
    * shares the cores with the next timed iteration. */
  val SettleMs = 1000L

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
