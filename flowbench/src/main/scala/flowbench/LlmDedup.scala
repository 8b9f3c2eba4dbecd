package flowbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Dedup, PrepPipeline}

/** LLM data preparation: a seeded corpus through `PrepPipeline.run`,
  * then MinHash-LSH near-duplicate pairs over the kept documents, then
  * the connected-components survivor pick.
  *
  * Planted truth. The corpus is Zipf-distributed prose with near-dup
  * clusters of 2-8 documents (each member a copy of the cluster seed
  * with ~2% of its words replaced), exact duplicates (case and spacing
  * changed), documents carrying e-mail addresses, URLs and IPs, and
  * too-short documents the quality filter must drop. The kept count and
  * the PII counts are exact; the survivor set must recover the planted
  * clusters inside a recall/precision band.
  */
final class LlmDedup extends Workload {
  import LlmDedup._

  private var truth: Truth = _

  /** Its iterations are short and planning-heavy: after one warm-up the
    * optimizer's code is still being compiled, and the next iteration's
    * time moved by 30% from run to run; after two it settles. */
  override def warmups: Int = 2

  def generate(seed: Long, dir: File): Unit = {
    val t = new Gen(seed).write(dir)
    if (truth == null) truth = t
  }

  def iterate(ctx: IterCtx): IterResult = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def out(n: String) = new File(ctx.out, n)
    val docs = tr.span("sources.read") {
      Io.tsv(spark, new File(ctx.input, "corpus.tsv"), CorpusSchema)
    }
    // each stage's product is written out, the stage barrier a
    // production run has between its steps
    val kept = tr.span("llm.prep") {
      val prep = PrepPipeline.run(docs).filter(col("kept") === 1)
      Io.parquet(prep.join(docs.select(col("doc_id"), col("text")), "doc_id"),
        out("prepped"))
      spark.read.parquet(out("prepped").getPath)
    }
    val pairs = tr.span("llm.pairs") {
      Io.parquet(Dedup.minhashLshPairs(kept), out("pairs"))
      spark.read.parquet(out("pairs").getPath)
    }
    val survivors = tr.span("llm.survivors") {
      Dedup.nearDupSurvivors(kept, pairs)
    }
    tr.span("sources.commit") {
      Io.parquet(survivors.select(col("doc_id"), col("source"), col("split")),
        out("survivors"))
    }
    val t = truth
    new IterResult {
      def check(): Seq[String] = {
        val k = spark.read.parquet(out("prepped").getPath)
        val r = k.agg(count(lit(1)), sum("n_urls"), sum("n_emails"),
          sum("n_ips")).head()
        val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val want = (t.kept, t.urls, t.emails, t.ips)
        val ids = spark.read.parquet(out("survivors").getPath)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val keptIds = k.select("doc_id").collect().map(_.getLong(0)).toSet
        val removed = keptIds -- ids
        val hit = removed.count(t.planted.contains).toDouble
        val recall = hit / t.planted.size
        val precision = if (removed.isEmpty) 1.0 else hit / removed.size
        (if (got != want) Seq(s"prep (kept, urls, emails, ips) $got != planted $want")
         else Nil) ++
          (if (recall < MinRecall || precision < MinPrecision)
            Seq(f"near-dup recall $recall%.4f precision $precision%.4f " +
              s"outside the planted band ($MinRecall, $MinPrecision)")
          else Nil)
      }
      def fingerprint(): String =
        Fingerprint.of(spark.read.parquet(out("survivors").getPath)) + "/" +
          Fingerprint.of(spark.read.parquet(out("prepped").getPath))
    }
  }
}

object LlmDedup {
  val BaseDocs = 3000
  /** Survivors must remove at least this share of the planted duplicate
    * members, and at least this share of what they remove must be one. */
  val MinRecall = 0.95
  val MinPrecision = 0.99

  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("text", StringType)))

  /** Planted truth: prep's kept count and PII totals, and the ids a
    * perfect near-dup pass removes (every cluster member but the one
    * with the lowest id). */
  final case class Truth(kept: Long, urls: Long, emails: Long, ips: Long,
                         planted: Set[Long])

  private val Stopwords = IndexedSeq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "that", "for", "on", "with", "as", "was", "at", "by")
  private val Sources = IndexedSeq("web", "books", "wiki", "forums")

  private final class Gen(seed: Long) {
    private val d = new Draw(seed)
    private val letters = "abcdefghijklmnopqrstuvwxyz"
    private val vocab: IndexedSeq[String] = {
      val seen = collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 5000) {
        val n = d.int(3, 9)
        seen += (0 until n).map(_ => letters(d.int(0, 25))).mkString
      }
      seen.toIndexedSeq.filterNot(Stopwords.contains)
    }
    private val cdf: Array[Double] = {
      val w = vocab.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private def word(): String =
      if (d.chance(0.3)) d.pick(Stopwords)
      else {
        val i = java.util.Arrays.binarySearch(cdf, d.double())
        vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
      }
    private def words(n: Int): Array[String] = Array.fill(n)(word())
    private def render(ws: Array[String]): String = {
      val sb = new StringBuilder
      var i = 0
      var sentence = 0
      while (i < ws.length) {
        val w = ws(i)
        if (sentence == 0) sb.append(w.capitalize) else sb.append(w)
        sentence += 1
        i += 1
        if (i == ws.length || (sentence >= 8 && d.chance(0.15))) {
          sb.append('.'); sentence = 0
        }
        if (i < ws.length) sb.append(' ')
      }
      sb.toString
    }

    def write(dir: File): Truth = {
      val docs = ArrayBuffer.empty[(String, String)] // (source, text)
      val clusters = ArrayBuffer.empty[Seq[Int]] // indices into docs
      val seenText = collection.mutable.HashSet.empty[String]
      def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
      def add(src: String, text: String): Int = {
        docs += ((src, text)); docs.size - 1
      }
      var urls = 0L; var emails = 0L; var ips = 0L
      var dropped = 0L
      // every seed gets the same number of documents of each kind and
      // the same length mix; only their words and order differ
      val kinds = d.shuffle((0 until BaseDocs).map { i =>
        val per100 = i % 100
        if (per100 < 12) "cluster" else if (per100 < 15) "exact"
        else if (per100 < 17) "short" else "plain"
      })
      val counters = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      for (kind <- kinds) {
        val k = counters(kind)
        counters(kind) = k + 1
        val src = d.pick(Sources)
        val ws = words(60 + k * 37 % 101)
        if (kind == "cluster") {
          // near-dup cluster: the seed plus 1-7 edited copies
          val members = ArrayBuffer(add(src, render(ws)))
          seenText += norm(docs.last._2)
          val extra = 1 + k % 7
          while (members.size <= extra) {
            val v = ws.clone()
            val edits = math.max(1, ws.length / 50)
            for (_ <- 0 until edits) {
              val p = d.int(0, v.length - 1)
              var w = word()
              while (w == v(p)) w = word()
              v(p) = w
            }
            val text = render(v)
            if (seenText.add(norm(text))) members += add(d.pick(Sources), text)
          }
          clusters += members.toSeq
        } else if (kind == "exact") {
          // exact duplicate: same text, different case and spacing
          val text = render(ws)
          add(src, text)
          add(d.pick(Sources), "  " + text.toUpperCase.replace(" ", "   "))
          dropped += 1
        } else if (kind == "short") {
          add(src, render(words(3 + k % 5))) // too short: filtered
          dropped += 1
        } else {
          val pii = ArrayBuffer.empty[String]
          if (k % 10 == 0) { pii += s"contact user${d.int(1, 99999)}@example.org"; emails += 1 }
          if (k % 20 == 1) { pii += s"see https://example.com/page/${d.int(1, 99999)}"; urls += 1 }
          if (k % 33 == 2) { pii += s"host 10.${d.int(0, 255)}.${d.int(0, 255)}.${d.int(1, 254)}"; ips += 1 }
          val text = render(ws)
          add(src, if (pii.isEmpty) text else s"$text ${pii.mkString(" ")} end.")
        }
      }
      // ids are a seeded permutation, so clusters are not contiguous
      val ids = d.shuffle((1L to docs.size.toLong).toIndexedSeq)
      dir.mkdirs()
      Io.write(new File(dir, "corpus.tsv")) { w =>
        d.shuffle(docs.indices).foreach { i =>
          w.line(ids(i).toString, docs(i)._1, docs(i)._2)
        }
      }
      val planted = clusters.flatMap { m =>
        val mids = m.map(ids(_)); mids.filter(_ != mids.min)
      }.toSet
      Truth(docs.size - dropped, urls, emails, ips, planted)
    }
  }
}
