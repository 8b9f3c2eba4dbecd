package flowbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload: a seeded input generator with planted truth,
  * the user-facing flow it times, and the checks on that flow's output. */
trait Workload {
  /** Write the seeded input files into `dir`. The same seed must give
    * byte-identical files. Called several times per run; only the first
    * call's truth is kept. */
  def generate(seed: Long, dir: File): Unit

  /** One closed-loop iteration: read the input files, run the flow,
    * commit the outputs under `out`. Timed. */
  def iterate(ctx: IterCtx): IterResult

  /** Untimed iterations before the timed ones. */
  def warmups: Int = 1
}

/** What an iteration needs: its session, where the inputs live, where it
  * may write, and the tracer (a no-op when untraced). */
final case class IterCtx(spark: SparkSession, input: File, out: File,
                         tracer: Tracer, traced: Boolean, prefix: String) {
  /** Bucket count of the phase tables. The state store sizes buckets
    * for the table (~128 MB each); every phase table here is far below
    * one bucket, so one bucket per core keeps the writes parallel. */
  def buckets: Int = spark.sparkContext.defaultParallelism
}

/** An iteration's handles for the untimed checks that follow it. */
trait IterResult {
  /** Differences from the planted truth; empty when correct. */
  def check(): Seq[String]
  /** Order-independent fingerprint of the committed outputs. */
  def fingerprint(): String
}

object Io {
  /** Buffered UTF-8 line writer over a file. */
  final class Lines(f: File) {
    private val out: OutputStream =
      new BufferedOutputStream(new FileOutputStream(f), 1 << 16)
    def line(fields: String*): Unit = {
      out.write(fields.mkString("\t").getBytes(UTF_8))
      out.write('\n')
    }
    def raw(s: String): Unit = out.write(s.getBytes(UTF_8))
    def close(): Unit = out.close()
  }

  def write(f: File)(body: Lines => Unit): Unit = {
    val w = new Lines(f)
    try body(w) finally w.close()
  }

  /** SHA-256 over every regular file under `dir`, in path order. */
  def digest(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
        .foreach(walk)
      else {
        md.update(f.getName.getBytes(UTF_8))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    walk(dir)
    md.digest().map(b => f"$b%02x").mkString
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else f.length()

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  def tsv(spark: SparkSession, path: File,
          schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("sep", "\t").option("quote", "")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(schema).csv(path.getPath)

  def parquet(df: DataFrame, path: File): Unit =
    df.write.mode("overwrite").parquet(path.getPath)
}

object Fingerprint {
  /** Row count plus two order-independent folds of a 64-bit row hash:
    * equal multisets of rows give equal fingerprints. */
  def of(df: DataFrame): String = {
    val h = xxhash64(df.columns.toIndexedSeq.map(col): _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))),
      bit_xor(h)).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:" +
      s"${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }
}

/** Seeded draws shared by the generators. */
final class Draw(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def chance(p: Double): Boolean = r.nextDouble() < p
  def int(lo: Int, hiInclusive: Int): Int = lo + r.nextInt(hiInclusive - lo + 1)
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
  def double(): Double = r.nextDouble()
  def shuffle[T](xs: scala.collection.Seq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
  /** `k` distinct tokens of `pool`, sorted. */
  def tokens(pool: IndexedSeq[String], k: Int): Seq[String] =
    shuffle(pool).take(k).sorted
}
