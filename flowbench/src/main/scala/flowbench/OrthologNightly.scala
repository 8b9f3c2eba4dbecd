package flowbench

import java.io.File

import org.apache.spark.sql.functions.col

/** The nightly ortholog batch: the Alliance release load
  * ([[AgrRelease]]) and then the species rerun ([[SpeciesNightly]]),
  * whose best-fit cascade reads the AGR state the load just committed,
  * as its Alliance tier does against the shared database in production.
  *
  * The two flows draw genes from disjoint id ranges, so the committed
  * AGR rows are real tier-3 join work for the cascade without changing
  * any planted pick. Inputs live in `agr/` and `species/` of the input
  * directory; the planted truth of each flow is checked as it is alone.
  */
final class OrthologNightly extends Workload {
  private val agr = new AgrRelease
  private val species = new SpeciesNightly

  def generate(seed: Long, dir: File): Unit = {
    agr.generate(seed, new File(dir, "agr"))
    species.generate(seed + 1, new File(dir, "species"))
  }

  def iterate(ctx: IterCtx): IterResult = {
    def sub(n: String) = ctx.copy(input = new File(ctx.input, n),
      out = new File(ctx.out, n), prefix = s"${ctx.prefix}_$n")
    val a = agr.iterate(sub("agr"))
    val committed = ctx.tracer.span("sources.read") {
      ctx.spark.read.parquet(new File(ctx.out, "agr/agr_orthologs").getPath)
        .select(AgrRelease.AgrCols.map(col): _*)
    }
    val s = species.run(sub("species"), committed)
    new IterResult {
      def check(): Seq[String] = a.check() ++ s.check()
      def fingerprint(): String = a.fingerprint() + " | " + s.fingerprint()
    }
  }
}
