package flowbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.{Schemas, Species, XdbKeys}
import graft.pipeline.{AgrPipeline, OrthologPipeline}
import graft.sources.Readers

/** A new Alliance combined-TSV release loaded against the prior AGR
  * state (`--agrOrthologs`).
  *
  * Planted truth. Every curie's resolution step is chosen: an AGR_GENE
  * binding (map), the species' own id (specialId), a unique symbol -
  * some written in Greek letters the reader transliterates - (symbol),
  * a brand-new zebrafish gene (insert), or an unknown human curie
  * (unresolved, its lines skipped). The release keeps ~92% of the prior
  * rows (some with flipped best-score flags), drops ~8% (stale deletes,
  * under the 10% guard) and adds ~15% new rows; a third of its lines
  * name a species outside the processed set. Final AGR state, new genes
  * and the new xref state follow by construction.
  */
final class AgrRelease extends Workload {
  import AgrRelease._

  private var truth: Truth = _

  def generate(seed: Long, dir: File): Unit = {
    val t = new Gen(seed).write(dir)
    if (truth == null) truth = t
  }

  private val layerOf: String => String = {
    case "agr_resolved" => "operators.agr_resolve"
    case "agr_upserted" => "operators.agr_upsert"
    case "agr_new_xrefs" => "operators.agr_xrefs"
    case other => s"operators.$other"
  }

  def iterate(ctx: IterCtx): IterResult = {
    val spark = ctx.spark
    def out(n: String) = new File(ctx.out, n)
    val tr = ctx.tracer
    val tables = StateTables.toMap
    def state(t: String) =
      Io.tsv(spark, new File(ctx.input, s"$t.tsv"), tables(t))
    val (lines, agr, xrefs, genes, rgdIds) = tr.span("sources.read") {
      (Readers.readAlliance(spark, new File(ctx.input, "alliance.tsv").getPath),
        state("agr_orthologs"), state("xrefs"), state("genes"), state("rgd_ids"))
    }
    val store = OrthologPipeline.BucketedPhases(ctx.prefix,
      new File(ctx.out, "phases").getPath, buckets = ctx.buckets)
    val phases = if (ctx.traced) new TracedPhases(store, tr, layerOf) else store
    val r = AgrPipeline.run(lines, agr, xrefs, genes, rgdIds, RunTs, Cutoff,
      phases = phases)
    r.xrefs // the new-binding phase runs on first access; run it here
    tr.span("sources.commit") {
      Io.parquet(r.agrOrthologs, out("agr_orthologs"))
      Io.parquet(r.xrefs, out("xrefs"))
      Io.parquet(r.newGenes, out("new_genes"))
    }
    val t = truth
    new IterResult {
      def check(): Seq[String] = {
        val finalAgr = spark.read.parquet(out("agr_orthologs").getPath)
          .select(AgrCols.map(col): _*)
        val x = spark.read.parquet(out("xrefs").getPath)
        val got = Seq(
          "guard" -> (if (r.guardOk) 1L else 0L),
          "agr rows" -> finalAgr.count(),
          "new genes" -> spark.read.parquet(out("new_genes").getPath).count(),
          "unresolved" -> r.unresolved.count(),
          "xrefs" -> x.count(),
          "new bindings" -> x.filter(col("accXdbKey") > t.maxXrefKey).count())
        val want = Seq("guard" -> 1L, "agr rows" -> t.rows.size.toLong,
          "new genes" -> t.newGenes, "unresolved" -> t.unresolved,
          "xrefs" -> t.xrefs, "new bindings" -> t.newBindings)
        val fp = Fingerprint.of(finalAgr)
        got.zip(want).collect {
          case ((k, g), (_, w)) if g != w => s"$k $g != planted $w"
        } ++ (if (fp != t.fingerprint(spark))
          Seq(s"final AGR state $fp != planted ${t.fingerprint(spark)}") else Nil)
      }
      def fingerprint(): String = Seq("agr_orthologs", "xrefs", "new_genes")
        .map(n => Fingerprint.of(spark.read.parquet(out(n).getPath)))
        .mkString(" ")
    }
  }
}

object AgrRelease {
  /** Genes per processed species, and prior AGR rows. */
  val GenesPerSpecies = 4000
  val PriorRows = 12000
  val RunTs: Timestamp = Timestamp.valueOf("2026-08-01 00:00:00")
  val Cutoff: Timestamp = Timestamp.valueOf("2026-07-31 23:00:00")
  private val Before = "2026-06-01 00:00:00"
  private val BeforeTs = Timestamp.valueOf(Before)
  private val Algorithms = IndexedSeq("Ensembl Compara", "HGNC", "Hieranoid",
    "InParanoid", "OMA", "OrthoFinder", "OrthoInspector", "PANTHER",
    "PhylomeDB", "SonicParanoid", "ZFIN")
  private val Greek = IndexedSeq('α' -> "alpha", 'β' -> "beta",
    'γ' -> "gamma", 'δ' -> "delta")

  val StateTables: Seq[(String, org.apache.spark.sql.types.StructType)] = Seq(
    "agr_orthologs" -> Schemas.agrOrthologs, "xrefs" -> Schemas.xrefs,
    "genes" -> Schemas.genes, "rgd_ids" -> Schemas.rgdIds)

  val AgrCols: Seq[String] = Seq("geneRgdId1", "geneRgdId2", "methodsMatched",
    "isBestScore", "isBestRevScore", "confidence", "createdDate",
    "lastUpdateDate")

  type Row8 = (Int, Int, String, String, String, String, Timestamp, Timestamp)

  final case class Truth(rows: Seq[Row8], newGenes: Long, unresolved: Long,
                         xrefs: Long, newBindings: Long, maxXrefKey: Long) {
    private var fp: String = _
    def fingerprint(spark: SparkSession): String = synchronized {
      if (fp == null) {
        import spark.implicits._
        fp = Fingerprint.of(rows.toDF(AgrCols: _*))
      }
      fp
    }
  }

  /** One gene as the release names it. `rgd` is -1 for a gene the
    * release introduces; `symbol` is the release's spelling. */
  private final case class G(curie: String, symbol: String, sp: Int, rgd: Int,
                             bound: Boolean)

  private final class Gen(seed: Long) {
    private val d = new Draw(seed)
    private val genes = ArrayBuffer.empty[String]
    private val rgdIds = ArrayBuffer.empty[String]
    private val xrefs = ArrayBuffer.empty[String]
    private var xrefKey = 0L

    private def xref(rgd: Int, xdb: Int, acc: String, pipeline: String): Unit = {
      xrefKey += 1
      xrefs += s"$xrefKey\t$rgd\t$xdb\t$acc\t$pipeline\t$Before"
    }

    /** A processed-species gene with its dimension rows and xrefs. */
    private def gene(sp: Int, i: Int): G = {
      // an id range of its own, disjoint from the species workload's genes
      val base = sp match {
        case Species.HUMAN => 11000000
        case Species.MOUSE => 12000000
        case Species.RAT => 13000000
        case _ => 18000000
      }
      val rgd = base + i
      val (curie, plain) = sp match {
        case Species.HUMAN => (s"HGNC:${10000 + i}", s"HG$i")
        case Species.MOUSE => (s"MGI:${100000 + i}", s"Mm$i")
        case Species.RAT => (s"RGD:$rgd", s"Rn$i")
        case _ => (s"ZFIN:ZDB-GENE-${100000 + i}", s"zf$i")
      }
      // some release symbols spell a Greek letter the reader transliterates
      val (symbol, dimSymbol) =
        if (d.chance(0.03)) {
          val (g, latin) = d.pick(Greek)
          (s"$plain$g", s"$plain$latin")
        } else (plain, plain)
      genes += s"$rgd\t$dimSymbol\t$dimSymbol gene\tprotein-coding\t$sp\t$dimSymbol"
      rgdIds += s"$rgd\tACTIVE\t$sp"
      xref(rgd, XdbKeys.ENTREZGENE, (50000000 + rgd).toString, "EntrezGene")
      for (k <- 0 until d.int(6, 10)) xref(rgd, 1, f"NM_${rgd}%d.$k", "GenBank")
      for (k <- 0 until d.int(2, 4)) xref(rgd, 20, f"ENSG$rgd%011d.$k", "Ensembl")
      sp match {
        case Species.HUMAN => xref(rgd, XdbKeys.HGNC, curie, "HGNC")
        case Species.MOUSE => xref(rgd, XdbKeys.MGD, curie, "MGI")
        case _ =>
      }
      val bound = d.chance(if (sp == Species.ZEBRAFISH) 0.7 else 0.8)
      if (bound) xref(rgd, XdbKeys.AGR_GENE, curie, "AgrOrtholog")
      G(curie, symbol, sp, rgd, bound)
    }

    def write(dir: File): Truth = {
      val processed = IndexedSeq(Species.HUMAN, Species.MOUSE, Species.RAT,
        Species.ZEBRAFISH)
      val pool = processed.map(sp => sp -> (0 until GenesPerSpecies)
        .map(i => gene(sp, i))).toMap
      val maxRgd = pool.values.flatten.map(_.rgd).max
      val combos = IndexedSeq(
        (Species.HUMAN, Species.MOUSE, 25), (Species.HUMAN, Species.RAT, 25),
        (Species.MOUSE, Species.RAT, 20), (Species.HUMAN, Species.ZEBRAFISH, 15),
        (Species.RAT, Species.ZEBRAFISH, 10), (Species.MOUSE, Species.ZEBRAFISH, 5))
        .flatMap { case (a, b, w) => Seq.fill(w)((a, b)) }
      val pairs = mutable.HashSet.empty[(String, String)]
      def freshPair(): (G, G) = {
        var p: (G, G) = null
        while (p == null) {
          val (a, b) = d.pick(combos)
          val g1 = d.pick(pool(a)); val g2 = d.pick(pool(b))
          if (pairs.add((g1.curie, g2.curie))) p = (g1, g2)
        }
        p
      }
      def methods(): String =
        d.tokens(Algorithms, d.int(1, 6)).mkString("|")
      def yn(): String = if (d.chance(0.7)) "Yes" else "No"
      def flag(s: String): String = if (s == "Yes") "Y" else "N"

      // release lines: (gene1, gene2, methods, best, bestRev)
      val release = ArrayBuffer.empty[(G, G, String, String, String)]
      val prior = ArrayBuffer.empty[String]
      val rows = ArrayBuffer.empty[(G, G, String, String, String, Boolean)]
      for (_ <- 0 until PriorRows) {
        val (g1, g2) = freshPair()
        val m = methods(); val b = yn(); val br = yn()
        prior += s"${g1.rgd}\t${g2.rgd}\tstringent\t${flag(b)}\t${flag(br)}\t$m\t$Before\t$Before"
        if (!d.chance(0.08)) { // else: stale, deleted under the guard
          val b2 = if (d.chance(0.1)) (if (b == "Yes") "No" else "Yes") else b
          release += ((g1, g2, m, b2, br))
          rows += ((g1, g2, m, b2, br, false))
        }
      }
      val newGenes = ArrayBuffer.empty[G]
      for (k <- 0 until PriorRows * 15 / 100) {
        val (g1, g2) =
          if (d.chance(0.7)) freshPair()
          else {
            val z = G(f"ZFIN:ZDB-GENE-NEW-$k%06d", s"zfn$k", Species.ZEBRAFISH,
              -1, bound = false)
            newGenes += z
            val (a, _) = d.pick(combos)
            (d.pick(pool(a)), z)
          }
        val m = methods(); val b = yn(); val br = yn()
        release += ((g1, g2, m, b, br))
        rows += ((g1, g2, m, b, br, true))
      }
      // lines whose human curie nothing resolves: skipped by the load
      val unresolved = (0 until PriorRows * 2 / 100).map { k =>
        val h = G(s"HGNC:${9000000 + k}", s"HGX$k", Species.HUMAN, -1, bound = false)
        release += ((h, d.pick(pool(Species.MOUSE)), methods(), yn(), yn()))
        h
      }
      val inScope = release.size

      // new-gene ids: above the dimension's max, in (curie, symbol) order
      val newId = newGenes.sortBy(g => (g.curie, g.symbol)).zipWithIndex
        .map { case (g, i) => g.curie -> (maxRgd + 1 + i) }.toMap
      def rgdOf(g: G) = if (g.rgd >= 0) g.rgd else newId(g.curie)
      val truthRows = rows.map { case (g1, g2, m, b, br, isNew) =>
        (rgdOf(g1), rgdOf(g2), m, flag(b), flag(br), "stringent",
          if (isNew) RunTs else BeforeTs, RunTs)
      }.toSeq

      // xref state after the load: AGR_GENE bindings of curies the release
      // resolves stay (touched), the rest are swept; every curie resolved
      // without a binding gets one
      val seen = release.flatMap { case (g1, g2, _, _, _) => Seq(g1, g2) }
        .filter(g => g.rgd >= 0 || newId.contains(g.curie)).toSet
      val boundTotal = pool.values.flatten.count(_.bound)
      val swept = boundTotal - seen.count(_.bound)
      val newBindings = seen.count(!_.bound)

      val species = Species.dim.map(x => x._1 -> x._4).toMap
      def cols(g: G): Seq[String] =
        Seq(g.curie, g.symbol, s"NCBITaxon:${Species.taxonId(g.sp)}", species(g.sp))
      val xenopus = (0 until GenesPerSpecies).map(i =>
        Seq(s"Xenbase:XB-GENE-${100000 + i}", s"xt$i", "NCBITaxon:8364",
          "Xenopus tropicalis"))
      val outOfScope = (0 until inScope / 2).map { _ =>
        val x = d.pick(xenopus)
        if (d.chance(0.3)) (d.pick(xenopus), x)
        else (cols(d.pick(pool(d.pick(processed)))), x)
      }
      val lines = release.map { case (g1, g2, m, b, br) =>
        (cols(g1) ++ cols(g2) ++ Seq(m, m.count(_ == '|').+(1).toString, "11", b, br))
          .mkString("\t")
      } ++ outOfScope.map { case (a, x) =>
        (a ++ x ++ Seq("OMA|PANTHER", "2", "11", "No", "No")).mkString("\t")
      }

      dir.mkdirs()
      Io.write(new File(dir, "alliance.tsv")) { w =>
        w.raw("#########################\n# Alliance combined orthology\n" +
          "# seeded release\n#########################\n")
        w.line("Gene1ID", "Gene1Symbol", "Gene1SpeciesTaxonID",
          "Gene1SpeciesName", "Gene2ID", "Gene2Symbol", "Gene2SpeciesTaxonID",
          "Gene2SpeciesName", "Algorithms", "AlgorithmsMatch",
          "OutOfAlgorithms", "IsBestScore", "IsBestRevScore")
        d.shuffle(lines).foreach(w.line(_))
      }
      def table(name: String, rs: Seq[String]): Unit =
        Io.write(new File(dir, s"$name.tsv"))(w => rs.foreach(w.line(_)))
      table("agr_orthologs", prior.toSeq)
      table("xrefs", xrefs.toSeq)
      table("genes", genes.toSeq)
      table("rgd_ids", rgdIds.toSeq)

      Truth(truthRows, newGenes.size.toLong, unresolved.size.toLong,
        xrefs.size.toLong - swept + newBindings, newBindings.toLong, xrefKey)
    }
  }
}
