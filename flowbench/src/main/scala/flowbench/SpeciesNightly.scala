package flowbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.{Schemas, Species}
import graft.pipeline.OrthologPipeline
import graft.sources.Readers

/** The nightly `--species` rerun: each species in [[SpeciesNightly.Processed]]
  * in turn, with the ortholog and association state threaded from one
  * species run to the next the way the CLI's `--species all` loop does
  * it. The files carry mouse and rat relations; the loop loads rat only,
  * because one species run already costs ~15 s of mostly fixed overhead
  * and the benchmark's time budget allows one per iteration.
  *
  * Planted truth. Every human gene's HCOP relations have one partner
  * with strictly the most evidence (HCOP sources plus the NCBI marker),
  * so the best-fit pick of each group - forward and reverse - is known.
  * The prior state holds ~97% of those picks; the rest, and every pick
  * whose partner was withdrawn and replaced, are inserts. Duplicate
  * lower-priority rows on picked keys and double stale rows on keys of
  * unresolvable genes are the planted deletes.
  */
final class SpeciesNightly {
  import SpeciesNightly._

  private var truth: Truth = _

  def generate(seed: Long, dir: File): Unit = {
    val t = new Gen(seed).write(dir)
    if (truth == null) truth = t
  }

  private val layerOf: String => String = {
    case "relations" => "operators.resolve_group"
    case "picks" => "operators.cascade"
    case "inserted" | "merged_state" | "downgraded" => "operators.reconcile"
    case "orthologs" => "operators.dedupe"
    case "associations" => "operators.weak_sync"
    case other => s"operators.$other"
  }

  /** The species loop over the generated inputs; `agr` replaces the
    * prior AGR state (the AGR load ran first in the same nightly batch). */
  def run(ctx: IterCtx, agr: DataFrame): IterResult = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val tables = StateTables.toMap
    def state(t: String) =
      Io.tsv(spark, new File(ctx.input, s"$t.tsv"), tables(t))
    var st = tr.span("sources.read") {
      OrthologPipeline.State(state("orthologs"), state("associations"),
        agr, state("xrefs"), state("genes"),
        state("rgd_ids"), state("history"))
    }
    val runs = Processed.map { sp =>
      val spName = Species.dim.find(_._1 == sp).get._2
      val rel = tr.span("sources.read") {
        Readers.requireSanityFloor(Readers.readHcopPlusNcbi(spark,
          new File(ctx.input, "hcop.tsv").getPath,
          new File(ctx.input, "ncbi.tsv").getPath, sp))
      }
      val store = OrthologPipeline.BucketedPhases(s"${ctx.prefix}_$spName",
        new File(ctx.out, s"$spName/phases").getPath, buckets = ctx.buckets)
      val phases =
        if (ctx.traced) new TracedPhases(store, tr, layerOf) else store
      val r = OrthologPipeline.runSpecies(rel, st, sp, RunTs, phases = phases)
      // the post-picks phases run on first access; run them here, each
      // under its own phase span, rather than inside the commit below
      r.orthologs
      r.associations
      val orthPath = new File(ctx.out, s"$spName/orthologs")
      val assocPath = new File(ctx.out, s"$spName/associations")
      tr.span("sources.commit") {
        Io.parquet(r.orthologs, orthPath)
        Io.parquet(r.associations, assocPath)
      }
      st = tr.span("sources.read") {
        st.copy(orthologs = spark.read.parquet(orthPath.getPath),
          associations = spark.read.parquet(assocPath.getPath))
      }
      (sp, r, orthPath, assocPath)
    }
    val t = truth
    new IterResult {
      def check(): Seq[String] = runs.flatMap { case (sp, r, _, _) =>
        val picks = r.strongPicks.select(col("srcRgdId"), col("destRgdId"))
        val got = Fingerprint.of(picks)
        val want = t.picksFingerprint(spark, sp)
        val counts = Seq("touched", "inserted", "deleted", "downgraded")
          .map(k => k -> r.mergeAudit(k).count())
        val wantCounts = Seq("touched" -> t.touched.getOrElse(sp, 0L),
          "inserted" -> t.inserted.getOrElse(sp, 0L),
          "deleted" -> t.deleted.getOrElse(sp, 0L), "downgraded" -> 0L)
        (if (got != want) Seq(s"species $sp picks $got != planted $want")
         else Nil) ++
          counts.zip(wantCounts).collect {
            case ((k, g), (_, w)) if g != w => s"species $sp $k $g != planted $w"
          }
      }
      def fingerprint(): String = runs.map { case (_, _, o, a) =>
        Fingerprint.of(spark.read.parquet(o.getPath)) + "/" +
          Fingerprint.of(spark.read.parquet(a.getPath))
      }.mkString(" ")
    }
  }
}

object SpeciesNightly {
  /** Species with relations in the generated files, and the species the
    * nightly loop loads (in this order, state threaded between them). */
  val Generated: Seq[Int] = Seq(Species.MOUSE, Species.RAT)
  val Processed: Seq[Int] = Seq(Species.RAT)
  val Humans = 2500
  val RunTs: Timestamp = Timestamp.valueOf("2026-08-01 00:00:00")
  private val Before = "2026-06-01 00:00:00"
  private val HcopSources = IndexedSeq("EggNOG", "Ensembl", "HomoloGene",
    "Inparanoid", "OMA", "OrthoDB", "OrthoMCL", "Panther", "Phylome",
    "Treefam")

  val StateTables: Seq[(String, org.apache.spark.sql.types.StructType)] = Seq(
    "orthologs" -> Schemas.orthologs, "associations" -> Schemas.associations,
    "xrefs" -> Schemas.xrefs,
    "genes" -> Schemas.genes, "rgd_ids" -> Schemas.rgdIds,
    "history" -> Schemas.rgdIdHistory)

  /** Planted truth per species key. */
  final case class Truth(picks: Map[Int, Seq[(Int, Int)]],
                         touched: Map[Int, Long], inserted: Map[Int, Long],
                         deleted: Map[Int, Long]) {
    private var fps = Map.empty[Int, String]
    def picksFingerprint(spark: SparkSession, sp: Int): String = synchronized {
      fps.getOrElse(sp, {
        import spark.implicits._
        val fp = Fingerprint.of(picks(sp).toDF("srcRgdId", "destRgdId"))
        fps += sp -> fp
        fp
      })
    }
  }

  /** One partner gene: its entrez id resolves to `eff`, which differs
    * from the xref's own gene when that gene was withdrawn. */
  private final case class Partner(eg: String, rgd: Int, eff: Int,
                                   symbol: String)

  private final class Gen(seed: Long) {
    private val d = new Draw(seed)
    private val genes = ArrayBuffer.empty[String]
    private val rgdIds = ArrayBuffer.empty[String]
    private val xrefs = ArrayBuffer.empty[String]
    private val history = ArrayBuffer.empty[String]
    private val orthologs = ArrayBuffer.empty[String]
    private val assocs = ArrayBuffer.empty[String]
    private val hcop = ArrayBuffer.empty[String]
    private val ncbi = ArrayBuffer.empty[String]
    private var orthKey = 0L
    private var assocKey = 0L
    private var xrefKey = 0L

    private def gene(rgd: Int, symbol: String, sp: Int, status: String): Unit = {
      genes += s"$rgd\t$symbol\t$symbol gene\tprotein-coding\t$sp\t$symbol"
      rgdIds += s"$rgd\t$status\t$sp"
    }
    private def entrez(rgd: Int, eg: String): Unit = {
      xrefKey += 1
      xrefs += s"$xrefKey\t$rgd\t3\t$eg\tEntrezGene\t$Before"
    }
    private def ortholog(src: Int, dest: Int, srcSp: Int, destSp: Int,
                         dataSrc: String, dataSet: String): Unit = {
      orthKey += 1
      orthologs += s"$orthKey\t$src\t$dest\t$srcSp\t$destSp\t$dataSrc\t" +
        s"$dataSet\t11\t70\t$Before\t70\t$Before"
    }
    private def weak(master: Int, detail: Int, subType: String): Unit = {
      assocKey += 1
      assocs += s"$assocKey\tweak_ortholog\t$subType\t$master\t$detail\tHGNC\t$Before"
    }
    private def hcopLine(taxon: Int, humanEg: String, humanSym: String,
                         orthoEg: String, orthoSym: String,
                         sources: Seq[String]): Unit =
      hcop += Seq(taxon.toString, humanEg, "-", "-", s"$humanSym gene",
        humanSym, "1", "-", orthoEg, "-", "-", s"$orthoSym gene", orthoSym,
        "1", "-", sources.mkString(",")).mkString("\t")

    def write(dir: File): Truth = {
      val picks = Generated.map(_ -> ArrayBuffer.empty[(Int, Int)]).toMap
      val touched = collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
      val inserted = collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
      val deleted = collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)

      val humanRgd = (0 until Humans).map(1000000 + _)
      val humanEg = (0 until Humans).map(i => (100000000 + i).toString)
      val humanSym = (0 until Humans).map(i => s"HG$i")
      val resolvable = (0 until Humans).map(_ => !d.chance(0.01))
      for (i <- 0 until Humans) {
        gene(humanRgd(i), humanSym(i), Species.HUMAN, "ACTIVE")
        if (resolvable(i)) entrez(humanRgd(i), humanEg(i))
      }

      var nextGene = 2000000
      var nextEg = 200000000
      def partner(sp: Int, prefix: String): Partner = {
        nextGene += 1; nextEg += 1
        val sym = s"$prefix$nextGene"
        val eg = nextEg.toString
        entrez(nextGene, eg)
        if (d.chance(0.01)) {
          gene(nextGene, sym, sp, "WITHDRAWN")
          val old = nextGene
          nextGene += 1
          gene(nextGene, s"${sym}r", sp, "ACTIVE")
          history += s"$old\t$nextGene"
          Partner(eg, old, nextGene, sym)
        } else {
          gene(nextGene, sym, sp, "ACTIVE")
          Partner(eg, nextGene, nextGene, sym)
        }
      }

      for (sp <- Generated) {
        val taxon = Species.taxonId(sp)
        val prefix = if (sp == Species.MOUSE) "Mm" else "Rn"
        for (i <- 0 until Humans) {
          val h = humanRgd(i)
          val r = d.double()
          if (r < 0.95) {
            val hcopGroup = r < 0.90
            val k = if (!hcopGroup) 1 else {
              val u = d.double(); if (u < 0.5) 1 else if (u < 0.8) 2 else 3
            }
            val tb = d.int(3, 7)
            // (partner, merged evidence); index 0 is the planted best
            val rels = (0 until k).map { j =>
              val p = partner(sp, prefix)
              if (hcopGroup) {
                val t = if (j == 0) tb else d.int(1, tb - 1)
                val toks = d.tokens(HcopSources, t)
                val withNcbi =
                  if (j == 0) d.chance(0.8) else t + 1 < tb && d.chance(0.3)
                hcopLine(taxon, humanEg(i), humanSym(i), p.eg, p.symbol, toks)
                if (withNcbi) ncbi += s"9606\t${humanEg(i)}\tOrtholog\t$taxon\t${p.eg}"
                p -> (toks ++ (if (withNcbi) Seq("NCBI") else Nil)).sorted
                  .mkString(", ")
              } else {
                ncbi += s"9606\t${humanEg(i)}\tOrtholog\t$taxon\t${p.eg}"
                p -> "Ortholog"
              }
            }
            if (hcopGroup && d.chance(0.03)) {
              nextEg += 1 // an ortholog id no xref knows: dropped at resolution
              hcopLine(taxon, humanEg(i), humanSym(i), nextEg.toString,
                s"${prefix}x$nextEg", d.tokens(HcopSources, d.int(1, 3)))
            }
            val src = if (hcopGroup) "HGNC" else "NCBI"
            val (best, bestEv) = rels.head
            if (resolvable(i)) {
              picks(sp) += ((h, best.eff)) += ((best.eff, h))
              if (best.eff != best.rgd) {
                // prior pick points at the since-withdrawn gene: invisible
                // to the reconcile, so the replacement pick is an insert
                ortholog(h, best.rgd, Species.HUMAN, sp, src, bestEv)
                ortholog(best.rgd, h, sp, Species.HUMAN, src, bestEv)
                inserted(sp) += 2
              } else if (d.chance(0.97)) {
                ortholog(h, best.eff, Species.HUMAN, sp, src, bestEv)
                ortholog(best.eff, h, sp, Species.HUMAN, src, bestEv)
                touched(sp) += 2
                if (k > 1 && d.chance(0.02)) {
                  // lower-priority duplicate on a picked key: deleted
                  ortholog(h, rels(1)._1.eff, Species.HUMAN, sp, "NCBI", "Ortholog")
                  deleted(sp) += 1
                }
              } else inserted(sp) += 2
              rels.tail.foreach { case (p, ev) =>
                if (d.chance(0.95)) {
                  weak(h, p.eff, ev); weak(p.eff, h, ev)
                }
              }
            } else if (d.chance(0.5)) {
              // stale rows on a key no relation resolves to: a sole row
              // survives the sweep, the first of two is deleted
              ortholog(h, best.eff, Species.HUMAN, sp, src, bestEv)
              if (k > 1 && d.chance(0.3)) {
                ortholog(h, rels(1)._1.eff, Species.HUMAN, sp, src, rels(1)._2)
                deleted(sp) += 1
              }
            }
          }
        }
      }

      // out-of-scope species rows: filtered by the HCOP taxon filter and
      // never in the reconciled species pair
      for (i <- 0 until Humans by 10) {
        val p = partner(Species.DOG, "Cf")
        hcopLine(Species.taxonId(Species.DOG), humanEg(i), humanSym(i), p.eg,
          p.symbol, d.tokens(HcopSources, 3))
        if (i % 20 == 0) ortholog(humanRgd(i), p.eff, Species.HUMAN, Species.DOG,
          "HGNC", "Ensembl, OMA, Panther")
      }

      dir.mkdirs()
      Io.write(new File(dir, "hcop.tsv")) { w =>
        w.line("ortholog_species", "human_entrez_gene", "human_ensembl_gene",
          "hgnc_id", "human_name", "human_symbol", "human_chr",
          "human_assert_ids", "ortholog_species_entrez_gene",
          "ortholog_species_ensembl_gene", "ortholog_species_db_id",
          "ortholog_species_name", "ortholog_species_symbol",
          "ortholog_species_chr", "ortholog_species_assert_ids", "support")
        d.shuffle(hcop).foreach(w.line(_))
      }
      Io.write(new File(dir, "ncbi.tsv")) { w =>
        w.line("#tax_id", "GeneID", "relationship", "Other_tax_id", "Other_GeneID")
        d.shuffle(ncbi).foreach(w.line(_))
      }
      def table(name: String, rows: Seq[String]): Unit =
        Io.write(new File(dir, s"$name.tsv"))(w => rows.foreach(w.line(_)))
      table("orthologs", orthologs.toSeq)
      table("associations", assocs.toSeq)
      table("xrefs", xrefs.toSeq)
      table("genes", genes.toSeq)
      table("rgd_ids", rgdIds.toSeq)
      table("history", history.toSeq)

      Truth(picks.map { case (k, v) => k -> v.toSeq }, touched.toMap,
        inserted.toMap, deleted.toMap)
    }
  }
}
