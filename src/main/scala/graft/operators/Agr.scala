package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{Species, XdbKeys}
import graft.functions.Exprs

/** The Alliance (AGR) flow: M5 gene-resolution cascade, S9 upsert-as-merge,
  * A8 threshold-guarded stale delete, M6 curie QC, D6 symbol QC.
  *
  * The reference processes TSV lines in a parallel stream with synchronized
  * per-line gene resolution and JDBC upserts with duplicate-key retry
  * (AgrTsvLoader.java:142-206,306-393). Set-wise, resolution becomes a
  * sequence of left joins with coalesce fallbacks, and the upsert becomes
  * a full-outer merge keyed on (rgdId1, rgdId2, methodsMatched) - the
  * retry loop disappears by construction.
  */
object Agr {

  /** M5: resolve each Alliance curie to a gene rgd id via the 4-step
    * cascade (AgrTsvLoader.java:306-393):
    *  1. curie multimap (xdb_key=63), smallest rgd id wins (O3:
    *     sorted list, first element - OrthologRelationDao.java:524-550)
    *  2. species-specific id: rat "RGD:n" suffix; mouse via MGD xrefs;
    *     human via HGNC xrefs (AgrTsvLoader.java:344-363)
    *  3. active gene by symbol, smallest rgd id on ties
    *     (OrthologRelationDao.java:595-619)
    *  4. synthesize a brand-new gene - non-human/mouse/rat species only
    *     (OrthologRelationDao.java:621-642)
    *
    * Input `curies`: (curie, geneSymbol, speciesTypeKey) distinct.
    * Returns (curie, speciesTypeKey, rgdId, how) where `how` is the
    * resolution step ("map"/"specialId"/"symbol"/"insert"/null) and
    * rgdId < 0 marks rows needing synthesized genes (assigned by caller).
    */
  def resolveCuries(curies: DataFrame, xrefs: DataFrame, genes: DataFrame,
                    rgdIds: DataFrame): DataFrame = {

    val in = curies.select(col("curie"), col("geneSymbol"), col("speciesTypeKey"))
      .distinct()

    // steps 1-2 read only ACTIVE objects (getActiveXdbIds /
    // getActiveGenesByXdbId, OrthologRelationDao.java:513-521,527)
    val activeIds = rgdIds.filter(col("objectStatus") === "ACTIVE")
      .select(col("rgdId"))

    // steps 1-2 xref maps in ONE dimension pass (r17, guide §2.4): the
    // AGR_GENE / MGD / HGNC per-accId min-rgdId maps were three separate
    // xref scans + active joins + aggregations + probe joins; a
    // conditional min per xdbKey over the union filter produces the
    // identical three columns (min over the absent kind = null = the old
    // left-join miss) with one scan, one aggregation, one probe join.
    val xrefMaps = xrefs
      .filter(col("xdbKey").isin(XdbKeys.AGR_GENE, XdbKeys.MGD, XdbKeys.HGNC))
      .join(activeIds, Seq("rgdId"))
      .groupBy(col("accId"))
      .agg(
        min(when(col("xdbKey") === XdbKeys.AGR_GENE, col("rgdId")))
          .as("mapRgdId"),
        min(when(col("xdbKey") === XdbKeys.MGD, col("rgdId")))
          .as("mgdRgdId"),
        min(when(col("xdbKey") === XdbKeys.HGNC, col("rgdId")))
          .as("hgncRgdId"))
      .withColumnRenamed("accId", "curie")

    // rat: "RGD:12345" -> 12345, validated against the gene dimension
    // (getGeneByRgdId has no status check)
    val ratIds = genes.select(col("rgdId").as("ratRgdId"))

    // step 3: symbol -> gene, with the reference's exact status rule
    // (getGeneBySymbol, OrthologRelationDao.java:595-619): inactive
    // candidates are removed ONLY when more than one gene matched - a
    // single withdrawn gene still resolves; on multiples the smallest
    // ACTIVE rgd id wins (none active -> unresolved)
    val bySymbol = genes
      .join(rgdIds.select(col("rgdId"), col("objectStatus")), Seq("rgdId"), "left")
      .groupBy(col("geneSymbol"), col("speciesTypeKey"))
      .agg(count(lit(1)).as("symC"),
        min(col("rgdId")).as("anyRgdId"),
        min(when(col("objectStatus") === "ACTIVE", col("rgdId")))
          .as("activeRgdId"))
      .select(col("geneSymbol"), col("speciesTypeKey"),
        when(col("symC") === 1, col("anyRgdId"))
          .otherwise(col("activeRgdId")).as("symbolRgdId"))

    val step12 = in
      .join(xrefMaps, Seq("curie"), "left")
      .withColumn("ratParsed",
        when(col("speciesTypeKey") === Species.RAT && col("curie").startsWith("RGD:"),
          Exprs.stripPrefixToInt(col("curie"), 4)))
    val step2 = step12
      .join(ratIds, col("ratParsed") === col("ratRgdId"), "left")
      .withColumn("specialRgdId",
        when(col("speciesTypeKey") === Species.RAT, col("ratRgdId"))
          .when(col("speciesTypeKey") === Species.MOUSE, col("mgdRgdId"))
          .when(col("speciesTypeKey") === Species.HUMAN, col("hgncRgdId")))

    val step3 = step2.join(bySymbol, Seq("geneSymbol", "speciesTypeKey"), "left")

    step3.select(
      col("curie"), col("geneSymbol"), col("speciesTypeKey"),
      coalesce(col("mapRgdId"), col("specialRgdId"), col("symbolRgdId")).as("rgdId"),
      when(col("mapRgdId").isNotNull, "map")
        .when(col("specialRgdId").isNotNull, "specialId")
        .when(col("symbolRgdId").isNotNull, "symbol")
        .when(!col("speciesTypeKey").isin(Species.HUMAN, Species.MOUSE, Species.RAT),
          "insert")
        .as("how"))
  }

  /** Assign new rgd ids to unresolved non-human/mouse/rat curies
    * (how='insert'): deterministic surrogate ids above the current max
    * (ref createRgdId sequence, OrthologRelationDao.java:621-642).
    * Returns the resolution table with every resolvable curie bound. */
  def assignNewGenes(resolved: DataFrame, maxExistingRgdId: Int): DataFrame =
    assignNewGenes(resolved,
      resolved.sparkSession.range(1).select(
        lit(maxExistingRgdId).as("maxRgdId")))

  /** As above with the sequence base read lazily from `maxFrame` (a
    * one-row frame holding the current max rgd id, e.g.
    * `genes.agg(max(rgdId))`) - composing the plan triggers no driver
    * action. */
  def assignNewGenes(resolved: DataFrame, maxFrame: DataFrame): DataFrame = {
    // distributed sequence assignment - NOT a global-order window, which
    // would single-partition the insert set (see operators.Keys). The
    // order must be a UNIQUE total order (Keys scaladoc): the resolved
    // frame is distinct on (curie, symbol, species), so the same curie
    // appearing with two symbols needs all three columns or the two
    // synthesized ids swap run to run
    val inserts = Keys.assignSequentialFrom(
      resolved.filter(col("how") === "insert").drop("rgdId"),
      "rgdIdSeq", maxFrame,
      Seq(col("curie"), col("geneSymbol"), col("speciesTypeKey")))
      .withColumn("rgdId", col("rgdIdSeq").cast("int")).drop("rgdIdSeq")
    resolved.filter(col("how") =!= "insert" || col("how").isNull)
      .unionByName(inserts)
  }

  /** S9: the AGR upsert re-expressed as a full-outer merge on
    * (geneRgdId1, geneRgdId2, methodsMatched)
    * (OrthologRelationDao.java:825-849). Incoming rows update
    * confidence/flags/last_update_date; unmatched incoming rows insert;
    * unmatched state rows keep their old timestamps (and become stale
    * candidates for A8). The reference's ROWNUM<2 (O5) is unnecessary -
    * the merge key is deduplicated set-wise. */
  def upsertAgrOrthologs(incoming: DataFrame, state: DataFrame,
                         runTs: java.sql.Timestamp): DataFrame = {
    val key = Seq("geneRgdId1", "geneRgdId2", "methodsMatched")
    // dedupe incoming on the upsert key (parallel retry races in the
    // reference resolve arbitrarily; we take a deterministic first).
    // The order covers EVERY non-key column: key-tied rows differing
    // only in flags would otherwise pick arbitrarily run to run
    val w = Window.partitionBy(key.map(col): _*).orderBy(col("confidence"),
      col("isBestScore"), col("isBestRevScore"))
    val inc = incoming.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .select(col("geneRgdId1"), col("geneRgdId2"), col("methodsMatched"),
        col("confidence").as("incConfidence"),
        col("isBestScore").as("incBest"),
        col("isBestRevScore").as("incBestRev"))

    state.join(inc, key, "full_outer")
      .select(
        col("geneRgdId1"), col("geneRgdId2"), col("methodsMatched"),
        coalesce(col("incConfidence"), col("confidence")).as("confidence"),
        coalesce(col("incBest"), col("isBestScore")).as("isBestScore"),
        coalesce(col("incBestRev"), col("isBestRevScore")).as("isBestRevScore"),
        coalesce(col("createdDate"), lit(runTs)).as("createdDate"),
        when(col("incConfidence").isNotNull, lit(runTs))
          .otherwise(col("lastUpdateDate")).as("lastUpdateDate"))
  }

  /** A8: threshold-guarded stale delete. Rows older than the cutoff are
    * stale; if |new - initial| exceeds the threshold (e.g. "10%" of the
    * current table) the delete is refused and the state is returned
    * unchanged (AgrTsvLoader.java:273-304). The guard is a scalar count
    * comparison - driver-side by design. */
  def deleteStaleWithGuard(state: DataFrame, cutoff: java.sql.Timestamp,
                           initialCount: Long, threshold: String): (DataFrame, Boolean) = {
    // one scalar-aggregate job for both guard inputs (total + stale)
    val counts = state.agg(count(lit(1)),
      sum(when(col("lastUpdateDate") < lit(cutoff), 1L).otherwise(0L))).first()
    val total = counts.getLong(0)
    val maxDeletable: Long = parseThreshold(threshold, total)
    val staleCount = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    val newCount = total - staleCount
    if (math.abs(newCount - initialCount) > maxDeletable) {
      (state, false) // refuse: circuit breaker tripped
    } else {
      (state.filter(!(col("lastUpdateDate") < lit(cutoff))), true)
    }
  }

  /** X12: "10%" -> percent of current count; plain number -> absolute.
    * Ref: AgrTsvLoader.java:283-289. */
  def parseThreshold(threshold: String, total: Long): Long = {
    val t = threshold.trim
    if (t.endsWith("%")) t.dropRight(1).toInt * total / 100 else t.toLong
  }

  /** M6: curie QC sweep - touch every AGR_GENE xref seen this run, then
    * drop the ones still older than the cutoff
    * (OrthologRelationDao.java:658-670). */
  def qcCuries(xrefs: DataFrame, seenCuries: DataFrame, cutoff: java.sql.Timestamp,
               runTs: java.sql.Timestamp): DataFrame = {
    val agr = col("xdbKey") === XdbKeys.AGR_GENE &&
      col("srcPipeline") === "AgrOrtholog"
    val touched = xrefs.join(seenCuries.select(col("curie").as("accId")).distinct(),
      Seq("accId"), "left_semi")
    val touchedKeys = touched.select(col("accXdbKey"))
    xrefs
      .join(touchedKeys.withColumnRenamed("accXdbKey", "tk"),
        col("accXdbKey") === col("tk"), "left")
      .withColumn("modificationDate",
        when(col("tk").isNotNull && agr, lit(runTs)).otherwise(col("modificationDate")))
      .drop("tk")
      .filter(!(agr && col("modificationDate") < lit(cutoff)))
  }

  /** D6: human symbol QC, reference-exact (AgrTsvLoader.validateGeneSymbol,
    * :395-435; called only on the MAP-resolved path of resolveGene and
    * only when qcSymbolsForHumanGenes is on). For each map-resolved
    * HUMAN curie occurrence, TWO checks run, each contributing its own
    * issue rows:
    *
    *  - the BINDING leg: every ACTIVE gene the curie binds to via an
    *    AGR_GENE xref (getGenesByXdbId -> getActiveGenesByXdbId) whose
    *    symbol AND Ensembl symbol both mismatch the Alliance symbol
    *    case-insensitively - a multi-bound curie can contribute several
    *    issues per occurrence;
    *  - the RESOLVED leg: the resolved gene itself (getGeneByRgdId - NO
    *    status filter), same mismatch rule.
    *
    * Null symbols compare as empty strings (Utils.stringsAreEqual
    * null-coalesces). Returns issue rows tagged by `check`
    * ("binding"/"resolved"); callers count them per occurrence, like
    * the reference's "*** GENE SYMBOL PROBLEMS" counter. Pinned
    * row-at-a-time in SymbolQcPropertySpec.
    *
    * @param resolutions0 map-resolved rows
    *                     (curie, geneSymbol, speciesTypeKey, rgdId), one
    *                     per occurrence; non-human rows drop here (the
    *                     reference's in-method species gate)
    */
  def qcHumanSymbols(resolutions0: DataFrame, xrefs: DataFrame,
                     genes: DataFrame, rgdIds: DataFrame): DataFrame = {
    val resolutions = resolutions0
      .filter(col("speciesTypeKey") === Species.HUMAN)
      .select(col("curie"), col("geneSymbol"), col("rgdId"))
    def lo(c: org.apache.spark.sql.Column) = lower(coalesce(c, lit("")))
    def mismatch(sym: org.apache.spark.sql.Column) =
      lo(col("geneSymbol")) =!= lo(sym) &&
        lo(col("geneSymbol")) =!= lo(col("ensemblGeneSymbol"))

    val geneDim = genes.select(col("rgdId"), col("geneSymbol").as("rgdSymbol"),
      col("ensemblGeneSymbol"))
    val activeIds = rgdIds.filter(col("objectStatus") === "ACTIVE")
      .select(col("rgdId"))

    val bindings = xrefs.filter(col("xdbKey") === XdbKeys.AGR_GENE)
      .select(col("accId").as("curie"), col("rgdId").as("boundRgdId"))
      .join(activeIds.select(col("rgdId").as("boundRgdId")),
        Seq("boundRgdId"), "left_semi")
    val bindingLeg = resolutions
      .join(bindings, Seq("curie"))
      .join(geneDim.select(col("rgdId").as("boundRgdId"), col("rgdSymbol"),
        col("ensemblGeneSymbol")), Seq("boundRgdId"))
      .filter(mismatch(col("rgdSymbol")))
      .select(lit("binding").as("check"), col("curie"), col("geneSymbol"),
        col("boundRgdId").as("geneRgdId"), col("rgdSymbol"))

    val resolvedLeg = resolutions
      .join(geneDim, Seq("rgdId"))
      .filter(mismatch(col("rgdSymbol")))
      .select(lit("resolved").as("check"), col("curie"), col("geneSymbol"),
        col("rgdId").as("geneRgdId"), col("rgdSymbol"))

    bindingLeg.unionByName(resolvedLeg)
  }
}
