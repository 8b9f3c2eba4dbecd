package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.Exprs
import graft.llm.{Ann, Dedup, Features, TextAnalysis}
import graft.operators.{Agr, Grouping, Keys, Merge, Resolve, TemporalJoins, WeakSync}
import graft.pipeline.{Fixtures, OrthologPipeline, TpchShapes}
import graft.sources.Readers

/** Driver contract - see /root/repo/SURVEY.md section 7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator family from SURVEY.md
  * section 2 (the name prefix states which) through the engine's own
  * column helpers / operators over the driver test tables; `oracleSql`
  * holds the DuckDB-equivalent SQL. Column names and types are aligned
  * on both sides (the driver compare sorts columns by name and hashes
  * values).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    // events.ts is TIMESTAMP(NANOS), which Spark's parquet reader rejects
    // at schema inference; give an explicit schema for the columns we use
    if (name == "events")
      s.read.schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .parquet(s"$dir/$name.parquet")
    else s.read.parquet(s"$dir/$name.parquet")

  /** Gene dimension for the operator-routed report queries (shared so
    * every report query and its oracle derive the same frames). */
  private def reportGenes(s: SparkSession, dir: String, maxId: Int): DataFrame =
    t(s, dir, "part").filter(col("p_partkey") <= maxId).select(
      col("p_partkey").cast("int").as("rgdId"),
      col("p_name").as("geneSymbol"),
      when(col("p_partkey") % 11 === 0, "allele")
        .when(col("p_partkey") % 13 === 0, "splice")
        .otherwise("protein-coding").as("geneTypeLc"))

  /** Id registry for the report queries: every 7th id WITHDRAWN,
    * species cycling 1..5 (3 = the reported species; 4-5 land outside
    * the human/mouse/rat partner set). */
  private def reportRgdIds(s: SparkSession, dir: String, maxId: Int): DataFrame =
    t(s, dir, "part").filter(col("p_partkey") <= maxId).select(
      col("p_partkey").cast("int").as("rgdId"),
      when(col("p_partkey") % 7 === 0, "WITHDRAWN").otherwise("ACTIVE")
        .as("objectStatus"),
      (col("p_partkey") % 5 + 1).cast("int").as("speciesTypeKey"))

  /** The HomoloGene pair-synthesis fixture shared by q_s4_homologene and
    * q_s4_homologene_sync: entries with bounded group fan-out, duplicate
    * member lines (the dup flag), multi-match gene ids (G1/G2 resolve to
    * two customers each and drop), and a zero-match id (G11). */
  private def homologenePairs(s: SparkSession, dir: String): DataFrame = {
    val entries = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 2 === 1 && col("l_linenumber") === 1)
      .select((col("l_orderkey") % 8000).cast("int").as("homologene_group_id"),
        (col("l_suppkey") % 4).cast("int").as("taxsel"),
        concat(lit("G"), col("l_partkey") % 12).as("gene_id"),
        (col("l_quantity") < 25).as("dup"))
      .distinct()
      .select(col("homologene_group_id"),
        element_at(array(lit(9606), lit(10090), lit(10116), lit(7955)),
          col("taxsel") + 1).as("tax_id"),
        col("gene_id"))
      .filter(col("tax_id") =!= 7955) // parse-time badSpecies drop
    val resolution = t(s, dir, "customer")
      .filter(col("c_custkey") <= 13)
      .select(concat(lit("G"), col("c_custkey") % 11).as("gene_id"),
        col("c_custkey").cast("int").as("rgdId"))
    graft.operators.Homologene.synthesizePairs(entries, resolution)
  }

  /** Flagship: the full --species pipeline (resolve -> group -> cascade ->
    * merge -> weak sync) over ortholog-shaped fixtures derived from the
    * sf0.001 test tables; returns the strong-ortholog picks. */
  def entry(spark: SparkSession): DataFrame =
    pipelineResult(spark, "/root/testdata/sf0.001").strongPicks

  /** The flagship --species run, computed once per (session, sf dir) and
    * shared by every registered query that derives from it (see
    * pipeline.Memo). */
  private def pipelineResult(s: SparkSession, dir: String): OrthologPipeline.Result =
    graft.pipeline.Memo.once(s, s"pipeline:$dir") {
      val st = Fixtures.state(s, dir)
      val rel = Fixtures.relations(s, dir)
      val runTs = java.sql.Timestamp.valueOf("2026-08-01 00:00:00")
      // production phase persistence: every phase boundary writes a
      // bucketed parquet state table and the plan restarts from the
      // store read - so the benched/oracled flagship pays the real
      // state write+read cost, not a localCheckpoint stand-in
      val prefix = "graft_fs_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      // state tables are session-lifetime scratch under the shared
      // scratch root (one JVM shutdown hook removes the whole tree;
      // the graft_fs_* catalog entries point here and die with the
      // in-memory metastore)
      val base = scratchDir("graft_flagship_state").toString
      // 16 buckets at bench/test scale (~60k-row state tables); the
      // bucket count is a per-table scale knob, not a topology property
      OrthologPipeline.runSpecies(rel, st, graft.model.Species.RAT, runTs,
        phases = OrthologPipeline.BucketedPhases(prefix, base, buckets = 16))
    }

  /** Two-micro-batch file-stream fixture: writes `first` and `second`
    * as single parquet FILES (a.parquet stamped older than b.parquet)
    * into a fresh temp dir, so a file stream with maxFilesPerTrigger=1
    * under Trigger.AvailableNow delivers exactly two data batches in
    * that order - the cross-batch state-merge path the single-batch
    * registry queries cannot reach. The dir is session scratch,
    * removed by a JVM shutdown hook like the flagship state store. */
  /** The session's shuffle parallelism - the explicit partition count
    * that spreads a streaming file read (one file per micro-batch = one
    * scan task) the way [[graft.llm.Spread.ifNarrow]] spreads a batch
    * read; a streaming plan has no batch partition count to test. The
    * count MUST be explicit: a bare repartition(col) is an
    * AQE-coalescable exchange that folds back to one partition. */
  private def shufflePartitions(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  /** Run a streaming-query body with no-data micro-batches disabled,
    * restoring the session conf after. AvailableNow appends one final
    * NO-DATA batch after the data drains (watermark bookkeeping +
    * state eviction) - a full trigger of planning/WAL/state-commit
    * cost (measured 0.5-0.75 s per query here). Queries whose OUTPUT
    * is complete after the last data batch (exact dedup emits on first
    * sight; complete-mode aggregations re-emit the same table) skip it
    * without changing a row; append-mode watermark-emission queries
    * (q_stream_sessions) REQUIRE it and must not use this. */
  private def withoutNoDataBatches[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** The documents read spread past its single scan task: the fixture
    * parquet is ONE row group (rationale at [[graft.llm.Spread]]). */
  private def tDocsPar(s: SparkSession, dir: String): DataFrame =
    graft.llm.Spread.ifNarrow(t(s, dir, "documents"))

  /** The ONE scratch root for everything the registry materializes on
    * local disk (flagship state tables, export round-trips, stream
    * source dirs, the ANN index artifact), removed by a SINGLE JVM
    * shutdown hook. Per-use dirs are carved under it by [[scratchDir]];
    * a long-lived session iterating bench/verify used to register one
    * hook (and strand one temp tree) per invocation of the dir-creating
    * queries - now the hook count is one per JVM, and repeat-invocation
    * disk growth is bounded by the Memo.once guards at the call sites. */
  private lazy val scratchRoot: java.io.File = {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(root)
    }))
    root
  }

  /** Fresh temp dir under [[scratchRoot]] (removed with it at JVM
    * exit; no per-call shutdown hook). */
  private def scratchDir(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(scratchRoot.toPath,
      prefix.replaceAll("[^A-Za-z0-9_.-]", "_")).toFile

  /** The session's persisted ANN index artifact (IVF centroids + PQ
    * codebooks saved to parquet once, loaded by every serving query).
    * Memoized per session: its contents depend only on the fixed
    * hyperplane seed + codebooks, so repeat invocations re-LOAD the
    * shipped index instead of re-saving a fresh copy - the train ->
    * ship -> serve topology (q_ann_ivfpq_artifact, q_stream_ann,
    * q_stream_ann_mb all serve from this one artifact). */
  private def annArtifactDir(s: SparkSession): String =
    graft.pipeline.Memo.once(s, "ann_artifact_dir") {
      val d = scratchDir("graft_ann_artifact").toString
      graft.llm.AnnArtifact.save(s,
        Ann.hyperplanes(annDim, 8, seed = 11L), pqCodebooks, d)
      d
    }

  /** Centroids loaded from the persisted artifact, ONCE per session -
    * the serving-process shape: an index is loaded at startup and
    * served by every retrieval query after, not re-read from parquet
    * per request (measured: the per-invocation load cost the two
    * streaming-ANN queries ~0.8 s each per bench pass). */
  private def annServedCentroids(s: SparkSession): Seq[Seq[Double]] =
    graft.pipeline.Memo.once(s, "ann_served_centroids") {
      graft.llm.AnnArtifact.loadCentroids(s, annArtifactDir(s))
    }

  /** Built once per (session, key): the source dir contents are a pure
    * function of the key's inputs, and streaming readers re-scan the
    * dir per query (each run uses a fresh checkpoint), so rebuilding it
    * on every invocation only accumulated disk. */
  private def twoFileStreamDir(key: String, first: DataFrame,
                               second: DataFrame): String =
    graft.pipeline.Memo.once(first.sparkSession, s"streamdir:$key") {
      buildTwoFileStreamDir(key, first, second)
    }

  private def buildTwoFileStreamDir(prefix: String, first: DataFrame,
                                    second: DataFrame): String = {
    val base = scratchDir(prefix)
    def writeOne(df: DataFrame, fileName: String, mtime: Long): Unit = {
      val tmp = new java.io.File(base, fileName + "_tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(base, fileName).toPath)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
      new java.io.File(base, fileName).setLastModified(mtime): Unit
    }
    // 2 min in the past so the stamps are strictly ordered and safely
    // below "now" (the file source orders batches by mod time)
    val t0 = System.currentTimeMillis() - 120000L
    writeOne(first, "a.parquet", t0)
    writeOne(second, "b.parquet", t0 + 60000L)
    base.toString
  }

  /** The flagship --agrOrthologs run, memoized the same way. */
  private def agrResult(s: SparkSession, dir: String): graft.pipeline.AgrPipeline.Result =
    graft.pipeline.Memo.once(s, s"agr:$dir") {
      val st = Fixtures.state(s, dir)
      val runTs = java.sql.Timestamp.valueOf("2026-08-01 12:00:00")
      val cutoff = java.sql.Timestamp.valueOf("2026-08-01 11:00:00")
      // production phase persistence, same contract as pipelineResult:
      // the benched AGR flagship pays the real bucketed write+read at
      // its two phase boundaries (recoverable on process loss, unlike
      // the localCheckpoint stand-in)
      val prefix = "graft_agr_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = scratchDir("graft_agr_state").toString
      graft.pipeline.AgrPipeline.run(
        Fixtures.allianceLines(s, dir), st.agrOrthologs, st.xrefs,
        st.genes, st.rgdIds, runTs, cutoff,
        phases = OrthologPipeline.BucketedPhases(prefix, base, buckets = 16))
    }

  /** md5-permutation minhash pairs over `documents`, computed once per
    * (session, sf dir) and shared by q_d_minhash_md5 and q_d_dedup_e2e
    * (pipeline.Memo - the same one-computation-N-projections topology
    * as the flagship). localCheckpoint materializes the pair list so
    * the e2e query's component rounds iterate over an already-computed
    * frame instead of replaying the signature build. q_d_simhash_md5
    * stays standalone: its signature family (per-token md5 bit votes)
    * shares no subtree with the shingle-permutation signatures here. */
  private def minhashMd5PairsShared(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Memo.once(s, s"minhash_md5_pairs:$dir") {
      // the Checkpointed variant materializes eagerly AND releases the
      // operator-internal shingle cache - only the O(pairs) checkpoint
      // outlives this call (see Dedup.minhashMd5PairsCheckpointed)
      Dedup.minhashMd5PairsCheckpointed(tDocsPar(s, dir))
    }

  /** Trained BPE merge table (6 rounds over `documents`), computed once
    * per (session, sf dir) and shared by q_t_bpe_train and
    * q_t_bpe_encode. Training is a driver-side loop whose product is
    * model state (the kmeans-centroid pattern), so the memo holds the
    * collected rows, not a plan. */
  private def bpeMergesShared(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    graft.pipeline.Memo.once(s, s"bpe_merges:$dir") {
      import s.implicits._
      // NOT tDocsPar (r17 A/B): spreading the corpus pass 32-way made
      // solo training 1.36 -> 2.04 s - the same tokenize->aggregate
      // partial-agg fan-out loss cd33575 measured on q_t_lm_ppl; the
      // single-task tokenize feeds a vocab-sized combine here
      TextAnalysis.bpeTrain(t(s, dir, "documents"), rounds = 6)
        .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    }

  // decimal-exact sum: cast before and after so Spark and DuckDB agree
  // on both value and arrow type (decimal(18,2))
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DecimalType(18, 2))

  // ---- ANN oracle literals ----
  // The registered ANN queries use deterministic (seeded) query vectors,
  // hyperplanes, and centroids; the same numbers are embedded into the
  // DuckDB oracle SQL as literals so DuckDB recomputes the searches
  // independently (list_dot_product / list_cosine_similarity). Both
  // engines accumulate in double; they differ by ~1 ulp (DuckDB
  // reassociates), which only matters if a comparison lands within
  // ~1e-15 of a tie - the fixed test data has margins of ~1e-3.
  private val annDim = 64
  private def annQuery: Seq[Double] = Ann.hyperplanes(annDim, 1, seed = 7L).head
  private def sqlVec(v: Seq[Double]): String =
    v.map(_.toString).mkString("CAST([", ",", "] AS DOUBLE[])")
  private def dotSql(p: Seq[Double]): String =
    s"list_dot_product(CAST(embedding AS DOUBLE[]), ${sqlVec(p)})"
  private def cosSql(v: Seq[Double]): String =
    s"list_cosine_similarity(CAST(embedding AS DOUBLE[]), ${sqlVec(v)})"
  private def bucketSql(planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql(p)} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
  /** Subquery computing per-row IVF cell (first-max tie-break) plus the
    * passed-through embedding and the winning unit-centroid dot `m`
    * (q_ann_prune divides it by the row norm for cosine-to-own-centroid;
    * the other consumers ignore it), for the given centroids. */
  private def ivfCellFromSql(centroids: Seq[Seq[Double]]): String = {
    val sims = Ann.unitCentroids(centroids).map(dotSql)
    val simCols = sims.zipWithIndex.map { case (s, i) => s"$s AS s$i" }.mkString(", ")
    val m = sims.indices.map(i => s"s$i").mkString("greatest(", ", ", ")")
    val cases = sims.indices.map(i => s"WHEN s$i = m THEN $i").mkString(" ")
    s"""(SELECT vec_id, embedding, m, CAST(CASE $cases END AS INT) AS ivf_cell
        FROM (SELECT *, $m AS m
              FROM (SELECT vec_id, embedding, $simCols FROM embeddings)))"""
  }

  /** Shared DuckDB recomputation of the nprobe=2 IVF kNN join (the
    * first-5-vectors query set, self excluded, rank <= 5): the oracle
    * for BOTH q_ann_knn_join (batch window-rank plan) and q_stream_ann
    * (stream-static candidates + keyed-state top-k) - the two engines'
    * paths must produce identical ranked rows. */
  /** Shared DuckDB recomputation of the streaming LSH near-dup flagger
    * (md5-permutation signatures, rank-capped stored sets, >= 6/16
    * agreement) - the oracle for BOTH q_stream_neardup (single-batch
    * delivery) and q_stream_neardup_mb (two doc_id-ordered batches):
    * a correct cross-batch state merge must reproduce the identical
    * doc_id-ordered replay. */
  private val streamNearDupOracleSql: String =
    """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
               t -> t <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id,
             unnest(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_distinct(list_transform(
                 generate_series(1, len(ws) - 2),
                 i -> array_to_string(ws[i : i + 2], ' '))) END) AS shingle
           FROM w),
         shs AS (SELECT doc_id, list(shingle) AS sh FROM g GROUP BY doc_id),
         sigs AS MATERIALIZED (SELECT doc_id,
             list_transform(range(1, 17), i ->
               list_min(list_transform(sh,
                 s -> substr(md5(i || '|' || s), 1, 16)))) AS sig
           FROM shs),
         bnd AS (SELECT doc_id, b,
             array_to_string(sig[b*2+1 : b*2+2], '#') AS bandval
           FROM sigs, LATERAL (SELECT unnest(range(0, 8)) AS b)),
         rnk AS (SELECT doc_id, b, bandval,
             row_number() OVER (PARTITION BY b, bandval
               ORDER BY doc_id) AS rk
           FROM bnd),
         flg AS (SELECT l.doc_id AS id_b, a.doc_id AS id_a, a.b AS band
           FROM rnk a JOIN rnk l
             ON a.b = l.b AND a.bandval = l.bandval
             AND a.doc_id < l.doc_id AND a.rk <= 1000
           JOIN sigs sa ON sa.doc_id = a.doc_id
           JOIN sigs sb ON sb.doc_id = l.doc_id
           WHERE len(list_filter(range(1, 17),
             i -> sa.sig[i] = sb.sig[i])) >= 6)
         SELECT id_b AS doc_id, min(id_a) AS dup_of,
                count(DISTINCT band) AS n_dup_bands
         FROM flg GROUP BY id_b"""

  /** Shared DuckDB recomputation of the nprobe=2 IVF-PQ ADC top-10 -
    * the oracle for BOTH q_ann_ivfpq (plan-time-literal index) and
    * q_ann_ivfpq_artifact (the identical index through the persisted
    * AnnArtifact round trip). */
  private lazy val ivfPqOracleSql: String = {
    val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
    val codebooks = pqCodebooks
    val subDim = codebooks.head.head.size
    val query = annQuery
    val qnorm = math.sqrt(query.map(x => x * x).sum)
    val tT = codebooks.zipWithIndex.map { case (cb, j) =>
      cb.map(c => c.zipWithIndex.map { case (x, i) =>
        x * query(j * subDim + i) }.sum)
    }
    val nT = codebooks.map(_.map(c => c.map(x => x * x).sum))
    val probes = Ann.probeCells(query, centroids, 2).mkString(", ")
    val dotSum = codebooks.indices
      .map(j => s"(${sqlVec(tT(j))})[pq_code_$j + 1]").mkString(" + ")
    val nSum = codebooks.indices
      .map(j => s"(${sqlVec(nT(j))})[pq_code_$j + 1]").mkString(" + ")
    s"""SELECT vec_id, ($dotSum) / ($qnorm * sqrt($nSum)) AS adc_cosine
        FROM ${pqCodesSql(codebooks)} pq
        WHERE vec_id IN (SELECT vec_id FROM ${ivfCellFromSql(centroids)}
                         WHERE ivf_cell IN ($probes))
        ORDER BY adc_cosine DESC NULLS LAST, vec_id ASC
        LIMIT 10"""
  }

  private lazy val knnJoinOracleSql: String = {
    val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
    val sims = Ann.unitCentroids(centroids).map(dotSql)
    val legs = sims.zipWithIndex.map { case (s, i) =>
      s"SELECT vec_id AS q_id, embedding, $s AS s, $i AS cell FROM embeddings WHERE vec_id < 5"
    }.mkString("\n           UNION ALL ")
    s"""WITH probe AS (
           SELECT q_id, embedding AS qv, cell FROM (
             SELECT q_id, embedding, cell,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY s DESC, cell ASC) AS rn
             FROM ($legs))
           WHERE rn <= 2),
         cand AS (
           SELECT p.q_id, p.qv, c.vec_id AS neighbor_id, c.embedding
           FROM probe p JOIN ${ivfCellFromSql(centroids)} c
             ON c.ivf_cell = p.cell
           WHERE c.vec_id <> p.q_id)
         SELECT q_id, neighbor_id, rank FROM (
           SELECT q_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                 CAST(qv AS DOUBLE[])) DESC NULLS LAST,
               neighbor_id ASC) AS BIGINT) AS rank
           FROM cand)
         WHERE rank <= 5"""
  }

  /** PQ codebooks for q_ann_pq_assign: 4 subspaces x 8 codewords x 16
    * dims, deterministic (seeded) - literals on both engines. */
  private def pqCodebooks: Seq[Seq[Seq[Double]]] =
    Ann.hyperplanes(16, 32, seed = 13L).grouped(8).toSeq

  /** SELECT computing per-row PQ codes (first-max tie-break) for the
    * given codebooks - the PQ analogue of [[ivfCellFromSql]]. */
  private def pqCodesSql(codebooks: Seq[Seq[Seq[Double]]]): String = {
    val subDim = codebooks.head.head.size
    val scoreCols = codebooks.zipWithIndex.flatMap { case (cb, j) =>
      val sub = s"(CAST(embedding AS DOUBLE[]))[${j * subDim + 1}:${(j + 1) * subDim}]"
      cb.zipWithIndex.map { case (c, i) =>
        val half = c.map(x => x * x).sum / 2.0
        s"(list_dot_product($sub, ${sqlVec(c)}) - $half) AS s${j}_$i"
      }
    }.mkString(", ")
    val maxCols = codebooks.indices.map { j =>
      codebooks(j).indices.map(i => s"s${j}_$i")
        .mkString("greatest(", ", ", s") AS m$j")
    }.mkString(", ")
    val codeCols = codebooks.indices.map { j =>
      val cases = codebooks(j).indices
        .map(i => s"WHEN s${j}_$i = m$j THEN $i").mkString(" ")
      s"CAST(CASE $cases END AS INT) AS pq_code_$j"
    }.mkString(", ")
    s"""(SELECT vec_id, $codeCols FROM
          (SELECT *, $maxCols FROM
            (SELECT vec_id, $scoreCols FROM embeddings)))"""
  }

  /** Shared CTE chain (through a final `pairs` relation) for the
    * md5-permutation minhash oracles - q_d_minhash_md5 reads `pairs`
    * directly, q_d_dedup_e2e chains component propagation onto it.
    * `bndk` mirrors the Spark side's maxBucketSize=1000 band-bucket
    * cut, so a bucket above the cap at larger SF cannot break parity. */
  /** Unrolled BPE-training oracle: `rounds` chained CTE stages, each
    * recomputing the pair argmax from the previous segmentation and
    * applying the merge with plain replace() on the chr(1)-wrapped
    * symbol string - the exact string operation the Spark side runs,
    * so the left-to-right non-overlapping merge order agrees. */
  /** Logistic-regression quality-classifier oracle: replays
    * [[graft.llm.LmScore.logregQualityScores]]'s full-batch training
    * loop as unrolled CTE stages (w0/b0 zero-init, then per step:
    * margins z -> sigmoids -> micro-quantized per-bucket gradient sums
    * -> integer weight update), then scores every doc under the final
    * weights. All cross-row sums are over integer micro-units, so the
    * engines agree exactly; positive class = source 'src0'. */
  private def logregSql(steps: Int, lr: String = "1.0"): String = {
    def zStage(r: Int): String =
      s"""z$r AS (SELECT l.doc_id, l.y, l.len,
             CAST(sum(c.c * w.wm) AS DOUBLE) / 1e6 / l.len +
               (SELECT bm FROM b${r - 1}) / 1e6 AS z
           FROM cnt c JOIN w${r - 1} w USING (bucket)
           JOIN lens l ON l.doc_id = c.doc_id
           GROUP BY l.doc_id, l.y, l.len)"""
    val stages = (1 to steps).map { r =>
      s"""${zStage(r)},
         s$r AS (SELECT doc_id, y, len, 1.0 / (1.0 + exp(-z)) AS sg
           FROM z$r),
         g$r AS (SELECT c.bucket,
             CAST(sum(CAST(round((s.sg - s.y) * c.c / s.len * 1e6)
               AS BIGINT)) AS BIGINT) AS g
           FROM cnt c JOIN s$r s USING (doc_id) GROUP BY c.bucket),
         gb$r AS (SELECT CAST(sum(CAST(round((sg - y) * 1e6) AS BIGINT))
               AS BIGINT) AS g
           FROM s$r),
         w$r AS (SELECT w.bucket,
             CAST(w.wm - CAST(round($lr * (CAST(g.g AS DOUBLE) /
               (SELECT n FROM nd))) AS BIGINT) AS BIGINT) AS wm
           FROM w${r - 1} w JOIN g$r g USING (bucket)),
         b$r AS (SELECT CAST(b.bm - CAST(round($lr * (CAST(gb.g AS DOUBLE) /
               (SELECT n FROM nd))) AS BIGINT) AS BIGINT) AS bm
           FROM b${r - 1} b CROSS JOIN gb$r gb)"""
    }.mkString(",\n         ")
    s"""WITH tok AS (SELECT doc_id,
             CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
             unnest(list_filter(string_split_regex(lower(trim(text)),
               '\\s+'), x -> x <> '')) AS w
           FROM documents),
         lens AS (SELECT doc_id, any_value(y) AS y, count(*) AS len
           FROM tok GROUP BY doc_id),
         cnt AS (SELECT doc_id, substr(md5(w), 1, 2) AS bucket,
             count(*) AS c
           FROM tok GROUP BY doc_id, bucket),
         nd AS (SELECT count(*) AS n FROM lens),
         w0 AS (SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS wm FROM cnt),
         b0 AS (SELECT CAST(0 AS BIGINT) AS bm),
         $stages,
         fin AS (SELECT l.doc_id, l.len,
             CAST(sum(c.c * w.wm) AS BIGINT)
               + (SELECT bm FROM b$steps) * l.len AS total_m
           FROM cnt c JOIN w$steps w USING (bucket)
           JOIN lens l ON l.doc_id = c.doc_id
           GROUP BY l.doc_id, l.len)
         SELECT doc_id, CAST(len AS INT) AS n_tokens,
                (CASE WHEN total_m < 0 THEN -1 ELSE 1 END *
                  ((abs(total_m) * 2 + len) // (len * 2))) / 1e6 AS score,
                round(1.0 / (1.0 + exp(-(CAST(total_m AS DOUBLE)
                  / 1e6 / len))), 4) AS prob,
                total_m > 0 AS keep
         FROM fin"""
  }

  private def bpeTrainSql(rounds: Int): String = {
    val stages = (1 to rounds).map { r =>
      s"""p$r AS (
           SELECT wc, syms[i] AS l, syms[i + 1] AS r FROM (
             SELECT wc,
               string_split(trim(seg, chr(1)), chr(1) || chr(1)) AS syms,
               unnest(range(1, len(string_split(trim(seg, chr(1)),
                 chr(1) || chr(1))))) AS i
             FROM seg${r - 1})),
         m$r AS (SELECT l, r, CAST(sum(wc) AS BIGINT) AS n FROM p$r
           GROUP BY l, r ORDER BY n DESC, l ASC, r ASC LIMIT 1),
         seg$r AS (SELECT s.wc,
             replace(s.seg, chr(1) || m.l || chr(1) || chr(1) || m.r || chr(1),
               chr(1) || m.l || m.r || chr(1)) AS seg
           FROM seg${r - 1} s CROSS JOIN m$r m)"""
    }.mkString(",\n         ")
    val union = (1 to rounds).map { r =>
      s"""SELECT $r AS "round", l AS "left", r AS "right", n FROM m$r"""
    }.mkString("\n           UNION ALL ")
    s"""WITH t AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
             AS w
           FROM documents),
         w AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM t
           WHERE NOT contains(w, chr(1)) GROUP BY w),
         seg0 AS (SELECT wc,
             regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g') AS seg
           FROM w),
         $stages
         $union"""
  }

  /** Literal WordPiece vocabulary for q_t_wordpiece (`##` =
    * continuation): every corpus letter as start AND continuation
    * EXCEPT `##y` - so "query" (the one y-continuation word) becomes
    * the whole-word [UNK] - plus multi-char pieces that exercise
    * longest-match-first over the single letters. */
  private val wordpieceVocab: Seq[String] = {
    val letters = "abcdefghijklmnopqrstuvwy".map(_.toString)
    letters ++ letters.filterNot(_ == "y").map("##" + _) ++
      Seq("key", "table", "the", "val", "fa", "sc", "st", "qu", "ta", "row",
        "##ue", "##st", "##an", "##ble", "##ream")
  }

  /** WordPiece oracle: greedy longest-match segmentation replayed as a
    * DuckDB RECURSIVE CTE - per step, the longest vocab piece matching
    * at the cursor (continuation table for pos > 0) via a LATERAL
    * top-1; no match at any position - or a word over the 100-code-
    * point max_input_chars_per_word cap - collapses the word to [UNK],
    * then the per-doc reassembly of [[bpeEncodeLiteralSql]]. DuckDB's
    * length/substr count code points, as does the engine. */
  private def wordpieceSql(vocab: Seq[String]): String = {
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val rows = vocab.map { tok =>
      if (tok.startsWith("##"))
        s"(${lit(tok.substring(2))}, ${lit(tok)}, true)"
      else s"(${lit(tok)}, ${lit(tok)}, false)"
    }.mkString(",\n             ")
    s"""WITH RECURSIVE
         d AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         dw AS (SELECT doc_id, i, ws[i] AS w FROM d,
             LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
         w AS (SELECT DISTINCT w FROM dw),
         vocab AS (SELECT * FROM (VALUES
             $rows) AS v0(raw, tok, cont)),
         seg AS (
           -- seed; words over the max_input_chars_per_word cap (code
           -- points, like the engine) are [UNK] outright
           SELECT w, 0 AS pos,
                  CASE WHEN length(w) > 100 THEN ['[UNK]']
                       ELSE CAST([] AS VARCHAR[]) END AS pieces,
                  length(w) > 100 AS failed
           FROM w
           UNION ALL
           SELECT s.w,
             CASE WHEN b.raw IS NULL THEN length(s.w)
                  ELSE s.pos + length(b.raw) END,
             CASE WHEN b.raw IS NULL THEN ['[UNK]']
                  ELSE s.pieces || [b.tok] END,
             b.raw IS NULL
           FROM seg s LEFT JOIN LATERAL (
             SELECT raw, tok FROM vocab v
             WHERE v.cont = (s.pos > 0)
               AND substr(s.w, s.pos + 1, length(v.raw)) = v.raw
             ORDER BY length(v.raw) DESC, v.raw LIMIT 1) b ON TRUE
           WHERE s.pos < length(s.w) AND NOT s.failed),
         term AS (SELECT w, pieces FROM seg
           WHERE pos = length(w) OR failed),
         enc AS (SELECT w, array_to_string(pieces, ',') AS csv,
             CAST(len(pieces) AS INT) AS np,
             CASE WHEN pieces = ['[UNK]'] THEN 1 ELSE 0 END AS unk
           FROM term),
         agg AS (SELECT dw.doc_id,
             CAST(sum(e.np) AS INT) AS n_pieces,
             CAST(sum(e.unk) AS INT) AS n_unk_words,
             string_agg(e.csv, ',' ORDER BY dw.i) AS pieces_csv
           FROM dw JOIN enc e ON e.w = dw.w
           GROUP BY dw.doc_id)
         SELECT d0.doc_id, coalesce(a.n_pieces, 0) AS n_pieces,
                coalesce(a.n_unk_words, 0) AS n_unk_words,
                coalesce(a.pieces_csv, '') AS pieces_csv
         FROM (SELECT doc_id FROM documents) d0
         LEFT JOIN agg a ON a.doc_id = d0.doc_id"""
  }

  /** Literal unigram-LM vocabulary for q_t_unigram: (piece, integer
    * cost = quantized -1000 ln p). Letters + digits as singles,
    * plus multi-char pieces that exercise every Viterbi outcome -
    * winners ("th" 4000 < t+h 6400; "qu"; "ing"), a loser ("in" 9000 >
    * i+n 5700, never picked), and an exact tie ("er" 5700 = e+r, the
    * tie-breaks-to-longer case). `y` is deliberately missing as a
    * single (and the corpus has no punctuation), so y-words exercise
    * the unkCost fallback corpus-wide ("query" -> qu,er,[y]). */
  private val unigramVocab: Seq[(String, Long)] = {
    val singles = "aeiou".map(c => c.toString -> 2500L) ++
      "bcdfghjklmnpqrstvwxz".map(c => c.toString -> 3200L) ++
      "0123456789".map(c => c.toString -> 2800L)
    singles ++ Seq("th" -> 4000L, "the" -> 5000L, "qu" -> 1500L,
      "er" -> 5700L, "in" -> 9000L, "ing" -> 7000L, "st" -> 5000L,
      "data" -> 6000L)
  }

  /** Viterbi forward pass + backtrack as a NON-RECURSIVE DuckDB
    * `list_reduce` DP - the unigram-LM twin of [[wordpieceSql]]'s
    * greedy walk. Two deliberate DuckDB 1.0 constraints shape this:
    * (1) a CTE scanned from inside a RECURSIVE CTE's iteration
    * evaluates EMPTY when it transitively depends on another recursive
    * CTE (observed: a recursive pass-2 Viterbi under trained costs
    * falls back to unkCost at every position), so the DP must not use
    * recursion at all; (2) `list_reduce` corrupts list fields inside a
    * STRUCT accumulator (observed: the list resets to its last
    * element), so the accumulator is a plain LIST of per-position
    * structs and the position index is `len(acc)`.
    *
    * `dp$sfx` folds the word's positions: acc[j+1] = (t = best total
    * cost to position j, nl = NEGATED winning piece length, u =
    * winning piece is the unkCost single-code-point fallback); each
    * step list_sorts the candidate structs so (t ASC, nl ASC) breaks
    * ties toward the LONGER piece - exactly UnigramSegment.segment's
    * integer DP. `seg$sfx` backtracks the winning lengths with a
    * second bounded reduce ($maxWordLen no-op-padded steps), emitting
    * (w, wc, pieces VARCHAR[] in reading order, nunk BIGINT).
    * `mapCte` must expose one row `m` = MAP(piece -> cost);
    * `wordsCte` must expose distinct `w` (+ `wc`) already filtered to
    * length(w) <= maxWordLen. */
  private def unigramViterbiCtes(wordsCte: String, mapCte: String,
                                 sfx: String, maxPieceLen: Int,
                                 unkCost: Long, maxWordLen: Int): String = {
    val cand = "STRUCT(t BIGINT, nl BIGINT, u BOOLEAN)"
    val bt = "STRUCT(k BIGINT, p VARCHAR, nu BIGINT)"
    val pick =
      s"""list_sort(list_filter(list_transform(
             range(1, least(len(acc), $maxPieceLen) + 1),
             l -> CASE
               WHEN len(map_extract(m.m,
                   substr(wn.w, len(acc) + 1 - l, l))) > 0
                 THEN {'t': acc[len(acc) + 1 - l].t + map_extract(m.m,
                         substr(wn.w, len(acc) + 1 - l, l))[1],
                       'nl': -l, 'u': false}
               WHEN l = 1
                 THEN {'t': acc[len(acc)].t + $unkCost,
                       'nl': CAST(-1 AS BIGINT), 'u': true}
               ELSE CAST(NULL AS $cand) END),
             c -> c.t IS NOT NULL))[1]"""
    s"""dp$sfx AS MATERIALIZED (
           SELECT wn.w, wn.wc,
             list_reduce(
               list_prepend([{'t': CAST(0 AS BIGINT),
                              'nl': CAST(0 AS BIGINT), 'u': false}],
                 list_transform(range(1, length(wn.w) + 1),
                   x -> CAST(NULL AS $cand[]))),
               (acc, st) -> acc || [$pick]) AS dp
           FROM $wordsCte wn, $mapCte m),
         seg$sfx AS MATERIALIZED (
           SELECT w, wc,
             list_reverse(list_filter(
               list_transform(bt, e -> e.p), p -> p <> '')) AS pieces,
             bt[len(bt)].nu AS nunk
           FROM (
             SELECT w, wc,
               list_reduce(
                 list_prepend([{'k': length(w), 'p': '',
                                'nu': CAST(0 AS BIGINT)}],
                   list_transform(range(1, $maxWordLen + 1),
                     x -> CAST(NULL AS $bt[]))),
                 (acc, st) -> acc || [
                   CASE WHEN acc[len(acc)].k > 0 THEN
                     {'k': acc[len(acc)].k + dp[acc[len(acc)].k + 1].nl,
                      'p': substr(w,
                             acc[len(acc)].k + dp[acc[len(acc)].k + 1].nl + 1,
                             -dp[acc[len(acc)].k + 1].nl),
                      'nu': acc[len(acc)].nu +
                        CASE WHEN dp[acc[len(acc)].k + 1].u
                             THEN 1 ELSE 0 END}
                   ELSE {'k': acc[len(acc)].k, 'p': '',
                         'nu': acc[len(acc)].nu} END]) AS bt
             FROM dp$sfx))"""
  }

  /** Unigram-LM ENCODE oracle: the [[unigramViterbiCtes]] DP over the
    * distinct-word frame under the literal vocabulary (shipped as a
    * one-row MAP), over-cap words (> 48 code points,
    * UnigramSegment.MaxWordLen) collapsing to a single [UNK], then the
    * per-doc csv reassembly of [[wordpieceSql]]. */
  private def unigramSql(vocab: Seq[(String, Long)], unkCost: Long): String = {
    def l(s: String) = "'" + s.replace("'", "''") + "'"
    val rows = vocab.map { case (p, c) =>
      s"(${l(p)}, CAST($c AS BIGINT))"
    }.mkString(",\n             ")
    s"""WITH
         d AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         dw AS (SELECT doc_id, i, ws[i] AS w FROM d,
             LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
         w0 AS (SELECT DISTINCT w FROM dw),
         w AS MATERIALIZED (SELECT w, CAST(1 AS BIGINT) AS wc FROM w0
           WHERE length(w) <= 48),
         vocab AS (SELECT * FROM (VALUES
             $rows) AS v0(piece, cost)),
         m0 AS MATERIALIZED (SELECT map(list(piece ORDER BY piece),
             list(cost ORDER BY piece)) AS m FROM vocab),
         ${unigramViterbiCtes("w", "m0", "", 4, unkCost, 48)},
         segd AS (SELECT w, pieces, nunk FROM seg
           UNION ALL
           SELECT w, ['[UNK]'], CAST(1 AS BIGINT) FROM w0
           WHERE length(w) > 48),
         enc AS (SELECT w, array_to_string(pieces, ',') AS csv,
             CAST(len(pieces) AS INT) AS np, nunk FROM segd),
         agg AS (SELECT dw.doc_id,
             CAST(sum(e.np) AS INT) AS n_pieces,
             CAST(sum(e.nunk) AS INT) AS n_unk_pieces,
             string_agg(e.csv, ',' ORDER BY dw.i) AS pieces_csv
           FROM dw JOIN enc e ON e.w = dw.w
           GROUP BY dw.doc_id)
         SELECT d0.doc_id, coalesce(a.n_pieces, 0) AS n_pieces,
                coalesce(a.n_unk_pieces, 0) AS n_unk_pieces,
                coalesce(a.pieces_csv, '') AS pieces_csv
         FROM (SELECT doc_id FROM documents) d0
         LEFT JOIN agg a ON a.doc_id = d0.doc_id"""
  }

  /** Unigram-LM TRAIN oracle (rounds = 2): seed substring counts over
    * the capped distinct-word frame, prune (all singles + top-keepTop
    * multi by n DESC, piece ASC), quantized-ln costs over the kept
    * total, a full Viterbi usage pass, the mid-round prune at
    * keepTop >> 1, a second Viterbi pass under the re-derived costs,
    * and the final prune at keepTop >> 2 - Unigram.train's exact loop
    * with the two segment passes as [[unigramViterbiCtes]] instances.
    * Usage joins back to the vocabulary so fallback pieces never
    * count, mirroring the engine's left-semi. Every computed
    * model-sized CTE is MATERIALIZED: DuckDB inlines CTEs by default,
    * and an inlined cost table would be recomputed from the corpus on
    * every DP probe (observed: >5 min at sf0.001 inlined vs 0.5 s
    * materialized). */
  private def unigramTrainSql(maxPieceLen: Int, keepTop: Int,
                              unkCost: Long): String = {
    def usage(segCte: String, vocabCte: String, name: String) =
      s"""$name AS MATERIALIZED (
           SELECT px.piece, CAST(sum(px.wc) AS BIGINT) AS n
           FROM (SELECT wc, unnest(pieces) AS piece FROM $segCte) px
           JOIN (SELECT DISTINCT piece FROM $vocabCte) vp
             ON vp.piece = px.piece
           GROUP BY px.piece)"""
    def prune(src: String, name: String, kMulti: Int) =
      s"""$name AS MATERIALIZED (SELECT piece, n FROM $src WHERE length(piece) = 1
           UNION ALL
           SELECT piece, n FROM (
             SELECT piece, n FROM $src WHERE length(piece) > 1
             ORDER BY n DESC, piece ASC LIMIT $kMulti) q_$name)"""
    def costs(src: String, name: String) =
      s"""$name AS MATERIALIZED (SELECT piece,
             CAST(round(-1000 * ln(CAST(n AS DOUBLE) /
               (SELECT CAST(sum(n) AS DOUBLE) FROM $src)))
               AS BIGINT) AS cost
           FROM $src)"""
    def vmap(src: String, name: String) =
      s"""$name AS MATERIALIZED (SELECT map(list(piece ORDER BY piece),
             list(cost ORDER BY piece)) AS m FROM $src)"""
    s"""WITH
         t AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
             AS w
           FROM documents),
         wn AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS wc
           FROM t WHERE length(w) <= 48 GROUP BY w),
         subs AS (SELECT wn.wc, substr(wn.w, ii.i, ll.l) AS piece
           FROM wn,
           LATERAL (SELECT unnest(range(1, length(wn.w) + 1)) AS i) ii,
           LATERAL (SELECT unnest(range(1,
             least($maxPieceLen, length(wn.w) - ii.i + 1) + 1)) AS l) ll),
         seed AS MATERIALIZED (SELECT piece, CAST(sum(wc) AS BIGINT) AS n
           FROM subs GROUP BY piece),
         ${prune("seed", "v0", keepTop)},
         ${costs("v0", "c0")},
         ${vmap("c0", "m0")},
         ${unigramViterbiCtes("wn", "m0", "1", maxPieceLen, unkCost, 48)},
         ${usage("seg1", "c0", "u1")},
         ${prune("u1", "v1", keepTop >> 1)},
         ${costs("v1", "c1")},
         ${vmap("c1", "m1")},
         ${unigramViterbiCtes("wn", "m1", "2", maxPieceLen, unkCost, 48)},
         ${usage("seg2", "c1", "u2")}
         SELECT piece, n FROM u2 WHERE length(piece) = 1
         UNION ALL
         SELECT piece, n FROM (
           SELECT piece, n FROM u2 WHERE length(piece) > 1
           ORDER BY n DESC, piece ASC LIMIT ${keepTop >> 2}) qf"""
  }

  /** Byte-level BPE TRAIN oracle: the [[bpeTrainSql]] merge chain with
    * byte-level seeding - GPT-2-class pre-tokens of the RAW text (same
    * lookaround-free pattern as the engine), the corpus byte remap
    * (space -> chr(288); every other occurring byte is printable
    * ASCII - ENFORCED, not assumed: tools/Smoke fails the run if any
    * fixture document contains a byte outside printable ASCII+space),
    * then identical per-round argmax + replace stages. */
  private def byteBpeTrainSql(rounds: Int): String = {
    val stages = (1 to rounds).map { r =>
      s"""p$r AS (
           SELECT wc, syms[i] AS l, syms[i + 1] AS r FROM (
             SELECT wc,
               string_split(trim(seg, chr(1)), chr(1) || chr(1)) AS syms,
               unnest(range(1, len(string_split(trim(seg, chr(1)),
                 chr(1) || chr(1))))) AS i
             FROM seg${r - 1})),
         m$r AS (SELECT l, r, CAST(sum(wc) AS BIGINT) AS n FROM p$r
           GROUP BY l, r ORDER BY n DESC, l ASC, r ASC LIMIT 1),
         seg$r AS (SELECT s.wc,
             replace(s.seg, chr(1) || m.l || chr(1) || chr(1) || m.r || chr(1),
               chr(1) || m.l || m.r || chr(1)) AS seg
           FROM seg${r - 1} s CROSS JOIN m$r m)"""
    }.mkString(",\n         ")
    val union = (1 to rounds).map { r =>
      s"""SELECT $r AS "round", l AS "left", r AS "right", n FROM m$r"""
    }.mkString("\n           UNION ALL ")
    s"""WITH t AS (SELECT unnest(
             regexp_extract_all(text, '${graft.llm.ByteBpe.preTokenPattern}'))
             AS w
           FROM documents),
         w AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM t GROUP BY w),
         seg0 AS (SELECT wc,
             regexp_replace(replace(w, ' ', chr(288)), '(.)',
               chr(1) || '\\1' || chr(1), 'g') AS seg
           FROM w),
         $stages
         $union"""
  }

  /** BPE-ENCODE oracle CTE chain (through per-doc `agg`): replays
    * [[bpeTrainSql]]'s merge chain but carries the word through every
    * seg stage (LEFT JOIN ON TRUE so a dry round keeps the segmentation
    * instead of emptying it), then rebuilds the induced vocabulary
    * (corpus chars asc, then merge products in round order, first id
    * wins on a re-created token), encodes each distinct word, and
    * reassembles per-doc csv token ids in word order - the exact chain
    * TextAnalysis.bpeEncode runs. Shared by q_t_bpe_encode and the
    * q_pack_bpe end-to-end pack oracle. */
  private def bpeEncodeCtes(rounds: Int): String = {
    val stages = (1 to rounds).map { r =>
      s"""p$r AS (
           SELECT wc, syms[i] AS l, syms[i + 1] AS r FROM (
             SELECT wc,
               string_split(trim(seg, chr(1)), chr(1) || chr(1)) AS syms,
               unnest(range(1, len(string_split(trim(seg, chr(1)),
                 chr(1) || chr(1))))) AS i
             FROM seg${r - 1})),
         m$r AS (SELECT l, r FROM p$r
           GROUP BY l, r ORDER BY CAST(sum(wc) AS BIGINT) DESC, l ASC, r ASC
           LIMIT 1),
         seg$r AS (SELECT s.w, s.wc,
             CASE WHEN m.l IS NULL THEN s.seg
                  ELSE replace(s.seg,
                    chr(1) || m.l || chr(1) || chr(1) || m.r || chr(1),
                    chr(1) || m.l || m.r || chr(1)) END AS seg
           FROM seg${r - 1} s LEFT JOIN m$r m ON TRUE)"""
    }.mkString(",\n         ")
    val mu = (1 to rounds)
      .map(r => s"SELECT $r AS rnd, l, r FROM m$r")
      .mkString("\n           UNION ALL ")
    s"""t AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
             AS w
           FROM documents),
         w AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM t
           WHERE NOT contains(w, chr(1)) GROUP BY w),
         seg0 AS (SELECT w, wc,
             regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g') AS seg
           FROM w),
         $stages,
         toks AS (SELECT w,
             string_split(trim(seg, chr(1)), chr(1) || chr(1)) AS toks
           FROM seg$rounds),
         chars AS (SELECT DISTINCT substr(w, i, 1) AS tok FROM w,
             LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
         mu AS ($mu),
         v0 AS (SELECT tok, 0 AS grp, tok AS ord FROM chars
           UNION ALL
           SELECT l || r AS tok, 1 AS grp,
                  lpad(CAST(rnd AS VARCHAR), 6, '0') AS ord
           FROM mu),
         v1 AS (SELECT tok,
             CAST(row_number() OVER (ORDER BY grp, ord) - 1 AS INT) AS id
           FROM v0),
         vocab AS (SELECT tok, id FROM (
             SELECT tok, id,
                    row_number() OVER (PARTITION BY tok ORDER BY id) AS rn
             FROM v1)
           WHERE rn = 1),
         enc AS (SELECT t0.w,
             array_to_string(list(CAST(v.id AS VARCHAR) ORDER BY t0.i), ',')
               AS ids_csv,
             CAST(count(*) AS INT) AS n
           FROM (SELECT w, i, toks[i] AS tok FROM toks,
               LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)) t0
           JOIN vocab v ON v.tok = t0.tok
           GROUP BY t0.w),
         d AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         dw AS (SELECT doc_id, i, ws[i] AS w FROM d,
             LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)
           WHERE NOT contains(ws[i], chr(1))),
         agg AS (SELECT dw.doc_id,
             CAST(sum(e.n) AS INT) AS n_tokens,
             string_agg(e.ids_csv, ',' ORDER BY dw.i) AS token_csv
           FROM dw JOIN enc e ON e.w = dw.w
           GROUP BY dw.doc_id)"""
  }

  private def bpeEncodeSql(rounds: Int): String =
    s"""WITH ${bpeEncodeCtes(rounds)}
         SELECT d0.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.token_csv, '') AS token_csv
         FROM (SELECT doc_id FROM documents) d0
         LEFT JOIN agg a ON a.doc_id = d0.doc_id"""

  /** Literal >64-rule merge table for q_t_bpe_encode_big: exercises the
    * native BpeSegment expression path (tables past 64 rules skip the
    * nested-replace projection). 83 deterministic rules: the 9x9 grid
    * over the most frequent English letters plus two compound rules, so
    * plenty fire on the documents corpus. */
  private val bigBpeMerges: Seq[(String, String)] = {
    val cs = "etaoinshr"
    (for (l <- cs; r <- cs) yield (l.toString, r.toString)).toSeq ++
      Seq(("th", "e"), ("an", "d"))
  }

  /** Encode oracle for a LITERAL merge table: replays the table as
    * chained DuckDB replace() calls over the chr(1)-wrapped symbol
    * string (the exact sequential-pass semantics BpeSegment implements)
    * then rebuilds the induced vocabulary and per-doc csv exactly like
    * [[bpeEncodeCtes]]. DuckDB nests a few hundred replaces without the
    * planner limits that motivated the native Spark expression. */
  private def bpeEncodeLiteralSql(merges: Seq[(String, String)]): String = {
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val segExpr = merges.foldLeft(
      "regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g')") {
      case (acc, (l, r)) =>
        s"""replace($acc,
             chr(1) || ${lit(l)} || chr(1) || chr(1) || ${lit(r)} || chr(1),
             chr(1) || ${lit(l + r)} || chr(1))"""
    }
    val muRows = merges.zipWithIndex
      .map { case ((l, r), i) => s"(${i + 1}, ${lit(l)}, ${lit(r)})" }
      .mkString(",\n             ")
    s"""WITH t AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
             AS w
           FROM documents),
         w AS (SELECT DISTINCT w FROM t WHERE NOT contains(w, chr(1))),
         toks AS (SELECT w, string_split(trim($segExpr, chr(1)),
             chr(1) || chr(1)) AS toks
           FROM w),
         chars AS (SELECT DISTINCT substr(w, i, 1) AS tok FROM w,
             LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
         mu AS (SELECT * FROM (VALUES
             $muRows) AS mu0(rnd, l, r)),
         v0 AS (SELECT tok, 0 AS grp, tok AS ord FROM chars
           UNION ALL
           SELECT l || r AS tok, 1 AS grp,
                  lpad(CAST(rnd AS VARCHAR), 6, '0') AS ord
           FROM mu),
         v1 AS (SELECT tok,
             CAST(row_number() OVER (ORDER BY grp, ord) - 1 AS INT) AS id
           FROM v0),
         vocab AS (SELECT tok, id FROM (
             SELECT tok, id,
                    row_number() OVER (PARTITION BY tok ORDER BY id) AS rn
             FROM v1)
           WHERE rn = 1),
         enc AS (SELECT t0.w,
             array_to_string(list(CAST(v.id AS VARCHAR) ORDER BY t0.i), ',')
               AS ids_csv,
             CAST(count(*) AS INT) AS n
           FROM (SELECT w, i, toks[i] AS tok FROM toks,
               LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)) t0
           JOIN vocab v ON v.tok = t0.tok
           GROUP BY t0.w),
         d AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         dw AS (SELECT doc_id, i, ws[i] AS w FROM d,
             LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)
           WHERE NOT contains(ws[i], chr(1))),
         agg AS (SELECT dw.doc_id,
             CAST(sum(e.n) AS INT) AS n_tokens,
             string_agg(e.ids_csv, ',' ORDER BY dw.i) AS token_csv
           FROM dw JOIN enc e ON e.w = dw.w
           GROUP BY dw.doc_id)
         SELECT d0.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.token_csv, '') AS token_csv
         FROM (SELECT doc_id FROM documents) d0
         LEFT JOIN agg a ON a.doc_id = d0.doc_id"""
  }

  /** Literal BYTE-level merge table for q_t_byte_bpe (Ġ = U+0120, the
    * GPT-2 representative of the 0x20 space byte): 16 GPT-2-style
    * rules including space-prefixed and multi-symbol products, so
    * compound merges fire on the documents corpus. */
  private val byteBpeMerges: Seq[(String, String)] = {
    val G = "Ġ"
    Seq((G, "t"), (G, "s"), (G, "a"), ("h", "e"), ("r", "e"), ("i", "n"),
      ("a", "l"), ("a", "r"), (G + "t", "he"), ("o", "w"), (G + "s", "c"),
      ("a", "n"), ("u", "e"), (G, "b"), ("l", "e"), (G + "s", "t"))
  }

  /** Render a byte-representative symbol as a DuckDB expression:
    * quoted runs for printable ASCII, chr(codepoint) elsewhere. */
  private def duckStr(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    def flush(): Unit = if (sb.nonEmpty) {
      parts += "'" + sb.toString.replace("'", "''") + "'"; sb.clear()
    }
    s.foreach { ch =>
      if (ch >= 33 && ch <= 126) sb.append(ch)
      else { flush(); parts += s"chr(${ch.toInt})" }
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }

  /** Byte-level BPE encode oracle for a LITERAL merge table: GPT-2-class
    * pre-tokenization (same lookaround-free RE2 pattern the engine
    * uses), the byte remap for THIS corpus (printable ASCII + space
    * only, so space -> chr(288) is the only non-identity byte), the
    * replace-chain replay of the sequential-pass merges, and the fixed
    * 256+|merges| vocabulary as literal VALUES rows (byte b = id b,
    * merge i = id 256 + i, first id wins). */
  private def byteBpeEncodeSql(merges: Seq[(String, String)]): String = {
    val segExpr = merges.foldLeft(
      "regexp_replace(b, '(.)', chr(1) || '\\1' || chr(1), 'g')") {
      case (acc, (l, r)) =>
        s"""replace($acc,
             chr(1) || ${duckStr(l)} || chr(1) || chr(1) || ${duckStr(r)} || chr(1),
             chr(1) || ${duckStr(l + r)} || chr(1))"""
    }
    val vocabRows = graft.llm.ByteBpe.vocabEntries(merges)
      .map { case (tok, id) => s"(${duckStr(tok)}, $id)" }
      .mkString(",\n             ")
    s"""WITH d AS (SELECT doc_id,
             regexp_extract_all(text, '${graft.llm.ByteBpe.preTokenPattern}')
               AS ws
           FROM documents),
         dw AS (SELECT doc_id, i, ws[i] AS w FROM d,
             LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
         w AS (SELECT DISTINCT w FROM dw),
         bw AS (SELECT w, replace(w, ' ', chr(288)) AS b FROM w),
         toks AS (SELECT w, string_split(trim($segExpr, chr(1)),
             chr(1) || chr(1)) AS toks
           FROM bw),
         vocab AS (SELECT * FROM (VALUES
             $vocabRows) AS v0(tok, id)),
         enc AS (SELECT t0.w,
             array_to_string(list(CAST(v.id AS VARCHAR) ORDER BY t0.i), ',')
               AS ids_csv,
             CAST(count(*) AS INT) AS n
           FROM (SELECT w, i, toks[i] AS tok FROM toks,
               LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)) t0
           JOIN vocab v ON v.tok = t0.tok
           GROUP BY t0.w),
         agg AS (SELECT dw.doc_id,
             CAST(sum(e.n) AS INT) AS n_tokens,
             string_agg(e.ids_csv, ',' ORDER BY dw.i) AS token_csv
           FROM dw JOIN enc e ON e.w = dw.w
           GROUP BY dw.doc_id)
         SELECT d0.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.token_csv, '') AS token_csv
         FROM (SELECT doc_id FROM documents) d0
         LEFT JOIN agg a ON a.doc_id = d0.doc_id"""
  }

  /** Repeated-span oracle CTEs through a `spans` relation: word
    * n-grams in >= minDocFreq distinct docs, island-merged per doc
    * with the same running-max window the Spark side uses. */
  private def repeatedSpanCtes(n: Int, minDocFreq: Int): String =
    s"""w AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(ws[i : i + ${n - 1}], ' ') AS gram
           FROM w, LATERAL (SELECT unnest(range(1, len(ws) - ${n - 2})) AS i)
           WHERE len(ws) >= $n),
         rep AS (SELECT gram FROM g
           GROUP BY gram HAVING count(DISTINCT doc_id) >= $minDocFreq),
         h AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN rep USING (gram)),
         mrk AS (SELECT doc_id, pos, gram,
             CASE WHEN pos > coalesce(max(pos + $n) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS newg
           FROM h),
         isl AS (SELECT *, sum(newg) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS UNBOUNDED PRECEDING) AS grp FROM mrk),
         spans AS (SELECT doc_id, min(pos) AS span_start,
             max(pos) + $n AS span_end,
             CAST(count(DISTINCT gram) AS BIGINT) AS n_grams
           FROM isl GROUP BY doc_id, grp)"""

  /** Maximal-span oracle CTEs (suffix-array semantics at n-gram
    * resolution): same gram stream / doc-frequency cut as
    * [[repeatedSpanCtes]], but spans are maximal runs of CONSECUTIVE
    * repeated-gram positions (step exactly 1 - lag, not running max),
    * so every length-n window inside a span repeats. */
  private def maximalSpanCtes(n: Int, minDocFreq: Int): String =
    s"""w AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(ws[i : i + ${n - 1}], ' ') AS gram
           FROM w, LATERAL (SELECT unnest(range(1, len(ws) - ${n - 2})) AS i)
           WHERE len(ws) >= $n),
         rep AS (SELECT gram FROM g
           GROUP BY gram HAVING count(DISTINCT doc_id) >= $minDocFreq),
         h AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN rep USING (gram)),
         mrk AS (SELECT doc_id, pos, gram,
             CASE WHEN pos - coalesce(lag(pos) OVER (
                 PARTITION BY doc_id ORDER BY pos), -2) = 1
               THEN 0 ELSE 1 END AS newg
           FROM h),
         isl AS (SELECT *, sum(newg) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS UNBOUNDED PRECEDING) AS grp FROM mrk),
         spans AS (SELECT doc_id, min(pos) AS span_start,
             max(pos) + $n AS span_end,
             CAST(count(DISTINCT gram) AS BIGINT) AS n_grams
           FROM isl GROUP BY doc_id, grp)"""

  /** Train -> encode -> pack oracle: the per-doc BPE token counts from
    * [[bpeEncodeCtes]] feed the same per-source running-offset chunk
    * layout q_pack_chunks pins (zero-token docs occupy no span). */
  private def bpePackSql(rounds: Int, seqLen: Int): String =
    s"""WITH ${bpeEncodeCtes(rounds)},
         nd AS (SELECT d0.doc_id, d0.source,
                  coalesce(a.n_tokens, 0) AS n_tokens
                FROM (SELECT doc_id, source FROM documents) d0
                LEFT JOIN agg a ON a.doc_id = d0.doc_id),
         o AS (SELECT doc_id, source, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_start
               FROM nd),
         s AS (SELECT doc_id, source, tok_start,
                 tok_start + n_tokens AS tok_end
               FROM o WHERE n_tokens > 0)
         SELECT doc_id, source, CAST(ch AS BIGINT) AS chunk_id,
                CAST(greatest(tok_start - ch * $seqLen, 0) AS BIGINT)
                  AS begin_off,
                CAST(least(tok_end - ch * $seqLen, $seqLen) AS BIGINT)
                  AS end_off
         FROM s, UNNEST(generate_series(
           CAST(floor(tok_start / $seqLen.0) AS BIGINT),
           CAST(floor((tok_end - 1) / $seqLen.0) AS BIGINT))) AS t(ch)"""

  /** Shared CTE chain (through per-doc `cp` with its copy count) for
    * the upsampling-mixture oracles - q_sample_mixture_up reads `cp`
    * directly, q_sample_mixture_real explodes it into one row per
    * copy. Mirrors Splitting.mixtureRepeat: rate = round(least(ratio /
    * min_positive(ratio), 64), 6), copies = floor(rate) + the
    * hash-fractional extra (FALSE-coalesced so null text keeps its
    * base copies), out-of-recipe strata 0. */
  private def mixtureUpCtesSql: String =
    """d AS (SELECT doc_id, text,
             CASE WHEN doc_id % 10 < 7 THEN 'big'
                  WHEN doc_id % 10 < 9 THEN 'mid'
                  ELSE 'small' END AS stratum
           FROM documents),
         c AS (SELECT stratum, count(*) AS n FROM d
           WHERE stratum IS NOT NULL GROUP BY stratum),
         r0 AS (SELECT stratum,
             (CASE WHEN stratum = 'big' THEN 0.3
                   WHEN stratum = 'small' THEN 0.7
                   ELSE 0.0 END) / CAST(n AS DOUBLE) AS ratio
           FROM c),
         r AS (SELECT stratum,
             CASE WHEN ratio = 0
                    OR (SELECT min(ratio) FROM r0 WHERE ratio > 0) IS NULL
                  THEN 0.0
                  ELSE round(least(
                    ratio / (SELECT min(ratio) FROM r0 WHERE ratio > 0),
                    64.0), 6) END AS rate
           FROM r0),
         cut AS (SELECT stratum,
             CAST(floor(rate) AS INT) AS base,
             CASE WHEN round((rate - floor(rate)) * 4294967296.0)
                    >= 4294967296.0
                  THEN 'g'
                  ELSE lower(lpad(hex(CAST(
                    round((rate - floor(rate)) * 4294967296.0)
                    AS BIGINT)), 8, '0')) END AS fcut
           FROM r),
         cp AS (SELECT d.doc_id, d.stratum,
                coalesce(cut.base, 0)
                  + CAST(coalesce(substr(md5('mixrep-v1' || d.text), 1, 8)
                      < coalesce(cut.fcut, '00000000'), FALSE) AS INT)
                  AS copies
           FROM d LEFT JOIN cut ON cut.stratum = d.stratum)"""

  private def minhashMd5CtesSql: String =
    """w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
               t -> t <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id,
             unnest(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_distinct(list_transform(
                 generate_series(1, len(ws) - 2),
                 i -> array_to_string(ws[i : i + 2], ' '))) END) AS shingle
           FROM w),
         shs AS (SELECT doc_id, list(shingle) AS sh FROM g GROUP BY doc_id),
         sigs AS (SELECT doc_id,
             list_transform(range(1, 17), i ->
               list_min(list_transform(sh,
                 s -> substr(md5(i || '|' || s), 1, 16)))) AS sig
           FROM shs),
         bnd AS (SELECT doc_id, b,
             array_to_string(sig[b*2+1 : b*2+2], '#') AS bandval
           FROM sigs, LATERAL (SELECT unnest(range(0, 8)) AS b)),
         bndk AS (SELECT doc_id, b, bandval FROM (
             SELECT doc_id, b, bandval,
                    count(*) OVER (PARTITION BY b, bandval) AS bsz
             FROM bnd)
           WHERE bsz <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
           FROM bndk a JOIN bndk c
             ON a.b = c.b AND a.bandval = c.bandval
             AND a.doc_id < c.doc_id),
         sz AS (SELECT doc_id, count(*) AS nsh FROM g GROUP BY doc_id),
         common AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
             count(*) AS n_common
           FROM g x JOIN g y USING (shingle)
           WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
         pairs AS (SELECT p.id_a, p.id_b,
                CAST(cm.n_common AS DOUBLE)
                  / (na.nsh + nb.nsh - cm.n_common) AS jaccard
           FROM cand p
           JOIN common cm ON cm.id_a = p.id_a AND cm.id_b = p.id_b
           JOIN sz na ON na.doc_id = p.id_a
           JOIN sz nb ON nb.doc_id = p.id_b
           WHERE CAST(cm.n_common AS DOUBLE)
                   / (na.nsh + nb.nsh - cm.n_common) >= 0.5)"""

  /** Parameterized md5-minhash oracle CTEs ending in a `pairs`
    * relation (id_a, id_b, jaccard): word `shingleN`-grams, `k` md5
    * permutations, `bands` bands of k/bands rows, the shared
    * maxBucketSize=1000 cut, an optional integer signature-agreement
    * floor (`estMinAgree` of k positions equal - the two-stage ngram
    * variant's estimate filter), and exact-Jaccard verification at
    * `threshold`. [[minhashMd5CtesSql]] remains the fixed (16, 8, 3,
    * 0.5) instance shared by the q_d_minhash_md5 / q_d_dedup_e2e
    * chain; this generator backs the re-keyed pair queries. */
  private def minhashMd5ParamCtes(k: Int, bands: Int, shingleN: Int,
                                  threshold: Double,
                                  estMinAgree: Int): String = {
    val rows = k / bands
    val shingle =
      if (shingleN < 2) "unnest(list_distinct(ws)) AS shingle"
      else s"""unnest(CASE WHEN len(ws) < $shingleN
               THEN [array_to_string(ws, ' ')]
               ELSE list_distinct(list_transform(
                 generate_series(1, len(ws) - ${shingleN - 1}),
                 i -> array_to_string(ws[i : i + ${shingleN - 1}], ' ')))
               END) AS shingle"""
    val estStage =
      if (estMinAgree <= 0) "cand AS (SELECT id_a, id_b FROM cand0)"
      else s"""cand AS (SELECT c.id_a, c.id_b
           FROM cand0 c
           JOIN sigs sa ON sa.doc_id = c.id_a
           JOIN sigs sb ON sb.doc_id = c.id_b
           WHERE len(list_filter(range(1, ${k + 1}),
             i -> sa.sig[i] = sb.sig[i])) >= $estMinAgree)"""
    s"""w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
               t -> t <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id, $shingle
           FROM w),
         shs AS (SELECT doc_id, list(shingle) AS sh FROM g GROUP BY doc_id),
         sigs AS (SELECT doc_id,
             list_transform(range(1, ${k + 1}), i ->
               list_min(list_transform(sh,
                 s -> substr(md5(i || '|' || s), 1, 16)))) AS sig
           FROM shs),
         bnd AS (SELECT doc_id, b,
             array_to_string(sig[b*$rows+1 : b*$rows+$rows], '#') AS bandval
           FROM sigs, LATERAL (SELECT unnest(range(0, $bands)) AS b)),
         bndk AS (SELECT doc_id, b, bandval FROM (
             SELECT doc_id, b, bandval,
                    count(*) OVER (PARTITION BY b, bandval) AS bsz
             FROM bnd)
           WHERE bsz <= 1000),
         cand0 AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
           FROM bndk a JOIN bndk c
             ON a.b = c.b AND a.bandval = c.bandval
             AND a.doc_id < c.doc_id),
         $estStage,
         sz AS (SELECT doc_id, count(*) AS nsh FROM g GROUP BY doc_id),
         common AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
             count(*) AS n_common
           FROM g x JOIN g y USING (shingle)
           WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
         pairs AS (SELECT p.id_a, p.id_b,
                CAST(cm.n_common AS DOUBLE)
                  / (na.nsh + nb.nsh - cm.n_common) AS jaccard
           FROM cand p
           JOIN common cm ON cm.id_a = p.id_a AND cm.id_b = p.id_b
           JOIN sz na ON na.doc_id = p.id_a
           JOIN sz nb ON nb.doc_id = p.id_b
           WHERE CAST(cm.n_common AS DOUBLE)
                   / (na.nsh + nb.nsh - cm.n_common) >= $threshold)"""
  }

  /** md5-bit SimHash pair oracle for an arbitrary radius: the same
    * signature construction as the q_d_simhash_md5 oracle, with
    * maxHamming+1 blocking chunks whose widths distribute the 64 chars
    * exactly as Dedup.simhashMd5Pairs does. */
  private def simhashMd5PairsSql(maxHamming: Int): String = {
    val chunks = maxHamming + 1
    val widths = Array.fill(chunks)(64 / chunks)
    (0 until 64 % chunks).foreach(widths(_) += 1)
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunkSel = (0 until chunks).map(c =>
      s"SELECT doc_id, $c AS chunk, " +
        s"substr(sig, ${offsets(c) + 1}, ${widths(c)}) AS chunkVal FROM sig")
      .mkString("\n           UNION ALL ")
    s"""WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(
                 lower(trim(coalesce(text, ''))), '[^a-z0-9_]+'),
               t -> t <> '') AS ws
           FROM documents),
         tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
         bits AS (SELECT doc_id, CAST(j AS INT) AS j,
             ((strpos('0123456789abcdef',
                 substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
               >> (3 - CAST(j % 4 AS INT))) & 1 AS bit
           FROM tok CROSS JOIN range(0, 64) r(j)),
         sums AS (SELECT doc_id, j, sum(bit) AS s
           FROM bits GROUP BY doc_id, j),
         sig0 AS (SELECT doc_id,
             string_agg(CASE WHEN 2 * s > n THEN '1' ELSE '0' END,
               '' ORDER BY j) AS sig
           FROM sums JOIN (SELECT doc_id, len(ws) AS n FROM w) ln
             USING (doc_id)
           GROUP BY doc_id),
         sig AS (SELECT w.doc_id,
             coalesce(sig0.sig, repeat('0', 64)) AS sig
           FROM w LEFT JOIN sig0 ON w.doc_id = sig0.doc_id),
         chunked AS ($chunkSel),
         bounded AS (SELECT doc_id, chunk, chunkVal FROM (
             SELECT doc_id, chunk, chunkVal,
                    count(*) OVER (PARTITION BY chunk, chunkVal) AS bsz
             FROM chunked)
           WHERE bsz <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bounded a JOIN bounded b
             ON a.chunk = b.chunk AND a.chunkVal = b.chunkVal
             AND a.doc_id < b.doc_id)
         SELECT c.id_a, c.id_b,
                CAST(len(list_filter(range(1, 65),
                  i -> substr(sa.sig, CAST(i AS INT), 1)
                    <> substr(sb.sig, CAST(i AS INT), 1))) AS INT) AS hamming
         FROM cand c
         JOIN sig sa ON sa.doc_id = c.id_a
         JOIN sig sb ON sb.doc_id = c.id_b
         WHERE len(list_filter(range(1, 65),
           i -> substr(sa.sig, CAST(i AS INT), 1)
             <> substr(sb.sig, CAST(i AS INT), 1))) <= $maxHamming"""
  }

  /** Shared CTE chain for the --species flagship oracles, ending in a
    * `picks` relation carrying the FULL pick row (group, src, dest,
    * source, merged evidence string, tier, method). Re-derives the
    * Fixtures mappings (part -> genes/status/history, lineitem ->
    * relations, orders -> AGR state) and replays resolve (J1/J2) ->
    * merge (A1/A3, including the sorted-distinct evidence string with
    * the 'NCBI' marker) -> complement (U2) -> cascade (W4/W2). The
    * resolution collapses to CASE logic because each external id has at
    * most ONE candidate gene by fixture construction ('EG'||rgdId is
    * unique); the cascade block mirrors the window formulation also
    * used by q_w24_cascade_run. */
  /** Shared member CTEs of the HomoloGene oracles: entries (duplicate
    * lines kept via the dup flag), exactly-one-match resolution, taxon
    * species, a per-group row index. */
  private def homologeneMemCtes: String =
    """ent0 AS (
           SELECT DISTINCT CAST(l_orderkey % 8000 AS INT) AS g,
                  CAST(l_suppkey % 4 AS INT) AS taxsel,
                  'G' || CAST(l_partkey % 12 AS VARCHAR) AS gene_id,
                  (l_quantity < 25) AS dup
           FROM lineitem WHERE l_orderkey % 2 = 1 AND l_linenumber = 1),
         ent AS (
           SELECT g, CASE taxsel WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3 END AS sp,
                  gene_id
           FROM ent0 WHERE taxsel <> 3),
         res AS (
           SELECT gene_id, MAX(rgd) AS rgd FROM (
             SELECT 'G' || CAST(c_custkey % 11 AS VARCHAR) AS gene_id,
                    CAST(c_custkey AS INT) AS rgd
             FROM customer WHERE c_custkey <= 13)
           GROUP BY gene_id HAVING COUNT(*) = 1),
         mem AS (
           SELECT ent.g, res.rgd, ent.sp,
                  ROW_NUMBER() OVER (PARTITION BY ent.g ORDER BY res.rgd, ent.sp) AS i
           FROM ent JOIN res USING (gene_id))"""

  /** Shared dimension CTEs of the operator-routed report oracles:
    * `gd` mirrors reportGenes(500), `reg` mirrors reportRgdIds(600). */
  private def reportDimCtes: String =
    """gd AS (SELECT CAST(p_partkey AS INT) AS id, p_name AS sym,
                  CASE WHEN p_partkey % 11 = 0 THEN 'allele'
                       WHEN p_partkey % 13 = 0 THEN 'splice'
                       ELSE 'protein-coding' END AS tp
           FROM part WHERE p_partkey <= 500),
         reg AS (SELECT CAST(p_partkey AS INT) AS id,
                  CASE WHEN p_partkey % 7 = 0 THEN 'WITHDRAWN' ELSE 'ACTIVE' END AS st,
                  CAST(p_partkey % 5 + 1 AS INT) AS sp
           FROM part WHERE p_partkey <= 600)"""

  private def pipelinePicksCtes: String =
    """g AS (
           SELECT CAST(p_partkey + 1000 AS INT) AS rgdId, p_name AS sym,
                  CASE WHEN p_partkey % 37 = 0 THEN 'allele'
                       ELSE 'protein-coding' END AS gt,
                  CASE WHEN p_partkey % 2 = 0 THEN 1 ELSE 3 END AS sp
           FROM part),
         st AS (SELECT rgdId,
                  CASE WHEN rgdId % 17 = 0 THEN 'WITHDRAWN'
                       ELSE 'ACTIVE' END AS status
           FROM g),
         -- J1/J2: 'EG'||n resolves to gene n (allele-excluded); withdrawn
         -- ids follow history to n+2 when that id exists and is ACTIVE
         res AS (
           SELECT g.rgdId AS n,
                  CASE WHEN s.status = 'ACTIVE' THEN g.rgdId
                       ELSE r2.rgdId END AS resolved
           FROM g JOIN st s ON s.rgdId = g.rgdId
           LEFT JOIN st r2 ON r2.rgdId = g.rgdId + 2
                          AND r2.status = 'ACTIVE'
           WHERE g.gt <> 'allele'),
         rel0 AS (
           SELECT CAST(l_orderkey % 100 * 2 + 1000 AS INT) AS srcN,
                  CAST(l_partkey % 100 * 2 + 1001 AS INT) AS destN,
                  CASE WHEN l_linenumber % 2 = 1 THEN 'HGNC'
                       ELSE 'NCBI' END AS ds,
                  CASE WHEN l_linenumber % 2 = 1 THEN
                    (CASE WHEN l_returnflag = 'R' THEN 'OrthoDB'
                          ELSE 'Ensembl' END) || ', ' ||
                    (CASE WHEN l_linestatus = 'F' THEN 'OMA'
                          ELSE 'HomoloGene' END)
                  ELSE 'Ortholog' END AS dsn
           FROM lineitem),
         rr AS (
           SELECT rs.resolved AS src, rd.resolved AS dest, r.ds, r.dsn
           FROM rel0 r
           JOIN res rs ON rs.n = r.srcN AND rs.resolved IS NOT NULL
           JOIN res rd ON rd.n = r.destN AND rd.resolved IS NOT NULL),
         -- A1/A3 merge: sorted-distinct evidence string; HGNC pairs
         -- carry HGNC tokens plus the literal 'NCBI' marker when both
         -- sources saw the pair, NCBI-only pairs carry 'Ortholog'
         tok AS (SELECT src, dest, ds,
                  unnest(string_split_regex(dsn, ',\s*')) AS t
           FROM rr),
         mrg AS (
           SELECT src, dest,
                  max(CASE WHEN ds = 'HGNC' THEN 1 ELSE 0 END) AS hasH,
                  max(CASE WHEN ds = 'NCBI' THEN 1 ELSE 0 END) AS hasN,
                  list_sort(list_distinct(
                    list(t) FILTER (WHERE ds = 'HGNC'))) AS htoks
           FROM tok GROUP BY src, dest),
         mrg2 AS (
           SELECT src, dest,
                  CASE WHEN hasH = 1 THEN 'HGNC' ELSE 'NCBI' END AS ds,
                  CASE WHEN hasH = 1 THEN
                    array_to_string(list_sort(list_distinct(
                      CASE WHEN hasN = 1 THEN list_append(htoks, 'NCBI')
                           ELSE htoks END)), ', ')
                  ELSE 'Ortholog' END AS xset
           FROM mrg),
         -- U2 complement: forward + reversed, group = the human gene
         cmp AS (
           SELECT src AS grp, src AS s, dest AS d, 1 AS ssp, 3 AS dsp,
                  ds, xset FROM mrg2
           UNION ALL
           SELECT src, dest, src, 3, 1, ds, xset FROM mrg2),
         ks AS (SELECT DISTINCT grp, s, ssp, dsp FROM cmp),
         -- tier 4: manual state rows (human rgdId%50=0 -> dest rgdId+1);
         -- both endpoints must be ACTIVE in the registry (the manual
         -- fetch goes through getOrthologsForSourceRgdId, r16 pin)
         man AS (
           SELECT k.grp, k.s, o.rgdId + 1 AS d, k.ssp, k.dsp,
                  'RGD' AS ds, 'curated' AS xset, 4 AS tier
           FROM ks k JOIN (SELECT rgdId FROM g
                           WHERE sp = 1 AND rgdId % 50 = 0) o
             ON o.rgdId = k.s
           JOIN st a1 ON a1.rgdId = o.rgdId AND a1.status = 'ACTIVE'
           JOIN st a2 ON a2.rgdId = o.rgdId + 1 AND a2.status = 'ACTIVE'
           WHERE k.dsp = 3),
         -- tier 3: AGR mutual-best (both flags Y), symmetrized+deduped,
         -- pre-aggregated per (src gene, partner species); a conflict
         -- (cnt>1) emits its min candidate twice to keep n>1
         agr0 AS (
           SELECT CAST(o_orderkey % 100 * 2 + 1000 AS INT) AS g1,
                  CAST(o_custkey % 100 * 2 + 1001 AS INT) AS g2
           FROM orders
           WHERE o_orderkey % 5 = 0 AND o_orderstatus <> 'P'
             AND o_totalprice > 50000),
         agrsym AS (SELECT DISTINCT a, b FROM (
           SELECT g1 AS a, g2 AS b FROM agr0
           UNION ALL SELECT g2, g1 FROM agr0)),
         t3 AS (SELECT a, gg.sp AS psp, count(*) AS cnt3, min(b) AS mind
           FROM agrsym JOIN g gg ON gg.rgdId = b
           GROUP BY a, gg.sp),
         alli0 AS (
           SELECT k.grp, k.s, t.mind AS d, k.ssp, k.dsp,
                  'Alliance' AS ds,
                  'Ensembl Compara|InParanoid|OMA' AS xset, 3 AS tier,
                  t.cnt3
           FROM ks k JOIN t3 t ON t.a = k.s AND t.psp = k.dsp),
         cands AS (
           SELECT grp, s, d, ssp, dsp, ds, xset,
                  CASE WHEN ds = 'HGNC' THEN 2 ELSE 1 END AS tier
           FROM cmp
           UNION ALL SELECT grp, s, d, ssp, dsp, ds, xset, tier FROM man
           UNION ALL SELECT grp, s, d, ssp, dsp, ds, xset, tier
             FROM alli0
           UNION ALL SELECT grp, s, d, ssp, dsp, ds, xset, tier
             FROM alli0 WHERE cnt3 > 1),
         -- W4/W2 cascade: top tier, then the branch-specific winner
         ann AS (SELECT c.*,
                  CASE WHEN c.xset IS NULL OR c.xset = '' THEN 0
                       ELSE len(string_split(c.xset, ',')) END AS ev,
                  gd.sym AS dsym,
                  CASE WHEN lower(gs.sym) IS NOT DISTINCT FROM lower(gd.sym)
                       THEN 1 ELSE 0 END AS symm
           FROM cands c
           LEFT JOIN g gs ON gs.rgdId = c.s
           LEFT JOIN g gd ON gd.rgdId = c.d),
         top AS (SELECT * FROM
           (SELECT a.*, max(tier) OVER (PARTITION BY grp, ssp, dsp) AS tt
            FROM ann a)
           WHERE tier = tt),
         t1 AS (SELECT t.*, count(*) OVER w AS n, max(ev) OVER w AS maxev,
                  max(symm) OVER w AS anymatch
           FROM top t WINDOW w AS (PARTITION BY grp, ssp, dsp)),
         t2 AS (SELECT t.*,
                  sum(CASE WHEN ev = maxev THEN 1 ELSE 0 END) OVER w
                    AS cntatmax,
                  row_number() OVER (PARTITION BY grp, ssp, dsp ORDER BY
                    ev DESC, lower(dsym) ASC NULLS LAST, d ASC, s ASC)
                    AS rnev,
                  row_number() OVER (PARTITION BY grp, ssp, dsp ORDER BY
                    symm DESC, ev DESC, lower(dsym) ASC NULLS LAST,
                    d ASC, s ASC) AS rnsym,
                  row_number() OVER (PARTITION BY grp, ssp, dsp ORDER BY
                    lower(dsym) ASC NULLS LAST, d ASC, s ASC) AS rnalpha
           FROM t1 t WINDOW w AS (PARTITION BY grp, ssp, dsp)),
         picks AS (
           SELECT grp AS groupId, s AS srcRgdId, d AS destRgdId,
                  ds AS xrefDataSrc, xset AS xrefDataSet, tier,
                  CASE WHEN tier > 2 THEN
                         (CASE WHEN n = 1 THEN 'tierPick' ELSE 'conflict' END)
                       WHEN n = 1 THEN 'oneRel'
                       WHEN cntatmax = 1 THEN 'longestEvidence'
                       WHEN anymatch = 1 THEN 'symbolMatch'
                       ELSE 'shortestSymbol' END AS method
           FROM t2
           WHERE (tier > 2 AND n = 1)
              OR (tier <= 2 AND (n = 1
                   OR (cntatmax = 1 AND rnev = 1)
                   OR (cntatmax > 1 AND anymatch = 1 AND rnsym = 1)
                   OR (cntatmax > 1 AND anymatch = 0 AND rnalpha = 1))))"""

  /** Shared CTE chain for the --agrOrthologs flagship oracles: M5 curie
    * resolution over the fixture lines (human side resolves by SYMBOL to
    * the min ACTIVE gene sharing p_name; rat side by the RGD:n
    * special-id parse validated against the gene table), S9 full-outer
    * upsert on (g1, g2, methods), then the A8 circuit breaker - the
    * stale delete applies only when |new - initial| <= 10% of the
    * post-upsert total (integer math, as parseThreshold). Fixture state
    * rows predate the cutoff, so 'stale' is exactly 'not touched this
    * run' (fresh = 0). Ends in `up` (post-upsert rows + fresh flag) and
    * `guard` (the delete decision). */
  private def agrUpsertCtes: String =
    """g AS (
           SELECT CAST(p_partkey + 1000 AS INT) AS rgdId, p_name AS sym,
                  CASE WHEN p_partkey % 2 = 0 THEN 1 ELSE 3 END AS sp
           FROM part),
         lines AS (SELECT rgdId AS h, sym FROM g WHERE sp = 1),
         bysym AS (
           -- getGeneBySymbol status rule: a single candidate resolves
           -- regardless of status (the size>1-only inactive filter,
           -- OrthologRelationDao.java:595-619); multiples keep the
           -- smallest ACTIVE id (fixture: rgdId % 17 = 0 is WITHDRAWN)
           SELECT g.sym, g.sp,
                  CASE WHEN count(*) = 1 THEN min(g.rgdId)
                       ELSE min(CASE WHEN g.rgdId % 17 <> 0
                                     THEN g.rgdId END)
                  END AS symbolRgdId
           FROM g
           GROUP BY g.sym, g.sp),
         inc AS (
           SELECT b.symbolRgdId AS g1, gg.rgdId AS g2,
                  CASE WHEN l.h % 4 = 0 THEN 'Y' ELSE 'N' END AS isBestScore,
                  'Y' AS isBestRevScore,
                  CASE CAST(l.h % 3 AS INT)
                    WHEN 0 THEN 'OMA|PANTHER'
                    WHEN 1 THEN 'Ensembl Compara|InParanoid|OMA'
                    ELSE 'PANTHER|PhylomeDB' END AS methodsMatched
           FROM lines l
           JOIN bysym b ON b.sym = l.sym AND b.sp = 1
                       AND b.symbolRgdId IS NOT NULL
           JOIN g gg ON gg.rgdId = l.h + 1),
         incd AS (SELECT DISTINCT * FROM inc),
         stt AS (
           SELECT CAST(o_orderkey % 100 * 2 + 1000 AS INT) AS g1,
                  CAST(o_custkey % 100 * 2 + 1001 AS INT) AS g2,
                  CASE WHEN o_orderstatus <> 'P' THEN 'Y' ELSE 'N' END
                    AS isBestScore,
                  CASE WHEN o_totalprice > 50000 THEN 'Y' ELSE 'N' END
                    AS isBestRevScore,
                  'Ensembl Compara|InParanoid|OMA' AS methodsMatched
           FROM orders WHERE o_orderkey % 5 = 0),
         up AS (
           SELECT s.g1, s.g2, s.methodsMatched,
                  coalesce(i.isBestScore, s.isBestScore) AS isBestScore,
                  coalesce(i.isBestRevScore, s.isBestRevScore)
                    AS isBestRevScore,
                  CASE WHEN i.g1 IS NOT NULL THEN 1 ELSE 0 END AS fresh
           FROM stt s LEFT JOIN incd i
             ON i.g1 = s.g1 AND i.g2 = s.g2
            AND i.methodsMatched = s.methodsMatched
           UNION ALL
           SELECT i.g1, i.g2, i.methodsMatched,
                  i.isBestScore, i.isBestRevScore, 1
           FROM incd i WHERE NOT EXISTS (
             SELECT 1 FROM stt s WHERE s.g1 = i.g1 AND s.g2 = i.g2
               AND s.methodsMatched = i.methodsMatched)),
         guard AS (
           SELECT CASE WHEN abs(sum(fresh) - (SELECT count(*) FROM stt))
                       > (10 * count(*)) // 100
                  THEN 0 ELSE 1 END AS do_delete
           FROM up)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- S2/F1/F2/F4: scan + predicate pushdown + projection ----
    "q_f2_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_linestatus") === "F")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    "q_f4_projection" -> ((s, dir) =>
      t(s, dir, "part").filter(col("p_size") > 20)
        .select(col("p_partkey"), upper(col("p_brand")).as("brand_uc"),
          col("p_size"))),

    // F5/F6: type exclusion + status predicate
    "q_f5_exclusion" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(!col("o_orderstatus").isin("F") &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))),

    // F3/X13: set filter + broadcast dimension join
    "q_f3_set_filter" -> ((s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_mktsegment"), col("n_name"))),

    // ---- J1: resolution join with multiplicity classification ----
    "q_j1_resolution" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_acctbal") > 0)
      t(s, dir, "nation")
        .join(cust, col("c_nationkey") === col("n_nationkey"), "left")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("c_custkey")).as("active_c"),
          max(col("c_custkey")).as("max_cust"))
        .select(col("n_nationkey"), col("n_name"), col("active_c"),
          when(col("active_c") === 0, "unmatched")
            .when(col("active_c") === 1, "matched")
            .otherwise("multiple").as("outcome"),
          when(col("active_c") === 1, col("max_cust")).as("resolved_id"))
    }),

    // J2: withdrawn -> replacement (MAX over history shape)
    "q_j2_replacement" -> ((s, dir) => {
      val repl = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey")).agg(max(col("o_orderkey")).as("replacement"))
      t(s, dir, "customer")
        .join(repl, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("replacement"))
    }),

    // J4: existence as semi join
    "q_j4_semi" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))),

    // J10: genes-without-orthologs as anti join
    "q_j10_anti" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    // J8/A9/U5/O1: cross-linked report (HAVING>2 legs, union, ci-order)
    "q_j8_crosslinked" -> ((s, dir) => {
      def leg(df: DataFrame, key: String) =
        df.groupBy(col(key).as("n_nationkey")).count()
          .filter(col("count") > 2).select(col("n_nationkey"))
      leg(t(s, dir, "supplier"), "s_nationkey")
        .union(leg(t(s, dir, "customer"), "c_nationkey")).distinct()
        .join(t(s, dir, "nation"), Seq("n_nationkey"))
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(lower(col("n_name")))
    }),

    // J11/O3: multimap with sorted-first deterministic pick
    "q_j11_multimap" -> ((s, dir) =>
      t(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(element_at(sort_array(collect_list(col("c_custkey"))), 1)
          .as("first_id"),
          count(lit(1)).as("n"))),

    // J9: partner report with best-score post-filter (window anyBest)
    "q_j9_partner_filter" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("is_best", (col("o_orderstatus") === "O").cast("int"))
      val w = Window.partitionBy(col("o_custkey"))
      o.withColumn("any_best", max(col("is_best")).over(w))
        .filter(col("any_best") === 0 || col("is_best") === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("is_best"))
    }),

    // ---- operator-routed report queries: the REAL Reports operators
    // over TPC-H-derived gene/registry/relation frames, the oracle
    // transcribing the reference SQL (pinned row-at-a-time in
    // ReportsPropertySpec; gated end-to-end here) ----

    // J8 through Reports.crossLinkedOrthologs: join-row counting with
    // duplicate relations, both-endpoints-ACTIVE, species sets, union
    // distinct (Dao:672-689)
    "q_j8_crosslinked_op" -> ((s, dir) => {
      val orth = t(s, dir, "lineitem").select(
        (col("l_partkey") % 500).cast("int").as("srcRgdId"),
        (col("l_suppkey") % 500).cast("int").as("destRgdId"))
      graft.operators.Reports.crossLinkedOrthologs(
        orth, reportGenes(s, dir, 500), reportRgdIds(s, dir, 600), 3)
    }),

    // J9 through Reports.agrPartnerReport: mutual-best suppression per
    // query gene, partner species via the registry (OrthoTool.java:126-166)
    "q_j9_partner_op" -> ((s, dir) => {
      val agr = t(s, dir, "orders").select(
        (col("o_custkey") % 300).cast("int").as("geneRgdId1"),
        (col("o_orderkey") % 400).cast("int").as("geneRgdId2"),
        when(col("o_orderstatus") === "O", "Y").otherwise("N").as("isBestScore"),
        when(col("o_totalprice") > 100000, "Y").otherwise("N").as("isBestRevScore"))
      graft.operators.Reports.agrPartnerReport(
          agr, reportGenes(s, dir, 500), reportRgdIds(s, dir, 600), 2)
        .select(col("geneRgdId1"), col("geneRgdId2"),
          col("partnerSymbol"), col("isMutualBest"))
    }),

    // J10 through Reports.genesWithoutOrthologs: ACTIVE genes of the
    // species with no SRC-side relation, NO type exclusion (the
    // published SQL; the allele/splice drop is log-lines-only)
    "q_j10_no_orth_op" -> ((s, dir) => {
      val orth = t(s, dir, "orders").select(
        (col("o_orderkey") % 350).cast("int").as("srcRgdId"),
        lit(1).as("destRgdId"))
      graft.operators.Reports.genesWithoutOrthologs(
        orth, reportGenes(s, dir, 500), reportRgdIds(s, dir, 600), 3)
    }),

    // ---- A1/A5: group aggregation (TPC-H Q1 shape) ----
    // exact cross-engine arithmetic: l_quantity is integer-valued (sum of
    // doubles is order-independent below 2^53); prices go through
    // floor(x*100) -> BIGINT cents so both engines sum exact integers
    "q_a1_groupagg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
          min(col("l_discount")).as("min_disc"),
          max(col("l_discount")).as("max_disc"))),

    // A3/O4/X2: evidence-token merge (collect_set + sort + concat_ws)
    "q_a3_merge" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(concat_ws(", ", array_sort(collect_set(col("l_returnflag"))))
          .as("flags"))),

    // A4: evidence count over a CSV column
    "q_a4_evidence_count" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Exprs.evidenceCount(translate(col("p_name"), " ", ",")).as("ev_count"))),

    // A5: scalar counts + freshness max (X9 shape)
    "q_a5_counts" -> ((s, dir) =>
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custs"),
        max(col("o_orderdate")).as("max_date"))),

    // A7/J6: sync diff as one full-outer join + classification
    "q_a7_sync_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val incoming = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey").as("k"), lit(1).as("inc"))
      val inRgd = o.filter(col("o_totalprice") > 150000)
        .select(col("o_orderkey").as("k"), lit(1).as("old"))
      incoming.join(inRgd, Seq("k"), "full_outer")
        .select(col("k"),
          when(col("inc").isNotNull && col("old").isNotNull, "match")
            .when(col("old").isNull, "insert").otherwise("delete").as("cls"))
        .groupBy(col("cls")).agg(count(lit(1)).as("n"))
    }),

    // A8/X12: threshold-guarded stale delete (scalar guard math)
    "q_a8_threshold" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.agg(
        count(lit(1)).as("total"),
        sum(when(col("o_orderdate") < lit("1998-01-01"), 1).otherwise(0))
          .cast("long").as("stale"))
        .select(col("total"), col("stale"),
          (col("total") / lit(10)).cast("long").as("max_deletable"),
          (col("stale") <= col("total") / lit(10)).cast("int").as("guard_ok"))
    }),

    // A9: HAVING-filtered count
    "q_a9_having" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_custkey")).count()
        .filter(col("count") > 12)
        .select(col("o_custkey"), col("count").as("n"))),

    // ---- W1: priority-ranked dedupe (row_number window) ----
    "q_w1_dedupe" -> ((s, dir) => {
      val src = Exprs.sourcePriority(
        when(col("l_returnflag") === "R", "RGD")
          .when(col("l_returnflag") === "A", "Alliance").otherwise("NCBI"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data:
      // the ordering must be total or the rn>1 set is nondeterministic
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(src.desc, col("l_linenumber").asc, col("l_suppkey").asc,
          col("l_partkey").asc, col("l_extendedprice").asc)
      t(s, dir, "lineitem").withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1 && col("l_suppkey") % 2 === 0) // pipeline-owned analog
        .select(col("l_orderkey"), col("l_linenumber"))
    }),

    // W2: best-fit top-1 pick (argmax window)
    "q_w2_bestfit" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_quantity").desc, col("l_linenumber").asc)
      t(s, dir, "lineitem").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // W4: tier cascade with conflict invalidation (>1 in top tier -> none)
    "q_w4_cascade" -> ((s, dir) => {
      val tier = when(col("l_returnflag") === "R", 3)
        .when(col("l_returnflag") === "A", 2).otherwise(1)
      val w = Window.partitionBy(col("l_orderkey"))
      t(s, dir, "lineitem").withColumn("tier", tier)
        .withColumn("top_tier", max(col("tier")).over(w))
        .filter(col("tier") === col("top_tier"))
        .withColumn("n_top", count(lit(1)).over(w))
        .filter(col("n_top") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("tier"))
    }),

    // ---- O1/X5: case-insensitive sort ----
    "q_o1_sort" -> ((s, dir) =>
      t(s, dir, "supplier").orderBy(lower(col("s_name")))
        .select(col("s_suppkey"), col("s_name"))),

    // O4: sorted-set canonicalization
    "q_o4_canonicalize" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Exprs.canonicalizeList(col("p_name"), "\\s+", ", ").as("canon"))),

    // ---- U1: union + distinct ----
    "q_u1_union" -> ((s, dir) =>
      t(s, dir, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey"))
        .union(t(s, dir, "customer").filter(col("c_nationkey") < 5)
          .select(col("c_custkey")))
        .distinct()),

    // U2: reverse-relation synthesis (symmetrization)
    "q_u2_reverse" -> ((s, dir) => {
      val sn = t(s, dir, "supplier")
        .select(col("s_suppkey").as("a"), col("s_nationkey").cast("bigint").as("b"))
      sn.union(sn.select(col("b").as("a"), col("a").as("b"))).distinct()
    }),

    // U6: list difference (detach) as anti join / EXCEPT
    "q_u6_difference" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
        .except(t(s, dir, "orders").filter(col("o_totalprice") < 100000)
          .select(col("o_orderkey")))),

    // ---- X4: Greek transliteration ----
    "q_x4_translit" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Exprs.transliterateGreek(concat(col("p_name"), lit(" αβΔκ")))
          .as("symbol"))),

    // X6: prefix strip + cast
    "q_x6_prefix" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        Exprs.stripPrefixToInt(col("c_name"), 9).cast("bigint").as("parsed_id"))),

    // X8 + X5: quote trim + case-insensitive equality
    "q_x8_quotetrim" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Exprs.unquoteTrim(concat(lit("\""), col("p_name"), lit("\"")))
          .as("unquoted"),
        Exprs.symbolMatches(col("p_name"), upper(col("p_name"))).cast("int")
          .as("ci_match"))),

    // M3: ortholog-type assignment CASE
    "q_m3_type_assign" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_nationkey") <= 2, graft.model.Species.directOrthologTypeKey)
          .otherwise(graft.model.Species.transitiveOrthologTypeKey)
          .as("type_key"))),

    // M7: canonical rewrite with strictly-shorter change detection
    "q_m7_fixxref" -> ((s, dir) => {
      val orig = concat(col("p_name"), lit(" "), col("p_name"))
      val canon = concat_ws(", ", array_sort(array_distinct(split(orig, "\\s+", -1))))
      t(s, dir, "part")
        .select(col("p_partkey"), orig.as("orig"), canon.as("canon"))
        .filter(col("canon") =!= col("orig") &&
          length(col("canon")) < length(col("orig")))
    }),

    // X10: age-in-days freshness math (datediff)
    "q_x10_age_days" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        datediff(lit("2026-08-12"), col("o_orderdate")).as("age_days"))),

    // X11: signed-diff report format
    "q_x11_signed_diff" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .select(col("o_orderstatus"),
          format_string("%+d", col("n") - 1000).as("diff"))),

    // D6: symbol QC - rows whose two symbol columns disagree case-insens
    "q_d6_symbol_qc" -> ((s, dir) =>
      t(s, dir, "part")
        .filter(!(lower(col("p_name")) <=> lower(col("p_type"))))
        .select(col("p_partkey"), col("p_name"), col("p_type"))),

    // D6 through the real operator (validateGeneSymbol): binding leg
    // over ACTIVE AGR_GENE xrefs + resolved leg with no status filter,
    // human-only, double case-insensitive mismatch with the
    // Ensembl-symbol save (pinned in SymbolQcPropertySpec)
    "q_d6_symbol_qc_op" -> ((s, dir) => {
      val res = t(s, dir, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .select(
          concat(lit("AGR:"), col("o_custkey") % 80).as("curie"),
          concat(lit("Brand#"), col("o_orderkey") % 45 + 11).as("geneSymbol"),
          when(col("o_orderkey") % 4 === 0, 3).otherwise(1)
            .cast("int").as("speciesTypeKey"),
          (col("o_custkey") % 300 + 1).cast("int").as("rgdId"))
      val genes = t(s, dir, "part").filter(col("p_partkey") <= 300).select(
        col("p_partkey").cast("int").as("rgdId"),
        col("p_brand").as("geneSymbol"),
        concat(lit("brand#"), col("p_partkey") % 50 + 10)
          .as("ensemblGeneSymbol"))
      val xrefs = t(s, dir, "customer").filter(col("c_custkey") <= 240)
        .select(lit(63).as("xdbKey"),
          concat(lit("AGR:"), col("c_custkey") % 80).as("accId"),
          (col("c_custkey") % 300 + 1).cast("int").as("rgdId"))
      graft.operators.Agr.qcHumanSymbols(
        res, xrefs, genes, reportRgdIds(s, dir, 300))
    }),

    // M6: touch-seen + cutoff sweep (xref QC shape): touched rows get the
    // run timestamp, untouched stale rows drop out
    "q_m6_touch_sweep" -> ((s, dir) => {
      val touched = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey")).distinct()
      t(s, dir, "customer")
        .join(touched, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("mod_date",
          when(col("o_custkey").isNotNull, lit("2026-08-01"))
            .otherwise(lit("2026-01-01")))
        .filter(col("mod_date") >= "2026-06-01")
        .select(col("c_custkey"), col("mod_date"))
    }),

    // ---- operator-routed oracle queries over TPC-H-derived fixture
    // frames (TpchShapes): the REAL mutation/repair operators run here and
    // DuckDB independently recomputes their output ----

    // M1/M2/W3/J7/F11 + S7: the full reconcile merge - W3 dedupe of state
    // and incoming, full-outer classify (match/insert/replace/downgrade),
    // duplicate-state deletes, sequential keys for inserts, M2 stale sweep
    "q_m1_reconcile" -> ((s, dir) => {
      val m = Merge.reconcile(TpchShapes.m1Incoming(s, dir), TpchShapes.m1State(s, dir),
        TpchShapes.genes(s, dir), TpchShapes.runTs, 3)
      def part(df: DataFrame, tag: String) =
        df.select(lit(tag).as("cls"), col("key").cast("long").as("key"),
          col("srcRgdId"), col("destRgdId"))
      part(m.touched, "touched")
        .unionByName(part(m.inserted, "inserted"))
        .unionByName(part(m.deleted, "deleted"))
        .unionByName(m.downgraded.select(lit("downgraded").as("cls"),
          lit(null).cast("long").as("key"), col("srcRgdId"), col("destRgdId")))
    }),

    // M4/S8 + J4: weak-ortholog incoming build (relations + downgrades),
    // strong-ortholog knockout, then the syncer diff with the real
    // full-outer classification
    "q_m4_weaksync" -> ((s, dir) => {
      val incoming = WeakSync.dropStrongOrthologs(
        WeakSync.buildIncoming(TpchShapes.m4Relations(s, dir),
          TpchShapes.m4Downgraded(s, dir), TpchShapes.runTs),
        TpchShapes.m4Strong(s, dir))
      val r = WeakSync.syncDiff(incoming, TpchShapes.m4AssocState(s, dir))
      def part(df: DataFrame, tag: String) =
        df.select(lit(tag).as("cls"), col("assocKey").cast("long").as("assocKey"),
          col("masterRgdId"), col("detailRgdId"), col("assocSubType"))
      part(r.matched, "matched").unionByName(part(r.updates, "update"))
        .unionByName(part(r.inserts, "insert")).unionByName(part(r.deletes, "delete"))
    }),

    // A1/A3/U2/X2: duplicate-relation merge (HGNC+NCBI evidence union with
    // the literal NCBI marker) + complementary-relation synthesis
    "q_a2_group_merge" -> ((s, dir) => {
      val rel = t(s, dir, "lineitem").filter(col("l_orderkey") % 5 === 0).select(
        (col("l_orderkey") % 300).cast("int").as("srcRgdId"),
        ((col("l_partkey") % 300) + 1000).cast("int").as("destRgdId"),
        lit(1).as("srcSpeciesTypeKey"), lit(3).as("destSpeciesTypeKey"),
        when(col("l_linenumber") % 2 === 0, "HGNC").otherwise("NCBI").as("dataSource"),
        when(col("l_linenumber") % 3 === 0, "Ensembl")
          .when(col("l_linenumber") % 3 === 1, "Ensembl, HomoloGene")
          .otherwise("OMA").as("dataSetName"))
      Grouping.withComplementaryRelations(Grouping.mergeRelations(rel))
        .select(col("groupId"), col("srcRgdId"), col("destRgdId"),
          col("dataSource"), col("dataSetName"))
    }),

    // S7: distributed sequential surrogate keys (maxKey + rank over a
    // unique total order, computed without a single-partition window)
    "q_s7_seqkeys" -> ((s, dir) =>
      Keys.assignSequential(
        t(s, dir, "customer").filter(col("c_acctbal") > 0).select(col("c_custkey")),
        "key", 100000L, Seq(col("c_custkey")))),

    // F7: unmapped-relation drop
    "q_f7_unmapped" -> ((s, dir) =>
      Resolve.dropUnmapped(t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "O", col("o_custkey")).otherwise(-1)
          .as("srcRgdId"),
        when(col("o_totalprice") > 50000, col("o_orderkey") % 1000).otherwise(0)
          .as("destRgdId")))),

    // X3: '|'-separated algorithm list sort
    "q_x3_pipesort" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Exprs.sortAlgorithms(
          concat(col("p_brand"), lit("|"), col("p_name"), lit("|"), col("p_brand")))
          .as("algos"))),

    // X1: positional tab split (the readers' fixed-column access pattern)
    "q_x1_tabsplit" -> ((s, dir) => {
      val line = concat_ws("\t", col("p_name"), col("p_brand"), col("p_type"))
      t(s, dir, "part").select(col("p_partkey"),
        split(line, "\t").getItem(1).as("f1"),
        split(line, "\t").getItem(2).as("f2"))
    }),

    // X12: percent / absolute threshold parse (the real driver-side math)
    "q_x12_threshold" -> ((s, dir) => {
      import s.implicits._
      val total = t(s, dir, "orders").count()
      Seq((total, Agr.parseThreshold("10%", total), Agr.parseThreshold("3%", total),
        Agr.parseThreshold("500", total))).toDF("total", "pct10", "pct3", "abs500")
    }),

    // D4/D5: sanity floor + freshness gate - the real guards run (throwing
    // on violation) and the row surfaces their scalar inputs
    "q_d4_d5_guards" -> ((s, dir) => {
      val cust = Readers.requireSanityFloor(t(s, dir, "customer"), 100)
      val agr = t(s, dir, "orders").select(col("o_orderdate").as("lastUpdateDate"))
      graft.operators.Reports.checkAllianceFreshness(agr,
        java.sql.Timestamp.valueOf("2026-08-12 00:00:00"), maxAgeDays = 20000)
      cust.agg(count(lit(1)).as("n_rows")).crossJoin(
        agr.agg(max(col("lastUpdateDate")).as("max_date")))
        .select(col("n_rows"), (col("n_rows") >= 100).cast("int").as("floor_ok"),
          col("max_date"),
          datediff(lit("2026-08-12"), col("max_date")).as("age_days"),
          (datediff(lit("2026-08-12"), col("max_date")) <= 20000).cast("int")
            .as("fresh_ok"))
    }),

    // A6/J1/J2/F5/F7: the REAL bulk id-resolution - EG->RGD candidate
    // join with allele/splice exclusion, withdrawn->replacement history,
    // 4-outcome classification, src-shadows-dest audit, outcome counters
    "q_a6_resolve" -> ((s, dir) => {
      val (_, audit) = Resolve.resolveRelations(
        TpchShapes.resolveRelations(s, dir), TpchShapes.resolveXrefs(s, dir),
        TpchShapes.genes(s, dir), TpchShapes.resolveRgdIds(s, dir),
        TpchShapes.resolveHistory(s, dir))
      audit.groupBy(col("outcome"), col("failedSide")).agg(count(lit(1)).as("n"))
    }),

    // W2/W4/J3/U4/F8/F9/F10/O2: the REAL 4-tier cascade - manual +
    // Alliance mutual-best + incoming candidates, conflict invalidation,
    // the 4-rule best-fit tie-break chain, per-pick method audit
    "q_w24_cascade_run" -> ((s, dir) =>
      graft.operators.Cascade.run(TpchShapes.cascadeRelations(s, dir),
        TpchShapes.cascadeOrthologs(s, dir), TpchShapes.cascadeAgr(s, dir),
        TpchShapes.genes(s, dir), rgdIds = Some(TpchShapes.wideRgdIds(s)))
        .select(col("groupId"), col("srcRgdId"), col("destRgdId"),
          col("xrefDataSrc"), col("xrefDataSet"), col("tier"), col("method"))),

    // D1/J5/U3: ortholog symmetry repair - swapped-key anti-join, manual
    // exemption, forward assoc replacement, reverse-assoc detach/mirror
    "q_d1_repair" -> ((s, dir) => {
      val r = WeakSync.repairOrthologSymmetry(TpchShapes.d1State(s, dir),
        TpchShapes.d1Assoc(s, dir), 1, 3, TpchShapes.runTs,
        rgdIds = Some(TpchShapes.wideRgdIds(s)))
      r.orthologDeletes.select(lit("ortho_delete").as("cls"), col("key"),
          lit(null).cast("int").as("masterRgdId"), lit(null).cast("int").as("detailRgdId"))
        .unionByName(r.assocInserts.select(lit("assoc_insert").as("cls"),
          lit(null).cast("long").as("key"), col("masterRgdId"), col("detailRgdId")))
        .unionByName(r.detachKeys.select(lit("detach").as("cls"),
          lit(null).cast("long").as("key"), col("masterRgdId"), col("detailRgdId")))
    }),

    // D2/S6: association symmetry repair - species-pair scope via the
    // object registry, reverse-ortholog exclusion, both-queued /
    // detach / mirror-insert branch table
    "q_d2_repair" -> ((s, dir) => {
      val r = WeakSync.repairAssocSymmetry(TpchShapes.d2AssocState(s, dir),
        TpchShapes.d2Orthologs(s, dir), TpchShapes.resolveRgdIds(s, dir),
        TpchShapes.d2Deletes(s, dir), 3, TpchShapes.runTs)
      r.assocInserts.select(lit("insert").as("cls"), col("masterRgdId"), col("detailRgdId"))
        .unionByName(r.detachKeys.select(lit("detach").as("cls"),
          col("masterRgdId"), col("detailRgdId")))
    }),

    // S4 downstream: HomoloGene group flow - resolve member entries
    // (exactly-one-active-gene rule: G1/G2 resolve to TWO customers
    // each and drop; G11 resolves to none), then synthesize ALL
    // ordered distinct-entry pairs per group - reference semantics
    // include same-species pairs and duplicate-entry self-pairs (the
    // dup flag below keeps up to two copies of a member line). Group
    // fan-out stays at real-HomoloGene scale (a handful to tens of
    // entries) so the within-group pair join is bounded.
    "q_s4_homologene" -> ((s, dir) => homologenePairs(s, dir)),

    // S4 sync: the group diff against prior HOMOLOGENE-sourced state -
    // multiset match on (group, src, dest) with lowest keys matched
    // first, surplus state deleting, surplus incoming inserting with
    // the direct/transitive type rule; non-HOMOLOGENE rows (RGD, HGNC)
    // never participate (HomologeneLoader.qcGroups + loadGroups,
    // getOrthologsForGroupId's source filter)
    "q_s4_homologene_sync" -> ((s, dir) => {
      val inRgd = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("key"),
        (col("o_orderkey") % 8000).cast("int").as("homologeneGroupId"),
        (col("o_custkey") % 13 + 1).cast("int").as("srcRgdId"),
        (col("o_orderkey") % 13 + 1).cast("int").as("destRgdId"),
        lit(1).as("srcSpeciesTypeKey"), lit(3).as("destSpeciesTypeKey"),
        when(col("o_orderkey") % 9 === 0, "RGD")
          .when(col("o_orderkey") % 9 === 1, "HGNC")
          .otherwise("HOMOLOGENE").as("xrefDataSrc"))
      val (ins, matched, dels) =
        graft.operators.Homologene.syncGroups(homologenePairs(s, dir), inRgd)
      ins.select(lit("insert").as("bucket"), col("homologeneGroupId"),
          col("srcRgdId"), col("destRgdId"),
          lit(null).cast("long").as("key"),
          col("orthologTypeKey").cast("int").as("otk"))
        .unionByName(matched.select(lit("match").as("bucket"),
          col("homologeneGroupId"), col("srcRgdId"), col("destRgdId"),
          col("key"), lit(null).cast("int").as("otk")))
        .unionByName(dels.select(lit("delete").as("bucket"),
          col("homologeneGroupId"), col("srcRgdId"), col("destRgdId"),
          col("key"), lit(null).cast("int").as("otk")))
    }),

    // ---- events: per-entity aggregation (A2/A5 shape on the stream table) ----
    "q_e_user_stats" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("sum_value_cents"),
          countDistinct(col("event_type")).as("n_types"))),

    // trailing-window features per user (10-min + 1-h horizons): one
    // shuffle on user_id, RANGE frames tie-safe, ROWS features under a
    // total (t, event_id) order
    "q_e_rolling" -> ((s, dir) =>
      Features.rollingFeatures(
        t(s, dir, "events")
          .withColumn("t", pmod(col("event_id"), lit(86400L))))
        .select(col("event_id"), col("user_id"), col("t"),
          col("n_600s"), col("min_v_600s"), col("max_v_600s"),
          col("n_3600s"), col("gap_s"), col("seq_n").cast("long").as("seq_n"))),

    // fuzzy identifier QC: all customer-name pairs within edit distance
    // 1, deletion-neighborhood blocked (complete), exact-verified
    "q_fuzzy_pairs" -> ((s, dir) =>
      // customer is a single-row-group file too: the deletion-
      // neighborhood explode (heavy per-row map work) parallelizes
      // past the one scan task exactly like tDocsPar's documents read
      graft.operators.FuzzyJoin.levenshteinPairs(
        graft.llm.Spread.ifNarrow(t(s, dir, "customer"), "c_custkey"),
        idCol = "c_custkey", strCol = "c_name")),

    // per-user p95 outlier flags (exact percentile; approx variant is
    // the documented scale path)
    "q_e_outliers" -> ((s, dir) =>
      Features.withOutlierFlags(t(s, dir, "events"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("p_q"), col("is_outlier"))),

    // event-time sessionization (session_window, gap = 15 min); the same
    // plan runs streaming with a watermark (EventStream.sessionStats,
    // StreamingSpec). Event time derives from event_id as in
    // q_stream_windowed; the double sum is dropped from the projection
    // (order-dependent cross-engine noise)
    "q_e_sessions" -> ((s, dir) =>
      graft.streaming.EventStream.sessionStats(
        t(s, dir, "events")
          .withColumn("ts", timestamp_seconds(pmod(col("event_id"), lit(86400L)))),
        gap = "15 minutes")
        .select(col("sess_start_s"), col("sess_end_s"), col("user_id"),
          col("n_events"))),

    // as-of join (the temporal operator Spark lacks natively): each
    // click gets the latest view at-or-before it per user, via the
    // union + running-last plan in TemporalJoins (one shuffle, no join)
    "q_j_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_s", pmod(col("event_id"), lit(86400L)))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_s"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_s"),
          col("event_id").as("view_event_id"))
      TemporalJoins.asofJoin(clicks, views, Seq("user_id"), "ts_s", "ts_s",
        Seq("view_event_id"), tiebreak = "view_event_id")
        .select(col("event_id"), col("user_id"), col("ts_s"),
          col("view_event_id"))
    }),

    // bucketed range join: (click, view) pairs with the click 0-600s
    // after the view - time-quantized equi-join, no BroadcastNestedLoop
    "q_j_range" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_s", pmod(col("event_id"), lit(86400L)))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_s").as("click_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts_s").as("view_ts"))
      TemporalJoins.rangeJoinBucketed(clicks, views, Seq("user_id"),
        "click_ts", "view_ts", 0L, 600L)
        .select(col("click_id"), col("view_id"),
          (col("click_ts") - col("view_ts")).as("delta_s"))
    }),

    // ---- LLM-pipeline operators over documents/embeddings ----
    "q_d_exact_dedup" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"))),

    // EXACT n-gram Jaccard pairs via the shingle inverted index (the
    // deterministic, LSH-free near-dup path; df-cut mirrored in the
    // oracle)
    "q_d_jaccard_exact" -> ((s, dir) =>
      Dedup.jaccardPairsExact(t(s, dir, "documents"), threshold = 0.5,
        maxDf = 400)),

    // corpus vocabulary top-k under a TOTAL order (count desc, term asc)
    "q_t_vocab" -> ((s, dir) =>
      TextAnalysis.topTerms(t(s, dir, "documents"), 20)),

    // per-document top term by (tf desc, df asc, term asc) - the
    // integer-exact TF-IDF argmax
    "q_t_top_terms" -> ((s, dir) =>
      TextAnalysis.topTermPerDoc(t(s, dir, "documents"))),

    // OOV rate vs the corpus' own top-10 vocabulary (broadcast join)
    "q_t_oov" -> ((s, dir) =>
      TextAnalysis.withOovRate(t(s, dir, "documents"), vocabSize = 10)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("oov_rate"))),

    // C4/Gopher-style composite quality filter: keep flag + first
    // failing rule
    "q_t_filter" -> ((s, dir) =>
      TextAnalysis.withQualityFilter(t(s, dir, "documents"))
        .select(col("doc_id"), col("keep"), col("drop_reason"))),

    // deterministic per-source down-sampling (data mixing)
    "q_sample_stratified" -> ((s, dir) =>
      graft.llm.Splitting.sampleStratified(t(s, dir, "documents"),
        rates = Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0,
          "src3" -> 1.0), defaultRate = 0.75)
        .select(col("doc_id"), col("source"), col("sample_bucket"),
          col("kept"))),

    // temperature resampling (alpha=0.5) over a deliberately SKEWED
    // derived stratum (~70/20/10) - the fixture sources are uniform, so
    // sampling on them would make every rate exactly 1.0 and the
    // counts->rates->cutoff chain would never be exercised by the gate
    "q_sample_temperature" -> ((s, dir) =>
      graft.llm.Splitting.temperatureSample(
        t(s, dir, "documents").withColumn("stratum",
          when(pmod(col("doc_id"), lit(10)) < 7, "big")
            .when(pmod(col("doc_id"), lit(10)) < 9, "mid")
            .otherwise("small")),
        alpha = 0.5, strataCol = "stratum")
        .select(col("doc_id"), col("stratum"), col("kept"))),

    // greedy token-budget selection: best documents by stopword-ratio
    // quality score until 10k BPE-ish tokens are spent; the global
    // greedy order runs through the sharded prefix sum (no single-task
    // window), the straddling doc is kept (cum_before < budget)
    "q_sample_token_budget" -> ((s, dir) => {
      // tDocsPar: the regex-heavy scoring would serialize through the
      // one scan task (measured: the 30x slope rose to ~0.9 purely
      // from this)
      val docs = tDocsPar(s, dir)
      val scored = TextAnalysis.withQualityFeatures(docs)
        .select(col("doc_id"),
          TextAnalysis.tokenCountBpeIsh(col("text")).as("n_tokens"),
          col("stopword_ratio").as("score"))
      graft.llm.Splitting.tokenBudgetSelect(scored, budget = 10000L,
        scoreCol = "score", tokenCol = "n_tokens")
    }),

    // PER-STRATUM token budgets - the data-mixing recipe ("2000 src0
    // tokens, 1000 src1, 500 src2, 300 everything else"): one sharded
    // prefix-sum pass keyed on the source, budget cut by a literal
    // when-chain; named budgets, the default fallback, and the greedy
    // straddler rule all under the hash gate
    "q_sample_budget_stratum" -> ((s, dir) => {
      // single-row-group source: parallelize the scoring map stage
      // explicitly (see q_sample_token_budget)
      val docs = tDocsPar(s, dir)
      val scored = TextAnalysis.withQualityFeatures(docs)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCountBpeIsh(col("text")).as("n_tokens"),
          col("stopword_ratio").as("score"))
      graft.llm.Splitting.tokenBudgetSelectPerStratum(scored,
        budgets = Map("src0" -> 2000L, "src1" -> 1000L, "src2" -> 500L),
        scoreCol = "score", tokenCol = "n_tokens", strataCol = "source",
        defaultBudget = 300L)
    }),

    // explicit target-weight mixture over the same skewed stratum:
    // big targets 30%, small 70%, mid is OUT of the recipe (weight 0 ->
    // dropped) - exercises the keep-all sentinel, a fractional cutoff,
    // and the zero-drop path in one query
    "q_sample_mixture" -> ((s, dir) =>
      graft.llm.Splitting.mixtureSample(
        t(s, dir, "documents").withColumn("stratum",
          when(pmod(col("doc_id"), lit(10)) < 7, "big")
            .when(pmod(col("doc_id"), lit(10)) < 9, "mid")
            .otherwise("small")),
        weights = Map("big" -> 0.3, "small" -> 0.7),
        strataCol = "stratum")
        .select(col("doc_id"), col("stratum"), col("kept"))),

    // repetition/upsampling mixture over the same recipe: small's 70%
    // target sits far above its 10% natural share -> integer copies
    // (floor(rate) + hash-fractional extra); big is the keep-once
    // reference, mid is out of recipe (0 copies)
    "q_sample_mixture_up" -> ((s, dir) =>
      graft.llm.Splitting.mixtureRepeat(
        t(s, dir, "documents").withColumn("stratum",
          when(pmod(col("doc_id"), lit(10)) < 7, "big")
            .when(pmod(col("doc_id"), lit(10)) < 9, "mid")
            .otherwise("small")),
        weights = Map("big" -> 0.3, "small" -> 0.7),
        strataCol = "stratum")
        .select(col("doc_id"), col("stratum"), col("copies"))),

    // the upsampling mixture REALIZED: one physical row per copy,
    // bounded explode behind the load-bearing copies>0 filter
    "q_sample_mixture_real" -> ((s, dir) =>
      graft.llm.Splitting.realizeCopies(
        graft.llm.Splitting.mixtureRepeat(
          t(s, dir, "documents").withColumn("stratum",
            when(pmod(col("doc_id"), lit(10)) < 7, "big")
              .when(pmod(col("doc_id"), lit(10)) < 9, "mid")
              .otherwise("small")),
          weights = Map("big" -> 0.3, "small" -> 0.7),
          strataCol = "stratum"))
        .select(col("doc_id"), col("stratum"), col("copy_idx"))),

    // deterministic training-order shuffle: content-hash shard + rank
    // within shard - a reproducible permutation with no global sort
    "q_shuffle_order" -> ((s, dir) =>
      graft.llm.Splitting.shuffleOrder(t(s, dir, "documents"))
        .select(col("doc_id"), col("shard"), col("pos"))),

    // per-source log2 token-length histogram (sequence-budget planning)
    "q_t_length_hist" -> ((s, dir) =>
      TextAnalysis.lengthHistogram(t(s, dir, "documents"))),

    // token-budget sequence packing: next-fit bin by cumulative offset
    "q_pack_bins" -> ((s, dir) => {
      // project BEFORE packing: cumBefore pins one materialization of
      // its input, so the pinned frame must be the narrow (id, stratum,
      // tokens) projection, not the full corpus row with text
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.wordCount(col("text")).as("n_tokens"))
      graft.llm.Packing.assignBins(docs, budgetTokens = 512)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("pack_bin"))
    }),

    // concat-and-chunk packing: one (doc, chunk) span row per fixed
    // 256-token training sequence the doc touches; docs straddle cuts
    "q_pack_chunks" -> ((s, dir) => {
      // narrow projection before packing (see q_pack_bins)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.wordCount(col("text")).as("n_tokens"))
      graft.llm.Packing.assignChunks(docs, seqLen = 256)
        .select(col("doc_id"), col("source"), col("chunk_id"),
          col("begin_off"), col("end_off"))
    }),

    // random-projection reduction + scalar quantization, flattened to
    // (vec_id, dim_idx, grid cell) rows; DuckDB recomputes from the
    // same literal planes
    "q_emb_project" -> ((s, dir) => {
      val planes = Ann.hyperplanes(64, 8, seed = 19L)
      Ann.randomProject(t(s, dir, "embeddings"), planes)
        .select(col("vec_id"),
          posexplode(Ann.quantize(col("projected"), 1000.0)))
        .withColumnRenamed("pos", "dim_idx").withColumnRenamed("col", "q")
    }),

    "q_d_norm_dedup" -> ((s, dir) =>
      Dedup.normalized(t(s, dir, "documents"))),

    // portable md5-permutation MinHash-LSH with exact-Jaccard verify -
    // the DuckDB-checkable twin of the xxhash64 fast path
    "q_d_minhash_md5" -> ((s, dir) => minhashMd5PairsShared(s, dir)),

    // portable md5-bit SimHash with chunk blocking + hamming verify -
    // the DuckDB-checkable twin of the xxhash64 SimHash fast path
    "q_d_simhash_md5" -> ((s, dir) =>
      Dedup.simhashMd5Pairs(t(s, dir, "documents"))),

    // the COMPLETE near-dup dedup flow under one oracle: md5-minhash
    // pairs -> connected components -> keep min-id per cluster
    "q_d_dedup_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.nearDupSurvivors(docs, minhashMd5PairsShared(s, dir))
        .select(col("doc_id"), col("source"))
    }),

    // quality-aware cluster pick: each near-dup component keeps its
    // best-quality member (q_t_quality's score formula; ties -> min
    // id) instead of the min-id convention; reuses the session-memoized
    // md5-minhash pair frame
    "q_d_quality_pick" -> ((s, dir) => {
      val scored = TextAnalysis.withQualityFeatures(t(s, dir, "documents"))
        .select(col("doc_id"), col("quality_score"))
      Dedup.nearDupClusterPick(scored, minhashMd5PairsShared(s, dir),
        "quality_score")
    }),

    // leakage-safe split: whole near-dup clusters share one train/val/
    // test assignment (keyed by the cluster's min content hash); reuses
    // the session-memoized md5-minhash pair frame
    "q_split_leakage_safe" -> ((s, dir) =>
      graft.llm.Splitting.leakageSafeSplit(
        t(s, dir, "documents"), minhashMd5PairsShared(s, dir))
        .select(col("doc_id"), col("source"), col("split_bucket"),
          col("split"))),

    // sub-document boilerplate removal: 10-word chunks shared by >=2
    // docs are deleted, survivors re-joined in order
    "q_d_boilerplate" -> ((s, dir) =>
      Dedup.removeBoilerplateChunks(t(s, dir, "documents"),
        chunkWords = 10, minDocs = 2)),

    // incremental dedup of the crawl (src != src0) against a reference
    // corpus (src0 stands in for the existing training set)
    "q_d_against_ref" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupAgainstReference(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
        .select(col("doc_id"), col("source"), col("norm_md5"))
    }),

    // per-source corpus health report (dominant drop reason under a
    // total order; integer aggregates + one int/int division)
    "q_t_source_report" -> ((s, dir) =>
      TextAnalysis.sourceQualityReport(t(s, dir, "documents"))),

    // end-to-end LLM data prep: scrub -> quality filter -> normalized
    // dedup -> split -> stratified sample (src1 at 50%), DuckDB-oracled
    // end to end - every stage is a pure function of content
    "q_llm_prep_e2e" -> ((s, dir) =>
      graft.llm.PrepPipeline.run(t(s, dir, "documents"),
        rates = Map("src1" -> 0.5))),

    // token-commonness: mean corpus document-frequency per doc
    "q_t_commonness" -> ((s, dir) =>
      TextAnalysis.withCommonnessScore(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("sum_df"),
          col("mean_df"))),

    // CCNet-style model-based quality: train an add-one bigram LM on
    // the corpus, score every doc by avg negative log-likelihood /
    // perplexity (exact integer micro-nat sums; see LmScore scaladoc)
    "q_t_lm_ppl" -> ((s, dir) =>
      graft.llm.LmScore.bigramLmScores(t(s, dir, "documents"))),

    // DSIR importance weighting: hashed-unigram log-likelihood ratio of
    // a target domain (source='src0') vs the raw corpus, per doc
    "q_t_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.LmScore.dsirScores(docs, docs.filter(col("source") === "src0"))
    }),

    // per-source unigram KL divergence from the corpus mixture - the
    // distribution-drift dashboard a data-mixing decision reads
    "q_t_source_kl" -> ((s, dir) =>
      graft.llm.LmScore.sourceKlReport(t(s, dir, "documents"))),

    // GPT-3/LLaMA-style quality classifier: logistic regression on
    // hashed bag-of-words (positive class = src0), 2 exact-integer
    // gradient steps, then score/keep per doc; DuckDB replays the
    // whole training loop as unrolled CTE stages
    "q_t_logreg" -> ((s, dir) =>
      graft.llm.LmScore.logregQualityScores(tDocsPar(s, dir),
        col("source") === "src0", steps = 2)),

    // HyperLogLog distinct-token registers per source, collapsed to one
    // exact-integer row per stratum (m=1024, md5 buckets; the mergeable
    // sketch that replaces exact count(DISTINCT) at corpus scale)
    "q_sk_hll" -> ((s, dir) =>
      graft.llm.Sketches.hllReport(
        t(s, dir, "documents").select(col("source"),
          explode(TextAnalysis.normalizedWords(col("text"))).as("w")),
        "source", col("w"), p = 10)),

    // Count-Min sketch acceptance check: estimated vs true counts for
    // the exact top-20 terms (4x512 md5-seeded grid; est >= true, gap =
    // collision overestimate)
    "q_sk_cms" -> ((s, dir) =>
      graft.llm.Sketches.cmsHeavyHitterCheck(
        t(s, dir, "documents").select(
          explode(TextAnalysis.normalizedWords(col("text"))).as("w")),
        col("w"), k = 20, depth = 4, width = 512)),

    // per-source top-10 distinctive terms by tf-idf (micro-nat idf,
    // exact integer scores, two-level sharded top-k)
    "q_t_tfidf" -> ((s, dir) =>
      graft.llm.Sketches.tfidfTopTerms(t(s, dir, "documents"), k = 10)),

    // hashing-vectorizer document features: 64-dim hashed tf-idf,
    // milli-nat integer weights, CSV-joined for the compare
    "q_t_hash_vectors" -> ((s, dir) =>
      graft.llm.Sketches.hashedTfidfVectors(t(s, dir, "documents"))),

    // probe-set text similarity over those features: exact integer
    // sparse dot products, two-level shard top-5, self excluded
    "q_t_text_knn" -> ((s, dir) =>
      graft.llm.Sketches.textKnnByTfidf(t(s, dir, "documents"),
        col("doc_id") < 20, k = 5)),

    // top-20 bigram collocations by PMI over the bigram-event space
    // (micro-nat quantized, TakeOrdered top-k - no global window)
    "q_t_pmi" -> ((s, dir) =>
      graft.llm.Sketches.pmiCollocations(t(s, dir, "documents"),
        minCount = 5L, k = 20)),

    // bottom-k sketch containment pairs: the asymmetric near-dup signal
    // (short doc embedded in long doc) symmetric Jaccard misses;
    // estimate-only from k-sized sketches, never a shingle-set join
    "q_d_containment" -> ((s, dir) =>
      graft.llm.Dedup.bottomKContainmentPairs(t(s, dir, "documents"),
        k = 12, shingleN = 3, blockHashes = 3, minContainment = 0.5)),

    // cross-source duplicate-overlap matrix on the normalized content
    // hash: which sources re-crawl each other + within-source dup count
    "q_d_source_overlap" -> ((s, dir) =>
      graft.llm.Dedup.sourceOverlapMatrix(t(s, dir, "documents"))),

    // MOSS winnowing fingerprints: leftmost-min of each w-window of
    // word-4-gram md5 hashes; in-array HOFs, no shuffle
    "q_t_winnow" -> ((s, dir) =>
      graft.llm.Dedup.winnowFingerprints(t(s, dir, "documents"),
        k = 4, w = 4)),

    // shared-winnow-fingerprint pairs via the postings join with a
    // boilerplate df-cut - position-robust substring near-dup
    "q_d_winnow_pairs" -> ((s, dir) =>
      graft.llm.Dedup.winnowPairs(t(s, dir, "documents"),
        k = 4, w = 4, minShared = 2, maxDf = 100)),

    // token-window chunking with overlap (64/8): the embedding /
    // retrieval prep slicing; map-only explode, no shuffle
    "q_t_chunks" -> ((s, dir) =>
      graft.llm.Chunking.chunkDocuments(t(s, dir, "documents"),
        chunkSize = 64, overlap = 8)),

    // curation funnel: per-(source, first-failing-stage) doc and token
    // accounting over the quality filter - "where did my corpus go"
    "q_t_funnel" -> ((s, dir) =>
      TextAnalysis.curationFunnel(t(s, dir, "documents"))),

    // loss-aware mixture reweighting: per-source excess NLL under the
    // corpus bigram LM, exponentially tilted into ppm mixture weights
    "q_t_loss_reweight" -> ((s, dir) =>
      graft.llm.LmScore.lossReweightReport(tDocsPar(s, dir))),

    // per-source language mixture from the langid classifier
    "q_t_lang_report" -> ((s, dir) =>
      TextAnalysis.sourceLangReport(t(s, dir, "documents"))),

    // corpus bigram top-k under a total order (count desc, bigram asc)
    "q_t_bigrams" -> ((s, dir) =>
      TextAnalysis.topBigrams(t(s, dir, "documents"), 20)),

    // BPE tokenizer-training step: adjacent char-pair counts over the
    // word-frequency table, top-k merge candidates under a total order
    "q_t_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(t(s, dir, "documents"), 100)),

    // tokenizer training, the FULL loop: 6 BPE rounds (re-segment under
    // learned merges -> recount pairs -> adopt the argmax); the result
    // is the learned merge table a tokenizer ships (memo-shared with
    // q_t_bpe_encode - train once, encode under the trained model)
    "q_t_bpe_train" -> ((s, dir) => {
      import s.implicits._
      bpeMergesShared(s, dir).toDF("round", "left", "right", "n")
    }),

    // tokenizer APPLICATION: encode every document under the trained
    // merge table - per-doc token ids (csv for a cross-engine-stable
    // compare) + n_tokens, the train -> encode -> pack chain's middle
    "q_t_bpe_encode" -> ((s, dir) => {
      val merges = bpeMergesShared(s, dir).map { case (_, l, r, _) => (l, r) }
      TextAnalysis.bpeEncode(tDocsPar(s, dir), merges)
        .select(col("doc_id"), col("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")), ",")
            .as("token_csv"))
    }),

    // tokenizer application under an EXTERNAL-SIZED table: 83 literal
    // rules route through the native BpeSegment expression (the >64
    // scale path a shipped ~30k-rule tokenizer artifact needs); DuckDB
    // replays the same replace chain literally
    "q_t_bpe_encode_big" -> ((s, dir) =>
      TextAnalysis.bpeEncode(t(s, dir, "documents"), bigBpeMerges)
        .select(col("doc_id"), col("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")), ",")
            .as("token_csv"))),

    // BYTE-level BPE encode (GPT-2-class): regex pre-tokenization over
    // the raw text, UTF-8-byte seed symbols with total byte fallback,
    // ids fixed by the table alone (byte b = b, merge i = 256 + i) -
    // the apply path for a real shipped byte-level tokenizer artifact;
    // the native BpeSegment byte mode is the only per-word work
    "q_t_byte_bpe" -> ((s, dir) =>
      graft.llm.ByteBpe.encode(t(s, dir, "documents"), byteBpeMerges)
        .select(col("doc_id"), col("n_tokens"),
          array_join(transform(col("token_ids"), i => i.cast("string")), ",")
            .as("token_csv"))),

    // WordPiece (BERT-family) tokenizer application: greedy
    // longest-match-first against a literal ##-convention vocabulary,
    // whole-word [UNK] on any unmatched position; the native
    // WordpieceSegment expression is the only per-word work
    "q_t_wordpiece" -> ((s, dir) =>
      graft.llm.Wordpiece.encode(t(s, dir, "documents"), wordpieceVocab)),

    // unigram-LM (SentencePiece-family) tokenizer application: Viterbi
    // min-total-cost segmentation under a literal (piece, cost)
    // vocabulary with single-code-point unk fallback; the native
    // UnigramSegment expression is the only per-word work
    "q_t_unigram" -> ((s, dir) =>
      graft.llm.Unigram.encode(t(s, dir, "documents"), unigramVocab)),

    // unigram-LM training: substring-count seeding, quantized-ln
    // costs, EM-style segment/recount/prune rounds; only model-sized
    // vocabularies ever reach the driver
    "q_t_unigram_train" -> ((s, dir) =>
      graft.llm.Unigram.train(t(s, dir, "documents"), rounds = 2,
        maxPieceLen = 4, keepTop = 120)),

    // fill-in-the-middle training transform: deterministic md5-draw
    // apply/cuts/mode, middle moved behind sentinel tokens (PSM/SPM) -
    // map-only, no shuffle
    "q_t_fim" -> ((s, dir) =>
      graft.llm.Fim.fimTransform(t(s, dir, "documents"), rate = 0.5)),

    // byte-level BPE TRAINING over the byte-representative symbol
    // space: GPT-2-class pre-tokens, byte seeding, the shared
    // frequency-argmax loop - the corpus trains AND applies byte-level
    "q_t_byte_bpe_train" -> ((s, dir) =>
      // NOT tDocsPar (r17 A/B, same rejection as bpeMergesShared):
      // 1.55 -> 2.0 s solo - partial-agg fan-out beats map spread
      graft.llm.ByteBpe.train(t(s, dir, "documents"), rounds = 6)),

    // byte-level encode -> DISTRIBUTED decode round trip over the WHOLE
    // corpus: the oracle is simply the raw documents table, so any
    // byte lost or reordered anywhere in the tokenizer chain fails the
    // hash compare (total-coverage pre-tokenization + byte fallback
    // make decode(encode(text)) == text an exact identity)
    "q_t_byte_roundtrip" -> ((s, dir) => {
      val enc = graft.llm.ByteBpe.encode(t(s, dir, "documents"), byteBpeMerges)
      graft.llm.ByteBpe.decode(enc, byteBpeMerges)
        .select(col("doc_id"), col("text_decoded").as("text"))
    }),

    // the tokenizer chain END-TO-END: train (memoized) -> encode ->
    // concat-and-chunk pack on the REAL BPE token counts - the
    // pretraining sequence layout a data pipeline actually ships
    "q_pack_bpe" -> ((s, dir) => {
      val merges = bpeMergesShared(s, dir).map { case (_, l, r, _) => (l, r) }
      val docs = tDocsPar(s, dir)
      // count-only encode path: packing needs lengths, not id arrays
      val enc = TextAnalysis.bpeTokenCounts(docs, merges)
      graft.llm.Packing.assignChunks(
          docs.select(col("doc_id"), col("source")).join(enc, Seq("doc_id")),
          seqLen = 256)
        .select(col("doc_id"), col("source"), col("chunk_id"),
          col("begin_off"), col("end_off"))
    }),

    // pack -> partitioned-export ROUND TRIP: assignChunks on real BPE
    // counts written via Export.writePartitioned (salted repartition:
    // bounded files AND parallel writers) then read back - the registry
    // gate for the write path; DuckDB recomputes the chunk layout
    // directly, so any row lost/duplicated/mangled by the export fails
    // the compare. File-count bounds are pinned in SkewSpec.
    "q_pack_export" -> ((s, dir) => {
      val outDir = graft.pipeline.Memo.once(s, s"pack_export:$dir") {
        val merges = bpeMergesShared(s, dir).map { case (_, l, r, _) => (l, r) }
        val docs = t(s, dir, "documents")
        // tDocsPar: the count-encode tokenize is the same single-file
        // map stage q_pack_bpe already spreads (guide §2.5 input skew);
        // chunk assignment is partitioning-invariant (Packing scaladoc)
        val enc = TextAnalysis.bpeTokenCounts(tDocsPar(s, dir), merges)
        val chunks = graft.llm.Packing.assignChunks(
            docs.select(col("doc_id"), col("source")).join(enc, Seq("doc_id")),
            seqLen = 512)
          .select(col("doc_id"), col("source"), col("chunk_id"),
            col("begin_off"), col("end_off"))
        val out = scratchDir("graft_pack_export").toString
        graft.llm.Export.writePartitioned(chunks, out,
          partitionCols = Seq("source"), sortCol = "doc_id",
          targetRowsPerFile = 200L)
        out
      }
      s.read.parquet(outDir)
        .select(col("doc_id"), col("source"), col("chunk_id"),
          col("begin_off"), col("end_off"))
    }),

    // substring-level dedup signal (Lee et al. ACL'22): word 5-grams
    // repeated across >= 2 docs, merged into maximal per-doc spans
    "q_t_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedNgramSpans(tDocsPar(s, dir), n = 5, minDocFreq = 2)),

    // and the trim action: rebuild text from uncovered words
    "q_t_span_trim" -> ((s, dir) =>
      Dedup.trimRepeatedSpans(tDocsPar(s, dir), n = 5, minDocFreq = 2)),

    // MAXIMAL repeated spans (suffix-array substring-dedup semantics at
    // 6-gram resolution): step-1 chains of repeated grams, so every
    // 6-token window inside a span repeats - "any repeated span >= 6"
    "q_t_max_spans" -> ((s, dir) =>
      Dedup.maximalRepeatedSpans(tDocsPar(s, dir),
        minSpanLen = 6, minDocFreq = 2)),

    // the substring-dedup trim action under maximal-span semantics
    "q_t_max_span_trim" -> ((s, dir) =>
      Dedup.trimMaximalSpans(tDocsPar(s, dir),
        minSpanLen = 6, minDocFreq = 2)),

    // best-5-docs-per-source curation by quality score (total order,
    // per-stratum window rank - no global sort)
    "q_t_curate" -> ((s, dir) =>
      TextAnalysis.curateTopK(t(s, dir, "documents"), 5)),

    "q_t_quality" -> ((s, dir) =>
      TextAnalysis.withQualityFeatures(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), col("punct_ratio"),
          col("digit_ratio"), col("stopword_ratio"))),

    "q_t_langid" -> ((s, dir) =>
      TextAnalysis.withLangId(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang_pred"),
          col("lang_score").cast("int").as("lang_score"))),

    "q_t_fingerprint" -> ((s, dir) =>
      TextAnalysis.withFingerprint(t(s, dir, "documents"))
        .select(col("doc_id"), col("content_md5"))),

    // Gopher-style repetition/boilerplate signals; the ratios are exact
    // small-integer divisions, bit-identical across engines
    "q_t_repetition" -> ((s, dir) =>
      TextAnalysis.withRepetitionSignals(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_lines"), col("dup_line_ratio"),
          col("dup_word_ratio"), col("bullet_line_ratio"),
          col("ellipsis_line_ratio"))),

    // PII/URL scrub: typed placeholders + per-kind counts
    "q_t_scrub" -> ((s, dir) =>
      TextAnalysis.withScrubbedText(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_urls"), col("n_emails"),
          col("n_ips"), col("scrubbed"))),

    // deterministic content-hash train/val/test assignment
    "q_split_hash" -> ((s, dir) =>
      graft.llm.Splitting.assignSplit(t(s, dir, "documents"))
        .select(col("doc_id"), col("split_bucket"), col("split"))),

    // column profiling, distributed-EXACT path (integer-valued columns
    // only: quartile interpolation at dyadic fractions of integers is
    // exact in double, so the cross-engine compare is bit-stable).
    // summarizeDistributed replaces summarize's single-reducer
    // value-map `percentile` buffer with a value histogram + sharded
    // prefix sum + rank-neighbor lookup - same rows, scale-safe plan
    "q_profile_stats" -> ((s, dir) =>
      graft.operators.Profile.summarizeDistributed(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_linenumber", "l_partkey"))),

    // benchmark-contamination screen: every 97th doc plays the held-out
    // eval set; unhashed shingles so DuckDB recomputes the join (the
    // hashed variant is the scale path, pinned equal in LlmSpec)
    "q_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Contamination.ngramOverlap(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0)
          .withColumnRenamed("doc_id", "bench_id"),
        hashed = false)
    }),

    // ONLINE decontamination: the same ngramOverlap plan as
    // q_contamination with the training side a real file-source STREAM
    // and the benchmark side the static batch frame - the stream-static
    // broadcast join Structured Streaming admission screens use (docs
    // screened as they are ingested, the eval set fixed). Complete-mode
    // memory sink is the harness's returnable-DataFrame convention
    // (q_stream_windowed); at scale this runs in update mode to a keyed
    // sink. Oracle: identical SQL to q_contamination - the streamed
    // incremental aggregation must land on exactly the batch answer.
    "q_stream_contam" -> ((s, dir) => {
      val name = "stream_contam_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .filter(col("doc_id") % 97 =!= 0)
        .repartition(shufflePartitions(s), col("doc_id"))
      val bench = t(s, dir, "documents")
        .filter(col("doc_id") % 97 === 0)
        .withColumnRenamed("doc_id", "bench_id")
      // complete-mode re-emit: the trailing no-data batch recomputes
      // the identical table (no watermark moves state) - skip it, same
      // as q_stream_dedup (withoutNoDataBatches scaladoc)
      withoutNoDataBatches(s) {
        val q = graft.llm.Contamination.ngramOverlap(src, bench, hashed = false)
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(name)
    }),

    "q_t_tokens" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.wordCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.tokenCountBpeIsh(col("text")).as("n_bpe_tokens"))),

    // The three registry pair queries are keyed on md5 draws so DuckDB
    // adjudicates them end-to-end (zero no_oracle rows); each uses a
    // DIFFERENT parameterization/topology than the q_d_minhash_md5 /
    // q_d_simhash_md5 twins. The xxhash64 fast paths (minhashLshPairs,
    // simhashPairs, ngramJaccardPairs) remain the production defaults,
    // pinned by brute-force ground truth in LlmSpec.

    // md5 minhash at a STRICTER banding (4 bands x 4 rows vs the twin's
    // 8x2 - band collision now needs 4 consecutive equal positions) over
    // word BIGRAM shingles
    "q_d_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashMd5Pairs(tDocsPar(s, dir), k = 16, bands = 4,
        shingleN = 2, threshold = 0.6)),

    // maxHamming=2: the 3-chunk (22/21/21) pigeonhole instance - the
    // radius-derived chunking the fixed 4x16 twin cannot exercise
    "q_d_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashMd5Pairs(t(s, dir, "documents"), maxHamming = 2)
        .select(col("id_a"), col("id_b"), col("hamming"))),

    // full two-stage near-dup: banded candidates -> integer signature-
    // agreement estimate filter (>= 7 of 16 positions) -> exact shingle
    // Jaccard verification
    "q_d_ngram_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairsMd5(tDocsPar(s, dir), shingleN = 3,
        threshold = 0.6, estMinAgree = 7)
        .select(col("id_a"), col("id_b"), col("jaccard"))),

    // connected components over a pair graph (the keep-one-per-cluster
    // step after near-dup pair generation): star clusters of 10 ids
    // chained into runs of up to 5 stars - multi-hop label merging with
    // known bounded diameter, recomputed by DuckDB via unrolled min-label
    // propagation
    "q_d_components" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val x = col("o_orderkey") % 5000
      val hub = x - (x % 10)
      val star = o.filter(x % 10 =!= 0)
        .select(hub.cast("long").as("id_a"), x.cast("long").as("id_b"))
      val chain = o.filter(x % 10 === 3 && hub % 50 =!= 40)
        .select(hub.cast("long").as("id_a"), (hub + 10).cast("long").as("id_b"))
      Dedup.connectedComponents(star.unionByName(chain).distinct())
    }),

    "q_ann_bruteforce" -> ((s, dir) => {
      val dim = 64
      val query = Ann.hyperplanes(dim, 1, seed = 7L).head
      Ann.cosineTopK(t(s, dir, "embeddings"), query, 10)
        .select(col("vec_id"))
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val dim = 64
      val query = Ann.hyperplanes(dim, 1, seed = 7L).head
      Ann.annTopK(t(s, dir, "embeddings"), query, 10, dim, bits = 6)
        .select(col("vec_id"))
    }),

    "q_ann_ivf_topk" -> ((s, dir) => {
      val dim = 64
      val query = Ann.hyperplanes(dim, 1, seed = 7L).head
      val centroids = Ann.hyperplanes(dim, 8, seed = 11L)
      Ann.ivfTopK(t(s, dir, "embeddings"), query, 10, centroids, nprobe = 2)
        .select(col("vec_id"))
    }),

    // batch KNN join: top-5 corpus neighbors for each of the first 5
    // vectors, IVF-celled with per-row probe selection, self excluded
    "q_ann_knn_join" -> ((s, dir) => {
      val centroids = Ann.hyperplanes(64, 8, seed = 11L)
      val emb = t(s, dir, "embeddings")
      Ann.knnJoin(
        emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "q_id"),
        emb, k = 5, centroids, nprobe = 2, excludeSelf = true)
    }),

    "q_ann_neardup" -> ((s, dir) =>
      Ann.cosineNearDupPairs(t(s, dir, "embeddings"), dim = 64,
        threshold = 0.4, bits = 4)
        .select(col("id_a"), col("id_b"))),

    // ANN self-evaluation: per-query recall@5 of the nprobe=2 IVF probe
    // search against brute-force exact top-5 (queries broadcast, self
    // excluded) - the acceptance metric that sizes nprobe/centroids
    "q_ann_recall" -> ((s, dir) => {
      val centroids = Ann.hyperplanes(64, 8, seed = 11L)
      val emb = t(s, dir, "embeddings")
      Ann.recallAtK(
        emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "q_id"),
        emb, k = 5, centroids, nprobe = 2, excludeSelf = true)
    }),

    // multimodal plumbing: asset metadata projection (binary column
    // pruned from the scan) and video frame sampling; the synthetic
    // metadata is arithmetic over (doc_id, length) so DuckDB recomputes
    // both queries independently
    "q_mm_assets_meta" -> ((s, dir) =>
      graft.llm.Multimodal.metadataOnly(
        graft.llm.Multimodal.syntheticAssets(t(s, dir, "documents"), "doc_id", "text"))),

    "q_mm_frames" -> ((s, dir) =>
      graft.llm.Multimodal.sampleFrames(
        graft.llm.Multimodal.syntheticAssets(t(s, dir, "documents"), "doc_id", "text"),
        everyMs = 60000)
        .select(col("asset_id"), col("frame_idx"), col("frame_ts_ms"))),

    // multimodal NEAR-DUP: portable integer pHash over the (stubbed)
    // decode features, SimHash-style pigeonhole chunk blocking at
    // Hamming <= 2, xor-popcount verify - bucket pairs only, no cross
    // join at any scale. Every 50th document re-enters byte-identical
    // under asset_id = -doc_id - 1: the stub features are hash-derived
    // (not locality-sensitive), so these planted Hamming-0 duplicates
    // are what keeps the MATCHING path non-vacuous - all corpus texts
    // are distinct and uncorrelated 64-bit hashes land within
    // Hamming <= 2 only with negligible probability (by design).
    "q_mm_phash_pairs" -> ((s, dir) => {
      // planted ids live at -doc_id - 1: PROVABLY disjoint from the
      // non-negative doc_id domain at every scale factor (an additive
      // offset like +1e6 silently aliases real assets once doc_ids
      // outgrow it - the ScaleGen 10x/30x corpora already do)
      val docs = tDocsPar(s, dir)
      val base = graft.llm.Multimodal.syntheticAssets(docs, "doc_id", "text")
      val planted = graft.llm.Multimodal.syntheticAssets(
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")
        .withColumn("asset_id", -col("asset_id") - 1L)
      graft.llm.Multimodal.phashNearDupPairs(base.unionByName(planted),
        maxHamming = 2)
    }),

    // two-modality dedup funnel: asset-level (exact pHash group) vs
    // text-level (normMd5 group) survivorship per asset
    "q_mm_asset_dedup" -> ((s, dir) =>
      graft.llm.Multimodal.assetDedupVsText(
        graft.llm.Multimodal.syntheticAssets(tDocsPar(s, dir),
          "doc_id", "text"),
        tDocsPar(s, dir))),

    // REAL image codec, feature-verified end to end: render each doc a
    // 16x16 grayscale gradient PNG through the JDK encoder, DECODE it
    // back (javax.imageio - a genuine codec round trip, not the hash
    // stub), extract the 8x8 block-mean luma grid, threshold into the
    // pHash. The gradient's block means have an exact integer closed
    // form (2a*gx + 2b*gy + c + (a+b)/2), so DuckDB verifies decode +
    // feature extraction + hash arithmetic bit-for-bit without any
    // image library. Per-row map work only - no shuffle, no state.
    "q_mm_image_phash" -> ((s, dir) => {
      // single-row-group source: repartition before the per-row codec
      // work so encode/decode parallelizes (see q_sample_token_budget)
      val docs = tDocsPar(s, dir).select(
        col("doc_id").cast("long").as("asset_id"),
        (col("doc_id") % 64).cast("int").as("c"),
        (col("doc_id") % 7 + 1).cast("int").as("a"),
        (col("doc_id") % 5 + 1).cast("int").as("b"))
      val staged = docs
        .withColumn("bytes", graft.llm.Multimodal.grayImageBytes(
          col("c"), col("a"), col("b"), 16, 16, "png"))
        .withColumn("grid",
          graft.llm.Multimodal.imageLumaFeatures(col("bytes")))
      graft.llm.Multimodal.withPHashFromFeatureArray(staged, col("grid"))
        .withColumn("feat_sum", graft.llm.Multimodal.sumFeatures(col("grid")))
        .select(col("asset_id"), col("feat_sum"), col("phash"))
    }),

    // REAL-DECODE near-dup pairs: block-noise fixtures (diverse 64-bit
    // hashes, unlike the gradient whose pHash collapses to its
    // orientation) rendered as PNG; every 50th doc re-enters as a BMP
    // re-encode of the SAME pixels under asset_id = -doc_id - 1. The
    // planted cross-CODEC duplicates surface at Hamming 0 only if both
    // decoders recover identical pixels - byte-level the payloads
    // differ entirely. Same pigeonhole blocking as q_mm_phash_pairs.
    "q_mm_image_pairs" -> ((s, dir) => {
      // planted BMP twins at -doc_id - 1 (disjoint from real ids at
      // every scale factor; see q_mm_phash_pairs); repartitioned so the
      // per-row codec work parallelizes past the single-file scan task
      val docs = tDocsPar(s, dir)
      val base = docs.select(col("doc_id").cast("long").as("asset_id"),
        graft.llm.Multimodal.blockNoiseImageBytes(
          col("doc_id"), 16, 16, 2, "png").as("bytes"))
      val planted = docs.filter(col("doc_id") % 50 === 0)
        .select((-col("doc_id") - 1L).cast("long").as("asset_id"),
          graft.llm.Multimodal.blockNoiseImageBytes(
            col("doc_id"), 16, 16, 2, "bmp").as("bytes"))
      val hashed = graft.llm.Multimodal
        .withImagePHash(base.unionByName(planted))
        .select(col("asset_id"), col("phash"))
      graft.llm.Multimodal.phashPairsFromHashes(hashed, maxHamming = 2)
    }),

    // REAL audio codec, feature-verified end to end: render each doc
    // 1600 PCM16 samples (64 blocks x 25) as a WAV through the JDK
    // encoder, DECODE it back (javax.sound.sampled), extract the
    // 64-window mean-|amplitude| grid, threshold into the pHash. Block
    // amplitude = (md5Byte("seed|i") - 128) * 256, so DuckDB verifies
    // the codec round trip arithmetically with its own md5.
    "q_mm_audio_phash" -> ((s, dir) => {
      val docs = tDocsPar(s, dir)
        .select(col("doc_id").cast("long").as("asset_id"))
      val staged = docs
        .withColumn("bytes", graft.llm.Multimodal.blockToneAudioBytes(
          col("asset_id"), nBlocks = 64, blockLen = 25, "wav"))
        .withColumn("grid",
          graft.llm.Multimodal.audioPcmFeatures(col("bytes"),
            windows = 64, windowLen = 25))
      graft.llm.Multimodal.withPHashFromFeatureArray(staged, col("grid"))
        .withColumn("feat_sum", graft.llm.Multimodal.sumFeatures(col("grid")))
        .select(col("asset_id"), col("feat_sum"), col("phash"))
    }),

    // CROSS-FORMAT audio near-dup pairs: every 50th doc's samples
    // re-enter as a big-endian AIFF encoding under asset_id =
    // -doc_id - 1; the planted pairs surface at Hamming 0 only if the
    // WAV and AIFF decode paths recover identical PCM - byte-level the
    // two containers differ entirely (endianness included)
    "q_mm_audio_pairs" -> ((s, dir) => {
      val docs = tDocsPar(s, dir)
      val base = docs.select(col("doc_id").cast("long").as("asset_id"),
        graft.llm.Multimodal.blockToneAudioBytes(
          col("doc_id"), 64, 25, "wav").as("bytes"))
      val planted = docs.filter(col("doc_id") % 50 === 0)
        .select((-col("doc_id") - 1L).cast("long").as("asset_id"),
          graft.llm.Multimodal.blockToneAudioBytes(
            col("doc_id"), 64, 25, "aiff").as("bytes"))
      val hashed = graft.llm.Multimodal
        .withAudioPHash(base.unionByName(planted), windowLen = 25)
        .select(col("asset_id"), col("phash"))
      graft.llm.Multimodal.phashPairsFromHashes(hashed, maxHamming = 2)
    }),

    // REAL video frame pipeline, feature-verified end to end: render
    // each doc a 4-frame uncompressed AVI (16x16 block-noise DIB
    // frames), walk the RIFF container, decode every frame through the
    // JDK's independent BMP codec, SAMPLE every 2nd frame, and emit
    // the per-frame grid sum + pHash. Frame f cell i luma =
    // md5Byte("seed|f|i"), so DuckDB replays decode + sampling +
    // hashing arithmetically.
    "q_mm_video_frames" -> ((s, dir) => {
      val assets = tDocsPar(s, dir)
        .select(col("doc_id").cast("long").as("asset_id"))
        .withColumn("bytes", graft.llm.Multimodal.blockNoiseAviBytes(
          col("asset_id"), 16, 16, 2, frames = 4))
      graft.llm.Multimodal.sampleFramesDecoded(assets, every = 2)
        .withColumn("feat_sum",
          graft.llm.Multimodal.sumFeatures(col("frame_grid")))
        .select(col("asset_id"), col("frame_idx"), col("feat_sum"),
          col("frame_phash"))
    }),

    // IVF coarse quantization (rows-only): cell histogram under
    // deterministic centroids
    "q_ann_ivf" -> ((s, dir) => {
      val centroids = Ann.hyperplanes(64, 8, seed = 11L)
      Ann.ivfAssign(t(s, dir, "embeddings"), centroids)
        .groupBy(col("ivf_cell")).agg(count(lit(1)).as("n"))
    }),

    // one Lloyd k-means update step (assignment + per-cell/dim means on
    // a quantized grid - the engine-stable surface of kmeansCentroids)
    "q_ann_kmeans_step" -> ((s, dir) => {
      val centroids = Ann.hyperplanes(64, 8, seed = 11L)
      Ann.kmeansStep(t(s, dir, "embeddings"), centroids)
    }),

    // product-quantization code assignment (the IVF-PQ compression step)
    "q_ann_pq_assign" -> ((s, dir) =>
      Ann.pqAssign(t(s, dir, "embeddings"), pqCodebooks)
        .select(col("vec_id") +:
          pqCodebooks.indices.map(j => col(s"pq_code_$j")): _*)),

    // full IVF-PQ ADC search: coarse probe + codes-only scoring via
    // driver-side lookup tables - the query never touches corpus floats
    "q_ann_ivfpq" -> ((s, dir) => {
      val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
      Ann.ivfPqTopK(t(s, dir, "embeddings"), annQuery, 10, centroids,
        pqCodebooks)
    }),

    // the SAME IVF-PQ search through a PERSISTED index artifact: save
    // centroids + codebooks to parquet, load them back, search under
    // the LOADED model - the ship-and-serve path (an index trained
    // once, served by later sessions). Doubles round-trip bit-exact,
    // so the oracle is q_ann_ivfpq's, shared verbatim: any loss or
    // reorder in the artifact round trip re-buckets the probe or
    // shifts an ADC table and fails the hash compare.
    "q_ann_ivfpq_artifact" -> ((s, dir) => {
      val centroids = annServedCentroids(s)
      val codebooks = graft.llm.AnnArtifact.loadCodebooks(s, annArtifactDir(s))
      Ann.ivfPqTopK(t(s, dir, "embeddings"), annQuery, 10, centroids,
        codebooks)
    }),

    // SemDeDup semantic dedup: IVF-celled greedy keep-lowest-id over
    // within-cell cosine near-dup pairs (non-transitive by design)
    "q_d_semdedup" -> ((s, dir) =>
      Ann.semanticDedup(t(s, dir, "embeddings"),
        Ann.hyperplanes(64, 8, seed = 11L), threshold = 0.4)),

    // prototypicality pruning: drop the floor(n*0.25) most-central rows
    // of each IVF cell under the (cosine-to-centroid desc, id asc) order
    "q_ann_prune" -> ((s, dir) =>
      Ann.prototypicalityPrune(t(s, dir, "embeddings"),
        Ann.hyperplanes(64, 8, seed = 11L), fraction = 0.25)),

    // semantic contamination screen: corpus rows (vec_id % 20 != 7)
    // flagged when any benchmark row (vec_id % 20 == 7) in their 2
    // probed IVF cells is cosine-similar >= 0.35
    "q_contam_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.llm.Contamination.semanticScreen(
        emb.filter(pmod(col("vec_id"), lit(20)) =!= 7),
        emb.filter(pmod(col("vec_id"), lit(20)) === 7),
        Ann.hyperplanes(64, 8, seed = 11L), threshold = 0.35)
    }),

    // Structured Streaming surfaced in the registry: file-source stream
    // over the events table (explicit schema - the parquet ts column is
    // TIMESTAMP(NANOS), so event time is derived), watermarked tumbling
    // windows, AvailableNow trigger draining to a memory sink. The same
    // code runs unbounded against a directory that keeps receiving files.
    // streaming sessionization in APPEND mode (the scale path: sessions
    // emit once, when the watermark closes them). The final watermark
    // after AvailableNow drains = max event time - 2h, so the oracle
    // keeps exactly the sessions that closed before it.
    "q_stream_sessions" -> ((s, dir) => {
      val name = "stream_sessions_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .withColumn("ts", timestamp_seconds(pmod(col("event_id"), lit(86400L))))
      val q = graft.streaming.EventStream.sessionStats(src,
          gap = "15 minutes", watermark = "2 hours", streaming = true)
        .select(col("sess_start_s"), col("sess_end_s"), col("user_id"),
          col("n_events"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
    }),

    // streaming EXACT dedup: every event duplicated in-stream (explode
    // of a dropped dummy column -> two identical rows per event), then
    // dropDuplicatesWithinWatermark on event_id keeps exactly one; the
    // DuckDB twin recomputes the surviving set as a plain projection of
    // the (unique-keyed) events table, so any row dropped twice, kept
    // twice, or mangled by the streaming state fails the compare
    "q_stream_dedup" -> ((s, dir) => {
      val name = "stream_dedup_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        // +1 day: epoch-0 event time would sit exactly on the initial
        // watermark and be filtered as late before dedup state sees it
        .withColumn("ts",
          timestamp_seconds(pmod(col("event_id"), lit(86400L)) + 86400L))
        .withColumn("__copy", explode(array(lit(0), lit(1))))
        .drop("__copy")
      // exact dedup emits each survivor in its data batch; the trailing
      // no-data batch only evicts state (measured 0.5 s) - skip it
      withoutNoDataBatches(s) {
        val q = graft.streaming.EventStream.dedupeEvents(src)
          .select(col("event_id"), unix_timestamp(col("ts")).as("ts_s"),
            col("user_id"), col("event_type"), col("value"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(name)
    }),

    // streaming MinHash-LSH near-dup: real file-source stream over the
    // documents table through the keyed-state flagger (signatures +
    // band explode stateless, one groupByKey(band, bandval) shuffle,
    // <=1000 stored signatures per bucket), then the per-doc roll-up
    // over the drained sink. The DuckDB twin replays the md5
    // signatures and the first-1000-per-bucket retention with a
    // rank-capped self-join, so a signature mangled by the state
    // store, a dropped flag, or an off-by-one in the stored-set cut
    // all fail the compare.
    "q_stream_neardup" -> ((s, dir) => {
      val name = "stream_neardup_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        // one file per micro-batch = one scan task: spread the md5
        // signature map across the session parallelism (same
        // single-row-group rationale as tDocsPar)
        .repartition(shufflePartitions(s), col("doc_id"))
      val banded = graft.streaming.StreamingNearDup.bandedSigs(src)
      val q = graft.streaming.StreamingNearDup
        .flagNearDups(banded, estMinAgree = 6, maxBucketDocs = 1000)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // oracle parity requires doc_id-ordered delivery, which this
      // source guarantees only as SINGLE-batch (one file, AvailableNow,
      // no maxFilesPerTrigger); enforce rather than assume - a config
      // or source change that splits the run into multiple batches
      // must fail here, not hash-mismatch downstream
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"q_stream_neardup needs single-batch delivery for doc_id-order " +
          s"parity with the rank-capped oracle; got $dataBatches data batches")
      import s.implicits._
      graft.streaming.StreamingNearDup.flagSummary(
        s.table(name).as[graft.streaming.StreamingNearDup.DupFlag])
    }),

    // streaming ANN top-k retrieval: query vectors stream against the
    // STATIC IVF-celled corpus (stateless probe-cell stream-static
    // equi-join, Spark's own cosine scoring), then k-bounded keyed
    // state per query merges candidates into the final ranked top-k.
    // The index is SERVED FROM THE PERSISTED ARTIFACT (centroids
    // loaded from the parquet index q_ann_ivfpq_artifact ships - the
    // production serving path, where a streaming retriever loads a
    // trained index rather than re-deriving it in the plan; doubles
    // round-trip bit-exact, so parity with the batch oracle is
    // unchanged). MUST return exactly the batch knnJoin rows - the
    // oracle IS q_ann_knn_join's, shared verbatim.
    "q_stream_ann" -> ((s, dir) => {
      val name = "stream_ann_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val centroids = annServedCentroids(s)
      val src = s.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
        .filter(col("vec_id") < 5)
        .withColumnRenamed("vec_id", "q_id")
      val cands = graft.streaming.StreamingAnn.candidates(
        src, t(s, dir, "embeddings"), centroids, nprobe = 2,
        excludeSelf = true)
      val q = graft.streaming.StreamingAnn.topK(cands, k = 5)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // append-mode top-k re-emits refined rows if a query's candidates
      // span micro-batches; exact batch parity holds single-batch only
      // (one file, AvailableNow, no maxFilesPerTrigger) - enforce it
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"q_stream_ann needs single-batch delivery for exact batch " +
          s"parity with the knnJoin oracle; got $dataBatches data batches")
      s.table(name)
    }),

    // MULTI-batch streaming near-dup: the same flagger fed the SAME
    // corpus split into two micro-batches (maxFilesPerTrigger=1 over a
    // two-file source dir, lower doc_id half first). Because the split
    // respects doc_id order, "seen before" across batches still means
    // doc_id-earlier, so the CROSS-BATCH STATE MERGE (bucket signatures
    // persisted through the state store between batches) must
    // reproduce the single-batch rows exactly - the oracle is shared
    // verbatim with q_stream_neardup, and a >= 2-batch delivery is
    // asserted at run time (this query is the cross-batch complement
    // of q_stream_neardup's single-batch guard).
    "q_stream_neardup_mb" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val mid = docs.agg(max(col("doc_id"))).first().getLong(0) / 2
      val sdir = twoFileStreamDir(s"graft_neardup_mb:$dir",
        docs.filter(col("doc_id") <= mid), docs.filter(col("doc_id") > mid))
      val name = "stream_neardup_mb_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
        .repartition(shufflePartitions(s), col("doc_id"))
      val banded = graft.streaming.StreamingNearDup.bandedSigs(src)
      val q = graft.streaming.StreamingNearDup
        .flagNearDups(banded, estMinAgree = 6, maxBucketDocs = 1000)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 2,
        s"q_stream_neardup_mb must exercise the cross-batch state merge; " +
          s"got $dataBatches data batches")
      import s.implicits._
      graft.streaming.StreamingNearDup.flagSummary(
        s.table(name).as[graft.streaming.StreamingNearDup.DupFlag])
    }),

    // MULTI-batch streaming ANN with AT-LEAST-ONCE redelivery: batch 2
    // re-delivers batch 1's query vectors verbatim, so every query's
    // candidates arrive TWICE and the keyed state must dedupe by
    // neighbor id on merge - without that, a replayed candidate fills
    // two of the k slots and the re-emission diverges. Correct merge =>
    // the second emission repeats the first exactly, so the distinct
    // over the append sink equals the batch knnJoin rows (oracle shared
    // verbatim); >= 2 data batches asserted at run time.
    "q_stream_ann_mb" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val sdir = twoFileStreamDir(s"graft_ann_mb:$dir", queries, queries)
      val name = "stream_ann_mb_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      // served from the same loaded-once artifact as q_stream_ann
      val centroids = annServedCentroids(s)
      val src = s.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
        .withColumnRenamed("vec_id", "q_id")
      val cands = graft.streaming.StreamingAnn.candidates(
        src, emb, centroids, nprobe = 2, excludeSelf = true)
      val q = graft.streaming.StreamingAnn.topK(cands, k = 5)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 2,
        s"q_stream_ann_mb must exercise the redelivery merge; " +
          s"got $dataBatches data batches")
      s.table(name).distinct()
    }),

    "q_stream_windowed" -> ((s, dir) => {
      val name = "stream_counts_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val src = s.readStream
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .option("pathGlobFilter", "events.parquet") // file source wants a dir
        .parquet(dir)
        .withColumn("ts", timestamp_seconds(pmod(col("event_id"), lit(86400L))))
      // complete-mode re-emit: the trailing no-data batch (watermark
      // bookkeeping; complete mode never drops closed windows) rewrites
      // the identical table - skip it (withoutNoDataBatches scaladoc)
      withoutNoDataBatches(s) {
        val q = graft.streaming.EventStream.windowedTypeCounts(src)
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // n_events only: the float sum is still computed by the stream but a
      // cross-engine compare of an order-dependent double sum is noise.
      // Window start as epoch seconds - the memory-sink roundtrip yields
      // nanosecond timestamps while DuckDB produces microseconds, and the
      // driver compare is type-exact.
      s.table(name).select(
        unix_timestamp(col("window.start")).as("win_start_s"),
        col("event_type"), col("n_events"))
    }),

    // flagship pipeline as a registered (rows-only) query; the run itself
    // is computed once per session and shared with q_pipeline_counts
    "q_pipeline_e2e" -> ((s, dir) =>
      pipelineResult(s, dir).strongPicks
        .select(col("groupId"), col("srcRgdId"), col("destRgdId"),
          col("xrefDataSrc"), col("xrefDataSet"), col("tier"), col("method"))),

    // flagship projection under the driver's hash gate: per-(tier, method)
    // pick counts, recomputed independently by the DuckDB oracle (below)
    // from the raw tables - resolve/merge/complement/cascade as CTEs
    "q_pipeline_counts" -> ((s, dir) =>
      pipelineResult(s, dir).strongPicks
        .groupBy(col("tier"), col("method"))
        .agg(count(lit(1)).as("n"))),

    // AGR flagship projection: per-(flags, methods) counts, recomputed
    // independently by the oracle (M5 resolve -> S9 upsert -> A8 guard)
    "q_agr_counts" -> ((s, dir) =>
      agrResult(s, dir).agrOrthologs
        .groupBy(col("isBestScore"), col("isBestRevScore"), col("methodsMatched"))
        .agg(count(lit(1)).as("n"))),

    // --agrOrthologs flow end-to-end as a registered (rows-only) query:
    // M5 curie cascade (symbol + special-id branches) -> S9 upsert ->
    // A8 guard -> M6 curie QC
    "q_agr_e2e" -> ((s, dir) =>
      agrResult(s, dir).agrOrthologs
        .select(col("geneRgdId1"), col("geneRgdId2"),
          col("isBestScore"), col("isBestRevScore"), col("methodsMatched")))
  )

  def oracleSql: Map[String, String] = Map(
    "q_f2_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_returnflag='R' AND l_linestatus='F'""",

    "q_f4_projection" ->
      """SELECT p_partkey, upper(p_brand) AS brand_uc, p_size FROM part
         WHERE p_size > 20""",

    "q_f5_exclusion" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
         WHERE o_orderstatus NOT IN ('F')
           AND o_orderpriority IN ('1-URGENT','2-HIGH')""",

    "q_f3_set_filter" ->
      """SELECT c_custkey, c_mktsegment, n_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')""",

    "q_j1_resolution" ->
      """SELECT n_nationkey, n_name, active_c,
             CASE WHEN active_c = 0 THEN 'unmatched'
                  WHEN active_c = 1 THEN 'matched'
                  ELSE 'multiple' END AS outcome,
             CASE WHEN active_c = 1 THEN max_cust END AS resolved_id
         FROM (
           SELECT n_nationkey, n_name,
                  count(c_custkey) AS active_c, max(c_custkey) AS max_cust
           FROM nation LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c
             ON c.c_nationkey = n_nationkey
           GROUP BY n_nationkey, n_name)""",

    "q_j2_replacement" ->
      """SELECT c_custkey, r.replacement
         FROM customer LEFT JOIN (
           SELECT o_custkey, max(o_orderkey) AS replacement
           FROM orders WHERE o_orderstatus='O' GROUP BY o_custkey) r
         ON c_custkey = r.o_custkey""",

    "q_j4_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "q_j10_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "q_j8_crosslinked" ->
      """SELECT n.n_nationkey, n.n_name FROM (
           SELECT s_nationkey AS n_nationkey FROM supplier
           GROUP BY s_nationkey HAVING count(*) > 2
           UNION
           SELECT c_nationkey FROM customer
           GROUP BY c_nationkey HAVING count(*) > 2) x
         JOIN nation n ON n.n_nationkey = x.n_nationkey
         ORDER BY lower(n.n_name)""",

    "q_j11_multimap" ->
      """SELECT c_nationkey, CAST(min(c_custkey) AS BIGINT) AS first_id,
             count(*) AS n
         FROM customer GROUP BY c_nationkey""",

    "q_j9_partner_filter" ->
      """SELECT o_orderkey, o_custkey, is_best FROM (
           SELECT o_orderkey, o_custkey,
                  CAST(o_orderstatus = 'O' AS INT) AS is_best,
                  MAX(CAST(o_orderstatus = 'O' AS INT))
                    OVER (PARTITION BY o_custkey) AS any_best
           FROM orders)
         WHERE any_best = 0 OR is_best = 1""",

    "q_a1_groupagg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
             sum(l_quantity) AS sum_qty,
             CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
             min(l_discount) AS min_disc, max(l_discount) AS max_disc
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q_a3_merge" ->
      """SELECT l_orderkey,
             string_agg(l_returnflag, ', ' ORDER BY l_returnflag) AS flags
         FROM (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem)
         GROUP BY l_orderkey""",

    "q_a4_evidence_count" ->
      """SELECT p_partkey,
             CASE WHEN p_name IS NULL OR p_name = '' THEN 0
                  ELSE CAST(len(string_split(p_name, ' ')) AS INT) END AS ev_count
         FROM part""",

    "q_a5_counts" ->
      """SELECT count(*) AS n_orders,
             count(DISTINCT o_custkey) AS n_custs,
             max(o_orderdate) AS max_date
         FROM orders""",

    "q_a7_sync_diff" ->
      """SELECT cls, count(*) AS n FROM (
           SELECT CASE WHEN i.k IS NOT NULL AND r.k IS NOT NULL THEN 'match'
                       WHEN r.k IS NULL THEN 'insert'
                       ELSE 'delete' END AS cls
           FROM (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus='O') i
           FULL OUTER JOIN
                (SELECT o_orderkey AS k FROM orders WHERE o_totalprice>150000) r
           ON i.k = r.k)
         GROUP BY cls""",

    "q_a8_threshold" ->
      """SELECT total, stale, CAST(total // 10 AS BIGINT) AS max_deletable,
             CAST(stale <= total // 10 AS INT) AS guard_ok
         FROM (
           SELECT count(*) AS total,
                  CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                       THEN 1 ELSE 0 END) AS BIGINT) AS stale
           FROM orders)""",

    "q_a9_having" ->
      """SELECT o_custkey, count(*) AS n FROM orders
         GROUP BY o_custkey HAVING count(*) > 12""",

    "q_w1_dedupe" ->
      """SELECT l_orderkey, l_linenumber FROM (
           SELECT l_orderkey, l_linenumber, l_suppkey,
                  ROW_NUMBER() OVER (PARTITION BY l_orderkey
                    ORDER BY CASE l_returnflag WHEN 'R' THEN 4
                             WHEN 'A' THEN 3 ELSE 1 END DESC,
                             l_linenumber ASC, l_suppkey ASC, l_partkey ASC,
                             l_extendedprice ASC) AS rn
           FROM lineitem)
         WHERE rn > 1 AND l_suppkey % 2 = 0""",

    "q_w2_bestfit" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
           SELECT l_orderkey, l_linenumber, l_quantity,
                  ROW_NUMBER() OVER (PARTITION BY l_orderkey
                    ORDER BY l_quantity DESC, l_linenumber ASC) AS rn
           FROM lineitem)
         WHERE rn = 1""",

    "q_w4_cascade" ->
      """SELECT l_orderkey, l_linenumber, tier FROM (
           SELECT l_orderkey, l_linenumber, tier,
                  count(*) OVER (PARTITION BY l_orderkey) AS n_top
           FROM (
             SELECT l_orderkey, l_linenumber, tier,
                    MAX(tier) OVER (PARTITION BY l_orderkey) AS top_tier
             FROM (SELECT l_orderkey, l_linenumber,
                     CASE l_returnflag WHEN 'R' THEN 3 WHEN 'A' THEN 2
                          ELSE 1 END AS tier
                   FROM lineitem))
           WHERE tier = top_tier)
         WHERE n_top = 1""",

    "q_o1_sort" ->
      """SELECT s_suppkey, s_name FROM supplier ORDER BY lower(s_name)""",

    "q_o4_canonicalize" ->
      """SELECT p_partkey,
             array_to_string(list_sort(list_distinct(
               string_split_regex(p_name, '\s+'))), ', ') AS canon
         FROM part""",

    "q_u1_union" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal < 0
         UNION
         SELECT c_custkey FROM customer WHERE c_nationkey < 5""",

    "q_u2_reverse" ->
      """SELECT a, b FROM (
           SELECT s_suppkey AS a, CAST(s_nationkey AS BIGINT) AS b FROM supplier
           UNION
           SELECT CAST(s_nationkey AS BIGINT) AS a, s_suppkey AS b FROM supplier)""",

    "q_u6_difference" ->
      """SELECT o_orderkey FROM orders WHERE o_orderstatus='F'
         EXCEPT
         SELECT o_orderkey FROM orders WHERE o_totalprice < 100000""",

    "q_x4_translit" ->
      """SELECT p_partkey,
             replace(replace(replace(replace(p_name || ' αβΔκ',
               'α','alpha'), 'β','beta'), 'Δ','DELTA'), 'κ','kappa') AS symbol
         FROM part""",

    "q_x6_prefix" ->
      """SELECT c_custkey,
             CAST(CAST(substr(c_name, 10) AS INT) AS BIGINT) AS parsed_id
         FROM customer""",

    "q_x8_quotetrim" ->
      """SELECT p_partkey, trim(p_name) AS unquoted,
             CAST(lower(p_name) = lower(upper(p_name)) AS INT) AS ci_match
         FROM part""",

    "q_m3_type_assign" ->
      """SELECT c_custkey,
             CASE WHEN c_nationkey <= 2 THEN 11 ELSE 13 END AS type_key
         FROM customer""",

    "q_m7_fixxref" ->
      """SELECT p_partkey, orig, canon FROM (
           SELECT p_partkey, p_name || ' ' || p_name AS orig,
                  array_to_string(list_sort(list_distinct(
                    string_split_regex(p_name || ' ' || p_name, '\s+'))), ', ')
                    AS canon
           FROM part)
         WHERE canon <> orig AND len(canon) < len(orig)""",

    "q_x10_age_days" ->
      """SELECT o_orderkey,
             CAST(datediff('day', o_orderdate, TIMESTAMP '2026-08-12') AS INT)
               AS age_days
         FROM orders""",

    "q_x11_signed_diff" ->
      """SELECT o_orderstatus, printf('%+d', n - 1000) AS diff FROM (
           SELECT o_orderstatus, count(*) AS n FROM orders
           GROUP BY o_orderstatus)""",

    "q_d6_symbol_qc" ->
      """SELECT p_partkey, p_name, p_type FROM part
         WHERE NOT (lower(p_name) = lower(p_type))""",

    // D6 operator-routed: validateGeneSymbol's two legs recomputed
    "q_d6_symbol_qc_op" ->
      """WITH res AS (
           SELECT 'AGR:' || CAST(o_custkey % 80 AS VARCHAR) AS curie,
                  'Brand#' || CAST(o_orderkey % 45 + 11 AS VARCHAR) AS lineSym,
                  CASE WHEN o_orderkey % 4 = 0 THEN 3 ELSE 1 END AS sp,
                  CAST(o_custkey % 300 + 1 AS INT) AS rgd
           FROM orders WHERE o_orderkey % 5 = 0),
         g AS (SELECT CAST(p_partkey AS INT) AS id, p_brand AS sym,
                      'brand#' || CAST(p_partkey % 50 + 10 AS VARCHAR) AS ens
               FROM part WHERE p_partkey <= 300),
         reg AS (SELECT CAST(p_partkey AS INT) AS id,
                      CASE WHEN p_partkey % 7 = 0 THEN 'WITHDRAWN'
                           ELSE 'ACTIVE' END AS st
                 FROM part WHERE p_partkey <= 300),
         xr AS (SELECT 'AGR:' || CAST(c_custkey % 80 AS VARCHAR) AS accId,
                       CAST(c_custkey % 300 + 1 AS INT) AS bid
                FROM customer WHERE c_custkey <= 240)
         SELECT 'binding' AS "check", res.curie, res.lineSym AS geneSymbol,
                g.id AS geneRgdId, g.sym AS rgdSymbol
         FROM res
         JOIN xr ON res.curie = xr.accId
         JOIN reg ON xr.bid = reg.id AND reg.st = 'ACTIVE'
         JOIN g ON xr.bid = g.id
         WHERE res.sp = 1
           AND lower(res.lineSym) <> lower(g.sym)
           AND lower(res.lineSym) <> lower(g.ens)
         UNION ALL
         SELECT 'resolved', res.curie, res.lineSym, g.id, g.sym
         FROM res JOIN g ON res.rgd = g.id
         WHERE res.sp = 1
           AND lower(res.lineSym) <> lower(g.sym)
           AND lower(res.lineSym) <> lower(g.ens)""",

    "q_m6_touch_sweep" ->
      """SELECT c_custkey,
             CASE WHEN o_custkey IS NOT NULL THEN '2026-08-01'
                  ELSE '2026-01-01' END AS mod_date
         FROM customer LEFT JOIN
           (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='O') o
           ON c_custkey = o_custkey
         WHERE CASE WHEN o_custkey IS NOT NULL THEN '2026-08-01'
                    ELSE '2026-01-01' END >= '2026-06-01'""",

    "q_e_user_stats" ->
      """SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_value_cents,
             count(DISTINCT event_type) AS n_types
         FROM events GROUP BY user_id""",

    "q_d_exact_dedup" ->
      """SELECT text, min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY text""",

    // as-of join recomputed as a correlated latest-prior lookup
    "q_j_asof" ->
      """WITH ev AS (SELECT event_id, user_id, event_id % 86400 AS ts_s,
                            event_type FROM events),
              c AS (SELECT event_id, user_id, ts_s FROM ev
                    WHERE event_type = 'click'),
              v AS (SELECT event_id AS view_event_id, user_id, ts_s FROM ev
                    WHERE event_type = 'view')
         SELECT c.event_id, c.user_id, c.ts_s,
           (SELECT v.view_event_id FROM v
            WHERE v.user_id = c.user_id AND v.ts_s <= c.ts_s
            ORDER BY v.ts_s DESC, v.view_event_id DESC LIMIT 1)
             AS view_event_id
         FROM c""",

    // range join recomputed as a plain BETWEEN join
    "q_j_range" ->
      """WITH ev AS (SELECT event_id, user_id, event_id % 86400 AS ts_s,
                            event_type FROM events)
         SELECT c.event_id AS click_id, v.event_id AS view_id,
                c.ts_s - v.ts_s AS delta_s
         FROM (SELECT * FROM ev WHERE event_type = 'click') c
         JOIN (SELECT * FROM ev WHERE event_type = 'view') v
           ON c.user_id = v.user_id
          AND c.ts_s BETWEEN v.ts_s AND v.ts_s + 600""",

    // exact inverted-index Jaccard recomputed with the same tokenizer
    // ([a-z0-9_] runs of the lowercased text), 3-gram shingles, <3
    // tokens degrading to one whole-text shingle, and the df<=400 cut
    "q_d_jaccard_exact" ->
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
               t -> t <> '') AS ws
           FROM documents),
         g AS (SELECT doc_id,
             unnest(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_distinct(list_transform(
                 generate_series(1, len(ws) - 2),
                 i -> array_to_string(ws[i : i + 2], ' '))) END) AS shingle
           FROM w),
         sz AS (SELECT doc_id, count(*) AS nsh FROM g GROUP BY doc_id),
         kept AS (SELECT * FROM g
           QUALIFY count(*) OVER (PARTITION BY shingle) <= 400),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM kept a JOIN kept b USING (shingle)
               WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT id_a, id_b,
                CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common) AS jaccard
         FROM p JOIN sz na ON na.doc_id = p.id_a
                JOIN sz nb ON nb.doc_id = p.id_b
         WHERE CAST(common AS DOUBLE) / (na.nsh + nb.nsh - common) >= 0.5""",

    "q_t_vocab" ->
      """SELECT term, count(*) AS n FROM (
           SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS term
           FROM documents)
         GROUP BY term ORDER BY n DESC, term ASC LIMIT 20""",

    "q_t_top_terms" ->
      """WITH w AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
         d AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         SELECT doc_id, term AS top_term, tf, df FROM (
           SELECT tf.doc_id, tf.term, tf.tf, d.df,
                  ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                    ORDER BY tf.tf DESC, d.df ASC, tf.term ASC) AS rn
           FROM tf JOIN d USING (term))
         WHERE rn = 1""",

    "q_t_oov" ->
      """WITH w AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS term
           FROM documents),
         v AS (SELECT term FROM (
           SELECT term, count(*) AS n FROM w GROUP BY term
           ORDER BY n DESC, term ASC LIMIT 10)),
         c AS (SELECT w.doc_id, count(*) AS n_tokens,
                      CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov
               FROM w LEFT JOIN v ON w.term = v.term
               GROUP BY w.doc_id)
         SELECT d.doc_id, coalesce(c.n_tokens, 0) AS n_tokens,
                coalesce(c.n_oov, 0) AS n_oov,
                CASE WHEN c.n_tokens > 0
                     THEN c.n_oov / CAST(c.n_tokens AS DOUBLE)
                     ELSE 0.0 END AS oov_rate
         FROM documents d LEFT JOIN c USING (doc_id)""",

    // quality filter: same features as q_t_quality / q_t_repetition,
    // same rule order, first failing rule is the reason
    "q_t_filter" ->
      """WITH f AS (
           SELECT doc_id,
             length(text) AS nc,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'], w)))
               AS INT) AS nstop,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
               AS npunct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS ndigit,
             list_filter(list_transform(string_split_regex(text, '\r?\n'),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> w <> '') AS words
           FROM documents),
         r AS (
           SELECT doc_id, nw,
             CASE WHEN nw > 0 THEN (nc - nw + 1) / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS awl,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS stopr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS punctr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS digitr,
             CASE WHEN len(lines) > 0 THEN
               (len(lines) - len(list_distinct(lines)))
                 / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS duplr,
             CASE WHEN len(words) > 0 THEN
               (len(words) - len(list_distinct(words)))
                 / CAST(len(words) AS DOUBLE) ELSE 0.0 END AS dupwr
           FROM f)
         SELECT doc_id,
           CAST(reason IS NULL AS INT) AS keep, reason AS drop_reason
         FROM (
           SELECT doc_id,
             CASE WHEN nw < 10 THEN 'too_few_words'
                  WHEN nw > 100000 THEN 'too_many_words'
                  WHEN awl < 2.0 THEN 'short_words'
                  WHEN awl > 12.0 THEN 'long_words'
                  WHEN stopr < 0.01 THEN 'low_stopword'
                  WHEN punctr > 0.2 THEN 'high_punct'
                  WHEN digitr > 0.2 THEN 'high_digit'
                  WHEN duplr > 0.5 THEN 'repetitive_lines'
                  WHEN dupwr > 0.85 THEN 'repetitive_words'
                  END AS reason
           FROM r)""",

    // stratified sampling: cutoffs are rateCutoffHex() of the rates in
    // the registered query ('g' = keep-all sentinel above every hex)
    "q_sample_stratified" ->
      """SELECT doc_id, source,
             substr(md5('sample-v1' || text), 1, 8) AS sample_bucket,
             CAST(substr(md5('sample-v1' || text), 1, 8) <
               CASE source WHEN 'src0' THEN '40000000'
                    WHEN 'src1' THEN '80000000'
                    WHEN 'src2' THEN '00000000'
                    WHEN 'src3' THEN 'g'
                    ELSE 'c0000000' END AS INT) AS kept
         FROM documents""",

    // temperature resampling recomputed end-to-end over the skewed
    // derived stratum: counts (null strata excluded from n_min, as in
    // Spark), rate = round((n/n_min)^(alpha-1), 6), 32-bit hex cutoff
    // (lower(lpad(hex(...)))) matching Splitting.rateCutoffHex, then
    // the same salted-hash survival test. A rate of exactly 1 (the
    // smallest stratum) maps to the 'g' sentinel, which sorts above
    // every hex bucket - keep-all, as in Spark.
    "q_sample_temperature" ->
      """WITH d AS (SELECT doc_id, text,
             CASE WHEN doc_id % 10 < 7 THEN 'big'
                  WHEN doc_id % 10 < 9 THEN 'mid'
                  ELSE 'small' END AS stratum
           FROM documents),
         c AS (SELECT stratum, count(*) AS n FROM d
           WHERE stratum IS NOT NULL GROUP BY stratum),
         r AS (SELECT stratum,
             round(pow(CAST(n AS DOUBLE) / (SELECT min(n) FROM c),
               0.5 - 1.0), 6) AS rate
           FROM c),
         cut AS (SELECT stratum,
             CASE WHEN round(rate * 4294967296.0) >= 4294967296.0
                  THEN 'g'
                  ELSE lower(lpad(hex(CAST(round(rate * 4294967296.0)
                    AS BIGINT)), 8, '0')) END AS cutoff
           FROM r)
         SELECT d.doc_id, d.stratum,
                CAST(substr(md5('temp-v1' || d.text), 1, 8)
                  < coalesce(cut.cutoff, 'g') AS INT) AS kept
         FROM d LEFT JOIN cut ON cut.stratum = d.stratum""",

    // greedy token-budget selection recomputed: the q_t_tokens BPE-ish
    // token count and the q_t_quality stopword-ratio score (both
    // already hash-matched queries, so the doubles agree bit-for-bit),
    // a window cumsum in (score DESC, doc_id ASC) order, keep every
    // row whose preceding sum is under the 10k budget
    "q_sample_token_budget" ->
      """WITH s AS (SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                    t -> t <> ''))
               + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
               AS INT) AS n_tokens,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in','is',
                 'it','that','for','on','with','as','was','at','by'], w)))
               AS DOUBLE)
               / len(string_split_regex(lower(trim(text)), '\s+')) AS score
           FROM documents),
         c AS (SELECT doc_id, n_tokens, score,
             CAST(coalesce(sum(n_tokens) OVER (
               ORDER BY score DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM s)
         SELECT doc_id, n_tokens, score, cum_before FROM c
         WHERE cum_before < 10000""",

    // per-stratum greedy budgets: the same tokenizer/score columns,
    // cum_before partitioned by source, cut by the per-source budget
    // (named budgets + the 300-token default fallback)
    "q_sample_budget_stratum" ->
      """WITH s AS (SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                    t -> t <> ''))
               + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
               AS INT) AS n_tokens,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in','is',
                 'it','that','for','on','with','as','was','at','by'], w)))
               AS DOUBLE)
               / len(string_split_regex(lower(trim(text)), '\s+')) AS score
           FROM documents),
         c AS (SELECT doc_id, source, n_tokens, score,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
               ORDER BY score DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM s)
         SELECT doc_id, source, n_tokens, score, cum_before FROM c
         WHERE cum_before < CASE source WHEN 'src0' THEN 2000
                                        WHEN 'src1' THEN 1000
                                        WHEN 'src2' THEN 500
                                        ELSE 300 END""",

    // target-weight mixture recomputed: same skewed stratum, ratio =
    // CASE-weight / n, rate = round(ratio / max(ratio), 6), the shared
    // 32-bit cutoff chain; out-of-recipe strata get the '00000000'
    // drop-all cutoff (vs temperatureSample's keep-null 'g')
    "q_sample_mixture" ->
      """WITH d AS (SELECT doc_id, text,
             CASE WHEN doc_id % 10 < 7 THEN 'big'
                  WHEN doc_id % 10 < 9 THEN 'mid'
                  ELSE 'small' END AS stratum
           FROM documents),
         c AS (SELECT stratum, count(*) AS n FROM d
           WHERE stratum IS NOT NULL GROUP BY stratum),
         r0 AS (SELECT stratum,
             (CASE WHEN stratum = 'big' THEN 0.3
                   WHEN stratum = 'small' THEN 0.7
                   ELSE 0.0 END) / CAST(n AS DOUBLE) AS ratio
           FROM c),
         r AS (SELECT stratum,
             CASE WHEN (SELECT max(ratio) FROM r0) = 0 THEN NULL
                  ELSE round(ratio / (SELECT max(ratio) FROM r0), 6)
                  END AS rate
           FROM r0),
         cut AS (SELECT stratum,
             CASE WHEN rate IS NULL THEN '00000000'
                  WHEN round(rate * 4294967296.0) >= 4294967296.0
                  THEN 'g'
                  ELSE lower(lpad(hex(CAST(round(rate * 4294967296.0)
                    AS BIGINT)), 8, '0')) END AS cutoff
           FROM r)
         SELECT d.doc_id, d.stratum,
                CAST(substr(md5('mix-v1' || d.text), 1, 8)
                  < coalesce(cut.cutoff, '00000000') AS INT) AS kept
         FROM d LEFT JOIN cut ON cut.stratum = d.stratum""",

    // upsampling mixture recomputed: rate = round(least(ratio /
    // min_positive(ratio), 64), 6) >= 1, copies = floor(rate) + the
    // hash-fractional extra under the shared 32-bit cutoff chain;
    // out-of-recipe strata get 0 copies
    "q_sample_mixture_up" ->
      s"""WITH $mixtureUpCtesSql
         SELECT doc_id, stratum, copies FROM cp""",

    // the realization: one row per (doc, 1..copies); generate_series is
    // inclusive like Spark's sequence, and copies=0 rows emit nothing
    "q_sample_mixture_real" ->
      s"""WITH $mixtureUpCtesSql
         SELECT doc_id, stratum, CAST(ci AS INT) AS copy_idx
         FROM cp, UNNEST(generate_series(1, copies)) AS t(ci)
         WHERE copies > 0""",

    // training-order shuffle recomputed: same salted hash, first hex
    // char as the shard, rank of (full hash, id) within the shard
    "q_shuffle_order" ->
      """SELECT doc_id, substr(md5('shuffle-v1' || text), 1, 1) AS shard,
             CAST(row_number() OVER (
               PARTITION BY substr(md5('shuffle-v1' || text), 1, 1)
               ORDER BY md5('shuffle-v1' || text) ASC, doc_id ASC)
               AS BIGINT) AS pos
         FROM documents""",

    // log2 token-length histogram: len(bin(n)) is the integer-exact
    // floor(log2)+1 on both engines; all-integer aggregates
    "q_t_length_hist" ->
      """SELECT source,
             CASE WHEN n <= 0 THEN 0
                  ELSE CAST(len(bin(n)) AS INT) END AS bucket,
             count(*) AS n_docs,
             CAST(sum(n) AS BIGINT) AS sum_tokens,
             min(n) AS min_tokens, max(n) AS max_tokens
         FROM (SELECT source,
                 coalesce(CAST(len(string_split_regex(trim(text), '\s+'))
                   AS INT), 0) AS n
               FROM documents)
         GROUP BY 1, 2""",

    "q_pack_bins" ->
      """SELECT doc_id, source, n_tokens,
             CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS pack_bin
         FROM (
           SELECT doc_id, source, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum
           FROM (SELECT doc_id, source,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
                     AS n_tokens
                 FROM documents))""",

    // concat-and-chunk recomputed from the same per-stratum running
    // token offset: a doc spans chunks floor(start/256)..floor((end-1)/
    // 256) and contributes the in-chunk range [begin_off, end_off);
    // integer-only, zero-token docs emit nothing on both sides
    "q_pack_chunks" ->
      """WITH o AS (
           SELECT doc_id, source, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_start
           FROM (SELECT doc_id, source,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
                     AS n_tokens
                 FROM documents)),
         s AS (SELECT doc_id, source, tok_start,
                      tok_start + n_tokens AS tok_end
               FROM o WHERE n_tokens > 0)
         SELECT doc_id, source, CAST(ch AS BIGINT) AS chunk_id,
                CAST(greatest(tok_start - ch * 256, 0) AS BIGINT)
                  AS begin_off,
                CAST(least(tok_end - ch * 256, 256) AS BIGINT) AS end_off
         FROM s, UNNEST(generate_series(
           CAST(floor(tok_start / 256.0) AS BIGINT),
           CAST(floor((tok_end - 1) / 256.0) AS BIGINT))) AS t(ch)""",

    "q_emb_project" -> {
      val planes = Ann.hyperplanes(64, 8, seed = 19L)
      planes.zipWithIndex.map { case (p, i) =>
        s"""SELECT vec_id, $i AS dim_idx,
               CAST(floor(${dotSql(p)} * 1000) AS BIGINT) AS q
            FROM embeddings"""
      }.mkString(" UNION ALL ")
    },

    "q_d_norm_dedup" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS norm_md5,
             min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents
         GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))""",

    // md5-permutation minhash recomputed end-to-end: same shingles as
    // q_d_jaccard_exact, sig_i = min over shingles of the 16-hex-char
    // md5(i|shingle) prefix (fixed-width hex min == numeric min), bands
    // of 2, bucket join, exact-Jaccard verify over the full shingle sets
    "q_d_minhash_md5" ->
      s"""WITH $minhashMd5CtesSql
         SELECT id_a, id_b, jaccard FROM pairs""",

    // re-keyed pair trio (r8): md5 draws so DuckDB replays the full
    // band/bucket/verify chains with the Spark side's parameters
    "q_d_minhash_pairs" ->
      s"""WITH ${minhashMd5ParamCtes(16, 4, 2, 0.6, 0)}
         SELECT id_a, id_b, jaccard FROM pairs""",
    "q_d_ngram_pairs" ->
      s"""WITH ${minhashMd5ParamCtes(16, 8, 3, 0.6, 7)}
         SELECT id_a, id_b, jaccard FROM pairs""",
    "q_d_simhash_pairs" -> simhashMd5PairsSql(2),

    // md5-bit SimHash recomputed end-to-end: bit j of md5(token) gives
    // a +-1 vote, signature = per-bit sign over the token multiset as a
    // 64-char '0'/'1' string, 4x16-char chunk blocking with the SAME
    // bucket cap as Spark, hamming verify by char compare. Tokenless
    // docs coalesce to the all-zero signature, as in Spark.
    "q_d_simhash_md5" ->
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(
                 lower(trim(coalesce(text, ''))), '[^a-z0-9_]+'),
               t -> t <> '') AS ws
           FROM documents),
         tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
         bits AS (SELECT doc_id, CAST(j AS INT) AS j,
             ((strpos('0123456789abcdef',
                 substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
               >> (3 - CAST(j % 4 AS INT))) & 1 AS bit
           FROM tok CROSS JOIN range(0, 64) r(j)),
         sums AS (SELECT doc_id, j, sum(bit) AS s
           FROM bits GROUP BY doc_id, j),
         sig0 AS (SELECT doc_id,
             string_agg(CASE WHEN 2 * s > n THEN '1' ELSE '0' END,
               '' ORDER BY j) AS sig
           FROM sums JOIN (SELECT doc_id, len(ws) AS n FROM w) ln
             USING (doc_id)
           GROUP BY doc_id),
         sig AS (SELECT w.doc_id,
             coalesce(sig0.sig, repeat('0', 64)) AS sig
           FROM w LEFT JOIN sig0 ON w.doc_id = sig0.doc_id),
         chk AS (SELECT doc_id, sig,
             CAST(c AS INT) AS c,
             substr(sig, CAST(c AS INT) * 16 + 1, 16) AS cv
           FROM sig CROSS JOIN range(0, 4) rc(c)),
         chkk AS (SELECT doc_id, sig, c, cv FROM (
             SELECT doc_id, sig, c, cv,
                    count(*) OVER (PARTITION BY c, cv) AS bsz
             FROM chk)
           WHERE bsz <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
           FROM chkk a JOIN chkk b
             ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM (
           SELECT id_a, id_b,
                  CAST(len(list_filter(range(1, 65), i ->
                    substr(sig_a, CAST(i AS INT), 1)
                      <> substr(sig_b, CAST(i AS INT), 1))) AS INT)
                    AS hamming
           FROM cand)
         WHERE hamming <= 3""",

    // full dedup flow: the SAME pairs CTEs, then component labels via
    // 12 unrolled rounds of neighbor-min propagation (component
    // diameter measured <= 3 at every SF; 12 = 4x margin), keep min-id.
    // Every round CTE is MATERIALIZED: each references the previous one
    // twice, and DuckDB's default per-reference inlining would expand
    // the whole chain 2^12 times (observed as a file-handle explosion).
    "q_d_dedup_e2e" -> {
      val rounds = (1 to 12).map { i =>
        s"""l$i AS MATERIALIZED (SELECT n.id,
             least(n.lbl, coalesce(m.mn, n.lbl)) AS lbl
           FROM l${i - 1} n LEFT JOIN (
             SELECT s.u, min(x.lbl) AS mn FROM sym s
             JOIN l${i - 1} x ON x.id = s.v GROUP BY s.u) m
             ON m.u = n.id)"""
      }.mkString(",\n         ")
      s"""WITH $minhashMd5CtesSql,
         sym AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lbl FROM sym),
         $rounds,
         dups AS (SELECT id FROM l12 WHERE lbl <> id)
         SELECT d.doc_id, d.source FROM documents d
         WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dups.id = d.doc_id)"""
    },

    // quality-aware cluster pick: the SAME pairs + component chain as
    // q_d_dedup_e2e, the SAME score formula as q_t_curate, then a
    // per-component (score DESC, id ASC) argmax with the member count
    "q_d_quality_pick" -> {
      val rounds = (1 to 12).map { i =>
        s"""l$i AS MATERIALIZED (SELECT n.id,
             least(n.lbl, coalesce(m.mn, n.lbl)) AS lbl
           FROM l${i - 1} n LEFT JOIN (
             SELECT s.u, min(x.lbl) AS mn FROM sym s
             JOIN l${i - 1} x ON x.id = s.v GROUP BY s.u) m
             ON m.u = n.id)"""
      }.mkString(",\n         ")
      s"""WITH $minhashMd5CtesSql,
         sym AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lbl FROM sym),
         $rounds,
         qf AS (SELECT doc_id, length(text) AS nc,
             CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(text)),
                 '\\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'],
                 w))) AS INT) AS nstop,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '',
               'g')) AS npunct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS ndigit
           FROM documents),
         qr AS (SELECT doc_id,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS sr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS pr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS dr
           FROM qf),
         qs AS (SELECT doc_id,
             least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
               CAST(0.4 AS DOUBLE) * least(sr * 4, CAST(1.0 AS DOUBLE)) +
               CAST(0.3 AS DOUBLE) *
                 (CAST(1.0 AS DOUBLE) - least(pr * 5, CAST(1.0 AS DOUBLE))) +
               CAST(0.3 AS DOUBLE) *
                 (CAST(1.0 AS DOUBLE) - least(dr * 5, CAST(1.0 AS DOUBLE)))))
               AS q
           FROM qr),
         mem AS (SELECT l.lbl AS component, l.id, qs.q
           FROM l12 l JOIN qs ON qs.doc_id = l.id)
         SELECT component, id AS keep_id, n_members FROM (
           SELECT component, id,
             row_number() OVER (PARTITION BY component
               ORDER BY q DESC, id ASC) AS rk,
             count(*) OVER (PARTITION BY component) AS n_members
           FROM mem)
         WHERE rk = 1"""
    },

    // leakage-safe split: the SAME pairs + component chain as
    // q_d_dedup_e2e, then one cluster key (min per-doc md5) and the
    // assignSplit bucket CASE over it; docs in no pair cluster alone
    "q_split_leakage_safe" -> {
      val rounds = (1 to 12).map { i =>
        s"""l$i AS MATERIALIZED (SELECT n.id,
             least(n.lbl, coalesce(m.mn, n.lbl)) AS lbl
           FROM l${i - 1} n LEFT JOIN (
             SELECT s.u, min(x.lbl) AS mn FROM sym s
             JOIN l${i - 1} x ON x.id = s.v GROUP BY s.u) m
             ON m.u = n.id)"""
      }.mkString(",\n         ")
      s"""WITH $minhashMd5CtesSql,
         sym AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lbl FROM sym),
         $rounds,
         cl AS (SELECT d.doc_id, d.source, d.text,
                       coalesce(l.lbl, d.doc_id) AS cluster
                FROM documents d LEFT JOIN l12 l ON l.id = d.doc_id),
         k AS (SELECT cluster, substr(min(md5(text)), 1, 2) AS b
               FROM cl GROUP BY cluster)
         SELECT cl.doc_id, cl.source, k.b AS split_bucket,
                CASE WHEN k.b < 'cc' THEN 'train'
                     WHEN k.b < 'e6' THEN 'val'
                     ELSE 'test' END AS split
         FROM cl JOIN k USING (cluster)"""
    },

    // 10-word chunks, md5 per chunk, drop chunks in >=2 distinct docs,
    // reassemble survivors in position order
    "q_d_boilerplate" ->
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         segs AS (
           SELECT doc_id, i,
                  array_to_string(ws[(i-1)*10+1 : i*10], ' ') AS chunk
           FROM w, LATERAL (SELECT unnest(range(1,
             CAST(ceil(len(ws) / 10.0) AS BIGINT) + 1)) AS i)),
         boiler AS (
           SELECT md5(chunk) AS h FROM segs
           GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         kept AS (
           SELECT s.doc_id, s.i, s.chunk FROM segs s
           LEFT JOIN boiler b ON md5(s.chunk) = b.h WHERE b.h IS NULL),
         agg AS (
           SELECT doc_id, string_agg(chunk, ' ' ORDER BY i) AS clean_text,
                  CAST(count(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY doc_id),
         tot AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
           FROM segs GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
                coalesce(t.n_chunks, 0) AS n_chunks,
                coalesce(t.n_chunks, 0) - coalesce(a.n_kept, 0) AS n_removed
         FROM documents d
         LEFT JOIN tot t USING (doc_id)
         LEFT JOIN agg a USING (doc_id)""",

    // NOT EXISTS, not NOT IN: a single NULL-text reference row would
    // make NOT IN return zero rows, while Spark's left_anti keeps every
    // non-matching doc (null keys never match in either engine)
    "q_d_against_ref" ->
      """SELECT d.doc_id, d.source,
             md5(regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g'))
               AS norm_md5
         FROM documents d
         WHERE d.source <> 'src0'
           AND NOT EXISTS (
             SELECT 1 FROM documents r
             WHERE r.source = 'src0'
               AND md5(regexp_replace(lower(trim(r.text)), '\s+', ' ', 'g'))
                 = md5(regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g')))""",

    // the composed prep flow: scrub placeholders -> rule filter on the
    // scrubbed text -> keep-lowest-id per normalized hash -> md5 split
    // -> salted-md5 stratified sample (src1 cutoff 80000000 = 50%)
    "q_llm_prep_e2e" ->
      """WITH s1 AS (SELECT doc_id, source, text AS t0,
             regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t1
           FROM documents),
         s2 AS (SELECT doc_id, source, t0, t1,
             regexp_replace(t1,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t2
           FROM s1),
         sc AS (SELECT doc_id, source,
             CAST(len(regexp_extract_all(t0, 'https?://[^\s]+')) AS INT)
               AS n_urls,
             CAST(len(regexp_extract_all(t1,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
               AS n_emails,
             CAST(len(regexp_extract_all(t2,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
               AS INT) AS n_ips,
             regexp_replace(t2,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
               '<IP>', 'g') AS sb
           FROM s2),
         f AS (SELECT doc_id, source, n_urls, n_emails, n_ips, sb,
             length(sb) AS nc,
             CAST(len(string_split_regex(lower(trim(sb)), '\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(sb)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'], w)))
               AS INT) AS nstop,
             length(sb) - length(regexp_replace(sb, '[[:punct:]]', '', 'g'))
               AS npunct,
             length(sb) - length(regexp_replace(sb, '[0-9]', '', 'g'))
               AS ndigit,
             list_filter(list_transform(string_split_regex(sb, '\r?\n'),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(string_split_regex(lower(trim(sb)), '\s+'),
               w -> w <> '') AS words
           FROM sc),
         r AS (SELECT doc_id, source, n_urls, n_emails, n_ips, sb, nw,
             CASE WHEN nw > 0 THEN (nc - nw + 1) / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS awl,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS stopr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS punctr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS digitr,
             CASE WHEN len(lines) > 0 THEN
               (len(lines) - len(list_distinct(lines)))
                 / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS duplr,
             CASE WHEN len(words) > 0 THEN
               (len(words) - len(list_distinct(words)))
                 / CAST(len(words) AS DOUBLE) ELSE 0.0 END AS dupwr
           FROM f),
         keep AS (SELECT doc_id, source, n_urls, n_emails, n_ips, sb
           FROM r
           WHERE nw >= 10 AND nw <= 100000 AND awl >= 2.0 AND awl <= 12.0
             AND stopr >= 0.01 AND punctr <= 0.2 AND digitr <= 0.2
             AND duplr <= 0.5 AND dupwr <= 0.85),
         ddp AS (SELECT *, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(sb)), '\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM keep)
         SELECT doc_id, source,
           CASE WHEN substr(md5(sb), 1, 2) < 'cc' THEN 'train'
                WHEN substr(md5(sb), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           CAST(substr(md5('sample-v1' || sb), 1, 8) <
             CASE WHEN source = 'src1' THEN '80000000' ELSE 'g' END
             AS INT) AS kept,
           n_urls, n_emails, n_ips
         FROM ddp WHERE rn = 1""",

    "q_t_commonness" ->
      """WITH w AS (SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS term
           FROM documents),
         dfreq AS (SELECT term, count(*) AS df FROM (
             SELECT DISTINCT doc_id, term FROM w) GROUP BY term),
         sc AS (SELECT w.doc_id, count(*) AS n_tokens,
                       CAST(sum(d.df) AS BIGINT) AS sum_df
                FROM w JOIN dfreq d USING (term) GROUP BY w.doc_id)
         SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
                coalesce(sc.sum_df, 0) AS sum_df,
                coalesce(sc.sum_df / CAST(sc.n_tokens AS DOUBLE), 0.0)
                  AS mean_df
         FROM documents d LEFT JOIN sc USING (doc_id)""",

    // add-one bigram LM trained on the corpus, replayed: unigram /
    // bigram count tables, per-token log-probs quantized to integer
    // micro-nats BEFORE the per-doc sum (exact integer aggregation -
    // the engines agree bit-for-bit; see LmScore scaladoc)
    "q_t_lm_ppl" ->
      """WITH toks AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t AS (SELECT doc_id, ws FROM toks WHERE len(ws) > 0),
         uc AS (SELECT w, count(*) AS cw FROM (
             SELECT unnest(ws) AS w FROM t) GROUP BY w),
         st AS (SELECT count(*) AS v, CAST(sum(cw) AS DOUBLE) AS n FROM uc),
         bgf AS (SELECT doc_id, b.p AS prev, b.w AS w FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(ws)),
               i -> struct_pack(p := ws[i], w := ws[i + 1]))) AS b
             FROM t WHERE len(ws) >= 2)),
         bc AS (SELECT prev, w, count(*) AS cb FROM bgf GROUP BY prev, w),
         first AS (SELECT t.doc_id,
             CAST(round(ln((uc.cw + 1.0) / (st.n + st.v)) * 1e6) AS BIGINT)
               AS m
           FROM t JOIN uc ON t.ws[1] = uc.w CROSS JOIN st),
         cond AS (SELECT f.doc_id,
             CAST(round(ln((bc.cb + 1.0) / (up.cw + st.v)) * 1e6) AS BIGINT)
               AS m
           FROM bgf f JOIN bc ON f.prev = bc.prev AND f.w = bc.w
           JOIN uc up ON f.prev = up.w CROSS JOIN st),
         s AS (SELECT doc_id, CAST(-sum(m) AS BIGINT) AS micro_nll FROM (
             SELECT * FROM first UNION ALL SELECT * FROM cond)
           GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_tokens, s.micro_nll,
                ((s.micro_nll * 2 + len(t.ws)) // (len(t.ws) * 2)) / 1e6
                  AS avg_nll,
                round(exp(((s.micro_nll * 2 + len(t.ws))
                  // (len(t.ws) * 2)) / 1e6), 4) AS ppl
         FROM t JOIN s USING (doc_id)""",

    // the lm_ppl chain aggregated per source, integer excess over the
    // corpus average, exp tilt, ppm normalization
    "q_t_loss_reweight" ->
      """WITH toks AS (SELECT doc_id, source, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t AS (SELECT doc_id, source, ws FROM toks WHERE len(ws) > 0),
         uc AS (SELECT w, count(*) AS cw FROM (
             SELECT unnest(ws) AS w FROM t) GROUP BY w),
         st AS (SELECT count(*) AS v, CAST(sum(cw) AS DOUBLE) AS n FROM uc),
         bgf AS (SELECT doc_id, b.p AS prev, b.w AS w FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(ws)),
               i -> struct_pack(p := ws[i], w := ws[i + 1]))) AS b
             FROM t WHERE len(ws) >= 2)),
         bc AS (SELECT prev, w, count(*) AS cb FROM bgf GROUP BY prev, w),
         first AS (SELECT t.doc_id,
             CAST(round(ln((uc.cw + 1.0) / (st.n + st.v)) * 1e6) AS BIGINT)
               AS m
           FROM t JOIN uc ON t.ws[1] = uc.w CROSS JOIN st),
         cond AS (SELECT f.doc_id,
             CAST(round(ln((bc.cb + 1.0) / (up.cw + st.v)) * 1e6) AS BIGINT)
               AS m
           FROM bgf f JOIN bc ON f.prev = bc.prev AND f.w = bc.w
           JOIN uc up ON f.prev = up.w CROSS JOIN st),
         s AS (SELECT doc_id, CAST(-sum(m) AS BIGINT) AS micro_nll FROM (
             SELECT * FROM first UNION ALL SELECT * FROM cond)
           GROUP BY doc_id),
         bysrc AS (SELECT t.source,
             CAST(sum(len(t.ws)) AS BIGINT) AS n_tokens,
             CAST(sum(s.micro_nll) AS BIGINT) AS micro_nll
           FROM t JOIN s USING (doc_id) GROUP BY t.source),
         tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tnt,
             CAST(sum(micro_nll) AS BIGINT) AS tmn FROM bysrc),
         ex AS (SELECT source, n_tokens,
             (micro_nll * 2 + n_tokens) // (n_tokens * 2)
               AS avg_nll_micro,
             (micro_nll * 2 + n_tokens) // (n_tokens * 2)
               - (tot.tmn * 2 + tot.tnt) // (tot.tnt * 2) AS excess_micro
           FROM bysrc, tot),
         e AS (SELECT *, CAST(round(exp(1.0 * excess_micro / 1e6) * 1e6)
                 AS BIGINT) AS e_micro FROM ex),
         es AS (SELECT sum(e_micro) AS esum_micro FROM e)
         SELECT source, n_tokens, avg_nll_micro, excess_micro,
                CAST(round(e_micro / es.esum_micro * 1e6) AS BIGINT)
                  AS weight_ppm
         FROM e, es""",

    // DSIR hashed-unigram importance weights: target = source 'src0',
    // 256 md5-prefix buckets, per-token llr quantized to micro-nats
    "q_t_dsir" ->
      """WITH tok AS (SELECT doc_id, source, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS w
           FROM documents),
         raw AS (SELECT doc_id, substr(md5(w), 1, 2) AS bucket FROM tok),
         rc AS (SELECT bucket, count(*) AS cr FROM raw GROUP BY bucket),
         tc AS (SELECT substr(md5(w), 1, 2) AS bucket, count(*) AS ct
           FROM tok WHERE source = 'src0' GROUP BY bucket),
         nr AS (SELECT CAST(sum(cr) AS DOUBLE) AS nr FROM rc),
         nt AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt FROM tc),
         model AS (SELECT rc.bucket,
             CAST(round((ln((coalesce(tc.ct, 0) + 1.0) / (nt.nt + 256.0)) -
                         ln((rc.cr + 1.0) / (nr.nr + 256.0))) * 1e6)
               AS BIGINT) AS m
           FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN nr CROSS JOIN nt),
         sc AS (SELECT raw.doc_id, count(*) AS n_tokens,
                       CAST(sum(m.m) AS BIGINT) AS micro_llr
           FROM raw JOIN model m USING (bucket) GROUP BY raw.doc_id)
         SELECT doc_id, n_tokens, micro_llr,
                (CASE WHEN micro_llr < 0 THEN -1 ELSE 1 END *
                  ((abs(micro_llr) * 2 + n_tokens) // (n_tokens * 2)))
                  / 1e6 AS avg_llr,
                micro_llr > 0 AS keep
         FROM sc""",

    // per-source KL(P_s || Q) over add-one unigram models on the shared
    // corpus vocabulary; each term quantized to pico-nats pre-sum
    "q_t_source_kl" ->
      """WITH tok AS (SELECT source AS src, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS w
           FROM documents),
         sw AS (SELECT src, w, count(*) AS cs FROM tok GROUP BY src, w),
         vocab AS (SELECT w, CAST(sum(cs) AS BIGINT) AS cq
           FROM sw GROUP BY w),
         st AS (SELECT count(*) AS v, CAST(sum(cq) AS DOUBLE) AS n
           FROM vocab),
         tot AS (SELECT src, CAST(sum(cs) AS BIGINT) AS n_tokens
           FROM sw GROUP BY src),
         dense AS (SELECT t.src, t.n_tokens, v.w, v.cq,
                          coalesce(sw.cs, 0) AS cs
           FROM vocab v CROSS JOIN tot t
           LEFT JOIN sw ON sw.src = t.src AND sw.w = v.w),
         terms AS (SELECT src, n_tokens,
             CAST(round(((cs + 1.0) / (n_tokens + st.v)) *
               ln(((cs + 1.0) / (n_tokens + st.v)) /
                  ((cq + 1.0) / (st.n + st.v))) * 1e12) AS BIGINT) AS t
           FROM dense CROSS JOIN st)
         SELECT src AS source, n_tokens,
                CAST(sum(t) AS BIGINT) AS pico_kl,
                (CASE WHEN CAST(sum(t) AS BIGINT) < 0 THEN -1 ELSE 1 END *
                  ((abs(CAST(sum(t) AS BIGINT)) * 2 + 1000000) // 2000000))
                  / 1e6 AS kl
         FROM terms GROUP BY src, n_tokens""",

    // the quality classifier's 2-step training loop + scoring, replayed
    // as unrolled CTE stages (see logregSql)
    "q_t_logreg" -> logregSql(2),

    // HLL registers replayed: md5-hex -> 60-bit int, bucket = top 10
    // bits, rho = 1 + leading zeros of the low 50, registers max'd then
    // collapsed to the exact-integer (nonzero, harmonic) pair per source
    "q_sk_hll" ->
      """WITH w AS (SELECT source, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS w
           FROM documents),
         h AS (SELECT source,
             ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM w),
         r AS (SELECT source, h >> 50 AS bucket,
             CASE WHEN (h & ((1::BIGINT << 50) - 1)) = 0 THEN 51
                  ELSE 51 - length(bin(h & ((1::BIGINT << 50) - 1)))
             END AS rho
           FROM h),
         reg AS (SELECT source, bucket, max(rho) AS m_j
           FROM r GROUP BY 1, 2),
         rep AS (SELECT source, count(*) AS nonzero_registers,
             sum(1::BIGINT << (51 - m_j)) AS present_sum
           FROM reg GROUP BY 1)
         SELECT source, 1024 AS m, nonzero_registers,
                CAST(present_sum + (1024 - nonzero_registers)
                  * (1::BIGINT << 51) AS BIGINT) AS harmonic_scaled
         FROM rep""",

    // Count-Min replay: 4 md5-seeded hash rows x 512 cells, point-query
    // min over the addressed cells for the exact top-20 terms
    "q_sk_cms" ->
      """WITH w AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS v
           FROM documents),
         occ AS (SELECT v, unnest(range(0, 4)) AS d FROM w),
         cell AS (SELECT d,
             ('0x' || substr(md5(d || '|' || v), 1, 15))::BIGINT % 512
               AS c
           FROM occ),
         sk AS (SELECT d, c, count(*) AS cnt FROM cell GROUP BY 1, 2),
         top AS (SELECT v, count(*) AS true_cnt FROM w GROUP BY v
           ORDER BY true_cnt DESC, v LIMIT 20),
         pr AS (SELECT t.v, t.true_cnt, dd.d,
             ('0x' || substr(md5(dd.d || '|' || t.v), 1, 15))::BIGINT
               % 512 AS c
           FROM top t, (SELECT unnest(range(0, 4)) AS d) dd),
         est AS (SELECT v, true_cnt, min(cnt) AS cms_est
           FROM pr JOIN sk USING (d, c) GROUP BY 1, 2)
         SELECT v, true_cnt, CAST(cms_est AS BIGINT) AS cms_est,
                CAST(cms_est - true_cnt AS BIGINT) AS overestimate
         FROM est""",

    // tf-idf replay: micro-nat idf over ln(N/df), integer scores,
    // per-source row_number top-10 (the Spark side's two-level shard
    // top-k is exact, so the plain window reproduces it)
    "q_t_tfidf" ->
      """WITH toks AS (SELECT source, doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t AS (SELECT * FROM toks WHERE len(ws) > 0),
         occ AS (SELECT source, doc_id, unnest(ws) AS w FROM t),
         n AS (SELECT count(*) AS n FROM t),
         dfreq AS (SELECT w, count(*) AS df_docs FROM (
             SELECT DISTINCT doc_id, w FROM occ) GROUP BY w),
         idf AS (SELECT w, df_docs,
             CAST(round(ln(CAST(n.n AS DOUBLE) / CAST(df_docs AS DOUBLE))
               * 1e6) AS BIGINT) AS idf_micro
           FROM dfreq, n),
         tf AS (SELECT source, w, count(*) AS tf FROM occ GROUP BY 1, 2),
         sc AS (SELECT tf.source, tf.w, tf.tf, idf.df_docs,
             tf.tf * idf.idf_micro AS score_micro
           FROM tf JOIN idf USING (w)),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY score_micro DESC, w) AS rnk FROM sc)
         SELECT source, w, tf, df_docs,
                CAST(score_micro AS BIGINT) AS score_micro,
                CAST(rnk AS INT) AS rnk
         FROM r WHERE rnk <= 10""",

    // hashing-vectorizer replay: milli-nat idf, md5 bucket mod 64,
    // sparse sums densified by a range cross join, ordered list join
    "q_t_hash_vectors" ->
      """WITH toks AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t AS (SELECT * FROM toks WHERE len(ws) > 0),
         occ AS (SELECT doc_id AS id, unnest(ws) AS w FROM t),
         n AS (SELECT count(*) AS n FROM t),
         idf AS (SELECT w, CAST(round(ln(CAST(n.n AS DOUBLE)
             / CAST(df_docs AS DOUBLE)) * 1e3) AS BIGINT) AS idf_milli
           FROM (SELECT w, count(*) AS df_docs FROM (
               SELECT DISTINCT id, w FROM occ) GROUP BY w), n),
         cw AS (SELECT id, w, count(*) AS cnt FROM occ GROUP BY 1, 2),
         sp AS (SELECT id,
             ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS bucket,
             CAST(sum(cnt * idf_milli) AS BIGINT) AS v
           FROM cw JOIN idf USING (w) GROUP BY 1, 2
           HAVING CAST(sum(cnt * idf_milli) AS BIGINT) <> 0),
         dense AS (SELECT d.id, r.b, coalesce(sp.v, 0) AS v
           FROM (SELECT DISTINCT id FROM sp) d
           CROSS JOIN (SELECT unnest(range(0, 64)) AS b) r
           LEFT JOIN sp ON sp.id = d.id AND sp.bucket = r.b)
         SELECT id AS doc_id,
                array_to_string(list(v ORDER BY b), ',') AS vec_csv
         FROM dense GROUP BY id""",

    // sparse integer dot-product knn over the hashed features
    "q_t_text_knn" ->
      """WITH toks AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t AS (SELECT * FROM toks WHERE len(ws) > 0),
         occ AS (SELECT doc_id AS id, unnest(ws) AS w FROM t),
         n AS (SELECT count(*) AS n FROM t),
         idf AS (SELECT w, CAST(round(ln(CAST(n.n AS DOUBLE)
             / CAST(df_docs AS DOUBLE)) * 1e3) AS BIGINT) AS idf_milli
           FROM (SELECT w, count(*) AS df_docs FROM (
               SELECT DISTINCT id, w FROM occ) GROUP BY w), n),
         cw AS (SELECT id, w, count(*) AS cnt FROM occ GROUP BY 1, 2),
         sp AS (SELECT id,
             ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS bucket,
             CAST(sum(cnt * idf_milli) AS BIGINT) AS v
           FROM cw JOIN idf USING (w) GROUP BY 1, 2
           HAVING CAST(sum(cnt * idf_milli) AS BIGINT) <> 0),
         pr AS (SELECT id AS probe_id, bucket, v AS pv FROM sp
           WHERE id < 20),
         dots AS (SELECT pr.probe_id, s.id AS doc_id,
             CAST(sum(pr.pv * s.v) AS BIGINT) AS dot
           FROM pr JOIN sp s USING (bucket)
           WHERE s.id <> pr.probe_id
           GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
             ORDER BY dot DESC, doc_id) AS rnk FROM dots)
         SELECT probe_id, doc_id, dot, CAST(rnk AS INT) AS rnk
         FROM r WHERE rnk <= 5""",

    // PMI replay: bigram-event marginals, micro-nat ln, top-20 under
    // (pmi desc, prev, w)
    "q_t_pmi" ->
      """WITH t AS (SELECT list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t2 AS (SELECT ws FROM t WHERE len(ws) >= 2),
         bg AS (SELECT b.p AS prev, b.w AS w FROM (
             SELECT unnest(list_transform(range(1, len(ws)),
               i -> struct_pack(p := ws[i], w := ws[i + 1]))) AS b
             FROM t2)),
         cab AS (SELECT prev, w, count(*) AS c_ab FROM bg GROUP BY 1, 2),
         ca AS (SELECT prev, count(*) AS c_a FROM bg GROUP BY 1),
         cb AS (SELECT w, count(*) AS c_b FROM bg GROUP BY 1),
         n AS (SELECT count(*) AS n FROM bg),
         cand AS (SELECT cab.prev, cab.w, cab.c_ab,
             CAST(round(ln(CAST(c_ab AS DOUBLE) * CAST(n.n AS DOUBLE)
               / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))) * 1e6)
               AS BIGINT) AS pmi_micro
           FROM cab JOIN ca USING (prev) JOIN cb USING (w) CROSS JOIN n
           WHERE c_ab >= 5),
         r AS (SELECT *, row_number() OVER (
             ORDER BY pmi_micro DESC, prev, w) AS rnk FROM cand)
         SELECT prev, w, c_ab, pmi_micro, CAST(rnk AS INT) AS rnk
         FROM r WHERE rnk <= 20""",

    // bottom-k containment replay: same shingle fragment as the minhash
    // oracles, one md5 hash, sorted-prefix sketches, union-bottom-k
    // estimators, blocking on the 3 smallest hashes with the bucket cap
    "q_d_containment" ->
      """WITH w AS (SELECT doc_id, list_filter(
             string_split_regex(lower(text), '[^a-z0-9_]+'), t -> t <> '')
             AS ws
           FROM documents),
         g AS (SELECT doc_id, unnest(CASE WHEN len(ws) < 3
             THEN [array_to_string(ws, ' ')]
             ELSE list_distinct(list_transform(
               generate_series(1, len(ws) - 2),
               i -> array_to_string(ws[i : i + 2], ' ')))
             END) AS shingle
           FROM w),
         hs AS (SELECT doc_id, list_sort(list_transform(list(shingle),
             s -> substr(md5(s), 1, 16))) AS allh
           FROM g GROUP BY doc_id),
         sk AS (SELECT doc_id, allh[1:12] AS bk FROM hs),
         blk AS (SELECT doc_id, unnest(bk[1:3]) AS h FROM sk),
         bb AS (SELECT doc_id, h FROM (
             SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS c
             FROM blk) WHERE c <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bb a JOIN bb b ON a.h = b.h AND a.doc_id < b.doc_id),
         p AS (SELECT c.id_a, c.id_b, sa.bk AS bka, sb.bk AS bkb
           FROM cand c JOIN sk sa ON sa.doc_id = c.id_a
           JOIN sk sb ON sb.doc_id = c.id_b),
         m AS (SELECT id_a, id_b, bka, bkb,
             list_sort(list_distinct(list_concat(bka, bkb)))[1:12] AS mu
           FROM p),
         x AS (SELECT id_a, id_b,
             len(mu) AS union_k,
             len(list_filter(mu, h -> list_contains(bka, h)
               AND list_contains(bkb, h))) AS inter_k,
             len(list_filter(mu, h -> list_contains(bka, h))) AS in_a,
             len(list_filter(mu, h -> list_contains(bkb, h))) AS in_b
           FROM m)
         SELECT id_a, id_b,
           CAST(union_k AS INT) AS union_k,
           CAST(inter_k AS INT) AS inter_k,
           CAST(in_a AS INT) AS in_a, CAST(in_b AS INT) AS in_b,
           round(inter_k / CAST(union_k AS DOUBLE), 6) AS est_jaccard,
           CASE WHEN in_a > 0
             THEN round(inter_k / CAST(in_a AS DOUBLE), 6)
             ELSE 0.0 END AS cont_a_in_b,
           CASE WHEN in_b > 0
             THEN round(inter_k / CAST(in_b AS DOUBLE), 6)
             ELSE 0.0 END AS cont_b_in_a
         FROM x
         WHERE greatest(
           CASE WHEN in_a > 0 THEN inter_k / CAST(in_a AS DOUBLE)
                ELSE 0.0 END,
           CASE WHEN in_b > 0 THEN inter_k / CAST(in_b AS DOUBLE)
                ELSE 0.0 END) >= 0.5""",

    // overlap matrix replay: distinct (source, norm-hash) collapse,
    // within-source diagonal + cross-source hash join
    "q_d_source_overlap" ->
      """WITH h AS (SELECT source AS src,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
           FROM documents),
         dh AS (SELECT DISTINCT src, h FROM h),
         sz AS (SELECT src, count(*) AS n_distinct FROM dh GROUP BY src),
         within AS (SELECT d.src AS src_a, d.src AS src_b,
             d.n_docs - sz.n_distinct AS n_overlap,
             sz.n_distinct AS n_distinct_a, sz.n_distinct AS n_distinct_b
           FROM (SELECT src, count(*) AS n_docs FROM h GROUP BY src) d
           JOIN sz ON sz.src = d.src),
         cross_src AS (SELECT a.src AS src_a, b.src AS src_b,
             count(*) AS n_overlap
           FROM dh a JOIN dh b ON a.h = b.h AND a.src < b.src
           GROUP BY 1, 2)
         SELECT src_a, src_b, n_overlap, n_distinct_a, n_distinct_b
         FROM within
         UNION ALL
         SELECT c.src_a, c.src_b, c.n_overlap,
                sa.n_distinct AS n_distinct_a, sb.n_distinct AS n_distinct_b
         FROM cross_src c
         JOIN sz sa ON sa.src = c.src_a
         JOIN sz sb ON sb.src = c.src_b""",

    // winnowing replay: 60-bit md5-prefix gram hashes, leftmost-min
    // window selection, distinct selected positions
    "q_t_winnow" ->
      """WITH w AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         g AS (SELECT doc_id, list_transform(
             generate_series(1, len(ws) - 3), i ->
               ('0x' || substr(md5(array_to_string(ws[i : i + 3], ' ')),
                 1, 15))::BIGINT) AS gh
           FROM w WHERE len(ws) >= 4),
         s AS (SELECT doc_id, gh, list_distinct(list_transform(
             generate_series(1, greatest(len(gh) - 3, 1)), j ->
               j - 1 + list_position(gh[j : j + 3],
                 list_min(gh[j : j + 3])))) AS ps
           FROM g)
         SELECT doc_id, CAST(p AS INT) AS pos, gh[p] AS fp
         FROM (SELECT doc_id, gh, unnest(ps) AS p FROM s)""",

    // the winnow fingerprint frame mined for pairs: distinct (doc, fp),
    // df-cut <= 100, self-join, shared-count >= 2
    "q_d_winnow_pairs" ->
      """WITH w AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         g AS (SELECT doc_id, list_transform(
             generate_series(1, len(ws) - 3), i ->
               ('0x' || substr(md5(array_to_string(ws[i : i + 3], ' ')),
                 1, 15))::BIGINT) AS gh
           FROM w WHERE len(ws) >= 4),
         s AS (SELECT doc_id, gh, list_distinct(list_transform(
             generate_series(1, greatest(len(gh) - 3, 1)), j ->
               j - 1 + list_position(gh[j : j + 3],
                 list_min(gh[j : j + 3])))) AS ps
           FROM g),
         fp AS (SELECT DISTINCT doc_id AS id, gh[p] AS fp
           FROM (SELECT doc_id, gh, unnest(ps) AS p FROM s)),
         rare AS (SELECT fp FROM (
             SELECT fp, count(*) AS fp_df FROM fp GROUP BY fp)
           WHERE fp_df <= 100),
         post AS (SELECT f.fp, f.id FROM fp f JOIN rare USING (fp))
         SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
         FROM post a JOIN post b ON a.fp = b.fp AND a.id < b.id
         GROUP BY 1, 2
         HAVING count(*) >= 2""",

    // 64/8 token-window chunking: range() strides, 1-based inclusive
    // list slices; a trailing window adding no new tokens is not emitted
    "q_t_chunks" ->
      """WITH t AS (SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         t2 AS (SELECT doc_id, ws FROM t WHERE len(ws) > 0),
         st AS (SELECT doc_id, ws,
             unnest(range(0, greatest(len(ws) - 8, 1), 56)) AS cs
           FROM t2),
         c AS (SELECT doc_id, CAST(cs // 56 AS INT) AS chunk_id,
             CAST(cs AS INT) AS chunk_start,
             ws[cs + 1 : cs + 64] AS cw
           FROM st)
         SELECT doc_id, chunk_id, chunk_start,
                CAST(len(cw) AS INT) AS n_chunk_tokens,
                array_to_string(cw, ' ') AS chunk_text,
                CAST(8 AS INT) AS chunk_overlap
         FROM c""",

    // the q_t_filter verdict chain aggregated to the per-(source,
    // outcome) funnel with within-stratum shares
    "q_t_funnel" ->
      """WITH f AS (
           SELECT doc_id, source,
             length(text) AS nc,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'], w)))
               AS INT) AS nstop,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
               AS npunct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS ndigit,
             list_filter(list_transform(string_split_regex(text, '\r?\n'),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> w <> '') AS words
           FROM documents),
         r AS (
           SELECT doc_id, source, nw,
             CASE WHEN nw > 0 THEN (nc - nw + 1) / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS awl,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS stopr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS punctr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS digitr,
             CASE WHEN len(lines) > 0 THEN
               (len(lines) - len(list_distinct(lines)))
                 / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS duplr,
             CASE WHEN len(words) > 0 THEN
               (len(words) - len(list_distinct(words)))
                 / CAST(len(words) AS DOUBLE) ELSE 0.0 END AS dupwr
           FROM f),
         v AS (
           SELECT source, nw,
             coalesce(CASE WHEN nw < 10 THEN 'too_few_words'
                  WHEN nw > 100000 THEN 'too_many_words'
                  WHEN awl < 2.0 THEN 'short_words'
                  WHEN awl > 12.0 THEN 'long_words'
                  WHEN stopr < 0.01 THEN 'low_stopword'
                  WHEN punctr > 0.2 THEN 'high_punct'
                  WHEN digitr > 0.2 THEN 'high_digit'
                  WHEN duplr > 0.5 THEN 'repetitive_lines'
                  WHEN dupwr > 0.85 THEN 'repetitive_words'
                  END, 'kept') AS outcome
           FROM r),
         g AS (SELECT source, outcome, count(*) AS n_docs,
             CAST(sum(nw) AS BIGINT) AS n_tokens
           FROM v GROUP BY 1, 2),
         tot AS (SELECT source, count(*) AS n_total FROM v GROUP BY 1)
         SELECT g.source, g.outcome, g.n_docs, g.n_tokens,
                round(g.n_docs / CAST(tot.n_total AS DOUBLE), 6) AS share
         FROM g JOIN tot USING (source)""",

    // the q_t_langid classifier aggregated to the (source, lang) mixture
    "q_t_lang_report" ->
      """WITH cls AS (
           SELECT source,
             CASE WHEN best = 0 THEN 'und'
                  WHEN s_en = best THEN 'en'
                  WHEN s_de = best THEN 'de'
                  WHEN s_fr = best THEN 'fr'
                  WHEN s_es = best THEN 'es'
                  ELSE 'it' END AS lang_pred
           FROM (
             SELECT source, s_en, s_de, s_fr, s_es, s_it,
                    greatest(s_en, s_de, s_fr, s_es, s_it) AS best
             FROM (
               SELECT source,
                 len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                   w -> list_contains(['the','and','of','to','is','that','for','with'], w))) AS s_en,
                 len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                   w -> list_contains(['der','die','und','das','ist','nicht','mit','ein'], w))) AS s_de,
                 len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                   w -> list_contains(['le','la','les','et','est','que','pour','dans'], w))) AS s_fr,
                 len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                   w -> list_contains(['el','los','las','es','que','para','con','una'], w))) AS s_es,
                 len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                   w -> list_contains(['il','di','che','per','con','della','sono','una'], w))) AS s_it
               FROM documents)))
         SELECT source, lang_pred, count(*) AS n_docs
         FROM cls GROUP BY source, lang_pred""",

    "q_t_bigrams" ->
      """WITH w AS (SELECT list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')
             AS ws
           FROM documents),
         b AS (SELECT unnest(list_transform(range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i+1])) AS bigram
           FROM w)
         SELECT bigram, count(*) AS n FROM b GROUP BY 1
         ORDER BY n DESC, bigram ASC LIMIT 20""",

    // BPE pair-count step: word-frequency table first, then adjacent
    // char pairs of each DISTINCT word weighted by frequency; substr
    // in both engines is codepoint-based so pairs agree byte-for-byte
    "q_t_bpe_pairs" ->
      """WITH t AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''))
             AS w
           FROM documents),
         wc AS (SELECT w, count(*) AS wc FROM t GROUP BY w),
         p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, wc
           FROM (SELECT w, wc, unnest(range(1, length(w))) AS i
                 FROM wc WHERE length(w) >= 2)),
         agg AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n
           FROM p GROUP BY pair)
         SELECT pair, n FROM agg ORDER BY n DESC, pair ASC LIMIT 100""",

    // the full 6-round training loop recomputed as unrolled CTE stages
    "q_t_bpe_train" -> bpeTrainSql(6),

    // BPE encode replayed end-to-end: merge chain -> induced vocabulary
    // -> per-word ids -> per-doc csv reassembly in word order
    "q_t_bpe_encode" -> bpeEncodeSql(6),
    "q_t_bpe_encode_big" -> bpeEncodeLiteralSql(bigBpeMerges),
    "q_t_byte_bpe" -> byteBpeEncodeSql(byteBpeMerges),
    "q_t_byte_roundtrip" -> "SELECT doc_id, text FROM documents",
    "q_t_byte_bpe_train" -> byteBpeTrainSql(6),
    "q_t_wordpiece" -> wordpieceSql(wordpieceVocab),
    "q_t_unigram" -> unigramSql(unigramVocab, graft.llm.Unigram.DefaultUnkCost),
    "q_t_unigram_train" ->
      unigramTrainSql(4, 120, graft.llm.Unigram.DefaultUnkCost),

    // FIM transform: md5 draws for apply/cuts/mode, list slices +
    // sentinel-token reassembly per mode
    "q_t_fim" ->
      """WITH d AS (SELECT doc_id, text, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
           FROM documents),
         h AS (SELECT doc_id, ws, CAST(len(ws) AS INT) AS n,
             ('0x' || substr(md5(text || '|fim|apply'), 1, 12))::BIGINT
               % 1000000 AS ha,
             ('0x' || substr(md5(text || '|fim|c1'), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(text || '|fim|c2'), 1, 12))::BIGINT AS h2,
             ('0x' || substr(md5(text || '|fim|mode'), 1, 12))::BIGINT
               % 2 AS hm
           FROM d),
         c AS (SELECT doc_id, ws, n, hm,
             (n >= 2 AND ha < 500000) AS applied,
             CAST(least(h1 % greatest(n - 1, 1) + 1,
                        h2 % greatest(n - 1, 1) + 1) AS INT) AS i,
             CAST(greatest(h1 % greatest(n - 1, 1) + 1,
                           h2 % greatest(n - 1, 1) + 1) AS INT) AS j
           FROM h)
         SELECT doc_id,
           CASE WHEN NOT applied THEN 'none'
                WHEN hm = 1 THEN 'spm' ELSE 'psm' END AS fim_mode,
           CASE WHEN applied THEN i ELSE 0 END AS n_prefix,
           CASE WHEN applied THEN j - i ELSE 0 END AS n_middle,
           CASE WHEN applied THEN n - j ELSE 0 END AS n_suffix,
           CASE WHEN NOT applied THEN array_to_string(ws, ' ')
                WHEN hm = 1 THEN array_to_string(
                  ['<fim_suf>'] || ws[j + 1 : n] || ['<fim_pre>']
                    || ws[1 : i] || ['<fim_mid>'] || ws[i + 1 : j], ' ')
                ELSE array_to_string(
                  ['<fim_pre>'] || ws[1 : i] || ['<fim_suf>']
                    || ws[j + 1 : n] || ['<fim_mid>'] || ws[i + 1 : j], ' ')
           END AS fim_text
         FROM c""",

    // tokenizer chain end-to-end: the encode chain's n_tokens feeding
    // the q_pack_chunks per-source running-offset chunk layout
    "q_pack_bpe" -> bpePackSql(6, 256),

    "q_t_repeated_spans" ->
      s"""WITH ${repeatedSpanCtes(5, 2)}
         SELECT doc_id, span_start, span_end, n_grams FROM spans""",

    "q_t_max_spans" ->
      s"""WITH ${maximalSpanCtes(6, 2)}
         SELECT doc_id, span_start, span_end, n_grams FROM spans""",

    "q_t_max_span_trim" ->
      s"""WITH ${maximalSpanCtes(6, 2)},
         cov AS (SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
           FROM spans, LATERAL (SELECT unnest(range(span_start, span_end)) AS p)),
         dw AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
           FROM w, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
         kept AS (SELECT d.doc_id,
             string_agg(d.word, ' ' ORDER BY d.pos) AS text_trimmed
           FROM dw d LEFT JOIN cov c ON c.doc_id = d.doc_id AND c.pos = d.pos
           WHERE c.doc_id IS NULL GROUP BY d.doc_id)
         SELECT w.doc_id, coalesce(k.text_trimmed, '') AS text_trimmed,
                CAST(len(w.ws) - CASE WHEN coalesce(k.text_trimmed, '') = ''
                  THEN 0 ELSE len(string_split(k.text_trimmed, ' ')) END
                  AS INT) AS n_removed
         FROM w LEFT JOIN kept k ON k.doc_id = w.doc_id""",

    "q_t_span_trim" ->
      s"""WITH ${repeatedSpanCtes(5, 2)},
         cov AS (SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
           FROM spans, LATERAL (SELECT unnest(range(span_start, span_end)) AS p)),
         dw AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
           FROM w, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)),
         kept AS (SELECT d.doc_id,
             string_agg(d.word, ' ' ORDER BY d.pos) AS text_trimmed
           FROM dw d LEFT JOIN cov c ON c.doc_id = d.doc_id AND c.pos = d.pos
           WHERE c.doc_id IS NULL GROUP BY d.doc_id)
         SELECT w.doc_id, coalesce(k.text_trimmed, '') AS text_trimmed,
                CAST(len(w.ws) - CASE WHEN coalesce(k.text_trimmed, '') = ''
                  THEN 0 ELSE len(string_split(k.text_trimmed, ' ')) END
                  AS INT) AS n_removed
         FROM w LEFT JOIN kept k ON k.doc_id = w.doc_id""",
    // export round trip: the oracle recomputes the seqLen=512 chunk
    // layout directly; equality proves the partitioned write+read is
    // lossless
    "q_pack_export" -> bpePackSql(6, 512),

    // per-source top-5 by the q_t_quality score formula; identical
    // per-row double arithmetic in both engines makes the ordering
    // engine-exact, and (score desc, doc_id asc) is a total order
    "q_t_curate" ->
      """WITH f AS (
           SELECT doc_id, source, length(text) AS nc,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'], w)))
               AS INT) AS nstop,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
               AS npunct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS ndigit
           FROM documents),
         r AS (
           SELECT doc_id, source,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS sr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS pr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS dr
           FROM f),
         s AS (
           SELECT doc_id, source,
             least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
               CAST(0.4 AS DOUBLE) * least(sr * 4, CAST(1.0 AS DOUBLE)) +
               CAST(0.3 AS DOUBLE) *
                 (CAST(1.0 AS DOUBLE) - least(pr * 5, CAST(1.0 AS DOUBLE))) +
               CAST(0.3 AS DOUBLE) *
                 (CAST(1.0 AS DOUBLE) - least(dr * 5, CAST(1.0 AS DOUBLE)))))
               AS q
           FROM r)
         SELECT source, doc_id, rank FROM (
           SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY q DESC, doc_id ASC) AS BIGINT) AS rank
           FROM s)
         WHERE rank <= 5""",

    // per-source report over the same rule family as q_t_filter; the
    // dominant drop reason is picked under (count desc, reason asc)
    "q_t_source_report" ->
      """WITH f AS (
           SELECT doc_id, source,
             length(text) AS nc,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT)
               AS nw,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in',
                 'is','it','that','for','on','with','as','was','at','by'], w)))
               AS INT) AS nstop,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
               AS npunct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS ndigit,
             list_filter(list_transform(string_split_regex(text, '\r?\n'),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> w <> '') AS words
           FROM documents),
         r AS (
           SELECT doc_id, source, nc, nw,
             CASE WHEN nw > 0 THEN (nc - nw + 1) / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS awl,
             CASE WHEN nw > 0 THEN nstop / CAST(nw AS DOUBLE)
                  ELSE 0.0 END AS stopr,
             CASE WHEN nc > 0 THEN npunct / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS punctr,
             CASE WHEN nc > 0 THEN ndigit / CAST(nc AS DOUBLE)
                  ELSE 0.0 END AS digitr,
             CASE WHEN len(lines) > 0 THEN
               (len(lines) - len(list_distinct(lines)))
                 / CAST(len(lines) AS DOUBLE) ELSE 0.0 END AS duplr,
             CASE WHEN len(words) > 0 THEN
               (len(words) - len(list_distinct(words)))
                 / CAST(len(words) AS DOUBLE) ELSE 0.0 END AS dupwr
           FROM f),
         cls AS (
           SELECT doc_id, source, nc, nw,
             CASE WHEN nw < 10 THEN 'too_few_words'
                  WHEN nw > 100000 THEN 'too_many_words'
                  WHEN awl < 2.0 THEN 'short_words'
                  WHEN awl > 12.0 THEN 'long_words'
                  WHEN stopr < 0.01 THEN 'low_stopword'
                  WHEN punctr > 0.2 THEN 'high_punct'
                  WHEN digitr > 0.2 THEN 'high_digit'
                  WHEN duplr > 0.5 THEN 'repetitive_lines'
                  WHEN dupwr > 0.85 THEN 'repetitive_words'
                  END AS reason
           FROM r),
         base AS (
           SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN reason IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(sum(nw) AS BIGINT) AS total_words,
             CAST(sum(nc) AS BIGINT) AS total_chars
           FROM cls GROUP BY source),
         tops AS (
           SELECT source, reason AS top_drop_reason FROM (
             SELECT source, reason, count(*) AS n,
               row_number() OVER (PARTITION BY source
                 ORDER BY count(*) DESC, reason ASC) AS rn
             FROM cls WHERE reason IS NOT NULL GROUP BY source, reason)
           WHERE rn = 1)
         SELECT b.source, b.n_docs, b.n_kept,
                b.n_kept / CAST(b.n_docs AS DOUBLE) AS keep_rate,
                b.total_words, b.total_chars, t.top_drop_reason
         FROM base b LEFT JOIN tops t USING (source)""",

    "q_t_quality" ->
      """SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT)
               AS n_words,
             CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
               AS DOUBLE) / length(text) AS punct_ratio,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS DOUBLE) / length(text) AS digit_ratio,
             CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> list_contains(['the','a','an','and','or','of','to','in','is',
                 'it','that','for','on','with','as','was','at','by'], w)))
               AS DOUBLE)
               / len(string_split_regex(lower(trim(text)), '\s+'))
               AS stopword_ratio
         FROM documents""",

    "q_t_langid" ->
      """SELECT doc_id,
             CASE WHEN best = 0 THEN 'und'
                  WHEN s_en = best THEN 'en'
                  WHEN s_de = best THEN 'de'
                  WHEN s_fr = best THEN 'fr'
                  WHEN s_es = best THEN 'es'
                  ELSE 'it' END AS lang_pred,
             CAST(best AS INT) AS lang_score
         FROM (
           SELECT doc_id, s_en, s_de, s_fr, s_es, s_it,
                  greatest(s_en, s_de, s_fr, s_es, s_it) AS best
           FROM (
             SELECT doc_id,
               len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                 w -> list_contains(['the','and','of','to','is','that','for','with'], w))) AS s_en,
               len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                 w -> list_contains(['der','die','und','das','ist','nicht','mit','ein'], w))) AS s_de,
               len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                 w -> list_contains(['le','la','les','et','est','que','pour','dans'], w))) AS s_fr,
               len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                 w -> list_contains(['el','los','las','es','que','para','con','una'], w))) AS s_es,
               len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                 w -> list_contains(['il','di','che','per','con','della','sono','una'], w))) AS s_it
             FROM documents))""",

    "q_t_fingerprint" ->
      """SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               AS content_md5
         FROM documents""",

    "q_t_tokens" ->
      """SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
               AS n_ws_tokens,
             CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                    t -> t <> ''))
               + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
               AS INT) AS n_bpe_tokens
         FROM documents""",

    // scrub: counts taken on the progressively-scrubbed text, like the
    // engine (URL swallows embedded emails/IPs)
    "q_t_scrub" ->
      """WITH s1 AS (SELECT doc_id, text AS t0,
             regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t1
           FROM documents),
         s2 AS (SELECT doc_id, t0, t1,
             regexp_replace(t1,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t2
           FROM s1)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t0, 'https?://[^\s]+')) AS INT)
             AS n_urls,
           CAST(len(regexp_extract_all(t1,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(t2,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT)
             AS n_ips,
           regexp_replace(t2,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
             '<IP>', 'g') AS scrubbed
         FROM s2""",

    // content-hash split: first md5 byte, hex-string range compare
    "q_split_hash" ->
      """SELECT doc_id, substr(md5(text), 1, 2) AS split_bucket,
             CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
         FROM documents""",

    // profiling recomputed per column (quantile_cont == Spark's exact
    // interpolated percentile)
    "q_profile_stats" -> Seq("l_quantity", "l_linenumber", "l_partkey").map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
              count(*) - count($c) AS n_null,
              count(DISTINCT $c) AS n_distinct,
              CAST(min($c) AS DOUBLE) AS min_v,
              CAST(max($c) AS DOUBLE) AS max_v,
              quantile_cont(CAST($c AS DOUBLE), 0.25) AS p25,
              quantile_cont(CAST($c AS DOUBLE), 0.5) AS p50,
              quantile_cont(CAST($c AS DOUBLE), 0.75) AS p75
          FROM lineitem"""
    }.mkString(" UNION ALL "),

    // contamination: distinct 3-gram overlap between train and holdout
    "q_contamination" ->
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         g AS (SELECT DISTINCT doc_id,
             array_to_string(ws[i : i + 2], ' ') AS shingle
           FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0)))
             AS t(i))
         SELECT tr.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
         FROM (SELECT * FROM g WHERE doc_id % 97 <> 0) tr
         JOIN (SELECT * FROM g WHERE doc_id % 97 = 0) b USING (shingle)
         GROUP BY 1, 2 HAVING count(*) >= 2""",

    // the stream-static screen must land on exactly the batch answer
    "q_stream_contam" ->
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS ws
           FROM documents),
         g AS (SELECT DISTINCT doc_id,
             array_to_string(ws[i : i + 2], ' ') AS shingle
           FROM w, UNNEST(generate_series(1, greatest(len(ws) - 2, 0)))
             AS t(i))
         SELECT tr.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
         FROM (SELECT * FROM g WHERE doc_id % 97 <> 0) tr
         JOIN (SELECT * FROM g WHERE doc_id % 97 = 0) b USING (shingle)
         GROUP BY 1, 2 HAVING count(*) >= 2""",

    // repetition signals recomputed over DuckDB list lambdas (\r?\n
    // split matches the engine's CRLF handling)
    "q_t_repetition" ->
      """WITH s AS (
           SELECT doc_id,
             list_filter(list_transform(string_split_regex(text, '\r?\n'),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
               w -> w <> '') AS words
           FROM documents),
         c AS (
           SELECT doc_id,
             len(lines) AS nl, len(list_distinct(lines)) AS nul,
             len(list_filter(lines, l -> regexp_matches(l, '^[-*•]')))
               AS n_bullet,
             len(list_filter(lines, l -> l LIKE '%...')) AS n_ellipsis,
             len(words) AS nw, len(list_distinct(words)) AS nuw
           FROM s)
         SELECT doc_id, CAST(nl AS INT) AS n_lines,
           CASE WHEN nl>0 THEN (nl-nul)/CAST(nl AS DOUBLE) ELSE 0.0 END
             AS dup_line_ratio,
           CASE WHEN nw>0 THEN (nw-nuw)/CAST(nw AS DOUBLE) ELSE 0.0 END
             AS dup_word_ratio,
           CASE WHEN nl>0 THEN n_bullet/CAST(nl AS DOUBLE) ELSE 0.0 END
             AS bullet_line_ratio,
           CASE WHEN nl>0 THEN n_ellipsis/CAST(nl AS DOUBLE) ELSE 0.0 END
             AS ellipsis_line_ratio
         FROM c""",

    // Independent DuckDB recomputation of Merge.reconcile over the
    // TpchShapes fixture frames (keep in lockstep with TpchShapes.scala)
    "q_m1_reconcile" ->
      """WITH st0 AS (
           SELECT o_orderkey AS key,
                  CAST(o_custkey % 300 AS INT) AS src,
                  CAST(o_orderkey % 2000 AS INT) AS dest,
                  CASE WHEN o_orderstatus='O' THEN 'NCBI'
                       WHEN o_orderstatus='F' THEN 'HGNC' ELSE 'RGD' END AS xsrc,
                  CASE WHEN o_totalprice>200000 THEN 'a,b,c'
                       WHEN o_totalprice>100000 THEN 'a,b' ELSE 'a' END AS xset
           FROM orders WHERE o_orderkey % 4 = 0
           QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey % 300,
             o_orderkey % 2000 ORDER BY o_orderkey) = 1),
         in0 AS (
           SELECT CAST(o_custkey % 300 AS INT) AS src,
                  CAST(o_orderkey % 2000 AS INT) AS dest,
                  CASE WHEN o_orderstatus='O' THEN 'NCBI' ELSE 'HGNC' END AS xsrc,
                  CASE WHEN o_totalprice>200000 THEN 'a,b,c'
                       WHEN o_totalprice>100000 THEN 'a,b' ELSE 'a' END AS xset
           FROM orders WHERE o_orderkey % 4 = 1
           QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey % 300,
             o_orderkey % 2000 ORDER BY o_orderkey) = 1),
         ann_st AS (
           SELECT s.*,
                  CASE s.xsrc WHEN 'RGD' THEN 4 WHEN 'Alliance' THEN 3
                       WHEN 'HGNC' THEN 2 WHEN 'NCBI' THEN 1 ELSE 0 END AS pri,
                  len(string_split(s.xset, ',')) AS ev,
                  CASE WHEN lower(gs.c_name) IS NOT DISTINCT FROM lower(gd.c_name)
                       THEN 1 ELSE 0 END AS symm,
                  gd.c_name AS dsym
           FROM st0 s
           LEFT JOIN customer gs ON gs.c_custkey = s.src
           LEFT JOIN customer gd ON gd.c_custkey = s.dest),
         ann_in AS (
           SELECT i.*,
                  CASE i.xsrc WHEN 'RGD' THEN 4 WHEN 'Alliance' THEN 3
                       WHEN 'HGNC' THEN 2 WHEN 'NCBI' THEN 1 ELSE 0 END AS pri,
                  len(string_split(i.xset, ',')) AS ev,
                  CASE WHEN lower(gs.c_name) IS NOT DISTINCT FROM lower(gd.c_name)
                       THEN 1 ELSE 0 END AS symm,
                  gd.c_name AS dsym
           FROM in0 i
           LEFT JOIN customer gs ON gs.c_custkey = i.src
           LEFT JOIN customer gd ON gd.c_custkey = i.dest),
         inc AS (SELECT * FROM ann_in
           QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY pri DESC,
             ev DESC, symm DESC, lower(dsym) DESC NULLS LAST, dest ASC) = 1),
         ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src ORDER BY
             pri DESC, ev DESC, symm DESC, lower(dsym) DESC NULLS LAST,
             dest ASC) AS rn FROM ann_st),
         best AS (SELECT * FROM ranked WHERE rn = 1),
         dup_del AS (SELECT * FROM ranked WHERE rn > 1 AND xsrc <> 'RGD'
           AND src IN (SELECT src FROM inc)),
         cmp AS (
           SELECT i.src AS isrc, e.src AS esrc, i.dest AS idest,
                  e.dest AS edest, e.key AS ekey, e.xsrc AS exsrc,
                  CASE WHEN i.src IS NULL THEN 'stale'
                       WHEN e.src IS NULL THEN 'insert'
                       WHEN e.dest = i.dest THEN 'match'
                       WHEN (CASE WHEN e.pri <> i.pri THEN e.pri < i.pri
                                  WHEN e.ev <> i.ev THEN e.ev < i.ev
                                  WHEN e.symm = 1 THEN false
                                  WHEN i.symm = 1 THEN true
                                  WHEN e.dsym IS NULL AND i.dsym IS NOT NULL THEN true
                                  WHEN i.dsym IS NULL THEN false
                                  ELSE lower(e.dsym) < lower(i.dsym) END)
                         THEN 'replace'
                       ELSE 'downgrade' END AS cls
           FROM inc i FULL OUTER JOIN best e ON i.src = e.src),
         inserted AS (
           SELECT (SELECT max(key) FROM st0)
                    + ROW_NUMBER() OVER (ORDER BY isrc) AS key,
                  isrc AS src, idest AS dest
           FROM cmp WHERE cls IN ('insert','replace')),
         repl_del AS (SELECT ekey AS key, esrc AS src, edest AS dest
           FROM cmp WHERE cls='replace' AND exsrc <> 'RGD'),
         touched AS (SELECT ekey AS key, esrc AS src, edest AS dest
           FROM cmp WHERE cls='match'),
         kept AS (SELECT s.* FROM ann_st s
           WHERE s.key NOT IN (SELECT key FROM dup_del)
             AND s.key NOT IN (SELECT key FROM repl_del)),
         pc AS (SELECT src, count(*) AS n FROM
           (SELECT src FROM kept UNION ALL SELECT src FROM inserted)
           GROUP BY src),
         cand AS (SELECT k.key, k.src, k.dest,
                  ROW_NUMBER() OVER (PARTITION BY k.src ORDER BY k.key) - 1
                    AS ahead
           FROM kept k
           WHERE k.key NOT IN (SELECT key FROM touched)
             AND k.xsrc <> 'RGD'),
         stale AS (SELECT c.key, c.src, c.dest FROM cand c
           JOIN pc ON c.src = pc.src
           WHERE pc.n - c.ahead > 1)
         SELECT 'touched' AS cls, key, src AS srcRgdId, dest AS destRgdId FROM touched
         UNION ALL SELECT 'inserted', key, src, dest FROM inserted
         UNION ALL SELECT 'deleted', key, src, dest FROM dup_del
         UNION ALL SELECT 'deleted', key, src, dest FROM repl_del
         UNION ALL SELECT 'deleted', key, src, dest FROM stale
         UNION ALL SELECT 'downgraded', NULL, isrc, idest FROM cmp
           WHERE cls='downgrade'""",

    // Independent recomputation of the WeakSync incoming build + syncDiff
    "q_m4_weaksync" ->
      """WITH rel AS (
           SELECT CAST(l_orderkey % 400 AS INT) AS m,
                  CAST(l_partkey % 400 AS INT) AS d,
                  CASE WHEN l_partkey % 2 = 0 THEN 'HGNC' ELSE 'NCBI' END AS pipe,
                  CASE WHEN l_partkey % 3 = 0 THEN 'Ensembl'
                       WHEN l_partkey % 3 = 1 THEN 'HomoloGene'
                       ELSE 'OMA' END AS sub
           FROM lineitem WHERE l_orderkey % 3 = 0),
         down AS (
           SELECT CAST(o_custkey % 400 AS INT) AS m,
                  CAST(o_orderkey % 400 AS INT) AS d,
                  CASE WHEN o_orderstatus='O' THEN 'NCBI' ELSE 'HGNC' END AS pipe,
                  CASE WHEN o_totalprice>200000 THEN 'a,b,c'
                       WHEN o_totalprice>100000 THEN 'a,b' ELSE 'a' END AS sub
           FROM orders WHERE o_orderkey % 4 = 2),
         inc0 AS (SELECT * FROM rel UNION ALL SELECT * FROM down),
         strong AS (SELECT DISTINCT CAST(o_custkey % 400 AS INT) AS m,
                  CAST(o_orderkey % 400 AS INT) AS d
           FROM orders WHERE o_orderkey % 7 = 0),
         inc1 AS (SELECT * FROM inc0 i WHERE NOT EXISTS
           (SELECT 1 FROM strong x WHERE x.m = i.m AND x.d = i.d)),
         inc AS (SELECT * FROM inc1
           QUALIFY ROW_NUMBER() OVER (PARTITION BY m, d, pipe
             ORDER BY sub ASC NULLS LAST) = 1),
         st AS (
           SELECT o_orderkey AS akey,
                  CAST(o_custkey % 400 AS INT) AS m,
                  CAST(o_orderkey % 400 AS INT) AS d,
                  CASE WHEN o_totalprice > 150000 THEN 'HGNC' ELSE 'NCBI' END AS pipe,
                  CASE WHEN o_orderstatus='O' THEN 'Ensembl'
                       WHEN o_orderstatus='F' THEN 'HomoloGene' END AS sub
           FROM orders WHERE o_orderkey % 3 = 0),
         j AS (SELECT coalesce(i.m, s.m) AS m, coalesce(i.d, s.d) AS d,
                  s.akey, s.sub AS ssub, i.sub AS isub,
                  (i.m IS NOT NULL) AS ipresent, (s.akey IS NOT NULL) AS spresent
           FROM inc i FULL OUTER JOIN st s
             ON i.m = s.m AND i.d = s.d AND i.pipe = s.pipe)
         SELECT 'matched' AS cls, akey AS assocKey, m AS masterRgdId,
                d AS detailRgdId, ssub AS assocSubType
         FROM j WHERE ipresent AND spresent AND ssub IS NOT DISTINCT FROM isub
         UNION ALL SELECT 'update', akey, m, d, isub
         FROM j WHERE ipresent AND spresent AND ssub IS DISTINCT FROM isub
         UNION ALL SELECT 'insert', NULL, m, d, isub FROM j WHERE NOT spresent
         UNION ALL SELECT 'delete', akey, m, d, ssub
         FROM j WHERE NOT ipresent AND spresent""",

    // Independent recomputation of Grouping.mergeRelations +
    // withComplementaryRelations
    "q_a2_group_merge" ->
      """WITH rel AS (
           SELECT CAST(l_orderkey % 300 AS INT) AS src,
                  CAST(l_partkey % 300 + 1000 AS INT) AS dest,
                  CASE WHEN l_linenumber % 2 = 0 THEN 'HGNC' ELSE 'NCBI' END AS ds,
                  CASE WHEN l_linenumber % 3 = 0 THEN 'Ensembl'
                       WHEN l_linenumber % 3 = 1 THEN 'Ensembl, HomoloGene'
                       ELSE 'OMA' END AS dsn
           FROM lineitem WHERE l_orderkey % 5 = 0),
         toks AS (SELECT src, dest, ds,
                  unnest(string_split_regex(dsn, ',\s*')) AS tok FROM rel),
         g AS (SELECT src, dest,
                  max(CASE WHEN ds='HGNC' THEN 1 ELSE 0 END) AS hashgnc,
                  max(CASE WHEN ds='NCBI' THEN 1 ELSE 0 END) AS hasncbi,
                  list(DISTINCT tok) FILTER (WHERE ds='HGNC') AS htoks,
                  list(DISTINCT tok) AS atoks
           FROM toks GROUP BY src, dest),
         m AS (SELECT src, dest,
                  CASE WHEN hashgnc=1 THEN 'HGNC' ELSE 'NCBI' END AS dataSource,
                  array_to_string(list_sort(list_distinct(
                    CASE WHEN hashgnc=1 THEN
                      coalesce(htoks, CAST([] AS VARCHAR[]))
                        || (CASE WHEN hasncbi=1 THEN ['NCBI']
                            ELSE CAST([] AS VARCHAR[]) END)
                    ELSE atoks END)), ', ') AS dataSetName
           FROM g)
         SELECT src AS groupId, src AS srcRgdId, dest AS destRgdId,
                dataSource, dataSetName FROM m
         UNION ALL
         SELECT src, dest, src, dataSource, dataSetName FROM m""",

    "q_s7_seqkeys" ->
      """SELECT c_custkey,
             100000 + ROW_NUMBER() OVER (ORDER BY c_custkey) AS key
         FROM customer WHERE c_acctbal > 0""",

    "q_f7_unmapped" ->
      """SELECT o_orderkey,
             CASE WHEN o_orderstatus='O' THEN o_custkey ELSE -1 END AS srcRgdId,
             CASE WHEN o_totalprice > 50000 THEN o_orderkey % 1000 ELSE 0 END
               AS destRgdId
         FROM orders
         WHERE (CASE WHEN o_orderstatus='O' THEN o_custkey ELSE -1 END) > 0
           AND (CASE WHEN o_totalprice > 50000 THEN o_orderkey % 1000 ELSE 0 END) > 0""",

    "q_x3_pipesort" ->
      """SELECT p_partkey,
             array_to_string(list_sort(list_distinct(
               string_split(p_brand || '|' || p_name || '|' || p_brand, '|'))),
               '|') AS algos
         FROM part""",

    "q_x1_tabsplit" ->
      """SELECT p_partkey,
             string_split(p_name || chr(9) || p_brand || chr(9) || p_type,
               chr(9))[2] AS f1,
             string_split(p_name || chr(9) || p_brand || chr(9) || p_type,
               chr(9))[3] AS f2
         FROM part""",

    "q_x12_threshold" ->
      """SELECT count(*) AS total,
             CAST((10 * count(*)) // 100 AS BIGINT) AS pct10,
             CAST((3 * count(*)) // 100 AS BIGINT) AS pct3,
             CAST(500 AS BIGINT) AS abs500
         FROM orders""",

    "q_d4_d5_guards" ->
      """SELECT n_rows, CAST(n_rows >= 100 AS INT) AS floor_ok, max_date,
             CAST(datediff('day', max_date, TIMESTAMP '2026-08-12') AS INT)
               AS age_days,
             CAST(datediff('day', max_date, TIMESTAMP '2026-08-12') <= 20000
               AS INT) AS fresh_ok
         FROM (SELECT count(*) AS n_rows FROM customer),
              (SELECT max(o_orderdate) AS max_date FROM orders)""",

    // Independent recomputation of Resolve.resolveRelations
    "q_a6_resolve" ->
      """WITH rels AS (
           SELECT 'EG' || ((l_orderkey % 2000) - (l_orderkey % 2000) % 2) AS srcid,
                  'EG' || ((l_partkey % 2000) - (l_partkey % 2000) % 2) AS destid
           FROM lineitem WHERE l_orderkey % 2 = 0),
         egids AS (SELECT DISTINCT egid FROM (
           SELECT srcid AS egid FROM rels UNION ALL SELECT destid FROM rels)),
         cands AS (
           SELECT DISTINCT 'EG' || (c_custkey - c_custkey % 2) AS egid,
                  CAST(c_custkey AS INT) AS rgdid
           FROM customer
           WHERE c_custkey % 7 <> 0
             AND (CASE WHEN c_mktsegment='MACHINERY' THEN 'allele'
                  ELSE 'protein-coding' END) NOT IN ('allele','splice')
             AND 'EG' || (c_custkey - c_custkey % 2) IN (SELECT egid FROM egids)),
         wstat AS (
           SELECT c.egid, c.rgdid, cu.c_acctbal >= 0 AS isactive
           FROM cands c JOIN customer cu ON cu.c_custkey = c.rgdid),
         repl AS (
           SELECT h.oldid, max(h.newid) AS replid FROM
             (SELECT CAST(c_custkey AS INT) AS oldid,
                     CAST(c_custkey + 1 AS INT) AS newid
              FROM customer WHERE c_acctbal < 0) h
             JOIN customer cu ON cu.c_custkey = h.newid AND cu.c_acctbal >= 0
           GROUP BY h.oldid),
         agg AS (
           SELECT w.egid,
                  sum(CASE WHEN w.isactive THEN 1 ELSE 0 END) AS activec,
                  sum(CASE WHEN NOT w.isactive AND r.replid IS NOT NULL
                      THEN 1 ELSE 0 END) AS replacedc
           FROM wstat w LEFT JOIN repl r ON w.rgdid = r.oldid
           GROUP BY w.egid),
         emap AS (
           SELECT egid,
                  CASE WHEN activec > 1 THEN 'multiple'
                       WHEN activec = 1 THEN 'matched'
                       WHEN replacedc > 1 THEN 'multiple'
                       WHEN replacedc = 1 THEN 'matched'
                       ELSE 'withdrawn' END AS outcome
           FROM agg),
         fin AS (
           SELECT CASE WHEN coalesce(s.outcome,'unmatched') <> 'matched'
                         THEN coalesce(s.outcome,'unmatched')
                       WHEN coalesce(d.outcome,'unmatched') <> 'matched'
                         THEN coalesce(d.outcome,'unmatched')
                       ELSE 'matched' END AS outcome,
                  CASE WHEN coalesce(s.outcome,'unmatched') <> 'matched' THEN 'src'
                       WHEN coalesce(d.outcome,'unmatched') <> 'matched' THEN 'dest'
                       END AS failedSide
           FROM rels r
           LEFT JOIN emap s ON s.egid = r.srcid
           LEFT JOIN emap d ON d.egid = r.destid)
         SELECT outcome, failedSide, count(*) AS n
         FROM fin GROUP BY outcome, failedSide""",

    // Independent recomputation of the Cascade (candidates + 4-tier pick)
    "q_w24_cascade_run" ->
      """WITH rel AS (
           SELECT CAST(l_orderkey % 500 AS INT) AS grp,
                  CAST(l_orderkey % 500 AS INT) AS src,
                  CAST(l_partkey % 1500 + 1 AS INT) AS dest,
                  CASE WHEN l_partkey % 2 = 0 THEN 'HGNC' ELSE 'NCBI' END AS xsrc,
                  CASE WHEN l_partkey % 3 = 0 THEN 'Ensembl'
                       WHEN l_partkey % 3 = 1 THEN 'Ensembl,HomoloGene'
                       ELSE 'Ensembl,HomoloGene,OMA' END AS xset,
                  CASE WHEN l_partkey % 2 = 0 THEN 2 ELSE 1 END AS tier
           FROM lineitem WHERE l_orderkey % 4 = 0),
         ks AS (SELECT DISTINCT grp, src FROM rel),
         -- manual tier is both-endpoints-ACTIVE in the registry
         -- (ids 0..1800, every 23rd WITHDRAWN - TpchShapes.wideRgdIds)
         manual AS (
           SELECT k.grp, k.src, s.dest, 'RGD' AS xsrc, 'curated' AS xset, 4 AS tier
           FROM ks k JOIN (SELECT CAST(o_custkey % 500 AS INT) AS src,
                                  CAST(o_orderkey % 1500 + 1 AS INT) AS dest
                           FROM orders WHERE o_orderkey % 10 = 0) s
             ON s.src = k.src
           WHERE s.src % 23 <> 0 AND s.dest % 23 <> 0),
         agr0 AS (SELECT CAST(o_custkey % 500 AS INT) AS g1,
                  CAST(o_orderkey % 1500 + 1 AS INT) AS g2
           FROM orders WHERE o_orderstatus='O' AND o_totalprice > 100000),
         -- UNION (not ALL): the engine dedupes the symmetrized AGR rows
         -- on the upsert key (Cascade agrSym .distinct())
         agrsym AS (SELECT g1 AS a, g2 AS b FROM agr0
           UNION SELECT g2, g1 FROM agr0),
         alliance AS (
           SELECT k.grp, k.src, sym.b AS dest, 'Alliance' AS xsrc,
                  'OrthoFinder|PANTHER' AS xset, 3 AS tier
           FROM ks k JOIN agrsym sym ON sym.a = k.src
           JOIN customer c ON c.c_custkey = sym.b
           WHERE (CASE WHEN c.c_custkey % 2 = 0 THEN 1 ELSE 3 END) = 3),
         cands AS (SELECT * FROM rel UNION ALL SELECT * FROM manual
           UNION ALL SELECT * FROM alliance),
         ann AS (SELECT c.*, gd.c_name AS dsym,
                  CASE WHEN c.xset IS NULL OR c.xset = '' THEN 0
                       ELSE len(string_split(c.xset, ',')) END AS ev,
                  CASE WHEN lower(gs.c_name) IS NOT DISTINCT FROM lower(gd.c_name)
                       THEN 1 ELSE 0 END AS symm
           FROM cands c LEFT JOIN customer gs ON gs.c_custkey = c.src
                        LEFT JOIN customer gd ON gd.c_custkey = c.dest),
         top AS (SELECT * FROM
           (SELECT a.*, MAX(tier) OVER (PARTITION BY grp) AS toptier FROM ann a)
           WHERE tier = toptier),
         t1 AS (SELECT t.*, COUNT(*) OVER w AS n, MAX(ev) OVER w AS maxev,
                  MAX(symm) OVER w AS anymatch
           FROM top t WINDOW w AS (PARTITION BY grp)),
         t2 AS (SELECT t.*,
                  SUM(CASE WHEN ev = maxev THEN 1 ELSE 0 END) OVER w AS cntatmax,
                  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY ev DESC,
                    lower(dsym) ASC NULLS LAST, dest ASC, src ASC) AS rnev,
                  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY symm DESC, ev DESC,
                    lower(dsym) ASC NULLS LAST, dest ASC, src ASC) AS rnsym,
                  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY
                    lower(dsym) ASC NULLS LAST, dest ASC, src ASC) AS rnalpha
           FROM t1 t WINDOW w AS (PARTITION BY grp))
         SELECT grp AS groupId, src AS srcRgdId, dest AS destRgdId,
                xsrc AS xrefDataSrc, xset AS xrefDataSet, tier,
                CASE WHEN tier > 2 THEN
                       (CASE WHEN n = 1 THEN 'tierPick' ELSE 'conflict' END)
                     WHEN n = 1 THEN 'oneRel'
                     WHEN cntatmax = 1 THEN 'longestEvidence'
                     WHEN anymatch = 1 THEN 'symbolMatch'
                     ELSE 'shortestSymbol' END AS method
         FROM t2
         WHERE (tier > 2 AND n = 1)
            OR (tier <= 2 AND (n = 1
                 OR (cntatmax = 1 AND rnev = 1)
                 OR (cntatmax > 1 AND anymatch = 1 AND rnsym = 1)
                 OR (cntatmax > 1 AND anymatch = 0 AND rnalpha = 1)))""",

    // Independent recomputation of WeakSync.repairOrthologSymmetry
    "q_d1_repair" ->
      """WITH base AS (
           SELECT o_orderkey AS key, CAST(o_custkey % 400 AS INT) AS src,
                  CAST(o_orderkey % 397 + 400 AS INT) AS dest,
                  CASE WHEN o_orderkey % 3 = 0 THEN 'RGD'
                       WHEN o_orderkey % 3 = 1 THEN 'NCBI'
                       ELSE 'HGNC' END AS xsrc
           FROM orders),
         state AS (SELECT key, src, dest FROM base
           UNION ALL SELECT key + 1000000, dest, src FROM base WHERE key % 5 = 0),
         -- candidates are both-endpoints-ACTIVE (registry ids 0..1800,
         -- every 23rd WITHDRAWN); the reverse check below stays raw
         asym AS (SELECT b.* FROM base b
           WHERE b.src % 23 <> 0 AND b.dest % 23 <> 0 AND NOT EXISTS
           (SELECT 1 FROM state s WHERE s.src = b.dest AND s.dest = b.src)),
         nonman AS (SELECT * FROM asym WHERE xsrc <> 'RGD'),
         assoc AS (SELECT dest AS am, src AS ad FROM base WHERE key % 7 = 0),
         withrev AS (SELECT a.* FROM asym a WHERE EXISTS
           (SELECT 1 FROM assoc x WHERE x.am = a.dest AND x.ad = a.src)),
         worev AS (SELECT a.* FROM asym a WHERE NOT EXISTS
           (SELECT 1 FROM assoc x WHERE x.am = a.dest AND x.ad = a.src))
         SELECT 'ortho_delete' AS cls, key, NULL AS masterRgdId,
                NULL AS detailRgdId FROM nonman
         UNION ALL SELECT 'assoc_insert', NULL, src, dest FROM nonman
         UNION ALL SELECT 'assoc_insert', NULL, dest, src FROM worev
         UNION ALL SELECT 'detach', NULL, dest, src FROM withrev""",

    // Independent recomputation of WeakSync.repairAssocSymmetry
    "q_d2_repair" ->
      """WITH base AS (
           SELECT o_orderkey AS key, CAST(o_custkey AS INT) AS m,
                  CAST(o_orderkey % 140 + 1 AS INT) AS d
           FROM orders),
         astate AS (SELECT key, m, d FROM base
           UNION ALL SELECT key + 1000000, d, m FROM base WHERE key % 4 = 0),
         sp AS (SELECT c_custkey AS id,
                  CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 3 END AS sp
           FROM customer),
         pair AS (SELECT a.* FROM astate a
           JOIN sp ms ON ms.id = a.m JOIN sp ds ON ds.id = a.d
           WHERE (ms.sp = 1 AND ds.sp = 3) OR (ms.sp = 3 AND ds.sp = 1)),
         orth AS (SELECT CAST(o_orderkey % 140 + 1 AS INT) AS src,
                  CAST(o_custkey AS INT) AS dest
           FROM orders WHERE o_orderkey % 6 = 0),
         norev AS (SELECT p.* FROM pair p WHERE NOT EXISTS
           (SELECT 1 FROM orth o WHERE o.src = p.d AND o.dest = p.m)),
         -- the reverse is visible only when this row's master (the
         -- reverse's DETAIL) is ACTIVE (negative balance = WITHDRAWN
         -- in TpchShapes.resolveRgdIds) - getAssociationsForMasterRgdId
         -- inner-joins rgd_ids on the detail side (r16 pin)
         withrev AS (SELECT p.* FROM norev p WHERE EXISTS
           (SELECT 1 FROM astate x WHERE x.m = p.d AND x.d = p.m)
           AND EXISTS (SELECT 1 FROM customer c
             WHERE c.c_custkey = p.m AND c.c_acctbal >= 0)),
         worev AS (SELECT p.* FROM norev p WHERE NOT (EXISTS
           (SELECT 1 FROM astate x WHERE x.m = p.d AND x.d = p.m)
           AND EXISTS (SELECT 1 FROM customer c
             WHERE c.c_custkey = p.m AND c.c_acctbal >= 0))),
         dels AS (SELECT DISTINCT m, d FROM (
           SELECT m, d FROM base WHERE key % 5 = 0
           UNION ALL SELECT d, m FROM base WHERE key % 10 = 0)),
         fq AS (SELECT w.* FROM withrev w WHERE EXISTS
           (SELECT 1 FROM dels WHERE dels.m = w.m AND dels.d = w.d)),
         rq AS (SELECT w.* FROM withrev w WHERE EXISTS
           (SELECT 1 FROM dels WHERE dels.m = w.d AND dels.d = w.m)),
         bothq AS (SELECT m, d FROM fq INTERSECT SELECT m, d FROM rq)
         SELECT 'insert' AS cls, d AS masterRgdId, m AS detailRgdId FROM worev
         UNION ALL
         SELECT 'detach', d, m FROM withrev w WHERE NOT EXISTS
           (SELECT 1 FROM bothq b WHERE b.m = w.m AND b.d = w.d)""",

    // Independent recomputation of the HomoloGene pair synthesis:
    // exactly-one-match resolution, entry species from the taxon, all
    // ordered distinct-entry pairs (duplicate entries get distinct
    // row_numbers; the ordered-pair multiset is order-invariant)
    "q_s4_homologene" ->
      s"""WITH $homologeneMemCtes
         SELECT a.g AS homologeneGroupId, a.rgd AS srcRgdId, b.rgd AS destRgdId,
                a.sp AS srcSpeciesTypeKey, b.sp AS destSpeciesTypeKey
         FROM mem a JOIN mem b ON a.g = b.g AND a.i <> b.i""",

    // the S4 group sync recomputed: per-(group,src,dest) multiset match
    // (lowest state keys first), surplus state -> delete, surplus
    // incoming -> insert with the human-direct(11)/transitive(13) rule,
    // non-HOMOLOGENE state rows out of play
    "q_s4_homologene_sync" ->
      s"""WITH $homologeneMemCtes,
         pairs AS (
           SELECT a.g, a.rgd AS src, b.rgd AS dest, a.sp AS ssp, b.sp AS dsp
           FROM mem a JOIN mem b ON a.g = b.g AND a.i <> b.i),
         hom AS (
           SELECT o_orderkey AS key, CAST(o_orderkey % 8000 AS INT) AS g,
                  CAST(o_custkey % 13 + 1 AS INT) AS src,
                  CAST(o_orderkey % 13 + 1 AS INT) AS dest
           FROM orders WHERE o_orderkey % 9 NOT IN (0, 1)),
         n_inc AS (SELECT g, src, dest, COUNT(*) AS n FROM pairs GROUP BY 1, 2, 3),
         n_rgd AS (SELECT g, src, dest, COUNT(*) AS n FROM hom GROUP BY 1, 2, 3),
         ranked AS (
           SELECT hom.*, ROW_NUMBER() OVER (PARTITION BY hom.g, hom.src, hom.dest
                    ORDER BY hom.key) AS rk,
                  COALESCE(n_inc.n, 0) AS ni
           FROM hom LEFT JOIN n_inc
             ON hom.g = n_inc.g AND hom.src = n_inc.src AND hom.dest = n_inc.dest),
         ins_ranked AS (
           SELECT pairs.*, ROW_NUMBER() OVER (PARTITION BY pairs.g, pairs.src,
                    pairs.dest ORDER BY pairs.ssp, pairs.dsp) AS rk,
                  COALESCE(n_rgd.n, 0) AS nr
           FROM pairs LEFT JOIN n_rgd
             ON pairs.g = n_rgd.g AND pairs.src = n_rgd.src AND pairs.dest = n_rgd.dest)
         SELECT 'match' AS bucket, g AS homologeneGroupId, src AS srcRgdId,
                dest AS destRgdId, key, CAST(NULL AS INT) AS otk
         FROM ranked WHERE rk <= ni
         UNION ALL
         SELECT 'delete', g, src, dest, key, CAST(NULL AS INT)
         FROM ranked WHERE rk > ni
         UNION ALL
         SELECT 'insert', g, src, dest, CAST(NULL AS BIGINT),
                CASE WHEN ssp = 1 OR dsp = 1 THEN 11 ELSE 13 END
         FROM ins_ranked WHERE rk > nr""",

    // J8 through the real operator: reference SQL transcription
    // (Dao:672-689) over the same derived frames
    "q_j8_crosslinked_op" ->
      s"""WITH $reportDimCtes,
         orth AS (SELECT CAST(l_partkey % 500 AS INT) AS src,
                         CAST(l_suppkey % 500 AS INT) AS dest FROM lineitem),
         ids AS (
           SELECT dest AS id FROM orth, reg r1, reg r2
           WHERE orth.dest = r1.id AND r1.st = 'ACTIVE' AND r1.sp = 3
             AND orth.src = r2.id AND r2.st = 'ACTIVE' AND r2.sp IN (1, 2, 3)
           GROUP BY dest HAVING COUNT(*) > 2
           UNION
           SELECT src FROM orth, reg r1, reg r2
           WHERE orth.src = r1.id AND r1.st = 'ACTIVE' AND r1.sp = 3
             AND orth.dest = r2.id AND r2.st = 'ACTIVE' AND r2.sp IN (1, 2, 3)
           GROUP BY src HAVING COUNT(*) > 2)
         SELECT gd.id AS rgdId, gd.sym AS geneSymbol
         FROM gd JOIN ids ON gd.id = ids.id""",

    // J9 through the real operator (OrthoTool.java:126-166)
    "q_j9_partner_op" ->
      s"""WITH $reportDimCtes,
         agr AS (SELECT CAST(o_custkey % 300 AS INT) AS g1,
                        CAST(o_orderkey % 400 AS INT) AS g2,
                        CASE WHEN o_orderstatus = 'O' THEN 'Y' ELSE 'N' END AS b,
                        CASE WHEN o_totalprice > 100000 THEN 'Y' ELSE 'N' END AS br
                 FROM orders),
         p AS (SELECT agr.g1, agr.g2, gd.sym,
                      CAST(agr.b = 'Y' AND agr.br = 'Y' AS INT) AS mb
               FROM agr
               JOIN gd ON agr.g2 = gd.id
               JOIN reg ON agr.g2 = reg.id AND reg.sp = 2),
         q AS (SELECT *, MAX(mb) OVER (PARTITION BY g1) AS anyb FROM p)
         SELECT g1 AS geneRgdId1, g2 AS geneRgdId2, sym AS partnerSymbol,
                mb AS isMutualBest
         FROM q WHERE anyb = 0 OR mb = 1""",

    // J10 through the real operator: the published SQL (no type
    // exclusion, src-side-only NOT EXISTS, ACTIVE + species via the
    // registry)
    "q_j10_no_orth_op" ->
      s"""WITH $reportDimCtes,
         srcs AS (SELECT DISTINCT CAST(o_orderkey % 350 AS INT) AS id FROM orders)
         SELECT gd.id AS rgdId, gd.sym AS geneSymbol, gd.tp AS geneTypeLc
         FROM gd JOIN reg ON gd.id = reg.id
         WHERE reg.st = 'ACTIVE' AND reg.sp = 3
           AND NOT EXISTS (SELECT 1 FROM srcs WHERE srcs.id = gd.id)""",

    // ---- ANN oracles: DuckDB recomputes the searches from the same
    // literal query/plane/centroid vectors ----
    "q_ann_bruteforce" ->
      s"""SELECT vec_id FROM embeddings
          ORDER BY ${cosSql(annQuery)} DESC NULLS LAST, vec_id ASC
          LIMIT 10""",

    "q_ann_lsh" -> {
      val planes = Ann.hyperplanes(annDim, 6, seed = 42L)
      val qb = Ann.queryBucket(annQuery, planes)
      val probes = (qb +: (0 until 6).map(b => qb ^ (1L << b))).mkString(", ")
      s"""SELECT vec_id FROM (
            SELECT vec_id, embedding, ${bucketSql(planes)} AS bucket
            FROM embeddings)
          WHERE bucket IN ($probes)
          ORDER BY ${cosSql(annQuery)} DESC NULLS LAST, vec_id ASC
          LIMIT 10"""
    },

    "q_ann_ivf" -> {
      val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
      s"""SELECT ivf_cell, count(*) AS n
          FROM ${ivfCellFromSql(centroids)}
          GROUP BY ivf_cell"""
    },

    // Lloyd step: same cell assignment, then exact integer sums of the
    // 1000-quantized coordinates per (cell, dim) and one int/int
    // division - order-independent, so it hash-matches across engines
    "q_ann_kmeans_step" -> {
      val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
      s"""WITH a AS (SELECT ivf_cell,
                CAST(embedding AS DOUBLE[]) AS emb
              FROM ${ivfCellFromSql(centroids)}
              WHERE embedding IS NOT NULL),
          s AS (SELECT ivf_cell, CAST(j AS INT) AS pos,
                count(*) AS n,
                CAST(sum(CAST(floor(emb[CAST(j AS INT) + 1] * 1000.0)
                  AS BIGINT)) AS BIGINT) AS qsum
              FROM a CROSS JOIN range(0, $annDim) r(j)
              GROUP BY ivf_cell, CAST(j AS INT))
          SELECT ivf_cell, pos, n, qsum,
                 CAST(qsum AS DOUBLE) / n AS mean_q
          FROM s"""
    },

    // PQ codes: same argmax-over-dot-products surface as the IVF cell
    // oracle (|s|^2 is constant per subvector, so nearest-codeword =
    // max of s.c - |c|^2/2); margins of the fixed data dwarf the ~ulp
    // summation differences, as documented for the ANN oracles
    "q_ann_pq_assign" ->
      s"SELECT * FROM ${pqCodesSql(pqCodebooks)}",

    // IVF-PQ ADC: same probe cells and PQ codes as their own oracles,
    // then the score is literal-table lookups summed in fixed order -
    // the SAME driver-computed doubles are embedded as literals in both
    // engines, so the sums are bit-identical (no float-scan margins)
    "q_ann_ivfpq" -> ivfPqOracleSql,

    // the artifact round trip is bit-exact, so the loaded-model search
    // must reproduce the plan-time-literal search identically
    "q_ann_ivfpq_artifact" -> ivfPqOracleSql,

    // SemDeDup recomputed: same cell assignment, a row is dropped iff a
    // lower-id same-cell row is cosine-similar >= 0.4 (NOT EXISTS as a
    // left join on the distinct dup set) - no recursion by design
    "q_d_semdedup" -> {
      val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
      s"""WITH c AS (SELECT vec_id, embedding, ivf_cell
                     FROM ${ivfCellFromSql(centroids)}),
          d AS (SELECT DISTINCT a.vec_id AS vid
                FROM c a JOIN c b
                  ON a.ivf_cell = b.ivf_cell AND b.vec_id < a.vec_id
                WHERE CASE WHEN list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(a.embedding AS DOUBLE[])) = 0
                         OR list_dot_product(CAST(b.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) = 0
                      THEN 0.0
                      ELSE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) END >= 0.4)
          SELECT c.vec_id, c.ivf_cell, CAST(d.vid IS NULL AS INT) AS kept
          FROM c LEFT JOIN d ON d.vid = c.vec_id"""
    },

    // semantic contamination screen recomputed: per-corpus-row probe
    // cells via the knn_join (sim desc, cell asc) rank pattern, bench
    // cells via the first-max CASE, flag on any in-cell cosine >= 0.35
    "q_contam_semantic" -> {
      val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
      val sims = Ann.unitCentroids(centroids).map(dotSql)
      val legs = sims.zipWithIndex.map { case (s, i) =>
        s"SELECT vec_id, embedding, $s AS s, $i AS cell FROM embeddings WHERE vec_id % 20 <> 7"
      }.mkString("\n           UNION ALL ")
      s"""WITH probe AS (
           SELECT vec_id AS id, embedding AS qv, cell FROM (
             SELECT vec_id, embedding, cell,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, cell ASC) AS rn
             FROM ($legs))
           WHERE rn <= 2),
         bench AS (
           SELECT embedding AS bv, ivf_cell AS cell
           FROM ${ivfCellFromSql(centroids)} WHERE vec_id % 20 = 7),
         hits AS (
           SELECT DISTINCT p.id FROM probe p JOIN bench b
             ON b.cell = p.cell
           WHERE CASE WHEN list_dot_product(CAST(p.qv AS DOUBLE[]),
                         CAST(p.qv AS DOUBLE[])) = 0
                    OR list_dot_product(CAST(b.bv AS DOUBLE[]),
                         CAST(b.bv AS DOUBLE[])) = 0
                 THEN 0.0
                 ELSE list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                        CAST(b.bv AS DOUBLE[])) END >= 0.35)
         SELECT c.vec_id, CAST(h.id IS NOT NULL AS INT) AS contaminated
         FROM (SELECT vec_id FROM embeddings WHERE vec_id % 20 <> 7) c
         LEFT JOIN hits h ON h.id = c.vec_id"""
    },

    // prototypicality pruning recomputed: cosine to the own-cell
    // centroid is m (the winning unit-centroid dot) over the row norm;
    // rank under the identical (sim desc, id asc) total order, drop
    // floor(n * 0.25) per cell
    "q_ann_prune" -> {
      val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
      s"""WITH c AS (SELECT vec_id, ivf_cell,
                CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                       CAST(embedding AS DOUBLE[])) = 0 THEN 0.0
                     ELSE m / sqrt(list_dot_product(
                       CAST(embedding AS DOUBLE[]),
                       CAST(embedding AS DOUBLE[]))) END AS sim
              FROM ${ivfCellFromSql(centroids)}),
          r AS (SELECT vec_id, ivf_cell,
                row_number() OVER (PARTITION BY ivf_cell
                  ORDER BY sim DESC, vec_id ASC) AS rn,
                count(*) OVER (PARTITION BY ivf_cell) AS n
              FROM c)
          SELECT vec_id, ivf_cell,
                 CAST(rn > floor(n * 0.25) AS INT) AS kept
          FROM r"""
    },

    "q_ann_ivf_topk" -> {
      val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
      val probes = Ann.probeCells(annQuery, centroids, 2).mkString(", ")
      s"""SELECT vec_id FROM ${ivfCellFromSql(centroids)}
          WHERE ivf_cell IN ($probes)
          ORDER BY ${cosSql(annQuery)} DESC NULLS LAST, vec_id ASC
          LIMIT 10"""
    },

    // per-query probe cells via (sim desc, cell asc) rank; same unit
    // centroids + list_dot_product as the Spark side
    "q_ann_knn_join" -> knnJoinOracleSql,

    // the STREAMING retrieval path must return exactly the batch
    // knnJoin rows - same oracle, shared verbatim, so any divergence
    // between the keyed-state top-k and the window-rank batch plan
    // hash-mismatches immediately
    "q_stream_ann" -> knnJoinOracleSql,

    // recall@5 recomputed: the q_ann_knn_join probe/candidate/rank CTEs
    // for the approximate side, a brute-force window rank for the exact
    // side, hits counted by left join on (q_id, neighbor_id)
    "q_ann_recall" -> {
      val centroids = Ann.hyperplanes(annDim, 8, seed = 11L)
      val sims = Ann.unitCentroids(centroids).map(dotSql)
      val legs = sims.zipWithIndex.map { case (s, i) =>
        s"SELECT vec_id AS q_id, embedding, $s AS s, $i AS cell FROM embeddings WHERE vec_id < 5"
      }.mkString("\n           UNION ALL ")
      s"""WITH probe AS (
           SELECT q_id, embedding AS qv, cell FROM (
             SELECT q_id, embedding, cell,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY s DESC, cell ASC) AS rn
             FROM ($legs))
           WHERE rn <= 2),
         approx AS (
           SELECT q_id, neighbor_id FROM (
             SELECT p.q_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.q_id
                 ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                   CAST(p.qv AS DOUBLE[])) DESC NULLS LAST,
                 c.vec_id ASC) AS rank
             FROM probe p JOIN ${ivfCellFromSql(centroids)} c
               ON c.ivf_cell = p.cell
             WHERE c.vec_id <> p.q_id)
           WHERE rank <= 5),
         exact AS (
           SELECT q_id, neighbor_id FROM (
             SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                   CAST(q.embedding AS DOUBLE[])) DESC NULLS LAST,
                 c.vec_id ASC) AS rank
             FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
             JOIN embeddings c ON c.vec_id <> q.vec_id)
           WHERE rank <= 5)
         SELECT e.q_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
                CAST(count(a.neighbor_id) AS DOUBLE) / 5 AS recall
         FROM exact e LEFT JOIN approx a
           ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
         GROUP BY e.q_id"""
    },

    "q_ann_neardup" -> {
      val planes = Ann.hyperplanes(annDim, 4, seed = 42L)
      s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql(planes)} AS bucket
                     FROM embeddings)
          SELECT a.vec_id AS id_a, c.vec_id AS id_b
          FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
          WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                  CAST(c.embedding AS DOUBLE[])) >= 0.4"""
    },

    // Independent recomputation of connected components: 10 unrolled
    // rounds of neighbor-min propagation (component diameter <= 6 by
    // construction - runs of <= 5 chained 10-id stars)
    "q_d_components" -> {
      val rounds = (1 to 10).map { i =>
        s"""l$i AS (SELECT n.id, least(n.lbl, coalesce(m.mn, n.lbl)) AS lbl
           FROM l${i - 1} n LEFT JOIN (
             SELECT s.u, min(x.lbl) AS mn FROM sym s JOIN l${i - 1} x ON x.id = s.v
             GROUP BY s.u) m ON m.u = n.id)"""
      }.mkString(",\n         ")
      s"""WITH edges AS (
           SELECT DISTINCT a, b FROM (
             SELECT (o_orderkey % 5000) - (o_orderkey % 10) AS a,
                    o_orderkey % 5000 AS b
             FROM orders WHERE o_orderkey % 10 <> 0
             UNION ALL
             SELECT (o_orderkey % 5000) - (o_orderkey % 10),
                    (o_orderkey % 5000) - (o_orderkey % 10) + 10
             FROM orders WHERE o_orderkey % 10 = 3
               AND ((o_orderkey % 5000) - (o_orderkey % 10)) % 50 <> 40)),
         sym AS (SELECT a AS u, b AS v FROM edges
                 UNION SELECT b, a FROM edges),
         l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM sym),
         $rounds
         SELECT id, lbl AS component FROM l10"""
    },

    // synthetic asset metadata recomputed from (doc_id, text length)
    "q_mm_assets_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS asset_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             CAST((length(text)*7 + doc_id*13) % 1920 + 1 AS INT) AS width,
             CAST((length(text)*11 + doc_id*17) % 1080 + 1 AS INT) AS height,
             CAST((length(text)*7919 + doc_id*31) % 600000 + 1 AS INT)
               AS duration_ms
         FROM documents""",

    // frame sampling: one row per 60s frame of each video asset
    "q_mm_frames" ->
      """WITH a AS (
           SELECT CAST(doc_id AS BIGINT) AS asset_id,
                  CAST((length(text)*7919 + doc_id*31) % 600000 + 1 AS INT)
                    AS duration_ms
           FROM documents WHERE doc_id % 3 = 2)
         SELECT asset_id, CAST(f AS INT) AS frame_idx,
                CAST(f * 60000 AS INT) AS frame_ts_ms
         FROM a, UNNEST(generate_series(0,
           greatest(CAST(floor(duration_ms / 60000.0) AS INT) - 1, 0))) AS t(f)""",

    // portable pHash near-dup pairs: 64 md5-derived 48-bit features,
    // bit = feature >= floor(mean) (integer shift; bit 63's weight is
    // the BIGINT min literal - DuckDB's << errors at 63 - and sum()
    // goes through HUGEINT so the cast back to BIGINT is exact),
    // 3-chunk (22/21/21) pigeonhole blocking at Hamming <= 2,
    // xor-popcount verify; every 50th document re-enters byte-identical
    // at -doc_id - 1 (the planted Hamming-0 pairs that keep the
    // matching path non-vacuous, mirroring the Spark side)
    "q_mm_phash_pairs" ->
      """WITH d2 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
             FROM documents
           UNION ALL
           SELECT -CAST(doc_id AS BIGINT) - 1, text
             FROM documents WHERE doc_id % 50 = 0),
         f AS (SELECT doc_id, i,
             ('0x' || substr(md5(text || '|' || CAST(i AS VARCHAR)), 1, 12))
               ::BIGINT AS fv
           FROM d2, LATERAL (SELECT unnest(range(0, 64)) AS i)),
         p AS (SELECT doc_id,
             CAST(sum(CASE WHEN fv < thr THEN 0
                           WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                           ELSE 1::BIGINT << i END)
               AS BIGINT) AS phash
           FROM (SELECT doc_id, i, fv,
               CAST(sum(fv) OVER (PARTITION BY doc_id) AS BIGINT) >> 6 AS thr
             FROM f)
           GROUP BY doc_id),
         c AS (SELECT doc_id AS asset_id, phash, u.chunk,
             CASE u.chunk WHEN 0 THEN phash & 4194303
                          WHEN 1 THEN (phash >> 22) & 2097151
                          ELSE (phash >> 43) & 2097151 END AS chunkval
           FROM p, LATERAL (SELECT unnest(range(0, 3)) AS chunk) u),
         b AS (SELECT * FROM (SELECT *,
               count(*) OVER (PARTITION BY chunk, chunkval) AS bs FROM c)
           WHERE bs <= 1000)
         SELECT DISTINCT a.asset_id AS asset_id_a, bb.asset_id AS asset_id_b,
                CAST(bit_count(xor(a.phash, bb.phash)) AS INT) AS hamming
         FROM b a JOIN b bb ON a.chunk = bb.chunk
           AND a.chunkval = bb.chunkval AND a.asset_id < bb.asset_id
         WHERE bit_count(xor(a.phash, bb.phash)) <= 2""",

    // two-modality survivorship: min-id per exact pHash group (asset
    // pass) x min-id per normalized-text-md5 group (text pass)
    "q_mm_asset_dedup" ->
      """WITH f AS (SELECT doc_id, i,
             ('0x' || substr(md5(text || '|' || CAST(i AS VARCHAR)), 1, 12))
               ::BIGINT AS fv
           FROM documents, LATERAL (SELECT unnest(range(0, 64)) AS i)),
         p AS (SELECT doc_id,
             CAST(sum(CASE WHEN fv < thr THEN 0
                           WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                           ELSE 1::BIGINT << i END)
               AS BIGINT) AS phash
           FROM (SELECT doc_id, i, fv,
               CAST(sum(fv) OVER (PARTITION BY doc_id) AS BIGINT) >> 6 AS thr
             FROM f)
           GROUP BY doc_id),
         pk AS (SELECT min(doc_id) AS asset_id FROM p GROUP BY phash),
         tk AS (SELECT min(doc_id) AS asset_id FROM (
             SELECT doc_id, md5(regexp_replace(lower(trim(text)),
               '\s+', ' ', 'g')) AS nh
             FROM documents)
           GROUP BY nh)
         SELECT CAST(d.doc_id AS BIGINT) AS asset_id,
                CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 'image'
                     WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
                CASE WHEN pk.asset_id IS NULL THEN 0 ELSE 1 END AS asset_kept,
                CASE WHEN tk.asset_id IS NULL THEN 0 ELSE 1 END AS text_kept,
                (CASE WHEN pk.asset_id IS NULL THEN 0 ELSE 1 END)
                  * (CASE WHEN tk.asset_id IS NULL THEN 0 ELSE 1 END)
                  AS kept_both
         FROM documents d
         LEFT JOIN pk ON pk.asset_id = d.doc_id
         LEFT JOIN tk ON tk.asset_id = d.doc_id""",

    // real-codec round trip, closed form: the Spark side encodes a
    // 16x16 gray gradient PNG and DECODES it with javax.imageio; the
    // oracle recomputes the 8x8 block-mean features arithmetically
    // (block mean of luma = c + a*x + b*y over a 2x2 block is
    // 2a*gx + 2b*gy + c + (a+b)/2, exactly) - a hash mismatch means
    // the codec round trip or the grid math broke
    "q_mm_image_phash" ->
      """WITH f AS (SELECT doc_id, i,
             2 * (doc_id % 7 + 1) * (i % 8)
               + 2 * (doc_id % 5 + 1) * (i // 8)
               + (doc_id % 64)
               + ((doc_id % 7 + 1) + (doc_id % 5 + 1)) // 2 AS fv
           FROM documents, LATERAL (SELECT unnest(range(0, 64)) AS i))
         SELECT CAST(doc_id AS BIGINT) AS asset_id,
                CAST(sum(fv) AS BIGINT) AS feat_sum,
                CAST(sum(CASE WHEN fv < thr THEN 0
                              WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                              ELSE 1::BIGINT << i END)
                  AS BIGINT) AS phash
         FROM (SELECT doc_id, i, fv,
                 CAST(sum(fv) OVER (PARTITION BY doc_id) AS BIGINT) >> 6 AS thr
               FROM f)
         GROUP BY doc_id""",

    // real-decode near-dup pairs: block-noise cell luma = first md5
    // byte of "seed|cell", replayed with DuckDB's own md5 (cell size =
    // feature block size, so block mean = cell luma); planted
    // BMP re-encodes of every 50th doc's PNG pixels at
    // -doc_id - 1; then the same 3-chunk (22/21/21) pigeonhole
    // blocking and xor-popcount verify as q_mm_phash_pairs
    "q_mm_image_pairs" ->
      """WITH d2 AS (SELECT CAST(doc_id AS BIGINT) AS asset_id,
                CAST(doc_id AS BIGINT) AS seed
             FROM documents
           UNION ALL
           SELECT -CAST(doc_id AS BIGINT) - 1, CAST(doc_id AS BIGINT)
             FROM documents WHERE doc_id % 50 = 0),
         f AS (SELECT asset_id, i,
             ('0x' || substr(md5(seed || '|' || i), 1, 2))::BIGINT AS fv
           FROM d2, LATERAL (SELECT unnest(range(0, 64)) AS i)),
         p AS (SELECT asset_id,
             CAST(sum(CASE WHEN fv < thr THEN 0
                           WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                           ELSE 1::BIGINT << i END)
               AS BIGINT) AS phash
           FROM (SELECT asset_id, i, fv,
               CAST(sum(fv) OVER (PARTITION BY asset_id) AS BIGINT) >> 6 AS thr
             FROM f)
           GROUP BY asset_id),
         c AS (SELECT asset_id, phash, u.chunk,
             CASE u.chunk WHEN 0 THEN phash & 4194303
                          WHEN 1 THEN (phash >> 22) & 2097151
                          ELSE (phash >> 43) & 2097151 END AS chunkval
           FROM p, LATERAL (SELECT unnest(range(0, 3)) AS chunk) u),
         b AS (SELECT * FROM (SELECT *,
               count(*) OVER (PARTITION BY chunk, chunkval) AS bs FROM c)
           WHERE bs <= 1000)
         SELECT DISTINCT a.asset_id AS asset_id_a, bb.asset_id AS asset_id_b,
                CAST(bit_count(xor(a.phash, bb.phash)) AS INT) AS hamming
         FROM b a JOIN b bb ON a.chunk = bb.chunk
           AND a.chunkval = bb.chunkval AND a.asset_id < bb.asset_id
         WHERE bit_count(xor(a.phash, bb.phash)) <= 2""",

    // real-codec AUDIO round trip, closed form: block amplitude =
    // (md5Byte(seed|i) - 128) * 256; window mean |amplitude| =
    // abs(amplitude) exactly (windows aligned to blocks), then the
    // shared pHash threshold/bit machinery
    "q_mm_audio_phash" ->
      """WITH f AS (SELECT doc_id, i,
             abs((('0x' || substr(md5(doc_id || '|' || i), 1, 2))::BIGINT
               - 128) * 256) AS fv
           FROM documents, LATERAL (SELECT unnest(range(0, 64)) AS i))
         SELECT CAST(doc_id AS BIGINT) AS asset_id,
                CAST(sum(fv) AS BIGINT) AS feat_sum,
                CAST(sum(CASE WHEN fv < thr THEN 0
                              WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                              ELSE 1::BIGINT << i END)
                  AS BIGINT) AS phash
         FROM (SELECT doc_id, i, fv,
                 CAST(sum(fv) OVER (PARTITION BY doc_id) AS BIGINT) >> 6 AS thr
               FROM f)
         GROUP BY doc_id""",

    // cross-format audio near-dup pairs: the same amplitude closed
    // form; planted AIFF re-encodes of every 50th doc's WAV samples at
    // -doc_id - 1; same 3-chunk pigeonhole blocking
    "q_mm_audio_pairs" ->
      """WITH d2 AS (SELECT CAST(doc_id AS BIGINT) AS asset_id,
                CAST(doc_id AS BIGINT) AS seed
             FROM documents
           UNION ALL
           SELECT -CAST(doc_id AS BIGINT) - 1, CAST(doc_id AS BIGINT)
             FROM documents WHERE doc_id % 50 = 0),
         f AS (SELECT asset_id, i,
             abs((('0x' || substr(md5(seed || '|' || i), 1, 2))::BIGINT
               - 128) * 256) AS fv
           FROM d2, LATERAL (SELECT unnest(range(0, 64)) AS i)),
         p AS (SELECT asset_id,
             CAST(sum(CASE WHEN fv < thr THEN 0
                           WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                           ELSE 1::BIGINT << i END)
               AS BIGINT) AS phash
           FROM (SELECT asset_id, i, fv,
               CAST(sum(fv) OVER (PARTITION BY asset_id) AS BIGINT) >> 6 AS thr
             FROM f)
           GROUP BY asset_id),
         c AS (SELECT asset_id, phash, u.chunk,
             CASE u.chunk WHEN 0 THEN phash & 4194303
                          WHEN 1 THEN (phash >> 22) & 2097151
                          ELSE (phash >> 43) & 2097151 END AS chunkval
           FROM p, LATERAL (SELECT unnest(range(0, 3)) AS chunk) u),
         b AS (SELECT * FROM (SELECT *,
               count(*) OVER (PARTITION BY chunk, chunkval) AS bs FROM c)
           WHERE bs <= 1000)
         SELECT DISTINCT a.asset_id AS asset_id_a, bb.asset_id AS asset_id_b,
                CAST(bit_count(xor(a.phash, bb.phash)) AS INT) AS hamming
         FROM b a JOIN b bb ON a.chunk = bb.chunk
           AND a.chunkval = bb.chunkval AND a.asset_id < bb.asset_id
         WHERE bit_count(xor(a.phash, bb.phash)) <= 2""",

    // gap-based sessionization recomputed via lag + running break count;
    // a session breaks only at gap > 900s - Spark session windows merge
    // when they touch, so two events exactly 900s apart share a session
    // (verified against session_window at the exact-gap boundary)
    // full blocking recomputation: deletion-neighborhood keys, the SAME
    // df<=1000 posting cut as the Spark side (so the oracle cannot
    // diverge when a key exceeds the cut at larger SF), equi-join on
    // key, exact levenshtein verify. UNION (not UNION ALL) dedupes
    // (id, key) like array_distinct; range(1,n) is empty for n<=1 so
    // the empty string contributes only its identity key, as in Spark.
    "q_fuzzy_pairs" ->
      """WITH s AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
         keys AS (
           SELECT id, nm, nm AS k FROM s
           UNION
           SELECT id, nm, substr(nm, 1, CAST(i AS INT) - 1)
                          || substr(nm, CAST(i AS INT) + 1) AS k
           FROM (SELECT id, nm, unnest(range(1, length(nm) + 1)) AS i
                 FROM s)),
         kept AS (
           SELECT id, nm, k FROM (
             SELECT id, nm, k, count(*) OVER (PARTITION BY k) AS df
             FROM keys)
           WHERE df <= 1000),
         pairs AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                  a.nm AS nm_a, b.nm AS nm_b
           FROM kept a JOIN kept b ON a.k = b.k AND a.id < b.id)
         SELECT id_a, id_b,
                CAST(levenshtein(nm_a, nm_b) AS INT) AS dist
         FROM pairs WHERE levenshtein(nm_a, nm_b) <= 1""",

    // round(p_q, 6) mirrors the Spark side's threshold quantization -
    // last-ulp interpolation differences must not flip the int flag
    "q_e_outliers" ->
      """WITH s AS (SELECT user_id,
             round(quantile_cont(CAST(value AS DOUBLE), 0.95), 6) AS p_q
           FROM events GROUP BY user_id)
         SELECT e.event_id, e.user_id, e.value, s.p_q,
                CAST(e.value > s.p_q AS INT) AS is_outlier
         FROM events e LEFT JOIN s USING (user_id)""",

    // trailing windows: RANGE h-1 PRECEDING = (t-h, t]; ROWS features
    // under the total (t, event_id) order
    "q_e_rolling" ->
      """WITH e AS (SELECT event_id, user_id, value,
                           CAST(event_id % 86400 AS BIGINT) AS t
                    FROM events)
         SELECT event_id, user_id, t,
                count(*) OVER w6 AS n_600s,
                min(value) OVER w6 AS min_v_600s,
                max(value) OVER w6 AS max_v_600s,
                count(*) OVER w36 AS n_3600s,
                t - lag(t) OVER wo AS gap_s,
                row_number() OVER wo AS seq_n
         FROM e
         WINDOW
           w6 AS (PARTITION BY user_id ORDER BY t
                  RANGE BETWEEN 599 PRECEDING AND CURRENT ROW),
           w36 AS (PARTITION BY user_id ORDER BY t
                   RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW),
           wo AS (PARTITION BY user_id ORDER BY t, event_id)""",

    "q_e_sessions" ->
      """WITH e AS (SELECT user_id, CAST(event_id % 86400 AS BIGINT) AS t
                    FROM events),
              o AS (SELECT user_id, t,
                           CASE WHEN lag(t) OVER w IS NULL
                                  OR t - lag(t) OVER w > 900
                                THEN 1 ELSE 0 END AS brk
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
              s AS (SELECT user_id, t,
                           sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                          ROWS UNBOUNDED PRECEDING) AS sid
                    FROM o)
         SELECT CAST(min(t) AS BIGINT) AS sess_start_s,
                CAST(max(t) + 900 AS BIGINT) AS sess_end_s,
                user_id, count(*) AS n_events
         FROM s GROUP BY user_id, sid""",

    // batch recomputation of the append-mode session stream: the same
    // gap sessionization as q_e_sessions, kept only when the session
    // closed before the final watermark (max t - 7200)
    "q_stream_sessions" ->
      """WITH e AS (SELECT user_id, CAST(event_id % 86400 AS BIGINT) AS t
                    FROM events),
              o AS (SELECT user_id, t,
                           CASE WHEN lag(t) OVER w IS NULL
                                  OR t - lag(t) OVER w > 900
                                THEN 1 ELSE 0 END AS brk
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
              s AS (SELECT user_id, t,
                           sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                          ROWS UNBOUNDED PRECEDING) AS sid
                    FROM o),
              g AS (SELECT CAST(min(t) AS BIGINT) AS sess_start_s,
                           CAST(max(t) + 900 AS BIGINT) AS sess_end_s,
                           user_id, count(*) AS n_events
                    FROM s GROUP BY user_id, sid)
         SELECT sess_start_s, sess_end_s, user_id, n_events FROM g
         WHERE sess_end_s <= (SELECT max(t) - 7200 FROM e)""",

    // batch recomputation of the streaming exact dedup: the surviving
    // set of a duplicate-every-row stream is the unique-keyed table
    "q_stream_dedup" ->
      """SELECT event_id, CAST(event_id % 86400 + 86400 AS BIGINT) AS ts_s,
             user_id, event_type, value
         FROM events""",

    // real video chain, closed form: frame f cell i luma =
    // md5Byte(seed|f|i); grid cell mean = cell luma (grid aligned to
    // blocks, BT.601 of r=g=b is the identity); frames 0..3 sampled
    // every 2nd -> 0 and 2; then the shared pHash machinery per frame
    "q_mm_video_frames" ->
      """WITH fr AS (SELECT doc_id, f
           FROM documents, LATERAL (SELECT unnest([0, 2]) AS f)),
         g AS (SELECT doc_id, f, i,
             ('0x' || substr(md5(doc_id || '|' || f || '|' || i), 1, 2))
               ::BIGINT AS fv
           FROM fr, LATERAL (SELECT unnest(range(0, 64)) AS i))
         SELECT CAST(doc_id AS BIGINT) AS asset_id,
                CAST(f AS INT) AS frame_idx,
                CAST(sum(fv) AS BIGINT) AS feat_sum,
                CAST(sum(CASE WHEN fv < thr THEN 0
                              WHEN i = 63 THEN (-9223372036854775808)::BIGINT
                              ELSE 1::BIGINT << i END)
                  AS BIGINT) AS frame_phash
         FROM (SELECT doc_id, f, i, fv,
                 CAST(sum(fv) OVER (PARTITION BY doc_id, f) AS BIGINT) >> 6
                   AS thr
               FROM g)
         GROUP BY doc_id, f""",

    // batch recomputation of the streaming LSH near-dup flagger: same
    // md5-permutation signatures and band encoding as q_d_minhash_md5's
    // oracle, "seen before" = doc_id-earlier, stored set = the first
    // 1000 docs of each bucket (rank cap = the state cap), flag when
    // >= 6 of 16 signature positions agree. sigs is MATERIALIZED - it
    // feeds the band explode and both sides of the agreement join.
    "q_stream_neardup" -> streamNearDupOracleSql,

    // the MULTI-batch run must reproduce the identical rows: the
    // doc_id-ordered two-batch split keeps "seen before" == doc_id-
    // earlier, so a correct cross-batch state merge is exactly the
    // single-batch recomputation
    "q_stream_neardup_mb" -> streamNearDupOracleSql,

    // at-least-once redelivery: a correct dedup-on-merge re-emits the
    // same ranked rows, so distinct(sink) == the batch kNN join
    "q_stream_ann_mb" -> knnJoinOracleSql,

    // batch recomputation of the watermarked tumbling-window stream
    "q_stream_windowed" ->
      """SELECT CAST(((event_id % 86400) // 3600) * 3600 AS BIGINT)
               AS win_start_s,
             event_type, count(*) AS n_events
         FROM events GROUP BY 1, 2""",

    // Flagship oracles: INDEPENDENT recomputation from the raw tables at
    // any scale factor (no pinned VALUES), via the shared CTE chains
    // above (pipelinePicksCtes / agrUpsertCtes). Both the count
    // projections AND the full flagship row dumps are under the gate.
    "q_pipeline_counts" ->
      s"""WITH $pipelinePicksCtes
         SELECT CAST(tier AS INT) AS tier, method, count(*) AS n
         FROM picks GROUP BY tier, method""",

    // the full strong-pick row set, hash-gated column by column
    "q_pipeline_e2e" ->
      s"""WITH $pipelinePicksCtes
         SELECT CAST(groupId AS INT) AS groupId,
                CAST(srcRgdId AS INT) AS srcRgdId,
                CAST(destRgdId AS INT) AS destRgdId,
                xrefDataSrc, xrefDataSet, CAST(tier AS INT) AS tier,
                method
         FROM picks""",

    "q_agr_counts" ->
      s"""WITH $agrUpsertCtes
         SELECT isBestScore, isBestRevScore, methodsMatched,
                count(*) AS n
         FROM up, guard
         WHERE guard.do_delete = 0 OR up.fresh = 1
         GROUP BY isBestScore, isBestRevScore, methodsMatched""",

    // the full post-guard AGR state, hash-gated column by column
    "q_agr_e2e" ->
      s"""WITH $agrUpsertCtes
         SELECT CAST(g1 AS INT) AS geneRgdId1,
                CAST(g2 AS INT) AS geneRgdId2,
                isBestScore, isBestRevScore, methodsMatched
         FROM up, guard
         WHERE guard.do_delete = 0 OR up.fresh = 1"""
  )
}
