package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (the 100 TB contract):
  *  - exact/normalized dedup: hash group-by - one shuffle on the content
  *    hash, map-side partial aggregation, no row ever compared twice.
  *  - MinHash/LSH and SimHash near-dup: candidate pairs come ONLY from
  *    band-bucket equi-joins (shuffle on band hash). There is no
  *    crossJoin and no driver-side collect anywhere in these plans; the
  *    candidate count is bounded by bucket co-occupancy, the classic
  *    MinHash-LSH bound (Broder '97; MMDS ch.3).
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical text. */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** The ONE normalized-content hash: md5 of lowercased,
    * whitespace-collapsed text. [[normalized]], [[dedupAgainstReference]]
    * and [[PrepPipeline]] all key on this expression - oracle parity
    * depends on every dedup surface staying bit-identical. */
  def normMd5(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " ").cast("binary"))

  /** Cross-source duplicate-overlap matrix: for every ordered stratum
    * pair (src_a < src_b), how many of src_a's DISTINCT normalized
    * contents also appear in src_b, plus each side's distinct count -
    * the mixture diagnostic that says which sources are re-crawls of
    * each other before any dedup decision. Diagonal rows (src, src)
    * report within-source duplication (docs minus distinct contents).
    *
    * Scale: one distinct collapse on ([[normMd5]], stratum) - hash
    * only, text never shuffles - then a self-equi-join on the hash
    * whose per-key fan-out is bounded by |strata|, and a count
    * aggregation to a |strata|^2-row frame. */
  def sourceOverlapMatrix(df: DataFrame, strataCol: String = "source",
                          textCol: String = "text"): DataFrame = {
    val hashes = df.select(col(strataCol).as("src"),
        normMd5(col(textCol)).as("h"))
    val distinctH = hashes.distinct()
    val sizes = distinctH.groupBy(col("src"))
      .agg(count(lit(1)).as("n_distinct"))
    val within = hashes.groupBy(col("src"))
      .agg(count(lit(1)).as("n_docs"))
      .join(sizes, Seq("src"))
      .select(col("src").as("src_a"), col("src").as("src_b"),
        (col("n_docs") - col("n_distinct")).as("n_overlap"),
        col("n_distinct").as("n_distinct_a"),
        col("n_distinct").as("n_distinct_b"))
    val cross = distinctH.select(col("src").as("src_a"), col("h"))
      .join(distinctH.select(col("src").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_overlap"))
      .join(broadcast(sizes.select(col("src").as("src_a"),
        col("n_distinct").as("n_distinct_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"),
        col("n_distinct").as("n_distinct_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_overlap"),
        col("n_distinct_a"), col("n_distinct_b"))
    within.unionByName(cross)
  }

  /** Normalized (near-exact) dedup: identity on [[normMd5]]. */
  def normalized(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.withColumn("norm_md5", normMd5(col(textCol)))
      .groupBy(col("norm_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Word shingles (n-grams) of the lowercased text as an array column -
    * the native one-pass [[graft.functions.ShingleArray]] (distinct
    * space-joined n-grams; <n tokens degrade to one whole-text shingle). */
  def shingles(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.ShingleArray(
        org.apache.spark.sql.GraftSqlBridge.expression(text), n))

  /** MinHash signature: position p is min over shingles of draw_p(shingle),
    * computed by the native codegen'd [[graft.functions.MinHashSig]]
    * expression - one xxhash64 per shingle plus k splitmix64 mixes, in a
    * single tight loop with no per-shingle allocation. (History: a
    * "transform over positions" HOF nesting re-evaluated the shingle
    * expression k times per row, and even the single-aggregate-pass HOF
    * fix still allocated two 64-element arrays per shingle - 7s at sf0.1
    * vs sub-second native.) */
  def minhashSignature(shingleCol: Column, k: Int = 64): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.GraftSqlBridge.expression(shingleCol), k))

  /** Fused tokenize+shingle+MinHash over raw text - one native pass, no
    * shingle strings materialized (see [[graft.functions.MinHashTextSig]]).
    * The signature path for text columns; `minhashSignature` remains for
    * pre-built shingle/token arrays. */
  def minhashTextSignature(text: Column, shingleN: Int = 3, k: Int = 64): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.MinHashTextSig(
        org.apache.spark.sql.GraftSqlBridge.expression(text), shingleN, k))

  /** Banded LSH self-join: docs sharing at least one (band, bandHash)
    * bucket become candidate pairs; pairs are then verified by the
    * signature-agreement estimate of Jaccard similarity.
    *
    * Scale guards, in order:
    *  1. the join carries only (band, bandHash, id) - signatures are
    *     re-attached AFTER pair dedupe, so the shuffle payload is thin;
    *  2. buckets larger than `maxBucketSize` are dropped before the
    *     self-join. An over-full bucket means a non-discriminative band
    *     (boilerplate/common shingles); it contributes O(n^2) candidate
    *     pairs and near-zero precision, and every pair of truly similar
    *     docs still collides in their other bands. This bounds worst-case
    *     cost at buckets*cap^2 regardless of data skew. The default cap
    *     (1000) is shared by every pair generator in this object
    *     ([[simhashPairs]], [[simhashMd5Pairs]], [[minhashMd5Pairs]]) so
    *     switching between the fast xxhash64 path and its portable md5
    *     twin never changes recall through the cap.
    *
    * @param bands  number of LSH bands (k must be divisible by bands)
    * @param threshold  estimated-Jaccard cutoff for reporting a pair
    */
  def minhashLshPairs(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", k: Int = 64, bands: Int = 16,
                      shingleN: Int = 3, threshold: Double = 0.7,
                      maxBucketSize: Int = 1000): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val rows = k / bands

    val sigs = df.select(col(idCol).as("id"),
      minhashTextSignature(col(textCol), shingleN, k).as("sig"))

    // explode to (id, band, bandHash); hash() digests the band slice
    val banded = sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandHash")

    // skew guard: drop non-discriminative oversized buckets
    val wB = Window.partitionBy(col("band"), col("bandHash"))
    val bounded = banded.withColumn("bSize", count(lit(1)).over(wB))
      .filter(col("bSize") <= maxBucketSize).drop("bSize")

    // bucket equi-join (the ONLY pair source - no crossJoin at any scale)
    val left = bounded.select(col("band"), col("bandHash"), col("id").as("id_a"))
    val right = bounded.select(col("band"), col("bandHash"), col("id").as("id_b"))
    val candidates = left.join(right, Seq("band", "bandHash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    candidates
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b),
          x => x)).cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** 64-bit SimHash over the word multiset: per bit, sum +-1 weighted by
    * token hash bits; the sign vector packs into one long. Computed by
    * the fused native [[graft.functions.SimHashText]] expression - the
    * regex-split + per-token HOF formulation allocated a 64-element array
    * per token and ran interpreted. [[graft.functions.SimHash64]] remains
    * for pre-tokenized array columns. */
  def simhash(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.SimHashText(
        org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** SimHash near-dup pairs: block on bit chunks, verify with
    * bit_count(xor).
    *
    * The chunk count is DERIVED from the radius: with `maxHamming + 1`
    * chunks, a pair within Hamming distance `maxHamming` has at least one
    * chunk with zero differing bits (pigeonhole), so every qualifying
    * pair is guaranteed to collide in some bucket. The classic 4x16-bit
    * scheme is the maxHamming=3 instance; larger radii get more, narrower
    * chunks (and proportionally less-discriminative buckets - radius 3 is
    * the sweet spot for 64-bit SimHash, per Manku et al. WWW'07).
    *
    * Scale guard: buckets larger than `maxBucketSize` are dropped before
    * the self-join, same as [[minhashLshPairs]]. Unlike MinHash bands
    * (where similar docs collide in many bands), a chunk bucket can be a
    * pair's ONLY collision, so the cap genuinely trades recall on
    * degenerate corpora (thousands of docs sharing one chunk value =
    * boilerplate); without it one hot bucket is O(n^2) and the 100 TB
    * contract is void. Callers needing exhaustive output on such corpora
    * should dedupe exactly first. */
  def simhashPairs(df: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", maxHamming: Int = 3,
                   maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming=$maxHamming out of range: need 0 <= maxHamming < 32 " +
        "(chunks = maxHamming + 1 must leave chunks of >= 2 bits)")
    val chunks = maxHamming + 1
    // distribute 64 bits as evenly as possible across the chunks
    val widths = Array.fill(chunks)(64 / chunks)
    (0 until 64 % chunks).foreach(widths(_) += 1)
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunkCols = (0 until chunks).map { c =>
      // width 64 (maxHamming=0, one chunk): (1L << 64) == 1L in JVM shift
      // semantics, which would zero the mask - use all-ones explicitly
      val mask = if (widths(c) == 64) -1L else (1L << widths(c)) - 1
      shiftright(col("sh"), offsets(c)).bitwiseAND(mask)
    }

    val withHash = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
    val chunked = withHash.select(col("id"), col("sh"),
      posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunkVal")

    // skew guard: a chunk value shared by >maxBucketSize docs carries no
    // signal; drop it rather than go quadratic (see scaladoc)
    val wB = Window.partitionBy(col("chunk"), col("chunkVal"))
    val bounded = chunked.withColumn("bSize", count(lit(1)).over(wB))
      .filter(col("bSize") <= maxBucketSize).drop("bSize")

    val l = bounded.select(col("chunk"), col("chunkVal"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val r = bounded.select(col("chunk"), col("chunkVal"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, Seq("chunk", "chunkVal"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Portable SimHash near-dup pairs with md5 bit draws: the same
    * chunk-blocking topology as [[simhashPairs]], but the 64-bit
    * signature is derived purely from md5 hex digits so every engine
    * with md5 reproduces it bit-for-bit (the DuckDB-oracled twin of the
    * xxhash64-based fast path, exactly as [[minhashMd5Pairs]] twins
    * [[minhashLshPairs]]).
    *
    * Signature: token multiset of the lowercased text (split on
    * `[^a-z0-9_]+`); bit j (0..63) of md5(token) contributes +1/-1 to
    * bitsum_j; signature bit j is 1 iff the sum is strictly positive
    * (ties and tokenless docs give 0). The signature is carried as a
    * 64-char '0'/'1' string - hex chars map to bits without any 64-bit
    * integer parsing, which DuckDB's md5 surface cannot do portably -
    * and the maxHamming+1 blocking chunks are substrings whose widths
    * distribute the 64 chars evenly (the same pigeonhole guarantee as
    * [[simhashPairs]]; maxHamming=3 gives the classic 4x16 scheme).
    * Buckets above `maxBucketSize` are dropped, and the oracle mirrors
    * the cut. */
  def simhashMd5Pairs(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", maxHamming: Int = 3,
                      maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 7,
      s"maxHamming=$maxHamming outside [1, 7] for the portable 64-char " +
        "signature (chunks = maxHamming + 1, each >= 8 chars)")
    // chunk widths over the 64-char bit string, distributed exactly as
    // [[simhashPairs]] distributes bit widths (pigeonhole: maxHamming+1
    // chunks guarantee a zero-diff chunk for any qualifying pair)
    val chunks = maxHamming + 1
    val widths = Array.fill(chunks)(64 / chunks)
    (0 until 64 % chunks).foreach(widths(_) += 1)
    val offsets = widths.scanLeft(0)(_ + _).init
    // fused native signature (one md5 per token, single pass) - the HOF
    // formulation (aggregate + zip_with + 64 conv/substr lambdas per
    // token) ran interpreted at ~15s for sf0.1, this is sub-second.
    // lower() is applied OUTSIDE so Spark's (unicode) lowercasing is
    // what the [a-z0-9_] tokenizer sees, matching the oracle's regex.
    val sigs = df.select(col(idCol).as("id"),
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.SimHashMd5Text(
          org.apache.spark.sql.GraftSqlBridge.expression(
            lower(trim(coalesce(col(textCol), lit(""))))))).as("sig"))

    val chunkCols = (0 until chunks).map(c =>
      col("sig").substr(offsets(c) + 1, widths(c)))
    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunkVal")
    val wB = Window.partitionBy(col("chunk"), col("chunkVal"))
    val bounded = chunked.withColumn("bSize", count(lit(1)).over(wB))
      .filter(col("bSize") <= maxBucketSize).drop("bSize")

    val l = bounded.select(col("chunk"), col("chunkVal"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val r = bounded.select(col("chunk"), col("chunkVal"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "chunkVal"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      // native positional hamming (one pass over the two 64-char ASCII
      // signatures) - the HOF form (transform+filter, 128 interpreted
      // substr calls per candidate pair) is byte-identical but ran as
      // CodegenFallback on every blocked pair
      .withColumn("hamming",
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.HammingStr(
            org.apache.spark.sql.GraftSqlBridge.expression(col("sig_a")),
            org.apache.spark.sql.GraftSqlBridge.expression(col("sig_b")),
            64)))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact n-gram Jaccard between candidate pairs (joined by any blocking
    * scheme); exposed for verification of LSH candidates. Expects
    * columns sh_a/sh_b replaced by shingle arrays named a/b. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))

  /** Connected components over an undirected pair list (the output shape
    * of the near-dup generators): every node gets the minimum id
    * reachable from it as its component label.
    *
    * Algorithm: min-label propagation with POINTER JUMPING - each round
    * every node takes the min of its own label, its neighbors' labels,
    * and its current label's label (lbl(lbl)). Plain neighbor
    * propagation needs diameter-many rounds; the jump step halves the
    * remaining distance each round, so convergence is O(log diameter) -
    * the property that makes this viable on a 100 TB pair graph (the
    * classic alternative is Kiveris et al.'s large-star/small-star,
    * same bound). Each round is two equi-joins + one aggregation;
    * iterates driver-side with localCheckpoint truncating lineage, and
    * stops at the fixpoint (no label changed).
    *
    * Only nodes appearing in `pairs` are labeled; callers union isolated
    * ids back (see [[nearDupSurvivors]]). */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 25): DataFrame = {
    val sym = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionByName(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()
      .localCheckpoint()

    // the checkpoint `labels` currently reads; each round's supersedes
    // the last, which is released once nothing reads it
    var held = sym.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    var labels = held

    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // min label over neighbors
      val nbrMin = sym
        .join(labels.select(col("id").as("v"), col("lbl").as("vLbl")), Seq("v"))
        .groupBy(col("u")).agg(min(col("vLbl")).as("nbrLbl"))
        .withColumnRenamed("u", "id")
      // carry the pre-iteration label through as `old` (r16): the
      // convergence check then reads the just-checkpointed frame
      // directly instead of re-joining the previous labels - one fewer
      // join per round on a loop that is all fixed overhead
      val prop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nbrLbl"), col("lbl"))).as("lbl"))
      // pointer jump: also adopt lbl(lbl)
      val parents = prop.select(col("id").as("p"), col("lbl").as("pLbl"))
      val jumped = prop.join(parents, prop("lbl") === parents("p"), "left")
        .select(prop("id"), col("old"),
          least(prop("lbl"), coalesce(col("pLbl"), prop("lbl"))).as("lbl"))
        .localCheckpoint()
      val changed = jumped.filter(col("lbl") =!= col("old")).limit(1).count()
      converged = changed == 0
      releaseCheckpoint(held)
      held = jumped
      labels = jumped.select(col("id"), col("lbl"))
      it += 1
    }
    // only the returned labels' checkpoint outlives the call
    releaseCheckpoint(sym)
    if (!converged) releaseCheckpoint(held)
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** Drop the blocks behind a `localCheckpoint()` frame. Its lineage is
    * truncated, so the frame cannot be read afterwards. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }

  /** Keep-one-per-cluster: the doc set minus near-duplicates. Survivors
    * are the minimum id of each connected component of the pair graph,
    * plus every document not in any pair. One CC run plus one hash
    * anti-join on the doc id (the duplicate side can be huge, so no
    * broadcast assumption). */
  def nearDupSurvivors(df: DataFrame, pairs: DataFrame,
                       idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs)
    // everything in a component that is NOT its min-id member is a dup
    val dups = comps.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(dups, Seq(idCol), "left_anti")
  }

  /** Quality-aware keep-one-per-cluster: instead of
    * [[nearDupSurvivors]]' min-id convention, each near-dup component
    * keeps its highest-`scoreCol` member (ties -> min id) - the form
    * production dedup actually wants, since a cluster's members differ
    * in boilerplate, truncation, and OCR noise and the arbitrary min-id
    * pick throws the best copy away ~half the time.
    *
    * `scored` is (idCol, scoreCol) - score however you like
    * (quality-feature formula, LR classifier, LM perplexity). Returns
    * one row per component: (component, keep_id, n_members).
    * Deterministic across engines for the same reason q_t_curate's
    * ordering is: identical per-row double arithmetic, and
    * (score DESC, id ASC) is a total order.
    *
    * Plan: one CC run over the pair graph, one equi-join of the label
    * frame to the scores, then a single component-partitioned window
    * pass (rank + member count share the one shuffle). Window
    * partitions are near-dup clusters - bounded by cluster size, never
    * corpus-sized.
    *
    * `scored` must cover every id appearing in `pairs`: a component
    * member with no score FAILS the job (left join + raise_error)
    * instead of silently vanishing - an inner join here would
    * undercount n_members and could mispick keep_id without any
    * signal. */
  def nearDupClusterPick(scored: DataFrame, pairs: DataFrame,
                         scoreCol: String,
                         idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs)
    val members = comps
      .join(scored.select(col(idCol).as("id"), col(scoreCol).as("__s")),
        Seq("id"), "left")
      .withColumn("__s", when(col("__s").isNull,
          raise_error(concat(lit("nearDupClusterPick: pair-graph member id "),
            col("id").cast("string"),
            lit(" is missing from the scored frame or has a null score"))))
        .otherwise(col("__s")))
    val byComp = Window.partitionBy(col("component"))
    val pick = byComp.orderBy(col("__s").desc, col("id").asc)
    members
      .withColumn("__rk", row_number().over(pick))
      .withColumn("n_members", count(lit(1)).over(byComp))
      .filter(col("__rk") === 1)
      .select(col("component"), col("id").as("keep_id"), col("n_members"))
  }

  /** EXACT all-pairs n-gram Jaccard via a shingle inverted index - the
    * deterministic alternative to [[ngramJaccardPairs]] (whose MinHash
    * candidate stage can miss pairs below the band guarantee). Every
    * pair sharing at least one indexed shingle is scored with its true
    * Jaccard; pairs sharing no shingle have Jaccard 0 and are correctly
    * absent for any threshold > 0.
    *
    * Plan shape: explode to (shingle, id, |S(id)|) postings, self-join
    * on the shingle, count common shingles per pair, then
    * J = common / (|A| + |B| - common) from the per-doc set sizes
    * carried on the postings - no second pass over the text.
    *
    * Scale guard: `maxDf` drops shingles occurring in more than that
    * many documents BEFORE the self-join (a document-frequency cut -
    * the posting-list join costs sum(df^2) and a boilerplate shingle
    * shared by 1e6 docs is 1e12 candidate pairs). The cut is the one
    * approximation: a pair whose every common shingle is df-cut is
    * missed, and a surviving pair's `common` counts indexed shingles
    * only (its jaccard can undercount). Set maxDf above the corpus'
    * boilerplate threshold, or Int.MaxValue for the fully exact answer.
    * The classic exact-at-scale refinement is prefix filtering
    * (PPJoin); the df-cut keeps the same equi-join plan and is the
    * standard first line at web scale. */
  def jaccardPairsExact(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", shingleN: Int = 3,
                        threshold: Double = 0.5,
                        maxDf: Int = 1000): DataFrame = {
    val withSh = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh"))
      .withColumn("nsh", size(col("sh")))
    val postings = withSh.select(col("id"), col("nsh"),
      explode(col("sh")).as("shingle"))

    // document-frequency cut (see scaladoc)
    val wS = Window.partitionBy(col("shingle"))
    val kept = postings.withColumn("df", count(lit(1)).over(wS))
      .filter(col("df") <= maxDf).drop("df")

    val a = kept.select(col("shingle"), col("id").as("id_a"), col("nsh").as("nsh_a"))
    val b = kept.select(col("shingle"), col("id").as("id_b"), col("nsh").as("nsh_b"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("nsh_a"), col("nsh_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("nsh_a") + col("nsh_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** N-gram-Jaccard near-dup: MinHash bands generate candidates, exact
    * shingle Jaccard verifies - the full two-stage pipeline. */
  def ngramJaccardPairs(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", shingleN: Int = 3,
                        threshold: Double = 0.8): DataFrame = {
    val withShingles = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh"))
    val cands = minhashLshPairs(df, idCol, textCol, 64, 16, shingleN, threshold * 0.7)
    cands
      .join(withShingles.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(withShingles.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Portable MinHash-LSH near-dup pairs with md5 permutations: the
    * same band/bucket topology as [[minhashLshPairs]], but draw_i(sh) =
    * the first 16 hex chars of md5(i|sh) - fixed-width hex strings
    * order like the unsigned numbers they encode, so `array_min` IS the
    * minhash, and every engine with md5 reproduces the signature
    * byte-for-byte. This variant exists to be INDEPENDENTLY CHECKABLE
    * (it backs the DuckDB-oracled q_d_minhash_md5; the xxhash64-based
    * [[minhashLshPairs]] stays the fast path - one hash + k integer
    * mixes per shingle vs k md5 digests here, ~k x the hashing cost).
    * Candidates are verified with EXACT shingle Jaccard, so the output
    * is exact-over-recalled-candidates, not an estimate. */
  def minhashMd5Pairs(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", k: Int = 16, bands: Int = 8,
                      shingleN: Int = 3, threshold: Double = 0.5,
                      maxBucketSize: Int = 1000): DataFrame =
    minhashMd5PairsImpl(df, idCol, textCol, k, bands, shingleN, threshold,
      maxBucketSize, estMinAgree = 0)._1

  /** Portable TWO-STAGE n-gram-Jaccard near-dup ([[ngramJaccardPairs]]'s
    * md5 twin): band-bucket candidates, a SIGNATURE-AGREEMENT estimate
    * filter (at least `estMinAgree` of the k md5 minhash positions
    * equal - integer-exact, so every engine agrees on the cut), then
    * exact shingle-Jaccard verification at `threshold`. The estimate
    * stage is the piece the plain md5 pairs path lacks: it discards
    * low-similarity candidates BEFORE the shingle-set join, which at
    * 100 TB is the difference between verifying banded-but-dissimilar
    * boilerplate pairs and never shuffling their shingle sets at all. */
  def ngramJaccardPairsMd5(df: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", k: Int = 16,
                           bands: Int = 8, shingleN: Int = 3,
                           threshold: Double = 0.8, estMinAgree: Int = 4,
                           maxBucketSize: Int = 1000): DataFrame =
    minhashMd5PairsImpl(df, idCol, textCol, k, bands, shingleN, threshold,
      maxBucketSize, estMinAgree)._1

  /** [[minhashMd5Pairs]], materialized via localCheckpoint with the
    * internal shingle cache released before returning. The lazy variant
    * persists a shingle frame whose only reclamation path is a global
    * `spark.catalog.clearCache()` (the frame is internal, so the caller
    * holds no handle to unpersist) - long sessions that call it
    * repeatedly accumulate cached shingle partitions. Use this variant
    * when the pair list will be consumed more than once (SparkEntry's
    * session memo does): the eager checkpoint pins ONLY the O(pairs)
    * result, and the O(corpus) shingle blocks are freed immediately. */
  def minhashMd5PairsCheckpointed(df: DataFrame, idCol: String = "doc_id",
                                  textCol: String = "text", k: Int = 16,
                                  bands: Int = 8, shingleN: Int = 3,
                                  threshold: Double = 0.5,
                                  maxBucketSize: Int = 1000): DataFrame = {
    val (pairs, withSh) = minhashMd5PairsImpl(df, idCol, textCol, k, bands,
      shingleN, threshold, maxBucketSize, estMinAgree = 0)
    try pairs.localCheckpoint() // eager: materializes before the finally
    finally withSh.unpersist(blocking = false)
  }

  private def minhashMd5PairsImpl(df: DataFrame, idCol: String,
                                  textCol: String, k: Int, bands: Int,
                                  shingleN: Int, threshold: Double,
                                  maxBucketSize: Int,
                                  estMinAgree: Int): (DataFrame, DataFrame) = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val rows = k / bands
    // persisted: three consumers (signature build + both verify joins)
    // would each re-run the scan and shingle pass otherwise. Lifecycle
    // is the caller's, as in [[removeBoilerplateChunks]] - prefer
    // [[minhashMd5PairsCheckpointed]] when the result outlives the call.
    val withSh = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh"))
      .persist()
    // native one-pass signature (functions.Md5MinHashSig) - the HOF
    // formulation (k-position transform + per-shingle array_min) ran
    // interpreted at ~4.7s per consumer at sf0.1; equivalence is pinned
    // in LlmSpec and the DuckDB oracle replays the same md5 digests
    val sig = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.Md5MinHashSig(
        org.apache.spark.sql.GraftSqlBridge.expression(col("sh")), k))
    val sigs = withSh.withColumn("sig", sig).select(col("id"), col("sig"))
    val banded = sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws("#", slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandval")
    val wB = Window.partitionBy(col("band"), col("bandval"))
    val bounded = banded.withColumn("bSize", count(lit(1)).over(wB))
      .filter(col("bSize") <= maxBucketSize).drop("bSize")
    val left = bounded.select(col("band"), col("bandval"), col("id").as("id_a"))
    val right = bounded.select(col("band"), col("bandval"), col("id").as("id_b"))
    val banded0 = left.join(right, Seq("band", "bandval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // optional estimate stage: signature-position agreement count, an
    // integer both engines compute identically; 0 = no filter
    val candidates =
      if (estMinAgree <= 0) banded0
      else banded0
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        // native agreement count (one pass over the two k-string
        // signatures) - the zip_with+filter HOF is byte-identical but
        // interpreted per candidate pair
        .filter(org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.SigAgreeStr(
            org.apache.spark.sql.GraftSqlBridge.expression(col("sig_a")),
            org.apache.spark.sql.GraftSqlBridge.expression(col("sig_b"))))
          >= estMinAgree)
        .select(col("id_a"), col("id_b"))
    candidates
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard")) -> withSh
  }

  /** Bottom-k sketch pairs with ASYMMETRIC containment estimates - the
    * near-dup signal symmetric Jaccard misses: a short document embedded
    * verbatim in a long one has Jaccard ~ |A|/|B| (tiny) but containment
    * C(A,B) = |A n B|/|A| ~ 1. Bottom-k sketches (Cohen & Kaplan 2007)
    * estimate both from k-sized state per document.
    *
    * Sketch: the k smallest 16-hex-char md5 hashes of the document's
    * distinct word `shingleN`-grams (fixed-width hex orders like the
    * unsigned numbers it encodes, the [[minhashMd5Pairs]] convention -
    * one hash function, so any engine replays it). For a candidate pair,
    * let M = bottom-k of the UNION of the two sketches (computable from
    * sketches alone - the coordinated-sampling property). Then with
    * a_in = |M n bk(A)|, b_in = |M n bk(B)|, inter = |M n bk(A) n bk(B)|:
    * est_jaccard = inter/|M|, containment(A in B) = inter/a_in,
    * containment(B in A) = inter/b_in.
    *
    * Candidates: inverted-index equi-join on each document's
    * `blockHashes` smallest hashes (a contained document's smallest
    * hashes are, with probability ~C each, also hashes of the
    * container), with the shared `maxBucketSize` hot-bucket cap - the
    * banded-LSH posture, never all-pairs. Pairs whose best containment
    * estimate is below `minContainment` are dropped.
    *
    * Scale: k+1 integers of sketch state per document; the pair stage
    * touches only sketches (never shingle sets - unlike the
    * exact-verify minhash paths, this one is estimate-only by design,
    * the tradeoff that makes cross-corpus containment screens cheap). */
  def bottomKContainmentPairs(df: DataFrame, idCol: String = "doc_id",
                              textCol: String = "text", k: Int = 12,
                              shingleN: Int = 3, blockHashes: Int = 3,
                              minContainment: Double = 0.5,
                              maxBucketSize: Int = 1000): DataFrame = {
    require(k >= 2 && blockHashes >= 1 && blockHashes <= k,
      s"need 2 <= k, 1 <= blockHashes <= k: $k / $blockHashes")
    // native one-pass sketch (functions.BottomKMd5): one digest per
    // shingle, longs sorted sign-flipped, k hex strings formatted -
    // byte-identical to the HOF slice(array_sort(transform(md5)))
    // construction (pinned in LlmSpec; the DuckDB oracle replays it).
    // Persisted: THREE consumers (blocking explode + both pair-side
    // joins) would each re-run the scan+shingle+digest pass otherwise -
    // the [[minhashMd5PairsImpl]] lifecycle; the cached frame is
    // sketch-sized (k hashes per doc), not corpus-sized
    val sk = df.select(col(idCol).as("id"),
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.BottomKMd5(
            org.apache.spark.sql.GraftSqlBridge.expression(
              shingles(col(textCol), shingleN)), k)).as("bk"))
      .persist()
    // persisted (r16): BOTH sides of the candidate self-join read this
    // frame, and without the pin each side re-ran the bucket-size
    // window (Exchange+Sort+Window twice per pass, measured ~0.8 s at
    // sf0.1). Block-hash-sized rows (<= blockHashes per doc), same
    // lifecycle as `sk` above - the caller/bench sweep releases it.
    val blk = sk.select(col("id"),
      explode(slice(col("bk"), 1, blockHashes)).as("h"))
    val wH = Window.partitionBy(col("h"))
    val bounded = blk.withColumn("bSize", count(lit(1)).over(wH))
      .filter(col("bSize") <= maxBucketSize).drop("bSize")
      .persist()
    val cand = bounded.select(col("h"), col("id").as("id_a"))
      .join(bounded.select(col("h"), col("id").as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).dropDuplicates("id_a", "id_b")
    // per-pair overlap counts, evaluated ONCE per row (r16). Two facts:
    // (a) CollapseProject inlines withColumn aliases into every
    // consumer, so `mu` (a concat+distinct+sort of 2k strings) used to
    // be re-evaluated inside each of three filter() lambdas -
    // interpreted, non-codegen, ~k*k*3 string compares per pair
    // (measured ~1.4 s over 43k candidate pairs at sf0.1; a first
    // attempt that captured a DERIVED column inside the lambda
    // re-evaluated the sort per ELEMENT - 29 s). (b) a Generate is a
    // collapse barrier: explode(array(...)) materializes `mu` and the
    // counts exactly once per row. With mu materialized, set sizes come
    // from array_intersect (hash-set probe, no lambda): mu is distinct,
    // so |mu n bka| == the old filter(contains) count, and
    // inter = in_a + in_b - |mu| since every mu element is in bka u bkb.
    val paired = cand
      .join(sk.select(col("id").as("id_a"), col("bk").as("bka")), Seq("id_a"))
      .join(sk.select(col("id").as("id_b"), col("bk").as("bkb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("bka"), col("bkb"),
        explode(array(
          slice(array_sort(array_distinct(concat(col("bka"), col("bkb")))), 1, k)))
          .as("mu"))
      .select(col("id_a"), col("id_b"),
        explode(array(struct(
          size(col("mu")).as("union_k"),
          size(array_intersect(col("mu"), col("bka"))).as("in_a"),
          size(array_intersect(col("mu"), col("bkb"))).as("in_b"))))
          .as("ov"))
      .select(col("id_a"), col("id_b"), col("ov.union_k").as("union_k"),
        col("ov.in_a").as("in_a"), col("ov.in_b").as("in_b"))
      .withColumn("inter_k", col("in_a") + col("in_b") - col("union_k"))
    val contA = when(col("in_a") > 0,
      col("inter_k").cast("double") / col("in_a")).otherwise(0.0)
    val contB = when(col("in_b") > 0,
      col("inter_k").cast("double") / col("in_b")).otherwise(0.0)
    paired
      .filter(greatest(contA, contB) >= minContainment)
      .select(col("id_a"), col("id_b"), col("union_k"), col("inter_k"),
        col("in_a"), col("in_b"),
        round(col("inter_k").cast("double") / col("union_k"), 6)
          .as("est_jaccard"),
        round(contA, 6).as("cont_a_in_b"),
        round(contB, 6).as("cont_b_in_a"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 -
    * the MOSS scheme): hash every word `k`-gram, slide a window of `w`
    * consecutive gram hashes, and select the LEFTMOST minimum of each
    * window. The selection guarantees at least one fingerprint per
    * window position (any shared substring of >= k+w-1 words is
    * guaranteed a shared selected fingerprint) at expected density
    * 2/(w+1) - the position-robust substring signal that per-gram
    * indexing pays |grams| for and [[repeatedNgramSpans]]' frequency
    * cut cannot give for one-off pair overlap.
    *
    * Hashes are md5-prefix 60-bit integers (the registry's cross-engine
    * convention). Documents with fewer than k words yield nothing; with
    * fewer than w grams, one window over all grams. Output: one row per
    * selected (doc, pos, fp) - `pos` is the 1-based gram position,
    * `fp` the gram hash.
    *
    * Scale: per-document in-array HOFs only (O(grams x w) comparisons
    * inside one projection) - no shuffle, no window operator, nothing
    * positional ever joins. Downstream pair mining shuffles only the
    * selected fingerprints (~2/(w+1) of the grams). */
  def winnowFingerprints(df: DataFrame, k: Int = 4, w: Int = 4,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(k >= 2 && w >= 2, s"need k >= 2, w >= 2: $k / $w")
    // native one-pass selection (functions.WinnowSelect): one digest per
    // gram + an O(grams) monotonic-deque sliding minimum - the HOF
    // formulation (per-window slice + array_min + array_position over a
    // transform'd md5/conv gram array) re-hashed every gram per window
    // membership and ran interpreted, minutes at sf0.1; equivalence is
    // pinned in LlmSpec and the DuckDB oracle replays the HOF formula
    df.select(col(idCol),
        TextAnalysis.normalizedWords(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col(idCol), explode(
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.WinnowSelect(
            org.apache.spark.sql.GraftSqlBridge.expression(col("ws")),
            k, w))).as("s"))
      .select(col(idCol), col("s.pos").as("pos"), col("s.fp").as("fp"))
  }

  /** Pair mining over [[winnowFingerprints]]: documents sharing at
    * least `minShared` distinct selected fingerprints, via an
    * inverted-index equi-join on the fingerprint value with a
    * document-frequency cut (`maxDf`) on boilerplate fingerprints -
    * the [[jaccardPairsExact]] postings posture, never all-pairs. */
  def winnowPairs(df: DataFrame, k: Int = 4, w: Int = 4,
                  minShared: Int = 2, maxDf: Int = 100,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val fps = winnowFingerprints(df, k, w, idCol, textCol)
      .select(col(idCol).as("id"), col("fp")).distinct()
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("fp_df"))
      .filter(col("fp_df") <= maxDf)
      .select(col("fp"))
    val postings = fps.join(rare, Seq("fp"))
    postings.select(col("fp"), col("id").as("id_a"))
      .join(postings.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Sub-document boilerplate removal (CCNet-style chunk dedup): split
    * each document into fixed `chunkWords`-word chunks, hash each chunk,
    * and delete every chunk whose hash occurs in at least `minDocs`
    * DISTINCT documents - the navigation bars / license footers /
    * cookie banners that whole-document dedup can never touch because
    * each page differs somewhere else. Surviving chunks are re-joined
    * in original order into `clean_text`.
    *
    * Scale: the chunk stream is ~|tokens|/chunkWords rows and shuffles
    * twice - once keyed by the 16-byte md5 for the distinct-doc count
    * (map-side partial combine; the boilerplate head aggregates early),
    * once keyed by doc id for ordered reassembly. Both are equi-shuffles
    * with no skew beyond the boilerplate hashes themselves, which the
    * count aggregation absorbs; the anti-join against the (small,
    * filtered) boilerplate set is hash-only payload. No windows over a
    * global order, no collect. */
  def removeBoilerplateChunks(df: DataFrame, chunkWords: Int = 10,
                              minDocs: Int = 2, idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    val k = chunkWords
    require(k > 0, s"chunkWords $k must be positive")
    val words = filter(split(trim(col(textCol)), "\\s+", -1), w => w =!= "")
    val nChunks = ceil(size(col("__w")).cast("double") / k).cast("int")
    // persisted: three consumers (boilerplate count, anti-join rebuild,
    // map-side totals) would each re-run the regex tokenization
    // otherwise (MEMORY_AND_DISK - spills instead of recomputing).
    // Cache lifecycle is the caller's: unpersist/clearCache between
    // repeated runs in one session (the Bench harness does).
    val chunked = df.select(col(idCol), words.as("__w"))
      .withColumn("__chunks",
        when(size(col("__w")) > 0,
          transform(sequence(lit(1), nChunks),
            i => array_join(slice(col("__w"), (i - 1) * k + 1, lit(k)), " ")))
          .otherwise(array().cast("array<string>")))
      .select(col(idCol), col("__chunks"))
      .persist()
    val segs = chunked
      .select(col(idCol), posexplode(col("__chunks")).as(Seq("pos", "chunk")))
      .withColumn("h", md5(col("chunk").cast("binary")))
    val boiler = segs.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    val rebuilt = segs.join(boiler, Seq("h"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
          s => s.getField("chunk")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    // n_chunks comes from the un-exploded array - a map-side size(),
    // not a second pass over the exploded chunk stream
    chunked.select(col(idCol), size(col("__chunks")).cast("long").as("n_chunks"))
      .join(rebuilt, Seq(idCol), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
      .withColumn("n_removed", col("n_chunks") - coalesce(col("n_kept"), lit(0L)))
      .select(col(idCol), col("clean_text"), col("n_chunks"), col("n_removed"))
  }

  /** Incremental dedup against a reference corpus: drop every corpus
    * document whose normalized-text md5 already appears in `reference`
    * (the new-crawl-vs-existing-training-set step; same normalization
    * as [[normalized]]). Returns surviving corpus rows plus `norm_md5`.
    *
    * Scale: the reference may be the full existing training set, so it
    * is NOT broadcast - it is projected to its 16-byte hash, made
    * distinct, and anti-joined on that uniformly-distributed key (a
    * shuffle whose payload is hashes only, never reference text). */
  def dedupAgainstReference(corpus: DataFrame, reference: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val refHashes = reference.select(normMd5(col(textCol)).as("norm_md5")).distinct()
    corpus.withColumn("norm_md5", normMd5(col(textCol)))
      .join(refHashes, Seq("norm_md5"), "left_anti")
  }

  /** Cross-document repeated-span detection, the SUBSTRING-level dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL'22: exact substrings repeated across training
    * documents are memorized disproportionately): every word `n`-gram
    * occurring in at least `minDocFreq` DISTINCT documents marks its
    * occurrences, and per document the marked [pos, pos+n) word
    * intervals merge into maximal spans. Output: (id, span_start,
    * span_end) in word offsets - span_end exclusive - plus the number
    * of distinct repeated grams the span contains.
    *
    * Scale shape: the gram stream is O(total words) rows (one per
    * position), aggregated with map-side combine into a per-gram
    * distinct-doc count; only grams above `minDocFreq` survive to the
    * hit join (an equi-join on the gram - repeated boilerplate is a
    * vanishing fraction of the position stream, and the join ships
    * hashes of short strings, never documents). The interval merge is
    * a per-document window (bounded by document length, never by
    * corpus size). No collect, no cross join; the suffix-array
    * construction the paper uses is replaced by the n-gram-join
    * equivalent for a fixed minimum span length. */
  def repeatedNgramSpans(df: DataFrame, n: Int = 5, minDocFreq: Int = 2,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(n >= 2 && minDocFreq >= 2, s"need n >= 2 (got $n) and " +
      s"minDocFreq >= 2 (got $minDocFreq)")
    // persisted (r16): the doc-frequency cut AND the hit join both read
    // the gram stream, and building it is the operator's dominant map
    // work (O(n) chars per position; measured ~0.7 s per extra pass at
    // sf0.1). O(total words) rows, MEMORY_AND_DISK - same lifecycle as
    // the shingle frames (the caller/bench sweep releases it).
    val grams = gramPositions(df, n, idCol, textCol).persist()
    val repeated = grams.groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("gram_df"))
      .filter(col("gram_df") >= minDocFreq)
      .select(col("gram"))
    val hits = grams.join(repeated, Seq("gram"))
    // classic island merge: a hit starts a new span iff its interval
    // does not touch the running max end of earlier hits in the doc
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("__new", (col("pos") >
        coalesce(max(col("pos") + n).over(wPrev), lit(-1L))).cast("int"))
      .withColumn("__grp", sum(col("__new")).over(wRun))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("span_end"),
        countDistinct(col("gram")).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Apply [[repeatedNgramSpans]]: rebuild each document's text from
    * the words NOT covered by any repeated span (the trim action of
    * substring-level dedup). Documents without spans pass through
    * verbatim-normalized (the operator works in normalized word space,
    * like every dedup surface here). Output: (id, text_trimmed,
    * n_removed). The covered-position frame is O(sum of span lengths)
    * and joins per (id, pos) - no document ever ships whole. */
  def trimRepeatedSpans(df: DataFrame, n: Int = 5, minDocFreq: Int = 2,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    trimBySpans(df, repeatedNgramSpans(df, n, minDocFreq, idCol, textCol),
      idCol, textCol)

  /** MAXIMAL repeated spans - suffix-array substring-dedup semantics
    * (Lee et al., ACL'22: deduplicate any repeat >= L tokens) at
    * L-gram resolution. A position's L-gram is "repeated" when it
    * occurs in >= `minDocFreq` distinct documents; a span is a MAXIMAL
    * run of CONSECUTIVE repeated-gram positions p, p+1, ..., q, output
    * as [p, q + L) - so every length-L window inside the span is
    * repeated, and the span cannot be extended a token in either
    * direction.
    *
    * L <-> n equivalence (the gram-chain construction): an exact
    * substring of length m >= L repeated across documents has all
    * m - L + 1 of its L-grams repeated and consecutive, so it is fully
    * contained in one output span - no true repeat >= L is missed.
    * The approximation is one-sided: a span only proves each of its
    * L-windows repeats SOMEWHERE (possibly in different partner
    * documents), so spans are a superset of exact maximal repeats -
    * the standard n-gram relaxation of the paper's suffix array.
    * Setting minSpanLen = L makes this "any repeated span >= L": a
    * lone repeated gram yields a span of exactly L, and longer repeats
    * extend token-by-token through the chain.
    *
    * Difference from [[repeatedNgramSpans]]: that operator merges hits
    * whose intervals merely overlap or touch (gap <= n between
    * positions), reporting boilerplate NEIGHBORHOODS; this one
    * requires step-1 chains, reporting spans in which EVERY window
    * repeats - the contract substring-level trimming needs.
    *
    * Scale shape: identical to [[repeatedNgramSpans]] - O(total words)
    * gram stream, map-side-combined doc-frequency cut, equi-join on
    * the surviving grams, and a per-document window (lag over the
    * doc's hit positions only). */
  def maximalRepeatedSpans(df: DataFrame, minSpanLen: Int = 6,
                           minDocFreq: Int = 2, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val n = minSpanLen
    require(n >= 2 && minDocFreq >= 2, s"need minSpanLen >= 2 (got $n) " +
      s"and minDocFreq >= 2 (got $minDocFreq)")
    // persisted - two consumers of the gram stream, see
    // repeatedNgramSpans
    val grams = gramPositions(df, n, idCol, textCol).persist()
    val repeated = grams.groupBy(col("gram"))
      .agg(countDistinct(col(idCol)).as("gram_df"))
      .filter(col("gram_df") >= minDocFreq)
      .select(col("gram"))
    val hits = grams.join(repeated, Seq("gram"))
    // chain extension: consecutive positions (step exactly 1) continue
    // the span; any gap breaks it
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val wRun = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("__new",
        (col("pos") - coalesce(lag(col("pos"), 1).over(wOrd), lit(-2L))
          =!= 1L).cast("int"))
      .withColumn("__grp", sum(col("__new")).over(wRun))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("span_end"),
        countDistinct(col("gram")).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Apply [[maximalRepeatedSpans]]: trim every token covered by a
    * maximal repeated span >= minSpanLen - the substring-dedup action
    * at suffix-array semantics. Same output contract as
    * [[trimRepeatedSpans]]. */
  def trimMaximalSpans(df: DataFrame, minSpanLen: Int = 6,
                       minDocFreq: Int = 2, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    trimBySpans(df,
      maximalRepeatedSpans(df, minSpanLen, minDocFreq, idCol, textCol),
      idCol, textCol)

  /** Shared trim action: rebuild each document's text from the words
    * NOT covered by any span in `spans` (id, span_start, span_end).
    * Documents without spans pass through verbatim-normalized (the
    * operator works in normalized word space, like every dedup surface
    * here). Output: (id, text_trimmed, n_removed). The
    * covered-position frame is O(sum of span lengths) and joins per
    * (id, pos) - no document ever ships whole. */
  private def trimBySpans(df: DataFrame, spans: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    // persisted (r16): the anti-join and the removed-count aggregation
    // both read the covered-position frame (O(sum of span lengths) rows)
    val covered = spans.select(col(idCol),
        explode(sequence(col("span_start"), col("span_end") - 1)).as("pos"))
      .distinct()
      .persist()
    val words = df.select(col(idCol),
      posexplode(TextAnalysis.normalizedWords(col(textCol))).as(Seq("pos", "w")))
    val kept = words.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("__ps"))
      .select(col(idCol),
        array_join(transform(col("__ps"), p => p("w")), " ").as("text_trimmed"))
    // n_removed = the doc's covered-position count (r16): every covered
    // position IS a word position (spans come from gram positions, and
    // span_end = pos + n <= word count), so words - kept = covered. The
    // old formulation re-scanned + re-normalized every document just to
    // count its words; the id projection below prunes the text column
    // at the parquet scan instead.
    val removedN = covered.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_removed"))
    df.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .join(removedN, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_trimmed"), lit("")).as("text_trimmed"),
        coalesce(col("n_removed"), lit(0)).as("n_removed"))
  }

  /** (id, pos, gram) positions of word `n`-grams; docs shorter than n
    * words emit nothing (there is no full-length gram to repeat).
    * Native one-pass [[graft.functions.NgramPosArray]] (r16) - the SQL
    * formulation (normalizedWords + transform over an index sequence
    * with slice + array_join per position) ran interpreted and
    * allocated a slice array per position. Tokenization parity with
    * normalizedWords is pinned in NgramPosSpec; the span-family oracles
    * replay the SQL construction, so a divergence fails the compare. */
  private def gramPositions(df: DataFrame, n: Int, idCol: String,
                            textCol: String): DataFrame =
    df.select(col(idCol), explode(
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.NgramPosArray(
            org.apache.spark.sql.GraftSqlBridge.expression(col(textCol)), n)))
        .as("__pg"))
      .select(col(idCol), col("__pg.pos").as("pos"), col("__pg.gram").as("gram"))
}
