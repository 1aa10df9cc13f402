package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{BoundedCollect, TextExprs}
import graft.text.TextOps

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape of the problem:
  *
  *  - exact:     hash-groupBy — one shuffle on the content hash.
  *  - minhash:   shingle → exact-duplicate collapse to content classes →
  *               k-permutation MinHash signature per class → banded LSH
  *               bucket join → exact-Jaccard verify once per class pair →
  *               membership re-expansion. Candidate generation is a
  *               self-join on (band, bandKey) over class representatives,
  *               so only near-collisions between DISTINCT documents
  *               shuffle — never the O(n²) pair space, and never the
  *               m²/2 duplicate-flood blowup either.
  *  - simhash:   64-bit sign-aggregated token hash → pigeonhole bucket
  *               join over DISTINCT signatures (block-pair tables at
  *               radius 7, disjoint 16-bit chunks at radius 3) → exact
  *               Hamming verify via bit_count(xor) → membership
  *               re-expansion.
  *  - ngram:     exact Jaccard via inverted-index join on shingles with a
  *               document-frequency cutoff (hot shingles are dropped, the
  *               standard guard against quadratic bucket blowup).
  *  - embedding: random-hyperplane LSH signature → bucket join → exact
  *               cosine verify (see [[graft.similarity.Ann]] for the
  *               shared vector math).
  *
  * The operators are column plans that scale with executors; no payload
  * ever collects. Two measured exceptions, both bounded and documented
  * in place: [[simhashPairs]]'s default layout selection samples 1024
  * signatures (8 KB) to the driver at plan-construction time, and
  * [[canonicalFromPairs]] runs O(log n) large-star/small-star rounds
  * with driver-side convergence probes. Pass `wideTables = Some(..)` for a
  * construction-time-silent simhash plan.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Distinct word n-gram shingles of the normalized text (native
    * kernel — see [[graft.ops.TextKernels.wordNgrams]]). */
  def shingles(text: Column, n: Int = 2): Column =
    TextExprs.wordNgrams(TextOps.tokens(TextOps.normalized(text)), n)

  // ── Exact ────────────────────────────────────────────────────────────

  /** Exact dedup: canonical = min id per content hash. Returns the input
    * ids annotated with their canonical id and copy count; survivors are
    * the rows where id == canonical.
    *
    * (canonical, copies) come from a map-side-combined aggregate joined
    * back on the hash, NOT a window over the hash: a viral exact
    * duplicate ("lorem ipsum", an empty string, a boilerplate error
    * page) can have millions of copies at corpus scale, and a window
    * would buffer that entire partition in one task, where the
    * aggregate collapses it before the shuffle and the join back is
    * AQE-skew-split eligible — the [[ngramJaccardPairs]] df-front
    * argument, applied to the dedup family's simplest member. */
  def exactCanonical(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val h = docs.select(id.as("doc_id"), md5(text).as("__h"))
    // groupBy keeps the null-hash (null text) rows as their own group —
    // and the join back must too, so it is NULL-SAFE (<=>): a plain
    // equi-join silently drops every null-text document, where the
    // contract is to annotate ALL input ids
    val g = h.groupBy(col("__h"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .withColumnRenamed("__h", "__gh")
    // merge-pinned: g holds one row per DISTINCT document — corpus-scale
    // — but the static post-aggregate estimate broadcasts it at small SF
    h.join(g.hint("merge"), col("__h") <=> col("__gh"))
      .drop("__h", "__gh")
  }

  // ── MinHash + LSH ────────────────────────────────────────────────────

  /** k-permutation MinHash signature: one xxhash64 per shingle, then k
    * per-permutation SplitMix64 re-mixes `mix64(h + c_i)` — a bare XOR
    * family would leave the k argmins correlated and banding would
    * systematically miss short-document pairs (see the kernel scaladoc,
    * [[graft.ops.TextKernels.minhashSig]]). */
  def minhashSignature(shingleCol: Column, k: Int = 24): Column =
    TextExprs.minhashSig(shingleCol, k)

  /** One 64-bit LSH bucket key per band: xxhash64 over (band index,
    * the band's signature rows). The band index is folded INTO the hash,
    * so keys from different bands collide only by hash accident — and
    * accidental candidates die in the exact verification every caller
    * runs. */
  private[graft] def bandKeys(sig: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), bnd =>
      xxhash64(concat_ws(",", bnd,
        array_join(transform(slice(sig, bnd * r + 1, lit(r)),
          _.cast("string")), "|"))))

  /** Content-class key for the exact-duplicate collapse: md5 of the
    * SORTED shingle set. Byte-identical documents — and any documents
    * with EQUAL shingle sets, whose Jaccard is exactly 1.0 — share a
    * class. Injective over shingle sets at the string level: shingles
    * are "_"-joined normalized `[a-z0-9]` tokens ([[shingles]] /
    * [[graft.text.TextOps.normalized]]), so the space separator can
    * never occur inside one. Null for a null kernel output (null
    * text), which must never form a class — a null-text doc pairs with
    * nothing, matching the banded path it bypasses. */
  private[graft] def shingleClassKey(sh: Column): Column =
    md5(array_join(array_sort(sh), " "))

  /** The banded frame [[minhashPairs]] self-joins — one row per
    * (content class, band), NEVER per document. Exposed as the seam
    * for the duplicate-flood proportionality spec: the band join's
    * input row count must stay O(distinct classes), whatever the
    * duplicate multiplicity. `classes` is (`id`, sh); the persistent
    * index stores the same rows keyed by doc_id. */
  private[graft] def bandedClasses(classes: DataFrame, k: Int, bands: Int,
                                   id: String = "cls"): DataFrame =
    classes
      .withColumn("sig", minhashSignature(col("sh"), k))
      .select(col(id), posexplode(bandKeys(col("sig"), bands, k / bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bandKey")

  /** The exact-duplicate collapse of a keyed (…, sh, cls) frame: one
    * (cls, sh) row per content class — first(sh) is deterministic IN
    * VALUE under set-Jaccard: every member of a class carries the same
    * shingle set (sorted-join equality), so signature, bands, and
    * verify read identically whichever member's array is kept — and
    * the `members` columns of every classed row. */
  private def contentClasses(keyed: DataFrame,
                             members: String*): (DataFrame, DataFrame) = {
    val classed = keyed.where(col("cls").isNotNull)
    (classed.groupBy(col("cls")).agg(first(col("sh")).as("sh"))
      .localCheckpoint(false), classed.select(members.map(col): _*))
  }

  /** Banded candidate pairs of `classes` (cls, sh) verified with exact
    * Jaccard ONCE PER CLASS PAIR — m·n duplicate copies of a near-dup
    * pair cost one verification, not m·n. (cls_a < cls_b, jaccard). */
  private def verifiedClassPairs(classes: DataFrame, k: Int, bands: Int,
                                 threshold: Double): DataFrame = {
    val banded = pinJoinParallelism(bandedClasses(classes, k, bands),
      col("band"), col("bandKey"))
    // merge-pinned: both sides canonicalize onto ONE banded-class
    // exchange (AQE ReusedExchange → the minhash kernel runs once),
    // and the exploded band frame is never broadcast
    val cands = banded.select(col("band"), col("bandKey"), col("cls").as("cls_a"))
      .hint("merge")
      .join(banded.select(col("band"), col("bandKey"), col("cls").as("cls_b")),
        Seq("band", "bandKey"))
      .where(col("cls_a") < col("cls_b"))
      .select(col("cls_a"), col("cls_b"))
      .dropDuplicates("cls_a", "cls_b")
    // merge-pinned: the class frame is one row per DISTINCT document —
    // corpus-scale — and the static post-checkpoint estimate would
    // happily broadcast it at small SF, a plan that cannot survive
    // production scale (the exactCanonical discipline)
    cands
      .join(classes.select(col("cls").as("cls_a"), col("sh").as("sh_a"))
        .hint("merge"), Seq("cls_a"))
      .join(classes.select(col("cls").as("cls_b"), col("sh").as("sh_b"))
        .hint("merge"), Seq("cls_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("cls_a"), col("cls_b"), col("jaccard"))
  }

  /** The session's resolved shuffle parallelism — the already-parsed
    * Int, not a `.toInt` of the raw conf string (which a vendor
    * runtime can set to e.g. "auto" and NumberFormatException inside
    * every banded front). */
  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Catalyst's size estimate of `df` from the optimized logical plan
    * (file bytes at the scan, scaled through projections, propagated
    * through localCheckpoints) — estimation only, never executes. A
    * frame whose stats cannot be computed estimates as unbounded, so
    * the width clamp below degrades to the full configured
    * parallelism, never to a serialized plan.
    *
    * A frame whose leaves are all MATERIALIZED localCheckpoints (the
    * mid-pipeline shape of the lifecycle gates) reports its TRUE
    * cached size from the block manager instead: the Catalyst
    * estimate above a checkpoint inherits the pre-checkpoint
    * pipeline's guesses, which explode-heavy chains (WARC record
    * walks) inflate by orders of magnitude — measured: a few-hundred-
    * KB selected-corpus checkpoint estimated at 2.9 GB, pinning its
    * downstream kernel spread at full width. */
  private def planBytes(df: DataFrame): BigInt = scala.util.Try {
    val plan = df.queryExecution.optimizedPlan
    val leaves = plan.collectLeaves()
    val rddIds = leaves.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    val cached =
      if (rddIds.isEmpty || rddIds.length != leaves.length) Nil
      else {
        val ids = rddIds.toSet
        df.sparkSession.sparkContext.getRDDStorageInfo.toSeq
          .filter(i => ids.contains(i.id) && i.numCachedPartitions > 0)
      }
    if (cached.length == rddIds.length && cached.nonEmpty)
      BigInt(cached.map(i => i.memSize + i.diskSize).sum)
    else plan.stats.sizeInBytes
  }.recover { case e =>
    log.warn(s"planBytes: no size estimate ($e) — the width clamp " +
      "falls back to the full shuffle parallelism")
    BigInt(Long.MaxValue)
  }.get

  /** Width for a restore-parallelism repartition: the configured
    * shuffle parallelism CLAMPED by a bytes-per-partition floor
    * (`spark.graft.spread.partitionBytesFloor`, default 64 KB of
    * Catalyst-estimated input per partition) and floored at `atLeast`.
    * At corpus scale the byte estimate exceeds parallelism × floor by
    * orders of magnitude, so the clamp is inert and the width is the
    * session's scale knob, exactly as before; the floor exists for toy
    * inputs, where fanning a few-hundred-KB frame out to every core
    * makes EVERY downstream stage pay per-task scheduling overhead
    * that dwarfs its work (measured at sf0.1/local[32]: the ~50-stage
    * lifecycle gates doubled, and the banded dedup fronts ran 2.6×
    * faster on 8 cores than 32). The floor is deliberately far below
    * the 128 MB scan default: these widths feed CPU-bound kernel
    * passes over compressed columnar bytes, where tens of KB of
    * parquet are hundreds of ms of kernel work. */
  private[graft] def scaledWidth(df: DataFrame, atLeast: Int): Int =
    scaledWidth(df, atLeast, 0L)

  /** [[scaledWidth]] with an explicit bytes-per-partition floor —
    * for call sites whose per-byte work differs structurally from the
    * kernel passes the conf default is tuned for (e.g. the quantile
    * prefix-sum, where a partition is a cheap sort+cumsum, not a
    * hash-heavy shingle walk). `floorBytes <= 0` reads the conf. */
  private[graft] def scaledWidth(df: DataFrame, atLeast: Int,
                                 floorBytes: Long): Int = {
    val parts = shufflePartitions(df)
    val floor = BigInt(
      if (floorBytes > 0L) floorBytes
      else df.sparkSession.conf
        .get("spark.graft.spread.partitionBytesFloor", "65536")
        .toLong.max(1L))
    val bytes = planBytes(df)
    val byBytes = ((bytes + floor - 1) / floor).min(BigInt(parts)).toInt
    val w = math.min(parts, math.max(byBytes, atLeast))
    if (log.isDebugEnabled)
      log.debug(s"scaledWidth bytes=$bytes atLeast=$atLeast -> $w\n" +
        df.queryExecution.logical.treeString.linesIterator.take(8)
          .mkString("\n"))
    w
  }

  /** Pin a candidate-join input exchange at an explicit partition
    * count (which AQE will not coalesce). The exchange's INPUT is slim
    * — a few bytes of key per class per band/chunk — but the
    * self-join's OUTPUT is quadratic in bucket occupancy, so AQE's
    * byte-based partition coalescing serializes the hottest operator
    * of every banded front (measured on the embedding front at sf0.1:
    * 530 KB of band keys coalesced to ONE partition and the whole
    * candidate generation ran as a single 1.8 s task). The count is
    * the session's configured shuffle parallelism, width-clamped by
    * [[scaledWidth]] (floored at 2 — the pin must always out-run the
    * coalesce-to-one it exists to prevent). Skew handling is
    * unaffected in the case that matters: a hot bucket is one KEY,
    * which AQE's skew split could never divide anyway. */
  private[graft] def pinJoinParallelism(df: DataFrame,
                                        keys: Column*): DataFrame =
    df.repartition(scaledWidth(df, 2), keys: _*)

  /** Restore kernel parallelism over an under-split input: when the
    * frame's physical partition count is under HALF the session's
    * configured shuffle parallelism, hash-repartition it by `key`
    * (deterministic placement — no sort-before-repartition pass, safe
    * under task retry) so the shingle/signature kernels downstream run
    * wide. A no-op at corpus scale, where inputs arrive in thousands
    * of splits; it fires exactly in the guide's unsplittable-input
    * case — one gzip member, a single-row-group parquet file — where
    * one core would otherwise run the whole kernel pass (measured at
    * sf0.1: the n-gram shingle stage was a single 1.2 s task because
    * the corpus file has one row group). The width is [[scaledWidth]]-
    * clamped (floored at double the input's current count, so a spread
    * that fires always at least doubles parallelism). The partition
    * probe reads the NON-adaptive physical plan, which builds its RDD
    * lazily — safe for the scan-shaped frames the gates pass; a
    * caller-supplied derived frame whose unprepared plan cannot build
    * an RDD (e.g. a bare broadcast join) skips the spread instead of
    * crashing planning. */
  private[graft] def spreadScan(df: DataFrame, keys: Column*): DataFrame = {
    val parts = shufflePartitions(df)
    val have = scala.util.Try(
      df.queryExecution.sparkPlan.execute().getNumPartitions)
      .getOrElse(parts)
    if (have * 2 >= parts) df
    else df.repartition(scaledWidth(df, have * 2), keys: _*)
  }

  /** Banded-LSH candidate pairs verified with exact Jaccard.
    *
    * EXACT-DUPLICATE COLLAPSE (load-bearing at corpus scale): on a real
    * crawl, exact duplicates dominate near-dup mass — m byte-identical
    * boilerplate docs share every band key, so banding raw documents
    * would emit m²/2 candidate pairs from one bucket BEFORE any verify
    * could discard them: quadratic in duplicate multiplicity, the
    * classic LSH job-killer. Instead, documents first collapse to one
    * representative per content class ([[shingleClassKey]]: equal
    * shingle sets ⇒ Jaccard exactly 1.0 ⇒ identical signature and
    * bands); only class representatives band and verify — candidate
    * volume is quadratic in *distinct* documents' collisions only —
    * and cluster membership re-expands afterwards through the slim
    * (doc, class) mapping: cross-class matches fan out |A|·|B| (the
    * true output volume, reached through plain co-partitioned joins,
    * not the band buckets), and within-class pairs emit directly with
    * Jaccard 1.0. Output is identical to banding raw documents, since
    * class members are interchangeable under set-Jaccard.
    *
    * Plan shape: ONE shingle-kernel pass (the keyed frame is
    * checkpointed for its two consumers — the class aggregate and the
    * membership mapping — the [[ngramJaccardPairs]] discipline), the
    * class frame likewise (banding + both verify sides); the band join
    * ships 16-byte class keys only and is merge-pinned (the exploded
    * band frame must never broadcast); the expansion joins are
    * merge-pinned too — the membership frame is one row per document,
    * corpus-scale, and the static post-aggregate estimate would
    * happily broadcast it at small SF.
    *
    * @param docs   (id, text) source; ids assumed duplicate-free (the
    *               family-wide determinism contract)
    * @param bands  b bands of r = k/bands rows each; collision prob for
    *               similarity s is 1-(1-s^r)^b
    * @param threshold exact-Jaccard cutoff applied after verification
    */
  def minhashPairs(docs: DataFrame, id: Column, text: Column,
                   k: Int = 24, bands: Int = 8,
                   threshold: Double = 0.8): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // LAZY checkpoints: the first consuming action materializes and
    // caches each frame — eager would pay two extra full passes as
    // their own jobs before any real work
    val keyed = spreadScan(docs.select(id.as("doc_id"), text.as("__t")),
        col("doc_id"))
      .select(col("doc_id"), shingles(col("__t")).as("sh"))
      .withColumn("cls", shingleClassKey(col("sh")))
      .transform(graft.core.PlanTrace.checkpoint(_, eager = false,
        "minhash shingle classes (doc_id, sh, cls)"))
    val (classes, members) = contentClasses(keyed, "doc_id", "cls")
    val classPairs = verifiedClassPairs(classes, k, bands, threshold)
    // exact duplicates score Jaccard exactly 1.0 — a (pathological)
    // threshold above that excludes them, decided at plan time
    expandClassPairs(members, classPairs, "jaccard",
      lit(1.0), keepWithin = threshold <= 1.0)
  }

  /** The membership re-expansion behind the collapsed near-dup fronts:
    * verified CLASS pairs fan out to document pairs through the slim
    * (doc_id, cls) mapping, and every ≥2-member class emits its own
    * within-class pairs at the exact-duplicate score. Merge-pinned
    * throughout — the membership frame is one row per document,
    * corpus-scale, never broadcast; a viral class skews the expansion
    * join, which is AQE-skew-split eligible, and its output is the
    * true pair volume, not an artifact. */
  private def expandClassPairs(members: DataFrame, classPairs: DataFrame,
                               score: String, withinScore: Column,
                               keepWithin: Boolean): DataFrame = {
    // a document belongs to exactly ONE class, so a cross-class pair
    // can never be a self-pair and no (id_a, id_b) arrives twice —
    // the raw-banding dropDuplicates is no longer needed
    val cross = classPairs
      .join(members.select(col("cls").as("cls_a"), col("doc_id").as("__ma"))
        .hint("merge"), Seq("cls_a"))
      .join(members.select(col("cls").as("cls_b"), col("doc_id").as("__mb"))
        .hint("merge"), Seq("cls_b"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col(score))
    if (!keepWithin) cross
    else cross.unionByName(
      members.select(col("cls"), col("doc_id").as("id_a"))
        .hint("merge")
        .join(members.select(col("cls"), col("doc_id").as("id_b")), Seq("cls"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), withinScore.as(score)))
  }

  // ── Incremental (cross-corpus) dedup ─────────────────────────────────

  /** Exact incremental dedup: annotate each batch document with the
    * minimum existing-corpus id sharing its content hash (`dup_of`,
    * null when the batch doc is genuinely new, mirrored by `is_new` ∈
    * {0,1}) — the shape of a rolling ingestion pipeline where yesterday's
    * corpus never rewrites and only today's batch is judged.
    *
    * Scale shape: the existing corpus reduces to (hash, min id) — one
    * map-side-combined aggregation — and the join is hash-partitioned on
    * the 32-hex digest, so each side shuffles exactly once and no text
    * payload moves at all. */
  def exactAgainstExisting(batch: DataFrame, existing: DataFrame,
                           id: Column, text: Column): DataFrame =
    dupOf(batch.select(id.as("doc_id"), md5(text).as("__h")),
      existing.select(id.as("doc_id"), md5(text).as("__h")))

  /** (doc_id, dup_of, is_new) of a hashed (doc_id, __h) batch against
    * the hashed existing rows. */
  private def dupOf(b: DataFrame, existing: DataFrame): DataFrame = {
    val e = existing.groupBy(col("__h")).agg(min(col("doc_id")).as("dup_of"))
      .withColumnRenamed("__h", "__eh")
    // null-SAFE hash join: md5(null) is null, and a plain equi-join
    // would report every null-text batch doc is_new even when the
    // standing corpus holds null-text docs — [[exactCanonical]] in this
    // family deliberately groups them, so the incremental path must too
    // (the DuckDB oracle mirrors with IS NOT DISTINCT FROM)
    b.join(e, col("__h") <=> col("__eh"), "left")
      .select(col("doc_id"), col("dup_of"),
        col("dup_of").isNull.cast("int").as("is_new"))
  }

  /** [[exactAgainstExisting]] with a bloom prefilter on the EXISTING
    * side — the asymmetry matters: the batch is small (today's arrivals),
    * the standing corpus is the 100 TB side. The batch's content hashes
    * aggregate into a tiny bloom bitmap; the existing corpus is probed
    * MAP-SIDE and only hash-groups that might collide with the batch
    * reach the (hash, min id) aggregation and the join — instead of
    * reducing and shuffling the full standing corpus every batch.
    *
    * Output is identical to the exact path: the bloom has no false
    * negatives, and a false positive merely lets a non-matching hash
    * group through to the join, where it matches nothing. (Bloom
    * membership is decided per HASH, so a surviving group keeps all its
    * rows and `min(doc_id)` is unaffected.) */
  def exactAgainstExistingBloom(batch: DataFrame, existing: DataFrame,
                                id: Column, text: Column,
                                expectedBatchDocs: Long = 1L << 20,
                                fpp: Double = 0.01): DataFrame = {
    import graft.ops.BloomOps
    val b = batch.select(id.as("doc_id"), md5(text).as("__h"))
    val bf = BloomOps.build(b, col("__h"), expectedBatchDocs, fpp)
    dupOf(b, existing.select(id.as("doc_id"), md5(text).as("__h"))
      // null hashes pass the prefilter: mightContain(null) is null and a
      // bare where() would drop the null-text corpus rows the null-safe
      // join exists to match
      .where(col("__h").isNull || BloomOps.mightContain(bf, col("__h"))))
  }

  /** Near-dup pairs BETWEEN two corpora (batch × existing) via the same
    * banded-MinHash LSH as [[minhashPairs]], emitting only cross-side
    * pairs — incremental near-dedup without re-pairing the existing
    * corpus against itself.
    *
    * Both corpora collapse to SHARED content classes first (the
    * [[minhashPairs]] exact-duplicate discipline — a class can hold
    * docs from both sides); class representatives band through one
    * exchange, verify once per class pair, and membership re-expands
    * into cross-side document pairs afterwards: candidate and verify
    * volume is linear in DISTINCT documents, where raw banding paid
    * the m·n duplicate cross-product through the band buckets AND the
    * Jaccard verify. Same-class cross-side pairs (an arriving exact
    * re-crawl of a stored page — the dominant case) emit directly at
    * Jaccard 1.0 without banding at all. Nothing requires the two id
    * spaces to be disjoint; a batch id colliding with an existing id
    * stays side-tagged throughout.
    * @return (id_a = batch id, id_b = existing id, jaccard)
    */
  def minhashPairsAcross(batch: DataFrame, existing: DataFrame,
                         id: Column, text: Column,
                         k: Int = 24, bands: Int = 8,
                         threshold: Double = 0.8): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val tagged = batch.select(id.as("doc_id"), text.as("__t"), lit(1).as("isNew"))
      .unionByName(existing.select(id.as("doc_id"), text.as("__t"), lit(0).as("isNew")))
    // one kernel pass over the union feeds the class aggregate and the
    // side-tagged membership (lazy checkpoints — the minhashPairs note)
    val keyed = spreadScan(tagged, col("doc_id"))
      .select(col("doc_id"), col("isNew"), shingles(col("__t")).as("sh"))
      .withColumn("cls", shingleClassKey(col("sh")))
      .localCheckpoint(false)
    val (classes, members) = contentClasses(keyed, "doc_id", "isNew", "cls")
    val classPairs = verifiedClassPairs(classes, k, bands, threshold)
    def side(isNew: Int, as: String, idAs: String) =
      members.where(col("isNew") === isNew)
        .select(col("cls").as(as), col("doc_id").as(idAs))
    // an unordered class pair expands in BOTH orientations (batch∈A ×
    // existing∈B, batch∈B × existing∈A) — a doc lives in exactly one
    // class, so the two legs and the within-class leg are disjoint and
    // no output dedup is needed
    val cross = classPairs
      .join(side(1, "cls_a", "id_a").hint("merge"), Seq("cls_a"))
      .join(side(0, "cls_b", "id_b").hint("merge"), Seq("cls_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val crossRev = classPairs
      .join(side(1, "cls_b", "id_a").hint("merge"), Seq("cls_b"))
      .join(side(0, "cls_a", "id_b").hint("merge"), Seq("cls_a"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val within = side(1, "cls", "id_a").hint("merge")
      .join(side(0, "cls", "id_b"), Seq("cls"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    if (threshold <= 1.0) cross.unionByName(crossRev).unionByName(within)
    else cross.unionByName(crossRev)
  }

  // ── Persistent MinHash LSH index ─────────────────────────────────────

  /** MinHash on the shared lifecycle ([[graft.sources.BucketedIndex]]):
    * compaction re-buckets the healed stored shingles and re-derives
    * bands — one index-sized pass, no corpus scan, no re-tokenize. */
  private object MinhashStore extends graft.sources.BucketedIndex {
    import graft.sources.BucketedTables.Part
    val prefix = "graft_mhidx"
    val tables = Seq(Part("bands", "bandKey", Seq("bandKey")),
      Part("shingles", "doc_id"))
    val carried = Nil
    override protected def compactRows(spark: SparkSession, cur: String,
        p: org.apache.spark.sql.Row, w: Writer): Unit =
      writeTables(w, spark.read.parquet(s"$cur/shingles").dropDuplicates(),
        p.getAs[Int]("k"), p.getAs[Int]("bands"))
  }

  /** Store the (doc_id, sh) frame, then bands derived from the WRITTEN
    * shingles — one pass over the input however many tables. */
  private def writeTables(w: MinhashStore.Writer, sh: DataFrame, k: Int,
                          bands: Int): Unit =
    w("bands", bandedClasses(w("shingles", sh), k, bands, "doc_id"))

  /** The CURRENT generation's directory — reads and appends use it. */
  def minhashIndexRoot(spark: SparkSession, path: String): String =
    MinhashStore.current(spark, path)._2

  /** Current index generation number (0 = legacy flat layout). */
  def minhashIndexGeneration(spark: SparkSession, path: String): Long =
    MinhashStore.current(spark, path)._1

  /** Materialize a standing corpus's MinHash LSH index under `path`:
    *
    *  - `bands`: (doc_id, band, bandKey), BUCKETED + sorted by bandKey
    *    — the candidate join's index side reads pre-partitioned, so
    *    querying never shuffles the corpus-sized table (only the
    *    arriving batch moves);
    *  - `shingles`: (doc_id, sh), bucketed by doc_id — the exact-verify
    *    point join, same property;
    *  - `params`: one row (k, bands, n, buckets) — [[queryMinhashIndex]]
    *    reads its configuration from here, so a query can never band
    *    differently than the build, and a NEW application can
    *    re-register the bucketed tables from the stored files
    *    ([[graft.sources.BucketedTables.table]]).
    *
    * This is the amortization shape of rolling ingestion: the shingle +
    * signature kernels run ONCE per corpus version (one corpus scan —
    * the bands table derives from the stored shingles, not a second
    * scan), and every arriving batch pays only its own kernels plus two
    * slim joins. `buckets` must scale with the corpus (thousands at
    * 100 TB), like every bucket count in this library. Lifecycle and
    * VERSIONING: [[graft.sources.BucketedIndex]]. */
  def writeMinhashIndex(docs: DataFrame, id: Column, text: Column,
                        path: String, k: Int = 24, bands: Int = 8,
                        n: Int = 2, buckets: Int = 32): Unit = {
    require(k % bands == 0, "bands must divide k")
    val spark = docs.sparkSession
    import spark.implicits._
    MinhashStore.build(spark, path, buckets,
      Seq((k, bands, n, buckets)).toDF("k", "bands", "n", "buckets"))(
      writeTables(_, docs.select(id.as("doc_id"), shingles(text, n).as("sh")),
        k, bands))
  }

  /** Compact an appended [[writeMinhashIndex]] index into a FRESH path
    * WITHOUT the corpus — the response to a rising `files` count in the
    * append telemetry: one file per bucket again. */
  def compactMinhashIndex(spark: SparkSession, path: String,
                          dest: String): Unit = {
    require(path != dest,
      "compact to a FRESH path, then swap pointers — or use " +
        "compactMinhashIndexInPlace for the atomic generation cutover")
    MinhashStore.compact(spark, path, dest)
  }

  /** Atomic in-place compaction into `path/gen-<N+1>` (returned); the
    * previous generation stays until [[pruneMinhashGenerations]]. */
  def compactMinhashIndexInPlace(spark: SparkSession, path: String): Long =
    MinhashStore.compactInPlace(spark, path)

  /** Maintenance after [[compactMinhashIndexInPlace]]: delete older
    * generations and orphans, keeping current + previous. */
  def pruneMinhashGenerations(spark: SparkSession, path: String): Seq[String] =
    MinhashStore.prune(spark, path)

  /** Append an arriving batch into a standing [[writeMinhashIndex]]
    * index WITHOUT rebuilding: the batch's shingles and bands are
    * computed with the index's OWN stored params (a batch can never
    * band differently than the corpus it joins) and appended to the
    * bucketed tables — rolling ingestion pays one batch-sized kernel
    * pass per day, not a corpus rebuild. NOT atomic, NOT idempotent
    * (two sequential table writes): [[queryMinhashIndex]] stays CORRECT
    * over a replayed append's duplicate rows (its output dedup
    * collapses the repeated verifies) and compaction heals them; the
    * append and multi-file-bucket notes are
    * [[graft.sources.BucketedIndex]]'s.
    *
    * Returns (and logs) the post-append
    * [[graft.meta.PipelineMetrics.IndexHealth]] of the bands table —
    * band-list skew and file fragmentation, the rebuild/compaction
    * signals; `probeHealth = false` skips the O(index) probe. */
  def appendToMinhashIndex(docs: DataFrame, id: Column, text: Column,
                           path: String, probeHealth: Boolean = true)
      : Option[graft.meta.PipelineMetrics.IndexHealth] =
    MinhashStore.append(docs.sparkSession, path, probeHealth) { (w, p) =>
      // materialize the batch's (doc_id, shingles) ONCE: the frame feeds
      // two independent write actions (shingles table, then bands), and
      // an unmaterialized plan would run the tokenize/shingle kernel
      // twice over the batch text — the builder avoids this by deriving
      // bands from the written shingles table, but an append must not
      // re-read the whole standing table to find its own rows
      val sh = docs.select(id.as("doc_id"), shingles(text, p.getAs[Int]("n"))
        .as("sh")).localCheckpoint(true)
      w("shingles", sh)
      w("bands", bandedClasses(sh, p.getAs[Int]("k"), p.getAs[Int]("bands"),
        "doc_id"))
    }

  /** A MinHash index's driver-side resolution — stored params plus the
    * (possibly bucketed) band/shingle frames — separated from the query
    * so a repeated caller (a streaming micro-batch loop) pays the
    * params-parquet read and catalog registration ONCE at stream start,
    * not one driver job per trigger. */
  final case class ResolvedMinhashIndex(k: Int, bands: Int, n: Int,
      bandsTable: DataFrame, shinglesTable: DataFrame)

  /** Resolve a [[writeMinhashIndex]] index for repeated querying. Works
    * from any application — absent catalog registrations are rebuilt
    * from the stored files and params. */
  def resolveMinhashIndex(spark: SparkSession,
                          path: String): ResolvedMinhashIndex = {
    // the CURRENT generation — an in-place compaction re-roots the
    // index under path/gen-N and this is the cutover's read side
    val (root, params, t) = MinhashStore.open(spark, path)
    val p = params.getOrElse(
      throw new IllegalArgumentException(s"no MinHash index params at $root"))
    ResolvedMinhashIndex(p.getAs[Int]("k"), p.getAs[Int]("bands"),
      p.getAs[Int]("n"), t("bands"), t("shingles"))
  }

  /** Near-dup pairs of an arriving batch against a standing
    * [[writeMinhashIndex]] index, exact-Jaccard verified — the
    * indexed twin of [[minhashPairsAcross]] (identical output for the
    * same corpus and parameters; tested equivalent). The candidate join
    * runs on bandKey alone: the band index is folded into the hash, and
    * the bucketed index side then joins WITHOUT a shuffle.
    * @return (id_a = batch id, id_b = indexed id, jaccard) */
  def queryMinhashIndex(batch: DataFrame, id: Column, text: Column,
                        path: String, threshold: Double = 0.8): DataFrame =
    queryMinhashIndexResolved(batch, id, text,
      resolveMinhashIndex(batch.sparkSession, path), threshold)

  /** [[queryMinhashIndex]] against an index resolved once up front —
    * the repeated-caller form.
    *
    * The BATCH side collapses to content classes first (the
    * [[minhashPairs]] exact-duplicate discipline): one class
    * representative bands against the stored tables and verifies per
    * (class, indexed doc), and batch membership re-expands afterwards
    * — a crawl batch that is 40% boilerplate re-fetches pays the index
    * join and the Jaccard verify once per DISTINCT document. (The
    * stored side keeps its layout — its duplicate mass was the
    * builder's input to collapse.) */
  def queryMinhashIndexResolved(batch: DataFrame, id: Column, text: Column,
                                idx: ResolvedMinhashIndex,
                                threshold: Double = 0.8): DataFrame = {
    val ResolvedMinhashIndex(k, bands, n, bandsTable, shinglesTable) = idx
    val keyed = batch.select(id.as("doc_id"), shingles(text, n).as("sh"))
      .withColumn("cls", shingleClassKey(col("sh")))
      .localCheckpoint(false)
    val (classes, members) = contentClasses(keyed, "doc_id", "cls")
    // the candidate join runs on bandKey alone (the band index is
    // folded into the hash), so the bucketed index side joins WITHOUT
    // a shuffle — only the slim per-class band frame moves
    val cands = bandedClasses(classes, k, bands).select(col("cls"), col("bandKey"))
      .join(bandsTable.select(col("bandKey"), col("doc_id").as("id_b")),
        Seq("bandKey"))
      .select(col("cls"), col("id_b"))
      .dropDuplicates("cls", "id_b")
    val verified = cands
      .join(classes.select(col("cls"), col("sh").as("sh_a")), Seq("cls"))
      .join(shinglesTable.select(col("doc_id").as("id_b"),
        col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      // class-level dedup ALSO heals a replayed append: duplicated
      // stored shingle rows (see the appendToMinhashIndex atomicity
      // note) re-verify into identical (cls, id_b) rows, collapsed
      // here BEFORE the expansion instead of after it
      .select(col("cls"), col("id_b"), col("jaccard"))
      .dropDuplicates("cls", "id_b")
    verified
      .join(members.hint("merge"), Seq("cls"))
      .select(col("doc_id").as("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) /
      greatest(size(array_union(a, b)), lit(1)).cast("double")

  // ── N-gram Jaccard via inverted index ────────────────────────────────

  /** Pairwise Jaccard over the RARE-shingle space through an inverted-index
    * join: explode (doc, shingle), drop shingles hotter than `maxDf` docs,
    * self-join on shingle, count common shingles per pair. Only documents
    * sharing a rare shingle ever meet — the scalable exact algorithm.
    *
    * Semantics: hot shingles (document frequency > maxDf) are excluded
    * from BOTH the intersection and the union, so the reported value is
    * exact Jaccard over each document's rare shingles — the similarity
    * signal boilerplate can't dilute. Blind spot (inherent to any df
    * cutoff): a pair whose overlap consists ONLY of hot shingles yields
    * no candidate and is never reported.
    *
    * Plan shape: ONE aggregation of the exploded shingle stream builds,
    * per shingle, both its document frequency and its posting list —
    * the list via [[graft.ops.BoundedCollectAgg]], whose aggregation
    * buffer is capped at `maxDf + 1` ids, so a viral shingle ("terms of
    * service" in 10⁸ documents) costs O(maxDf) memory per partial, never
    * O(df), and map-side partials collapse it before the shuffle (the
    * earlier window-function form funneled every occurrence of a hot
    * shingle into one task; the earlier aggregate+join form fixed that
    * but sorted the full exploded stream twice through merge-pinned
    * joins and ran the shingle kernel twice). Candidate pairs then
    * explode directly out of each rare shingle's posting list — bounded
    * by construction at maxDf·(maxDf−1)/2 pairs per shingle — and
    * per-document rare-shingle counts explode out of the same posting
    * frame, so the shingle kernel runs ONCE, nothing ever sorts the
    * exploded stream, and no join touches it. The posting frame is
    * materialized once (eager localCheckpoint) for its two consumers —
    * AQE's stage cache does not reliably deduplicate the kernel subtree
    * across them (measured: the static planner reuses the exchange with
    * AQE off, the adaptive plan re-runs it), and the frame is bounded
    * by the rare-shingle stream, the same magnitude the shuffle already
    * spills. The only joins left attach the per-document size frame to
    * the pair counts — corpus-scale aggregate frames, shuffle-hash-
    * pinned with the slim size frame as build side: never broadcast
    * (the static post-aggregate estimate would happily broadcast what
    * is one-row-per-document at production scale), and never a sort of
    * the pair-count frame either (the merge-pinned form sorted it twice
    * — measured as the dominant tail cost).
    */
  def ngramJaccardPairs(docs: DataFrame, id: Column, text: Column,
                        n: Int = 2, maxDf: Int = 100,
                        threshold: Double = 0.8): DataFrame =
    rareShingleCommonCounts(docs, id, text, n, maxDf)
      .withColumn("jaccard",
        col("n_common") / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** The shared inverted-index front of the exact n-gram family:
    * (id_a < id_b, n_common, n_a, n_b) over the rare-shingle space —
    * [[ngramJaccardPairs]] and [[ngramContainmentPairs]] differ only in
    * the similarity they derive from these counts. */
  /** The UN-materialized rare-shingle posting frame — split out so
    * PlanSpec can assert the front's shape (no window, map-side partial
    * aggregation) directly: the eager checkpoint in
    * [[rareShingleCommonCounts]] makes this subtree invisible in the
    * downstream plan. */
  private[graft] def shinglePostings(docs: DataFrame, id: Column,
                                     text: Column, n: Int,
                                     maxDf: Int): DataFrame = {
    val sh = spreadScan(docs.select(id.as("doc_id"), text.as("__t")),
        col("doc_id"))
      .select(col("doc_id"), explode(shingles(col("__t"), n)).as("s"))
    // ONE pass over the shingle stream: df (count, map-side combined)
    // plus the posting list via the buffer-bounded collect — see the
    // plan-shape note above. The df filter and the null sentinel are
    // redundant for non-null ids (BoundedCollectAgg scaladoc); keeping
    // both means a future maxDf/cap drift can only DROP pairs loudly
    // (empty result) rather than unbound a buffer silently.
    sh.groupBy(col("s"))
      .agg(count(lit(1)).as("df"),
        BoundedCollect.boundedCollect(col("doc_id"), maxDf).as("ids"))
      .where(col("df") <= maxDf && col("ids").isNotNull)
      .select(col("ids"))
  }

  private def rareShingleCommonCounts(docs: DataFrame, id: Column,
                                      text: Column, n: Int,
                                      maxDf: Int): DataFrame = {
    val postings = shinglePostings(docs, id, text, n, maxDf)
      // eager: one kernel+shuffle pass feeds both consumers below (see
      // the plan-shape note). Truncated lineage means executor loss
      // restarts the operator instead of recomputing — the documented
      // localCheckpoint tradeoff this codebase already takes for
      // iterative/multi-consumer frames (canonicalFromPairs, embedding
      // dedup).
      .localCheckpoint(true)
    // per-doc rare-shingle counts, from the SAME posting frame (no
    // second kernel pass, no join against the exploded stream)
    val sizes = postings.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // ordered pairs straight out of each posting list: ids is sorted
    // ascending (BoundedCollectAgg evals sorted), so pairing each
    // element with its strict suffix already satisfies id_a < id_b; the
    // residual filter only guards the degenerate duplicate-id case.
    // TWO chained explodes, not one flattened pair array: a single
    // expression materializing all maxDf·(maxDf−1)/2 pairs of a shingle
    // inside one row value is a memory cliff when a caller raises maxDf
    // (50M pair structs at maxDf=10k) — the chained form streams pairs
    // through the Generate operators with O(maxDf) per-row state
    val pairs = postings
      .select(col("ids"), posexplode(col("ids")))
      .select(col("col").as("id_a"),
        slice(col("ids"), col("pos") + lit(2), size(col("ids"))).as("rest"))
      .select(col("id_a"), explode(col("rest")).as("id_b"))
      .where(col("id_a") < col("id_b"))
    pairs.groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
      // sizes is one row per document — corpus-scale, so it must never
      // broadcast (the static post-aggregate estimate would happily
      // broadcast what is one-row-per-document at production scale).
      // SHUFFLE-HASH-pinned rather than merge-pinned: a sort-merge join
      // here sorts the pair-count frame TWICE (once per key side) —
      // measured as the dominant tail cost — while a shuffled hash join
      // builds on the slim (id, count) side, 16 bytes a row, bounded
      // per partition by |docs|/shuffle-partitions, and streams the
      // pair counts unsorted. Same no-broadcast scale guarantee, no
      // sort of the big side. The build side arrives pre-partitioned
      // by its aggregation key, so the pin adds no exchange.
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b"))
        .hint("shuffle_hash"), Seq("id_b"))
  }

  /** Asymmetric containment over the same rare-shingle inverted index:
    * `containment(a in b) = |sh(a) ∩ sh(b)| / |sh(a)|` — the signal
    * Jaccard misses when a document is QUOTED or embedded inside a
    * larger one (high containment of the small side, low symmetric
    * overlap). Emits one row per ordered (contained, container) pair at
    * or above `threshold`.
    *
    * Same plan shape and df-cutoff semantics as [[ngramJaccardPairs]]
    * (one aggregation of the shingle stream into bounded posting lists,
    * candidates only where a rare shingle is shared); the symmetric
    * common counts compute once and fan out into both orientations
    * afterwards — slim id/count rows, no second index pass.
    * @return (doc_id, container_id, containment) */
  def ngramContainmentPairs(docs: DataFrame, id: Column, text: Column,
                            n: Int = 3, maxDf: Int = 100,
                            threshold: Double = 0.8): DataFrame =
    // both orientations explode out of ONE pass over the common counts —
    // a union of two selections would plan the whole inverted-index
    // subtree twice (measured: 2× the scans and self-joins, no exchange
    // reuse across the union)
    rareShingleCommonCounts(docs, id, text, n, maxDf)
      .select(explode(array(
        struct(col("id_a").as("doc_id"), col("id_b").as("container_id"),
          (col("n_common") / col("n_a").cast("double")).as("containment")),
        struct(col("id_b").as("doc_id"), col("id_a").as("container_id"),
          (col("n_common") / col("n_b").cast("double")).as("containment"))))
        .as("o"))
      .select(col("o.doc_id"), col("o.container_id"), col("o.containment"))
      .where(col("containment") >= threshold)

  /** Line-level corpus dedup (the C4-style boilerplate filter: drop any
    * LINE occurring more than `maxOccurrences` times across the corpus —
    * navigation chrome, cookie banners, license headers — while keeping
    * each document's surviving lines in order).
    *
    * Scale shape: lines reduce to a slim (16-byte md5, count) frame via
    * a map-side-combined aggregation; the line stream joins it hash-keyed
    * (one shuffle of the lines), and per-doc reassembly is the second,
    * final shuffle. `collect_list` skips the nulls the `when` leaves for
    * dropped lines, so every document survives — one whose lines are all
    * boilerplate comes back as the empty string, not a dropped row.
    *
    * BOUND: per-doc reassembly holds one document's surviving (pos,
    * line) structs in a single aggregation buffer, so a pathological
    * multi-GB single document would otherwise become one executor's
    * problem. `maxLinesPerDoc` caps that buffer: only a document's
    * first `maxLinesPerDoc` lines participate (in the counts AND the
    * reassembly — the tail is truncated away, uniformly). The default,
    * 2^20 lines, is far beyond natural documents; lower it to match
    * executor memory when ingesting hostile corpora.
    *
    * `delimiter` is a regex; the default "\n" dedups LINES, "\n{2,}"
    * dedups PARAGRAPHS (the C4 companion granularity — a boilerplate
    * block repeated with internal line breaks intact). Units re-join
    * with `joiner` (a literal), which should render the delimiter: the
    * default pair is identity for line mode.
    *
    * @return (doc_id, text = kept units joined by `joiner`, n_lines,
    *         n_removed)
    */
  def dedupLines(docs: DataFrame, id: Column, text: Column,
                 maxOccurrences: Int = 2,
                 maxLinesPerDoc: Int = 1 << 20,
                 delimiter: String = "\n",
                 joiner: String = "\n"): DataFrame = {
    // split(-1): trailing empty lines are lines too, and the default
    // regex split would silently drop them (they are prime boilerplate).
    // coalesce: split(null) is null and posexplode of null emits NO rows
    // — a null-text doc would vanish, breaking the every-document-
    // survives contract; it reads as an empty doc instead (one "" line)
    val lines = docs.select(id.as("doc_id"),
        posexplode(split(coalesce(text, lit("")), delimiter, -1)))
      .where(col("pos") < maxLinesPerDoc)
      .select(col("doc_id"), col("pos"), col("col").as("line"),
        md5(col("col")).as("__h"))
    val counts = lines.groupBy(col("__h"))
      .agg(count(lit(1)).as("__n"))
    // merge-pinned: distinct-line counts are corpus-scale (see the
    // rareShingleCommonCounts note)
    lines.join(counts.hint("merge"), Seq("__h"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__n") <= maxOccurrences,
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), joiner).as("text"),
        count(lit(1)).as("n_lines"),
        sum((col("__n") > maxOccurrences).cast("int")).as("n_removed"))
  }

  /** Cross-document duplicated-span statistics (the exact-substring-dedup
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499 — window-hash form): for each
    * document, how many of its distinct `n`-word spans occur in OTHER
    * documents too. High dup_ppm docs are templated/syndicated content;
    * the per-doc fraction is the audit signal before deciding a removal
    * policy.
    *
    * df here counts DOCUMENTS containing the span (the shingle kernel
    * emits per-doc distinct spans), so within-doc repetition — a
    * different signal, [[graft.text.TextOps.repetitionPpm]] — cannot
    * inflate it.
    *
    * Plan shape: no window (a hot span would funnel into one task) and
    * no join against the exploded span stream either (the earlier
    * aggregate+join form was scale-safe but sorted the full stream for
    * its merge-pinned join). Instead, n_dup inverts: a span is
    * duplicated iff df ≥ 2, so `n_dup = n_spans − n_unique`, and a
    * UNIQUE span's one posting is recoverable from the df aggregate
    * itself as `min(doc_id)` — a fixed-width buffer, no collect.
    * n_spans never explodes at all: the shingle kernel emits DISTINCT
    * spans per row, so `size()` of the unexploded array is the row's
    * span count and the per-doc frame is a slim map-side projection
    * plus a one-row-per-doc aggregation — the exploded stream shuffles
    * ONCE (by span), not twice. The final join of the two slim
    * per-document frames is shuffle-hash-pinned (build = the unique-
    * counts side): same never-broadcast guarantee as merge-pinning,
    * without sorting either frame. The per-doc join is null-SAFE so a
    * dirty null id groups consistently on both sides.
    * @return (doc_id, n_spans, n_dup, dup_ppm) */
  def duplicatedSpans(docs: DataFrame, id: Column, text: Column,
                      n: Int = 5): DataFrame = {
    val base = spreadScan(docs.select(id.as("doc_id"), text.as("__t")),
        col("doc_id"))
      .select(col("doc_id"), shingles(col("__t"), n).as("shs"))
    // size() counts the kernel's distinct spans without exploding; the
    // filter drops exactly the rows explode() would have dropped (null
    // kernel output — size(null) is null, never > 0; the kernel never
    // emits an empty array, even a token-less doc gets its one
    // degenerate shingle). groupBy collapses duplicate-id rows and the
    // null-id group identically to the exploded form.
    val nSpans = base
      .select(col("doc_id"), size(col("shs")).as("k"))
      .where(col("k") > 0)
      .groupBy(col("doc_id")).agg(sum(col("k")).as("n_spans"))
    val sh = base.select(col("doc_id"), explode(col("shs")).as("s"))
    // min over a df=1 group IS that span's single posting (min also
    // yields null for a lone null id, matching the null-safe join)
    val nUnique = sh.groupBy(col("s"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
      .where(col("df") === 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_uniq"))
    nSpans.as("t")
      .join(nUnique.as("u").hint("shuffle_hash"),
        col("t.doc_id") <=> col("u.doc_id"), "left")
      .select(col("t.doc_id"), col("n_spans"),
        (col("n_spans") - coalesce(col("n_uniq"), lit(0L))).as("n_dup"))
      .withColumn("dup_ppm",
        round(col("n_dup") / col("n_spans").cast("double") * 1e6, 0)
          .cast("long"))
  }

  /** The REWRITE half of [[duplicatedSpans]]'s audit (the removal step
    * of Lee et al., arXiv:2107.06499): re-materialize each document
    * with every cross-document duplicated `n`-token span removed,
    * keep-first policy — the document with the minimum id containing a
    * span keeps its occurrence(s); every other document drops the
    * span's token positions. `keepFirst = false` drops duplicated
    * spans everywhere (the symmetric policy for boilerplate you want
    * in NO training document), and `minDf` raises the removal
    * threshold — Lee et al.'s practical knob: at web scale a 2-doc
    * coincidence is often legitimate quotation, while df ≥ 10 is
    * boilerplate with high confidence. This is the operator that
    * actually shrinks a templated/syndicated corpus, not just
    * measures it.
    *
    * SPAN IDENTITY is positional and per-token-normalized: the text
    * splits on whitespace ONCE (positions are indexes into that raw
    * token array, so reconstruction is exact), and the span key hashes
    * the lowercased, non-alphanumeric-stripped form of each token —
    * case/punctuation-robust matching like [[shingles]], without the
    * full-text normalization that would break the position alignment
    * reconstruction needs. Duplication is by DOCUMENT frequency
    * (distinct ids per span key), so within-doc repetition — the
    * [[graft.text.TextOps.repetitionPpm]] signal — never triggers
    * removal on its own; keys ride xxhash64 (the minhash family's
    * width; a collision mislabels one span in ~2^-64 · |spans|² docs,
    * negligible against the ppm-level noise floor of the signal
    * itself).
    *
    * REMOVAL is position-coverage union: every token position inside
    * any removable span occurrence drops, overlaps union naturally,
    * and the retained tokens re-join with single spaces IN ORDER. A
    * document that loses nothing returns its text byte-identical (the
    * rewrite only re-materializes documents it changed); a document
    * shorter than `n` tokens (or with null text) is always untouched.
    *
    * Plan shape — the posting-list discipline of the audit: the span
    * machinery shuffles only slim (id, pos, hash) triples; the df
    * aggregate collapses each span to one row BEFORE any join (so a
    * viral boilerplate span meets the exploded stream as a single
    * build row, merge-pinned and AQE-skew-split eligible — the
    * [[exactCanonical]] viral-hash argument); no window anywhere; the
    * document text crosses exactly ONE exchange, the final
    * shuffle-hash join that attaches each doc's removal set (build =
    * the slim per-doc start-position frame, so the corpus is never
    * sorted). Per-row reconstruction is linear: retained positions via
    * `array_except(sequence, covered)` (hash-set complement), token
    * fetch via `element_at` — no per-token scan of the covered set.
    *
    * Determinism contract (as [[graft.ops.BoundedTopM]]): exact when
    * ids are duplicate-free; null-id rows group as one document and
    * never win keeper (min skips null), so dirty ids degrade to
    * drop-everywhere for that group, not nondeterminism.
    *
    * @return (doc_id, text_clean, n_tokens, n_removed) — one row per
    *         input row; n_tokens counts the raw whitespace tokens,
    *         n_removed the dropped positions. */
  def removeDuplicatedSpans(docs: DataFrame, id: Column, text: Column,
                            n: Int = 5, keepFirst: Boolean = true,
                            minDf: Long = 2L): DataFrame = {
    require(n >= 1, s"span width must be >= 1, got $n")
    require(minDf >= 2, s"minDf < 2 would remove unique spans, got $minDf")
    val base = spreadScan(docs.select(id.as("doc_id"), text.as("__text")),
      col("doc_id"))
    val rawToks = TextOps.tokens(col("__text"))
    // native positional span-hash kernel (one pass, each token
    // normalized once) — the declarative per-position slice+concat_ws
    // form evaluated O(width) expression nodes per POSITION and read
    // 13.99 s at sf0.1 vs ~2 s with the kernel. posexplode's index IS
    // the token position; docs shorter than n yield an empty array.
    val occ = base
      .select(col("doc_id"),
        posexplode(TextExprs.spanHashes(rawToks, n)))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    // one row per DUPLICATED span key: df counts documents, keeper is
    // the keep-first survivor. The corpus-scale side of the join, but
    // one row per key — the viral span collapses here, pre-shuffle.
    // countDistinct skips nulls, so the null-id group contributes its
    // own +1 explicitly — the "nulls group as one document" contract
    val dupSpans = occ.groupBy(col("h"))
      .agg((countDistinct(col("doc_id")) +
          max(col("doc_id").isNull.cast("int"))).as("__df"),
        min(col("doc_id")).as("__keeper"))
      .where(col("__df") >= minDf)
    val removable =
      if (keepFirst) !(col("doc_id") <=> col("__keeper")) else lit(true)
    // slim per-doc removal set: sorted START positions of removable
    // occurrences (expansion to covered positions happens per-row,
    // avoiding an n-fold row blowup across the shuffle)
    // shuffle_hash with build = the one-row-per-key df frame: the
    // merge pin would SORT the full exploded occurrence stream (the
    // duplicatedSpans lesson); hash-building the collapsed side keeps
    // the never-broadcast guarantee without sorting anything
    val rm = occ.join(dupSpans.hint("shuffle_hash"), Seq("h"))
      .where(removable)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("__starts"))
      .withColumnRenamed("doc_id", "__rid")
    val covered = array_distinct(flatten(transform(col("__starts"),
      s => sequence(s, s + (n - 1)))))
    val retained = transform(
      array_except(sequence(lit(0), size(col("__toks")) - 1), covered),
      p => element_at(col("__toks"), p + 1))
    base
      .join(rm.hint("shuffle_hash"), col("doc_id") <=> col("__rid"), "left")
      .withColumn("__toks", TextOps.tokens(col("__text")))
      .select(col("doc_id"),
        when(col("__starts").isNull, col("__text"))
          .otherwise(concat_ws(" ", retained)).as("text_clean"),
        coalesce(size(col("__toks")), lit(0)).cast("long").as("n_tokens"),
        when(col("__starts").isNull, lit(0L))
          .otherwise((size(col("__toks")) - size(retained)).cast("long"))
          .as("n_removed"))
  }

  // ── Cluster canonicalization ─────────────────────────────────────────

  /** Heap-derived default for [[canonicalFromPairs]]'s small-graph fast
    * path: ~400 bytes/edge transient driver footprint, budgeted at ~5%
    * of the driver's max heap, clamped to [2^12, 2^20] edges. */
  private[graft] lazy val defaultSmallGraphMax: Int =
    math.max(1L << 12,
      math.min(1L << 20, Runtime.getRuntime.maxMemory() / 20L / 400L)).toInt

  /** Collapse near-dup PAIRS into clusters: every id is labeled with the
    * minimum id reachable through the pair graph (connected components)
    * — the step that turns any pairwise dedup (minhash/simhash/ngram/
    * embedding) into per-cluster canonical survivors.
    *
    * Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014): each
    * round rewires the slim (u, v) edge frame — ids only, no payloads —
    * toward the component minimum, and the round count is O(log n) in
    * the component size, INDEPENDENT of cluster diameter. (The previous
    * min-label propagation needed one round per diameter hop, so a
    * duplicate chain longer than `maxIters` silently split behind a log
    * warning — the exact failure a boilerplate-template chain hits at
    * corpus scale.) At the fixed point the edge set is a star per
    * component, every non-minimum node pointing straight at its
    * component minimum; labels are then a single left join.
    *
    * Each round checkpoints its edge frame — truncating the plan, which
    * otherwise doubles per round — and explicitly releases the
    * superseded round's blocks, so storage holds two slim edge copies,
    * not maxIters. Convergence is detected by an order-independent
    * (count, xor-of-hash) signature of the distinct edge set, computed
    * by the same action that materializes the round's checkpoint.
    *
    * `maxIters` is a safety valve, not a tuning knob: 50 rounds covers
    * components far beyond any physical corpus (the bound grows
    * exponentially), and converged loops exit early so headroom is
    * free. Non-convergence still warns rather than throws.
    *
    * SMALL-GRAPH FAST PATH: near-dup pair graphs are usually tiny
    * relative to the corpus (pairs are the rare survivors of banding +
    * verification), and the initial distinct-edge count is already on
    * hand from the convergence signature. When it is ≤ `smallGraphMax`
    * the edge set is broadcast-class state — the same bounded-driver-
    * materialization class as the ANN codebooks — and a driver
    * union-find resolves the exact same min-reachable-id labels in the
    * one action already paid, instead of O(log n) shuffle rounds whose
    * fixed per-round cost dominates on sparse graphs. The label frame
    * returns as an explicit broadcast join side. `smallGraphMax = 0`
    * forces the distributed loop (the spec seam). The DEFAULT cap is
    * HEAP-DERIVED ([[defaultSmallGraphMax]]): the collected Row array,
    * the boxed node index, and the label rows peak at ~400 bytes/edge
    * transient, so the cap budgets ~5% of the driver's max heap and
    * never exceeds 2^20 edges — a default-sized (1 GB) driver gets a
    * ~2^17 cap that cannot OOM it, while a corpus-scale multi-GB driver
    * keeps the full 2^20. Pass `smallGraphMax = 1 << 20` explicitly to
    * opt a small driver into the larger cap.
    *
    * @return (doc_id, canonical_id)
    */
  def canonicalFromPairs(ids: DataFrame, idCol: Column, pairs: DataFrame,
                         maxIters: Int = 50,
                         smallGraphMax: Int = defaultSmallGraphMax): DataFrame = {
    import org.apache.spark.sql.graftbridge.CheckpointBridge

    // large-star: per node a over the FULL neighborhood, connect every
    // strictly-larger neighbor to m = min(Γ(a) ∪ {a}). Input orientation
    // is irrelevant (the neighborhood is symmetrized here); output edges
    // are oriented u > v because m ≤ a < b for every emitted (b, m).
    // Deliberately NO distinct here: duplicate edges only fatten the
    // small-star aggregation that follows (min absorbs them), and the
    // round's one distinct — in smallStar, where the signature needs a
    // canonical set anyway — costs one shuffle instead of two.
    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e.select(col("v").as("a"), col("u").as("b")))
      val mins = bidir.groupBy(col("a"))
        .agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      bidir.join(mins, Seq("a"))
        .where(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
    }

    // small-star: per node u over its SMALLER neighbors N (edges are
    // oriented u > v), connect every v ∈ N ∪ {u} to m = min(N). Output
    // stays oriented u > v (v ≥ m with v = m filtered; u > m always).
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val nbr = e.join(mins, Seq("u"))
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      nbr.unionByName(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    // one aggregate action per round both materializes the lazy
    // checkpoint AND yields the convergence signature — no second pass.
    // The signature is set-equality with 64-bit-collision probability:
    // edges are distinct, so (count, xor of xxhash64(u, v)) differing is
    // proof of change, and matching is overwhelming evidence of none.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(u, v))"),
        lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // every round LOCAL-CHECKPOINTS its edge frame (stored
    // MEMORY_AND_DISK like a persist) so the next round's plan starts
    // from a LEAF. Load-bearing, not hygiene: a round references the
    // prior frame several times (bidir union + both join sides), so
    // without truncation the logical plan grows geometrically and the
    // driver dies analyzing it — independent of data size. The
    // superseded round's blocks are released EXPLICITLY (storage holds
    // two slim edge copies, not maxIters — the ContextCleaner alone
    // reclaims only at driver-GC cadence). Reliability tradeoff:
    // truncated lineage cannot recompute on executor loss — the
    // operator restarts instead, the standard localCheckpoint contract
    // for iterative loops.
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    var sig = signature(edges)
    // small-graph fast path (scaladoc): the signature action already
    // counted the distinct edges; a broadcast-class edge set resolves
    // on the driver in zero further distributed rounds. Long ids only —
    // the distributed loop below is type-generic, the primitive-array
    // union-find is not, and every non-Long caller just keeps the loop.
    if (sig._1 <= smallGraphMax &&
        edges.schema("u").dataType ==
          org.apache.spark.sql.types.LongType) {
      val collected = edges.collect()
      CheckpointBridge.releaseCheckpoint(edges)
      val labels = unionFindLabels(collected)
      val spark = ids.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val labelDf = spark.createDataFrame(
        spark.sparkContext.parallelize(labels, 1), schema)
      return ids.select(idCol.as("doc_id"))
        .join(broadcast(labelDf), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("v"), col("doc_id")).as("canonical_id"))
    }
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nsig = signature(next)
      CheckpointBridge.releaseCheckpoint(edges)
      edges = next
      converged = nsig == sig
      sig = nsig
      i += 1
    }
    if (!converged)
      log.warn(
        s"canonicalFromPairs did not converge in $maxIters rounds — " +
          "unconverged components keep split labels; raise maxIters")
    // the converged frame is a star: ONE (node, component-min) edge per
    // non-min node. The min-aggregate before the join is for the
    // UNconverged exit only — a mid-algorithm edge set can hold several
    // edges per node, and a bare join would then emit duplicate doc_id
    // rows (the contract is one labeled row per input id, split labels
    // at worst); on a converged star it reduces to a no-op over
    // already-unique keys. The final checkpoint's blocks stay alive
    // through the returned frame's reference; the ContextCleaner
    // reclaims them when the caller drops it — the lifetime a library
    // return value should have
    ids.select(idCol.as("doc_id"))
      .join(edges.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("v")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("v"), col("doc_id")).as("canonical_id"))
  }

  /** Keep the BEST copy of every near-dup cluster — the curation form
    * of dedup: [[canonicalFromPairs]] picks a cluster LABEL (min id);
    * what a pipeline actually keeps is the cluster's highest-QUALITY
    * member (quality DESC, id ASC tiebreak). One bounded top-1
    * aggregate per cluster + a semi-join back
    * ([[graft.text.BudgetSelect.takeTopPerGroupUniform]] with m = 1):
    * O(1) memory per cluster, zero driver state at any cluster count.
    * `df` must already carry the cluster id column (join the
    * [[canonicalFromPairs]] output in); singleton clusters keep their
    * only member. TWO passes over `df` — persist an expensive upstream
    * first. */
  def keepBestPerCluster(df: DataFrame, clusterId: Column, id: Column,
                         quality: Column): DataFrame =
    graft.text.BudgetSelect.takeTopPerGroupUniform(df, clusterId, id,
      quality, m = 1L)

  /** Driver union-find behind the small-graph fast path: exact
    * min-reachable-id labels for a collected (u, v) edge array — one
    * (node, componentMin) row per NON-minimum node, the same frame
    * shape the star loop's converged edge set yields. Union by size +
    * path halving: near-linear, primitive arrays, ≲48 bytes/edge. */
  private def unionFindLabels(
      edges: Array[org.apache.spark.sql.Row]): Seq[org.apache.spark.sql.Row] = {
    val index = new java.util.HashMap[java.lang.Long, Integer](edges.length * 2)
    val nodes = new scala.collection.mutable.ArrayBuffer[Long]
    def idxOf(x: Long): Int = {
      val got = index.get(x)
      if (got != null) got.intValue()
      else {
        index.put(x, nodes.length); nodes += x; nodes.length - 1
      }
    }
    val us = new Array[Int](edges.length)
    val vs = new Array[Int](edges.length)
    var i = 0
    while (i < edges.length) {
      us(i) = idxOf(edges(i).getLong(0))
      vs(i) = idxOf(edges(i).getLong(1))
      i += 1
    }
    val n = nodes.length
    val parent = Array.tabulate(n)(identity)
    val size = Array.fill(n)(1)
    def find(a0: Int): Int = {
      var a = a0
      while (parent(a) != a) {
        parent(a) = parent(parent(a)) // path halving
        a = parent(a)
      }
      a
    }
    i = 0
    while (i < edges.length) {
      val ra = find(us(i))
      val rb = find(vs(i))
      if (ra != rb) {
        if (size(ra) < size(rb)) { parent(ra) = rb; size(rb) += size(ra) }
        else { parent(rb) = ra; size(ra) += size(rb) }
      }
      i += 1
    }
    val minOf = Array.fill(n)(Long.MaxValue)
    i = 0
    while (i < n) {
      val r = find(i)
      if (nodes(i) < minOf(r)) minOf(r) = nodes(i)
      i += 1
    }
    (0 until n).flatMap { j =>
      val m = minOf(find(j))
      if (m == nodes(j)) None
      else Some(org.apache.spark.sql.Row(nodes(j), m))
    }
  }

  // ── SimHash ──────────────────────────────────────────────────────────

  /** 64-bit SimHash: per bit j, sum +1/-1 over token-hash bit j; bit set
    * if the sum is positive. Native kernel (O(64·T) bit ops per doc) —
    * [[graft.ops.TextKernels.simhash64]]. */
  def simhash64(text: Column): Column =
    TextExprs.simhash64(array_distinct(TextOps.tokens(TextOps.normalized(text))))

  /** Near-dup pairs within `maxHamming` of each other's SimHash.
    * Candidate generation by pigeonhole: signatures within Hamming
    * distance d agree exactly on some bucket key in at least one table,
    * so bucket-join on (tableIdx, key) and verify with bit_count(xor).
    *
    * Table designs (all EXHAUSTIVE at their radius — recall is 1.0, the
    * verify step only removes false candidates):
    *  - r ≤ 3: 4 disjoint 16-bit chunks (d errors touch ≤ 3 chunks →
    *    ≥ 1 clean).
    *  - r ≤ 7, `wideTables` (default): 9 disjoint ~7-bit blocks keyed in
    *    PAIRS — C(9,2) = 36 tables of 14-16-bit keys. d ≤ 7 errors touch
    *    ≤ 7 blocks, leaving ≥ 2 clean, so some PAIR is clean — the same
    *    hard guarantee as 8 single 8-bit chunks. The win is the
    *    accidental-collision floor that dominates at corpus scale: for
    *    unrelated (≈independent) signatures the expected spurious
    *    candidates are n²·8/2⁸ with single chunks vs n²·36/2¹⁴ with
    *    block pairs — ~16× fewer — at the cost of 4.5× more exploded
    *    table rows.
    *  - r ≤ 7, `wideTables = Some(false)`: the 8×8-bit single-chunk
    *    layout. Fewer exploded rows, and on a strongly-correlated corpus
    *    (pairs agreeing on ≫ 50% of bits without being near-dups) it
    *    emits FEWER candidates than block pairs (p⁸·8 < p¹⁴·36 once
    *    p ≳ 0.78).
    *  - `wideTables = None` (default) MEASURES instead of guessing: a
    *    bounded signature sample estimates the mean pairwise
    *    bit-agreement p and picks whichever layout expects fewer
    *    candidates. Results are identical whatever the choice — both
    *    layouts are exhaustive — so the selection is purely a cost
    *    decision and can never change the output.
    */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
                   maxHamming: Int = 7,
                   wideTables: Option[Boolean] = None): DataFrame =
    hammingPairs(docs, id, simhash64(text), maxHamming, wideTables)

  /** [[simhashPairs]]' pigeonhole machinery over an ARBITRARY 64-bit
    * signature column — any signature family whose similarity is
    * Hamming distance plugs in (SimHash over tokens, dHash/aHash over
    * image pixels: [[graft.multimodal.ImageHash]]). Null signatures
    * (e.g. an undecodable image payload) join into no bucket and
    * surface in no pair. Same exhaustiveness guarantee: every pair
    * within `maxHamming` shares a clean table key, so the verify step
    * only removes false candidates. */
  def hammingPairs(docs: DataFrame, id: Column, sig: Column,
                   maxHamming: Int = 7,
                   wideTables: Option[Boolean] = None): DataFrame = {
    require(maxHamming <= 7, "radius > 7 needs a wider table design")
    // EXACT-DUPLICATE COLLAPSE (the [[minhashPairs]] discipline, with
    // the signature value itself as the content class): m byte-identical
    // images/clips share one 64-bit signature, so chunking raw rows
    // would emit m²/2 candidate pairs from every bucket — quadratic in
    // duplicate multiplicity. Only DISTINCT signatures enter the
    // pigeonhole tables; membership re-expands afterwards. The slim
    // (doc_id, sig) frame is checkpointed: the sig column may carry an
    // expensive media decode, and the frame feeds the distinct, the
    // layout sampler, and the expansion joins — ONE decode pass.
    // deliberately NOT spreadScan-spread: measured wall-neutral on
    // dedup_simhash at sf0.1 (the chunk join + expansion tail dominate,
    // and the shuffled-text kernel pass costs more task overhead than
    // the serial scan it replaces); the media fronts arrive pre-decoded
    // and multi-partition anyway
    val members = docs.select(id.as("doc_id"), sig.as("sig"))
      // a null signature (undecodable payload) joins into no bucket
      // and surfaces in no pair — drop it before it costs anything
      .where(col("sig").isNotNull)
      // LAZY: the first consuming action materializes and caches it —
      // an eager checkpoint would pay one extra full pass as its own
      // job, measurable on sub-second media gates
      .transform(graft.core.PlanTrace.checkpoint(_, eager = false,
        "hamming members (doc_id, sig)"))
    val wide = wideTables.getOrElse {
      // r ≤ 3 always takes the 4×16-bit chunk layout (simhashKeys
      // ignores the flag there) — don't sample, and don't LOG a layout
      // that isn't the plan being run
      if (maxHamming <= 3) false
      else {
        val chosen = chooseWideTables(members)
        // the sampled choice is a plan-shape decision — surface it, so a
        // run-to-run cost difference is attributable to a layout flip
        // instead of reading as an unexplained drift
        log.info(
          s"hammingPairs layout auto-selected: " +
            s"${if (chosen) "block-pair (wide)" else "single-chunk"} tables")
        chosen
      }
    }
    val distinctSigs = members.select(col("sig")).distinct()
    // pinned at the SIZE-CLAMPED width (round 22): the always-full-
    // width pin measured +0.4 s here at sf0.1 (pure exchange overhead
    // on the sub-second media fronts — that attempt is why round 21
    // declined it), but AQE's byte-based coalescing still serialized
    // the chunk join + radius verify into ONE task (measured: 0.4 s on
    // a 730 KB exchange). The scaledWidth pin keeps toy inputs at a
    // handful of partitions and is the session's full parallelism at
    // corpus scale.
    val chunked = pinJoinParallelism(
      simhashKeys(distinctSigs, maxHamming, wide),
      col("chunk"), col("ckey"))
    val a = chunked.select(col("chunk"), col("ckey"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk"), col("ckey"), col("sig").as("sig_b"))
    // signatures are 8 bytes — carry them through the chunk join and
    // verify BEFORE the pair dedup, so only true near-collisions (not
    // every bucket collision) reach the distinct shuffle. Merge-pinned
    // so both sides reuse one chunked-signature exchange and the
    // exploded chunk frame is never broadcast. Exhaustiveness is
    // unchanged: every signature PAIR within the radius still shares a
    // clean table key; equal signatures (Hamming 0) bypass the tables
    // entirely through the within-class expansion.
    val nearSigPairs = a.hint("merge").join(b, Seq("chunk", "ckey"))
      .where(col("sig_a") < col("sig_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("sig_a"), col("sig_b"), col("hamming"))
      .dropDuplicates("sig_a", "sig_b")
    // within-class (equal-signature) pairs ride the SAME expansion as a
    // self sig-pair at Hamming 0, instead of a separate members
    // self-join + union: the self pair fans out each unordered doc pair
    // twice ((x,y) and (y,x) both reorient to x<y), and the min
    // aggregate below collapses the twins — one fewer join over the
    // corpus-scale membership frame
    val sigPairs = nearSigPairs.unionByName(
      distinctSigs.select(col("sig").as("sig_a"), col("sig").as("sig_b"),
        lit(0).cast("integer").as("hamming")))
    // cross-signature expansion: the class key IS the signature, and
    // one DOCUMENT can carry several signatures (the animation
    // frame-hash case) — exclude self-pairs explicitly (a clip with
    // two frames within the radius is not a duplicate of itself).
    // Merge-pinned: the membership frame is one row per signature per
    // document, corpus-scale, never broadcast.
    val expanded = sigPairs
      .join(members.select(col("sig").as("sig_a"), col("doc_id").as("__ma"))
        .hint("merge"), Seq("sig_a"))
      .join(members.select(col("sig").as("sig_b"), col("doc_id").as("__mb"))
        .hint("merge"), Seq("sig_b"))
      .where(col("__ma") =!= col("__mb"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("hamming"))
    // min, not dropDuplicates: with ONE signature per id the values
    // are identical anyway, and with multiple signatures per id the
    // best frame match should win; min also collapses the doubled
    // within-class fan-out — shuffle-order-independent either way
    expanded
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Sampled layout selection: estimate the per-pair expected
    * spurious-candidate volume from a bounded signature sample (1024
    * sigs = 8 KB to the driver, same class as a broadcast) and pick
    * block pairs iff their expectation is lower: mean(36·a¹⁴) <
    * mean(8·a⁸) over sampled-pair bit agreements a (averaging the
    * POWERED terms, not powering the mean — mixed corpora are
    * Jensen-biased otherwise). Diverse corpora (a ≈ 0.5) take the wide
    * layout's ~16× win; internally-correlated corpora keep single
    * chunks. The sample is hash-ordered (TakeOrdered top-k, no full
    * sort) so it is DETERMINISTIC and decorrelated from file layout —
    * an unordered limit() would sample one partition of a
    * source-clustered corpus and could flip the layout between runs.
    *
    * The sample draws from the corpus's DISTINCT signatures: hash-order
    * top-k over raw rows degrades under duplication (a corpus
    * replicated 10× fills the 1024 slots with ~10 copies each of the
    * ~100 lowest-hashed signatures, and the cross-half pairing then
    * compares a signature mostly against its own copies — the a = 1.0
    * terms swamp the estimate and the decision flips as the corpus
    * grows). Distinct signatures make the choice a function of the
    * signature-space SHAPE, invariant under exact replication;
    * duplicate flood cost is bounded separately by the
    * distinct-signature collapse in [[hammingPairs]]. */
  private[graft] def chooseWideTables(sigd: DataFrame): Boolean = {
    val sigs = sigd.select(col("sig"))
      .where(col("sig").isNotNull) // null text → null sig; never collect it
      .distinct()
      .orderBy(xxhash64(col("sig")))
      .limit(1024)
      .collect().map(_.getLong(0))
    if (sigs.length < 2) return true
    // pair across sample halves, NOT adjacently: nearby hashes carry no
    // similarity signal, but cross-half pairing keeps the estimate from
    // any residual hash-order structure
    val half = sigs.length / 2
    val (narrowE, wideE) = (0 until half).map { i =>
      val a = (64 - java.lang.Long.bitCount(sigs(i) ^ sigs(i + half))) / 64.0
      (8.0 * math.pow(a, 8), 36.0 * math.pow(a, 14))
    }.foldLeft((0.0, 0.0)) { case ((n, wi), (nn, ww)) => (n + nn, wi + ww) }
    wideE < narrowE
  }

  /** One (chunk = tableIdx, ckey = bucket key) row per table per doc —
    * exposed for the candidate-volume spec. */
  private[graft] def simhashKeys(sigd: DataFrame, maxHamming: Int,
                                 wideTables: Boolean): DataFrame = {
    def block(off: Int, bits: Int): Column =
      call_function("shiftrightunsigned", col("sig"), lit(off))
        .bitwiseAND(lit((1L << bits) - 1))
    val keys: Seq[Column] =
      if (maxHamming <= 3)
        (0 until 4).map(i => block(i * 16, 16))
      else if (!wideTables)
        (0 until 8).map(i => block(i * 8, 8))
      else {
        // 9 blocks: 8×7 bits + 1×8 bits; tables = all block pairs
        val offs = Array(0, 7, 14, 21, 28, 35, 42, 49, 56)
        val bits = Array(7, 7, 7, 7, 7, 7, 7, 7, 8)
        for {
          i <- 0 until 9
          j <- (i + 1) until 9
        } yield shiftleft(block(offs(i), bits(i)), 8)
          .bitwiseOR(block(offs(j), bits(j)))
      }
    // carry ALL input columns: hammingPairs passes (doc_id, sig);
    // SigSeen rides its state metadata (first_seen_batch, first_doc)
    // through the same key expansion
    sigd.select(col("*"), posexplode(array(keys: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ckey")
  }
}
