package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`), designed
  * for the "small query set × huge corpus" shape:
  *
  *  - brute force: broadcast the query vectors, one streaming pass over
  *    the corpus computing cosine in-line (codegen'd `zip_with` +
  *    `aggregate`), per-query top-k via a window. No corpus shuffle of
  *    vector payloads — only (query, candidate, sim) tuples reach the
  *    top-k exchange.
  *  - LSH (random hyperplane): deterministic pseudo-random hyperplanes
  *    (hash-derived, no RNG state to ship), sign-bit signature, bucket
  *    join queries→corpus, exact cosine re-rank within buckets. Probes
  *    every band so recall degrades gracefully.
  *
  * All math in double (embeddings cast up front) — float accumulation
  * drifts across evaluation orders.
  */
object Ann {

  def asDouble(vec: Column): Column = vec.cast("array<double>")

  /** Native kernel dot — a declarative `aggregate(zip_with(...))` builds
    * and folds an intermediate array per pair. */
  def dot(a: Column, b: Column): Column = graft.ops.TextExprs.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Hard assignment of every corpus row to its nearest centroid by
    * cosine — the user-facing clustering step (domain discovery,
    * cluster-balanced sampling, SemDeDup-style partitioning) over
    * centroids from ANY source: [[ivfIndex]]'s Lloyd output, an
    * external model's centroids, or a deterministic seed set.
    *
    * Scale shape: centroids broadcast (k×dim doubles), similarity is
    * one codegen kernel call per (row, centroid), and the argmax is a
    * `groupBy(id).max(struct(...))` — map-side partial aggregation, no
    * ranking window, no vector payload in the shuffle (only id +
    * packed winner cross it).
    *
    * Determinism: similarities are ranked as integer micro-units
    * (`round(cos × 10⁶)` — the repo's no-doubles-across-gates
    * discipline), ties break to the LOWEST cluster id. Cosine is
    * computed dot/(|a|·|b|) in input order, matching DuckDB's
    * `list_cosine_similarity` operation shape bit-for-bit.
    *
    * @param corpus    rows to assign
    * @param id        unique row id column in `corpus`
    * @param vec       embedding column (`array<float>` or double)
    * @param centroids (cluster: long, centroid: array<double>) — must
    *                  be broadcast-small; empty-vector corpus rows are
    *                  excluded (no cosine exists), mismatched non-empty
    *                  dims throw (the schema-drift contract)
    * @return (id, cluster, sim_e6: long)
    */
  def assignToCentroids(corpus: DataFrame, id: Column, vec: Column,
                        centroids: DataFrame): DataFrame = {
    val rows = corpus.where(size(vec) > 0)
      .select(id.cast("long").as("aid"), asDouble(vec).as("av"))
    val sims = rows.crossJoin(broadcast(
        centroids.select(col("cluster").cast("long").as("cluster"),
          asDouble(col("centroid")).as("cv"))))
      .select(col("aid"),
        struct(
          round(cosine(col("av"), col("cv")) * 1000000L).cast("long")
            .as("sim_e6"),
          (-col("cluster")).as("negc")).as("sc"))
    sims.groupBy(col("aid")).agg(max(col("sc")).as("w"))
      .select(col("aid").as("id"), (-col("w.negc")).as("cluster"),
        col("w.sim_e6").as("sim_e6"))
  }

  /** Exact brute-force top-k: every query vs every corpus row.
    * @param queries (qid, qvec) — must be small (it is broadcast)
    * @param corpus  (cid, cvec)
    * @param roundTo similarity decimals used for ranking (stable
    *                tie-break by cid keeps the result deterministic
    *                across fp evaluation orders)
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     roundTo: Int = 4): DataFrame =
    rankTopK(
      corpus.crossJoin(broadcast(queries)).where(col("qid") =!= col("cid")),
      k, roundTo)

  /** Two-stage brute-force top-k over int8-quantized vectors: an integer
    * dot-product prefilter over the [[Quantize]] codes keeps the top
    * `k × overscan` per query, and only those survivors get exact float
    * cosine + final ranking. At 100 TB the corpus pass touches 4×-smaller
    * int8 columns and the float vectors are read only for the
    * re-rank join — the quantized store IS the scan, the float store is
    * point-looked-up. Approximation enters ONLY through prefilter
    * truncation (symmetric quantization keeps dot products linear, so
    * int ranking ≈ float ranking); `overscan` buys recall.
    */
  def bruteForceTopKQuantized(queries: DataFrame, corpus: DataFrame, k: Int,
                              overscan: Int = 4, roundTo: Int = 4): DataFrame = {
    val qq = queries.select(col("qid"),
      Quantize.quantize(col("qvec")).getField("q").as("qcodes"))
    val cq = corpus.select(col("cid"),
      Quantize.quantize(col("cvec")).getField("q").as("ccodes"))
    // int-dot ranking normalized by the corpus-side code norm: the query
    // norm and the scale product are constant within a query partition,
    // so this orders like cosine up to quantization error — overscan
    // absorbs that slack before the exact re-rank
    val intDot = aggregate(
      zip_with(col("qcodes"), col("ccodes"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    val pre = cq.crossJoin(broadcast(qq))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (intDot /
          (sqrt(aggregate(col("ccodes"), lit(0L), (a, x) => a + x * x)
            .cast("double")) + lit(1e-12))).as("iscore"))
    reRank(pre, k * overscan, corpus, queries, k, roundTo)
  }

  /** The exact re-rank tail of every prefilter variant: the top `n`
    * (qid, cid) per query by `iscore`; floats re-attach from `corpus`
    * (cid, cvec) for those rows only — the float store is point-joined,
    * never scanned — then [[rankTopK]]. */
  private[similarity] def reRank(scored: DataFrame, n: Int, corpus: DataFrame,
      queries: DataFrame, k: Int, roundTo: Int): DataFrame =
    rankTopK(
      topPerQuery(scored, "iscore", n).select(col("qid"), col("cid"))
        .join(corpus.select(col("cid"), col("cvec")), Seq("cid"))
        .join(broadcast(queries.select(col("qid"), col("qvec"))), Seq("qid")),
      k, roundTo)

  /** Sign-bit LSH signature: one bit per hyperplane = sign of the dot
    * product with a deterministic hash-derived hyperplane (no RNG state
    * ships — executors rebuild the plane matrix identically). Native
    * kernel — [[graft.ops.TextKernels.lshBits]]. Returns array<int> of
    * 0/1, grouped into `bands` bucket keys by the caller. */
  def lshSignature(vec: Column, planes: Int): Column =
    graft.ops.TextExprs.lshBits(vec, planes)

  /** LSH-bucketed approximate top-k: candidates are corpus rows sharing
    * at least one signature band with the query; exact cosine re-ranks.
    * planes = bands·bandBits; a pair colliding on any band becomes a
    * candidate (multi-probe OR-construction → high recall).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              bands: Int = 8, bandBits: Int = 4, roundTo: Int = 4): DataFrame = {
    val planes = bands * bandBits
    def banded(df: DataFrame, id: String, vec: String) = {
      val sig = lshSignature(asDouble(col(vec)), planes)
      df.select(col(id), col(vec), posexplode(
          transform(sequence(lit(0), lit(bands - 1)), bnd =>
            array_join(transform(slice(sig, bnd * bandBits + 1, lit(bandBits)),
              _.cast("string")), ""))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    }
    // ids-only band join; vectors re-attach after candidate dedup (the
    // query side is tiny and broadcast, the corpus side is one slim join)
    val qb = banded(queries, "qid", "qvec").drop("qvec")
    val cb = banded(corpus, "cid", "cvec").drop("cvec")
    val cands = qb.join(cb, Seq("band", "bkey"))
      .where(col("qid") =!= col("cid"))
      .dropDuplicates("qid", "cid")
    rankTopK(
      cands.join(broadcast(queries), Seq("qid")).join(corpus, Seq("cid")),
      k, roundTo)
  }

  // ── IVF (inverted-file) index ────────────────────────────────────────

  /** L2-normalize, so dot product = cosine and k-means L2 ≈ angular.
    * Native kernel — a declarative `transform(v, x => x / norm(v))`
    * re-evaluates the norm aggregate per element (O(d²) per row). */
  def normalize(vec: Column): Column = graft.ops.TextExprs.l2normalize(vec)

  /** Build an IVF index: k-means-lite over the corpus, expressed purely
    * as DataFrame ops (assignment = cross with broadcast centroids +
    * arg-max via struct ordering; update = per-dimension average after a
    * posexplode). `iters` Lloyd rounds; deterministic seeding (first k
    * rows by id). Returns (assignments(cid, cluster), centroids(cluster,
    * centroid)).
    *
    * Lloyd trains on a BOUNDED deterministic sample (hash-ordered
    * top-`maxTrainRows`, default `max(256·k, 4096)` — the FAISS-class
    * points-per-centroid guidance), so each training round scans the
    * sample, not the corpus: at 100 TB the training cost is fixed by the
    * cap while the FINAL assignment stays one full streaming scan
    * against the broadcast centroids. Every oracled consumer is
    * centroid-robust by construction — the `*_full` gates probe all
    * clusters and re-rank with exact cosine, and SemDeDup's lossless
    * twin runs `nClusters = 1` — so sampling shifts only the
    * recall/latency trade of the approximate production-parameter
    * variants, never an exact result. Pass `Int.MaxValue` to train on
    * the full corpus. */
  def ivfIndex(corpus: DataFrame, nClusters: Int, iters: Int = 2,
               maxTrainRows: Int = 0): (DataFrame, DataFrame) = {
    require(nClusters >= 1, s"nClusters=$nClusters must be >= 1")
    // rows with EMPTY vectors are excluded from training AND assignment
    // (no cosine to any centroid exists — they would crash the dot
    // kernel and cannot be searched); mismatched non-empty dims still
    // throw, the deliberate schema-drift contract
    val normed = corpus.where(size(col("cvec")) > 0)
      .select(col("cid"), normalize(asDouble(col("cvec"))).as("v"))
    val cap = if (maxTrainRows > 0) maxTrainRows
      else math.max(256 * nClusters, 4096)
    // a cap below k starves the seed scan (fewer than nClusters seeds →
    // silently fewer clusters than requested) — fail loudly instead
    require(cap >= nClusters,
      s"maxTrainRows=$cap must be >= nClusters=$nClusters: the training " +
        "sample seeds one centroid per cluster")
    // hash-ordered top-N: deterministic (xxhash64 total-ordered with an
    // id tie-break), planned as a partial per-partition top-N — no full
    // sort — and materialized once so every Lloyd round reuses it
    val train = if (cap == Int.MaxValue) normed
      else normed.orderBy(xxhash64(col("cid")), col("cid")).limit(cap)
        .select(col("cid"), col("v")).localCheckpoint(true)
    // deterministic seeds: first nClusters training rows by id, COLLECTED
    // (k×dim doubles — broadcast-class) and re-created with driver-side
    // ranks. A global Window.orderBy over the seed frame would plan a
    // single-partition WindowExec and warn on every run; this shape is
    // warning-free and identical in result.
    val spark = corpus.sparkSession
    import spark.implicits._
    val seeds = train.orderBy(col("cid")).limit(nClusters)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    // with nClusters >= 1, no seed means no trainable row at all (empty
    // corpus, or every vector empty): skip Lloyd and return both frames
    // empty. The placeholder centroid keeps the assignment's kernel
    // column — and so its schema — and is never evaluated: `normed` is
    // empty
    if (seeds.isEmpty)
      return (normed.select(col("cid"), graft.ops.TextExprs
          .ivfAssign(col("v"), Seq(0), Seq(Seq.empty[Double])).as("cluster")),
        Seq.empty[(Int, Seq[Double])].toDF("cluster", "centroid"))
    // the centroid set lives as driver arrays between rounds (k×dim
    // doubles — the same tiny-materialization class as the former
    // per-round broadcast + eager checkpoint), feeding the ivf_assign
    // argmax kernel: each Lloyd round is ONE job — scan the training
    // checkpoint, assign per row with no exchange (the kernel
    // reproduces max(struct(dot, cluster)) bit-for-bit), and reduce to
    // k rows through the map-side-combined decimal vector sum. The
    // crossJoin + groupBy(cid) re-shuffle of every training vector,
    // the posexplode mean and the per-round broadcast/checkpoint jobs
    // are gone.
    var ids: Array[Int] = seeds.indices.toArray
    var cents: Array[Array[Double]] = seeds.map(_.toArray).toArray
    for (_ <- 0 until iters) {
      // decimal-exact mean (not avg(double)): fp partial sums merge in
      // shuffle-fetch order and would make centroids bit-unstable
      // run-to-run; normalized components are |x| <= 1, so
      // decimal(38,18) has 20 integer digits of headroom. Same cast
      // rounding, exact sum, and decimal-over-count division as the
      // sum(cast(...))/count form this replaces.
      val next = train
        .select(graft.ops.TextExprs
            .ivfAssign(col("v"), ids.toSeq, cents.map(_.toSeq).toSeq)
            .as("cluster"),
          col("v"))
        .groupBy(col("cluster"))
        .agg(graft.ops.VecSumAggregate.vecSumDecimal(col("v")).as("s"),
          // count only vectors the posexplode mean would have counted —
          // empty arrays emit no rows there (none survive the size>0
          // gate upstream; the guard keeps the parity explicit)
          count(when(size(col("v")) > 0, 1)).as("n"))
        .select(col("cluster"),
          transform(col("s"), e => (e / col("n")).cast("double"))
            .as("centroid"))
        .collect()
        .sortBy(_.getInt(0))
      ids = next.map(_.getInt(0))
      cents = next.map(_.getSeq[Double](1).toArray)
    }
    val centroids = ids.zip(cents.map(_.toSeq)).toSeq
      .toDF("cluster", "centroid")
    // FINAL assignment of the FULL corpus against the FINAL centroids —
    // the in-loop assignment covered only the training sample, and
    // probes ranked by the new centroids must match the inverted-list
    // membership. A pure kernel projection: no exchange, no broadcast.
    (normed.select(col("cid"),
      graft.ops.TextExprs
        .ivfAssign(col("v"), ids.toSeq, cents.map(_.toSeq).toSeq)
        .as("cluster")),
      centroids)
  }

  /** The `nprobe` best clusters per query: (qid, cluster) ranked by
    * centroid dot product, deterministic tie-break on cluster. Shared by
    * every IVF flavor ([[ivfTopK]], [[queryIvfIndex]],
    * [[Pq.queryIvfPqIndex]]) so probe semantics cannot drift between
    * spec-equivalent twins. */
  private[similarity] def probeClusters(queries: DataFrame,
                                        centroids: DataFrame,
                                        nprobe: Int): DataFrame = {
    val qn = queries.where(size(col("qvec")) > 0)
      .select(col("qid"), normalize(asDouble(col("qvec"))).as("qv"))
    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("cluster"))
    qn.crossJoin(broadcast(centroids))
      .select(col("qid"), col("cluster"),
        dot(col("qv"), col("centroid")).as("csim"))
      .withColumn("pr", row_number().over(probeW))
      .where(col("pr") <= nprobe)
      .select(col("qid"), col("cluster"))
  }

  /** Exact-cosine top-k tail over candidates carrying (qid, cid, qvec,
    * cvec): rounding and tie-break live HERE, once, for every ANN
    * variant. EMPTY vectors are excluded (a missing embedding has no
    * cosine — routine dirty data must not kill a corpus job); non-empty
    * MISMATCHED dimensions still throw ([[graft.ops.TextKernels.vecDot]]'s
    * schema-drift contract). */
  private[similarity] def rankTopK(cands: DataFrame, k: Int,
                                   roundTo: Int): DataFrame =
    topPerQuery(cands
      .where(size(col("qvec")) > 0 && size(col("cvec")) > 0)
      .select(col("qid"), col("cid"),
        round(cosine(asDouble(col("qvec")), asDouble(col("cvec"))), roundTo)
          .as("sim")), "sim", k)

  /** The per-query top-`n` of (qid, cid, `score`) by (`score` desc,
    * cid), each (qid, cid) once — after a replayed append an index
    * stores rows twice, and one cid must not take two slots and push
    * out a true neighbour: dense_rank ranks the copies alike, so the
    * cut admits `n` distinct cids, and the dedup after it rides the
    * window's qid partitioning (no extra exchange). The `<= n` rank
    * filter keeps Spark's partial WindowGroupLimit below the exchange. */
  private[similarity] def topPerQuery(df: DataFrame, score: String,
                                      n: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col(score).desc, col("cid"))
    df.withColumn("rn", dense_rank().over(w))
      .where(col("rn") <= n)
      .select(col("qid"), col("cid"), col(score))
      .dropDuplicates("qid", "cid")
  }

  /** IVF-bucketed approximate top-k: probe the `nprobe` nearest clusters
    * per query, exact cosine within the probed inverted lists. Join
    * wiring here is the IN-MEMORY shape: probes select members from the
    * slim assignment first (ids only), vectors attach by cid after — so
    * unprobed clusters never ship vectors. ([[queryIvfIndex]] wires the
    * same probe + rank stages differently: its lists table is bucketed
    * by cluster with vectors in place, so ONE bucketed join is optimal
    * there.) */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nClusters: Int = 16, nprobe: Int = 4, iters: Int = 2,
              roundTo: Int = 4, maxTrainRows: Int = 0): DataFrame = {
    val (assign, centroids) = ivfIndex(corpus, nClusters, iters, maxTrainRows)
    rankTopK(
      probeClusters(queries, centroids, nprobe)
        .join(assign, Seq("cluster"))
        .where(col("qid") =!= col("cid"))
        .join(broadcast(queries), Seq("qid"))
        .join(corpus.select(col("cid"), col("cvec")), Seq("cid")),
      k, roundTo)
  }

  // ── Persistent IVF index ─────────────────────────────────────────────

  /** IVF on the shared lifecycle ([[graft.sources.BucketedIndex]]). */
  private object IvfStore extends graft.sources.BucketedIndex {
    val prefix = "graft_ivfidx"
    val tables = Seq(graft.sources.BucketedTables.Part("lists", "cluster"))
    val carried = Seq("centroids")
  }

  /** (cid, cluster, cvec): each batch vector assigned to its nearest
    * STORED centroid at `root` — the append face of [[ivfIndex]]'s
    * final assignment, for IVF and IVF+PQ: the same ivf_assign kernel
    * over the same centroids (parquet round-trips doubles exactly)
    * puts it in exactly the list a rebuild would. EMPTY vectors are
    * excluded, as in the build and query surfaces: a missing embedding
    * is routine dirty data and must not kill the ingest (non-empty dim
    * mismatches still throw). */
  private[similarity] def assignToStored(batch: DataFrame, root: String)
      : DataFrame = {
    val cents = batch.sparkSession.read.parquet(s"$root/centroids")
      .orderBy(col("cluster")).collect()
    batch.where(size(col("cvec")) > 0).select(col("cid"),
      graft.ops.TextExprs.ivfAssign(normalize(asDouble(col("cvec"))),
        cents.map(_.getInt(0)).toSeq, cents.map(_.getSeq[Double](1)).toSeq)
        .as("cluster"), col("cvec"))
  }

  /** Materialize an IVF index for a standing corpus under `path`:
    * `lists` — the inverted lists (cid, cluster, cvec) BUCKETED by
    * cluster, so the probe join reads the corpus-sized side
    * pre-partitioned with no shuffle — `centroids` (small parquet,
    * broadcast at query time), and `params` (buckets) so a NEW
    * application can re-register the bucketed table from the stored
    * files ([[graft.sources.BucketedTables.table]]). The k-means
    * training runs ONCE per corpus version; [[queryIvfIndex]] pays only
    * the probe ranking and two slim joins. `buckets` scales with the
    * corpus, and at very large scale the stored `cvec` would be the
    * [[Quantize]]/[[Pq]] compressed form with a float re-rank — here it
    * keeps floats for exactness within probed lists. Lifecycle and
    * VERSIONING: [[graft.sources.BucketedIndex]]. */
  def writeIvfIndex(corpus: DataFrame, path: String, nClusters: Int = 16,
                    iters: Int = 2, buckets: Int = 16,
                    maxTrainRows: Int = 0): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (assign, centroids) = ivfIndex(corpus, nClusters, iters, maxTrainRows)
    IvfStore.build(spark, path, buckets,
        Seq(Tuple1(buckets)).toDF("buckets")) { w =>
      w("lists", corpus.join(assign, Seq("cid"))
        .select(col("cid"), col("cluster"), col("cvec")))
      w.plain("centroids", centroids)
    }
  }

  /** Append a vector batch into a standing [[writeIvfIndex]] index
    * WITHOUT retraining (standard IVF rolling ingestion: the coarse
    * clustering is frozen at build time, [[assignToStored]]). Query
    * exactness over the grown corpus is unchanged — probes rank
    * against the same centroids and the per-list scan is exact cosine
    * — only recall-vs-nprobe drifts as the data moves away from the
    * training snapshot; re-train to a fresh path when it does.
    *
    * Returns (and logs) the post-append
    * [[graft.meta.PipelineMetrics.IndexHealth]]: rising list skew IS
    * the "distribution drifted, re-train" signal quantified, and the
    * file count paces compaction. */
  def appendToIvfIndex(batch: DataFrame, path: String,
                       probeHealth: Boolean = true)
      : Option[graft.meta.PipelineMetrics.IndexHealth] =
    IvfStore.append(batch.sparkSession, path, probeHealth) { (w, _) =>
      w("lists", assignToStored(batch, w.root))
    }

  /** Compact an appended [[writeIvfIndex]] index into a FRESH path
    * without the corpus OR retraining — the response to a rising
    * `files` count; the `skew` signal still requires a re-train. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      dest: String): Unit =
    IvfStore.compact(spark, path, dest)

  /** Approximate top-k against a stored [[writeIvfIndex]] index —
    * identical ranking semantics to [[ivfTopK]] over the same trained
    * clustering (shared [[probeClusters]]/[[rankTopK]] stages), without
    * re-training per query batch. The lists table is bucketed by cluster
    * with vectors in place, so the probe join is ONE shuffle-free
    * bucketed read — probed clusters' vectors arrive in the same pass.
    * A replayed append's duplicate list rows collapse before the top-k
    * cut. Works from any application (catalog re-registration from the
    * stored files and params). */
  def queryIvfIndex(queries: DataFrame, path: String, k: Int,
                    nprobe: Int = 4, roundTo: Int = 4): DataFrame = {
    val (root, _, t) = IvfStore.open(queries.sparkSession, path)
    val centroids = queries.sparkSession.read.parquet(s"$root/centroids")
    rankTopK(
      probeClusters(queries, centroids, nprobe)
        .join(t("lists"), Seq("cluster"))
        .where(col("qid") =!= col("cid"))
        .join(broadcast(queries), Seq("qid")),
      k, roundTo)
  }

  /** Hamming bound implied by a cosine threshold over `planes` sign
    * bits: expected disagreement fraction is acos(t)/π; allow +2.5σ of
    * the binomial so near-threshold pairs still pass the prefilter. */
  def hammingBound(threshold: Double, planes: Int): Int = {
    val f = math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    math.min(planes,
      math.ceil(planes * f + 2.5 * math.sqrt(planes * f * (1 - f))).toInt)
  }

  /** Content-class key for the embedding-front exact-duplicate
    * collapse: md5 of the vector's raw element bits
    * ([[graft.ops.TextKernels.vecClassBits]] — big-endian
    * `doubleToLongBits`, one codegen kernel call). Injective at the
    * byte level (fixed 8-byte chunks, NaN canonicalized, -0.0 ≠ 0.0),
    * so two vectors share a class iff their double-cast arrays are
    * identical — exactly the population whose signatures, band keys
    * and pairwise cosine are indistinguishable. Same equivalence
    * classes as the previous key (md5 of the canonical decimal
    * rendering), without the per-element shortest-round-trip string
    * formatting that dominated the collapse's constant factor. */
  private[graft] def vecClassKey(v: Column): Column =
    md5(graft.ops.TextExprs.vecClassBits(v))

  /** The banded frame [[cosineNearDupPairs]] self-joins — one row per
    * (vector content class, band), NEVER per row. Exposed as the seam
    * for the duplicate-flood proportionality spec (the
    * [[graft.dedup.Dedup.bandedClasses]] discipline): the band join's
    * input row count must stay O(distinct vectors), whatever the
    * duplicate multiplicity. `classes` is (cls, v0: array<double>);
    * returns (cls, sig, band, bkey). */
  private[graft] def bandedVectorClasses(classes: DataFrame,
                                              bands: Int, bandBits: Int,
                                              centered: Boolean,
                                              center: Array[Double])
      : DataFrame = {
    val planes = bands * bandBits
    val mask = (1L << bandBits) - 1
    val sigCol =
      if (centered)
        graft.ops.TextExprs.lshBitsPackedCentered(col("v0"), planes, center)
      else graft.ops.TextExprs.lshBitsPacked(col("v0"), planes)
    classes.select(col("cls"), sigCol.as("sig"))
      .select(col("cls"), col("sig"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)), bnd =>
          call_function("shiftrightunsigned", col("sig"), bnd * bandBits)
            .bitwiseAND(mask))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
  }

  /** Embedding near-duplicate pairs: LSH buckets (all bands) → packed-
    * signature Hamming prefilter → exact cosine ≥ threshold. The O(n²)
    * pair space is never materialized, and when the corpus is internally
    * correlated (hot buckets) the 8-byte-signature bit_count filter
    * kills the flood before the pair-dedup shuffle and the vector math.
    *
    * EXACT-DUPLICATE COLLAPSE (the [[graft.dedup.Dedup.minhashPairs]]
    * discipline, closing the last raw-banding front): m byte-identical
    * vectors share every band key AND every Hamming-prefilter bit, so
    * banding raw rows would emit the m²/2 candidate cross-product from
    * one bucket before any verify could intervene — quadratic in
    * duplicate multiplicity, the classic LSH job-killer on a
    * duplicate-heavy corpus. Instead rows first collapse to one
    * representative per identical double-cast vector
    * ([[vecClassKey]]); only class representatives band, prefilter and
    * verify — candidate volume is quadratic in *distinct* vectors'
    * collisions only — and membership re-expands afterwards through
    * the slim (id, cls) mapping: cross-class matches fan out |A|·|B|
    * (the true output volume, reached through plain co-partitioned
    * joins, not the band buckets), and within-class pairs emit
    * directly at the class's own verified self-cosine. Output is
    * identical to banding raw rows: class members are interchangeable
    * under signature, prefilter and cosine alike.
    *
    * Plan shape: ONE digest exchange + window computes (id, v0, cls),
    * lazily checkpointed for every consumer — the centering mean, the
    * class frame (the id == cls representatives: banding + the
    * normalized verify payload) and the membership mapping; the band
    * join ships slim class keys only and is merge-pinned (the exploded
    * band frame must never broadcast), and the expansion joins are
    * merge-pinned too — the membership frame is one row per input row,
    * corpus-scale, and the static post-checkpoint estimate would
    * happily broadcast it at small SF, a plan that cannot survive
    * production scale. */
  def cosineNearDupPairs(corpus: DataFrame, id: Column, vec: Column,
                         threshold: Double = 0.95,
                         bands: Int = 8, bandBits: Int = 4,
                         centered: Boolean = true,
                         meanSampleMod: Int = 1): DataFrame = {
    val planes = bands * bandBits
    require(planes <= 64, "packed signature holds at most 64 planes")
    require(meanSampleMod >= 1, "meanSampleMod >= 1 (1 = exact mean)")
    // EMPTY vectors are excluded up front: they have no cosine, and
    // their all-zero projections would share a signature with any
    // all-negative-projection real vector — a candidate pair whose
    // verify dot would then throw on the 0-vs-dim mismatch
    val live = corpus.where(size(vec) > 0)
    // collapse FIRST: (id, v0, cls) through ONE digest exchange — the
    // min-member id over the digest window IS the class label, the
    // representative row (id == cls) carries v0 for the class frame,
    // and every other row is pure membership. One window pass replaces
    // the previous class aggregate + membership window (two separate
    // full-frame exchanges over the same digest key) and the single
    // lazy checkpoint serves all three consumers (the centering mean,
    // the class frame, the membership mapping).
    // `cls` — the key every downstream join rides — is the min-member
    // id, not the md5 digest: the band self-join's candidate stream is
    // the hottest frame here (10 bands × 6-bit keys is n²/64-per-band
    // at default parameters) and 32-char digest pairs measured ~2.3×
    // slower through it than 8-byte longs (sort, compare and shuffle
    // bytes alike). The digest never leaves this window.
    val annotated = live.select(id.as("id"), asDouble(vec).as("v0"))
      .withColumn("__ck", vecClassKey(col("v0")))
      .withColumn("cls", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__ck"))))
      .select(col("id"), col("v0"), col("cls"))
      .transform(graft.core.PlanTrace.checkpoint(_, eager = false,
        "embedding class collapse (id, v0, cls)"))
    // the (id == cls) representative's v0 is the value the previous
    // first(v0) aggregate kept: every member of a class carries the
    // identical double-cast array, so signature, bands and verify read
    // the same whichever member's array is used. (An all-null-id class
    // has no representative row; its pairs were unreachable anyway —
    // every downstream equi-join drops null cls keys.)
    val classes = annotated.where(col("id") === col("cls"))
      .select(col("cls"), col("v0"))
    val members = annotated.select(col("id"), col("cls"))
    // Center the hyperplanes at the corpus mean: on an internally-
    // correlated corpus the raw sign bits all skew the same way (hot
    // buckets → quadratic join blowup). The mean is dim doubles — a
    // deliberate tiny driver materialization, same class as a broadcast.
    // It is the CORPUS mean (multiplicity preserved — computed from
    // `annotated`, never from the collapsed class frame), so the collapse
    // cannot move the signatures of an existing corpus by one bit.
    // TRADEOFF: pairs sitting AT the mean have tiny centered vectors
    // whose sign bits decorrelate — near-dups in the densest part of
    // the corpus can be missed. Use centered=false when the corpus is
    // already balanced (e.g. random/normalized model embeddings) or
    // when recall at the cluster core matters more than join cost.
    val center: Array[Double] = if (!centered) Array.empty else {
      // one-pass native vector-sum aggregate: the corpus reduces to dim
      // doubles via map-side combine — nothing but k×dim-double partial
      // buffers ever move (the posexplode form shuffled n×dim rows).
      // The mean only has to BALANCE the buckets, not be exact, so it is
      // estimated from a deterministic 1/meanSampleMod sample keyed on
      // the VECTOR CONTENT (xxhash64 of the double-cast array), not the
      // row id: a content key makes the estimate invariant under corpus
      // replication — duplicated vectors select together and scale the
      // sum and count by the same factor — where an id-keyed sample
      // re-draws on every ingest and the recall set of borderline pairs
      // drifts as the corpus grows (measured: ~15% of near-dup pairs
      // flipped between a corpus and its 10× replication). For stored
      // embeddings (the at-scale shape) the skipped rows cost only the
      // scan; a COMPUTED vector column does evaluate per row to be
      // hashed, so materialize it first (as every gate here does) when
      // the projection is expensive. meanSampleMod = 1 recovers the
      // exact full-corpus mean.
      def meanOf(frame: DataFrame): Option[Array[Double]] = {
        val row = frame
          .agg(graft.ops.VecSumAggregate.vecSum(col("v0")).as("s"),
            // count only vectors that contribute to the sum — empty
            // arrays are skipped by vec_sum (posexplode parity), so
            // counting them would deflate the mean (keyed rows are all
            // non-empty here; the guard keeps the parity explicit)
            count(when(size(col("v0")) > 0, 1)).as("n"))
          .head()
        if (row.isNullAt(0) || row.getLong(1) == 0L) None
        else {
          val n = row.getLong(1).toDouble
          Some(row.getSeq[Double](0).map(_ / n).toArray)
        }
      }
      val sampled =
        if (meanSampleMod == 1) annotated
        else annotated.where(
          pmod(xxhash64(col("v0")), lit(meanSampleMod)) === 0)
      // a tiny corpus can miss the sample entirely — fall back to exact
      meanOf(sampled).orElse(meanOf(annotated)).getOrElse(Array.empty)
    }
    // the band exchange is pinned at an explicit partition count
    // (which AQE will not coalesce): the exchange's INPUT is slim
    // (8-byte keys per class per band), but the self-join's OUTPUT is
    // quadratic in bucket occupancy, so AQE's byte-based partition
    // coalescing serializes the hottest operator here — measured at
    // sf0.1: the whole candidate generation ran as ONE task (1.8 s,
    // ~30 M pair emissions on one core) because 530 KB of band keys
    // coalesced to a single partition. The count is
    // Dedup.pinJoinParallelism's size-clamped width — the session's
    // shuffle parallelism at scale, a bytes-floored fraction of it on
    // toy inputs. Skew handling is unaffected in the case that
    // matters: a hot bucket is one KEY, which AQE's skew split could
    // never divide anyway.
    val banded = graft.dedup.Dedup.pinJoinParallelism(
      bandedVectorClasses(classes, bands, bandBits, centered, center),
      col("band"), col("bkey"))
    // Hamming prefilter only applies to UNcentered signatures (centered
    // bit-agreement no longer tracks the raw cosine); with centering the
    // balanced buckets already bound the candidate volume.
    // merge-pinned self-joins: both sides reuse ONE banded-class
    // exchange (the LSH kernel runs once per DISTINCT vector), and the
    // exploded band frame is never broadcast — the static estimate
    // would at small SF, a plan that cannot survive corpus scale
    val prefiltered =
      if (centered)
        // no Hamming prefilter on centered sigs (bit agreement no longer
        // tracks raw cosine) — so don't ship the dead sig columns either
        banded.select(col("band"), col("bkey"), col("cls").as("cls_a"))
          .hint("merge")
          .join(banded.select(col("band"), col("bkey"), col("cls").as("cls_b")),
            Seq("band", "bkey"))
          .where(col("cls_a") < col("cls_b"))
      else {
        val bound = hammingBound(threshold, planes)
        banded.select(col("band"), col("bkey"),
            col("cls").as("cls_a"), col("sig").as("sig_a"))
          .hint("merge")
          .join(banded.select(col("band"), col("bkey"),
            col("cls").as("cls_b"), col("sig").as("sig_b")), Seq("band", "bkey"))
          .where(col("cls_a") < col("cls_b"))
          .where(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= bound)
      }
    val cands = prefiltered
      .select(col("cls_a"), col("cls_b"))
      .dropDuplicates("cls_a", "cls_b")
    // normalize ONCE PER DISTINCT VECTOR; the exact-cosine verify runs
    // once per class pair — m·n duplicate copies of a near-dup pair
    // cost one dot product, not m·n. SHUFFLE-HASH-pinned with the class
    // frame as build side (the dedup_simhash key-attach discipline):
    // the candidate stream is the hottest frame here — wide-recall
    // band geometry makes it far larger than the corpus — and a merge
    // pin would SORT it twice, while a broadcast of the corpus-scale
    // class frame cannot survive production scale. Hash-building the
    // slim per-class payload streams the candidates unsorted.
    val norm = classes.select(col("cls"), normalize(col("v0")).as("v"))
    val classPairs = cands
      .join(norm.select(col("cls").as("cls_a"), col("v").as("v_a"))
        .hint("shuffle_hash"), Seq("cls_a"))
      .join(norm.select(col("cls").as("cls_b"), col("v").as("v_b"))
        .hint("shuffle_hash"), Seq("cls_b"))
      .withColumn("sim", round(dot(col("v_a"), col("v_b")), 6))
      .where(col("sim") >= threshold)
      .select(col("cls_a"), col("cls_b"), col("sim"))
    // within-class pairs: identical vectors, scored through the SAME
    // verify arithmetic — round(dot(v, v), 6) of the normalized
    // representative is bit-for-bit what the raw-banding path computed
    // for each member pair — and subject to the same threshold (NaN
    // components, or a pathological threshold > the self-cosine, drop
    // the class here exactly as the verify filter dropped its pairs)
    val within = norm
      .select(col("cls"), round(dot(col("v"), col("v")), 6).as("sim"))
      .where(col("sim") >= threshold)
    // membership re-expansion (the Dedup.expandClassPairs shape):
    // merge-pinned — the membership frame is one row per input row,
    // corpus-scale, never broadcast; a viral class skews the expansion
    // join, which is AQE-skew-split eligible, and its output is the
    // true pair volume, not an artifact
    val cross = classPairs
      .join(members.select(col("cls").as("cls_a"), col("id").as("__ma"))
        .hint("merge"), Seq("cls_a"))
      .join(members.select(col("cls").as("cls_b"), col("id").as("__mb"))
        .hint("merge"), Seq("cls_b"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("sim"))
    cross.unionByName(
      members.select(col("cls"), col("id").as("id_a"))
        .hint("merge")
        .join(members.select(col("cls"), col("id").as("id_b")), Seq("cls"))
        .where(col("id_a") < col("id_b"))
        .join(within.hint("merge"), Seq("cls"))
        .select(col("id_a"), col("id_b"), col("sim")))
  }

  /** The exact-cosine verify tail shared by every near-dup front
    * ([[cosineNearDupPairs]], [[SemDedup.semanticNearDupPairs]]):
    * attach the normalize-ONCE payload to (id_a, id_b) candidates, bare
    * dot product per pair, round to 6, threshold filter. ONE
    * implementation on purpose — the fronts are interchangeable
    * upstream of a threshold only while their rounding and comparison
    * are bit-identical, and a shared tail makes that a structural
    * property instead of a copy-paste discipline.
    * @param payload (id, v) with `v` ALREADY normalized */
  private[similarity] def verifyCosinePairs(cands: DataFrame,
                                            payload: DataFrame,
                                            threshold: Double): DataFrame =
    cands
      .join(payload.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(payload.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("sim", round(dot(col("v_a"), col("v_b")), 6))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
}
