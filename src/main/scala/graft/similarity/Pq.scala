package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextExprs

/** Product quantization (PQ) for embedding columns — the memory-side
  * counterpart of [[Quantize]]: where int8 quantization cuts storage 4×,
  * PQ cuts the SCAN to `m` one-byte codes per vector (64× at dim 64,
  * m=8) by snapping each of `m` subvectors to its nearest trained
  * centroid, and scores queries against codes without ever touching the
  * float vectors (ADC — asymmetric distance computation).
  *
  * Spark-first decomposition:
  *  - **train**: one k-means-lite over the exploded (sub, subvector)
  *    frame — all `m` subspaces train in the SAME distributed Lloyd
  *    rounds (assignment = broadcast-centroid join keyed by sub, update
  *    = per-(sub, cluster, pos) average), not an m-way driver loop.
  *  - **encode / score**: the trained codebook is m×k×(dim/m) doubles —
  *    a few KB — so it travels as a nested array LITERAL inside the
  *    expression tree. Encoding and ADC scoring are pure column
  *    expressions (nested transform/aggregate lambdas): zero shuffle,
  *    zero extra scan, whole-stage codegen over the 100 TB corpus.
  *
  * Dot products decompose exactly over subspaces (q·c = Σ q_sub·c_sub),
  * so with L2-normalized inputs the ADC score `Σ qtab[sub][code]`
  * approximates cosine with per-subspace quantization error; `overscan`
  * buys back recall before the exact re-rank.
  */
object Pq {

  /** Trained codebook: `centroids(sub)(cluster)` is a subdim-length
    * centroid; clusters are dense-renumbered per sub (Lloyd can empty a
    * cluster, so k' ≤ k may differ across subs). */
  case class Model(m: Int, subdim: Int, centroids: Seq[Seq[Seq[Double]]])

  private def sq(c: Column): Column = c * c

  /** Squared L2 distance of two equal-length double arrays. */
  private def l2dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => sq(x - y)), lit(0.0), _ + _)

  /** Fail LOUDLY on a vector whose length isn't the trained dim.
    * Without this, a dimension-drifted vector (mixed embedding versions
    * in an append batch) slices to SHORT subvectors, [[l2dist2]]'s
    * zip_with null-pads them, every cluster distance goes null, and
    * array_min's nulls-first struct ordering silently emits code 0 —
    * the row joins cluster 0's list forever with no error anywhere.
    * The dot-product query path already throws (TextExprs.vecDot);
    * encode and train must be just as strict. A NULL vector passes
    * through (null codes), matching the rest of the library's
    * null-propagation. */
  private def checkedDim(v: Column, dim: Int, who: String): Column =
    when(v.isNull || size(v) === dim, v)
      .otherwise(raise_error(concat(
        lit(s"$who: vector of dim "), size(v).cast("string"),
        lit(s" does not match the trained dim $dim"))))

  /** The (id, sub, subvector) exploded frame over NORMALIZED vectors. */
  private def subVectors(df: DataFrame, id: Column, vec: Column,
                         m: Int, subdim: Int): DataFrame = {
    val v = checkedDim(Ann.normalize(Ann.asDouble(vec)), m * subdim,
      "Pq subvectors")
    // the null gate matters: transform() runs over the SEQUENCE, not the
    // vector, so a null vector would otherwise explode to m null
    // subvectors that train/assign silently into cluster 0 (same
    // nulls-first array_min failure checkedDim guards against) — a null
    // here must contribute NOTHING (posexplode of null emits no rows)
    df.select(id.as("__id"),
        posexplode(when(v.isNotNull,
          transform(sequence(lit(0), lit(m - 1)),
            i => slice(v, i * subdim + 1, lit(subdim))))))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "sv")
  }

  /** Train the codebook: `iters` distributed Lloyd rounds over all
    * subspaces at once, seeded deterministically from the first `k` rows
    * by id. The returned model is m·k·subdim doubles — broadcast-class,
    * collected once. */
  def train(rawCorpus: DataFrame, id: Column, vec: Column, dim: Int,
            m: Int = 8, k: Int = 16, iters: Int = 2,
            maxTrainRows: Int = 0): Model = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(k > 1, "k > 1 centroids per subspace")
    val subdim = dim / m
    // EMPTY vectors are excluded from training and seeding (a missing
    // embedding carries no geometry and would trip checkedDim's 0-vs-dim
    // throw); non-empty mismatched dims still throw — the same exclusion
    // contract as every query/build surface (Ann.rankTopK note)
    val filtered = rawCorpus.where(size(vec) > 0)
    // the sample-at-scale contract, ENFORCED (same shape as
    // Ann.ivfIndex): Lloyd trains on a deterministic hash-ordered sample
    // capped at max(256·k, 4096) rows — points-per-centroid guidance —
    // so training cost is fixed by the cap at any corpus size. The
    // codebook is m·k·subdim doubles regardless; encode/ADC over the
    // full corpus are unaffected pure columns. Pass Int.MaxValue to
    // train on everything.
    val cap = if (maxTrainRows > 0) maxTrainRows else math.max(256 * k, 4096)
    // a cap below k starves the seed scan (fewer than k seeds per
    // subspace → silently fewer centroids than requested) — fail loudly
    require(cap >= k,
      s"maxTrainRows=$cap must be >= k=$k: the training sample seeds " +
        "one centroid per subspace cluster")
    val corpus = if (cap == Int.MaxValue) filtered
      else filtered.orderBy(xxhash64(id), id).limit(cap)
    // materialize the normalized subvector frame ONCE: every Lloyd round
    // (and the seed scan) would otherwise replay the parquet scan, the
    // normalize, and the dim-guard kernel per round — and each round's
    // plan would carry the whole kernel through codegen again. The
    // sample cap bounds it, so the checkpoint is a bounded
    // materialization, not a corpus copy.
    val subv = subVectors(corpus, id, vec, m, subdim).localCheckpoint(true)
    // seeds: subvectors of the first k rows by id — k·m rows total, the
    // per-sub rank window runs over that bounded frame, never the corpus
    val seedRows = subVectors(
      corpus.orderBy(id).limit(k), id, vec, m, subdim)
    val seedW = Window.partitionBy(col("sub")).orderBy(col("__id"))
    var centroids = seedRows
      .withColumn("cluster", row_number().over(seedW) - 1)
      .select(col("sub"), col("cluster"), col("sv").as("centroid"))
      .localCheckpoint(true)
    def assign(cents: DataFrame): DataFrame =
      subv.join(broadcast(cents), Seq("sub"))
        .select(col("__id"), col("sub"), col("sv"),
          struct(l2dist2(col("sv"), col("centroid")).as("d"),
            col("cluster")).as("dc"))
        .groupBy(col("__id"), col("sub"))
        .agg(min(col("dc")).getField("cluster").as("cluster"),
          first(col("sv")).as("sv"))
    for (_ <- 0 until iters) {
      centroids = assign(centroids)
        .select(col("sub"), col("cluster"), posexplode(col("sv")))
        .groupBy(col("sub"), col("cluster"), col("pos"))
        // decimal-exact mean, not avg(double): double partial sums merge
        // in shuffle-fetch order and non-associative fp addition would
        // make the codebook bit-unstable run-to-run; decimal addition is
        // exact, so the mean is order-independent (components are
        // normalized, |x| <= 1 — decimal(38,18) has 20 integer digits of
        // headroom)
        .agg((sum(col("col").cast("decimal(38,18)")) / count(lit(1)))
          .cast("double").as("mean"))
        .groupBy(col("sub"), col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
          s => s.getField("mean")).as("centroid"))
        // m·k·subdim doubles — materialize so each Lloyd round starts
        // from a frame instead of replaying every prior round
        .localCheckpoint(true)
    }
    val collected = codebook(centroids)
    require(collected.nonEmpty,
      "PQ training needs a non-empty corpus (no subvectors survived — " +
        "empty input or all-null/empty vectors)")
    Model(m, subdim, collected)
  }

  /** The `centroids(sub)(cluster)` nesting of (sub, cluster, centroid)
    * rows. */
  private def codebook(rows: DataFrame): Seq[Seq[Seq[Double]]] =
    rows.orderBy(col("sub"), col("cluster")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.toSeq.map(_.getSeq[Double](2)) }

  private def centroidsLit(model: Model): Column = typedlit(model.centroids)

  /** PQ codes (array<int>, length m) for a vector — a pure column
    * expression over the literal codebook; no shuffle, no join. Raises
    * on a dimension-mismatched vector (see [[checkedDim]]). */
  def encode(vec: Column, model: Model): Column = {
    val v = checkedDim(Ann.normalize(Ann.asDouble(vec)),
      model.m * model.subdim, "Pq.encode")
    // ONE codegen kernel call per row (null in → null codes via the
    // expression's null gate). The previous higher-order-function form
    // interpreted m·k nested lambdas with a struct allocation per
    // (subspace, centroid) per row — measured as a 2.2 s single-task
    // stage on the PQ gates at sf0.1; the kernel reproduces its
    // argmin/tie/NaN semantics exactly (TextKernels.pqEncode scaladoc,
    // PqSpec "kernel encode matches the expression form").
    graft.ops.TextExprs.pqEncode(v, model.centroids, model.subdim)
  }

  /** Per-query ADC table: `qtab(sub)(cluster) = q_sub · centroid` —
    * computed as a column on the (tiny) query side. */
  private[graft] def queryTableForTest(qvec: Column, model: Model): Column =
    queryTable(qvec, model)

  private def queryTable(qvec: Column, model: Model): Column = {
    val cents = centroidsLit(model)
    val qv = Ann.normalize(Ann.asDouble(qvec))
    transform(sequence(lit(0), lit(model.m - 1)), i => {
      val sv = slice(qv, i * model.subdim + 1, lit(model.subdim))
      transform(element_at(cents, i + 1), c => TextExprs.vecDot(sv, c))
    })
  }

  /** ADC score of a codes array against a query table: one table lookup
    * per subspace, summed — m array accesses per corpus row, as one
    * codegen kernel call (the zip_with/aggregate form interpreted its
    * lambdas per candidate row; null-poisoning semantics preserved —
    * TextKernels.pqAdcScore scaladoc). */
  private def adcScore(codes: Column, qtab: Column): Column =
    graft.ops.TextExprs.pqAdcScore(codes, qtab)

  /** Persist a codebook as parquet (sub, cluster, centroid) rows. */
  def writeModel(spark: org.apache.spark.sql.SparkSession, model: Model,
                 path: String): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex.flatMap { case (subCents, sub) =>
      subCents.zipWithIndex.map { case (c, cluster) => (sub, cluster, c) }
    }.toDF("sub", "cluster", "centroid")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** Load a [[writeModel]] codebook. */
  def readModel(spark: org.apache.spark.sql.SparkSession,
                path: String): Model = {
    val cents = codebook(spark.read.parquet(path))
    Model(cents.size, cents.head.head.size, cents)
  }

  // ── Persistent IVF+PQ index ──────────────────────────────────────────

  /** IVF+PQ on the shared lifecycle ([[graft.sources.BucketedIndex]]). */
  private object IvfPqStore extends graft.sources.BucketedIndex {
    import graft.sources.BucketedTables.Part
    val prefix = "graft_ivfpq"
    val tables = Seq(Part("lists", "cluster"), Part("vecs", "cid"))
    val carried = Seq("centroids", "pq_model")
  }

  /** The composed big-corpus ANN index — IVF coarse partitioning with
    * PQ-compressed codes INSIDE the inverted lists:
    *
    *  - `lists`: (cid, cluster, codes) bucketed by cluster — m small
    *    ints per vector instead of the floats (64× smaller at dim 64 /
    *    m=8), so a probe reads a fraction of a fraction of the corpus
    *    bytes;
    *  - `vecs`: (cid, cvec) bucketed by cid — floats touched ONLY by
    *    the final k·overscan re-rank point join;
    *  - `centroids`: IVF coarse centroids (small parquet, broadcast);
    *  - `pq_model`:  the PQ codebook ([[writeModel]]);
    *  - `params`:    (buckets) for catalog re-registration.
    *
    * Query cost at 100 TB: probe ranking over k coarse centroids,
    * an ADC scan of nprobe/nClusters of the CODES bytes, and a float
    * point-join for k·overscan rows per query. Lifecycle and
    * VERSIONING: [[graft.sources.BucketedIndex]].
    *
    * `maxTrainRows` is SHARED by both training stages — the IVF coarse
    * k-means (k = nClusters) and the PQ codebook (k = nCentroids): an
    * explicit cap tuned as points-per-centroid for one stage also
    * applies to the other. The default (0) resolves per-stage to
    * max(256·k, 4096), which keeps the points-per-centroid budget right
    * for each; prefer the default unless you need a hard ceiling. */
  def writeIvfPqIndex(corpus: DataFrame, path: String, dim: Int,
                      m: Int = 8, nCentroids: Int = 16,
                      nClusters: Int = 16, iters: Int = 2,
                      buckets: Int = 16, maxTrainRows: Int = 0): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (assign, centroids) = Ann.ivfIndex(corpus, nClusters, iters, maxTrainRows)
    val mdl = train(corpus, col("cid"), col("cvec"), dim, m, nCentroids, iters,
      maxTrainRows)
    IvfPqStore.build(spark, path, buckets,
        Seq(Tuple1(buckets)).toDF("buckets")) { w =>
      w("lists", corpus.join(assign, Seq("cid")).select(col("cid"),
        col("cluster"), encode(col("cvec"), mdl).as("codes")))
      // empty vectors never enter the index (the assign join above
      // already excludes them from the lists); keep the float store
      // consistent so a compaction or rebuild from vecs sees the same
      // corpus
      w("vecs", corpus.where(size(col("cvec")) > 0)
        .select(col("cid"), col("cvec")))
      w.plain("centroids", centroids)
      writeModel(spark, mdl, s"${w.root}/pq_model")
    }
  }

  /** Append a vector batch into a standing [[writeIvfPqIndex]] index
    * WITHOUT retraining: assign to the STORED coarse centroids
    * ([[Ann.assignToStored]]), encode with the STORED codebook, append
    * to the lists and float store — the IVF+PQ face of
    * [[Ann.appendToIvfIndex]]. Quantization error for appended vectors
    * reflects the training snapshot; re-train to a fresh path when the
    * distribution drifts. The returned health is of the CODES lists:
    * `vecs` fragments at the same rate (one write to each per append),
    * so one probe serves both. */
  def appendToIvfPqIndex(batch: DataFrame, path: String,
                         probeHealth: Boolean = true)
      : Option[graft.meta.PipelineMetrics.IndexHealth] =
    IvfPqStore.append(batch.sparkSession, path, probeHealth) { (w, _) =>
      val mdl = readModel(batch.sparkSession, s"${w.root}/pq_model")
      // assignToStored excludes EMPTY vectors, matching the build and
      // query surfaces; encode's checkedDim would otherwise throw on
      // the 0-vs-dim mismatch
      val assigned = Ann.assignToStored(batch, w.root)
      w("lists", assigned.select(col("cid"), col("cluster"),
        encode(col("cvec"), mdl).as("codes")))
      w("vecs", assigned.select(col("cid"), col("cvec")))
    }

  /** Compact an appended [[writeIvfPqIndex]] index into a FRESH path
    * without the corpus OR retraining — the IVF+PQ face of
    * [[Ann.compactIvfIndex]]. */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        dest: String): Unit =
    IvfPqStore.compact(spark, path, dest)

  /** Approximate top-k against a stored [[writeIvfPqIndex]] index:
    * probe the `nprobe` best coarse clusters, ADC-score their CODES,
    * keep k·overscan survivors, exact-cosine re-rank from the float
    * store. Duplicate rows of a replayed append collapse at both cuts.
    * Works from any application (catalog re-registration from the
    * stored files). */
  def queryIvfPqIndex(queries: DataFrame, path: String, k: Int,
                      nprobe: Int = 4, overscan: Int = 4,
                      roundTo: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val (root, _, t) = IvfPqStore.open(spark, path)
    val centroids = spark.read.parquet(s"$root/centroids")
    val mdl = readModel(spark, s"$root/pq_model")
    // probe stage shared with the IVF twins (Ann.probeClusters) — tie
    // breaks and normalization cannot drift between variants
    val probes = Ann.probeClusters(queries, centroids, nprobe)
    // empty qvecs are already probe-excluded (probeClusters); the ADC
    // table must skip them too or queryTable's checkedDim throws while
    // BUILDING the broadcast, killing the query job
    val qt = queries.where(size(col("qvec")) > 0)
      .select(col("qid"), queryTable(col("qvec"), mdl).as("qtab"))
    // exact re-rank tail shared with every ANN variant (Ann.reRank)
    Ann.reRank(
      probes
        .join(t("lists"), Seq("cluster"))
        .where(col("qid") =!= col("cid"))
        .join(broadcast(qt), Seq("qid"))
        .select(col("qid"), col("cid"),
          adcScore(col("codes"), col("qtab")).as("iscore")),
      k * overscan, t("vecs"), queries, k, roundTo)
  }

  /** Approximate top-k via PQ: train (or reuse) a codebook, encode the
    * corpus in-line, rank by ADC score, keep k·overscan survivors, exact
    * cosine re-rank — same ids-only survivor join as the int8 path.
    * @param queries (qid, qvec) small + broadcast; corpus (cid, cvec) */
  def adcTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              m: Int = 8, nCentroids: Int = 16, iters: Int = 2,
              overscan: Int = 4, roundTo: Int = 4,
              model: Option[Model] = None,
              maxTrainRows: Int = 0): DataFrame = {
    val mdl = model.getOrElse(
      train(corpus, col("cid"), col("cvec"), dim, m, nCentroids, iters,
        maxTrainRows))
    // EMPTY vectors excluded on both sides before the codec kernels
    // (encode/queryTable checkedDim would throw on 0-vs-dim) — same
    // exclusion contract as Ann.rankTopK
    val coded = corpus.where(size(col("cvec")) > 0)
      .select(col("cid"), encode(col("cvec"), mdl).as("codes"))
    val qt = queries.where(size(col("qvec")) > 0)
      .select(col("qid"), queryTable(col("qvec"), mdl).as("qtab"))
    // floats re-attach for the survivors only (Ann.reRank)
    Ann.reRank(
      coded.crossJoin(broadcast(qt))
        .where(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          adcScore(col("codes"), col("qtab")).as("iscore")),
      k * overscan, corpus, queries, k, roundTo)
  }
}
