package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.Sampling

/** Sampling-module edge contracts: the uniform null-key policy (one
  * deterministic bucket, never three different silent behaviors) and the
  * 60-bit shard hash (shard counts beyond 2¹⁶ must actually populate).
  * The mainline behavior is pinned by the corpus_sample / corpus_shuffle /
  * corpus_mix / stratified_take oracle gates. */
class SamplingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withNulls = Seq(
    (java.lang.Long.valueOf(1L), "a"),
    (java.lang.Long.valueOf(2L), "b"),
    (null.asInstanceOf[java.lang.Long], "c"),
    (null.asInstanceOf[java.lang.Long], "d"))
    .toDF("doc_id", "payload")

  test("fraction 1 keeps null-key rows too") {
    // md5(null) is null and a bare `null < threshold` predicate would
    // silently drop the rows — the sentinel hash must keep them
    assert(Sampling.hashSample(withNulls, col("doc_id"), 1.0).count() === 4)
    assert(Sampling.hashSample(withNulls, col("doc_id"), 0.0).count() === 0)
  }

  test("null keys land in ONE deterministic split, the same as empty string") {
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val got = withNulls
      .select(col("payload"), Sampling.hashSplit(col("doc_id"), splits).as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // both null-key rows take the same label...
    assert(got("c") === got("d"))
    // ...and it is the label a genuine "" key gets (the documented
    // sentinel), NOT automatically the last split
    val emptyKey = Seq(Tuple1("")).toDF("k")
      .select(Sampling.hashSplit(col("k"), splits)).head().getString(0)
    assert(got("c") === emptyKey)
  }

  test("takePerGroup stays deterministic with null keys present") {
    val df = Seq(
      (java.lang.Long.valueOf(10L), "g"),
      (java.lang.Long.valueOf(11L), "g"),
      (null.asInstanceOf[java.lang.Long], "g"))
      .toDF("doc_id", "source")
    def run() = Sampling.takePerGroup(df, col("source"), col("doc_id"), n = 2)
      .select("doc_id").collect().map(r =>
        if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq
    val first = run()
    assert(first.size === 2)
    assert(run() === first)
  }

  test("shard assignment populates shard ids beyond 65535") {
    // the old 4-hex-char (16-bit) hash could never reach shards >= 2^16,
    // silently capping the corpus-scaled shard counts the scaladoc
    // mandates; 60 bits must spread a few hundred keys well past it
    val docs = (0L until 500L).map(i => (i, s"d$i")).toDF("doc_id", "p")
    val shards = Sampling.shuffleAssignment(docs, col("doc_id"), 1000000)
      .select("shard").as[Long].collect()
    assert(shards.forall(s => s >= 0 && s < 1000000))
    assert(shards.exists(_ > 65535L))
    // positions are dense 1..n within each shard
    val pos = Sampling.shuffleAssignment(docs, col("doc_id"), 4)
      .groupBy("shard").agg(count(lit(1)).as("n"), max("pos").as("mx"))
      .collect()
    assert(pos.forall(r => r.getLong(1) === r.getInt(2).toLong))
  }

  test("leakageSafeSplit keeps every dup cluster wholly in one split — " +
      "doc-keyed splitting demonstrably would not") {
    // 100 two-doc clusters: canonical = the even id of each pair
    val df = spark.range(200).select(
      col("id").as("doc_id"), (col("id") - col("id") % 2).as("canonical_id"))
    val splits = Seq("train" -> 0.9, "eval" -> 0.1)
    val safe = df.withColumn("split",
        Sampling.leakageSafeSplit(col("canonical_id"), splits))
      .groupBy("canonical_id").agg(countDistinct("split").as("k"))
      .collect()
    assert(safe.forall(_.getLong(1) === 1L),
      "a cluster must never straddle train/eval")
    // the SAME data split on the raw doc id puts at least one pair's
    // members in different splits (md5 buckets of 2k and 2k+1 are
    // independent) — the contamination path this operator exists to close
    val unsafe = df.withColumn("split",
        Sampling.hashSplit(concat(col("doc_id"), lit(":split")), splits))
      .groupBy("canonical_id").agg(countDistinct("split").as("k"))
      .collect()
    assert(unsafe.exists(_.getLong(1) > 1L),
      "fixture too small to show the hazard — grow the cluster count")
  }

  test("STREAMED source-count fold feeds the state mixture: rates from " +
      "state equal rates from scratch, including after replay-skip") {
    // the streaming leg is pure composition — profileStateFold with a
    // constant value column IS the source-count fold — so this pins the
    // whole chain: micro-batch fold → sourceSizesFromState →
    // mixByTemperatureFromState ≡ the one-shot mixByTemperature
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingIngest
    val dir = java.nio.file.Files.createTempDirectory("graft_mix_stream")
    val in = dir.resolve("in"); java.nio.file.Files.createDirectory(in)
    val statePath = dir.resolve("state").toString
    val rows = (0 until 300).map(i =>
      (i.toLong, if (i % 5 < 4) "big" else "small"))
    rows.grouped(100).zipWithIndex.foreach { case (chunk, b) =>
      java.nio.file.Files.writeString(in.resolve(s"b$b.json"),
        chunk.map(r => s"""{"doc_id":${r._1},"source":"${r._2}"}""")
          .mkString("", "\n", "\n"))
    }
    val stream = spark.readStream.schema("doc_id LONG, source STRING")
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val q = StreamingIngest.profileStateFold(stream, col("source"),
        lit(0L), statePath)
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val df = rows.toDF("doc_id", "source")
    assert(Sampling.sourceSizesFromState(spark, statePath).toMap ===
      Map("big" -> 240L, "small" -> 60L))
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(
      ids(Sampling.mixByTemperatureFromState(df, col("source"),
        col("doc_id"), 0.5, 150L, statePath)) ===
      ids(Sampling.mixByTemperature(df, col("source"), col("doc_id"),
        0.5, 150L)),
      "state-derived mixture must equal the from-scratch mixture")
    // a manual replay of an already-folded batch must not change rates
    assert(!graft.meta.ProfileState.appendProfileStatePerGroupBatch(
      df.limit(10), col("source"), lit(0L), statePath, batchId = 1L))
    assert(Sampling.sourceSizesFromState(spark, statePath).toMap ===
      Map("big" -> 240L, "small" -> 60L))
  }

  test("temperature thresholds: τ=1 is exactly natural-proportion, τ<1 " +
      "flattens toward the small source, caps clamp to keep-all") {
    import graft.text.Sampling.temperatureThresholds
    val sizes = Seq(("big", 90000L), ("small", 100L))
    // τ = 1: every source keeps the SAME rate T/Σn — w_i = n_i·2²⁰ is
    // exact, so the 2¹⁶-grid thresholds must be identical integers
    val nat = temperatureThresholds(sizes, tau = 1.0, targetRows = 45050L)
    assert(nat("big") === nat("small"))
    // τ = 0.5 moves mass toward the small source and away from the big
    val t05 = temperatureThresholds(sizes, tau = 0.5, targetRows = 45050L)
    assert(t05("small") > nat("small"), "small source must be upweighted")
    assert(t05("big") < nat("big"), "big source must be downweighted")
    // a small-enough source under a big-enough target clamps to keep-all
    val capped = temperatureThresholds(sizes, tau = 0.5,
      targetRows = 90100L)
    assert(capped("small") === "g")
    // empty corpus / zero-size source keeps nothing and never divides by 0
    assert(temperatureThresholds(Seq(("z", 0L)), 0.5, 10L)("z") === "0000")
  }

  test("temperature threshold invariant: the expected kept total equals " +
      "the target within per-source grid error, across 200 random mixtures") {
    // Σ nᵢ·rateᵢ telescopes to T exactly in the rationals; on the 2¹⁶
    // grid each source adds at most nᵢ/2¹⁶ rounding error. Holds for
    // every τ (the weights cancel), so it pins the integer arithmetic
    // independently of the weight function.
    val rnd = new scala.util.Random(0x7E40)
    for (trial <- 0 until 200) {
      val k = 1 + rnd.nextInt(8)
      val sizes = (0 until k).map(i =>
        s"s$i" -> (1L + rnd.nextInt(1000000)))
      val totalN = sizes.map(_._2).sum
      val target = rnd.nextLong(totalN) // below Σn: no source caps at τ=1
      val tau = if (trial % 2 == 0) 0.5 else 1.0
      val th = Sampling.temperatureThresholds(sizes, tau, target)
      val expected = sizes.map { case (s, n) =>
        val t16 = if (th(s) == "g") 65536L else Integer.parseInt(th(s), 16).toLong
        BigInt(n) * t16
      }.sum
      val gridErr = sizes.map(x => BigInt(x._2)).sum // Σ nᵢ · (1/2¹⁶) in 2¹⁶ units
      val capped = th.values.exists(_ == "g")
      if (!capped)
        assert((expected - BigInt(target) * 65536).abs <= gridErr,
          s"trial $trial (τ=$tau): expected ${expected.toDouble / 65536} " +
            s"vs target $target drifts past the grid error")
    }
  }

  test("mixByTemperatureRepeat: integer rates repeat exactly, totals land " +
      "near target, and the runaway guard fails loudly") {
    val docs = spark.range(1000).select(
      col("id").as("doc_id"),
      when(col("id") % 5 < 4, lit("big")).otherwise(lit("small"))
        .as("source"))
    // τ = 1 and target = 2·corpus: rate is EXACTLY 2 for every source
    // (natural proportions), so each row appears exactly twice with no
    // fractional hash component
    val twice = Sampling.mixByTemperatureRepeat(docs, col("source"),
        col("doc_id"), tau = 1.0, targetRows = 2000L)
      .groupBy("doc_id").count().collect()
    assert(twice.length === 1000 && twice.forall(_.getLong(1) === 2L))
    // τ = 0.5 upsamples the small source past the big one's rate, and
    // the corpus-wide copy total lands near the target
    val mixed = Sampling.mixByTemperatureRepeat(docs, col("source"),
        col("doc_id"), tau = 0.5, targetRows = 3000L)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = mixed.values.sum
    assert(math.abs(total - 3000L) <= 120,
      s"corpus-wide copies $total must approximate the 3000 target")
    assert(mixed("small").toDouble / 200 > mixed("big").toDouble / 800,
      "small source must run more epochs than the big one")
    // a 1-row source under a big target trips the explosion guard
    val tiny = spark.range(1001).select(col("id").as("doc_id"),
      when(col("id") === 0, lit("needle")).otherwise(lit("hay"))
        .as("source"))
    val e = intercept[IllegalArgumentException] {
      Sampling.mixByTemperatureRepeat(tiny, col("source"), col("doc_id"),
        tau = 0.5, targetRows = 1000000L, maxCopies = 100L)
    }
    assert(e.getMessage.contains("maxCopies"))
  }

  test("mixByTemperature is deterministic, drops null sources, and lands " +
      "near its per-source expected rates") {
    val docs = spark.range(2000).select(
      col("id").as("doc_id"),
      when(col("id") % 10 === 0, lit(null))
        .when(col("id") % 10 < 7, lit("big"))
        .otherwise(lit("small")).as("source"))
    def run() = Sampling.mixByTemperature(docs, col("source"),
        col("doc_id"), tau = 0.5, targetRows = 900L)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val a = run()
    assert(a.toSeq === run().toSeq, "keyed sampling must be deterministic")
    assert(a.forall(_._2 != null), "null-source rows have no mixture rate")
    // per-source keep counts sit near rate·n (md5 buckets are uniform;
    // ±5·√n covers the deterministic-but-hash-shaped deviation)
    val n = Map("big" -> 1200L, "small" -> 600L)
    val th = Sampling.temperatureThresholds(n.toSeq, 0.5, 900L)
    val kept = a.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    n.foreach { case (src, sz) =>
      val rate = Integer.parseInt(th(src), 16) / 65536.0
      val expected = rate * sz
      assert(math.abs(kept.getOrElse(src, 0L) - expected)
        <= 5 * math.sqrt(sz.toDouble) + 3,
        s"$src: kept ${kept.getOrElse(src, 0L)} vs expected $expected")
    }
  }

  test("mixByTemperatureRepeatFromState equals the from-scratch epochs " +
      "mix, and BOTH FromState forms raise on a state-unseen source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mixr_state")
    val statePath = dir.resolve("state").toString
    val docs = spark.range(1000).select(
      col("id").as("doc_id"),
      when(col("id") % 5 < 4, lit("big")).otherwise(lit("small"))
        .as("source"))
    graft.meta.ProfileState.writeProfileStatePerGroup(
      docs.where(col("doc_id") % 2 === 0), col("source"), lit(0L), statePath)
    graft.meta.ProfileState.appendProfileStatePerGroup(
      docs.where(col("doc_id") % 2 =!= 0), col("source"), lit(0L), statePath)
    def copies(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "copy_idx").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(
      copies(Sampling.mixByTemperatureRepeatFromState(docs, col("source"),
        col("doc_id"), 0.5, 3000L, statePath)) ===
      copies(Sampling.mixByTemperatureRepeat(docs, col("source"),
        col("doc_id"), 0.5, 3000L)),
      "state-derived epochs mixture must equal the from-scratch one")
    // a source ingested AFTER the last state fold must fail LOUDLY in
    // the keep pass, not silently vanish from the mixture (null-source
    // rows still drop — that's the documented no-qᵢ convention)
    val extra = docs.unionByName(spark.range(5).select(
      (col("id") + 5000L).as("doc_id"), lit("fresh").as("source")))
    def msgChain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val e1 = intercept[Exception] {
      Sampling.mixByTemperatureRepeatFromState(extra, col("source"),
        col("doc_id"), 0.5, 3000L, statePath).count()
    }
    assert(msgChain(e1).contains("no persisted state count"), msgChain(e1))
    val e2 = intercept[Exception] {
      Sampling.mixByTemperatureFromState(extra, col("source"),
        col("doc_id"), 0.5, 500L, statePath).count()
    }
    assert(msgChain(e2).contains("no persisted state count"), msgChain(e2))
  }
}
