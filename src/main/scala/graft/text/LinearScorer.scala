package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A REAL trained document scorer beside [[BatchScore.HashScorer]]'s
  * stub: a hashing-trick linear model with CLOSED-FORM, integer-exact,
  * distributed training — the fastText-style quality-filter shape
  * (DCLM/FineWeb-Edu) with every float removed so training is
  * bit-identical across runs, partitionings, and shuffle orders.
  *
  * Features: per-document DISTINCT token presence, hashed into `dim`
  * buckets. Tokens are whitespace-split, ROOT-lowercased, stripped to
  * [a-z0-9] (the removeDuplicatedSpans normalization); the bucket is
  * the first 4 md5 bytes (unsigned) mod `dim` — md5, not xxhash,
  * deliberately: the WHOLE pipeline (tokenize → bucket → train →
  * score) is then restatable in the DuckDB oracle.
  *
  * Training (closed form — one aggregation, no epochs, no ordering):
  * per bucket b, the smoothed presence-probability difference
  * {{{ w_b = (pos_b + 1)·S/(n_pos + 2) − (neg_b + 1)·S/(n_neg + 2) }}}
  * in fixed-point S = 1e6 (Laplace-smoothed P(b|pos) − P(b|neg), the
  * probability-difference sibling of Naive-Bayes log-odds weights —
  * log-free so it stays integer-exact). Counts are integer sums, so
  * the weights are independent of partition layout: DETERMINISM IS
  * STRUCTURAL, not seeded. The per-bucket count frame collapses
  * map-side and the driver materializes at most `dim`+1 rows (the
  * explicit require caps `dim`).
  *
  * Scoring: mean present-bucket weight, floor-divided (Math.floorDiv
  * — matching SQL `//` on negatives), centered at 500000 and clamped
  * to [0, 1e6] ppm. Mean, not sum, so the score is document-length
  * invariant. Null/empty texts score 0 (the [[BatchScore]] bypass
  * contract). */
object LinearScorer {

  val Scale = 1000000L

  /** Oracle-expressible feature bucket: first 4 md5 bytes of the
    * token, unsigned, mod `dim` — `('0x' || substr(md5(t),1,8))::BIGINT
    * % dim` in DuckDB. */
  def bucket(token: String, dim: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val u = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    (u % dim).toInt
  }

  /** Distinct feature buckets of a text, ascending (presence set). */
  def buckets(text: String, dim: Int): Array[Int] = {
    if (text == null) return Array.empty
    text.split("\\s+").iterator
      .map(_.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9]", ""))
      .filter(_.nonEmpty)
      .map(bucket(_, dim))
      .toArray.distinct.sorted
  }

  /** The frozen model — a [[BatchScore.DocScorer]], so every piece of
    * the inference plumbing (batching, per-executor singleton, token
    * budgets) applies unchanged. */
  final case class LinearModel(dim: Int, weights: Array[Long],
                               version: String)
      extends BatchScore.DocScorer {
    require(weights.length == dim, "weights must be dim-dense")
    // the singleton cache keys on scorerId: fingerprint the weights so
    // two differently-trained models never collide in one executor JVM
    @transient private lazy val fp: String = {
      var h = 1125899906842597L
      var i = 0
      while (i < weights.length) { h = 31 * h + weights(i); i += 1 }
      java.lang.Long.toHexString(h)
    }
    override def scorerId: String = s"linear-$version-$fp"
    override def scoreBatch(texts: Array[String]): Array[Long] =
      texts.map { t =>
        if (t == null || t.isEmpty) 0L
        else {
          val bs = buckets(t, dim)
          if (bs.isEmpty) Scale / 2
          else {
            var s = 0L
            var i = 0
            while (i < bs.length) { s += weights(bs(i)); i += 1 }
            // floorDiv matches SQL's flooring `//` on negative sums
            val avg = Math.floorDiv(s, bs.length.toLong)
            math.max(0L, math.min(Scale, Scale / 2 + avg))
          }
        }
      }
  }

  /** Train on (text, binary label) rows; null labels drop. One narrow
    * pass + one ≤(dim+1)-row aggregate to the driver. */
  def train(docs: DataFrame, text: Column, label: Column,
            dim: Int = 4096, version: String = "v1"): LinearModel = {
    require(dim >= 2 && dim <= (1 << 20),
      s"dim in [2, 2^20] (the driver holds dim weights), got $dim")
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs
      .select(label.cast("int").as("y"), text.cast("string").as("t"))
      .where(col("y").isNotNull && (col("y") === 0 || col("y") === 1))
      .as[(Int, String)]
      .flatMap { case (y, t) =>
        // bucket -1 is the document counter (every labeled doc, even
        // a feature-less one, must count toward n_pos/n_neg)
        (buckets(t, dim).map(b => (b, y)) :+ ((-1, y))).toSeq
      }
      .toDF("b", "y")
    val counts = rows.groupBy(col("b"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("tot"))
      .collect() // ≤ dim + 1 rows by construction (the require above)
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (nPos, nTot) = counts.getOrElse(-1, (0L, 0L))
    val nNeg = nTot - nPos
    require(nPos > 0 && nNeg > 0,
      s"training needs both classes (pos=$nPos, neg=$nNeg)")
    val w = new Array[Long](dim)
    var b = 0
    while (b < dim) {
      val (pos, tot) = counts.getOrElse(b, (0L, 0L))
      w(b) = (pos + 1) * Scale / (nPos + 2) -
        (tot - pos + 1) * Scale / (nNeg + 2)
      b += 1
    }
    LinearModel(dim, w, version)
  }
}
