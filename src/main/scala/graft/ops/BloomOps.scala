package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Bloom-filter build/probe over Spark's native catalyst expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the machinery
  * behind runtime row-group filtering, exposed here as columns).
  *
  * The scale pattern this enables: a set-membership prefilter whose
  * broadcastable state is O(bits), not O(items). A distinct-string join
  * table over, say, 100 M benchmark n-grams is tens of GB and cannot
  * broadcast; the bloom filter over the same set at 1% fpp is ~120 MB of
  * bitmap — and probes run map-side inside codegen, so the 100 TB corpus
  * side never shuffles for the membership test. False positives are then
  * removed by an exact join on the (tiny) surviving subset.
  *
  * Values are hashed with xxhash64 on both the build and probe side —
  * the aggregate inserts the 64-bit hash, `mightContain` probes with the
  * same hash, so build and probe agree by construction.
  */
object BloomOps {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Bits for a target false-positive rate at `expectedItems` distinct
    * insertions (standard optimum: m = -n·ln(p)/ln(2)²). */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long = {
    require(expectedItems > 0, "expectedItems must be positive")
    require(fpp > 0.0 && fpp < 1.0, "fpp in (0,1)")
    math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
  }

  /** Aggregate column producing the serialized bloom filter (binary) of
    * all input values. NOTE: Spark silently caps the sizing at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `.maxNumBits` (defaults 4M items / 64 Mbits) — a request past the
    * caps builds a SMALLER filter than asked for (fpp degrades with no
    * error; results stay exact wherever a verify join follows, but the
    * prefilter stops pulling its weight). [[bloomAgg]] checks the active
    * session's caps and warns loudly instead of letting that happen
    * silently. */
  def bloomAgg(value: Column, expectedItems: Long, fpp: Double = 0.01): Column = {
    val bits = optimalNumBits(expectedItems, fpp)
    // surface the silent clamp: compare the request to the session caps
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      def cap(key: String, dflt: Long): Long =
        try s.conf.get(key, dflt.toString).toLong catch {
          case _: NumberFormatException => dflt
        }
      val maxItems =
        cap("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 4000000L)
      val maxBits =
        cap("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 67108864L)
      if (expectedItems > maxItems || bits > maxBits)
        log.warn(
          s"bloomAgg request (items=$expectedItems, bits=$bits) " +
            s"exceeds session caps (maxNumItems=$maxItems, " +
            s"maxNumBits=$maxBits): Spark will clamp the filter and the " +
            "effective fpp degrades — raise the " +
            "spark.sql.optimizer.runtime.bloomFilter.* confs")
    }
    ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(value)),
        Literal(expectedItems),
        Literal(bits)).toAggregateExpression())
  }

  /** Build the serialized filter over one column of `df` in a single
    * action — the shared driver-materialization step of every bloom
    * prefilter path. Returns null when `df` is empty (probe with
    * [[mightContain]], which maps null to match-nothing). */
  def build(df: org.apache.spark.sql.DataFrame, value: Column,
            expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val row = df.agg(bloomAgg(value, expectedItems, fpp).as("bf")).head()
    if (row.isNullAt(0)) null else row.getAs[Array[Byte]](0)
  }

  /** Membership probe against a driver-held serialized filter (the few-MB
    * binary rides the task closure to every executor exactly like a
    * broadcast variable). A null `bloom` (empty build side) matches
    * nothing. */
  def mightContain(bloom: Array[Byte], value: Column): Column =
    if (bloom == null) lit(false)
    else ColumnBridge.column(
      new BloomFilterMightContain(
        Literal.create(bloom, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(xxhash64(value))))
}
