package graft.ops

import graft.functions.expressions.SessionFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** Bloom-filter join pruning: shrink the big (fact) side of a shuffle join
  * BEFORE the exchange using a compact sketch of the small side's keys —
  * the manual, composable twin of Catalyst's injected runtime filter, for
  * the shapes the optimizer's heuristics skip (pre-computed dimension key
  * sets, anti-join acceleration, reusing one sketch across stages).
  *
  * Why it matters at 100 TB: a fact⋈dim shuffle join exchanges the ENTIRE
  * fact side even when the dim side matches 1% of its keys. Probing a
  * sketch of the dim keys map-side drops ~99% of fact rows before they are
  * serialized into the exchange. False positives pass the probe but are
  * removed by the exact join that follows, so results are exact for any
  * fpp; false negatives are impossible by bloom-filter construction.
  *
  * Mechanics: the sketch is built by Spark's own mergeable
  * [[BloomFilterAggregate]] (partial-aggregated per partition — no
  * single-point build), and the probe is the codegen'd O(1)
  * [[BloomFilterMightContain]], embedded as a binary literal so it stays
  * inside whole-stage codegen. The sketch is the only driver-resident
  * state (`numBits/8` bytes; the default 1 MiB covers ~1M keys at ~1%
  * fpp) — the same bounded-collect shape as IVF's centroid matrix, and
  * exactly what Catalyst's InjectRuntimeFilter materializes through its
  * scalar subquery.
  *
  * Keys are probed as longs (`xxhash64` any non-long key first — both
  * sides identically).
  */
object BloomPrune {

  /** Default expected distinct keys for sketch sizing — deliberately
    * generous: an oversized bloom just wastes a few hundred KiB; an
    * undersized one silently degrades to pass-through (fpp→1).
    */
  val DefaultExpectedItems = 1000000L

  /** Serialized sketch over ZERO keys — the aggregate's identity value.
    * `BloomFilterAggregate` returns SQL NULL over empty input, and a null
    * sketch makes every probe null, silently dropping all rows; coalescing
    * to this tiny empty sketch instead makes every probe FALSE — "nothing
    * is a member", the correct semantics for an empty build side on every
    * surface (semi join → empty, anti/NOT probe → keep everything).
    */
  val emptySketchBytes: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    org.apache.spark.util.sketch.BloomFilter.create(1).writeTo(out)
    out.toByteArray
  }

  /** The expression every bloom_agg surface registers: the sketch
    * aggregate coalesced with [[emptySketchBytes]] (see there for why).
    */
  def bloomAggExpression(key: org.apache.spark.sql.catalyst.expressions.Expression,
      expectedItems: Long): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
      new BloomFilterAggregate(key, expectedItems).toAggregateExpression(),
      org.apache.spark.sql.catalyst.expressions.Literal(emptySketchBytes,
        org.apache.spark.sql.types.BinaryType)))

  /** SQL-surface + Column-path aggregate building a bloom sketch of a long
    * key column (binary result, never null). Registered per expectedItems
    * value as `bloom_agg_<n>`.
    */
  def bloomAgg(key: Column, expectedItems: Long = DefaultExpectedItems,
      session: Option[SparkSession] = None): Column = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    SessionFunctions.callRegistered(s"bloom_agg_$expectedItems",
      exprs => {
        require(exprs.length == 1, s"bloom_agg expects 1 argument, got ${exprs.length}")
        bloomAggExpression(exprs.head, expectedItems)
      },
      session, key)
  }

  /** Codegen'd sketch-membership probe: false ⇒ key definitely absent,
    * true ⇒ key present or a false positive. `bloom` must be foldable
    * (e.g. `lit(sketchBytes)`) or a scalar subquery.
    */
  def bloomContains(bloom: Column, key: Column,
      session: Option[SparkSession] = None): Column =
    SessionFunctions.callRegistered("bloom_contains",
      exprs => {
        require(exprs.length == 2, s"bloom_contains expects 2 arguments, got ${exprs.length}")
        BloomFilterMightContain(exprs.head, exprs(1))
      },
      session, bloom, key)

  /** The long probe value for an arbitrary-typed key: integral keys cast
    * (value-preserving), everything else goes through `xxhash64` — the
    * scheme BOTH sides of a probe must share. A bare `cast("long")` on a
    * string key would yield null, the null-skipping aggregate would build
    * an empty sketch, and every probe would return null — silently
    * filtering out ALL rows.
    */
  private def asLongKey(key: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => key.cast("long")
      case _                                             => xxhash64(key)
    }
  }

  /** Build the serialized sketch of a frame's key column — a distributed
    * mergeable aggregate whose single binary result is returned to the
    * caller. `None` only in the never-expected case of a null aggregate
    * result (the coalesced aggregate yields [[emptySketchBytes]] — which
    * correctly rejects every probe — when `dim` has no non-null keys);
    * callers still fall back rather than probe on `None`, defense in
    * depth against a null sketch literal silently dropping all rows.
    */
  def sketch(dim: DataFrame, dimKey: Column,
      expectedItems: Long = DefaultExpectedItems): Option[Array[Byte]] = {
    val dt = dim.select(dimKey).schema.head.dataType
    Option(dim.select(bloomAgg(asLongKey(dimKey, dt), expectedItems,
        Some(dim.sparkSession)).as("bloom"))
      .head().getAs[Array[Byte]]("bloom"))
  }

  /** Exact semi join with map-side bloom pruning: `fact` rows whose
    * `factKey` appears in `dim.dimKey`. The bloom probe prunes the fact
    * side before its exchange; the exact semi join removes the sketch's
    * false positives. Keys may be any type: both sides are probed through
    * the same [[asLongKey]] scheme (both-integral pairs widen to long;
    * otherwise the types must match exactly so equal values hash equally).
    */
  def prunedSemiJoin(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String,
      expectedItems: Long = DefaultExpectedItems): DataFrame = {
    import org.apache.spark.sql.types._
    val integral = Set[DataType](LongType, IntegerType, ShortType, ByteType)
    // resolve both key types through the analyzer (case-insensitive,
    // nested-field-capable) — a raw schema(factKey) lookup is neither
    val fdt = fact.select(col(factKey)).schema.head.dataType
    val ddt = dim.select(col(dimKey)).schema.head.dataType
    require(fdt == ddt || (integral(fdt) && integral(ddt)),
      s"bloom prune needs same-type (or both-integral) keys, got $fdt vs $ddt")
    // left_semi ignores duplicate build rows — no distinct() needed, that
    // would just add a full aggregation exchange on the dim side
    val dimKeys = dim.select(col(dimKey).as("__bloom_key"))
    val pruned = sketch(dim, col(dimKey), expectedItems) match {
      case Some(bytes) =>
        fact.filter(bloomContains(lit(bytes), asLongKey(col(factKey), fdt),
          Some(fact.sparkSession)))
      case None => fact // empty dim: the semi join below returns empty
    }
    pruned.join(dimKeys, col(factKey) === col("__bloom_key"), "left_semi")
  }
}
