package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training: concatenate the corpus in id order
  * and chunk it into fixed token-budget training sequences ("concat and
  * chunk"). Each document's global start offset decides its sequence id
  * and offset; a document longer than the budget simply spans sequences.
  *
  * The global prefix sum is the interesting part at scale. A naive
  * `sum() OVER (ORDER BY id)` with no PARTITION BY funnels every row
  * through ONE reducer — the classic single-partition window bottleneck.
  * This implementation is the two-phase scan instead:
  *
  *  1. range-partition by id (so partition order == id order) and pin the
  *     placement with a localCheckpoint — both passes must see identical
  *     partitioning;
  *  2. per-partition token totals: a tiny aggregate, `numPartitions` rows
  *     collected to the driver and prefix-summed there (bounded driver
  *     state, same pattern as IVF's centroid collect);
  *  3. per-partition cumulative sum via a window PARTITIONed by the range
  *     bucket (parallel across buckets), plus the bucket's base offset
  *     broadcast-joined back.
  *
  * Net: every stage is parallel; driver holds O(numPartitions) longs.
  */
object Pack {

  /** Pack `df` rows (one per document, `tokensCol` pre-computed) into
    * sequences of `budget` tokens. Output: input columns + `seq_id` and
    * `offset_in_seq` (both long).
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      budget: Long,
      numPartitions: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val spark = df.sparkSession
    val n = Ranking.width(df, numPartitions)
    // Pin placement: range partitioning samples the data to pick bounds,
    // and the offsets pass + the cumsum pass MUST agree on which rows
    // landed where.
    val parted = df
      .repartitionByRange(n, col(idCol))
      .withColumn("__bucket", spark_partition_id())
      .localCheckpoint()

    // Phase 2: per-bucket totals -> driver prefix sum (n rows, bounded).
    val totals = parted.groupBy("__bucket")
      .agg(sum(col(tokensCol)).as("__tokens"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets = totals.scanLeft((0, 0L)) {
      case ((_, acc), (bucket, tok)) => (bucket, acc + tok)
    }.tail.map { case (bucket, cumEnd) => (bucket, cumEnd) }
    // offset BEFORE the bucket = cumulative end of the previous bucket
    val baseOffsets = offsets.zip((0, 0L) +: offsets.dropRight(1))
      .map { case ((bucket, _), (_, prevEnd)) => (bucket, prevEnd) }

    val offsetsDf = spark.createDataFrame(baseOffsets.toSeq)
      .toDF("__bucket", "__base")

    // Phase 3: parallel per-bucket cumsum + broadcast base offset.
    val w = Window.partitionBy("__bucket").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val start = col("__base") + sum(col(tokensCol)).over(w) - col(tokensCol)
    parted
      .join(broadcast(offsetsDf), Seq("__bucket"))
      .withColumn("__start", start)
      // `div` = exact integer division on longs; a double `/` would lose
      // precision past 2^53 cumulative tokens — precisely the at-scale
      // regime the two-phase scan exists for
      .withColumn("seq_id", expr(s"__start div $budget"))
      .withColumn("offset_in_seq", (col("__start") % budget).cast("long"))
      .drop("__bucket", "__base", "__start")
  }

  /** DuckDB oracle twin: the single-window formulation (fine at oracle
    * scale; the distributed form above must produce identical output).
    */
  def packSql(tokensExpr: String, budget: Long, table: String = "documents",
      idCol: String = "doc_id"): String = s"""
    WITH toks AS (SELECT $idCol, $tokensExpr AS n_tokens FROM $table),
    cum AS (SELECT $idCol, n_tokens,
            CAST(sum(n_tokens) OVER (ORDER BY $idCol
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              - n_tokens AS start FROM toks)
    SELECT $idCol, n_tokens,
           CAST(start // $budget AS BIGINT) AS seq_id,
           CAST(start % $budget AS BIGINT) AS offset_in_seq
    FROM cum ORDER BY $idCol"""
}
