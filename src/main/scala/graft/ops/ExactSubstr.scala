package graft.ops

import graft.functions.expressions.ShingleExpressions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring-grain deduplication — the Lee et al. 2022
  * ("Deduplicating Training Data Makes Language Models Better",
  * arXiv:2107.06499) ExactSubstr operator: find (and optionally remove)
  * every token span of length >= L that occurs at least `minOccurrences`
  * times anywhere in the corpus. This is a different grain from the
  * repo's other dedup surfaces: q20/q80 dedup whole documents, q173
  * dedups fixed SEGMENTS, q70 counts repeated n-grams — none can remove
  * a 60-token boilerplate run embedded mid-document, which is exactly
  * the contamination ExactSubstr exists for.
  *
  * Reduction (the key identity): a maximal repeated substring of length
  * >= L covers exactly the token positions covered by some repeated
  * L-window, because every length->=L repeat contains only repeated
  * L-windows and any repeated L-window IS a length-L repeat. So the
  * reference implementation's suffix array is not required for the
  * fixed-threshold form — per-position L-window occurrence counting is
  * equivalent, and it distributes:
  *
  *  1. [[graft.functions.expressions.WindowHashes64]] emits the 64-bit
  *     hash of every L-window in ONE codegen-adjacent pass — O(tokens)
  *     ROWS after posexplode (one per position), never the
  *     O(tokens x L) blowup of materializing the windows themselves
  *     (the r10 verdict's objection to a 50-gram sweep);
  *  2. hash-keyed count: uniform shuffle keys, map-side partial agg;
  *     window hashes occurring < minOccurrences (the overwhelming
  *     majority) die in the first agg;
  *  3. EXACT verify on the survivors only: candidate positions re-slice
  *     their window text from the token array and re-count on the real
  *     window string — the MinHash->exact-verify pattern (Dedup.scala),
  *     so a 64-bit hash collision can create a candidate but never a
  *     false duplicate, and the result is hash-function-independent
  *     (which is also what makes a cross-engine oracle possible);
  *  4. per-doc interval merge of surviving window starts (one doc-keyed
  *     window function): starts s cover [s, s+L), overlapping/touching
  *     covers coalesce into maximal spans.
  *
  * Scale shape at 100 TB: two corpus-wide exchanges (window hashes by
  * hash; candidates by doc for the verify re-slice) plus one doc-keyed
  * window over candidate positions only. State per hash key is a
  * count — no collect, no driver state, no all-pairs anywhere.
  */
object ExactSubstr {

  /** Maximal duplicated spans per document: (idCol, span_start,
    * span_end) with token-index half-open bounds [span_start, span_end),
    * one row per maximal run of positions covered by some >= L-token
    * substring occurring >= minOccurrences times corpus-wide
    * (occurrences count ALL copies, including the span itself and
    * same-document repeats — Lee et al.'s definition).
    *
    * @param docs    (idCol, toksCol) with toksCol an array<string>
    * @param minLen  L, the minimum duplicated-substring token length
    * @param minOccurrences duplication bar (default 2 = "appears twice")
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      toksCol: String,
      minLen: Int,
      minOccurrences: Long = 2L): DataFrame = {
    require(minLen >= 1, s"minLen must be positive: $minLen")
    require(minOccurrences >= 2, s"minOccurrences must be >= 2: $minOccurrences")
    val tok = docs.select(col(idCol), col(toksCol).as("__toks"))
      .localCheckpoint(eager = true) // feeds the hash pass AND the verify re-slice
    val wins = tok.select(col(idCol),
      posexplode(ShingleExpressions.windowHashes64(col("__toks"), minLen))
        .as(Seq("__pos", "__h")))
    // survivors of the cheap hash count: candidate (id, pos) starts
    val candHashes = wins.groupBy("__h")
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minOccurrences)
      .select("__h")
    val cand = wins.join(candHashes, Seq("__h"), "left_semi")
    // exact verify: re-slice the real window text for candidates only
    // (array_join skips nulls — same convention as the hash)
    val candText = cand.join(tok, Seq(idCol))
      .select(col(idCol), col("__pos"),
        array_join(slice(col("__toks"), col("__pos") + 1, lit(minLen)), " ")
          .as("__w"))
    val dupWins = candText.join(
      candText.groupBy("__w").agg(count(lit(1)).as("__c"))
        .filter(col("__c") >= minOccurrences).select("__w"),
      Seq("__w"), "left_semi")
    // interval merge: window starts s cover [s, s+L); a start more than
    // L past its predecessor opens a new island
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    dupWins
      .withColumn("__prev", lag(col("__pos"), 1).over(byDoc))
      .withColumn("__new",
        when(col("__prev").isNull || col("__pos") - col("__prev") > minLen, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(byDoc))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + minLen).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** The dedup ACTION: each document's token array with every duplicated
    * span removed. Like the canonical ExactSubstr tool, ALL copies of a
    * covered region are cut (not all-but-one) — simple, order-free, and
    * the measured quality effect in Lee et al. comes from removing the
    * repetition, not from which copy survives. Output: (idCol,
    * clean_toks). Documents with no duplicated span pass through
    * unchanged. One join of the span list back to the corpus + a
    * per-row positional filter.
    */
  def removeDuplicateSpans(
      docs: DataFrame,
      idCol: String,
      toksCol: String,
      minLen: Int,
      minOccurrences: Long = 2L): DataFrame = {
    val spans = duplicateSpans(docs, idCol, toksCol, minLen, minOccurrences)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    docs.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__spans").isNull, col(toksCol))
          .otherwise(filter(col(toksCol), (_, i) =>
            !exists(col("__spans"), sp =>
              i >= sp.getField("span_start") && i < sp.getField("span_end"))))
          .as("clean_toks"))
  }
}
