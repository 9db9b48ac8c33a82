package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Line-level boilerplate removal (the CCNet/RefinedWeb curation step):
  * drop every line that appears in at least `minDocs` DISTINCT documents —
  * navigation chrome, cookie banners, boilerplate headers — and reassemble
  * each document from its surviving lines in original order.
  *
  * Scale shape (the whole point at 100 TB):
  *  - the frequent-line set is found with one aggregation whose key is the
  *    line text; partial aggregation collapses per-partition repeats before
  *    the exchange, and the *output* (lines crossing the minDocs bar) is
  *    tiny relative to the corpus — boilerplate is by definition a small
  *    vocabulary repeated everywhere;
  *  - the removal join is therefore a broadcast LEFT ANTI (AQE picks the
  *    broadcast automatically from the small side's runtime size), so the
  *    exploded line stream is never shuffled for the join;
  *  - reassembly is the one real shuffle, keyed by the document id.
  *
  * Exactness: grouping is by the full line text, not a hash of it, so two
  * distinct lines can never be conflated (a hash-keyed variant would trade
  * that guarantee for a narrower exchange; at web scale the partial-agg
  * collapse already does most of that work).
  */
object Lines {

  /** Remove lines occurring in ≥ `minDocs` distinct documents.
    *
    * Output: (idCol, clean_text, n_kept, n_removed) — `clean_text` is the
    * surviving lines joined by `sep` ('' when every line was boilerplate),
    * counts are longs. One row per input document, always.
    *
    * `sep` must be a fixed single-character separator (it is used both as
    * a split regex and a join literal).
    */
  def removeFrequentLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long,
      sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs < 2 would remove every line: $minDocs")
    val id = col(idCol)

    val lines = docs.select(
      id,
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__line")))

    // lines crossing the bar — small by construction (true boilerplate)
    val frequent = lines
      .groupBy(col("__line"))
      .agg(countDistinct(id).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__line"))

    val kept = lines.join(frequent, Seq("__line"), "left_anti")

    val reassembled = kept
      .groupBy(id)
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__line")))),
            x => x.getField("__line")),
          sep).as("clean_text"),
        count(lit(1)).as("n_kept"))

    // docs whose every line was boilerplate drop out of the groupBy —
    // restore them with an empty clean_text so the row count is stable.
    // Totals come from the already-exploded line stream (split yields at
    // least one element for ANY string, so no doc is missing from it) —
    // not from a second pass over the text bytes.
    val totals = lines.groupBy(id).agg(count(lit(1)).as("__n_total"))
    totals
      .join(reassembled, Seq(idCol), "left")
      .select(
        id,
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_total") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Corpus-global PARAGRAPH-level exact dedup (the CCNet/RefinedWeb
    * paragraph-dedup step, the sibling of [[removeFrequentLines]]'s
    * frequency-based removal): segment every document into fixed
    * `segTokens`-token windows, keep only the globally FIRST occurrence of
    * each distinct segment (first = smallest (id, position) — a total,
    * deterministic order), and reassemble each document from its surviving
    * segments. A verbatim copy of an earlier document collapses to the
    * empty string; a document that shares a prefix keeps only its novel
    * tail.
    *
    * Scale shape: segmentation is a pure codegen projection (the segment
    * array is exploded as an inline expression — never projected into a
    * named column first, or Catalyst clones the tokenizer tree into the
    * scan filter; round-9 SetSimJoin lesson); first-occurrence selection
    * is ONE hash aggregate keyed by the segment text (min (id, pos)
    * struct per key — partial aggregation collapses duplicates map-side
    * before the exchange, and no per-group sort runs; the row_number
    * window it replaced shuffled every occurrence); reassembly is one
    * doc-keyed shuffle. Keying by the full segment text keeps the op exact
    * (two distinct segments can never conflate); a 100 TB deployment
    * trading that for a narrower exchange would key on a 128-bit hash, the
    * same trade [[Lines]] documents for frequent-line removal.
    *
    * Output: one row per input document — (idCol, clean_text, n_kept,
    * n_removed), clean_text = surviving segments joined by a single space
    * (segments themselves are space-joined token windows, so the
    * reassembled text is exactly the surviving tokens space-joined).
    */
  def dedupSegments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segTokens: Int): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1: $segTokens")
    val id = col(idCol)
    val ts = graft.functions.TextFunctions.tokens(col(textCol))
    val k = segTokens

    val segArr = when(size(ts) >= 1,
      transform(sequence(lit(0), ((size(ts) - 1) / k).cast("int")),
        i => array_join(slice(ts, i * k + 1, lit(k)), " ")))
    val segs = docs.select(id, posexplode(segArr).as(Seq("__pos", "__seg")))

    // First occurrence per distinct segment = the MINIMUM (id, pos) under
    // the same total order the row_number window would use — but as a
    // hash aggregate, not a window: partial min collapses duplicate
    // segments map-side BEFORE the exchange (the window form shuffles
    // every occurrence and then sorts each segment group), so the
    // segment-keyed exchange carries at most one row per distinct segment
    // per map partition and no per-group sort runs at all (guide
    // §2.3 "aggregate before you shuffle"; struct min is lexicographic,
    // ids are non-null, so the winner is identical).
    val kept = segs
      .groupBy(col("__seg"))
      .agg(min(struct(id.as("__id"), col("__pos"))).as("__w"))
      .select(col("__w.__id").as(idCol), col("__w.__pos").as("__pos"),
        col("__seg"))

    val reassembled = kept
      .groupBy(id)
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__seg")))),
            x => x.getField("__seg")),
          " ").as("clean_text"),
        count(lit(1)).as("n_kept"))

    // totals computed MAP-SIDE from the token count — the segment count
    // is ((n_tokens - 1) div k) + 1 by construction (exactly the length
    // of segArr), so no exploded-stream groupBy and no second doc-keyed
    // exchange + join are needed (guide §2.4): the docs base carries its
    // own total and restores rows whose every segment was a duplicate
    // (or whose text had no tokens, __n_total = 0).
    docs.select(id,
        when(size(ts) >= 1,
            (floor((size(ts) - 1) / k) + 1).cast("long"))
          .otherwise(0L).as("__n_total"))
      .join(reassembled, Seq(idCol), "left")
      .select(
        id,
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("__n_total"), lit(0L))
          - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** The frequent-line set itself (for auditing what a removal pass would
    * strip): (line, n_docs) with n_docs ≥ minDocs.
    */
  def frequentLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long,
      sep: String = "\n"): DataFrame =
    docs
      .select(col(idCol),
        explode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as("line"))
      .groupBy("line")
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
}
