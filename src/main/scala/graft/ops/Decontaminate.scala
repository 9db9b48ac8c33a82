package graft.ops

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/eval decontamination: find evaluation documents that share word
  * n-grams with the training split — the standard benchmark-leakage check
  * run before training on any scraped corpus.
  *
  * Shape at scale: explode both splits to (gram, doc) pairs, distinct the
  * train side (set semantics), and join on the gram. The shuffle key is
  * the gram itself — high-cardinality and uniform, no hot keys — and the
  * train side carries one row per DISTINCT gram, not per occurrence. For
  * 100 TB corpora, swap the raw gram string for a 64-bit hash
  * (`xxhash64`) to shrink shuffle width; the string form here keeps the
  * DuckDB oracle engine-portable.
  */
object Decontaminate {

  /** Eval docs sharing at least one `shingleSize`-gram with train.
    * @param hashGrams join on the 64-bit xxhash of each gram instead of
    *        the gram string — ~8 bytes of shuffle per gram instead of the
    *        full text, the right trade at corpus scale (a false positive
    *        needs an xxhash64 collision AND both grams in the corpus; at
    *        contamination-check tolerances that is noise). Keep false for
    *        engine-portable exact semantics (the DuckDB oracle path).
    * @return (doc_id, n_shared_grams) — distinct shared grams per eval doc
    */
  private def grams(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, hashGrams: Boolean): DataFrame = {
    // docs shorter than the shingle produce NO grams (TF.shingles'
    // whole-text fallback is a dedup convenience, not a contamination
    // claim — and the SQL oracles generate grams only for len ≥ k, so the
    // fallback would silently diverge the two engines on short docs).
    if (hashGrams) {
      // at-scale form: hash the token WINDOWS directly
      // (TF.shingleHashesOfTokens) — no gram string is ever concatenated,
      // so the explode emits 8-byte longs straight from the tokenizer
      // (guide §2.3 "shuffle keys instead of payloads"; the string form
      // below builds and then discards every gram's text)
      df.select(col(idCol).as("doc_id"), TF.tokens(col(textCol)).as("__t"))
        .select(col("doc_id"),
          explode(array_distinct(
            TF.shingleHashesOfTokens(col("__t"), shingleSize))).as("gram"))
    } else {
      // explode must be a top-level select expression
      df.select(col(idCol).as("doc_id"),
        explode(when(TF.tokenCount(col(textCol)) >= shingleSize,
            array_distinct(TF.shingles(col(textCol), shingleSize)))
          .otherwise(array().cast("array<string>"))).as("gram"))
    }
  }

  def contaminated(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      hashGrams: Boolean = false): DataFrame = {
    val trainGrams = grams(train, idCol, textCol, shingleSize, hashGrams)
      .select("gram").distinct()
    grams(eval, idCol, textCol, shingleSize, hashGrams)
      .join(trainGrams, Seq("gram"))
      .groupBy("doc_id")
      // plain count IS countDistinct here: [[grams]] array_distincts per
      // doc and the train side is distinct, so the join emits at most one
      // row per (doc, gram) — no two-phase distinct aggregate needed.
      // Caveat when hashGrams=true: array_distinct runs on the HASHES
      // themselves (shingleHashesOfTokens emits longs; no gram string
      // exists), so two distinct grams in one doc colliding under
      // xxhash64 merge into one hash key and UNDER-count by one — the
      // same negligible-probability collision tolerance (~n^2/2^64) the
      // hashGrams scaladoc already accepts for the join itself.
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** [[contaminated]] with a bloom prefilter on the eval gram stream —
    * same exact result, different shuffle shape. A clean corpus is the
    * common case: most eval grams appear NOWHERE in train, yet the plain
    * inner join shuffles every one of them. Probing a sketch of the
    * distinct train grams map-side drops the definitely-absent grams
    * before the exchange (no false negatives ⇒ no contamination missed);
    * sketch false positives still reach the exact string-keyed join and
    * fall out there.
    */
  def contaminatedBloom(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      expectedItems: Long = BloomPrune.DefaultExpectedItems): DataFrame = {
    val trainGrams = grams(train, idCol, textCol, shingleSize, hashGrams = false)
      .select("gram").distinct()
    val evalGrams = grams(eval, idCol, textCol, shingleSize, hashGrams = false)
    val prefiltered =
      BloomPrune.sketch(trainGrams, xxhash64(col("gram")), expectedItems) match {
        case Some(bytes) => evalGrams.filter(BloomPrune.bloomContains(
          lit(bytes), xxhash64(col("gram")), Some(eval.sparkSession)))
        case None => evalGrams // defensive: never probe a null sketch
      }
    prefiltered
      .join(trainGrams, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams")) // same argument as above
  }

  /** The removal step [[contaminated]] only detects: rewrite the TRAIN
    * side with every eval-leaked span masked out. A train token is
    * dropped when ANY `shingleSize`-gram occurrence covering it also
    * appears in the eval split; the survivors are rejoined in order —
    * overlapping and back-to-back hits merge naturally because coverage
    * is computed per POSITION, not per span.
    *
    * Output: one row per train doc — (doc_id, clean_text, n_tokens_kept,
    * n_tokens_removed) — clean docs pass through with zero removed, a
    * fully-leaked doc survives as an empty string (filter on
    * n_tokens_kept to drop such husks).
    *
    * Shape at scale: gram occurrences join the distinct eval-gram set on
    * the gram (uniform key, same exchange as [[contaminated]] with the
    * sides swapped); ONLY the matched occurrences — the contaminated
    * sliver, not the full token stream — shuffle again, collapsing to
    * one covered-span array per dirty doc (bounded by that doc's own
    * token count). Reassembly is a doc-keyed join (broadcast-able when
    * contamination is sparse — the common case) plus per-row
    * LINEAR-TIME array ops: `array_except` over positions is hash-based
    * O(n+m) and `element_at` on an array is O(1), so each doc costs
    * O(tokens + covered). (An earlier fused attempt used
    * `filter(array_contains)` — O(tokens x covered) per doc — and
    * measured 3x SLOWER than the shuffle-heavy formulation it replaced;
    * the linear form beats both. See NOTES.md round-8 entry.) Nothing
    * touches the driver.
    */
  /** @param hashGrams same trade as [[contaminated]]'s flag: join the
    *        occurrence stream to the eval-gram set on `xxhash64(gram)`
    *        instead of the gram string — 8-byte shuffle keys instead of
    *        full gram text, the right trade at corpus scale. A collision
    *        would mask 0-2 extra CLEAN tokens (never unmask a leaked
    *        one), at ~n^2/2^64 probability — noise at decontamination
    *        tolerances. Keep false for engine-portable exact semantics.
    * @param reassembly how survivors are rejoined, "linear" (default) or
    *        "shuffle" — SAME result, different physical shape:
    *        - "linear": doc-keyed join of the covered-position arrays
    *          back to the original rows, then per-row O(tokens+covered)
    *          array ops (`array_except` hashes the right side;
    *          `element_at` is O(1)). The token stream itself never
    *          shuffles — three fewer exchanges.
    *        - "shuffle": posexplode the full token stream, anti-join the
    *          covered (doc,position) pairs, groupBy doc + sort-collect.
    *          Shuffles every token twice; kept for the measured A/B (see
    *          NOTES.md round-9) and as the fallback if a pathological
    *          corpus (single giant doc) ever overflows a per-row array.
    */
  def maskContaminated(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      hashGrams: Boolean = false,
      reassembly: String = "linear"): DataFrame = {
    require(reassembly == "linear" || reassembly == "shuffle",
      s"reassembly must be 'linear' or 'shuffle', got '$reassembly'")
    val evalGrams = grams(eval, idCol, textCol, shingleSize, hashGrams)
      .select("gram").distinct()

    // gram OCCURRENCES with 0-based start positions (no distinct — every
    // occurrence masks its own span; same short-doc guard as [[grams]]:
    // sub-shingle docs assert no leakage and pass through untouched).
    // hashGrams: hash the token windows directly (same trade as [[grams]]
    // — the position array is identical because the hash array has
    // exactly the string form's n-k+1 elements in the same order).
    val occurrences =
      if (hashGrams)
        train.select(col(idCol).as("doc_id"), TF.tokens(col(textCol)).as("__t"))
          .select(col("doc_id"),
            posexplode(TF.shingleHashesOfTokens(col("__t"), shingleSize))
              .as(Seq("__p", "gram")))
      else
        train.select(col(idCol).as("doc_id"),
          posexplode(when(TF.tokenCount(col(textCol)) >= shingleSize,
              TF.shingles(col(textCol), shingleSize))
            .otherwise(array().cast("array<string>"))).as(Seq("__p", "__g")))
          .select(col("doc_id"), col("__p"), col("__g").as("gram"))
    // the leaked span starts — ONLY matched occurrences survive the join
    val hits = occurrences.join(evalGrams, Seq("gram"))

    if (reassembly == "linear") {
      // one row per CONTAMINATED doc: every covered position, expanded
      // from the leaked span starts map-side (the exchange carries only
      // matched occurrences) and deduped doc-side
      val covered = hits
        .select(col("doc_id"),
          explode(sequence(col("__p"), col("__p") + (shingleSize - 1))).as("__p"))
        .groupBy("doc_id")
        .agg(collect_set(col("__p")).as("__covered"))

      // Per-row linear reassembly. The when() null-text branch keeps
      // totals engine-config-independent (with spark.sql.ansi.enabled=
      // false, size(null) is -1, not null).
      val toks = when(col("__text").isNull, array().cast("array<string>"))
        .otherwise(TF.tokens(col("__text")))
      val coveredArr = coalesce(col("__covered"), array().cast("array<int>"))
      // positions 0..n-1 minus covered — array_except hashes the right
      // side (O(n+m)) and preserves left order, so kept positions stay
      // ascending. The empty-doc guard matters: sequence(0, -1) is a
      // DESCENDING sequence, not empty, and the out-of-range element_at
      // would throw under ANSI mode.
      val allPos = when(size(toks) === 0, array().cast("array<int>"))
        .otherwise(sequence(lit(0), size(toks) - 1).cast("array<int>"))
      val keptPos = array_except(allPos, coveredArr)
      val keptToks = transform(keptPos, i => element_at(toks, i + 1))
      train
        .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"),
          array_join(keptToks, " ").as("clean_text"),
          size(keptToks).cast("long").as("n_tokens_kept"),
          (size(toks) - size(keptToks)).cast("long").as("n_tokens_removed"))
    } else {
      // "shuffle" form (the pre-round-9 default): coverage explode is
      // map-side, then the FULL token stream anti-joins the covered
      // (doc, position) pairs and regroups per doc.
      val covered = hits
        .select(col("doc_id"),
          explode(sequence(col("__p"), col("__p") + (shingleSize - 1))).as("__p"))
        .distinct()
      val tokenized = train.select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))).as(Seq("__p", "__tok")))
      val kept = tokenized.join(covered, Seq("doc_id", "__p"), "left_anti")
      val reassembled = kept
        .groupBy("doc_id")
        .agg(
          array_join(
            transform(array_sort(collect_list(struct(col("__p"), col("__tok")))),
              x => x.getField("__tok")),
            " ").as("clean_text"),
          count(lit(1)).as("n_tokens_kept"))
      // totals are a per-row tokenCount over the original text — identical
      // by construction to counting the exploded stream (tokenCount IS
      // size(tokens); the explicit null-text branch mirrors posexplode
      // emitting 0 rows) — computed map-side in the SAME scan that
      // restores token-less docs. The when() (not coalesce(size(...)))
      // keeps the total engine-config-independent: with
      // spark.sql.ansi.enabled=false, size(null) is -1, not null.
      train
        .select(col(idCol).as("doc_id"),
          when(col(textCol).isNull, lit(0L))
            .otherwise(TF.tokenCount(col(textCol))).as("__n_total"))
        .join(reassembled, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
          (coalesce(col("__n_total"), lit(0L)) -
            coalesce(col("n_tokens_kept"), lit(0L))).as("n_tokens_removed"))
    }
  }
}
