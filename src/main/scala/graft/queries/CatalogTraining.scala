package graft.queries

import graft.functions.{TextFunctions => TF}
import graft.ops.{Inference, Pack, Redact, Sampling}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


import Catalog._

/** training-pipeline extensions: PII, packing, sampling, chunking (q65-q78).
  *
  * One slice of the query catalog (split from the single 3.9k-line map
  * in round 5). Entry ORDER is load-bearing: [[Catalog.all]] is a
  * ListMap concatenated slice-by-slice, and oracle_sql.json iterates
  * it in insertion order.
  */
private[queries] object CatalogTraining {
  def entries: Seq[(String, QueryDef)] = Seq(
    // ===== training-pipeline extensions round 2 =====

    // PII redaction (ops/Redact): structured identifiers scrubbed by a
    // pattern table that also generates the oracle SQL. The corpus has no
    // real PII, so both sides inject it deterministically from doc_id
    // first — the scrub then has something non-vacuous to remove in every
    // row, and the cleaned text is hash-compared cell-exactly.
    "q65_pii_scrub" -> QueryDef(
      fn = (s, d) => {
        val pii = concat(
          substring(col("text"), 1, 40),
          lit(" mail u"), col("doc_id"), lit("@ex.io ip 10.0."),
          pmod(col("doc_id"), lit(256)), lit(".7 tel 555-01"),
          pmod(col("doc_id"), lit(10)))
        t(s, d, "documents")
          .select(col("doc_id") +:
            (Redact.counts(pii) :+ Redact.scrub(pii).as("clean_text")): _*)
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH pii AS (SELECT doc_id,
          concat(substring(text, 1, 40), ' mail u', CAST(doc_id AS VARCHAR),
                 '@ex.io ip 10.0.', CAST(doc_id % 256 AS VARCHAR),
                 '.7 tel 555-01', CAST(doc_id % 10 AS VARCHAR)) AS ptext
          FROM documents)
        SELECT doc_id, ${Redact.countsSql("ptext").mkString(", ")},
               ${Redact.scrubSql("ptext")} AS clean_text
        FROM pii ORDER BY doc_id""")),

    // Repetition-ratio quality signal: distinct-token share, the cheap
    // proxy for boilerplate/spam docs every corpus filter uses. Pure map
    // over codegen'd array functions — no shuffle.
    "q66_repetition" -> QueryDef(
      fn = (s, d) => {
        val toks = TF.tokens(col("text"))
        val ratio = size(array_distinct(toks)).cast("double") / size(toks)
        t(s, d, "documents")
          .select(
            col("doc_id"),
            size(array_distinct(toks)).cast("long").as("n_distinct"),
            size(toks).cast("long").as("n_tokens"),
            // floor-based 4-dp snap (NOTES.md): identical double ops on
            // both engines, no round() tie-break semantics to diverge
            (floor(ratio * 10000 + 0.5) / 10000.0).as("distinct_ratio"),
            (ratio < 0.35).as("repetitive"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        SELECT doc_id,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               floor((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                     * 10000 + 0.5) / 10000.0 AS distinct_ratio,
               (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) < 0.35)
                 AS repetitive
        FROM (SELECT doc_id, $toksSql AS toks FROM documents)
        ORDER BY doc_id""")),

    // Sequence packing (ops/Pack): concat-and-chunk into 512-token
    // training sequences via the distributed two-phase prefix sum; the
    // oracle is the single-window formulation, which the parallel form
    // must reproduce exactly — this check IS the scan-algorithm proof.
    "q67_sequence_pack" -> QueryDef(
      fn = (s, d) => Pack.packSequences(
          t(s, d, "documents")
            .select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", budget = 512)
        .orderBy("doc_id"),
      oracle = Some(Pack.packSql(s"len($toksSql)", 512))),

    // Batched inference plumbing (ops/Inference): fixed-size batches
    // through mapPartitions with a deterministic SQL-expressible scorer —
    // the oracle verifies the row↔score mapping survives batching.
    "q68_batched_inference" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        Inference.scoreBatched(
          t(s, d, "documents").select(col("doc_id"), col("text"))
            .as[(Long, String)],
          new Inference.TokenDensityScorer, batchSize = 64)
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        SELECT doc_id,
               floor((CAST(len($toksSql) AS DOUBLE) / (length(text) + 1))
                     * 1000000 + 0.5) / 1000000.0 AS score
        FROM documents ORDER BY doc_id""")),

    // Repeated-span detection (ops/Spans): token spans shared by >= 2
    // documents, merged into maximal spans per doc (gaps-and-islands).
    // The substring-level dedup signal document-level dedup misses.
    "q70_repeated_spans" -> QueryDef(
      fn = (s, d) => graft.ops.Spans.repeatedSpans(
          t(s, d, "documents"), "doc_id", "text", n = 8, minDocs = 2)
        .orderBy("doc_id", "span_start"),
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
        grams AS (SELECT doc_id, i AS pos,
                         array_to_string(toks[i:i+7], ' ') AS gram
                  FROM toks,
                  LATERAL (SELECT unnest(generate_series(1, len(toks)-7)) AS i) g),
        rep AS (SELECT gram FROM grams
                GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        r AS (SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS island
              FROM grams WHERE gram IN (SELECT gram FROM rep))
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + 7 AS BIGINT) AS span_end,
               count(*) AS n_grams
        FROM r GROUP BY doc_id, island ORDER BY doc_id, span_start""")),

    // Packed training shards: materialize q67's assignment — the docs
    // STARTING in each 512-token window, concatenated in offset order
    // with an <eos> separator. The groupBy key is the sequence id
    // (uniform), and each group is a handful of docs: the canonical
    // "write training shards" shuffle shape.
    "q72_packed_shards" -> QueryDef(
      fn = (s, d) => {
        val packed = Pack.packSequences(
          t(s, d, "documents").select(col("doc_id"), col("text"),
            TF.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", budget = 512)
        packed.groupBy("seq_id")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            array_join(
              transform(
                array_sort(collect_list(struct(col("offset_in_seq"),
                  col("doc_id"), col("text")))),
                x => x.getField("text")),
              " <eos> ").as("shard_text"))
          .orderBy("seq_id")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, text, len($toksSql) AS n_tokens
                      FROM documents),
        cum AS (SELECT doc_id, text, n_tokens,
                CAST(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  - n_tokens AS start FROM toks)
        SELECT CAST(start // 512 AS BIGINT) AS seq_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               string_agg(text, ' <eos> '
                 ORDER BY start % 512, doc_id) AS shard_text
        FROM cum GROUP BY 1 ORDER BY seq_id""")),

    // TF-IDF keyword extraction, top-3 per document. Rational idf
    // (tf * N / df, no logarithm) on purpose: both engines divide the
    // SAME exact integers, so scores are bit-identical — a libm ln()
    // could differ by an ulp between engines and flip a rank tie.
    // The df dimension is |vocab| rows -> broadcast; the token explode
    // is the op's inherent cost.
    "q71_tfidf_keywords" -> QueryDef(
      fn = (s, d) => {
        val docsDf = t(s, d, "documents")
        val n = docsDf.count() // bounded scalar (one long on the driver)
        val tok = docsDf.select(col("doc_id"),
          explode(TF.tokens(col("text"))).as("token"))
        val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        // df from tf (one row per doc x token already): plain count there
        // equals countDistinct(doc_id) over the raw stream, and the
        // corpus is tokenized once instead of twice (the q124 trick)
        val dfDim = tf.groupBy("token")
          .agg(count(lit(1)).as("df"))
        val scored = tf.join(broadcast(dfDim), Seq("token"))
          .withColumn("score", (col("tf") * lit(n)).cast("double") / col("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(desc("score"), col("token"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank").cast("long").as("rank"),
            col("token"),
            // floor-based 6-dp snap: identical double ops both engines
            (floor(col("score") * 1000000 + 0.5) / 1000000.0).as("score"))
          .orderBy("doc_id", "rank")
      },
      oracle = Some(s"""
        WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        dfd AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        nn AS (SELECT count(*) AS n FROM documents),
        r AS (SELECT tf.doc_id, tf.token,
                     CAST(tf.tf * nn.n AS DOUBLE) / dfd.df AS score,
                     row_number() OVER (PARTITION BY tf.doc_id
                       ORDER BY CAST(tf.tf * nn.n AS DOUBLE) / dfd.df DESC,
                                tf.token) AS rank
              FROM tf JOIN dfd ON tf.token = dfd.token CROSS JOIN nn)
        SELECT doc_id, CAST(rank AS BIGINT) AS rank, token,
               floor(score * 1000000 + 0.5) / 1000000.0 AS score
        FROM r WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // Per-source contribution cap: no single domain may contribute more
    // than K documents — the standard anti-domination curation step. The
    // kept subset is deterministic (md5 order, doc_id tie-break), so
    // re-runs and both engines agree.
    "q73_per_source_cap" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        t(s, d, "documents")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .groupBy("source")
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
          .orderBy("source")
      },
      oracle = Some("""
        SELECT source, count(*) AS n, min(doc_id) AS min_id FROM (
          SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
        WHERE rn <= 10 GROUP BY source ORDER BY source""")),

    // Unicode NFC normalization (native codegen'd Expression): both
    // engines append the DECOMPOSED "cafe" + U+0301 and normalize — the
    // composed form must come back one code point shorter, and the
    // normalized strings hash-compare cell-exactly. chr(769) is DuckDB's
    // spelling of the combining acute.
    "q74_nfc_normalize" -> QueryDef(
      fn = (s, d) => {
        val raw = concat(col("text"), lit(" cafe\u0301")) // e + combining acute, escaped
        t(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.expressions.NfcNormalize
              .nfcNormalize(raw, session = Some(s)) // pin: no thread-local reliance
              .as("norm_text"),
            length(raw).cast("long").as("n_chars_raw"))
          .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               nfc_normalize(text || ' cafe' || chr(769)) AS norm_text,
               length(text || ' cafe' || chr(769)) AS n_chars_raw,
               length(nfc_normalize(text || ' cafe' || chr(769))) AS n_chars_norm
        FROM documents ORDER BY doc_id""")),

    // Overlapping document chunking (size 32, overlap 8): the window
    // split embedding pipelines run before encoding long docs. Window
    // starts are 1, 1+stride, ... up to n-overlap, so every token is
    // covered and no window is pure overlap; the tail window may be
    // short. Pure map + explode — no shuffle before the final sort.
    "q75_doc_chunks" -> QueryDef(
      fn = (s, d) => {
        t(s, d, "documents")
          .select(col("doc_id"), TF.tokens(col("text")).as("__toks"))
          .withColumn("__n", size(col("__toks")))
          .filter(col("__n") > 0)
          .select(col("doc_id"), col("__toks"), col("__n"),
            explode(sequence(lit(1),
              greatest(lit(1), col("__n") - ChunkOverlap),
              lit(ChunkStride))).as("start"))
          .select(
            col("doc_id"),
            expr(s"CAST((start - 1) div $ChunkStride AS BIGINT)").as("chunk_id"),
            array_join(slice(col("__toks"), col("start"), lit(ChunkSize)), " ")
              .as("chunk_text"),
            least(lit(ChunkSize), col("__n") - col("start") + 1).cast("long")
              .as("n_chunk_tokens"))
          .orderBy("doc_id", "chunk_id")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
        t2 AS (SELECT doc_id, toks, len(toks) AS n FROM toks
               WHERE len(toks) > 0)
        SELECT doc_id,
               CAST((i - 1) // $ChunkStride AS BIGINT) AS chunk_id,
               array_to_string(toks[i:i+${ChunkSize - 1}], ' ') AS chunk_text,
               CAST(least($ChunkSize, n - i + 1) AS BIGINT) AS n_chunk_tokens
        FROM t2,
        LATERAL (SELECT unnest(generate_series(1,
                   greatest(1, n - $ChunkOverlap), $ChunkStride)) AS i) g
        ORDER BY doc_id, chunk_id""")),

    // Stratified sampling (ops/Sampling.stratifiedKeep): per-language
    // deterministic downsampling — rebalance an over-represented stratum
    // without touching the rest; hash-prefix mechanism shared with q58.
    "q69_stratified_sample" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .filter(Sampling.stratifiedKeep(col("doc_id"), col("lang"),
          Catalog.strataFractions))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy("lang"),
      oracle = Some(s"""
        SELECT lang, count(*) AS n, min(doc_id) AS min_id FROM documents
        WHERE ${Sampling.stratifiedKeepSql("doc_id", "lang", strataFractions)}
        GROUP BY lang ORDER BY lang""")),

    // Weighted sampling WITH replacement (ops/WeightedSample): 64 draws
    // proportional to n_chars by integer cumulative-weight inversion —
    // the "sample documents proportional to length" corpus-mixing
    // primitive. All-integer math (long cumsum intervals, md5-derived
    // mod-reduced targets), so both engines select identical rows; the
    // Spark side is a two-phase range-partitioned prefix sum plus a
    // k-row broadcast containment probe, no corpus shuffle.
    "q161_weighted_sample" -> QueryDef(
      fn = (s, d) => graft.ops.WeightedSample.sampleWithReplacement(
          t(s, d, "documents"), "doc_id", "n_chars", k = 64)
        .orderBy("draw_id"),
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, n_chars AS weight,
                 coalesce(sum(n_chars) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM documents WHERE n_chars > 0),
        t AS (SELECT CAST(sum(weight) AS BIGINT) AS tot FROM w),
        d AS (SELECT CAST(g.s AS BIGINT) AS draw_id,
                     CAST(('0x' || substring(md5(CAST(g.s AS VARCHAR)), 1, 8))
                          AS BIGINT) % (SELECT tot FROM t) AS target
              FROM (SELECT unnest(generate_series(0, 63)) AS s) g)
        SELECT d.draw_id, w.doc_id, w.weight
        FROM d JOIN w ON d.target >= w.cum AND d.target < w.cum + w.weight
        ORDER BY draw_id""")),

    // Token-budget corpus cut (ops/PrefixSum): order the corpus by a
    // deterministic quality tier (en first, longest first, id tiebreak)
    // and keep the prefix whose EXCLUSIVE running token total stays
    // under the budget — "take the best documents until the token budget
    // is spent", the standard curriculum/budget selection move. The
    // running total is the two-phase range-partitioned prefix sum (no
    // single-reducer window); the boundary doc may overshoot the budget,
    // by construction (exclusive cum < B keeps it) — pinned on both
    // engines. All-integer ordering and sums: no FP selection boundary.
    "q164_token_budget_cut" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
          TF.tokenCount(col("text")).as("n_tokens"),
          when(col("lang") === "en", 0L).otherwise(1L).as("pri"))
        graft.ops.PrefixSum.exclusive(docs,
            Seq(col("pri").asc, col("n_tokens").desc, col("doc_id").asc),
            col("n_tokens"), "cum_tokens")
          .filter(col("cum_tokens") < 50000L)
          .select("doc_id", "lang", "n_tokens", "cum_tokens")
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, lang,
                     CAST(len($toksSql) AS BIGINT) AS n_tokens,
                     CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS pri
                   FROM documents),
        c AS (SELECT doc_id, lang, n_tokens,
                CAST(coalesce(sum(n_tokens) OVER (
                  ORDER BY pri ASC, n_tokens DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                  AS cum_tokens
              FROM t)
        SELECT doc_id, lang, n_tokens, cum_tokens FROM c
        WHERE cum_tokens < 50000 ORDER BY doc_id""")),

    // Winnowing document fingerprints (round 15, wave 3) — the MOSS
    // algorithm (Schleimer-Wilkerson-Aiken, SIGMOD'03): per doc, hash
    // every token trigram, slide a w = 4 window over the hash sequence
    // and keep each window's minimum (RIGHTMOST on ties — the rule
    // that makes selections position-stable), dedupe to the
    // fingerprint set. Guarantees: any shared run of >= w + k - 1
    // tokens shares a fingerprint — unlike q19's whole-doc hash or
    // q70's exact-span index, winnowing detects PARTIAL overlap at a
    // tunable density (~2/(w+1) of grams kept). Pairs sharing >= 2
    // fingerprints (after dropping ubiquitous fingerprints seen in
    // > 20 docs — the posting-fanout guard, q101's common-gram
    // discipline) are the plagiarism/near-dup candidates. Plan shape:
    // gram hashing is map-side; window selection is a doc-keyed
    // band join (fanout exactly w); the pair stage joins the
    // FINGERPRINT posting lists (bounded by the df cap), never docs.
    // Docs under w + k - 1 = 6 tokens yield no fingerprints (both
    // engines, by construction).
    "q437_winnowing" -> QueryDef(
      fn = (s, d) => {
        val TFx = graft.functions.TextFunctions
        val tri = TFx.trigramsOfTokens(TFx.tokens(col("text")))
        val g = t(s, d, "documents")
          .select(col("doc_id"), posexplode(tri).as(Seq("__p0", "__tri")))
          .select(col("doc_id"), (col("__p0") + 1).as("pos"),
            conv(substring(md5(col("__tri")), 1, 15), 16, 10)
              .cast("long").as("h"))
          .localCheckpoint(eager = true) // window starts + band join share it
        val n = g.groupBy(col("doc_id")).agg(max(col("pos")).as("__ng"))
        val ws = g.join(n, Seq("doc_id"))
          .where(col("pos") <= col("__ng") - 3)
          .select(col("doc_id"), col("pos").as("wstart"))
        val g2 = g.select(col("doc_id").as("__d"), col("pos").as("__gp"),
          col("h").as("__gh"))
        val fp = ws.join(g2, col("doc_id") === col("__d")
            && col("__gp") >= col("wstart") && col("__gp") <= col("wstart") + 3)
          .withColumn("__rk", row_number().over(
            Window.partitionBy(col("doc_id"), col("wstart"))
              .orderBy(col("__gh").asc, col("__gp").desc)))
          .where(col("__rk") === 1)
          .select(col("doc_id"), col("__gh").as("h")).distinct()
          .localCheckpoint(eager = true) // df cap + counts + pair join share it
        val kept = fp.join(broadcast(fp.groupBy(col("h"))
            .agg(count(lit(1)).as("__df")).where(col("__df") <= 20)
            .select(col("h"))), Seq("h"))
          .localCheckpoint(eager = true)
        val cnt = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
        val pairs = kept.toDF("h", "da").join(kept.toDF("h", "db"), Seq("h"))
          .where(col("da") < col("db"))
          .groupBy(col("da"), col("db"))
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 2L)
        pairs.join(cnt.toDF("da", "n_fp_a"), Seq("da"))
          .join(cnt.toDF("db", "n_fp_b"), Seq("db"))
          .select(col("da").as("doc_a"), col("db").as("doc_b"),
            col("n_shared"), col("n_fp_a"), col("n_fp_b"),
            expr("n_shared * 1000000 div least(n_fp_a, n_fp_b)")
              .as("overlap_e6"))
          .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      },
      oracle = Some(s"""
        WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
        tk AS (SELECT doc_id, unnest(toks) AS tok,
                      generate_subscripts(toks, 1) AS pos
               FROM t0),
        g AS (SELECT a.doc_id, a.pos,
                     ('0x' || substring(md5(a.tok || ' ' || b.tok || ' ' || c.tok), 1, 15))::BIGINT AS h
              FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                        JOIN tk c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        n AS (SELECT doc_id, max(pos) AS ng FROM g GROUP BY 1),
        ws AS (SELECT g.doc_id, g.pos AS wstart
               FROM g JOIN n ON g.doc_id = n.doc_id WHERE g.pos <= n.ng - 3),
        cand AS (SELECT w.doc_id, w.wstart, g.pos, g.h,
                        row_number() OVER (PARTITION BY w.doc_id, w.wstart
                                           ORDER BY g.h ASC, g.pos DESC) AS rk
                 FROM ws w JOIN g ON g.doc_id = w.doc_id
                   AND g.pos BETWEEN w.wstart AND w.wstart + 3),
        fp AS (SELECT DISTINCT doc_id, h FROM cand WHERE rk = 1),
        kept AS (SELECT fp.doc_id, fp.h FROM fp
                 JOIN (SELECT h FROM fp GROUP BY h HAVING count(*) <= 20) ok
                   ON fp.h = ok.h),
        cnt AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY 1),
        sh AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
               FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT sh.da AS doc_a, sh.db AS doc_b,
               CAST(sh.n_shared AS BIGINT) AS n_shared,
               CAST(ca.n_fp AS BIGINT) AS n_fp_a,
               CAST(cb.n_fp AS BIGINT) AS n_fp_b,
               CAST(sh.n_shared * 1000000 // least(ca.n_fp, cb.n_fp)
                 AS BIGINT) AS overlap_e6
        FROM sh JOIN cnt ca ON sh.da = ca.doc_id
                JOIN cnt cb ON sh.db = cb.doc_id
        ORDER BY n_shared DESC, doc_a, doc_b""")),
  )
}
