package graft.queries

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


import Catalog._

/** text analysis, embedding similarity and the LSH dedup suites (q18-q30).
  *
  * One slice of the query catalog (split from the single 3.9k-line map
  * in round 5). Entry ORDER is load-bearing: [[Catalog.all]] is a
  * ListMap concatenated slice-by-slice, and oracle_sql.json iterates
  * it in insertion order.
  */
private[queries] object CatalogTextVec {
  def entries: Seq[(String, QueryDef)] = Seq(
    // ===== text analysis (training-data ops) =====

    // Token counting (whitespace tokenizer) + char stats.
    "q18_token_stats" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
                TF.tokenCount(col("text")).as("n_tokens"),
                length(col("text")).cast("long").as("n_chars"),
                round(TF.meanTokenLength(col("text")), 4).as("mean_token_len"))
        .orderBy("doc_id"),
      oracle = Some(s"""
        SELECT doc_id, len(toks) AS n_tokens,
               length(text) AS n_chars,
               round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE), 4) AS mean_token_len
        FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
        ORDER BY doc_id""")),

    // Document fingerprinting (md5 of normalized text — engine-portable).
    "q19_fingerprint" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      oracle = Some(s"""
        SELECT doc_id, md5(array_to_string($toksSql, ' ')) AS fp
        FROM documents ORDER BY doc_id""")),

    // Exact dedup groups: hash-groupBy on the fingerprint, deterministic
    // min-id survivor.
    "q20_exact_dedup" -> QueryDef(
      fn = (s, d) => Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text")
        .orderBy("fingerprint"),
      oracle = Some(s"""
        SELECT md5(array_to_string($toksSql, ' ')) AS fingerprint,
               min(doc_id) AS canonical_id, count(*) AS dup_count
        FROM documents GROUP BY 1 ORDER BY fingerprint"""),
      bench = true),

    // Quality scoring (length/punct/stopword terms), SQL generated from the
    // same constants.
    "q21_quality_score" -> QueryDef(
      fn = (s, d) => {
        val stops = TF.langMarkers("en")
        t(s, d, "documents")
          .select(col("doc_id"),
                  TF.tokenCount(col("text")).as("n_tokens"),
                  round(TF.stopwordRatio(col("text"), stops), 4).as("stop_ratio"),
                  round(TF.punctRatio(col("text")), 4).as("punct_ratio"),
                  TF.qualityScore(col("text"), stops).as("quality"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
               round(stop_ratio, 4) AS stop_ratio,
               round(punct_ratio, 4) AS punct_ratio,
               $qualityExprSql AS quality
        FROM ($qualityInnerSql)
        ORDER BY doc_id""")),

    // Language ID (marker-word argmax), SQL generated from the same marker
    // table with the same tie-break order.
    "q22_lang_id" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .select(col("doc_id"), col("lang"), TF.langId(col("text")).as("lang_guess"))
        .orderBy("doc_id"),
      oracle = Some(langIdSql)),

    // ===== embeddings: similarity + near-dup (training-data ops) =====

    // Vector norm via higher-order aggregate (double accumulation).
    "q23_embedding_norm" -> QueryDef(
      fn = (s, d) => t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
                round(VF.norm(col("embedding")), 4).as("norm"))
        .orderBy("vec_id"),
      oracle = Some("""
        SELECT vec_id, label,
               round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm
        FROM embeddings ORDER BY vec_id""")),

    // Pairwise cosine on a key slice (exact, both engines sequential-sum).
    "q24_cosine_pairs" -> QueryDef(
      fn = (s, d) => {
        val e = t(s, d, "embeddings").filter(col("vec_id") < 10)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
        a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
                  round(VF.cosine(col("va"), col("vb")), 6).as("cosine"))
          .orderBy("id_a", "id_b")
      },
      oracle = Some(s"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cosine
        FROM embeddings a, embeddings b
        WHERE a.vec_id < 10 AND b.vec_id < 10 AND a.vec_id < b.vec_id
        ORDER BY id_a, id_b""")),

    // Brute-force cosine top-k (exact ANN baseline): 20 queries, k=5.
    "q25_knn_bruteforce" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopK(
            emb.filter(col("vec_id") < 20), emb, k = 5)
          .orderBy("query_id", "rank")
      },
      oracle = Some(s"""
        SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
               CAST(rn AS BIGINT) AS rank
        FROM (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rn
          FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ${cosineSql("q.embedding", "c.embedding")} AS cosine
            FROM embeddings q, embeddings c
            WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id))
        WHERE rn <= 5 ORDER BY query_id, rank"""),
      bench = true),

    // ===== LSH dedup suites =====
    // Construction: union the corpus with an id-shifted exact copy, so the
    // expected duplicate pairs are provable in SQL while the full
    // signature → banding → bucket-join → verify path executes for real.

    // MinHash + LSH candidate generation, then exact n-gram-Jaccard
    // verification (the production two-stage shape: cheap LSH recall, exact
    // precision pass on candidates only). On a 200-doc slice doubled with
    // exact copies so the oracle can afford the exhaustive pair scan; LSH
    // recall at j ≥ 0.9 is 1 - (1-0.9^4)^16 ≈ 1 - 4e-8, so candidate-set ∩
    // verification equals the exhaustive answer.
    "q26_minhash_dedup" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents").filter(col("doc_id") < 200)
        val doubled = docs.select(col("doc_id"), col("text"))
          .unionAll(docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        val cands = Dedup.minhashCandidates(doubled, "doc_id", "text")
          .select("id_a", "id_b")
        Dedup.ngramJaccard(cands, doubled, "doc_id", "text")
          .filter(col("jaccard") >= 0.9)
          .select("id_a", "id_b", "jaccard")
          .orderBy("id_a", "id_b")
      },
      oracle = Some(s"""
        WITH docs2 AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 200
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 200),
        sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          FROM (SELECT doc_id, $toksSql AS toks FROM docs2))
        SELECT id_a, id_b, jaccard FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                       / CAST(len(a.shingles) + len(b.shingles)
                              - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE),
                       9) AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        WHERE jaccard >= 0.9 ORDER BY id_a, id_b"""),
      bench = true),

    // SimHash near-dup: signature + 16-bit blocking + Hamming verify; the
    // copy-pair projection (id_b = id_a + 100000) is the SQL-provable
    // slice of the candidate set.
    "q27_simhash_dup" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val doubled = docs.select(col("doc_id"), col("text"))
          .unionAll(docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        Dedup.simhashCandidates(doubled, "doc_id", "text", maxDistance = 3)
          .filter(col("id_b") === col("id_a") + 100000)
          .orderBy("id_a", "id_b")
      },
      oracle = Some("""
        SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
               CAST(0 AS INTEGER) AS hamming
        FROM documents ORDER BY id_a, id_b""")),

    // n-gram (3-shingle) Jaccard verification on candidate pairs —
    // consecutive-id pairs so the oracle can rebuild the exact value.
    "q28_ngram_jaccard" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = docs.select(col("doc_id").as("id_a"),
                                (col("doc_id") + 1).as("id_b"))
        Dedup.ngramJaccard(pairs, docs, "doc_id", "text")
          .select("id_a", "id_b", "jaccard")
          .orderBy("id_a")
      },
      oracle = Some(s"""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          FROM (SELECT doc_id, $toksSql AS toks FROM documents))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                     / CAST(len(a.shingles) + len(b.shingles)
                            - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE),
                     9) AS jaccard
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        ORDER BY id_a""")),

    // Embedding near-dup via hyperplane-LSH buckets + exact cosine.
    "q29_embedding_neardup" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val doubled = emb.select(col("vec_id"), col("embedding"))
          .unionAll(emb.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
        Dedup.embeddingNearDup(doubled, "vec_id", "embedding", minCosine = 0.98)
          .orderBy("id_a", "id_b")
      },
      oracle = Some("""
        SELECT vec_id AS id_a, vec_id + 100000 AS id_b, 1.0 AS cosine
        FROM embeddings ORDER BY id_a, id_b""")),

    // LSH-bucketed ANN (multiprobe), emitted as its GUARANTEE so the
    // oracle can gate it: per query, the returned top-5's cosine sum
    // must reach Q30_QUALITY_FLOOR of the in-engine exact brute-force
    // top-5 sum (set-overlap recall is the wrong metric here — see the
    // floor's scaladoc). The oracle asserts every query clears it: a
    // broken bucketing (wrong dim, dead multiprobe, empty candidates)
    // scores ~0 and the hash check goes red. Seeded planes make the
    // booleans deterministic.
    "q30_lsh_knn" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 20)
        val approx = Similarity.lshTopK(queries, emb, k = 5, numPlanes = 6)
        val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
        val exactSum = exact.groupBy("query_id")
          .agg(sum("cosine").as("exact_sum"))
        val approxSum = approx.groupBy("query_id")
          .agg(sum("cosine").as("approx_sum"))
        queries.select(col("vec_id").as("query_id"))
          .join(exactSum, Seq("query_id"))
          .join(approxSum, Seq("query_id"), "left")
          .select(col("query_id"),
            (coalesce(col("approx_sum"), lit(0.0))
              >= col("exact_sum") * Q30_QUALITY_FLOOR).as("quality_ok"))
          .orderBy("query_id")
      },
      oracle = Some(annQualityOracleSql)),

    // Within-document repetition ratio — the corpus-curation rule
    // (popularized by the Gopher quality filters) that catches
    // boilerplate-looped and template-generated docs the cross-doc
    // dedup paths (q20/q26) cannot see: fraction of a doc's 3-gram
    // occurrences that are repeats, 1 - distinct/total. Entirely
    // map-side per doc (explode-free: size + array_distinct on the
    // shingle array) — zero shuffles before the final sort at any
    // corpus size. Docs under 3 tokens have no grams and are excluded
    // on both engines. The ratio is one IEEE division of two exact
    // longs — correctly rounded identically everywhere, no snap needed.
    "q154_repetition_ratio" -> QueryDef(
      fn = (s, d) => t(s, d, "documents")
        .filter(TF.tokenCount(col("text")) >= 3)
        .select(col("doc_id"), TF.shingles(col("text"), 3).as("gs"))
        .select(col("doc_id"),
          size(col("gs")).cast("long").as("n_grams"),
          size(array_distinct(col("gs"))).cast("long").as("n_distinct"))
        .withColumn("rep_ratio",
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams"))
        .orderBy("doc_id"),
      oracle = Some(s"""
        WITH g AS (SELECT doc_id,
                     list_transform(generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                       AS gs
                   FROM (SELECT doc_id, $toksSql AS toks FROM documents)
                   WHERE len(toks) >= 3)
        SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
               CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
               1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)
                 AS rep_ratio
        FROM g ORDER BY doc_id""")),

    // FILTERED vector search — top-k cosine among only the corpus rows
    // passing a metadata predicate (here lang='en' via the doc_id-aligned
    // documents dim), the RAG/retrieval shape every vector store calls
    // "metadata filtering". PRE-filter strategy: the predicate joins the
    // dim BEFORE the distance computation, so non-matching vectors never
    // cost a dot product and top-k is exact over the filtered set (a
    // post-filter over an unfiltered ANN top-k can return < k rows —
    // the classic recall bug this formulation avoids). The dim join is
    // broadcast-able; the scored probe stays [[Similarity]]'s broadcast
    // cross of the 20 queries, no corpus shuffle.
    "q162_filtered_ann" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val enIds = t(s, d, "documents").filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id"))
        Similarity.bruteForceTopK(
            emb.filter(col("vec_id") < 20), emb.join(broadcast(enIds), Seq("vec_id")),
            k = 5)
          .orderBy("query_id", "rank")
      },
      oracle = Some(s"""
        SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
               CAST(rn AS BIGINT) AS rank
        FROM (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rn
          FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ${cosineSql("q.embedding", "c.embedding")} AS cosine
            FROM embeddings q, embeddings c
            WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
              AND c.vec_id IN (SELECT doc_id FROM documents
                               WHERE lang = 'en')))
        WHERE rn <= 5 ORDER BY query_id, rank""")),

    // Label-noise audit, confident-learning style (round 14) — the
    // training-label QA verb: cross-tabulate the NOISY label (the lang
    // column as shipped) against an independent predictor (q22's
    // marker-word lang-id), and report each class's off-diagonal mass
    // as its estimated noise rate — the joint-distribution core of
    // confident learning (Northcutt et al.), with the marker argmax
    // standing in for the model's predicted class. Every number is an
    // exact integer; the oracle regenerates the predictor from the
    // same marker table ([[Catalog.langIdSql]]), so a drifting
    // tie-break order in EITHER engine's argmax goes hash-red.
    // Shape: one map-side classify + a |langs|^2 cell agg. Scales.
    "q411_label_noise_audit" -> QueryDef(
      fn = (s, d) => {
        val preds = t(s, d, "documents")
          .select(col("lang"), TF.langId(col("text")).as("pred"))
        val pairs = preds.groupBy("lang", "pred")
          .agg(count(lit(1)).as("n_pair"))
        val marg = pairs.groupBy("lang").agg(
          sum(col("n_pair")).as("n_lang"),
          sum(when(col("lang") === col("pred"), col("n_pair"))
            .otherwise(0L)).as("__agree"))
        pairs.join(broadcast(marg), Seq("lang"))
          .select(col("lang"), col("pred"), col("n_pair"), col("n_lang"),
            expr("(n_lang - __agree) * 1000000 div n_lang").as("noise_e6"))
          .orderBy("lang", "pred")
      },
      oracle = Some(s"""
        WITH g AS ($langIdSql),
        j AS (SELECT lang, lang_guess AS pred, count(*) AS n_pair
              FROM g GROUP BY 1, 2),
        m AS (SELECT lang, sum(n_pair) AS n_lang,
                     sum(CASE WHEN lang = pred THEN n_pair ELSE 0 END)
                       AS agree
              FROM j GROUP BY 1)
        SELECT j.lang, j.pred, CAST(j.n_pair AS BIGINT) AS n_pair,
               CAST(m.n_lang AS BIGINT) AS n_lang,
               CAST((m.n_lang - m.agree) * 1000000 // m.n_lang AS BIGINT)
                 AS noise_e6
        FROM j JOIN m ON j.lang = m.lang
        ORDER BY j.lang, j.pred""")),

    // Intra-document repetition fraction (round 14) — the Gopher /
    // MassiveText "fraction of duplicate n-grams" quality rule at the
    // trigram grain: per doc, the share of trigram OCCURRENCES whose
    // trigram appears more than once in that document — the
    // template/boilerplate/looping-generation signal every LLM data
    // pipeline filters on. Map-side trigrams (nested zip_with — no
    // token self-join on the engine side), one (doc, trigram) count,
    // exact integer occurrence sums, e6 division. Scales.
    "q417_repetition_fraction" -> QueryDef(
      fn = (s, d) => {
        val toks = TF.tokens(col("text"))
        val trigrams = TF.trigramsOfTokens(toks) // clamped slice (ADVICE r14)
        t(s, d, "documents")
          .select(col("doc_id"), explode(trigrams).as("tri"))
          .groupBy("doc_id", "tri").agg(count(lit(1)).as("__c"))
          .groupBy("doc_id")
          .agg(sum(col("__c")).as("n_trigrams"),
            sum(when(col("__c") > 1L, col("__c")).otherwise(0L))
              .as("n_dup_occ"))
          .select(col("doc_id"), col("n_trigrams"), col("n_dup_occ"),
            expr("n_dup_occ * 1000000 div n_trigrams").as("rep_e6"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
        tk AS (SELECT doc_id, unnest(toks) AS tok,
                      generate_subscripts(toks, 1) AS pos
               FROM t0),
        tg AS (SELECT a.doc_id,
                      a.tok || ' ' || b.tok || ' ' || c.tok AS tri
               FROM tk a JOIN tk b ON a.doc_id = b.doc_id
                                  AND b.pos = a.pos + 1
                         JOIN tk c ON a.doc_id = c.doc_id
                                  AND c.pos = a.pos + 2),
        tc AS (SELECT doc_id, tri, count(*) AS c FROM tg GROUP BY 1, 2),
        g AS (SELECT doc_id, sum(c) AS nt,
                     sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS nd
              FROM tc GROUP BY 1)
        SELECT doc_id, CAST(nt AS BIGINT) AS n_trigrams,
               CAST(nd AS BIGINT) AS n_dup_occ,
               CAST(nd * 1000000 // nt AS BIGINT) AS rep_e6
        FROM g ORDER BY doc_id""")),

    // Gopher-style rule-based quality gate (round 14) — the classic
    // hard-threshold document filter (Rae et al.'s MassiveText rules,
    // adapted to this corpus's measured ranges so every rule BITES):
    // word count >= 40, mean word length in [4.0, 4.8] (compared by
    // integer cross-multiplication — no FP ratio), and >= 2 English
    // stopword hits. Per-source census of keeps and per-rule failure
    // counts — the exact readout a curation pipeline reports before
    // committing to a filter config. One map-side classify + one
    // grouped agg. Scales.
    "q418_gopher_rules" -> QueryDef(
      fn = (s, d) => {
        val stops = TF.langMarkers("en")
        val toks = TF.tokens(col("text"))
        val chars = aggregate(toks, lit(0L),
          (acc, tk) => acc + length(tk).cast("long"))
        val flagged = t(s, d, "documents").select(col("source"),
          size(toks).cast("long").as("__n"),
          chars.as("__ch"),
          size(filter(toks, tk => lower(tk).isin(stops: _*))).cast("long")
            .as("__stop"))
          .select(col("source"),
            (col("__n") >= 40L).as("__r_wc"),
            (col("__ch") * 10L >= col("__n") * 40L
              && col("__ch") * 10L <= col("__n") * 48L).as("__r_mwl"),
            (col("__stop") >= 2L).as("__r_stop"))
        flagged.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("__r_wc") && col("__r_mwl") && col("__r_stop"), 1L)
              .otherwise(0L)).as("n_keep"),
            sum(when(!col("__r_wc"), 1L).otherwise(0L)).as("n_fail_wordcount"),
            sum(when(!col("__r_mwl"), 1L).otherwise(0L)).as("n_fail_wordlen"),
            sum(when(!col("__r_stop"), 1L).otherwise(0L)).as("n_fail_stopword"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH t0 AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
        f AS (SELECT source,
                     (len(toks) >= 40) AS r_wc,
                     (list_sum(list_transform(toks, t -> length(t))) * 10
                        >= len(toks) * 40
                      AND list_sum(list_transform(toks, t -> length(t))) * 10
                        <= len(toks) * 48) AS r_mwl,
                     (${hitCountSql(TF.langMarkers("en"))} >= 2) AS r_stop
              FROM t0)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN r_wc AND r_mwl AND r_stop
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
               CAST(sum(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_fail_wordcount,
               CAST(sum(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_fail_wordlen,
               CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_fail_stopword
        FROM f GROUP BY source ORDER BY source""")),

    // Training-mix diversity per source (round 14) — "how multilingual
    // is each slice of the mix, really": per source, Shannon entropy
    // (snapped-log nats_e6 integer form, q399 discipline) and the Gini
    // coefficient (rank-weighted integer sum over the <= |langs|-row
    // per-source frame) of its LANGUAGE token distribution — the two
    // standard diversity readouts a data-mixing pipeline (q406's
    // sibling) monitors per shard. All counts exact; ranks are a total
    // (count, lang) order; per-source windows are bounded. Scales.
    "q424_mix_diversity" -> QueryDef(
      fn = (s, d) => {
        val cells = t(s, d, "documents")
          .select(col("source"), col("lang"),
            TF.tokenCount(col("text")).as("__tk"))
          .groupBy("source", "lang").agg(sum(col("__tk")).as("__c"))
          .localCheckpoint(eager = true) // entropy + gini share it
        val tot = cells.groupBy("source")
          .agg(sum(col("__c")).as("__n"), count(lit(1)).as("n_langs"))
        val wRank = Window.partitionBy("source")
          .orderBy(col("__c"), col("lang"))
        cells.join(broadcast(tot), Seq("source"))
          .withColumn("__rk", row_number().over(wRank).cast("long"))
          .groupBy(col("source"), col("__n").as("n_tokens"),
            col("n_langs"))
          .agg(
            sum(col("__c") * e6(log(col("__n").cast("double")
              / col("__c").cast("double"))))
              .as("__hsum"),
            sum((lit(2L) * col("__rk") - col("n_langs") - 1L) * col("__c"))
              .as("__gsum"))
          .select(col("source"), col("n_tokens"), col("n_langs"),
            expr("__hsum div n_tokens").as("entropy_nats_e6"),
            expr("__gsum * 1000000 div (n_langs * n_tokens)").as("gini_e6"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH c AS (SELECT source, lang, sum(len($toksSql)) AS c
                   FROM documents GROUP BY 1, 2),
        t0 AS (SELECT source, sum(c) AS n, count(*) AS k FROM c GROUP BY 1),
        r AS (SELECT c.source, c.c, t0.n, t0.k,
                     row_number() OVER (PARTITION BY c.source
                       ORDER BY c.c, c.lang) AS rk
              FROM c JOIN t0 ON c.source = t0.source),
        g AS (SELECT source, max(n) AS n, max(k) AS k,
                     sum(c * CAST(floor(ln(CAST(n AS DOUBLE)
                       / CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))
                       AS hsum,
                     sum((2 * rk - k - 1) * c) AS gsum
              FROM r GROUP BY source)
        SELECT source, CAST(n AS BIGINT) AS n_tokens,
               CAST(k AS BIGINT) AS n_langs,
               CAST(hsum // n AS BIGINT) AS entropy_nats_e6,
               CAST(gsum * 1000000 // (k * n) AS BIGINT) AS gini_e6
        FROM g ORDER BY source""")),

    // Dedup impact census (round 14, post-boards) — the before/after
    // accounting every dedup run ships to its consumers: per source,
    // how many documents, tokens, and characters exact dedup removes
    // (min-doc_id survivor, q20's canonical rule), and the share of
    // the source that was duplicate mass. The raw corpus has ZERO
    // exact duplicates (the census would be hollow — caught by the
    // vacuousness discipline), so ~a third of docs are unioned back as
    // id-shifted exact clones (the q26 fixture rule; the selector is
    // doc_id %% 3 — COPRIME with the fixture's source stride of 20, so
    // every source gets a partial slice and every column varies; %% 5
    // aligned with the stride and made removal all-or-nothing per
    // source): the expected removal is provable in SQL.
    // Pure composition of the fingerprint groupBy with exact integer
    // sums — the REPORT verb on top of the operator.
    "q425_dedup_impact" -> QueryDef(
      fn = (s, d) => {
        val base = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val docs = base
          .unionByName(base.filter(col("doc_id") % 3L === 0L)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              col("source"), col("text")))
          .select(col("doc_id"), col("source"),
            TF.fingerprint(col("text")).as("__fp"),
            TF.tokenCount(col("text")).as("__tk"),
            length(col("text")).cast("long").as("__ch"))
          .localCheckpoint(eager = true) // canonical pick + census share it
        val canon = docs.groupBy("__fp").agg(min(col("doc_id")).as("__keep"))
        docs.join(broadcast(canon), Seq("__fp"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") =!= col("__keep"), 1L).otherwise(0L))
              .as("n_removed"),
            sum(when(col("doc_id") =!= col("__keep"), col("__tk"))
              .otherwise(0L)).as("tokens_removed"),
            sum(when(col("doc_id") =!= col("__keep"), col("__ch"))
              .otherwise(0L)).as("chars_removed"),
            sum(col("__tk")).as("tokens_total"))
          .select(col("source"), col("n_docs"), col("n_removed"),
            col("tokens_removed"), col("chars_removed"),
            expr("tokens_removed * 1000000 div tokens_total")
              .as("dup_mass_e6"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH d2 AS (SELECT doc_id, source, text FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000, source, text FROM documents
                    WHERE doc_id % 3 = 0),
        f AS (SELECT doc_id, source,
                     md5(array_to_string($toksSql, ' ')) AS fp,
                     len($toksSql) AS tk, length(text) AS ch
              FROM d2),
        c AS (SELECT fp, min(doc_id) AS keep FROM f GROUP BY 1),
        j AS (SELECT f.source, f.doc_id, c.keep, f.tk, f.ch
              FROM f JOIN c ON f.fp = c.fp)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN doc_id <> keep THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_removed,
               CAST(sum(CASE WHEN doc_id <> keep THEN tk ELSE 0 END)
                 AS BIGINT) AS tokens_removed,
               CAST(sum(CASE WHEN doc_id <> keep THEN ch ELSE 0 END)
                 AS BIGINT) AS chars_removed,
               CAST(sum(CASE WHEN doc_id <> keep THEN tk ELSE 0 END)
                 * 1000000 // sum(tk) AS BIGINT) AS dup_mass_e6
        FROM j GROUP BY source ORDER BY source""")),

    // Heaps'-law vocabulary growth curve (round 14) — "how fast does
    // the corpus stop teaching anything new?": distinct TRIGRAM
    // vocabulary at 10 doc-id checkpoints (the word grain is degenerate
    // in this fixture — exactly 31 distinct words, saturated by the
    // first decile; trigrams grow 2.5k -> 16.5k across the corpus, a
    // real curve), each trigram credited to its FIRST document (min
    // doc_id — one grouped agg, no corpus-order window anywhere:
    // checkpoints are doc-id VALUE deciles, so the curve needs only a
    // 10-row broadcast), plus the LOCAL Heaps exponent between
    // consecutive checkpoints (snapped-ln e6 integers, ratio by
    // integer division — the q399 discipline). Scales.
    "q420_heaps_law" -> QueryDef(
      fn = (s, d) => {
        val toks0 = TF.tokens(col("text"))
        val trigrams = TF.trigramsOfTokens(toks0) // clamped slice (ADVICE r14)
        val docs = t(s, d, "documents")
          .select(col("doc_id"), trigrams.as("__t"))
          .localCheckpoint(eager = true) // bounds + first-occ share it
        val bounds = docs.agg(min(col("doc_id")).as("__lo"),
            max(col("doc_id")).as("__hi"))
          .select(explode(sequence(lit(1L), lit(10L))).as("k"),
            col("__lo"), col("__hi"))
          .select(col("k"),
            expr("__lo + (__hi - __lo + 1) * k div 10 - 1").as("__b"))
        val firstOcc = docs
          .select(col("doc_id"), explode(array_distinct(col("__t"))).as("tok"))
          .groupBy("tok").agg(min(col("doc_id")).as("__fd"))
        val vocabAt = firstOcc.join(broadcast(bounds),
            col("__fd") <= col("__b"))
          .groupBy("k", "__b").agg(count(lit(1)).as("vocab"))
        val docsAt = docs.join(broadcast(bounds), col("doc_id") <= col("__b"))
          .groupBy("k").agg(count(lit(1)).as("n_docs"))
        val w = Window.orderBy(col("k")) // 10-row frame — bounded
        vocabAt.join(docsAt, Seq("k"))
          .withColumn("__lnv", e6(log(col("vocab").cast("double"))))
          .withColumn("__lnn", e6(log(col("n_docs").cast("double"))))
          .withColumn("__dv", col("__lnv") - lag(col("__lnv"), 1).over(w))
          .withColumn("__dn", col("__lnn") - lag(col("__lnn"), 1).over(w))
          .select(col("k"), col("n_docs"), col("vocab"),
            expr("CAST(CASE WHEN __dn > 0 THEN __dv * 1000000 div __dn END" +
              " AS BIGINT)").as("beta_local_e6"))
          .orderBy("k")
      },
      oracle = Some(s"""
        WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
        lim AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM t0),
        bounds AS (SELECT CAST(k AS BIGINT) AS k,
                          lo + (hi - lo + 1) * k // 10 - 1 AS b
                   FROM (SELECT unnest(range(1, 11)) AS k), lim),
        tk AS (SELECT doc_id, unnest(toks) AS tok,
                      generate_subscripts(toks, 1) AS pos
               FROM t0),
        tg AS (SELECT a.doc_id,
                      a.tok || ' ' || b.tok || ' ' || c.tok AS tri
               FROM tk a JOIN tk b ON a.doc_id = b.doc_id
                                  AND b.pos = a.pos + 1
                         JOIN tk c ON a.doc_id = c.doc_id
                                  AND c.pos = a.pos + 2),
        fo AS (SELECT tri, min(doc_id) AS fd FROM tg GROUP BY 1),
        curve AS (SELECT k, b,
                         (SELECT count(*) FROM fo WHERE fo.fd <= bounds.b)
                           AS vocab,
                         (SELECT count(*) FROM t0 WHERE t0.doc_id <= bounds.b)
                           AS n_docs
                  FROM bounds),
        sl AS (SELECT k, n_docs, vocab,
                      CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1000000.0 + 0.5)
                        AS BIGINT) AS lnv,
                      CAST(floor(ln(CAST(n_docs AS DOUBLE)) * 1000000.0 + 0.5)
                        AS BIGINT) AS lnn
               FROM curve)
        SELECT k, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(vocab AS BIGINT) AS vocab,
               CAST(CASE WHEN lnn - lag(lnn) OVER (ORDER BY k) > 0
                    THEN (lnv - lag(lnv) OVER (ORDER BY k)) * 1000000
                         // (lnn - lag(lnn) OVER (ORDER BY k)) END AS BIGINT)
                 AS beta_local_e6
        FROM sl ORDER BY k""")),

    // Fuzzy entity resolution via blocked Jaro-Winkler (round 15): the
    // record-linkage verb the catalog's equality-grain dedups (q20
    // exact, q26 MinHash, q122/q387 edit-distance) stop short of —
    // typo-tolerant NAME matching with the similarity measure the
    // record-linkage literature standardized on (Winkler's strcmp95).
    // JW is computed by the native codegen Expression
    // [[graft.functions.expressions.JaroWinklerSim]] (bit-parity with
    // the DuckDB oracle proven exhaustively — floored
    // half-transpositions, boost iff jaro > 0.7, prefix cap 4).
    //
    // 100 TB shape: the quadratic step runs on the DISTINCT-NAME frame,
    // not the row frame — dedup first (hash-agg, uniform shuffle), then
    // a first-char-blocked self-join over distinct names (|V| ×
    // avg-block, broadcastable when |V| fits, else an equi-join on the
    // block key), and report at name-pair grain with pair
    // MULTIPLICITIES (cnt_a * cnt_b) instead of materializing row
    // pairs. Row-grain expansion is a later equi-join on name if a
    // consumer needs it. Giant blocks are a salting candidate, but the
    // first-char key is only a demo: production blocking keys
    // (soundex, sorted-token prefix) bound block size by construction.
    "q429_jaro_winkler_join" -> QueryDef(
      fn = (s, d) => {
        val JW = graft.functions.expressions.JaroWinklerSim
        val names = t(s, d, "part")
          .groupBy(col("p_name"))
          .agg(count(lit(1)).as("cnt"), min(col("p_partkey")).as("ex"))
          .withColumn("__blk", substring(col("p_name"), 1, 1))
          .localCheckpoint(eager = true) // both sides of the self-join
        val a = names.select(col("__blk"), col("p_name").as("name_a"),
          col("cnt").as("cnt_a"), col("ex").as("exemplar_a"))
        val b = names.select(col("__blk"), col("p_name").as("name_b"),
          col("cnt").as("cnt_b"), col("ex").as("exemplar_b"))
        a.join(broadcast(b), Seq("__blk"))
          .where(col("name_a") < col("name_b"))
          .withColumn("sim_e6",
            e6(JW.column(col("name_a"), col("name_b"), Some(s))))
          .where(col("sim_e6") >= 900000L)
          .select(col("name_a"), col("name_b"), col("sim_e6"),
            (col("cnt_a") * col("cnt_b")).as("n_row_pairs"),
            col("exemplar_a"), col("exemplar_b"))
          .orderBy(col("sim_e6").desc, col("name_a"), col("name_b"))
      },
      oracle = Some("""
        WITH n AS (SELECT p_name, CAST(count(*) AS BIGINT) AS cnt,
                          min(p_partkey) AS ex,
                          substring(p_name, 1, 1) AS blk
                   FROM part GROUP BY 1)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(floor(jaro_winkler_similarity(a.p_name, b.p_name)
                 * 1000000.0 + 0.5) AS BIGINT) AS sim_e6,
               a.cnt * b.cnt AS n_row_pairs,
               a.ex AS exemplar_a, b.ex AS exemplar_b
        FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE CAST(floor(jaro_winkler_similarity(a.p_name, b.p_name)
                 * 1000000.0 + 0.5) AS BIGINT) >= 900000
        ORDER BY sim_e6 DESC, name_a, name_b""")),

    // Max-score / champion-list pruned top-k retrieval (round 15) — the
    // WAND idea (Broder et al., CIKM'03) re-expressed for a shuffle
    // engine, and the ADDITIVE-score sibling of q390's rank-based RRF
    // bound: score docs by sum over query terms of tf * idf, but only
    // EXACT-SCORE the union of each term's top-R champion docs. A doc
    // outside every champion list has per-term contribution <= that
    // term's R-th champion contribution, so its total score is bounded
    // by B = sum of R-th champion contributions; once B is STRICTLY
    // below the k-th best fully-scored candidate (compared on the same
    // e6 grid the output is ranked by, so the proof covers grid-level
    // ties), skipping it is provably lossless. R escalates 16 -> 32 ->
    // ... until the bound closes or champions cover every posting;
    // each round is per-term-keyed (window partitioned by term — never
    // corpus-wide). At 100 TB the candidate frame is O(terms x R),
    // not O(docs): the full corpus is touched once to build tf, never
    // again. The DuckDB oracle scores every doc exhaustively — the
    // gate passing IS the losslessness proof on this corpus.
    "q430_wand_topk" -> QueryDef(
      fn = (s, d) => {
        val terms = Seq("dup", "vector", "spark", "batch")
        val k = 10
        val toks = TF.tokens(col("text"))
        val base = t(s, d, "documents")
          .select(col("doc_id") +: terms.map(tm =>
            size(filter(toks, x => x === lit(tm))).cast("long")
              .as(s"tf_$tm")): _*)
          .localCheckpoint(eager = true) // stats + champions + scoring share it
        val stats = base.agg(
          count(lit(1)).cast("double").as("nd"),
          terms.map(tm => sum(when(col(s"tf_$tm") > 0L, 1.0).otherwise(0.0))
            .as(s"df_$tm")): _*)
        // idf guarded for df = 0 (a term absent from the corpus slice):
        // its tf is 0 everywhere, but 0 * ln(nd/0) is NaN, not 0.
        def idf(tm: String): Column =
          when(col(s"df_$tm") > 0.0, log(col("nd") / col(s"df_$tm")))
            .otherwise(lit(0.0))
        def contrib(tm: String): Column =
          col(s"tf_$tm").cast("double") * idf(tm)
        val withStats = base.crossJoin(broadcast(stats))
        // long form (doc, term, tf, contrib) for champion selection
        val long = terms.map { tm =>
          withStats.where(col(s"tf_$tm") > 0L)
            .select(col("doc_id"), lit(tm).as("term"),
              col(s"tf_$tm").as("tf"), contrib(tm).as("contrib"))
        }.reduce(_ unionAll _).localCheckpoint(eager = true)
        val scoreCol = terms.map(contrib).reduce(_ + _)
        val scoredAll = withStats
          .withColumn("score_e6",
            e6(scoreCol))
          .where(col("score_e6") > 0L)
        val maxDfRow = long.groupBy(col("term")).agg(count(lit(1)).as("n"))
          .agg(max(col("n"))).collect()(0) // T rows -> 1, bounded
        // null when NO query term occurs at all: r >= 0 terminates the
        // loop immediately and the (empty) candidate frame is exact
        val maxDf = if (maxDfRow.isNullAt(0)) 0L else maxDfRow.getLong(0)
        var r = 16L
        var done = false
        var top: DataFrame = null
        while (!done) {
          // contrib is monotone in tf within a term (idf constant), so
          // champions by (tf desc, doc_id) == champions by contrib desc
          val champs = long.withColumn("__rk", row_number().over(
              Window.partitionBy(col("term"))
                .orderBy(col("tf").desc, col("doc_id").asc)))
            .where(col("__rk") <= r)
          val cands = champs.select(col("doc_id")).distinct()
          val scored = scoredAll.join(cands, Seq("doc_id"), "left_semi")
            .localCheckpoint(eager = true) // theta probe + output share it
          // theta: k-th best candidate on the output grid (<= k rows
          // collected — the audited bounded-collect class)
          val kth = scored.orderBy(col("score_e6").desc, col("doc_id"))
            .limit(k).collect()
          val thetaE6 = if (kth.length < k) -1L
            else kth.last.getAs[Long]("score_e6")
          // B: sum of R-th champion contributions (terms with < R
          // postings are exhausted and contribute 0) — 1 row collected
          val bRaw = champs.where(col("__rk") === r)
            .agg(coalesce(sum(col("contrib")), lit(0.0))).collect()(0)
            .getDouble(0)
          val bE6 = math.floor(bRaw * 1000000.0 + 0.5).toLong
          if ((thetaE6 >= 0L && bE6 < thetaE6) || r >= maxDf) {
            done = true
            top = scored.orderBy(col("score_e6").desc, col("doc_id"))
              .limit(k)
              .withColumn("rank", row_number().over(Window.orderBy(
                col("score_e6").desc, col("doc_id"))).cast("long"))
              .select(col("rank"), col("doc_id"), col("score_e6"))
              .orderBy(col("rank"))
          } else r *= 2L
        }
        top
      },
      oracle = Some(s"""
        WITH wt AS (SELECT doc_id,
                      CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf_dup,
                      CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf_vector,
                      CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf_spark,
                      CAST(len(list_filter(toks, x -> x = 'batch')) AS BIGINT) AS tf_batch
                    FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
        st AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
                      CAST(sum(CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_dup,
                      CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_vector,
                      CAST(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
                      CAST(sum(CASE WHEN tf_batch > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_batch
               FROM wt),
        sc AS (SELECT doc_id,
                      (CAST(tf_dup AS DOUBLE) * (CASE WHEN df_dup > 0 THEN ln(nd / df_dup) ELSE 0 END)
                       + CAST(tf_vector AS DOUBLE) * (CASE WHEN df_vector > 0 THEN ln(nd / df_vector) ELSE 0 END)
                       + CAST(tf_spark AS DOUBLE) * (CASE WHEN df_spark > 0 THEN ln(nd / df_spark) ELSE 0 END)
                       + CAST(tf_batch AS DOUBLE) * (CASE WHEN df_batch > 0 THEN ln(nd / df_batch) ELSE 0 END)) AS score
               FROM wt CROSS JOIN st),
        g AS (SELECT doc_id, CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS score_e6
              FROM sc)
        SELECT CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rank,
               doc_id, score_e6
        FROM g WHERE score_e6 > 0
        ORDER BY rank LIMIT 10""")),

    // Mutual (reciprocal) k-NN pairs (round 15): a is in b's top-k AND
    // b is in a's top-k — the symmetric-evidence grain used for
    // alignment mining and conservative near-dup candidates, strictly
    // stronger than q25's one-directional top-k. Ranks come from ONE
    // pair-sim frame window-ranked per query (keyed shuffle), consumed
    // twice via self-join on the flipped key — the rank frame is
    // O(n*k) after the filter, so the mutual join is cheap. Brute-force
    // pair sims here (the oracle's grain); at 100 TB the same
    // rank+flip-join composes unchanged over q44's IVF or q30's LSH
    // candidate pairs instead of the cartesian frame.
    "q431_mutual_knn" -> QueryDef(
      fn = (s, d) => {
        val kk = 5
        val emb = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val a = emb.toDF("qid", "qv")
        val b = emb.toDF("nid", "nv")
        val sims = a.join(b, col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"),
            VF.cosine(col("qv"), col("nv")).as("sim"))
        val ranked = sims.withColumn("rk", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("sim").desc, col("nid").asc)).cast("long"))
          .where(col("rk") <= kk)
          .localCheckpoint(eager = true) // both sides of the mutual join
        val fwd = ranked.select(col("qid").as("vec_a"), col("nid").as("vec_b"),
          col("sim"), col("rk").as("rank_ab"))
        val rev = ranked.select(col("nid").as("vec_a"), col("qid").as("vec_b"),
          col("rk").as("rank_ba"))
        fwd.join(rev, Seq("vec_a", "vec_b"))
          .where(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            round(col("sim"), 6).as("cosine"),
            col("rank_ab"), col("rank_ba"))
          .orderBy(col("vec_a"), col("vec_b"))
      },
      oracle = Some(s"""
        WITH s AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                          ${cosineSql("a.embedding", "b.embedding")} AS sim
                   FROM embeddings a JOIN embeddings b
                     ON a.vec_id <> b.vec_id),
        r AS (SELECT qid, nid, sim,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY sim DESC, nid) AS rk
              FROM s)
        SELECT x.qid AS vec_a, x.nid AS vec_b,
               round(x.sim, 6) AS cosine,
               CAST(x.rk AS BIGINT) AS rank_ab,
               CAST(y.rk AS BIGINT) AS rank_ba
        FROM r x JOIN r y ON x.qid = y.nid AND x.nid = y.qid
        WHERE x.rk <= 5 AND y.rk <= 5 AND x.qid < x.nid
        ORDER BY vec_a, vec_b""")),

    // Interpolated Kneser-Ney bigram language model (round 15, wave 2):
    // THE n-gram smoothing standard (Kneser & Ney 1995; Chen-Goodman's
    // winner) — beside q316's Good-Turing mass accounting and q224's
    // add-k perplexity filter, this is the production smoother:
    // absolute discount D = 0.75 plus a CONTINUATION-probability
    // back-off (how many contexts a word follows, not how often), the
    // insight that makes "San Francisco"-style collocations not leak
    // probability to "Francisco" in fresh contexts. Per-doc score =
    // order-free integer sum of per-bigram e6-snapped log probs (q405
    // discipline). Plan shape: one explode into the (w1, w2) pair
    // frame; all four count frames (c12, c1, right/left continuation
    // fan-outs) are keyed aggs off it; the model table joins back on
    // (w1, w2) — a uniform keyed shuffle, NOT forced broadcast (a real
    // LM vocab's bigram table outgrows any broadcast; AQE may still
    // pick one at fixture scale).
    "q435_kneser_ney" -> QueryDef(
      fn = (s, d) => {
        val bg = TF.bigramsOfTokens(TF.tokens(col("text")))
        val pairs = t(s, d, "documents")
          .select(col("doc_id"), explode(bg).as("b"))
          .withColumn("w1", substring_index(col("b"), " ", 1))
          .withColumn("w2", substring_index(col("b"), " ", -1))
          .select(col("doc_id"), col("w1"), col("w2"))
          .localCheckpoint(eager = true) // 4 count frames + rejoin share it
        val c12 = pairs.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
          .localCheckpoint(eager = true) // c1/n1r/n1l/B derive from it
        val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"),
          count(lit(1)).as("n1r"))
        val n1l = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1l"))
        val bTot = c12.agg(count(lit(1)).as("btot"))
        val model = c12.join(c1, Seq("w1")).join(n1l, Seq("w2"))
          .crossJoin(broadcast(bTot))
          .withColumn("__p",
            greatest(col("c12").cast("double") - lit(0.75), lit(0.0))
              / col("c1").cast("double")
              + lit(0.75) * col("n1r").cast("double")
                / col("c1").cast("double")
                * (col("n1l").cast("double") / col("btot").cast("double")))
          .select(col("w1"), col("w2"),
            e6(log(col("__p")))
              .as("__term_e6"))
        pairs.join(model, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("__term_e6")).as("ll_e6"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
        tk AS (SELECT doc_id, unnest(toks) AS tok,
                      generate_subscripts(toks, 1) AS pos
               FROM t0),
        pairs AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2
                  FROM tk a JOIN tk b ON a.doc_id = b.doc_id
                                     AND b.pos = a.pos + 1),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
        c1 AS (SELECT w1, sum(c12) AS c1, count(*) AS n1r
               FROM c12 GROUP BY 1),
        n1l AS (SELECT w2, count(*) AS n1l FROM c12 GROUP BY 1),
        bt AS (SELECT count(*) AS btot FROM c12),
        model AS (SELECT c12.w1, c12.w2,
                         CAST(floor(ln(
                           greatest(CAST(c12.c12 AS DOUBLE) - 0.75, 0.0)
                             / CAST(c1.c1 AS DOUBLE)
                           + 0.75 * CAST(c1.n1r AS DOUBLE)
                             / CAST(c1.c1 AS DOUBLE)
                             * (CAST(n1l.n1l AS DOUBLE)
                                / CAST(bt.btot AS DOUBLE)))
                           * 1000000.0 + 0.5) AS BIGINT) AS term_e6
                  FROM c12 JOIN c1 ON c12.w1 = c1.w1
                           JOIN n1l ON c12.w2 = n1l.w2
                           CROSS JOIN bt)
        SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(m.term_e6) AS BIGINT) AS ll_e6
        FROM pairs p JOIN model m ON p.w1 = m.w1 AND p.w2 = m.w2
        GROUP BY 1 ORDER BY doc_id""")),

    // Embedding-space two-sample drift test: MMD^2 (round 15, wave 4) —
    // Gretton et al.'s maximum mean discrepancy with an RBF kernel
    // between two label cohorts, the distribution-shift verb for
    // EMBEDDINGS that the scalar drift family (q150 JS, q263 PSI,
    // q265 KS) cannot express: it compares the cohorts' full mean
    // kernel embeddings, not a binned marginal. Unbiased blocks
    // (i < j within each cohort, full cross block):
    // MMD^2 = mean k(x,x') + mean k(y,y') - 2 mean k(x,y). FP
    // discipline: each kernel value is e12-snapped IMMEDIATELY after
    // the one exp (q412's transcendental rule), block sums are
    // order-free bigint adds, the three means snap once, and the
    // final statistic is pure integer arithmetic on the snapped
    // means. The pair frames are the documented O(n^2) exact
    // baseline (cohort slices here); at 100 TB the same blocks run
    // over kernel random features or a cohort SAMPLE — the statistic
    // and this gate stay identical in shape.
    "q440_embedding_mmd" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
          .where(col("label").isin(0, 1))
          .select(col("vec_id"), col("label"), col("embedding"))
          .localCheckpoint(eager = true) // three pair blocks + sizes share it
        def sideDf(lbl: Int) = emb.where(col("label") === lbl)
          .select(col("vec_id").as("ia"), col("embedding").as("va"))
        def sideDfB(lbl: Int) = emb.where(col("label") === lbl)
          .select(col("vec_id").as("ib"), col("embedding").as("vb"))
        val xx = sideDf(0).join(sideDfB(0), col("ia") < col("ib"))
          .select(lit("xx").as("__blk"), col("va"), col("vb"))
        val yy = sideDf(1).join(sideDfB(1), col("ia") < col("ib"))
          .select(lit("yy").as("__blk"), col("va"), col("vb"))
        val xy = sideDf(0).crossJoin(sideDfB(1))
          .select(lit("xy").as("__blk"), col("va"), col("vb"))
        val terms = xx.unionAll(yy).unionAll(xy)
          .withColumn("__d2", VF.sqDist(col("va"), col("vb")))
          .withColumn("__k_e12",
            floor(exp((col("__d2") * lit(-1.0)) / lit(128.0))
              * 1000000000000.0 + 0.5).cast("long"))
        val blocks = terms.groupBy(col("__blk"))
          .agg(sum(col("__k_e12")).as("s"), count(lit(1)).as("c"))
        def m(b: String, n: String) = max(when(col("__blk") === b,
          floor(col("s").cast("double") / col("c").cast("double") + 0.5)
            .cast("long"))).as(n)
        val means = blocks.agg(m("xx", "mean_xx_e12"),
          m("yy", "mean_yy_e12"), m("xy", "mean_xy_e12"))
        val sizes = emb.agg(
          sum(when(col("label") === 0, 1L).otherwise(0L)).as("n_x"),
          sum(when(col("label") === 1, 1L).otherwise(0L)).as("n_y"))
        sizes.crossJoin(broadcast(means))
          .select(col("n_x"), col("n_y"),
            col("mean_xx_e12"), col("mean_yy_e12"), col("mean_xy_e12"),
            (col("mean_xx_e12") + col("mean_yy_e12")
              - lit(2L) * col("mean_xy_e12")).as("mmd2_e12"))
      },
      oracle = Some {
        def sq(a: String, b: String) =
          s"list_sum(list_transform(list_zip($a, $b), " +
            "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) " +
            "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
        s"""
        WITH e AS (SELECT vec_id, label, embedding FROM embeddings
                   WHERE label IN (0, 1)),
        p AS (SELECT 'xx' AS blk, a.embedding AS va, b.embedding AS vb
              FROM e a JOIN e b ON a.label = 0 AND b.label = 0
                AND a.vec_id < b.vec_id
              UNION ALL
              SELECT 'yy', a.embedding, b.embedding
              FROM e a JOIN e b ON a.label = 1 AND b.label = 1
                AND a.vec_id < b.vec_id
              UNION ALL
              SELECT 'xy', a.embedding, b.embedding
              FROM e a JOIN e b ON a.label = 0 AND b.label = 1),
        k AS (SELECT blk,
                     CAST(floor(exp((d2 * -1.0) / 128.0)
                       * 1000000000000.0 + 0.5) AS BIGINT) AS k_e12
              FROM (SELECT blk, ${sq("va", "vb")} AS d2 FROM p)),
        b AS (SELECT blk, sum(k_e12) AS s, count(*) AS c
              FROM k GROUP BY 1),
        m AS (SELECT
                max(CASE WHEN blk = 'xx' THEN CAST(floor(CAST(s AS DOUBLE)
                  / CAST(c AS DOUBLE) + 0.5) AS BIGINT) END) AS mxx,
                max(CASE WHEN blk = 'yy' THEN CAST(floor(CAST(s AS DOUBLE)
                  / CAST(c AS DOUBLE) + 0.5) AS BIGINT) END) AS myy,
                max(CASE WHEN blk = 'xy' THEN CAST(floor(CAST(s AS DOUBLE)
                  / CAST(c AS DOUBLE) + 0.5) AS BIGINT) END) AS mxy
              FROM b),
        sz AS (SELECT sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS n_x,
                      sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS n_y
               FROM e)
        SELECT CAST(sz.n_x AS BIGINT) AS n_x,
               CAST(sz.n_y AS BIGINT) AS n_y,
               m.mxx AS mean_xx_e12, m.myy AS mean_yy_e12,
               m.mxy AS mean_xy_e12,
               CAST(m.mxx + m.myy - 2 * m.mxy AS BIGINT) AS mmd2_e12
        FROM sz CROSS JOIN m"""
      }),
  )
}
