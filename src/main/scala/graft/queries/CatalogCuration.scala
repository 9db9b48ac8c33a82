package graft.queries

import graft.functions.{TextFunctions => TF}
import graft.ops.{Ranking, Sampling}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Catalog._

/** Round-10 curation/statistics wave (q224+): LM-based quality
  * filtering, cross-source score calibration, and spectral embedding
  * analysis — the remaining first-class ops of a training-data engine
  * that the earlier waves didn't cover.
  *
  * One slice of the query catalog; entry ORDER is load-bearing (see
  * [[CatalogTraining]]).
  */
private[queries] object CatalogCuration {

  /** q226: embedding component scale (float -> exact integer domain). */
  private val VecScale = 1000000.0
  /** q226: power-iteration vector scale (components in [-1000, 1000]). */
  private val ItScale = 1000L
  private val Dim = 64

  /** q227: touch channels = every event type except the conversion. */
  private val AttributionChannels: Seq[String] =
    eventTypes.filterNot(_ == "purchase").sorted
  /** q227: synchronous value-iteration rounds (both engines unroll). */
  private val MarkovRounds = 6

  /** q228: GPT-2-style pre-tokenizer — maximal runs of word chars OR of
    * non-word-non-space chars. Explicit classes only (no lookbehind, no
    * \\W/\\s shorthands), so Java regex and RE2 read it identically; the
    * same literal is embedded in the Spark expr and the DuckDB oracle.
    */
  private val SubwordRegex = "[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n\\r\\f]+"

  /** q233: nested scaling-law rungs (fractions of the corpus). */
  private val LadderFracs = Seq(0.1, 0.2, 0.4, 0.8)

  /** q232: MMR selection — candidate pool size and selections per query. */
  private val MmrPool = 10
  private val MmrK = 5

  /** q275: reweighting step size, short-doc bar, and the total token
    * budget the new weights reallocate.
    */
  private val ReweightEta = 4.0
  private val ReweightCharBar = 250L
  private val ReweightBudget = 1000000L

  /** q276: repeat-ratio flag bar (1%) on the 1e-6 grid — the corpus's
    * repetition tail is thin (27/500 docs above 1% at sf0.01), so a
    * "20% like production" bar would leave the flag path hollow.
    */
  private val RepetitionBarE6 = 10000L

  /** q230/q235: cross-language duplicate injection — docs with
    * doc_id % 7 == 0 are copied (id + 900000) under a ROTATED language
    * tag, so inter-source duplicate cells and multi-doc fingerprint
    * clusters exist at every sf (the raw synthetic corpus has neither
    * at sf <= 0.01 — without this the dup matrix is all-diagonal and
    * every soft-dedup weight is exactly 1, both hollow).
    */
  private val LangRotation: Seq[(String, String)] =
    Seq("de" -> "es", "en" -> "de", "es" -> "fr", "fr" -> "zh", "zh" -> "en")
  private def rotatedLang(c: org.apache.spark.sql.Column) =
    coalesce(LangRotation.foldRight(lit(null).cast("string")) {
      case ((from, to), rest) => when(c === from, lit(to)).otherwise(rest)
    }, c)
  private val rotatedLangSql: String =
    "CASE " + LangRotation.map { case (f, t2) =>
      s"WHEN lang = '$f' THEN '$t2'" }.mkString(" ") + " ELSE lang END"

  /** q242: the survival event is the first BIG purchase (value >= this);
    * ~half the users never have one at every sf, so the right-censored
    * branch is genuinely exercised (a plain first-purchase event censors
    * nobody — every synthetic user purchases within days).
    */
  private val BigPurchase = 150.0

  def entries: Seq[(String, QueryDef)] = Seq(

    // Bigram-LM perplexity filtering — the KenLM-style quality gate of
    // LLM data pipelines: train add-one-smoothed bigram counts on the
    // 90% hash split, score every held-out doc by summed negative log
    // probability. All counts are exact integers; each per-bigram
    // log-prob is snapped to an integer 1e-6 grid IMMEDIATELY
    // (floor(ln(p)*1e6 + 0.5) — ln of a ratio of exact integers, the
    // q208 WOE precedent), so the per-doc SUM is an order-independent
    // integer and partition count can never perturb the result. Scale:
    // one tokenize+explode pass checkpointed for its three consumers,
    // count tables shuffle on uniform token keys, the vocab size is a
    // 1-row broadcast; nothing touches the driver.
    "q224_perplexity_filter" -> QueryDef(
      fn = (s, d) => {
        val ts = col("__ts")
        // slice length clamped >= 0: unclamped size-1 throws on <2-token
        // docs (ADVICE r14; same rule as TF.bigramsOfTokens)
        val bgLen = greatest(size(ts) - 1, lit(0))
        val bgArr = zip_with(
          slice(ts, lit(1), bgLen),
          slice(ts, lit(2), bgLen),
          (a, b) => struct(a.as("w1"), concat_ws(" ", a, b).as("bg")))
        val pairs = t(s, d, "documents")
          .select(col("doc_id"), TF.tokens(col("text")).as("__ts"))
          .filter(size(ts) >= 2)
          .withColumn("__train", Sampling.inSplit(col("doc_id"), 0.9))
          .select(col("doc_id"), col("__train"), explode(bgArr).as("p"))
          .select(col("doc_id"), col("__train"),
            col("p.w1").as("__w1"), col("p.bg").as("__bg"))
          .localCheckpoint(eager = true) // bigram counts + history counts + scoring
        val big = pairs.filter(col("__train"))
          .groupBy("__bg").agg(count(lit(1)).as("__c2"))
        val uni = pairs.filter(col("__train"))
          .groupBy("__w1").agg(count(lit(1)).as("__c1"))
        val vocab = uni.agg(count(lit(1)).as("__v")) // |history types|, 1 row
        val nll = -e6(log(
          (coalesce(col("__c2"), lit(0L)) + 1L).cast("double") /
            (coalesce(col("__c1"), lit(0L)) + col("__v")).cast("double")))
        pairs.filter(!col("__train"))
          .join(big, Seq("__bg"), "left")
          .join(uni, Seq("__w1"), "left")
          .crossJoin(broadcast(vocab))
          .select(col("doc_id"), nll.as("__nll"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("__nll")).as("nll_e6"))
          .withColumn("avg_nll_e6", expr("nll_e6 div n_bigrams"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH base AS (SELECT doc_id, ts,
                        substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                          < '${Sampling.thresholdHex(0.9)}' AS is_train
                      FROM (SELECT doc_id, $toksSql AS ts FROM documents)
                      WHERE len(ts) >= 2),
        pr AS (SELECT doc_id, is_train, ts[i] AS w1,
                      ts[i] || ' ' || ts[i + 1] AS bg
               FROM base,
               LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) g),
        bg AS (SELECT bg, count(*) AS c2 FROM pr WHERE is_train GROUP BY bg),
        un AS (SELECT w1, count(*) AS c1 FROM pr WHERE is_train GROUP BY w1),
        v AS (SELECT count(*) AS v FROM un),
        sc AS (SELECT pr.doc_id,
                 -CAST(floor(ln(CAST(coalesce(bg.c2, 0) + 1 AS DOUBLE)
                               / CAST(coalesce(un.c1, 0) + v.v AS DOUBLE))
                             * 1000000.0 + 0.5) AS BIGINT) AS nll
               FROM pr LEFT JOIN bg USING (bg) LEFT JOIN un USING (w1)
                       CROSS JOIN v
               WHERE NOT pr.is_train)
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(nll) AS BIGINT) AS nll_e6,
               CAST(sum(nll) // count(*) AS BIGINT) AS avg_nll_e6
        FROM sc GROUP BY doc_id ORDER BY doc_id"""),
      bench = true), // the LM-scoring family's wall-time probe

    // Cross-source quantile normalization — map every document's
    // WITHIN-SOURCE (lang) score rank onto the GLOBAL empirical score
    // distribution, the standard fix for "source A's quality scores run
    // hot" before mixing corpora. Resolution-1000 buckets keep it
    // scale-safe: the global distribution compresses to a 1001-row
    // quantile table (distributed percentRankExact -> per-bucket max ->
    // running max over the bounded spine), broadcast back; each doc then
    // needs one window within its source + one broadcast equi-join on
    // the integer bucket. percent_rank is (rank-1)/(n-1) in BOTH engines
    // (identical operands -> identical double -> identical floor), so
    // the bucket ids match exactly; scores and normalized scores stay
    // longs throughout.
    "q225_quantile_normalize" -> QueryDef(
      fn = (s, d) => {
        val sc0 = t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            TF.tokenCount(col("text")).as("score"))
          .localCheckpoint(eager = true) // global table + per-source ranks
        val g = Ranking.percentRankExact(sc0.select(col("score")),
            Seq(col("score")), out = "__pr")
          .select(col("score"), floor(col("__pr") * 1000).cast("long").as("__b"))
        val bmax = g.groupBy("__b").agg(max(col("score")).as("__ms"))
        // bounded 1001-row spine; the unpartitioned running-max window
        // is over this spine, never the corpus
        val spine = s.range(0, 1001).select(col("id").as("__b"))
        val gq = spine.join(bmax, Seq("__b"), "left")
          .withColumn("norm_score",
            max(col("__ms")).over(org.apache.spark.sql.expressions.Window
              .orderBy("__b")
              .rowsBetween(Long.MinValue, 0)))
          .select(col("__b"), col("norm_score"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("score")
        sc0
          .withColumn("__b", floor(percent_rank().over(w) * 1000).cast("long"))
          .join(broadcast(gq), Seq("__b"))
          .select(col("doc_id"), col("lang"), col("score"), col("norm_score"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH sc AS (SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS score
                    FROM documents),
        g AS (SELECT score,
                     CAST(floor(percent_rank() OVER (ORDER BY score) * 1000)
                          AS BIGINT) AS b
              FROM sc),
        bm AS (SELECT b, max(score) AS ms FROM g GROUP BY b),
        sp AS (SELECT unnest(generate_series(0, 1000)) AS b),
        gq AS (SELECT sp.b,
                      max(bm.ms) OVER (ORDER BY sp.b ROWS UNBOUNDED PRECEDING)
                        AS norm_score
               FROM sp LEFT JOIN bm ON sp.b = bm.b),
        src AS (SELECT doc_id, lang, score,
                       CAST(floor(percent_rank() OVER
                           (PARTITION BY lang ORDER BY score) * 1000)
                            AS BIGINT) AS b
                FROM sc)
        SELECT src.doc_id, src.lang, src.score,
               CAST(gq.norm_score AS BIGINT) AS norm_score
        FROM src JOIN gq ON src.b = gq.b ORDER BY doc_id""")),

    // Dominant embedding direction by power iteration over the EXACT
    // second-moment matrix — the spectral step under PCA whitening /
    // anisotropy audits of an embedding corpus. Components scale to
    // integer 1e-6 units (the cents trick), so the d x d moment matrix
    // is a SUM OF EXACT LONGS accumulated per partition by Gram
    // (MLlib's computeGramianMatrix shape: each partition folds into
    // ONE d(d+1)/2 long array, only partitions x 2080 partial rows
    // shuffle — a 2080x-per-row explode never materializes); three
    // power iterations then run on the driver over the bounded O(d^2)
    // matrix (the IvfIndex-centroids precedent) in BigInt,
    // renormalizing each round to a signed integer 1e-3 grid
    // (sign * floor(|u|*1000 / max|u|) — floor-on-nonnegative ≡
    // truncation, so BigInt `/` and DuckDB `//` agree). Every number in
    // every round is an exact integer => the unrolled DuckDB oracle
    // reproduces all three iteration vectors bit-for-bit.
    "q226_power_iteration" -> QueryDef(
      fn = (s, d) => {
        val scaled = (x: org.apache.spark.sql.Column) =>
          (x.cast("double") * VecScale + signum(x.cast("double")) * 0.5).cast("long")
        val arr = t(s, d, "embeddings").select(
          transform(col("embedding"), x => scaled(x)).as("__sx"))
        val cov = {
          import s.implicits._
          graft.ops.Gram.upperGramian(arr.as[Seq[Long]], Dim)
        }
        // bounded driver step: d(d+1)/2 = 2080 rows, O(d^2) like the
        // IvfIndex centroid pull — never corpus-sized
        val upper = cov.collect().map(r =>
          (r.getInt(0), r.getInt(1), BigInt(r.getLong(2))))
        val m = Array.ofDim[BigInt](Dim, Dim)
        for (i <- 0 until Dim; j <- 0 until Dim) m(i)(j) = BigInt(0)
        upper.foreach { case (i, j, v) => m(i)(j) = v; if (i != j) m(j)(i) = v }
        def step(v: Array[BigInt]): Array[BigInt] = {
          val u = Array.tabulate(Dim)(i =>
            (0 until Dim).map(j => m(i)(j) * v(j)).sum)
          val mx = u.map(_.abs).max
          u.map(x => if (x.signum >= 0) (x * ItScale) / mx
                     else -(((-x) * ItScale) / mx))
        }
        val v1 = step(Array.fill(Dim)(BigInt(ItScale)))
        val v2 = step(v1)
        val v3 = step(v2)
        import s.implicits._
        (0 until Dim).map(i =>
            (i.toLong, v1(i).toLong, v2(i).toLong, v3(i).toLong))
          .toDF("idx", "v1", "v2", "v3")
          .orderBy("idx")
      },
      oracle = Some {
        val iters = (1 to 3).map { k =>
          s"""u$k AS (SELECT fm.i, sum(CAST(fm.m AS HUGEINT) * v${k - 1}.v) AS u
                 FROM fm JOIN v${k - 1} ON fm.j = v${k - 1}.i GROUP BY fm.i),
              mx$k AS (SELECT max(abs(u)) AS mx FROM u$k),
              v$k AS (SELECT i, CASE WHEN u >= 0
                        THEN CAST((u * $ItScale) // mx AS BIGINT)
                        ELSE -CAST(((-u) * $ItScale) // mx AS BIGINT) END AS v
                      FROM u$k CROSS JOIN mx$k)"""
        }.mkString(",\n")
        s"""
        WITH px AS (SELECT vec_id,
                      unnest(generate_series(0, len(embedding) - 1)) AS i,
                      CAST(round(unnest(embedding) * $VecScale) AS BIGINT) AS x
                    FROM embeddings),
        cov AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS m
                FROM px a JOIN px b ON a.vec_id = b.vec_id AND a.i <= b.i
                GROUP BY 1, 2),
        fm AS (SELECT i, j, m FROM cov
               UNION ALL SELECT j, i, m FROM cov WHERE i <> j),
        v0 AS (SELECT unnest(generate_series(0, ${Dim - 1})) AS i,
                      CAST($ItScale AS BIGINT) AS v),
        $iters
        SELECT CAST(v1.i AS BIGINT) AS idx, v1.v AS v1, v2.v AS v2, v3.v AS v3
        FROM v1 JOIN v2 USING (i) JOIN v3 USING (i) ORDER BY idx"""
      },
      bench = true), // the Gramian-accumulation wall-time probe

    // Markov-chain attribution by REMOVAL EFFECT — the principled
    // upgrade over q113's last-touch: build the first-order journey
    // chain (START -> touches -> CONV on first purchase / NULL), then
    // for each channel compare absorption-in-CONV probability with that
    // channel knocked out (its incoming transitions routed to NULL).
    // Absorption probabilities come from 6 synchronous value-iteration
    // rounds computed ENTIRELY in integers: transition probabilities
    // stay as count/total rationals and each round is
    // p'(s) = floor(sum_t c(s,t) * p(t) / n(s)) on a 1e-6 grid, so the
    // driver's BigInt loop and the oracle's unrolled SQL agree exactly.
    // Scale: the corpus sees one user-keyed window pass; the driver
    // holds only the <= |states|^2 transition-count matrix (bounded,
    // like q226's moment matrix).
    "q227_markov_attribution" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wDesc = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        val firstP = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(min(struct(col("ts"), col("event_id"))).as("__p"))
        val touches = ev.filter(col("event_type") =!= "purchase")
          .join(firstP, Seq("user_id"), "left")
          .filter(col("__p").isNull ||
            struct(col("ts"), col("event_id")) < col("__p"))
        val seqd = touches
          .withColumn("__prev", lag(col("event_type"), 1).over(w))
          .withColumn("__rnd", row_number().over(wDesc))
        val mid = seqd.select(coalesce(col("__prev"), lit("START")).as("src"),
          col("event_type").as("dst"))
        val lastT = seqd.filter(col("__rnd") === 1)
          .select(col("event_type").as("src"),
            when(col("__p").isNotNull, lit("CONV")).otherwise(lit("NULL"))
              .as("dst"))
        val noTouch = firstP
          .join(touches.select("user_id").distinct(), Seq("user_id"), "left_anti")
          .select(lit("START").as("src"), lit("CONV").as("dst"))
        // bounded driver pull: <= (|channels|+1)^2 transition counts
        val trans = mid.unionAll(lastT).unionAll(noTouch)
          .groupBy("src", "dst").agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        val states = "START" +: AttributionChannels
        val outs = states.map(st =>
          st -> trans.collect { case ((s2, t2), c) if s2 == st => t2 -> c }.toSeq)
          .toMap
        def absorb(removed: Option[String]): Long = {
          var p = states.map(_ -> BigInt(0)).toMap
          for (_ <- 1 to MarkovRounds) {
            val prev = p
            p = states.map { st =>
              val o = outs(st)
              val n = o.map(_._2).sum
              if (n == 0L) st -> BigInt(0)
              else {
                val num = o.map { case (t2, c) =>
                  val pv: BigInt = t2 match {
                    case "CONV"                       => BigInt(1000000)
                    case "NULL"                       => BigInt(0)
                    case x if removed.contains(x)     => BigInt(0)
                    case x                            => prev.getOrElse(x, BigInt(0))
                  }
                  BigInt(c) * pv
                }.sum
                st -> num / BigInt(n)
              }
            }.toMap
          }
          p("START").toLong
        }
        val full = absorb(None)
        import s.implicits._
        AttributionChannels.map { c =>
          val rem = absorb(Some(c))
          (c, full, rem, full - rem)
        }.toDF("channel", "p_full_e6", "p_removed_e6", "removal_e6")
          .orderBy("channel")
      },
      oracle = Some {
        def chain(tag: String, removedCase: String): String =
          (1 to MarkovRounds).map { k =>
            s"""p_${tag}_$k AS (SELECT tc.src AS s,
                  CAST(sum(tc.c * CASE WHEN tc.dst = 'CONV' THEN 1000000
                                       WHEN tc.dst = 'NULL' THEN 0
                                       $removedCase
                                       ELSE coalesce(pp.p, 0) END)
                       // max(tc.n) AS BIGINT) AS p
                FROM tc LEFT JOIN p_${tag}_${k - 1} pp ON tc.dst = pp.s
                GROUP BY tc.src)"""
          }.mkString(",\n")
        val zero = (st: String) =>
          s"p_${st}_0 AS (SELECT DISTINCT src AS s, CAST(0 AS BIGINT) AS p FROM tc)"
        val chains = (zero("full") + ",\n" + chain("full", "")) +: AttributionChannels.map(c =>
          zero(c) + ",\n" + chain(c, s"WHEN tc.dst = '$c' THEN 0"))
        val removedSel = AttributionChannels.map(c =>
          s"WHEN '$c' THEN (SELECT p FROM p_${c}_$MarkovRounds WHERE s = 'START')")
          .mkString(" ")
        s"""
        WITH fp AS (SELECT user_id, ts AS pts, event_id AS pid
                    FROM (SELECT user_id, ts, event_id,
                            row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
                          FROM events WHERE event_type = 'purchase')
                    WHERE rn = 1),
        tch AS (SELECT e.user_id, e.ts, e.event_id, e.event_type, fp.pts
                FROM events e LEFT JOIN fp USING (user_id)
                WHERE e.event_type <> 'purchase'
                  AND (fp.pts IS NULL
                       OR (e.ts, e.event_id) < (fp.pts, fp.pid))),
        sq AS (SELECT user_id, event_type, pts,
                      lag(event_type) OVER w AS prev,
                      row_number() OVER w2 AS rnd
               FROM tch
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
                      w2 AS (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC)),
        allt AS (SELECT coalesce(prev, 'START') AS src, event_type AS dst
                 FROM sq
                 UNION ALL
                 SELECT event_type AS src,
                        CASE WHEN pts IS NOT NULL THEN 'CONV'
                             ELSE 'NULL' END AS dst
                 FROM sq WHERE rnd = 1
                 UNION ALL
                 SELECT 'START', 'CONV' FROM fp
                 WHERE user_id NOT IN (SELECT DISTINCT user_id FROM tch)),
        tc AS (SELECT src, dst, count(*) AS c,
                      sum(count(*)) OVER (PARTITION BY src) AS n
               FROM allt GROUP BY src, dst),
        ${chains.mkString(",\n")}
        SELECT ch.channel,
               (SELECT p FROM p_full_$MarkovRounds WHERE s = 'START')
                 AS p_full_e6,
               CASE ch.channel $removedSel END AS p_removed_e6,
               (SELECT p FROM p_full_$MarkovRounds WHERE s = 'START')
                 - CASE ch.channel $removedSel END AS removal_e6
        FROM (VALUES ${AttributionChannels.map(c => s"('$c')").mkString(", ")})
             ch(channel)
        ORDER BY ch.channel"""
      }),

    // Tokenizer fertility per language — subword-to-word ratio, the
    // standard "how many BPE pieces per whitespace token does this
    // language cost" readout that drives per-language token budgeting.
    // Subwords use a GPT-2-style pre-tokenization both engines can run
    // verbatim (maximal runs of word chars or of non-word-non-space
    // chars — an explicit-class regex, no lookbehind, so RE2 and Java
    // agree). Ratios are exact: total counts are longs and fertility is
    // an integer floor-division on a 1e-6 grid. One scan, one tiny agg.
    "q228_tokenizer_fertility" -> QueryDef(
      // The raw synthetic corpus carries ZERO punctuation, so subwords
      // == tokens and every fertility reads exactly 1.0 — hollow. A
      // deterministic punctuation-bearing tail (" doc-<id>.v<id%7>!") is
      // appended per doc (the q46 injection pattern): it adds 2
      // whitespace tokens but 7-8 subword pieces, so fertilities move
      // off 1.0 and differ per language with doc/token mix.
      fn = (s, d) => {
        val aug = concat(col("text"), lit(" doc-"), col("doc_id"),
          lit(".v"), pmod(col("doc_id"), lit(7)), lit("!"))
        val sub = size(expr(
          s"regexp_extract_all(__t, '$SubwordRegex', 0)")).cast("long")
        t(s, d, "documents")
          .select(col("lang"), aug.as("__t"))
          .select(col("lang"),
            TF.tokenCount(col("__t")).as("__tk"), sub.as("__sw"))
          .filter(col("__tk") > 0)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("__tk")).as("n_tokens"),
            sum(col("__sw")).as("n_subwords"))
          .withColumn("fertility_e6",
            expr("(n_subwords * 1000000L) div n_tokens"))
          .orderBy("lang")
      },
      oracle = Some(s"""
        WITH au AS (SELECT lang,
                      concat(text, ' doc-', CAST(doc_id AS VARCHAR), '.v',
                             CAST(doc_id % 7 AS VARCHAR), '!') AS text
                    FROM documents),
        sc AS (SELECT lang,
                      CAST(len($toksSql) AS BIGINT) AS tk,
                      CAST(len(regexp_extract_all(text, '$SubwordRegex'))
                           AS BIGINT) AS sw
               FROM au)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(tk) AS BIGINT) AS n_tokens,
               CAST(sum(sw) AS BIGINT) AS n_subwords,
               CAST((sum(sw) * 1000000) // sum(tk) AS BIGINT) AS fertility_e6
        FROM sc WHERE tk > 0
        GROUP BY lang ORDER BY lang""")),

    // Character-level Shannon entropy per document — the gibberish /
    // mojibake / base64-blob detector of text curation. Category counts
    // (26 lowercased letters + one OTHER bucket) come from the exact
    // length-minus-replace trick; each category's log-probability is
    // snapped to the integer 1e-6 grid immediately (the q224 rule), so
    // the per-doc weighted sum is an order-free integer and
    // entropy_e6 = floor(-sum(c_i * L_i) / n). Pure codegen'd per-row
    // expressions — no shuffle at all until the final ORDER BY.
    "q229_char_entropy" -> QueryDef(
      fn = (s, d) => {
        val lt = lower(col("text"))
        val n = length(lt).cast("long")
        val letters = ('a' to 'z').map(_.toString)
        val cnts = letters.map(ch =>
          (length(lt) - length(regexp_replace(lt, ch, ""))).cast("long"))
        val other = n - cnts.reduce(_ + _)
        def term(c: org.apache.spark.sql.Column) =
          when(c > 0, c * e6(log(c.cast("double") / n.cast("double")))).otherwise(0L)
        val sumTerms = (cnts.map(term) :+ term(other)).reduce(_ + _)
        t(s, d, "documents")
          .select(col("doc_id"), n.as("n_chars"), (-sumTerms).as("__s"))
          .filter(col("n_chars") > 0)
          .withColumn("entropy_e6", expr("__s div n_chars"))
          .select(col("doc_id"), col("n_chars"), col("entropy_e6"))
          .orderBy("doc_id")
      },
      oracle = Some {
        val letters = ('a' to 'z').map(_.toString)
        val cnts = letters.map(ch =>
          s"CAST(length(lt) - length(replace(lt, '$ch', '')) AS BIGINT)")
        val cntCols = cnts.zipWithIndex
          .map { case (e, i) => s"$e AS c$i" }.mkString(", ")
        val otherExpr = s"n - (${(0 until letters.size).map(i => s"c$i")
          .mkString(" + ")})"
        val term = (c: String) =>
          s"""CASE WHEN $c > 0 THEN $c * CAST(floor(ln(CAST($c AS DOUBLE)
                / CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
              ELSE 0 END"""
        val sumTerms = ((0 until letters.size).map(i => term(s"c$i"))
          :+ term("oth")).mkString(" + ")
        s"""
        WITH b AS (SELECT doc_id, lower(text) AS lt,
                          CAST(length(lower(text)) AS BIGINT) AS n
                   FROM documents),
        c AS (SELECT doc_id, n, $cntCols FROM b),
        o AS (SELECT doc_id, n, ${(0 until letters.size).map(i => s"c$i")
          .mkString(", ")}, $otherExpr AS oth FROM c)
        SELECT doc_id, n AS n_chars,
               CAST((-($sumTerms)) // n AS BIGINT) AS entropy_e6
        FROM o WHERE n > 0 ORDER BY doc_id"""
      }),

    // Inter-source (language) exact-duplicate census — the dataset-
    // mixing diagnostic "how much of source A is literally inside
    // source B": fingerprint groups reduced to their distinct language
    // sets, exploded to unordered language pairs, counted. The diagonal
    // (la = lb) is each source's own fingerprint-group count, so shares
    // are computable downstream. One uniform fingerprint-keyed shuffle;
    // the pair fanout per group is bounded by |langs|^2.
    "q230_dup_matrix" -> QueryDef(
      fn = (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"), col("lang"),
          col("text"))
        val rotated = base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 900000).as("doc_id"),
            rotatedLang(col("lang")).as("lang"), col("text"))
        val fp = base.unionAll(rotated)
          .select(TF.fingerprint(col("text")).as("__fp"), col("lang"))
          .distinct()
        val e1 = fp.select(col("__fp").as("fa"), col("lang").as("la"))
        val e2 = fp.select(col("__fp").as("fb"), col("lang").as("lb"))
        e1.join(e2, col("fa") === col("fb") && col("la") <= col("lb"))
          .groupBy("la", "lb").agg(count(lit(1)).as("n_fps"))
          .orderBy("la", "lb")
      },
      oracle = Some(s"""
        WITH t0 AS (SELECT lang, text FROM documents
                    UNION ALL
                    SELECT $rotatedLangSql AS lang, text
                    FROM documents WHERE doc_id % 7 = 0),
        f AS (SELECT DISTINCT md5(array_to_string($toksSql, ' ')) AS fp,
                     lang
              FROM t0)
        SELECT a.lang AS la, b.lang AS lb, count(*) AS n_fps
        FROM f a JOIN f b ON a.fp = b.fp AND a.lang <= b.lang
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Hard-negative mining for contrastive training — per anchor, the 3
    // MOST similar vectors with a DIFFERENT label (the highest-loss
    // negatives a triplet/InfoNCE trainer wants). Same 100 TB shape as
    // q25's brute-force kNN: the 4% anchor set is broadcast, the corpus
    // streams un-shuffled through one codegen'd cosine + label filter,
    // and the only shuffle is the per-anchor top-k window.
    "q231_hard_negatives" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.ops.Similarity.hardNegatives(
            emb.filter(col("vec_id") % 25 === 0), emb, k = 3)
          .orderBy("anchor_id", "rank")
      },
      oracle = Some(s"""
        SELECT anchor_id, anchor_label, neg_id, round(cosine, 6) AS cosine,
               CAST(rn AS BIGINT) AS rank
        FROM (
          SELECT anchor_id, anchor_label, neg_id, cosine,
                 row_number() OVER (PARTITION BY anchor_id
                                    ORDER BY cosine DESC, neg_id) AS rn
          FROM (
            SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                   c.vec_id AS neg_id,
                   ${cosineSql("a.embedding", "c.embedding")} AS cosine
            FROM embeddings a JOIN embeddings c ON a.label <> c.label
            WHERE a.vec_id % 25 = 0))
        WHERE rn <= 3 ORDER BY anchor_id, rank""")),

    // Maximal Marginal Relevance (MMR) diverse top-k — the
    // redundancy-aware selection behind RAG context packing and eval-set
    // picking: greedily take argmax of 0.5*relevance - 0.5*(max
    // similarity to anything already selected). The greedy argmax runs
    // over SNAPPED integer scores (floor((rel - msim)*5e5 + 0.5)), so
    // every round's winner is an integer comparison both engines settle
    // identically — no FP argmax ties. The candidate pool (top-10 by
    // relevance) and its 10x10 pairwise-similarity table are bounded
    // per query and checkpointed once; the 5 greedy rounds are unrolled
    // joins over those bounded frames (never the corpus), mirroring the
    // oracle's 5 unrolled CTE rounds.
    "q232_mmr_select" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val scored = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
          .crossJoin(broadcast(q)).filter(col("cid") =!= col("qid"))
          .withColumn("rel", graft.functions.VectorFunctions
            .cosine(col("qv"), col("cv")))
        val wq = Window.partitionBy("qid").orderBy(col("rel").desc, col("cid"))
        val cand = scored.withColumn("__rn", row_number().over(wq))
          .filter(col("__rn") <= MmrPool)
          .select(col("qid"), col("cid"), col("rel"), col("cv"))
          .localCheckpoint(eager = true) // pool + pair sims + 5 rounds
        val ps = cand.select(col("qid"), col("cid").as("a"), col("cv").as("av"))
          .join(cand.select(col("qid"), col("cid").as("b"), col("cv").as("bv")),
            Seq("qid"))
          .filter(col("a") =!= col("b"))
          .select(col("qid"), col("a"), col("b"),
            graft.functions.VectorFunctions.cosine(col("av"), col("bv")).as("sim"))
          .localCheckpoint(eager = true)
        val base = cand.select("qid", "cid", "rel")
        val wSel = Window.partitionBy("qid")
          .orderBy(col("score_e6").desc, col("cid"))
        var sel: org.apache.spark.sql.DataFrame = null
        for (r <- 1 to MmrK) {
          val rem =
            if (sel == null) base
            else base.join(sel.select(col("qid"), col("sel_id").as("cid")),
              Seq("qid", "cid"), "left_anti")
          val withMsim =
            if (sel == null) rem.withColumn("msim", lit(0.0))
            else {
              val simToSel = ps
                .join(sel.select(col("qid"), col("sel_id").as("b")), Seq("qid", "b"))
                .groupBy(col("qid"), col("a").as("cid"))
                .agg(max(col("sim")).as("msim"))
              rem.join(simToSel, Seq("qid", "cid"), "left")
                .withColumn("msim", coalesce(col("msim"), lit(0.0)))
            }
          val next = withMsim
            .withColumn("score_e6",
              floor((col("rel") - col("msim")) * 500000.0 + 0.5).cast("long"))
            .withColumn("__r", row_number().over(wSel))
            .filter(col("__r") === 1)
            .select(col("qid"), lit(r.toLong).as("sel_round"),
              col("cid").as("sel_id"), col("score_e6"))
          // lineage cut per round (the iterative-loop rule): without it
          // round k's left_anti + sim join re-embeds every previous
          // round's subtree and the physical plan doubles per round
          // (measured 10k plan lines at k=5); the frame is 8*k rows
          sel = (if (sel == null) next else sel.unionAll(next))
            .localCheckpoint(eager = true)
        }
        sel.select(col("qid").as("query_id"), col("sel_round"),
            col("sel_id"), col("score_e6"))
          .orderBy("query_id", "sel_round")
      },
      oracle = Some {
        def selsUpTo(k: Int): String =
          (1 until k).map(i => s"SELECT qid, sel_id FROM sel$i")
            .mkString(" UNION ALL ")
        val rounds = (2 to MmrK).map { k =>
          s"""sel$k AS (
               SELECT qid, cid AS sel_id, CAST($k AS BIGINT) AS sel_round,
                      score_e6
               FROM (
                 SELECT r.qid, r.cid, r.score_e6,
                        row_number() OVER (PARTITION BY r.qid
                          ORDER BY r.score_e6 DESC, r.cid) AS rn
                 FROM (
                   SELECT cand.qid, cand.cid,
                          CAST(floor((cand.rel - coalesce(ms.msim, 0.0))
                               * 500000.0 + 0.5) AS BIGINT) AS score_e6
                   FROM cand
                   LEFT JOIN (SELECT ps.qid, ps.a AS cid, max(ps.sim) AS msim
                              FROM ps JOIN (${selsUpTo(k)}) s
                                ON ps.qid = s.qid AND ps.b = s.sel_id
                              GROUP BY 1, 2) ms
                     ON cand.qid = ms.qid AND cand.cid = ms.cid
                   WHERE NOT EXISTS (SELECT 1 FROM (${selsUpTo(k)}) s2
                                     WHERE s2.qid = cand.qid
                                       AND s2.sel_id = cand.cid)) r)
               WHERE rn = 1)"""
        }.mkString(",\n")
        s"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                   WHERE vec_id < 8),
        sc AS (SELECT q.qid, c.vec_id AS cid,
                      ${cosineSql("q.qv", "c.embedding")} AS rel
               FROM q JOIN embeddings c ON c.vec_id <> q.qid),
        cand0 AS (SELECT qid, cid, rel FROM (
                    SELECT qid, cid, rel, row_number() OVER (PARTITION BY qid
                      ORDER BY rel DESC, cid) AS rn FROM sc)
                  WHERE rn <= $MmrPool),
        ce AS (SELECT cand0.qid, cand0.cid, cand0.rel, e.embedding
               FROM cand0 JOIN embeddings e ON cand0.cid = e.vec_id),
        cand AS (SELECT qid, cid, rel FROM ce),
        ps AS (SELECT a.qid, a.cid AS a, b.cid AS b,
                      ${cosineSql("a.embedding", "b.embedding")} AS sim
               FROM ce a JOIN ce b ON a.qid = b.qid AND a.cid <> b.cid),
        sel1 AS (SELECT qid, cid AS sel_id, CAST(1 AS BIGINT) AS sel_round,
                        score_e6
                 FROM (
                   SELECT qid, cid,
                          CAST(floor((rel - 0.0) * 500000.0 + 0.5) AS BIGINT)
                            AS score_e6,
                          row_number() OVER (PARTITION BY qid ORDER BY
                            CAST(floor((rel - 0.0) * 500000.0 + 0.5) AS BIGINT)
                              DESC, cid) AS rn
                   FROM cand)
                 WHERE rn = 1),
        $rounds
        SELECT qid AS query_id, sel_round, sel_id, score_e6
        FROM (${(1 to MmrK).map(i => s"SELECT * FROM sel$i")
          .mkString(" UNION ALL ")})
        ORDER BY query_id, sel_round"""
      }),

    // Nested data ladder for scaling-law runs — the 10/20/40/80% rungs
    // every "train on subsets of increasing size" study needs, NESTED by
    // construction (same md5 order, increasing threshold) so each rung
    // strictly contains the previous. One scan assigns each doc its
    // smallest rung; cumulative doc/token counts ride a 4-row window.
    "q233_data_ladder" -> QueryDef(
      fn = (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 8)
        val rung = LadderFracs.foldRight(lit(null).cast("int")) { (f, rest) =>
          when(h < lit(Sampling.thresholdHex(f)), lit((f * 1000).toInt))
            .otherwise(rest)
        }
        val perRung = t(s, d, "documents")
          .select(rung.as("frac_pm"), TF.tokenCount(col("text")).as("__tk"))
          .filter(col("frac_pm").isNotNull)
          .groupBy("frac_pm")
          .agg(count(lit(1)).as("__d"), sum(col("__tk")).as("__t"))
        // bounded 4-row cumulative window (one row per rung)
        val w = Window.orderBy("frac_pm")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perRung
          .select(col("frac_pm").cast("long").as("frac_pm"),
            sum(col("__d")).over(w).as("n_docs"),
            sum(col("__t")).over(w).as("n_tokens"))
          .orderBy("frac_pm")
      },
      oracle = Some {
        val cases = LadderFracs.map(f =>
          s"WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) " +
            s"< '${Sampling.thresholdHex(f)}' THEN ${(f * 1000).toInt}")
          .mkString(" ")
        s"""
        WITH r AS (SELECT CASE $cases END AS frac_pm,
                          CAST(len($toksSql) AS BIGINT) AS tk
                   FROM documents),
        pr AS (SELECT frac_pm, count(*) AS d, sum(tk) AS t
               FROM r WHERE frac_pm IS NOT NULL GROUP BY frac_pm)
        SELECT CAST(frac_pm AS BIGINT) AS frac_pm,
               CAST(sum(d) OVER win AS BIGINT) AS n_docs,
               CAST(sum(t) OVER win AS BIGINT) AS n_tokens
        FROM pr
        WINDOW win AS (ORDER BY frac_pm ROWS UNBOUNDED PRECEDING)
        ORDER BY frac_pm"""
      }),

    // Per-document n-gram NOVELTY against the train split — the inverse
    // of decontamination: how much of a held-out doc's 3-gram set is
    // absent from the training corpus (memorization-risk / freshness
    // proxy). Distinct grams per doc, one distinct train-gram set, one
    // uniform gram-keyed left-semi join; the ratio stays on the integer
    // 1e-6 grid.
    "q234_ngram_novelty" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), TF.tokens(col("text")).as("__ts"))
          .filter(size(col("__ts")) >= 3)
          .withColumn("__train", Sampling.inSplit(col("doc_id"), 0.9))
        val grams = docs.select(col("doc_id"), col("__train"),
            explode(array_distinct(TF.shinglesOfTokens(col("__ts"), 3)))
              .as("__g"))
          .localCheckpoint(eager = true) // train set + eval counts share it
        val trainG = grams.filter(col("__train")).select("__g").distinct()
        val evalG = grams.filter(!col("__train"))
        val seen = evalG.join(trainG, Seq("__g"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("__seen"))
        evalG.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
          .join(seen, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("__seen"), lit(0L)).as("n_seen"))
          .withColumn("novelty_e6",
            expr("((n_grams - n_seen) * 1000000L) div n_grams"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH base AS (SELECT doc_id, ts,
                        substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                          < '${Sampling.thresholdHex(0.9)}' AS is_train
                      FROM (SELECT doc_id, $toksSql AS ts FROM documents)
                      WHERE len(ts) >= 3),
        g AS (SELECT doc_id, is_train, unnest(list_distinct(
                list_transform(generate_series(1, len(ts) - 2),
                  i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]))) AS gr
              FROM base),
        tg AS (SELECT DISTINCT gr FROM g WHERE is_train),
        ev AS (SELECT doc_id, count(*) AS n_grams,
                      CAST(sum(CASE WHEN gr IN (SELECT gr FROM tg)
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
               FROM g WHERE NOT is_train GROUP BY doc_id)
        SELECT doc_id, n_grams, n_seen,
               CAST(((n_grams - n_seen) * 1000000) // n_grams AS BIGINT)
                 AS novelty_e6
        FROM ev ORDER BY doc_id""")),

    // Soft-dedup sampling weights — instead of dropping duplicates,
    // weight every doc 1/|its exact-dup cluster| so each distinct text
    // contributes unit mass (the duplication-aware sampling used when
    // dedup would lose too much volume). Cluster sizes are GLOBAL (a
    // text duplicated across languages splits its mass across them);
    // the per-language census reports raw docs, owned clusters, and the
    // effective (weighted) size on the integer 1e-6 grid. One uniform
    // fingerprint shuffle; everything else exact-integer aggs.
    "q235_soft_dedup_weights" -> QueryDef(
      fn = (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"), col("lang"),
          col("text"))
        val rotated = base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 900000).as("doc_id"),
            rotatedLang(col("lang")).as("lang"), col("text"))
        // cluster size via a window over the fingerprint key, NOT a
        // groupBy+self-join — the join form duplicates the whole union
        // subtree (4 corpus scans); the window reads the stream once on
        // the same __fp exchange (PlanSpec pins the scan count)
        val fp = base.unionAll(rotated)
          .select(col("doc_id"), col("lang"),
            TF.fingerprint(col("text")).as("__fp"))
          .withColumn("__csize",
            count(lit(1)).over(Window.partitionBy("__fp")))
        fp.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("__fp")).as("n_clusters"),
            sum(expr("1000000L div __csize")).as("eff_docs_e6"))
          .orderBy("lang")
      },
      oracle = Some(s"""
        WITH t0 AS (SELECT lang, text FROM documents
                    UNION ALL
                    SELECT $rotatedLangSql AS lang, text
                    FROM documents WHERE doc_id % 7 = 0),
        f AS (SELECT lang,
                     md5(array_to_string($toksSql, ' ')) AS fp
              FROM t0),
        cs AS (SELECT fp, count(*) AS csize FROM f GROUP BY fp)
        SELECT lang, count(*) AS n_docs,
               CAST(count(DISTINCT f.fp) AS BIGINT) AS n_clusters,
               CAST(sum(1000000 // csize) AS BIGINT) AS eff_docs_e6
        FROM f JOIN cs ON f.fp = cs.fp
        GROUP BY lang ORDER BY lang""")),

    // Token-budget allocation across sources with caps — the mixing
    // planner's core arithmetic: give each language a share of a global
    // budget (half the corpus) proportional to supply, cap at supply,
    // then redistribute the leftover to unsaturated sources in a second
    // proportional round. Every step is exact integer floor arithmetic
    // over the BOUNDED per-language frame (the corpus contributes one
    // token-count scan); both rounds unroll identically in the oracle.
    "q236_budget_allocation" -> QueryDef(
      fn = (s, d) => {
        val supply = t(s, d, "documents")
          .groupBy("lang").agg(sum(TF.tokenCount(col("text"))).as("supply"))
          .localCheckpoint(eager = true) // bounded |langs| frame, 4 consumers
        val tot = supply.agg(sum(col("supply")).as("__total"))
        val r1 = supply.crossJoin(broadcast(tot))
          .withColumn("__budget", expr("__total div 2"))
          .withColumn("alloc_r1",
            least(col("supply"), expr("(__budget * supply) div __total")))
        val left = r1.agg((max(col("__budget"))
          - sum(col("alloc_r1"))).as("__left"))
        val unsat = r1.filter(col("alloc_r1") < col("supply"))
          .agg(sum(col("supply")).as("__su"))
        r1.crossJoin(broadcast(left)).crossJoin(broadcast(unsat))
          .withColumn("alloc_r2",
            col("alloc_r1") + when(col("alloc_r1") < col("supply")
                && col("__su") > 0,
              least(col("supply") - col("alloc_r1"),
                expr("(__left * supply) div __su"))).otherwise(0L))
          .select(col("lang"), col("supply"), col("alloc_r1"), col("alloc_r2"))
          .orderBy("lang")
      },
      oracle = Some(s"""
        WITH sup AS (SELECT lang, CAST(sum(len($toksSql)) AS BIGINT) AS supply
                     FROM documents GROUP BY lang),
        tt AS (SELECT CAST(sum(supply) AS BIGINT) AS total,
                      CAST(sum(supply) // 2 AS BIGINT) AS budget
               FROM sup),
        r1 AS (SELECT lang, supply,
                      least(supply,
                        CAST((tt.budget * supply) // tt.total AS BIGINT))
                        AS alloc_r1
               FROM sup CROSS JOIN tt),
        lv AS (SELECT CAST((SELECT budget FROM tt) - sum(alloc_r1) AS BIGINT)
                        AS leftv
               FROM r1),
        us AS (SELECT CAST(coalesce(sum(supply), 0) AS BIGINT) AS su
               FROM r1 WHERE alloc_r1 < supply)
        SELECT lang, supply, alloc_r1,
               alloc_r1 + CASE WHEN alloc_r1 < supply AND us.su > 0
                 THEN least(supply - alloc_r1,
                            CAST((lv.leftv * supply) // us.su AS BIGINT))
                 ELSE 0 END AS alloc_r2
        FROM r1 CROSS JOIN lv CROSS JOIN us
        ORDER BY lang""")),

    // Streaming dedup with BOUNDED state — q60's dropDuplicates keeps
    // every key forever (the unbounded-state scale-killer);
    // dropDuplicatesWithinWatermark is the production path: state
    // expires once the watermark passes a key's event time. The fixture
    // span sits inside the 30-day delay, so within-watermark dedup ==
    // global dedup and the batch oracle is exact; production sets the
    // delay to its real dedup horizon and state stays O(keys-in-window).
    "q237_stream_dedup_ttl" -> QueryDef(
      fn = (s, d) => {
        val dir = stageEventsDir(d)
        val table = try {
          val agg = stagedEventsStream(streamingSession(s), dir)
            .withWatermark("ts", "30 days")
            .select(col("user_id"), col("event_type"), col("ts"))
            .dropDuplicatesWithinWatermark("user_id", "event_type")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n_users"))
          runToMemoryTable(agg, "q237_mem")
        } finally dropStaged(dir)
        table.orderBy("event_type")
      },
      oracle = Some(distinctUsersOracleSql),
      bench = true, streaming = true), // TTL-dedup state-shape probe (r10 verdict #7)

    // Clustering-quality readout: per-label mean silhouette over SQUARED
    // distances to exact-integer centroids — "are the labels actually
    // separated in embedding space" before anyone trains on them.
    // Components scale to a 1e-3 integer grid; centroids are floor-mean
    // integers; every squared distance is an exact long (zip_with +
    // aggregate, codegen'd); s = (b2 - a2)/max(a2, b2) lands on the 1e-6
    // grid via SIGN-HANDLED floor division (Spark `div` truncates where
    // DuckDB `//` floors — they agree only on nonnegatives, the q226
    // rule). Scale: one posexplode pass builds the bounded
    // |labels| x 64 centroid table, which broadcasts back; the corpus
    // sees one scan + a |labels|-wide broadcast fanout.
    "q238_silhouette" -> QueryDef(
      fn = (s, d) => {
        val sx = transform(col("embedding"), x =>
          (x.cast("double") * 1000.0 + signum(x.cast("double")) * 0.5)
            .cast("long"))
        val vecs = t(s, d, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            sx.as("__sx"))
          .localCheckpoint(eager = true) // centroid build + distance pass
        val cent = vecs
          .select(col("label"), posexplode(col("__sx")).as(Seq("__i", "__v")))
          .groupBy("label", "__i")
          .agg(expr("sum(__v) div count(1)").as("__c"))
          .groupBy("label")
          .agg(array_sort(collect_list(struct(col("__i"), col("__c"))))
            .as("__cs"))
          .select(col("label").as("clabel"),
            transform(col("__cs"), e => e.getField("__c")).as("__cv"))
        val d2 = aggregate(
          zip_with(col("__sx"), col("__cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
        val dists = vecs.crossJoin(broadcast(cent)).withColumn("__d2", d2)
        val perVec = dists.groupBy("vec_id", "label")
          .agg(max(when(col("label") === col("clabel"), col("__d2"))).as("__a2"),
            min(when(col("label") =!= col("clabel"), col("__d2"))).as("__b2"))
        val num = (col("__b2") - col("__a2")) * 1000000L
        val den = greatest(col("__a2"), col("__b2"))
        val sE6 = when(den > 0,
          when(num >= 0, expr("((__b2 - __a2) * 1000000L) div greatest(__a2, __b2)"))
            .otherwise(-expr("((__a2 - __b2) * 1000000L) div greatest(__a2, __b2)")))
          .otherwise(lit(0L))
        val perVecS = perVec.select(col("label"), sE6.as("__s"))
        perVecS.groupBy("label")
          .agg(count(lit(1)).as("n_vecs"), sum(col("__s")).as("__ss"))
          .select(col("label"), col("n_vecs"),
            when(col("__ss") >= 0, expr("__ss div n_vecs"))
              .otherwise(-expr("(-__ss) div n_vecs")).as("mean_sil_e6"))
          .orderBy("label")
      },
      oracle = Some("""
        WITH px AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                      unnest(generate_series(1, len(embedding))) AS i,
                      CAST(round(unnest(embedding) * 1000.0) AS BIGINT) AS x
                    FROM embeddings),
        cent AS (SELECT label AS clabel, i,
                        CAST(sum(x) // count(*) AS BIGINT) AS c
                 FROM px GROUP BY label, i),
        dd AS (SELECT px.vec_id, px.label, cent.clabel,
                      CAST(sum((px.x - cent.c) * (px.x - cent.c)) AS BIGINT)
                        AS d2
               FROM px JOIN cent ON px.i = cent.i
               GROUP BY px.vec_id, px.label, cent.clabel),
        ab AS (SELECT vec_id, label,
                      max(CASE WHEN label = clabel THEN d2 END) AS a2,
                      min(CASE WHEN label <> clabel THEN d2 END) AS b2
               FROM dd GROUP BY vec_id, label),
        sv AS (SELECT label,
                      CASE WHEN greatest(a2, b2) = 0 THEN 0
                           WHEN b2 >= a2
                             THEN CAST(((b2 - a2) * 1000000) // greatest(a2, b2)
                                       AS BIGINT)
                           ELSE -CAST(((a2 - b2) * 1000000) // greatest(a2, b2)
                                      AS BIGINT) END AS s
               FROM ab)
        SELECT label, count(*) AS n_vecs,
               CASE WHEN sum(s) >= 0
                    THEN CAST(sum(s) // count(*) AS BIGINT)
                    ELSE -CAST((-sum(s)) // count(*) AS BIGINT) END
                 AS mean_sil_e6
        FROM sv GROUP BY label ORDER BY label""")),

    // Stream-STATIC dimension join — the standard streaming-enrichment
    // shape (each micro-batch hash-joins against a static relation; no
    // state, no watermark needed). The static side here is a per-user
    // profile built batch-side from the same events table (past-event
    // count deciles); the stream enriches each event with its user's
    // profile bucket and counts per bucket. Stream/batch parity is
    // exact-integer. The static side is eagerly localCheckpointed
    // BEFORE the stream starts: Spark re-evaluates an unpersisted
    // static plan on EVERY micro-batch, so without the pin each batch
    // would re-scan the events parquet and redo the groupBy — the
    // r11 verdict traced a 5-7x driver-bench spread to exactly that.
    // Pinning the dim once is the production stream-static shape.
    "q239_stream_static_join" -> QueryDef(
      fn = (s, d) => {
        val dir = stageEventsDir(d)
        val table = try {
          val profile = t(s, d, "events").groupBy("user_id")
            .agg(count(lit(1)).as("__n"))
            .select(col("user_id"), expr("__n div 10").as("bucket"))
            .localCheckpoint(eager = true) // build dim ONCE, not per batch
          val agg = stagedEventsStream(streamingSession(s), dir)
            .select(col("user_id"))
            .join(profile, Seq("user_id")) // static side: micro-batch hash join
            .groupBy("bucket")
            .agg(count(lit(1)).as("n_events"))
          runToMemoryTable(agg, "q239_mem")
        } finally dropStaged(dir)
        table.orderBy("bucket")
      },
      oracle = Some("""
        WITH p AS (SELECT user_id, count(*) // 10 AS bucket
                   FROM events GROUP BY user_id)
        SELECT CAST(p.bucket AS BIGINT) AS bucket, count(*) AS n_events
        FROM events e JOIN p ON e.user_id = p.user_id
        GROUP BY p.bucket ORDER BY bucket"""),
      bench = true, streaming = true), // stream-static-join state-shape probe (r10 verdict #7)

    // Per-language style metrics — the casing/digit/sentence-shape
    // signals of boilerplate and OCR-junk detection: ALL-CAPS ratio,
    // digit ratio (both over exact length-minus-strip counts), and
    // sentences per doc (terminator-run count). One scan, a bounded
    // per-language agg, every ratio on the integer 1e-6 grid.
    "q240_style_metrics" -> QueryDef(
      fn = (s, d) => {
        def strip(c: org.apache.spark.sql.Column, cls: String) =
          (length(c) - length(regexp_replace(c, cls, ""))).cast("long")
        t(s, d, "documents")
          .select(col("lang"),
            strip(col("text"), "[A-Z]").as("__up"),
            strip(col("text"), "[A-Za-z]").as("__let"),
            strip(col("text"), "[0-9]").as("__dig"),
            length(col("text")).cast("long").as("__len"),
            size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long")
              .as("__sent"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("__up")).as("__sup"),
            sum(col("__let")).as("__slet"), sum(col("__dig")).as("__sdig"),
            sum(col("__len")).as("__slen"), sum(col("__sent")).as("__ssent"))
          .select(col("lang"), col("n_docs"),
            expr("(__sup * 1000000L) div greatest(__slet, 1L)").as("upper_e6"),
            expr("(__sdig * 1000000L) div greatest(__slen, 1L)").as("digit_e6"),
            expr("(__ssent * 1000000L) div n_docs").as("sent_per_doc_e6"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH m AS (SELECT lang,
                     CAST(length(text)
                          - length(regexp_replace(text, '[A-Z]', '', 'g'))
                          AS BIGINT) AS up,
                     CAST(length(text)
                          - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                          AS BIGINT) AS let,
                     CAST(length(text)
                          - length(regexp_replace(text, '[0-9]', '', 'g'))
                          AS BIGINT) AS dig,
                     CAST(length(text) AS BIGINT) AS len,
                     CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
                       AS sent
                   FROM documents)
        SELECT lang, count(*) AS n_docs,
               CAST((sum(up) * 1000000) // greatest(sum(let), 1) AS BIGINT)
                 AS upper_e6,
               CAST((sum(dig) * 1000000) // greatest(sum(len), 1) AS BIGINT)
                 AS digit_e6,
               CAST((sum(sent) * 1000000) // count(*) AS BIGINT)
                 AS sent_per_doc_e6
        FROM m GROUP BY lang ORDER BY lang""")),

    // Incremental aggregate maintenance — the "don't rescan history"
    // systems pattern: yesterday's events stay as a keyed partial-
    // aggregate state; today's slice aggregates alone and MERGES in
    // (ops/IncrementalAgg: one full-outer hash join, null-safe
    // count/sum adds + max combine). The oracle is the full batch
    // aggregate over everything — merge(state(A), state(B)) must equal
    // state(A ∪ B) exactly, which integer cents make bit-checkable.
    "q241_incremental_agg" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("user_id"), col("ts"), cents(col("value")).as("__c"))
        // fixture span is 2024-01: the cut puts ~2/3 in state, ~1/3 in
        // the delta, so both sides of the merge are non-vacuous
        val cut = to_timestamp(lit("2024-01-20 00:00:00"))
        def aggOf(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("user_id").agg(count(lit(1)).as("n_events"),
            sum(col("__c")).as("spend_cents"), max(col("ts")).as("last_ts"))
        val state = aggOf(ev.filter(col("ts") < cut))
        val delta = aggOf(ev.filter(col("ts") >= cut))
        graft.ops.IncrementalAgg.merge(state, delta, Seq("user_id"),
            sums = Seq("n_events", "spend_cents"), maxes = Seq("last_ts"))
          .orderBy("user_id")
      },
      oracle = Some(s"""
        SELECT user_id, count(*) AS n_events,
               CAST(sum(${centsSql("value")}) AS BIGINT) AS spend_cents,
               max(ts) AS last_ts
        FROM events WHERE value IS NOT NULL
        GROUP BY user_id ORDER BY user_id""")),

    // Kaplan-Meier time-to-conversion survival with RIGHT-CENSORING —
    // the principled funnel-latency curve: the "event" is a user's
    // first BIG purchase (value >= 150 — about half the users never
    // have one at any sf, so the censored branch genuinely fires; a
    // plain first-purchase event censors nobody because every synthetic
    // user purchases within days); non-converters are censored at the
    // observation end instead of being dropped (the bias plain
    // conversion-rate math carries). Survival is reported in the LOG
    // domain on the integer 1e-6 grid — each death step contributes
    // snap(ln((n-d)/n)) of exact integer counts, so the running product
    // becomes an order-free integer running SUM over the bounded
    // distinct-duration frame. Death durations where every remaining
    // user converts (n = d) terminate the curve and are excluded
    // (log 0). One user-keyed agg + one bounded-frame window.
    "q242_kaplan_meier" -> QueryDef(
      fn = (s, d) => {
        val days = t(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("__day"),
            col("event_type"), col("value"))
        val mx = days.agg(max(col("__day")).as("__mx"))
        val ud = days.groupBy("user_id")
          .agg(min(col("__day")).as("__f"),
            min(when(col("event_type") === "purchase"
                && col("value") >= BigPurchase, col("__day")))
              .as("__p"))
          .crossJoin(broadcast(mx))
          .select(
            when(col("__p").isNotNull, datediff(col("__p"), col("__f")))
              .otherwise(datediff(col("__mx"), col("__f")))
              .cast("long").as("dur"),
            col("__p").isNotNull.as("__death"))
        val byDur = ud.groupBy("dur")
          .agg(sum(when(col("__death"), 1L).otherwise(0L)).as("n_deaths"),
            count(lit(1)).as("__all"))
        // bounded frame: one row per distinct lifetime-in-days
        val w = Window.orderBy("dur")
        val wCum = w.rowsBetween(Window.unboundedPreceding, -1)
        val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
        val total = ud.agg(count(lit(1)).as("__n"))
        byDur.crossJoin(broadcast(total))
          .withColumn("n_risk",
            col("__n") - coalesce(sum(col("__all")).over(wCum), lit(0L)))
          .withColumn("__term", e6(log(
            (col("n_risk") - col("n_deaths")).cast("double")
              / col("n_risk").cast("double"))))
          .filter(col("n_deaths") > 0 && col("n_deaths") < col("n_risk"))
          .withColumn("log_surv_e6", sum(col("__term")).over(wRun))
          .select(col("dur"), col("n_risk"), col("n_deaths"),
            col("log_surv_e6"))
          .orderBy("dur")
      },
      oracle = Some("""
        WITH days AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                             value
                      FROM events),
        mx AS (SELECT max(day) AS mx FROM days),
        ud0 AS (SELECT user_id, min(day) AS f,
                       min(CASE WHEN event_type = 'purchase'
                                AND value >= 150.0 THEN day END) AS p
                FROM days GROUP BY user_id),
        ud AS (SELECT CASE WHEN p IS NOT NULL
                        THEN CAST(date_diff('day', f, p) AS BIGINT)
                        ELSE CAST(date_diff('day', f, (SELECT mx FROM mx))
                                  AS BIGINT) END AS dur,
                      p IS NOT NULL AS death
               FROM ud0),
        bd AS (SELECT dur,
                      CAST(sum(CASE WHEN death THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_deaths,
                      count(*) AS n_all
               FROM ud GROUP BY dur),
        nr AS (SELECT dur, n_deaths,
                      (SELECT count(*) FROM ud)
                        - coalesce(sum(n_all) OVER (ORDER BY dur
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS n_risk
               FROM bd),
        st AS (SELECT dur, n_risk, n_deaths,
                      CAST(floor(ln(CAST(n_risk - n_deaths AS DOUBLE)
                                    / CAST(n_risk AS DOUBLE))
                                 * 1000000.0 + 0.5) AS BIGINT) AS term
               FROM nr WHERE n_deaths > 0 AND n_deaths < n_risk)
        SELECT dur, CAST(n_risk AS BIGINT) AS n_risk, n_deaths,
               CAST(sum(term) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS log_surv_e6
        FROM st ORDER BY dur""")),

    // k-anonymity audit — the governance readout before sharing event
    // data: bucket rows by quasi-identifier (type, hour-of-day, coarse
    // spend band), count equivalence classes below k=5, and the rows
    // exposed in them. Pure exact-integer aggregation: one grouped
    // count + one per-type rollup.
    "q243_k_anonymity" -> QueryDef(
      fn = (s, d) => {
        val qid = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"), hour(col("ts")).as("__h"),
            cents(col("value")).as("__c"))
          .withColumn("__band", expr("__c div 1000"))
        qid.groupBy("event_type", "__h", "__band")
          .agg(count(lit(1)).as("__n"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("__n") < 5, 1L).otherwise(0L)).as("risky_groups"),
            sum(when(col("__n") < 5, col("__n")).otherwise(0L))
              .as("risky_rows"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH q AS (SELECT event_type, hour(ts) AS h,
                          ${centsSql("value")} // 1000 AS band,
                          count(*) AS n
                   FROM events WHERE value IS NOT NULL
                   GROUP BY 1, 2, 3)
        SELECT event_type, count(*) AS n_groups,
               CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS risky_groups,
               CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                 AS risky_rows
        FROM q GROUP BY event_type ORDER BY event_type""")),

    // Split-conformal prediction intervals per event type — the
    // distribution-free uncertainty wrapper: fit the "model" (per-type
    // mean as an integer floor of exact cents) on the calibration half,
    // take the 0.9 quantile of absolute residuals as the interval
    // half-width (pinned percentile()/quantile_cont parity), then
    // measure EMPIRICAL COVERAGE on the held-out half — conformal
    // theory says ~90%, and the oracle checks the exact count.
    // Residuals are exact integers; coverage rides the 1e-6 grid.
    "q244_conformal" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"), cents(col("value")).as("__c"),
            Sampling.inSplit(col("user_id"), 0.5).as("__cal"))
          .localCheckpoint(eager = true) // model fit + qhat + coverage
        val model = ev.filter(col("__cal")).groupBy("event_type")
          .agg(expr("sum(__c) div count(1)").as("__mean"))
        val resid = ev.join(broadcast(model), Seq("event_type"))
          .withColumn("__r", abs(col("__c") - col("__mean")))
        val qhat = resid.filter(col("__cal")).groupBy("event_type")
          .agg(expr("percentile(__r, 0.9)").as("__qhat"))
        resid.filter(!col("__cal"))
          .join(broadcast(qhat), Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_eval"),
            sum(when(col("__r").cast("double") <= col("__qhat"), 1L)
              .otherwise(0L)).as("n_covered"),
            round(max(col("__qhat")) / 100.0, 4).as("half_width"))
          .withColumn("coverage_e6",
            expr("(n_covered * 1000000L) div n_eval"))
          .select(col("event_type"), col("n_eval"), col("n_covered"),
            col("half_width"), col("coverage_e6"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH ev AS (SELECT event_type, ${centsSql("value")} AS c,
                      substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
                        < '${Sampling.thresholdHex(0.5)}' AS cal
                    FROM events WHERE value IS NOT NULL),
        m AS (SELECT event_type, CAST(sum(c) // count(*) AS BIGINT) AS mean
              FROM ev WHERE cal GROUP BY event_type),
        r AS (SELECT ev.event_type, ev.cal, abs(ev.c - m.mean) AS res
              FROM ev JOIN m ON ev.event_type = m.event_type),
        q AS (SELECT event_type, quantile_cont(res, 0.9) AS qhat
              FROM r WHERE cal GROUP BY event_type),
        cov AS (SELECT r.event_type, count(*) AS n_eval,
                       CAST(sum(CASE WHEN CAST(res AS DOUBLE) <= q.qhat
                                     THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_covered,
                       round(max(q.qhat) / 100.0, 4) AS half_width
                FROM r JOIN q ON r.event_type = q.event_type
                WHERE NOT r.cal GROUP BY r.event_type)
        SELECT event_type, n_eval, n_covered, half_width,
               CAST((n_covered * 1000000) // n_eval AS BIGINT)
                 AS coverage_e6
        FROM cov ORDER BY event_type""")),

    // Propensity-score matching (ATT, with replacement) — the causal
    // sibling of q195's IPS: treated users (HIGH signup exposure — >= 14
    // signup events, one above the cross-sf per-user median, so both
    // arms are populated at every scale; a ">= 1 signup" treatment is
    // vacuous here because every synthetic user signs up eventually)
    // each match the nearest control by an integer propensity proxy
    // (total event count) inside a caliper block (score div 5),
    // deterministic (min |diff|, then min control id). Everything is
    // exact integers: match distance, matched outcomes, and the ATT in
    // cents. Scale: one user-keyed agg; matching is an equi-join on the
    // bounded caliper block, never user x user.
    "q245_propensity_match" -> QueryDef(
      fn = (s, d) => {
        val u = t(s, d, "events")
          .groupBy("user_id")
          .agg(count(lit(1)).as("__n"),
            sum(when(col("event_type") === "signup", 1L).otherwise(0L))
              .as("__sg"),
            sum(when(col("event_type") === "purchase"
                && col("value").isNotNull, cents(col("value")))
              .otherwise(0L)).as("__out"))
          .select(col("user_id"), col("__n"), (col("__sg") >= 14L).as("__t"),
            col("__out"), expr("__n div 5").as("__blk"))
          .localCheckpoint(eager = true) // treated + control sides
        val treated = u.filter(col("__t"))
          .select(col("user_id").as("tid"), col("__n").as("tn"),
            col("__out").as("tout"), col("__blk"))
        val control = u.filter(!col("__t"))
          .select(col("user_id").as("cid"), col("__n").as("cn"),
            col("__out").as("cout"), col("__blk"))
        val w = Window.partitionBy("tid")
          .orderBy(abs(col("tn") - col("cn")).asc, col("cid").asc)
        val matched = treated.join(control, Seq("__blk"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
        matched.agg(
            count(lit(1)).as("n_matched"),
            sum(col("tout")).as("treated_cents"),
            sum(col("cout")).as("control_cents"))
          .crossJoin(broadcast(treated.agg(count(lit(1)).as("n_treated"))))
          .select(col("n_treated"), col("n_matched"),
            col("treated_cents"), col("control_cents"),
            expr("""(treated_cents * 100L) div n_matched
                    - (control_cents * 100L) div n_matched""").as("att_e2"))
      },
      oracle = Some(s"""
        WITH u AS (SELECT user_id, count(*) AS n,
                          sum(CASE WHEN event_type = 'signup'
                              THEN 1 ELSE 0 END) >= 14 AS t,
                          CAST(sum(CASE WHEN event_type = 'purchase'
                                        AND value IS NOT NULL
                                   THEN ${centsSql("value")} ELSE 0 END)
                               AS BIGINT) AS outc,
                          count(*) // 5 AS blk
                   FROM events GROUP BY user_id),
        tr AS (SELECT user_id AS tid, n AS tn, outc AS tout, blk
               FROM u WHERE t),
        ct AS (SELECT user_id AS cid, n AS cn, outc AS cout, blk
               FROM u WHERE NOT t),
        mt AS (SELECT tid, tout, cout FROM (
                 SELECT tr.tid, tr.tout, ct.cout,
                        row_number() OVER (PARTITION BY tr.tid
                          ORDER BY abs(tr.tn - ct.cn) ASC, ct.cid ASC) AS rn
                 FROM tr JOIN ct ON tr.blk = ct.blk)
               WHERE rn = 1)
        SELECT (SELECT count(*) FROM tr) AS n_treated,
               count(*) AS n_matched,
               CAST(sum(tout) AS BIGINT) AS treated_cents,
               CAST(sum(cout) AS BIGINT) AS control_cents,
               CAST((sum(tout) * 100) // count(*)
                    - (sum(cout) * 100) // count(*) AS BIGINT) AS att_e2
        FROM mt""")),

    // Difference-in-differences — the 2x2 causal workhorse:
    // high-signup-exposure users (>= 14, the q245 threshold — both arms
    // populated at every sf) vs the rest, purchase spend in the first
    // half of the month vs the second. Per-cell exact totals plus
    // floored integer means; the summary row carries the DiD of the
    // means. One scan, one user-keyed agg, bounded 2x2 frame.
    "q246_diff_in_diff" -> QueryDef(
      fn = (s, d) => {
        val cut = to_date(lit("2024-01-16"))
        val ev = t(s, d, "events")
        val grp = ev.groupBy("user_id")
          .agg((sum(when(col("event_type") === "signup", 1L).otherwise(0L))
            >= 14L).as("__t"))
        val spend = ev.filter(col("event_type") === "purchase"
            && col("value").isNotNull)
          .select(col("user_id"),
            when(to_date(col("ts")) < cut, "pre").otherwise("post")
              .as("period"),
            cents(col("value")).as("__c"))
          .join(grp, Seq("user_id"))
          .groupBy(when(col("__t"), "signup").otherwise("control")
            .as("cohort"), col("period"))
          .agg(countDistinct(col("user_id")).as("n_users"),
            sum(col("__c")).as("total_cents"))
          .withColumn("mean_e4",
            expr("(total_cents * 10000L) div n_users"))
          .localCheckpoint(eager = true) // cells + the DiD summary row
        val cell = (c: String, p: String) =>
          max(when(col("cohort") === c && col("period") === p,
            col("mean_e4")))
        val did = spend.agg(
          (cell("signup", "post") - cell("signup", "pre")
            - (cell("control", "post") - cell("control", "pre")))
            .as("mean_e4"))
          .select(lit("did").as("cohort"), lit("*").as("period"),
            lit(0L).as("n_users"), lit(0L).as("total_cents"),
            col("mean_e4"))
        spend.unionByName(did).orderBy("cohort", "period")
      },
      oracle = Some(s"""
        WITH grp AS (SELECT user_id,
                            sum(CASE WHEN event_type = 'signup'
                                THEN 1 ELSE 0 END) >= 14 AS t
                     FROM events GROUP BY user_id),
        cells AS (SELECT CASE WHEN grp.t THEN 'signup' ELSE 'control' END
                           AS cohort,
                         CASE WHEN CAST(e.ts AS DATE) < DATE '2024-01-16'
                              THEN 'pre' ELSE 'post' END AS period,
                         CAST(count(DISTINCT e.user_id) AS BIGINT)
                           AS n_users,
                         CAST(sum(${centsSql("value")}) AS BIGINT)
                           AS total_cents
                  FROM events e JOIN grp ON e.user_id = grp.user_id
                  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
                  GROUP BY 1, 2),
        cm AS (SELECT cohort, period, n_users, total_cents,
                      CAST((total_cents * 10000) // n_users AS BIGINT)
                        AS mean_e4
               FROM cells),
        did AS (SELECT 'did' AS cohort, '*' AS period,
                       CAST(0 AS BIGINT) AS n_users,
                       CAST(0 AS BIGINT) AS total_cents,
                       (SELECT mean_e4 FROM cm WHERE cohort = 'signup'
                          AND period = 'post')
                       - (SELECT mean_e4 FROM cm WHERE cohort = 'signup'
                            AND period = 'pre')
                       - ((SELECT mean_e4 FROM cm WHERE cohort = 'control'
                             AND period = 'post')
                          - (SELECT mean_e4 FROM cm WHERE cohort = 'control'
                               AND period = 'pre')) AS mean_e4)
        SELECT * FROM cm UNION ALL SELECT * FROM did
        ORDER BY cohort, period""")),

    // Cohort LTV curves — cumulative per-user spend by cohort age, the
    // revenue twin of q99's retention matrix: users cohorted by
    // first-event week, spend accumulated week over week, normalized
    // per cohort member on the integer 1e-2 grid. Cumulative sums ride
    // the bounded (cohort x age-week) frame.
    "q247_ltv_curve" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("__day"),
            col("event_type"), col("value"))
        val coh = ev.groupBy("user_id")
          .agg(min(expr("date_trunc('week', __day)")).as("__cw"))
        val spend = ev.filter(col("event_type") === "purchase"
            && col("value").isNotNull)
          .join(coh, Seq("user_id"))
          .groupBy(col("__cw").cast("date").as("cohort_week"),
            floor(datediff(col("__day"), col("__cw").cast("date")) / 7)
              .cast("long").as("age_week"))
          .agg(sum(cents(col("value"))).as("__cents"))
        val size = coh.groupBy(col("__cw").cast("date").as("cohort_week"))
          .agg(count(lit(1)).as("cohort_size"))
        val w = Window.partitionBy("cohort_week").orderBy("age_week")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spend.join(size, Seq("cohort_week"))
          .withColumn("__cum", sum(col("__cents")).over(w))
          .select(col("cohort_week").cast("timestamp").as("cohort_week"),
            col("age_week"), col("cohort_size"),
            expr("(__cum * 100L) div cohort_size").as("ltv_e2"))
          .orderBy("cohort_week", "age_week")
      },
      oracle = Some(s"""
        WITH coh AS (SELECT user_id,
                       min(date_trunc('week', CAST(ts AS DATE))) AS cw
                     FROM events GROUP BY user_id),
        sp AS (SELECT CAST(coh.cw AS DATE) AS cohort_week,
                      CAST(date_diff('day', CAST(coh.cw AS DATE),
                                     CAST(e.ts AS DATE)) // 7 AS BIGINT)
                        AS age_week,
                      CAST(sum(${centsSql("value")}) AS BIGINT) AS c
               FROM events e JOIN coh ON e.user_id = coh.user_id
               WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
               GROUP BY 1, 2),
        sz AS (SELECT CAST(cw AS DATE) AS cohort_week,
                      count(*) AS cohort_size
               FROM coh GROUP BY 1)
        SELECT CAST(sp.cohort_week AS TIMESTAMP) AS cohort_week,
               sp.age_week, sz.cohort_size,
               CAST((sum(sp.c) OVER (PARTITION BY sp.cohort_week
                       ORDER BY sp.age_week ROWS UNBOUNDED PRECEDING)
                     * 100) // sz.cohort_size AS BIGINT) AS ltv_e2
        FROM sp JOIN sz ON sp.cohort_week = sz.cohort_week
        ORDER BY cohort_week, age_week""")),

    // CAPSTONE feature-store build — one query materializes a per-user
    // ML feature vector the way a production feature pipeline would:
    // activity counts, 30-minute-gap session count (q40's rule),
    // type/day cardinalities, exact purchase spend, purchase share on
    // the 1e-6 grid, and hour-of-day entropy (q229's snapped-log rule —
    // 24 bounded buckets per user, so the weighted sum is an order-free
    // integer). Three user-keyed aggregates reuse ONE hash exchange
    // key; everything joins back on user_id.
    "q248_user_features" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"))
          .localCheckpoint(eager = true) // three aggregate consumers
        val base = ev.groupBy("user_id").agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          countDistinct(to_date(col("ts"))).as("active_days"),
          sum(when(col("event_type") === "purchase"
              && col("value").isNotNull, cents(col("value")))
            .otherwise(0L)).as("spend_cents"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("__np"))
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val sess = ev
          .withColumn("__new", when(lag(col("ts"), 1).over(w).isNull
              || col("ts") > lag(col("ts"), 1).over(w)
                + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
          .groupBy("user_id").agg(sum(col("__new")).as("n_sessions"))
        val hourEnt = ev
          .groupBy(col("user_id"), hour(col("ts")).as("__h"))
          .agg(count(lit(1)).as("__c"))
          .withColumn("__n",
            sum(col("__c")).over(Window.partitionBy("user_id")))
          .withColumn("__t", col("__c") * e6(log(col("__c").cast("double")
            / col("__n").cast("double"))))
          .groupBy("user_id")
          .agg(max(col("__n")).as("__n"), sum(col("__t")).as("__s"))
          .select(col("user_id"), expr("(-__s) div __n").as("hour_entropy_e6"))
        base.join(sess, Seq("user_id")).join(hourEnt, Seq("user_id"))
          .select(col("user_id"), col("n_events"), col("n_sessions"),
            col("n_types"), col("active_days"), col("spend_cents"),
            expr("(__np * 1000000L) div n_events").as("purchase_share_e6"),
            col("hour_entropy_e6"))
          .orderBy("user_id")
      },
      oracle = Some(s"""
        WITH base AS (SELECT user_id, count(*) AS n_events,
                        CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                        CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                          AS active_days,
                        CAST(sum(CASE WHEN event_type = 'purchase'
                                      AND value IS NOT NULL
                                 THEN ${centsSql("value")} ELSE 0 END)
                             AS BIGINT) AS spend_cents,
                        CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS np
                      FROM events GROUP BY user_id),
        sess AS (SELECT user_id, CAST(sum(isnew) AS BIGINT) AS n_sessions
                 FROM (SELECT user_id,
                         CASE WHEN lag(ts) OVER w IS NULL
                                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                              THEN 1 ELSE 0 END AS isnew
                       FROM events
                       WINDOW w AS (PARTITION BY user_id
                                    ORDER BY ts, event_id))
                 GROUP BY user_id),
        hc AS (SELECT user_id, hour(ts) AS h, count(*) AS c
               FROM events GROUP BY 1, 2),
        hn AS (SELECT user_id, c,
                      sum(c) OVER (PARTITION BY user_id) AS n
               FROM hc),
        he AS (SELECT user_id,
                      CAST((-sum(c * CAST(floor(ln(CAST(c AS DOUBLE)
                          / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
                          AS BIGINT))) // max(n) AS BIGINT)
                        AS hour_entropy_e6
               FROM hn GROUP BY user_id)
        SELECT base.user_id, base.n_events, sess.n_sessions, base.n_types,
               base.active_days, base.spend_cents,
               CAST((base.np * 1000000) // base.n_events AS BIGINT)
                 AS purchase_share_e6,
               he.hour_entropy_e6
        FROM base JOIN sess ON base.user_id = sess.user_id
                  JOIN he ON base.user_id = he.user_id
        ORDER BY base.user_id""")),

    // Reciprocal-rank fusion — the standard hybrid-retrieval combiner:
    // the full-precision cosine ranker fused with an INT8-QUANTIZED dot
    // ranker (per-vector symmetric max-abs quantization, the coarse
    // first-stage scorer of real ANN serving stacks; on this corpus the
    // two disagree inside the top-10 for every query, where a raw-dot
    // second ranker would be IDENTICAL to cosine — the embeddings are
    // unit-norm). The quantized dot is an exact integer (|q| <= 127,
    // 64 dims), ranks are integers, and each contribution snaps as
    // 1000000 // (60 + rank), so the fused score is an exact integer
    // sum and the final top-5 argmax has no FP ties. Scale shape:
    // queries broadcast, corpus streamed once, per-query rank windows —
    // q25's kNN pattern plus one integer agg.
    "q249_rrf_fusion" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val VFn = graft.functions.VectorFunctions
        val quant = (v: org.apache.spark.sql.Column) => {
          val ma = array_max(transform(v, x => abs(x.cast("double"))))
          transform(v, x => (x.cast("double") * 127.0 / ma
            + signum(x.cast("double")) * 0.5).cast("long"))
        }
        val q = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            quant(col("embedding")).as("__qq"))
        val scored = emb.select(col("vec_id").as("cid"),
            col("embedding").as("cv"), quant(col("embedding")).as("__qc"))
          .crossJoin(broadcast(q)).filter(col("cid") =!= col("qid"))
          .withColumn("__cos", VFn.cosine(col("qv"), col("cv")))
          .withColumn("__qd", aggregate(
            zip_with(col("__qq"), col("__qc"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x))
          .localCheckpoint(eager = true) // both rank windows share it
        val wc = Window.partitionBy("qid").orderBy(col("__cos").desc, col("cid"))
        val wd = Window.partitionBy("qid").orderBy(col("__qd").desc, col("cid"))
        val fused = scored
          .withColumn("__rc", row_number().over(wc))
          .withColumn("__rd", row_number().over(wd))
          .withColumn("rrf_e6", expr("1000000L div (60 + __rc)")
            + expr("1000000L div (60 + __rd)"))
        val wf = Window.partitionBy("qid")
          .orderBy(col("rrf_e6").desc, col("cid"))
        fused.withColumn("__rank", row_number().over(wf))
          .filter(col("__rank") <= 5)
          .select(col("qid").as("query_id"), col("__rank").cast("long")
            .as("rank"), col("cid").as("neighbor_id"), col("rrf_e6"))
          .orderBy("query_id", "rank")
      },
      oracle = Some {
        val quantSql = (v: String) =>
          s"""list_transform($v, x -> CAST(round(CAST(x AS DOUBLE) * 127.0
               / list_max(list_transform($v,
                   y -> abs(CAST(y AS DOUBLE))))) AS BIGINT))"""
        s"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv,
                          ${quantSql("embedding")} AS qq
                   FROM embeddings WHERE vec_id < 8),
        cc AS (SELECT vec_id AS cid, embedding AS cv,
                      ${quantSql("embedding")} AS qc
               FROM embeddings),
        sc AS (SELECT q.qid, cc.cid,
                      ${cosineSql("q.qv", "cc.cv")} AS cos,
                      list_sum(list_transform(list_zip(q.qq, cc.qc),
                        p -> p[1] * p[2])) AS qd
               FROM q JOIN cc ON cc.cid <> q.qid),
        rk AS (SELECT qid, cid,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY cos DESC, cid) AS rc,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY qd DESC, cid) AS rd
               FROM sc),
        fu AS (SELECT qid, cid,
                      CAST(1000000 // (60 + rc) + 1000000 // (60 + rd)
                           AS BIGINT) AS rrf_e6
               FROM rk)
        SELECT qid AS query_id,
               CAST(row_number() OVER (PARTITION BY qid
                 ORDER BY rrf_e6 DESC, cid) AS BIGINT) AS rank,
               cid AS neighbor_id, rrf_e6
        FROM fu
        QUALIFY rank <= 5
        ORDER BY query_id, rank"""
      }),

    // Time-weighted average value (TWAP) per user — the metric family
    // where a plain mean is WRONG because observations arrive
    // irregularly: each value holds until the next event, so it weighs
    // by its holding duration in ms. Products value_cents x dt_ms are
    // exact longs (<= 1e5 x 2.6e9 ~ 2.6e14), the last observation of a
    // user carries no interval (no close-out quote), and the TWAP lands
    // on the exact integer cents grid via sign-free floor division.
    // One user-keyed window + one agg.
    "q251_twap" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, d, "events").filter(col("value").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"),
            cents(col("value")).as("__c"))
          .withColumn("__dt",
            (unix_millis(lead(col("ts"), 1).over(w)) - unix_millis(col("ts"))))
          .filter(col("__dt").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("__dt")).as("held_ms"),
            sum(col("__c") * col("__dt")).as("__vw"))
          .withColumn("twap_cents", expr("__vw div held_ms"))
          .select(col("user_id"), col("n_intervals"), col("held_ms"),
            col("twap_cents"))
          .orderBy("user_id")
      },
      oracle = Some(s"""
        WITH v AS (SELECT user_id, ts, event_id, ${centsSql("value")} AS c
                   FROM events WHERE value IS NOT NULL),
        iv AS (SELECT user_id, c,
                      epoch_ms(lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id)) - epoch_ms(ts) AS dt
               FROM v)
        SELECT user_id, count(*) AS n_intervals,
               CAST(sum(dt) AS BIGINT) AS held_ms,
               CAST(sum(c * dt) // sum(dt) AS BIGINT) AS twap_cents
        FROM iv WHERE dt IS NOT NULL
        GROUP BY user_id ORDER BY user_id""")),

    // OHLC bars — the canonical downsampling of an irregular value
    // stream into per-(type, day) candles: open/close by the total
    // (ts, event_id) order, high/low exact, volume as count. first/last
    // ride max-by-struct aggregates (no window over the raw stream —
    // one grouped agg, exact cents out).
    "q252_ohlc_bars" -> QueryDef(
      fn = (s, d) => {
        val ev = t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            col("ts"), col("event_id"), cents(col("value")).as("__c"))
        ev.groupBy("event_type", "day")
          .agg(count(lit(1)).as("n_ticks"),
            min(struct(col("ts"), col("event_id"), col("__c"))).as("__o"),
            max(struct(col("ts"), col("event_id"), col("__c"))).as("__cl"),
            max(col("__c")).as("__hi"), min(col("__c")).as("__lo"))
          .select(col("event_type"), col("day").cast("timestamp").as("day"),
            col("n_ticks"),
            round(col("__o.__c").cast("double") / 100.0, 2).as("open"),
            round(col("__hi").cast("double") / 100.0, 2).as("high"),
            round(col("__lo").cast("double") / 100.0, 2).as("low"),
            round(col("__cl.__c").cast("double") / 100.0, 2).as("close"))
          .orderBy("event_type", "day")
      },
      oracle = Some(s"""
        WITH v AS (SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
                          ${centsSql("value")} AS c
                   FROM events WHERE value IS NOT NULL),
        r AS (SELECT event_type, day, c,
                     row_number() OVER w AS rn_a,
                     row_number() OVER w2 AS rn_d
              FROM v
              WINDOW w AS (PARTITION BY event_type, day
                           ORDER BY ts, event_id),
                     w2 AS (PARTITION BY event_type, day
                            ORDER BY ts DESC, event_id DESC))
        SELECT event_type, CAST(day AS TIMESTAMP) AS day,
               count(*) AS n_ticks,
               round(CAST(max(CASE WHEN rn_a = 1 THEN c END) AS DOUBLE)
                     / 100.0, 2) AS open,
               round(CAST(max(c) AS DOUBLE) / 100.0, 2) AS high,
               round(CAST(min(c) AS DOUBLE) / 100.0, 2) AS low,
               round(CAST(max(CASE WHEN rn_d = 1 THEN c END) AS DOUBLE)
                     / 100.0, 2) AS close
        FROM r GROUP BY event_type, day
        ORDER BY event_type, day""")),

    // CAPSTONE multimodal dataset build — q219's pipeline for MEDIA:
    // build VARIABLE-geometry real P5 containers (width 32..63, pixels
    // stride-sampled from the normalized text, exact id-shifted twins
    // injected), container-DECODE them back (Multimodal.sampleCodes:
    // header parse + pixel-region slice + 32-way stride resample),
    // aHash each, dedup exact-hash groups to the min id, and pack the
    // survivors' BYTE LENGTHS (12-byte header + width, so 44..75
    // variable) into 512-byte shards via the distributed prefix sum.
    // The generator stride floor(((j-1)*L)/w) runs in doubles on the
    // Spark side and as integer // in the oracle: with w <= 63 a
    // non-integer rational is >= 1/63 from any integer, far beyond
    // double rounding error, so the floors agree exactly. One manifest
    // row: every count derives from the REAL decode path.
    "q250_media_build" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val base0 = t(s, d, "documents").filter(col("lang") === "en")
          .select(col("doc_id"),
            array_join(TF.tokens(col("text")), " ").as("__n"))
        val twins = base0.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 800000).as("doc_id"), col("__n"))
        val base = base0.unionAll(twins).filter(length(col("__n")) >= 64)
        // 800000 ≡ 0 (mod 32): twins inherit their original's width, so
        // an exact text copy yields an exact container copy
        val wD = (pmod(col("doc_id"), lit(32)) + 32)
        val pix = array_join(transform(sequence(lit(1), wD.cast("int")),
          j => substring(col("__n"),
            (lit(1) + floor(((j - 1) * length(col("__n"))).cast("double")
              / wD.cast("double"))).cast("int"), lit(1))), "")
        val media = base.select(col("doc_id").as("media_id"),
            lit("image").as("kind"),
            encode(concat(lit("P5\n"), wD.cast("string"), lit(" 1\n255\n"),
              pix), "UTF-8").as("payload"))
          .as[graft.ops.Multimodal.MediaRow]
        val hash = aggregate(
          zip_with(col("__codes"), sequence(lit(0), lit(31)),
            (c, i) => when(c * 32 > col("__sum"), pow(lit(2.0), i.cast("double")))
              .otherwise(lit(0.0))),
          lit(0.0), (acc, x) => acc + x).cast("long")
        val hashed = graft.ops.Multimodal.sampleCodes(media)
          .toDF("media_id", "__codes")
          .select(col("media_id"), col("__codes"),
            aggregate(col("__codes"), lit(0L), (a, x) => a + x).as("__sum"))
          .select(col("media_id"), hash.as("__h"))
          .localCheckpoint(eager = true) // census + dedup share it
        val kept = hashed.groupBy("__h").agg(min(col("media_id")).as("media_id"))
          .select(col("media_id"),
            (pmod(col("media_id"), lit(32)) + 32 + 12).cast("long").as("__bl"))
        val packed = graft.ops.Pack.packSequences(kept, "media_id", "__bl",
          budget = 512L)
        val packStats = packed.agg(
          (max(expr("(seq_id * 512 + offset_in_seq + __bl - 1) div 512")) + 1)
            .as("n_shards"),
          sum(when(col("offset_in_seq") + col("__bl") > 512L, 1L)
            .otherwise(0L)).as("n_spanning"))
        hashed.agg(count(lit(1)).as("n_media"),
            countDistinct(col("__h")).as("n_kept"))
          .crossJoin(broadcast(packStats))
      },
      oracle = Some(s"""
        WITH b0 AS (SELECT doc_id, array_to_string($toksSql, ' ') AS n
                    FROM documents WHERE lang = 'en'),
        base AS (SELECT * FROM (SELECT doc_id, n FROM b0
                                UNION ALL
                                SELECT doc_id + 800000 AS doc_id, n
                                FROM b0 WHERE doc_id % 10 = 0)
                 WHERE length(n) >= 64),
        wd AS (SELECT doc_id, n, doc_id % 32 + 32 AS w FROM base),
        px AS (SELECT doc_id, w,
                 list_transform(generate_series(1, w),
                   j -> CAST(ord(substr(n,
                     CAST(1 + ((j - 1) * length(n)) // w AS INT), 1))
                     AS BIGINT)) AS pix
               FROM wd),
        cs AS (SELECT doc_id, w,
                 list_transform(generate_series(1, 32),
                   i -> pix[CAST((i - 1) * w // 32 + 1 AS INT)]) AS codes
               FROM px),
        hs AS (SELECT doc_id, w,
                 list_sum(list_transform(generate_series(1, 32),
                   i -> CASE WHEN codes[i] * 32 > list_sum(codes)
                        THEN CAST(1 AS BIGINT) << (i - 1)
                        ELSE CAST(0 AS BIGINT) END)) AS h
               FROM cs),
        kp AS (SELECT min(doc_id) AS doc_id FROM hs GROUP BY h),
        kl AS (SELECT doc_id,
                      CAST(doc_id % 32 + 32 + 12 AS BIGINT) AS bl
               FROM kp),
        cum AS (SELECT doc_id, bl,
                  CAST(sum(bl) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) - bl AS start
                FROM kl),
        pk AS (SELECT CAST(max(start + bl - 1) // 512 + 1 AS BIGINT)
                        AS n_shards,
                      CAST(sum(CASE WHEN start // 512
                                    <> (start + bl - 1) // 512
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
               FROM cum)
        SELECT (SELECT count(*) FROM hs) AS n_media,
               (SELECT count(*) FROM kp) AS n_kept,
               pk.n_shards, pk.n_spanning
        FROM pk""")),

    // Exponentiated-gradient domain reweighting — the DoReMi-style
    // mixing step: each language's mixture weight is multiplied by
    // exp(eta * excess_loss) and renormalized, turning a per-domain
    // quality deficit into the next sampling distribution (q58/q236
    // apply such weights; this query PRODUCES them). Exactness shape:
    // the loss is an exact integer ratio (short-doc fraction), each
    // exp() is snapped to the 1e-6 integer grid BEFORE the normalizing
    // sum — so the denominator is an order-free integer sum and the
    // weights are exact rationals rounded once. The reallocated token
    // budget (1e6 total) uses pure integer floor division. One corpus
    // scan; everything after is a 5-row frame and a 1-row broadcast.
    "q275_mixture_reweight" -> QueryDef(
      fn = (s, d) => {
        val g = t(s, d, "documents")
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum(when(col("n_chars") < ReweightCharBar, 1L).otherwise(0L))
              .as("n_short"))
        val loss = col("n_short").cast("double") / col("n").cast("double")
        val withExp = g.withColumn("exp6",
          floor(exp(lit(ReweightEta) * loss) * lit(1000000.0) + lit(0.5))
            .cast("long"))
          // 5-row frame, referenced by the normalizing agg AND the final
          // projection — pin it so the corpus scan runs once
          .localCheckpoint(eager = true)
        val tot = withExp.agg(sum(col("exp6")).as("sum_exp6"))
        withExp.crossJoin(broadcast(tot))
          .select(col("lang"), col("n"), col("n_short"),
            round(col("exp6").cast("double") / col("sum_exp6").cast("double"), 6)
              .as("w_new"),
            expr(s"CAST($ReweightBudget AS BIGINT) * exp6 div sum_exp6")
              .as("budget_tokens"))
          .orderBy("lang")
      },
      oracle = Some(s"""
        WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(CASE WHEN n_chars < $ReweightCharBar
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_short
                   FROM documents GROUP BY lang),
        e AS (SELECT lang, n, n_short,
                     CAST(floor(exp($ReweightEta * (CAST(n_short AS DOUBLE)
                       / CAST(n AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
                       AS exp6
              FROM g),
        tot AS (SELECT CAST(sum(exp6) AS BIGINT) AS sum_exp6 FROM e)
        SELECT lang, n, n_short,
               round(CAST(exp6 AS DOUBLE) / CAST(sum_exp6 AS DOUBLE), 6)
                 AS w_new,
               CAST($ReweightBudget AS BIGINT) * exp6 // sum_exp6
                 AS budget_tokens
        FROM e CROSS JOIN tot ORDER BY lang""")),

    // Intra-document repetition score — the "loop detector" of a quality
    // pipeline (templated/spammy text repeats its own trigrams): per
    // doc, total vs DISTINCT token trigrams and the repeat ratio on the
    // 1e-6 integer grid, flagged over 1% (the corpus tail). Entirely per-row array
    // arithmetic (no shuffle before the output sort): size vs
    // size(array_distinct) in Spark, len vs len(list_distinct) in
    // DuckDB. Docs under 3 tokens have no trigrams and are excluded
    // (the q-family gram convention).
    "q276_repetition_score" -> QueryDef(
      fn = (s, d) => {
        val toks = TF.tokens(col("text"))
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"), toks.as("toks"))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"), col("lang"),
            TF.shinglesOfTokens(col("toks"), 3).as("grams"))
          .select(col("doc_id"), col("lang"),
            size(col("grams")).cast("long").as("n_grams"),
            size(array_distinct(col("grams"))).cast("long").as("n_distinct"))
          .withColumn("rep_e6",
            expr("(n_grams - n_distinct) * 1000000L div n_grams"))
          .withColumn("flagged", col("rep_e6") > RepetitionBarE6)
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH tk AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
        g AS (SELECT doc_id, lang,
                     list_transform(range(1, len(toks) - 1),
                       i -> concat(toks[i], ' ', toks[i + 1], ' ',
                                   toks[i + 2])) AS grams
              FROM tk WHERE len(toks) >= 3),
        c AS (SELECT doc_id, lang, CAST(len(grams) AS BIGINT) AS n_grams,
                     CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct
              FROM g)
        SELECT doc_id, lang, n_grams, n_distinct,
               (n_grams - n_distinct) * 1000000 // n_grams AS rep_e6,
               ((n_grams - n_distinct) * 1000000 // n_grams)
                 > $RepetitionBarE6 AS flagged
        FROM c ORDER BY doc_id""")),

    // SemDeDup capstone (r10 verdict #4) — the embedding-CLUSTER
    // semantic dedup of Abbas et al. 2023, composed from the existing
    // parts: IvfIndex k-means (deterministic Lloyd's, centroid matrix
    // only on the driver) -> within-cluster cosine pair pass (a
    // cluster-keyed HASH join, PlanSpec pins no-cartesian) ->
    // keepCanonical CC + smallest-id survivor. Injection: every
    // vec_id % 5 == 0 gains an exact twin (+100000) — identical vectors
    // provably share a cluster (same deterministic assignment
    // expression) and score cosine exactly 1.0, so the manifest is
    // analytic: sources keep their twin (n_members 2), everything else
    // is a singleton. The organic corpus can't interfere: its max
    // pairwise cosine is ~0.60 at sf0.1 (measured) vs the 0.95 bar, and
    // the twin-band spec pins a PERTURBED near twin (cosine just under
    // 1) surviving the same pipeline — the slice SQL cannot state.
    "q286_semantic_dedup" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val twins = emb.filter(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
        graft.ops.Dedup.semanticDedup(
            emb.unionAll(twins), "vec_id", "embedding",
            k = 8, minCosine = 0.95)
          .orderBy("kept_id")
      },
      bench = true, // the kmeans + cluster-pair-join wall-time probe
      oracle = Some("""
        SELECT vec_id AS kept_id,
               CAST(CASE WHEN vec_id % 5 = 0 THEN 2 ELSE 1 END AS BIGINT)
                 AS n_members
        FROM embeddings ORDER BY kept_id""")),

    // k-ANONYMITY audit — the privacy-side curation verb the PII family
    // (q65 redaction, q75 chunking) doesn't cover: a released corpus is
    // k-anonymous on a quasi-identifier tuple iff every QI group holds
    // >= k rows; groups below k are re-identification risks and get
    // suppressed or generalized. QI here = (lang, source) at k = 5 —
    // calibrated against the fixture so BOTH branches fire at
    // sf0.001/0.01 (51/48 and 55/42 under/over; at sf0.1 every group
    // clears 5 and the all-anonymous readout is the correct answer).
    // One partial-agg shuffle on the bounded QI key; flags + the
    // would-be-suppressed row count are exact integers.
    "q288_k_anonymity" -> QueryDef(
      fn = (s, d) => {
        t(s, d, "documents")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"))
          .select(col("lang"), col("source"), col("n_docs"),
            (col("n_docs") >= KAnonymityBar).as("k_anonymous"),
            when(col("n_docs") < KAnonymityBar, col("n_docs")).otherwise(0L)
              .as("suppressed_docs"))
          .orderBy("lang", "source")
      },
      oracle = Some(s"""
        SELECT lang, source, count(*) AS n_docs,
               count(*) >= $KAnonymityBar AS k_anonymous,
               CAST(CASE WHEN count(*) < $KAnonymityBar THEN count(*)
                    ELSE 0 END AS BIGINT) AS suppressed_docs
        FROM documents GROUP BY lang, source ORDER BY lang, source""")),

    // TEMPERATURE-scaled source mixing (the mC4/XLM-R multilingual
    // rebalance: sample shares proportional to p^alpha, alpha < 1
    // flattening the source distribution so head sources stop drowning
    // the tail). alpha = 1/2 EXACTLY: sqrt is IEEE-correctly-rounded in
    // both engines (unlike pow), so w = sqrt(p) is bit-identical with
    // no snap-boundary hazard; w then lands on the 1e-6 integer grid
    // BEFORE the normalizing sum (the q275 rule — integer sums are
    // order-free) and the 100k-token budget allocates by integer
    // floor division. One corpus scan -> bounded per-source frame.
    "q289_temperature_mix" -> QueryDef(
      fn = (s, d) => {
        val perSrc = t(s, d, "documents")
          .select(col("source"), TF.tokenCount(col("text")).as("__tk"))
          .groupBy("source").agg(sum(col("__tk")).as("n_tokens"))
          .localCheckpoint(eager = true) // totals + weights share it
        val tot = perSrc.agg(sum(col("n_tokens")).as("__tot"))
        val weighted = perSrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_tokens"),
            expr("n_tokens * 1000000L div __tot").as("p_e6"),
            (sqrt(col("n_tokens").cast("double") / col("__tot").cast("double"))
              * 1000000.0 + 0.5).cast("long").as("w_e6"))
          .localCheckpoint(eager = true) // weight sum + allocation share it
        val wtot = weighted.agg(sum(col("w_e6")).as("__wt"))
        weighted.crossJoin(broadcast(wtot))
          .select(col("source"), col("n_tokens"), col("p_e6"),
            expr(s"w_e6 * ${TemperatureBudget}L div __wt").as("alloc_tokens"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH src AS (SELECT source,
                            CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
                     FROM documents GROUP BY source),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM src),
        w AS (SELECT source, n_tokens,
                     n_tokens * 1000000 // tot.t AS p_e6,
                     CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot.t AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS w_e6
              FROM src CROSS JOIN tot),
        wt AS (SELECT CAST(sum(w_e6) AS BIGINT) AS s FROM w)
        SELECT source, n_tokens, p_e6,
               w_e6 * $TemperatureBudget // wt.s AS alloc_tokens
        FROM w CROSS JOIN wt ORDER BY source""")),

    // Differentially-private count release (epsilon-DP Laplace
    // mechanism) — the privacy family's RELEASE verb next to q288's
    // k-anonymity AUDIT: per-type event counts plus Laplace(b = 1/eps)
    // noise via the inverse CDF, noise = -b * sign(u - 1/2) *
    // ln(1 - 2|u - 1/2|). Deterministic and replayable: u is the
    // q283-style md5 rational (h + 0.5) / 2^32 — strictly inside (0,1)
    // so the log argument never hits 0 — and the noise lands on the
    // 1e-6 grid via floor-snap (ln is the one libm call; the q275
    // snap-before-use rule). The true count rides along for the gate —
    // a real release would drop it.
    "q293_dp_release" -> QueryDef(
      fn = (s, d) => {
        val b = 1e6 / DpEpsilonE6.toDouble // Laplace scale 1/eps
        t(s, d, "events")
          .groupBy("event_type").agg(count(lit(1)).as("n_true"))
          .withColumn("__u", expr(
            "(CAST(conv(substring(md5(event_type), 1, 8), 16, 10) AS DOUBLE)"
              + " + 0.5) / 4294967296.0"))
          .withColumn("noise_e6", e6(lit(-b) * signum(col("__u") - 0.5)
              * log(lit(1.0) - lit(2.0) * abs(col("__u") - 0.5))))
          .select(col("event_type"), col("n_true"), col("noise_e6"),
            (col("n_true") * 1000000L + col("noise_e6")).as("released_e6"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH c AS (SELECT event_type, count(*) AS n_true FROM events
                   GROUP BY event_type),
        u AS (SELECT event_type, n_true,
                     (CAST(('0x' || substring(md5(event_type), 1, 8))
                        AS BIGINT) + 0.5) / 4294967296.0 AS u
              FROM c),
        z AS (SELECT event_type, CAST(n_true AS BIGINT) AS n_true,
                     CAST(floor(-(1000000.0 / $DpEpsilonE6)
                       * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))
                       * 1000000 + 0.5) AS BIGINT) AS noise_e6
              FROM u)
        SELECT event_type, n_true, noise_e6,
               n_true * 1000000 + noise_e6 AS released_e6
        FROM z ORDER BY event_type""")),

    // Round-11 CURATION REPORT CARD capstone — the per-source readout a
    // data steward actually ships: document volume, how many docs carry
    // an ORGANIC >= 20-token duplicated substring (the q284 machinery
    // on the raw corpus — no injection; organic repeats vary 1-4 per
    // source at sf0.01), and how many docs sit in re-identification-risk
    // (lang, source) cells below the q288 k bar. Composes the round's
    // ops in one bounded frame; the oracle replays both components.
    "q300_curation_report" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            TF.tokens(col("text")).as("toks"))
          .localCheckpoint(eager = true) // spans + k-anon + census share it
        val dupDocs = graft.ops.ExactSubstr
          .duplicateSpans(docs, "doc_id", "toks", minLen = 20)
          .select("doc_id").distinct()
        val atRisk = docs.groupBy("lang", "source")
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") < KAnonymityBar)
          .select("lang", "source")
        docs
          .join(dupDocs.withColumn("__dup", lit(1L)), Seq("doc_id"), "left")
          .join(atRisk.withColumn("__risk", lit(1L)),
            Seq("lang", "source"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("__dup"), lit(0L))).as("n_dup_span_docs"),
            sum(coalesce(col("__risk"), lit(0L))).as("n_at_risk_docs"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH base AS (SELECT doc_id, lang, source, $toksSql AS toks
                      FROM documents),
        w0 AS (SELECT doc_id,
                      unnest(list_transform(
                        generate_series(1, greatest(len(toks) - 19, 0)),
                        i -> array_to_string(toks[i:i+19], ' '))) AS win
               FROM base),
        dup AS (SELECT win FROM w0 GROUP BY win HAVING count(*) >= 2),
        dd AS (SELECT DISTINCT doc_id FROM w0
               WHERE win IN (SELECT win FROM dup)),
        risk AS (SELECT lang, source FROM base
                 GROUP BY lang, source HAVING count(*) < $KAnonymityBar)
        SELECT b.source, count(*) AS n_docs,
               CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dup_span_docs,
               CAST(sum(CASE WHEN r.lang IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_at_risk_docs
        FROM base b
        LEFT JOIN dd ON b.doc_id = dd.doc_id
        LEFT JOIN risk r ON b.lang = r.lang AND b.source = r.source
        GROUP BY b.source ORDER BY b.source""")),

    // GREEDY SET COVER over the 3-gram universe (round 12) — the
    // coverage-maximizing data-selection verb (pick the k documents
    // that jointly cover the most distinct n-grams; the classic
    // submodular-greedy with its (1 - 1/e) guarantee, used to seed
    // diverse fine-tuning subsets). Each of the 5 unrolled steps counts
    // UNCOVERED grams per doc (one anti-join + one agg, gram-keyed
    // uniform shuffle), argmax under the TOTAL (gain desc, doc_id)
    // order, then folds the winner's grams into the covered set. The
    // only driver traffic is ONE row per step (the argmax — bounded by
    // construction, the |types|^2 precedent). Exact longs throughout.
    "q349_greedy_set_cover" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), TF.tokens(col("text")).as("__ts"))
          .filter(size(col("__ts")) >= 3)
        val grams = docs.select(col("doc_id"),
            explode(array_distinct(TF.shinglesOfTokens(col("__ts"), 3)))
              .as("__g"))
          .localCheckpoint(eager = true) // 5 anti-join rounds share it
        var covered = grams.select("__g").limit(0)
          .localCheckpoint(eager = true)
        val picks = Seq.newBuilder[(Long, Long, Long, Long)]
        for (step <- 1 to 5) {
          val uncov = grams.join(covered, Seq("__g"), "left_anti")
          // ONE-row driver pick per step: the greedy argmax under the
          // total (gain desc, doc_id asc) order — bounded by construction
          val best = uncov.groupBy("doc_id").agg(count(lit(1)).as("__gain"))
            .orderBy(col("__gain").desc, col("doc_id").asc)
            .limit(1).head()
          covered = covered
            .unionAll(grams.filter(col("doc_id") === best.getLong(0))
              .select("__g"))
            .distinct().localCheckpoint(eager = true)
          picks += ((step.toLong, best.getLong(0), best.getLong(1),
            covered.count()))
        }
        import s.implicits._
        picks.result().toDF("step", "doc_id", "gain", "cum_covered")
          .orderBy("step")
      },
      oracle = Some {
        val steps = (1 to 5).map { k =>
          s"""p$k AS MATERIALIZED (
                SELECT doc_id, count(*) AS gain
                FROM g WHERE gr NOT IN (SELECT gr FROM c${k - 1})
                GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
              c$k AS MATERIALIZED (
                SELECT DISTINCT gr FROM g
                WHERE doc_id IN (SELECT doc_id FROM p$k)
                   OR gr IN (SELECT gr FROM c${k - 1}))"""
        }.mkString(",\n")
        val out = (1 to 5).map { k =>
          s"""SELECT $k AS step, doc_id, CAST(gain AS BIGINT) AS gain,
                     (SELECT count(*) FROM c$k) AS cum_covered FROM p$k"""
        }.mkString(" UNION ALL ")
        s"""
        WITH base AS (SELECT doc_id, $toksSql AS ts FROM documents),
        g AS MATERIALIZED (
          SELECT doc_id, unnest(list_distinct(
            list_transform(generate_series(1, len(ts) - 2),
              i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]))) AS gr
          FROM base WHERE len(ts) >= 3),
        c0 AS (SELECT gr FROM g LIMIT 0),
        $steps
        SELECT * FROM ($out) ORDER BY step"""
      }),

    // l-diversity audit (round 15, wave 4) — the re-identification
    // dimension k-anonymity (q243/q288) cannot see: a QI class can be
    // k-large yet carry ONE sensitive value, so membership alone leaks
    // the attribute (Machanavajjhala et al. 2007). Per
    // (nation, segment) quasi-identifier class: size, count of
    // DISTINCT sensitive values (account-balance thousands-bucket),
    // and the distinct-l >= 6 gate. At sf0.01 both branches fire
    // (n_sv spans 4-10); at sf0.001 every class fails (1-4 distinct
    // over ~1-per-class rows) — the small-slice-honest direction.
    // One keyed two-level agg; at 100 TB this is the same uniform
    // shuffle shape as the k-anonymity census it extends.
    "q439_l_diversity" -> QueryDef(
      fn = (s, d) => t(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          countDistinct(floor(col("c_acctbal") / 1000.0)).as("n_sv"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("n"), col("n_sv"), (col("n_sv") >= 6L).as("l_ok"))
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      oracle = Some("""
        SELECT c_nationkey, c_mktsegment,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT floor(c_acctbal / 1000.0)) AS BIGINT)
                 AS n_sv,
               count(DISTINCT floor(c_acctbal / 1000.0)) >= 6 AS l_ok
        FROM customer GROUP BY 1, 2
        ORDER BY c_nationkey, c_mktsegment""")),
  )

  /** q293's epsilon on the 1e-6 grid (eps = 0.5 -> Laplace scale 2). */
  private val DpEpsilonE6 = 500000L

  /** q288's k bar — calibrated so both the anonymous and the at-risk
    * branch fire on the sf0.001/0.01 fixtures (see the query comment).
    */
  private val KAnonymityBar = 5L

  /** q289's token budget to allocate across sources. */
  private val TemperatureBudget = 100000L
}
