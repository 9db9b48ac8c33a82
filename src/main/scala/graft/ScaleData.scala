package graft

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one scale-data generator: K id-disjoint copies of an sf-dir, for
  * the growth audit (`ScaleGrowthSpec`) and the scale side-board
  * (`Probe scale`). Each copy is its own self-contained instance of the
  * base's internal structure, so healthy work grows K-fold, not K^2-fold:
  *
  *  - Every column of every table is written. `region` and `nation` are
  *    copied once; every other table K times.
  *  - Each key domain shifts by one stride per copy, `max + 1` over every
  *    column of the domain, so joins stay consistent within a copy and
  *    never cross copies. The custkey stride is rounded up to a multiple of
  *    q310's truss block, so no block straddles two copies.
  *  - Document tokens get a per-copy `_r<c>` suffix, except language-marker
  *    words (q219's lang-id gate and q405's 'en' slice must pass a
  *    representative share of every copy). `source` gets the same suffix
  *    (q319's sources x vocab frame grows in rows, not marginals); `lang`
  *    rides verbatim; `n_chars` is recomputed from the new text. Exact
  *    duplicates within a copy stay duplicates.
  *  - Element j of copy c's embedding is multiplied by (-1)^popcount(c & j),
  *    row c of a Sylvester-Hadamard matrix: copy 0 is unchanged, distances
  *    within a copy are exact (the map is orthogonal), and cross-copy
  *    cosine stays far below the catalog's 0.95 duplicate bar.
  *
  * Guards, checked before anything is written, each naming its key:
  * K >= 1; K <= the embedding dimension (distinct Hadamard rows); no
  * negative key; and K x stride <= 100000 for `doc_id` and `vec_id`,
  * the smallest offset the catalog adds to their ids to mint a twin.
  */
object ScaleData {

  /** Key domains: every column of a domain shifts by the same stride. */
  val domains: Seq[(String, Seq[String])] = Seq(
    "orderkey" -> Seq("o_orderkey", "l_orderkey"),
    "custkey" -> Seq("o_custkey", "c_custkey"),
    "partkey" -> Seq("l_partkey", "p_partkey"),
    "suppkey" -> Seq("l_suppkey", "s_suppkey"),
    "event_id" -> Seq("event_id"), "user_id" -> Seq("user_id"),
    "doc_id" -> Seq("doc_id"), "vec_id" -> Seq("vec_id"))

  /** q286 and the doc-twin queries (q280 among them) add 100000 to an id; q334 adds 1000000. */
  private val TwinOffset = 100000L

  private val copiedOnce = Set("region", "nation")

  private val markerWords: Seq[String] =
    TF.langMarkers.values.flatten.map(_.toLowerCase).toSeq.distinct

  private def perturbText(text: Column, c: Int): Column =
    array_join(transform(TF.tokens(text),
      t => when(lower(t).isin(markerWords: _*), t).otherwise(concat(t, lit(s"_r$c")))), " ")

  private def hadamardRow(v: Column, c: Int): Column =
    transform(v, (x, j) => when(bit_count(j.bitwiseAND(lit(c))) % 2 === 1, -x).otherwise(x))

  /** Writes `srcDir`'s tables replicated `k` times under `outDir`, one
    * `<table>.parquet` each, and returns the stride of every key domain.
    */
  def replicate(spark: SparkSession, srcDir: String, k: Int, outDir: String): Seq[(String, Long)] = {
    require(k >= 1, s"scale factor K must be at least 1: $k")
    val src = Tables.names.map(t => t -> Tables.load(spark, srcDir, t))
    val dim = src.toMap.apply("embeddings").agg(min(size(col("embedding")))).head().getInt(0)
    require(k <= dim, s"embedding: K=$k exceeds the dimension $dim, so Hadamard rows would repeat")
    val domainOf = domains.flatMap { case (d, cs) => cs.map(_ -> d) }.toMap
    val bounds: Map[String, (Long, Long)] = src.flatMap { case (_, df) =>
      val keys = df.columns.filter(domainOf.contains).toSeq
      if (keys.isEmpty) Nil
      else {
        val aggs = keys.flatMap(c => Seq(min(col(c)), max(col(c))))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        keys.zipWithIndex.map { case (c, i) => c -> (row.getLong(2 * i), row.getLong(2 * i + 1)) }
      }
    }.toMap
    val block = queries.CatalogInsight.TrussBlock
    val strides = domains.map { case (d, cs) =>
      require(cs.forall(bounds(_)._1 >= 0), s"$d: a negative key would overlap the previous copy")
      val s = cs.map(bounds(_)._2).max + 1
      d -> (if (d == "custkey") (s + block - 1) / block * block else s)
    }
    strides.filter { case (d, _) => d == "doc_id" || d == "vec_id" }.foreach { case (d, s) =>
      require(k * s <= TwinOffset,
        s"$d: K=$k x stride $s = ${k * s} exceeds the catalog's twin offset $TwinOffset")
    }
    val shift = domainOf.map { case (c, d) => c -> strides.toMap.apply(d) }
    def copy(df: DataFrame, c: Int): DataFrame = {
      val out = df.select(df.columns.toSeq.map {
        case n if shift.contains(n) => (col(n) + lit(c * shift(n))).as(n)
        case "text" => perturbText(col("text"), c).as("text")
        case "source" => concat(col("source"), lit(s"_r$c")).as("source")
        case "embedding" => hadamardRow(col("embedding"), c).as("embedding")
        case n => col(n)
      }: _*)
      if (!df.columns.contains("n_chars")) out
      else out.withColumn("n_chars", char_length(col("text")).cast(df.schema("n_chars").dataType))
    }
    src.foreach { case (t, df) =>
      val copies = if (copiedOnce(t)) Seq(df) else (0 until k).map(copy(df, _))
      copies.reduce(_ unionAll _).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    strides
  }
}
