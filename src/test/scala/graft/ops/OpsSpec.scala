package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away into the green woods tonight"
  private val nearDup = base.replace("green", "dark") // one token changed
  private val distinct =
    "completely different content about spark query engines and columnar storage formats at scale"

  private lazy val docs = Seq(
    (1L, base), (2L, base), (3L, nearDup), (4L, distinct))
    .toDF("doc_id", "text")

  test("exactGroups: identical texts collapse to min-id canonical") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 3)
    val dup = g.filter($"dup_count" === 2).head()
    assert(dup.getAs[Long]("canonical_id") == 1L)
    assert(Dedup.exactDedup(docs, "doc_id", "text").count() == 3)
  }

  test("minhash: identical docs agree fully; near-dups high; distinct low") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
    val est = cands.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("est_jaccard"))
      .toMap
    assert(est((1L, 2L)) == 1.0)
    assert(est.getOrElse((1L, 3L), est.getOrElse((1L, 4L), 0.0)) < 1.0)
    // distinct doc must not pair with base at high similarity
    assert(!est.get((1L, 4L)).exists(_ > 0.5))
  }

  test("native MinHashSig equals the higher-order reference formulation") {
    val hashed = docs.select($"doc_id",
      Dedup.maskedShingleHashes($"text", 3).as("h"))
    val both = hashed.select($"doc_id",
      Dedup.minhashSignatureFromHashes($"h").as("native"),
      Dedup.minhashSignatureHof($"h").as("hof"))
    assert(both.filter($"native" =!= $"hof").count() == 0)
    assert(both.head().getSeq[Long](1).length == 64)
  }

  test("native ShingleHashes32 equals the higher-order reference formulation") {
    val both = docs.select($"doc_id",
      Dedup.maskedShingleHashes($"text", 3).as("native"),
      Dedup.maskedShingleHashesHof($"text", 3).as("hof"))
    assert(both.filter($"native" =!= $"hof").count() == 0)
    // short text degrades to the single whole-text shingle in both forms
    val short = Seq((1L, "just two")).toDF("doc_id", "text")
    val s = short.select(
      Dedup.maskedShingleHashes($"text", 3).as("native"),
      Dedup.maskedShingleHashesHof($"text", 3).as("hof")).head()
    assert(s.getSeq[Long](0) == s.getSeq[Long](1))
    assert(s.getSeq[Long](0).length == 1)
  }

  test("native SimHash64 equals the higher-order reference formulation") {
    val both = docs.select($"doc_id",
      Dedup.simhash($"text").as("native"),
      Dedup.simhashHof($"text").as("hof"))
    assert(both.filter($"native" =!= $"hof").count() == 0)
  }

  test("simhash: identical hamming 0; near-dup small; candidates found via blocking") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sh")).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) <= 12)
    val cands = Dedup.simhashCandidates(docs, "doc_id", "text", maxDistance = 3)
    val pairs = cands.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngramJaccard computes the exact shingle-set ratio") {
    // base: 16 distinct 3-shingles of 18 tokens; one word change flips 3
    val pairs = Seq((1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(pairs, docs, "doc_id", "text")
      .head().getAs[Double]("jaccard")
    assert(j > 0.5 && j < 1.0)
    val self = Dedup.ngramJaccard(Seq((1L, 2L)).toDF("id_a", "id_b"), docs, "doc_id", "text")
      .head().getAs[Double]("jaccard")
    assert(self == 1.0)
  }

  test("simhash blocking surfaces a TRUE near pair (0 < hamming <= maxDistance)") {
    // the catalog's q27 slice gates only the exact-copy pairs (hamming 0,
    // the SQL-provable subset) — this pins the path the oracle can't see:
    // a NONZERO-hamming pair surviving the 16-bit blocking. green->fat
    // was found by scanning one-token variants: its signature differs
    // from base by exactly 2 bits (green->dark, the shared nearDup,
    // lands past maxDistance=3 and is correctly NOT a candidate).
    val nearBits = Seq((1L, base), (5L, base.replace("green", "fat")))
      .toDF("doc_id", "text")
    val cands = Dedup.simhashCandidates(nearBits, "doc_id", "text", maxDistance = 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(cands.contains((1L, 5L)), cands.toString)
    val h = cands((1L, 5L))
    assert(h >= 1 && h <= 3, cands.toString)
  }

  test("embedding LSH surfaces a near-but-not-identical pair (minCosine < cos < 1)") {
    // q29's catalog slice gates exact copies (cosine 1.0) — pin the
    // band the oracle can't see: a perturbed vector inside the cosine
    // bar but NOT identical
    val base = Array.tabulate(8)(i => (i + 1).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.05f
    val vecs = Seq((1L, base), (2L, near),
      (3L, Array.tabulate(8)(i => -1.0f - i))).toDF("vec_id", "embedding")
    val dups = Dedup.embeddingNearDup(vecs, "vec_id", "embedding",
      minCosine = 0.98, numPlanes = 6, dim = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("cosine")).toMap
    assert(dups.contains((1L, 2L)), dups.toString)
    val c = dups((1L, 2L))
    assert(c >= 0.98 && c < 1.0, dups.toString)
  }

  test("semanticDedup prunes a PERTURBED near twin (the band q286's oracle can't see)") {
    // q286's catalog slice gates exact copies (cosine exactly 1.0, same
    // cluster provably) — pin the semantic band: a perturbed twin whose
    // cosine sits just under 1 must land in its source's k-means cluster
    // and collapse into one component, while a dissimilar vector stays a
    // singleton. 6 well-separated base vectors keep Lloyd's stable.
    val bases = Seq.tabulate(6)(b =>
      (b.toLong, Array.tabulate(8)(i => if (i == b) 10.0f else 0.1f * i)))
    val near = bases.head._2.clone(); near(7) = near(7) + 0.2f
    val vecs = (bases :+ (100L, near))
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        k = 3, minCosine = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) == 2L, got.toString)      // source keeps its near twin
    assert(!got.contains(100L), got.toString) // twin pruned
    assert((1L to 5L).forall(got.get(_).contains(1L)), got.toString)
    // and the pair is genuinely NEAR, not exact: its cosine < 1
    val c = graft.functions.VectorFunctions
    val cos = Seq((bases.head._2, near)).toDF("a", "b")
      .select(c.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(cos >= 0.95 && cos < 1.0, cos.toString)
  }

  test("embeddingNearDup finds copies via hyperplane buckets") {
    val vecs = Seq(
      (1L, Array.tabulate(8)(i => i.toFloat / 10)),
      (2L, Array.tabulate(8)(i => i.toFloat / 10)),         // exact copy
      (3L, Array.tabulate(8)(i => -1.0f - i))              // far away
    ).toDF("vec_id", "embedding")
    val dups = Dedup.embeddingNearDup(vecs, "vec_id", "embedding",
      minCosine = 0.99, numPlanes = 6, dim = 8)
    val pairs = dups.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (0L, Array(1.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f)),
    (2L, Array(0.0f, 1.0f)),
    (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine with deterministic tie-break") {
    val res = Similarity.bruteForceTopK(
      corpus.filter($"vec_id" === 0L), corpus, k = 2)
    val rows = res.orderBy("rank").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("neighbor_id") == 1L) // closest direction
    assert(rows(0).getAs[Long]("rank") == 1L)
    assert(rows(1).getAs[Long]("neighbor_id") == 2L)
  }

  test("lshTopK returns correctly-ranked candidates from probed buckets") {
    val res = Similarity.lshTopK(
      corpus.filter($"vec_id" === 0L), corpus, k = 2, numPlanes = 4, dim = 2)
    val rows = res.orderBy("rank").collect()
    assert(rows.nonEmpty)
    // whatever was recalled must be ranked by cosine desc
    val cosines = rows.map(_.getAs[Double]("cosine"))
    assert(cosines.sameElements(cosines.sorted.reverse))
  }

  // ---- property: the multiprobe CONTRACT, over random planes + corpora.
  // lshTopK probes the query's own bucket plus every single-bit flip, so
  // its result must EQUAL brute-force top-k restricted to the corpus
  // vectors whose signature lies within Hamming distance 1 of the
  // query's — for ANY plane seed and ANY vector draw. This pins the
  // guarantee structurally (not "recall was lucky on one fixture").
  private def signatureOf(vec: Array[Float], planes: Seq[Array[Double]]): Long =
    planes.zipWithIndex.foldLeft(0L) { case (acc, (p, i)) =>
      val dot = p.zip(vec).map { case (a, b) => a * b }.sum
      if (dot >= 0) acc | (1L << i) else acc
    }

  test("property: lshTopK == brute force over the Hamming<=1 candidate set " +
      "for random seeds and corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val dim = 8
    val numPlanes = 5
    val vecGen = Gen.listOfN(dim, Gen.choose(-1.0f, 1.0f)).map(_.toArray)
    val corpusGen = Gen.listOfN(24, vecGen)
    (1 to 5).foreach { trial =>
      val vecs = corpusGen(Gen.Parameters.default, Seed(trial.toLong)).get
        .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val planeSeed = 1000L + trial
      val planes = graft.functions.VectorFunctions
        .makePlanes(numPlanes, dim, planeSeed)
      val df = vecs.toDF("vec_id", "embedding")
      val queries = df.filter($"vec_id" < 3)
      val got = Similarity.lshTopK(queries, df, k = 4,
          numPlanes = numPlanes, dim = dim, seed = planeSeed)
        .select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

      // reference: per query, the Hamming<=1 corpus slice, brute-forced
      val sigs = vecs.map { case (id, v) => id -> signatureOf(v, planes) }.toMap
      val want = vecs.take(3).flatMap { case (qid, qv) =>
        val qSig = signatureOf(qv, planes)
        val candidates = vecs.filter { case (cid, _) =>
          cid != qid &&
            java.lang.Long.bitCount(sigs(cid) ^ qSig) <= 1
        }
        def cos(a: Array[Float], b: Array[Float]): Double = {
          val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
          val na = math.sqrt(a.map(x => x.toDouble * x).sum)
          val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
          d / (na * nb)
        }
        candidates.map { case (cid, cv) => (qid, cid, cos(qv, cv)) }
          .sortBy { case (_, cid, c) => (-c, cid) }
          .take(4).zipWithIndex
          .map { case ((q, c, _), i) => (q, c, (i + 1).toLong) }
      }.toSet
      assert(got == want, s"trial $trial: got=$got want=$want")
    }
  }

  test("property: an exact duplicate of the query is always recalled at rank 1") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val dim = 8
    val vecGen = Gen.listOfN(dim, Gen.choose(-1.0f, 1.0f)).map(_.toArray)
    (1 to 5).foreach { trial =>
      val noise = Gen.listOfN(20, vecGen)(Gen.Parameters.default,
        Seed(500L + trial)).get
      val q = vecGen(Gen.Parameters.default, Seed(900L + trial)).get
      // corpus = noise + the query itself + an exact copy under a
      // different id; identical vectors share a signature at ANY seed,
      // so the copy is in the probed bucket and must win rank 1
      // (cosine 1.0) once the self-exclusion filter drops the query's own id
      val vecs = (Seq((100L, q), (101L, q)) ++ noise.zipWithIndex.map {
        case (v, i) => (i.toLong, v)
      }).toDF("vec_id", "embedding")
      val res = Similarity.lshTopK(
          vecs.filter($"vec_id" === 100L), vecs, k = 3,
          numPlanes = 6, dim = dim, seed = 7L + trial)
        .filter($"rank" === 1).collect()
      assert(res.length == 1, s"trial $trial: no rank-1 row")
      assert(res(0).getAs[Double]("cosine") > 0.999999,
        s"trial $trial: rank-1 cosine ${res(0).getAs[Double]("cosine")}")
    }
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("extractFeatures is deterministic and preserves ids through mapPartitions") {
    val media = Seq(
      Multimodal.MediaRow(1L, "image", "abc".getBytes),
      Multimodal.MediaRow(2L, "video", "defg".getBytes)).toDS()
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.sameElements(f2))
    assert(f1(0).byte_len == 3L)
    assert(f1(1).kind == "video" && f1(1).n_frames >= 1)
  }

  test("resize produces the target byte budget deterministically") {
    val media = Seq(
      Multimodal.MediaRow(1L, "image", "somepayload".getBytes),
      Multimodal.MediaRow(2L, "image", Array.empty[Byte])).toDS()
    val small = Multimodal.resize(media, targetW = 4, targetH = 2).collect().sortBy(_.media_id)
    assert(small.forall(_.payload.length == 4 * 2 * 3))
    // deterministic on payload: same input, same thumbnail bytes
    val again = Multimodal.resize(media, 4, 2).collect().sortBy(_.media_id)
    assert(small.zip(again).forall { case (a, b) => a.payload.sameElements(b.payload) })
  }

  // --- real container headers (HeaderCodec) ---

  private def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
  private def le32(v: Int) =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  /** Minimal but structurally-complete 24-bit BMP. */
  private def bmpBytes(w: Int, h: Int): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val pixels = Array.fill[Byte](stride * math.abs(h))(0x7f)
    "BM".getBytes ++ le32(54 + pixels.length) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(pixels.length) ++ le32(2835) ++ le32(2835) ++
      le32(0) ++ le32(0) ++ pixels
  }

  /** Canonical 44-byte PCM WAV header + sample data. */
  private def wavBytes(channels: Int, rate: Int, bits: Int, nSamples: Int): Array[Byte] = {
    val blockAlign = channels * bits / 8
    val data = Array.fill[Byte](nSamples * blockAlign)(1)
    "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(channels) ++
      le32(rate) ++ le32(rate * blockAlign) ++ le16(blockAlign) ++ le16(bits) ++
      "data".getBytes ++ le32(data.length) ++ data
  }

  test("HeaderCodec parses real BMP headers, including top-down negative height") {
    assert(Multimodal.HeaderCodec.parseBmp(bmpBytes(3, 2)) == Some((3, 2, 1)))
    assert(Multimodal.HeaderCodec.parseBmp(bmpBytes(640, -480)) == Some((640, 480, 1)))
    // "BM"-prefixed text must NOT parse: DIB header size can't be a legal value
    assert(Multimodal.HeaderCodec.parseBmp("BMW makes cars, not bitmaps at all".getBytes).isEmpty)
  }

  test("HeaderCodec parses PPM headers with comments") {
    val ppm = "P6\n# a comment line\n640 480\n255\n".getBytes ++ Array[Byte](0, 1, 2)
    assert(Multimodal.HeaderCodec.parsePpm(ppm) == Some((640, 480, 1)))
    assert(Multimodal.HeaderCodec.parsePpm("P6x not whitespace".getBytes).isEmpty)
    assert(Multimodal.HeaderCodec.parsePpm("Plain text file".getBytes).isEmpty)
  }

  test("ppmPixelRegion locates the real pixel bytes of binary Netpbm payloads") {
    val pix = Array.tabulate[Byte](6)(i => (i + 10).toByte)
    val p5 = "P5\n3 2\n255\n".getBytes ++ pix
    val region = Multimodal.HeaderCodec.ppmPixelRegion(p5)
    assert(region == Some((3, 2, 11)))
    val (_, _, off) = region.get
    assert(p5.slice(off, off + 6).sameElements(pix))
    // P6 needs w*h*3 bytes — a truncated payload must not claim a region
    assert(Multimodal.HeaderCodec.ppmPixelRegion(
      "P6\n3 2\n255\n".getBytes ++ pix).isEmpty)
    // 2-byte samples (maxval > 255) are out of scope
    assert(Multimodal.HeaderCodec.ppmPixelRegion(
      "P5\n1 1\n65535\n".getBytes ++ Array[Byte](0, 1)).isEmpty)
    // ASCII variants (P3) have no binary pixel region
    assert(Multimodal.HeaderCodec.ppmPixelRegion("P3\n1 1\n255\n9".getBytes).isEmpty)
  }

  test("sampleCodes decodes real P5 pixels for image rows and stride-samples text") {
    // 32 pixel bytes 100..131 wrapped in a REAL container: decode must
    // surface exactly those values, not the header bytes
    val pix = Array.tabulate[Byte](32)(i => (100 + i).toByte)
    val img = "P5\n32 1\n255\n".getBytes ++ pix
    val txt = Array.tabulate[Byte](64)(i => (32 + i).toByte)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", img),
      Multimodal.MediaRow(2L, "text", txt),
      // an image-typed payload that is NOT a container falls back to raw
      Multimodal.MediaRow(3L, "image", txt)).toDS()
    val out = Multimodal.sampleCodes(media, 32).collect()
      .map(r => r.media_id -> r.codes).toMap
    assert(out(1L).sameElements(Array.tabulate(32)(i => (100 + i).toLong)))
    // stride over 64 raw bytes: position (i*64)/32 = every 2nd byte
    assert(out(2L).sameElements(Array.tabulate(32)(i => (32 + 2 * i).toLong)))
    assert(out(3L).sameElements(out(2L)))
  }

  test("HeaderCodec parses PNG IHDR dimensions and rejects near-misses") {
    def pngBytes(w: Int, h: Int): Array[Byte] = {
      def be(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
        be(13) ++ "IHDR".getBytes ++ be(w) ++ be(h) ++
        Array[Byte](8, 6, 0, 0, 0) // bit depth + color type + crc filler
    }
    assert(Multimodal.HeaderCodec.parsePng(pngBytes(1920, 1080)) == Some((1920, 1080, 1)))
    // valid signature but a corrupt IHDR length must not parse
    val bad = pngBytes(10, 10); bad(11) = 14
    assert(Multimodal.HeaderCodec.parsePng(bad).isEmpty)
    assert(Multimodal.HeaderCodec.parsePng("PNG without the high-bit byte".getBytes).isEmpty)
  }

  test("HeaderCodec parses WAV fmt/data chunks into (channels, rate, samples)") {
    assert(Multimodal.HeaderCodec.parseWav(wavBytes(2, 44100, 16, 100)) ==
      Some((2, 44100, 100)))
    assert(Multimodal.HeaderCodec.parseWav("RIFFxxxxJUNK then whatever else here".getBytes).isEmpty)
  }

  test("HeaderCodec rejects hostile headers instead of throwing (task safety)") {
    // WAV with a chunk size near Int.MaxValue: an int cursor would
    // overflow negative and crash the bounds checks
    val hugeChunk = "RIFF".getBytes ++ le32(100) ++ "WAVE".getBytes ++
      "junk".getBytes ++ le32(0x7ffffff0) ++ Array.fill[Byte](24)(0)
    assert(Multimodal.HeaderCodec.parseWav(hugeChunk).isEmpty)
    // PPM whose dimension overflows Int: toInt would throw
    val hugePpm = "P3\n99999999999 5\n255\n".getBytes ++ Array[Byte](0)
    assert(Multimodal.HeaderCodec.parsePpm(hugePpm).isEmpty)
    // and the full decode path falls back rather than failing
    assert(Multimodal.decode("image", hugeChunk) ==
      Multimodal.FakeCodec.decode("image", hugeChunk))
    assert(Multimodal.decode("image", hugePpm) ==
      Multimodal.FakeCodec.decode("image", hugePpm))
  }

  test("extractFeatures uses real headers when present, fallback otherwise") {
    val media = Seq(
      Multimodal.MediaRow(1L, "bmp", bmpBytes(320, 200)),
      Multimodal.MediaRow(2L, "wav", wavBytes(1, 16000, 16, 480)),
      Multimodal.MediaRow(3L, "image", "not a container".getBytes)).toDS()
    val f = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f(0).width == 320 && f(0).height == 200 && f(0).n_frames == 1)
    assert(f(1).width == 1 && f(1).height == 16000 && f(1).n_frames == 480)
    // fallback path: matches FakeCodec exactly (oracle stability)
    val (fw, fh, ff) = Multimodal.FakeCodec.decode("image", "not a container".getBytes)
    assert(f(2).width == fw && f(2).height == fh && f(2).n_frames == ff)
  }
}
