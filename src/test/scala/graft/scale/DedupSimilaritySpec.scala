package graft.scale

import graft.SparkTestBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog near the old river bank today"),
    (2L, "The quick brown fox jumps over the lazy dog near the old river bank tonight"), // near-dup of 1
    (3L, "  the QUICK   brown fox jumps over the lazy dog near the old river bank today "), // exact dup of 1 modulo normalization
    (4L, "Completely different content about distributed query engines and shuffles"),
    (5L, "Another unrelated sentence mentioning optimizers, joins and caching layers")
  ).toDF("doc_id", "text")

  test("exactKey normalizes case and whitespace; exact dedup keeps min id") {
    val survivors = Dedup.exact(docs, "text", "doc_id")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq === Seq(1L, 2L, 4L, 5L)) // 3 collapses into 1
  }

  test("exact dedup refuses a user __rn column instead of silently dropping it") {
    val withRn = docs.withColumn("__rn", col("doc_id") * 10)
    val e = intercept[IllegalArgumentException] {
      Dedup.exact(withRn, "text", "doc_id")
    }
    assert(e.getMessage.contains("__rn"))
  }

  test("exactKey kernel is byte-identical to the regex form it replaced") {
    // the corpus fixture plus every trim/collapse quirk the regex form
    // has: space-only trim (a leading tab collapses to a LEADING
    // space), interior \t\n\x0B\f\r runs, NBSP as a non-\s TOKEN char,
    // CJK, Turkish dotted I (case fold via the same UTF8String method
    // on both sides), empty/blank/null
    val edges = Seq("", " ", "\t", "  Mixed  CASE \t text\n\nhere ",
      "\tleading tab", "trailing ff\f", "ab", "x Y",
      "日本語\tテスト", "İstanbul I ı", "a  b   c", null)
    val df = docs.select(col("text"))
      .unionByName(edges.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .select(col("text")))
    val bad = df.select(
      Dedup.exactKey(col("text")).as("k"),
      Dedup.exactKeyRegex(col("text")).as("r"))
      .filter(not(col("k") <=> col("r"))).count()
    assert(bad === 0L, "kernel and regex keys must agree byte-for-byte")
    // whole documents fixture at sf0.01 too — real text, CJK included
    val real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val badReal = real.select(
      Dedup.exactKey(col("text")).as("k"),
      Dedup.exactKeyRegex(col("text")).as("r"))
      .filter(not(col("k") <=> col("r"))).count()
    assert(badReal === 0L)
    // and it stays inside whole-stage codegen
    val rq = spark.range(3).select(
      Dedup.exactKey(concat(lit(" A\t b "), col("id").cast("string"))).as("k"))
    assert(rq.queryExecution.executedPlan.toString.contains("*(1)"),
      s"expected codegen:\n${rq.queryExecution.executedPlan}")
    assert(rq.as[String].collect().forall(_.startsWith("a b ")))
  }

  test("shingles: short text yields whole-string shingle; jaccard bounds") {
    val d = Seq("abc").toDF("t")
    val sh = d.select(Dedup.shingles(col("t"), 5).as("s")).head().getSeq[String](0)
    assert(sh === Seq("abc"))
    val j = d.select(Dedup.jaccard(
      array(lit("a"), lit("b")), array(lit("a"), lit("b"))).as("j1"),
      Dedup.jaccard(array(lit("a")), array(lit("b"))).as("j2")).head()
    assert(j.getDouble(0) === 1.0)
    assert(j.getDouble(1) === 0.0)
  }

  test("minhashNearDups finds the near-dup pair with exact jaccard") {
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // 2 and 3 are both variants of 1 → all three pairs are near-dups
    assert(pairs.toSet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  /** Fraction of agreeing positions between two k-wide minhash
    * signatures — an unbiased Jaccard estimate costing O(k). */
  private def signatureAgreement(a: Column, b: Column, k: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / k

  test("signatureAgreement is 1 on identical signatures") {
    val d = docs.select(Dedup.minhashSignature(
      Dedup.wordShingles(col("text"), 3), 32).as("sig"))
    val a = d.select(signatureAgreement(col("sig"), col("sig"), 32).as("x"))
      .collect().map(_.getDouble(0))
    assert(a.forall(_ === 1.0))
  }

  test("simhashDedup equals naive pairwise dedup (pigeonhole exactness)") {
    val survivors = Dedup.simhashDedup(docs, "text", "doc_id", maxHamming = 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    // naive: all-pairs hamming over the same fingerprints
    val fps = docs.select(col("doc_id"), Dedup.simhashBlocks(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def ham(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val naiveLosers = (for {
      a <- fps.keys; b <- fps.keys if a < b && ham(fps(a), fps(b)) <= 3
    } yield b).toSet
    assert(survivors.toSeq === fps.keys.filterNot(naiveLosers).toSeq.sorted)
  }

  test("hammingBlocks: zero on self, symmetric") {
    val d = docs.select(Dedup.simhashBlocks(col("text")).as("b"))
    val z = d.select(Dedup.hammingBlocks(col("b"), col("b")).as("h"))
      .collect().map(_.getLong(0))
    assert(z.forall(_ === 0L))
  }

  test("ngramJaccardPairs: exact intersection arithmetic") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._2)
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val j13 = pairs.find(_._2 == 3L).get._3
    assert(j13 === 1.0) // identical after normalization
    // r22 pin for the carried-size rewrite (na/nb ride the posting rows
    // instead of joining a size table back): every emitted jaccard must
    // equal the direct |A∩B| / |A∪B| over the same word shingles —
    // exercised on pairs with ASYMMETRIC shingle counts too (threshold 0
    // emits every candidate pair)
    val model = docs.select(col("doc_id").as("id"),
        Dedup.wordShingles(col("text"), 3).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val all = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
        threshold = 0.000001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(all.nonEmpty)
    all.foreach { case (a, b, j) =>
      val inter = (model(a) & model(b)).size
      val expect = inter.toDouble / (model(a).size + model(b).size - inter).toDouble
      assert(j === expect, s"pair ($a,$b)")
    }
    // df-cap drops everything when set below any frequency → no pairs
    assert(Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.1, maxDf = 0).count() === 0)
  }

  test("cosine: identical → 1, orthogonal → 0, zero-norm → 0") {
    val d = spark.range(1).select(
      Similarity.cosine(array(lit(1f), lit(0f)), array(lit(1f), lit(0f))).as("same"),
      Similarity.cosine(array(lit(1f), lit(0f)), array(lit(0f), lit(1f))).as("orth"),
      Similarity.cosine(array(lit(0f), lit(0f)), array(lit(1f), lit(1f))).as("zero"))
    val r = d.head()
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === 0.0)
  }

  test("knnJoin: rank 1 is the query itself, ranks are dense per query") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val knn = Similarity.knnJoin(vecs, vecs.filter(col("vec_id") === 0),
      "embedding", "vec_id", "vec_id", k = 2)
      .orderBy(col("rank")).collect()
    assert(knn(0).getAs[Long]("corpus_id") === 0L)
    assert(knn(1).getAs[Long]("corpus_id") === 1L)
  }

  test("embeddingNearDups finds high-cosine pairs, ids only") {
    val vecs = Seq(
      (0L, Array.fill(16)(1f)),
      (1L, Array.fill(16)(1f).updated(0, 1.05f)), // cos ≈ 0.9995
      (2L, Array.tabulate(16)(i => if (i % 2 == 0) 1f else -1f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDups(vecs, "embedding", "vec_id",
      simThreshold = 0.95, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 1L)))
  }

  test("lshDepthFor: depth grows with corpus, recall budget always met") {
    // r must be monotone in n (that is the whole point of the rule), and
    // the returned (bands, r) must satisfy the recall inequality it is
    // solved from: (1 - p^r)^bands <= missBudget at the threshold
    val sizes = Seq(1000L, 10000L, 100000L, 1000000L, 100000000L)
    val depths = sizes.map(n => Similarity.lshDepthFor(n, 0.95))
    assert(depths.map(_._2) === depths.map(_._2).sorted) // r monotone
    for ((n, (bands, r)) <- sizes.zip(depths)) {
      val p = 1.0 - math.acos(0.95) / math.Pi
      val miss = math.pow(1.0 - math.pow(p, r), bands)
      assert(miss <= 0.01 + 1e-12, s"n=$n bands=$bands r=$r miss=$miss")
      // and candidates stay ~linear: r >= log2(n) means n·2^-r <= 1, so
      // expected background collisions per vector are bounded by `bands`
      // (which grows only with r, i.e. logarithmically in n)
      assert(n * math.pow(2.0, -r) <= 1.0 + 1e-12,
        s"n=$n r=$r: n·2^-r=${n * math.pow(2.0, -r)}")
    }
    // measured 100x points from tools/ScaleProbe @0fcdae9 reproduce
    assert(Similarity.lshDepthFor(2000L, 0.95) === ((16, 11)))
    assert(Similarity.lshDepthFor(200000L, 0.95) === ((29, 18)))
  }

  test("ivfCellsFor/ivfNprobeDefault: sqrt-n cells, clamped; nprobe knee") {
    // sqrt-n balances centroid scan (~cells) against cell scan
    // (~n/cells·nprobe): both grow as sqrt(n)
    assert(Similarity.ivfCellsFor(20000L) === 142)
    assert(Similarity.ivfCellsFor(200000L) === 448)
    assert(Similarity.ivfCellsFor(10L) === 16) // floor clamp
    assert(Similarity.ivfCellsFor(100L * 1000 * 1000 * 1000) === 65536) // cap
    // probe-measured default: cells/8, floored at 2
    assert(Similarity.ivfNprobeDefault(142) === 17)
    assert(Similarity.ivfNprobeDefault(8) === 2)
  }
}
