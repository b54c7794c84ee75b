package graft.functions

import graft.SparkTestBase
import graft.scale.Dedup
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** The near-dup row kernels against the forms they replaced, kept here
  * as reference models: the per-position `substringSQL` loop (char
  * shingles and chunks), the relational and fold MinHash signatures,
  * the `concat_ws` band keys and `array_intersect`/`array_union`
  * Jaccard. Inputs: the documents fixture plus generated unicode (CJK,
  * 4-byte characters, empty and null text, text shorter than n,
  * duplicate and null elements). */
class NearDupKernelsSpec extends SparkTestBase with TimeLimits {

  private implicit val signaler: Signaler = ThreadSignaler

  // ---------------------------------------------------- reference models

  /** Char shingles: one `substringSQL` per position, distinct in
    * first-occurrence order; null text is `[null]`. */
  private def shinglesLoop(s: String, n: Int): Seq[String] =
    if (s == null) Seq(null)
    else {
      val u = UTF8String.fromString(s)
      (1 to math.max(u.numChars - (n - 1), 1)).map(i => u.substringSQL(i, n).toString).distinct
    }

  /** Char chunks: one `substringSQL` per chunk start. */
  private def chunksLoop(s: String, size: Int, stride: Int): Seq[String] = {
    val u = UTF8String.fromString(s)
    (0 until u.numChars by stride).map(st => u.substringSQL(st + 1, size).toString)
  }

  /** The (id, sig) table as a relational aggregate: explode the word
    * shingles, group by id, k `min(xxhash64(s, i))` aggregates. */
  private def relationalSignatures(df: DataFrame, textCol: String, idCol: String,
                                   k: Int): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
      explode(Dedup.wordShingles(col(textCol), 3)).as("s"))
    val aggs = (0 until k).map(i => min(xxhash64(col("s"), lit(i))).as(s"h_$i"))
    exploded.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"h_$i")): _*).as("sig"))
  }

  /** The per-row signature as a fold with a k-wide accumulator. */
  private def foldSignature(shingles: Column, k: Int): Column =
    aggregate(shingles, array_repeat(lit(Long.MaxValue), k),
      (acc, s) => zip_with(acc, array((0 until k).map(i => xxhash64(s, lit(i))): _*),
        (m, h) => least(m, h)))

  /** Band keys: each band's longs joined with `concat_ws`, hashed with
    * the band id. */
  private def concatBandKeys(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map(b =>
      xxhash64(concat_ws(",", slice(sig, b * r + 1, r)), lit(b))): _*)
  }

  private def setJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  // -------------------------------------------------------------- inputs

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

  private val unicodeGen: Gen[String] = Gen.listOf(Gen.frequency(
    (8, Gen.alphaNumChar.map(_.toString)), (4, Gen.const(" ")),
    (3, Gen.oneOf("中", "文", "字", "の", "한")),
    (2, Gen.oneOf("😀", "𝄞", "𠜎")),
    (2, Gen.oneOf("é", "ß", "Σ", "́", "\t")))).map(_.mkString)

  /** Generated texts plus the edge cases: empty, blank, null, shorter
    * than every width used here, one 4-byte character, repeats. */
  private lazy val texts: Seq[String] =
    Seq("", " ", null, "ab", "中", "😀", "😀😀😀😀😀😀", "a a a a a a", "中文 中文 中文 中文") ++
      Gen.listOfN(150, unicodeGen).apply(Gen.Parameters.default, Seed(12L)).get

  private lazy val generated: DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text").repartition(3)
  }

  /** String arrays with duplicates, null elements, empties and nulls. */
  private lazy val arrayPairs: DataFrame = {
    val elem = Gen.frequency((6, Gen.oneOf("a", "b", "c", "中", "😀", "")), (1, Gen.const(null)))
    val arr = Gen.frequency((8, Gen.listOf(elem).map(_.take(8))), (1, Gen.const(null)))
    val pairs = Gen.listOfN(200, Gen.zip(arr, arr)).apply(Gen.Parameters.default, Seed(5L)).get
    val edges = Seq((Nil, Nil), (Nil, List("a")), (List(null), List(null)),
      (List(null, null), List("a", null)), (List("a", "a"), List("a")))
    val schema = StructType(Seq(StructField("a", ArrayType(StringType)),
      StructField("b", ArrayType(StringType))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      (edges ++ pairs).map { case (a, b) => Row(a, b) }, 2), schema)
  }

  // --------------------------------------------------------------- specs

  test("CharShingles and CharChunks equal the substringSQL loop (documents fixture + unicode)") {
    val all = docs.select(col("text")).collect().map(_.getString(0)).toSeq ++ texts
    for (t <- all) {
      val u = if (t == null) null else UTF8String.fromString(t)
      for (n <- Seq(1, 2, 5)) {
        val got = CharShingles.compute(u, n)
        assert(got.toSeq[UTF8String](StringType).map(x => if (x == null) null else x.toString) ===
          shinglesLoop(t, n), s"shingles n=$n of '$t'")
      }
      if (t != null) for ((size, stride) <- Seq((1, 1), (4, 3), (7, 7), (300, 200))) {
        val got = CharChunks.compute(u, size, stride)
        assert(got.toSeq[UTF8String](StringType).map(_.toString) === chunksLoop(t, size, stride),
          s"chunks $size/$stride of '$t'")
      }
    }
  }

  test("minhashSignature equals the relational signature table and the fold (documents + unicode)") {
    val k = 32
    for (df <- Seq(docs, generated)) {
      val perRow = df.filter(col("text").isNotNull).select(col("doc_id").as("id"),
        Dedup.minhashSignature(Dedup.wordShingles(col("text"), 3), k).as("sig"),
        foldSignature(Dedup.wordShingles(col("text"), 3), k).as("fold"))
      val relational = relationalSignatures(df, "text", "doc_id", k)
      assert(perRow.count() === relational.count())
      val bad = perRow.join(relational.withColumnRenamed("sig", "rel"), Seq("id"), "full_outer")
        .filter(not(col("sig") <=> col("rel")) || not(col("sig") <=> col("fold"))).count()
      assert(bad === 0L)
    }
    // null elements hash as xxhash64 skips them; empty → k × MaxValue; null → null
    val odd = arrayPairs.select(MinHash.signature(col("a"), 8).as("x"),
      foldSignature(col("a"), 8).as("y"))
    assert(odd.filter(not(col("x") <=> col("y"))).count() === 0L)
  }

  test("lshBucketKeys equals the concat_ws band keys, read with posexplode") {
    val sigs = docs.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.wordShingles(col("text"), 3), 32).as("sig"))
    for ((k, bands) <- Seq((32, 16), (32, 4), (32, 32), (32, 1))) {
      val bad = sigs.filter(not(Dedup.lshBucketKeys(col("sig"), k, bands) <=>
        concatBandKeys(col("sig"), k, bands))).count()
      assert(bad === 0L, s"k=$k bands=$bands")
    }
    // null elements skipped as concat_ws skips them; a short signature
    // leaves its last bands empty
    val longs = Seq(Seq(1L, null, 3L, -4L), Seq(Long.MinValue, Long.MaxValue), Seq.empty,
      Seq(null, null, 0L, 7L, 8L, 9L))
    val schema = StructType(Seq(StructField("sig", ArrayType(LongType))))
    val odd = spark.createDataFrame(spark.sparkContext.parallelize(
      longs.map(xs => Row(xs.map(_.asInstanceOf[java.lang.Long]))), 2), schema)
    assert(odd.filter(not(Dedup.lshBucketKeys(col("sig"), 6, 3) <=>
      concatBandKeys(col("sig"), 6, 3))).count() === 0L)
    val exploded = sigs.limit(5).select(col("doc_id"),
      posexplode(Dedup.lshBucketKeys(col("sig"), 32, 16)).as(Seq("band", "bucket")))
    assert(exploded.schema("band").dataType === IntegerType)
    assert(exploded.groupBy("doc_id").agg(collect_list("band").as("b"))
      .collect().forall(_.getSeq[Int](1).sorted === (0 until 16)))
  }

  test("jaccard equals size(array_intersect) / size(array_union) (shingle pairs + generated arrays)") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 5).as("sh"))
    val pairs = sh.as("l").join(sh.as("r"), col("l.doc_id") + 1 === col("r.doc_id") ||
      col("l.doc_id") === col("r.doc_id"))
      .select(col("l.sh").as("a"), col("r.sh").as("b"))
    for (df <- Seq(pairs, arrayPairs)) {
      val bad = df.filter(not(Dedup.jaccard(col("a"), col("b")) <=>
        setJaccard(col("a"), col("b")))).count()
      assert(bad === 0L)
    }
    val edge = arrayPairs.limit(5).select(Dedup.jaccard(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(edge.toSeq === Seq(0.0, 0.0, 1.0, 0.5, 1.0))
  }

  test("minhashNearDups equals the relational pipeline it replaced (documents fixture)") {
    val (k, bands) = (32, 16)
    val buckets = relationalSignatures(docs, "text", "doc_id", k)
      .select(col("id"), posexplode(concatBandKeys(col("sig"), k, bands)).as(Seq("band", "bucket")))
    val cand = buckets.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(buckets.select(col("band"), col("bucket"), col("id").as("id_b")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    val sh = docs.select(col("doc_id").as("id"), Dedup.shingles(col("text"), 5).as("sh"))
    val old = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), setJaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= 0.6)
    val now = Dedup.minhashNearDups(docs, "text", "doc_id")
    assert(now.schema === old.schema)
    val rows = (df: DataFrame) => df.collect().map(_.toString).sorted.toSeq
    val got = rows(now)
    assert(got.nonEmpty)
    assert(got === rows(old))
  }

  test("a 100k-character document shingles and chunks in linear time") {
    val piece = "The quick 中文 fox 😀 jumps; ".codePoints.toArray
    val chars = 100000
    val u = UTF8String.fromString(
      new String(Array.tabulate(chars)(i => piece(i % piece.length)), 0, chars))
    assert(u.numChars === chars)
    val sh = failAfter(5.seconds)(CharShingles.compute(u, 5))
    val ch = failAfter(5.seconds)(CharChunks.compute(u, 5, 1))
    assert(ch.numElements() === chars)
    // sampled against the loop: each substringSQL call walks from byte 0
    for (i <- 0 until chars by 997)
      assert(ch.getUTF8String(i) === u.substringSQL(i + 1, 5), s"chunk $i")
    assert(sh.toSeq[UTF8String](StringType).toSet ===
      (0 until chars - 4).map(i => ch.getUTF8String(i)).toSet)
  }
}
