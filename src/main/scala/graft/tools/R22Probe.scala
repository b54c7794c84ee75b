package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.SparkEntry.table
import graft.scale._

/** Dev-only: r22 paired arms for the LSH dedup family's stage count.
  *
  * The r21 audit (MinhashProbe + plan dumps) found the family's ~9.7 s
  * spread over ~10 small sequential stages with ~68% fixed stage latency
  * at sf0.1 — no dominant exchange. These arms attack the stage count
  * itself (guide §2.4): each variant is the CURRENT operator with one
  * structural edit, run interleaved (cur/opt/opt/cur after a discarded
  * warmup) so machine drift cancels within the pair:
  *
  *  - minhash-nodist: drop the `.distinct()` on `involved` (left_semi
  *    ignores duplicate build rows) and on `losers` (left_anti likewise).
  *  - simhash-lean: drop the persist on withFp (consumed once in
  *    simhashDedup — the fingerprint projection can fuse into the reps
  *    groupBy map side) and the `.distinct()` on repLosers (left_anti).
  *  - embedding-lean: drop the persist on bucketed (ReuseExchange
  *    serves the self-join's two sides from one shuffle write — the
  *    same argument minhashNearDups' bucket comment records) and the
  *    `.distinct()` on losers (left_anti).
  *  - ngram: no structural arm (r21's window-form rejection stands);
  *    measured as cur only for the family total.
  */
object R22Probe {
  @volatile var jobs = 0
  @volatile var stages = 0

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages += 1
    })

    def t(name: String)(f: => DataFrame): Unit = {
      spark.catalog.clearCache(); OpCaches.drain()
      jobs = 0; stages = 0
      val t0 = System.nanoTime()
      val n = f.count()
      val dt = (System.nanoTime() - t0) / 1e9
      ListenerBusBridge.drainSharedQueue(spark.sparkContext, 10000)
      println(f"$name%-24s n=$n%-6d ${dt}%6.2f s  jobs=$jobs stages=$stages")
    }

    val docs = table(spark, dir, "documents")
    val emb = table(spark, dir, "embeddings")

    // ---- current operators (the queries' exact shapes)
    def minhashCur() = Dedup.minhashDedup(docs, "text", "doc_id", 5, 32, 16, 0.6)
    def simhashCur() = Dedup.simhashDedup(docs, "text", "doc_id", 3)
    def ngramCur() = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 4, 0.3, 10000)
    def embCur() = Similarity.embeddingDedup(emb, "embedding", "vec_id", 0.95, 64, 16, 10)

    // ---- minhash variant: no distinct on involved / losers
    def minhashOpt(): DataFrame = {
      val wide = Dedup.widen(docs)
      val sigs = Dedup.minhashSignatures(wide, "text", "doc_id", 3, 32)
      val buckets = sigs
        .select(col("id"), explode(Dedup.lshBucketKeys(col("sig"), 32, 16)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
      val cand = OpCaches.persist(
        buckets.select(col("band"), col("bucket"), col("id").as("id_a"))
          .join(buckets.select(col("band"), col("bucket"), col("id").as("id_b")),
            Seq("band", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
          .distinct())
      val involved = cand.select(col("id_a").as("id"))
        .union(cand.select(col("id_b").as("id"))) // no distinct: left_semi build
      val shingled = OpCaches.persist(
        wide.select(col("doc_id").as("id"), col("text").as("t"))
          .join(involved, Seq("id"), "left_semi")
          .select(col("id"), Dedup.shingles(col("t"), 5).as("sh")))
      val pairs = cand
        .join(shingled.select(col("id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
        .join(shingled.select(col("id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.jaccard(col("sha"), col("shb")).as("jaccard"))
        .filter(col("jaccard") >= 0.6)
      val losers = pairs.select(col("id_b").as("doc_id")) // no distinct: left_anti build
      docs.join(losers, Seq("doc_id"), "left_anti")
    }

    // ---- simhash variant 2 (r22, after the distinct/persist drops
    // shipped): carry the 4-long fingerprint THROUGH the block self-join
    // and filter hamming per candidate immediately — no cand distinct
    // (duplicate block collisions just re-verify a 4-long hamming, and
    // the left_anti build tolerates duplicate losers), no rep join-backs
    // at all. Trades ~3x the posting-exchange bytes (48 B blk on 4 rows
    // per rep) for one distinct exchange + two join stages.
    def simhashOpt(): DataFrame = {
      val withFp = Dedup.widen(docs)
        .select(col("doc_id").as("id"), Dedup.simhashBlocks(col("text")).as("blk"))
      val reps = OpCaches.persist(withFp.groupBy(col("blk")).agg(min(col("id")).as("id")))
      val e = reps.select(col("id"), col("blk"), posexplode(col("blk")).as(Seq("pos", "v")))
      val repLosers = e.select(col("pos"), col("v"), col("id").as("id_a"), col("blk").as("blk_a"))
        .join(e.select(col("pos"), col("v"), col("id").as("id_b"), col("blk").as("blk_b")),
          Seq("pos", "v"))
        .filter(col("id_a") < col("id_b"))
        .filter(Dedup.hammingBlocks(col("blk_a"), col("blk_b")) <= 3)
        .select(col("id_b").as("id")) // duplicates fine: left_anti build
      val survivorIds = reps.select(col("id")).join(repLosers, Seq("id"), "left_anti")
      docs.join(survivorIds.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_semi")
    }

    // ---- embedding variant: losers distinct RESTORED over the shipped
    // no-distinct form (second-guessing the r22 drop after a noisy 1.16x
    // full-suite reading; cur = current code = no distinct)
    def embOpt(): DataFrame = {
      val losers = Similarity
        .embeddingNearDups(emb, "embedding", "vec_id", 0.95, 64, 16, 10)
        .select(col("id_b").as("vec_id")).distinct()
      emb.join(losers, Seq("vec_id"), "left_anti")
    }

    // ---- ngram variant: carry per-doc shingle sizes through the posting
    // self-join (first(na)/first(nb) in the pair aggregate) instead of
    // joining the sizes table back on id_a and id_b afterwards — trades
    // one long per posting row through the existing exchange for two
    // whole join stages (guide §2.3 "shuffle keys and metadata" inverted:
    // here the metadata is 8 bytes and the joins are the heavy part)
    def ngramOpt(): DataFrame = {
      val sh = OpCaches.persist(
        Dedup.widen(docs).select(col("doc_id").as("id"),
          Dedup.wordShingles(col("text"), 4).as("sh")))
      val posting = sh.select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("g"))
      val keptShingles = posting.groupBy(col("g"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= 10000).select(col("g"))
      val capped = posting.join(keptShingles, Seq("g"))
      capped.select(col("g"), col("id").as("id_a"), col("n").as("na"))
        .join(capped.select(col("g"), col("id").as("id_b"), col("n").as("nb")), Seq("g"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("inter"), first(col("na")).as("na"), first(col("nb")).as("nb"))
        .select(col("id_a"), col("id_b"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
        .filter(col("jaccard") >= 0.3)
    }

    // warmup (discarded): exercise codegen for every arm's plan shape.
    // An arg beyond the dir restricts to that family's arms.
    val fams = if (args.length > 1) args.drop(1).toSet
               else Set("minhash", "simhash", "emb", "ngram")
    println("== warmup (discarded)")
    if (fams("minhash")) { t("warm minhash cur")(minhashCur()); t("warm minhash opt")(minhashOpt()) }
    if (fams("simhash")) { t("warm simhash cur")(simhashCur()); t("warm simhash opt")(simhashOpt()) }
    if (fams("emb")) { t("warm emb cur")(embCur()); t("warm emb opt")(embOpt()) }
    if (fams("ngram")) { t("warm ngram cur")(ngramCur()); t("warm ngram opt")(ngramOpt()) }

    println("== interleaved arms (cur/opt/opt/cur x2)")
    for (round <- 1 to 2) {
      println(s"-- round $round")
      if (fams("minhash")) {
        t("minhash cur")(minhashCur()); t("minhash opt")(minhashOpt())
        t("minhash opt")(minhashOpt()); t("minhash cur")(minhashCur())
      }
      if (fams("simhash")) {
        t("simhash cur")(simhashCur()); t("simhash opt")(simhashOpt())
        t("simhash opt")(simhashOpt()); t("simhash cur")(simhashCur())
      }
      if (fams("emb")) {
        t("emb cur")(embCur()); t("emb opt")(embOpt())
        t("emb opt")(embOpt()); t("emb cur")(embCur())
      }
      if (fams("ngram")) {
        t("ngram cur")(ngramCur()); t("ngram opt")(ngramOpt())
        t("ngram opt")(ngramOpt()); t("ngram cur")(ngramCur())
      }
    }
    spark.stop()
  }
}
