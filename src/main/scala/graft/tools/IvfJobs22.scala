package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev-only (r22): per-rep Spark-job census of named gate queries —
  * which driver actions a single bench rep pays, by first-stage callsite.
  * Usage: runMain graft.tools.IvfJobs22 [sfDir] [query names...]
  * (defaults to the ivf family). */
object IvfJobs22 {
  val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()

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
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val d = Option(j.properties.getProperty("spark.job.description")).getOrElse("")
        val cs = j.stageInfos.headOption.map(_.name).getOrElse("?")
        started.add(s"desc='$d' stage0='${cs.take(80)}'")
      }
    })
    val names = if (args.length > 1) args.drop(1).toSeq
                else Seq("q_job_ivf_index", "q_job_ivf_many", "q_job_sim_ivf")
    for (q <- names) {
      // warmup rep (codegen), then the censused rep
      graft.SparkEntry.queries(q)(spark, dir).count()
      spark.catalog.clearCache()
      started.clear()
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(q)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      ListenerBusBridge.drainSharedQueue(spark.sparkContext, 10000)
      println(f"==== $q n=$n ${dt}%.2f s  jobs=${started.size}")
      var i = 0
      started.forEach { s => i += 1; println(f"  job $i%2d $s") }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
