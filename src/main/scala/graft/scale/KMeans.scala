package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed Lloyd's k-means over an embedding column, closing the IVF
 * path's training gap: `Similarity.ivfTopK` consumed externally-supplied
 * centroids; this trains them with plain DataFrame operations — no driver
 * mutable state, no vectors collected.
 *
 * Each iteration is ONE shuffle, keyed small (r21 — assignment used to
 * shuffle the corpus through a groupBy(row-id) argmax):
 *  - assignment: broadcast packed centroids → per-row compiled argmax
 *    (Similarity.assignCells via the BestCell kernel) — a narrow map,
 *    no corpus shuffle at any scale;
 *  - update: posexplode (cell, pos, x) → groupBy(cell, pos) avg — partial
 *    aggregation map-side, k·dim result rows — then per-cell arrays are
 *    reassembled with sort_array(collect_list(struct(pos, mean))).
 *
 * The centroid table is persisted + counted per iteration: iterative
 * DataFrame algorithms otherwise stack each iteration's plan on the
 * last (lineage grows exponentially). Initial centroids are the k rows
 * with the smallest xxhash64 of the vector bytes — deterministic,
 * uniformly spread, reproducible across runs and engines.
 *
 * At 100 TB: the corpus is only ever scanned (assignment) — all shuffled
 * state is O(k·dim) — and the result feeds `indexBucketed`, which lays
 * the corpus out partitioned by cell so probes prune at the file source.
 */
object KMeans {

  /** Train k centroids; returns (cell, cvec) with cell = 0..k-1. */
  def train(corpus: DataFrame, vecCol: String, k: Int, iters: Int = 5): DataFrame = {
    require(k > 0 && iters >= 0, s"bad kmeans params k=$k iters=$iters")
    val vecs = corpus.select(col(vecCol).as("v"))

    // deterministic init: k rows by smallest hash of the vector bytes
    var centroids = vecs
      .withColumn("h", xxhash64(col("v").cast("string")))
      .orderBy(col("h"))
      .limit(k) // k rows: the window below is tiny and single-partition
      .withColumn("cell", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("h"))) - 1)
      .select(col("cell"), col("v").as("cvec"))
      .coalesce(1) // k rows: single-partition, so every downstream
      .persist()   // centroid action is one task, not shuffle-partitions many
    centroids.count()

    var it = 0
    while (it < iters) {
      // r21: assignCells is a narrow map now (BestCell kernel) — no row
      // id needed (duplicate vectors are valid k-means input, so there is
      // no unique id to pass; the idCol-free overload makes that explicit)
      val assigned = Similarity.assignCells(vecs, "v", centroids)
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy(col("cell"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cvec"))
      // empty cells keep their previous centroid (standard Lloyd's choice)
      val next = centroids.select(col("cell"), col("cvec").as("prev"))
        .join(means, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("cvec"), col("prev")).as("cvec"))
        .coalesce(1)
        .persist()
      next.count() // materialize BEFORE unpersisting the parent lineage
      centroids.unpersist(false)
      centroids = next
      it += 1
    }
    centroids
  }

  /** Write the corpus partitioned by assigned cell: the IVF index layout.
    * A probe reading `nprobe` cells touches only those directories —
    * partition pruning at the file source, the property that makes IVF
    * pay off at 100 TB.
    *
    * The repartition on cell makes each cell directory ONE file instead
    * of one-per-upstream-task: a probe scans whole cells anyway, and the
    * small-files alternative (tools/IvfProbe @0fcdae9 measured 32 files/cell at 142
    * cells) costs every probe a ~4 s listing + footer-inference floor —
    * more than the scan itself. At real scale add
    * spark.sql.files.maxRecordsPerFile to re-split jumbo cells. */
  def indexBucketed(corpus: DataFrame, vecCol: String, idCol: String,
                    centroids: DataFrame, path: String): Unit =
    Similarity.assignCells(corpus, vecCol, idCol, centroids)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** IVF top-k over a bucketed index written by indexBucketed: rank cells
    * by centroid similarity, scan ONLY the nprobe nearest cells.
    *
    * The probed cell ids are resolved DRIVER-SIDE (a deliberate exception
    * to the no-collect rule, like JobGraph's sizing counts): the centroid
    * table is bounded at ivfCellsFor's 65536-row clamp, the collect is
    * O(nprobe) ints, and a static `isin` filter prunes partitions AT
    * PLAN TIME — the scan lists only the nprobe directories (PartitionCount
    * pinned in KMeansSpec), where the previous broadcast-join form relied
    * on runtime DPP and still listed every cell directory per query
    * (tools/IvfProbe @0fcdae9 measured it as a flat ~1.2 s/query floor at 142 cells).
    * The index schema comes from ParquetIO's fingerprint cache, so
    * repeated probes skip footer re-inference. */
  /** Batch-probe a bucketed index with MANY queries: rank cells per query
    * by centroid cosine (centroids broadcast under the 65536-cell clamp),
    * keep nprobe cells per query, scan ONLY the union of probed cells
    * (static `isin` — the distinct-cell resolve is a bounded driver-side
    * collect, ≤ kcells ints, same justification as searchBucketed's),
    * then join the scan to the per-query probe set on cell and take
    * top-k per query through a rank-filter (WindowGroupLimit pre-reduces
    * per partition before the shuffle — the knnJoin idiom).
    *
    * Sized for BOUNDED query batches (the probe set, q·nprobe rows each
    * carrying a query vector, broadcasts into the scan join — the same
    * contract as knnJoin's broadcast queries): the corpus-side scan
    * never shuffles, so cost is (probed cells scanned) × (queries per
    * cell). Corpus-scale query sets belong in knnJoin or a dedup pass.
    * Output: (query_id, rank, idCol, cosine), k rows per query.
    *
    * MEASURED amortization (tools/IvfProbe @0fcdae9, 20k-vector index, 142 cells,
    * nprobe=2, local[32]): point probes (searchBucketed) cost ~0.66 s
    * per query — a floor of plan/listing per probe; batch probing runs
    * 8/64/256 queries in 4.6/4.9/7.6 s = 0.57/0.077/0.030 s per query,
    * ~20x amortization at 256 queries, with recall identical to the
    * point probe at the same nprobe (same computation, one scan). */
  def searchBucketedMany(spark: SparkSession, indexPath: String, vecCol: String,
                         idCol: String, centroids: DataFrame, queries: DataFrame,
                         qIdCol: String, qVecCol: String,
                         k: Int, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
      .crossJoin(broadcast(centroids.select(col("cell"), col("cvec"))))
      .withColumn("__rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(Similarity.cosine(col("cvec"), col("__qv")).desc, col("cell").asc)))
      .filter(col("__rk") <= nprobe)
      .select(col("query_id"), col("__qv"), col("cell"))
    val probed = OpCaches.persist(ranked)
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getAs[Number](0).intValue) // bounded: ≤ kcells ints
    graft.io.ParquetIO.read(spark, indexPath)
      .filter(col("cell").isin(cells.toIndexedSeq: _*)) // plan-time pruning
      .join(broadcast(probed), Seq("cell"))
      .select(col("query_id"), col(idCol),
        round(Similarity.cosine(col(vecCol), col("__qv")), 6).as("cosine"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  def searchBucketed(spark: SparkSession, indexPath: String, vecCol: String,
                     idCol: String, centroids: DataFrame, query: Seq[Float],
                     k: Int, nprobe: Int = 2): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    val probeCells = centroids
      .select(col("cell"), Similarity.cosine(col("cvec"), q).as("csim"))
      .orderBy(col("csim").desc, col("cell").asc)
      .limit(nprobe)
      .collect().map(_.getAs[Number](0).intValue) // cell is int in-plan, long off a declared port
    graft.io.ParquetIO.read(spark, indexPath)
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*)) // static pruning
      .select(col(idCol), round(Similarity.cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }
}
