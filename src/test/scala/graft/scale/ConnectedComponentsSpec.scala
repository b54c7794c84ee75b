package graft.scale

import graft.SparkTestBase
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Connected components (Dedup.connectedComponents / clusterDedup) against
 * an independent union-find model, plus the named edge cases: multi-hop
 * chains (pointer-jump convergence), disjoint components, self-loops,
 * null endpoints, and the transitive over-keep case that motivates
 * cluster-level dedup over the pairwise survivor rule.
 */
class ConnectedComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private def sampleN[A](g: Gen[A], n: Int, seed: Long): Seq[A] = {
    val params = Gen.Parameters.default
    Iterator.iterate((Seed(seed), Option.empty[A])) { case (s, _) =>
      val (v, next) = (g.pureApply(params, s), s.next)
      (next, Some(v))
    }.drop(1).take(n).flatMap(_._2).toSeq
  }

  /** Union-find with min-id roots: the semantic model (written from the
    * definition, not from the implementation). Vertices appearing only in
    * self-loops are not part of any edge, hence absent — matching the
    * operator's contract. */
  private def ufModel(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** maxLocalEdges = 0 forces the distributed loop (the r21 hybrid would
    * otherwise take the driver union-find path on every fixture this
    * spec can afford, leaving the loop untested). */
  private def run(edges: Seq[(Long, Long)], maxLocalEdges: Long = Dedup.LocalCcMaxEdges): Map[Long, Long] =
    Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
      maxLocalEdges = maxLocalEdges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a 20-vertex chain converges (pointer jumping) and labels the min id") {
    val out = run((1L until 20L).map(i => (i, i + 1)), maxLocalEdges = 0)
    assert(out.keySet === (1L to 20L).toSet)
    assert(out.values.toSet === Set(1L))
  }

  test("hybrid: local union-find and distributed loop label identically (schema too)") {
    val edges = (1L until 30L).map(i => (i, i + 1)) ++
      Seq((50L, 51L), (51L, 52L), (200L, 100L), (7L, 7L))
    val localDf = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
    val distDf = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
      maxLocalEdges = 0)
    assert(localDf.schema.map(f => (f.name, f.dataType)) ===
      distDf.schema.map(f => (f.name, f.dataType)))
    val local = localDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = distDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === dist)
    assert(local === ufModel(edges))
  }

  test("hybrid: the maxLocalEdges gate counts pair ROWS and routes by it") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val edges = Seq((1L, 2L), (2L, 3L), (9L, 8L))
    def planOf(maxLocal: Long) =
      Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
        maxLocalEdges = maxLocal).queryExecution.optimizedPlan
    // under the gate: a driver-built LocalRelation (no loop ran)
    assert(planOf(3).collectLeaves().forall(_.isInstanceOf[LocalRelation]),
      "3 pair rows under a gate of 3 must take the local path")
    // over the gate: the loop's checkpointed LogicalRDD
    assert(planOf(2).collectLeaves().exists(_.isInstanceOf[LogicalRDD]),
      "3 pair rows over a gate of 2 must take the distributed loop")
  }

  test("hybrid: non-integral id types fall back to the distributed loop") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("hybrid: integer (non-long) ids keep their dtype through the local path") {
    val pairs = Seq((1, 2), (2, 3), (9, 8)).toDF("id_a", "id_b")
    val df = Dedup.connectedComponents(pairs)
    assert(df.schema.fields.map(_.dataType).toSeq ===
      Seq(org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.IntegerType))
    val out = df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out === Map(1 -> 1, 2 -> 1, 3 -> 1, 8 -> 8, 9 -> 8))
  }

  test("distributed loop matches union-find; output is (id, component)") {
    // a 10-chain takes ~3 pointer-jump rounds, so intermediate rounds
    // differ and the fused check (prev carried through the jump) must
    // count them right; the prev column must not leak into the output
    // (r22 trimmed the chain from 30 — every extra round is ~0.5 s of
    // pure suite wall, COVERAGE.md guard)
    val edges = (1L until 10L).map(i => (i, i + 1)) ++
      Seq((50L, 51L), (51L, 52L), (200L, 100L))
    val df = Dedup.connectedComponents(edges.toDF("id_a", "id_b"), maxLocalEdges = 0)
    assert(df.columns.toSeq === Seq("id", "component"))
    assert(df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === ufModel(edges))
  }

  test("check_every > 1 converges to the identical labeling") {
    import spark.implicits._
    // 14-chain: ~4 rounds, so checkEvery=3 genuinely skips checks
    // (r22 fixture trim from 40, COVERAGE.md suite-wall guard)
    val edges = (1L until 14L).map(i => (i, i + 1)) ++ Seq((100L, 101L))
    val every = run(edges, maxLocalEdges = 0)
    val everyThird = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
      checkEvery = 3, maxLocalEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(everyThird === every)
  }

  test("superseded rounds release their checkpoint blocks") {
    val sc = spark.sparkContext
    graft.scale.OpCaches.drain()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    val before = sc.getPersistentRDDs.size
    // a 64-vertex chain needs several pointer-jump rounds; without the
    // per-round release every round's labels checkpoint would linger
    val out = run((1L until 64L).map(i => (i, i + 1)), maxLocalEdges = 0)
    assert(out.values.toSet === Set(1L))
    val after = sc.getPersistentRDDs.size
    // at most the FINAL labels checkpoint survives (edges are
    // unpersisted at return; OpCaches registration is already drained)
    assert(after - before <= 1,
      s"checkpoint blocks leaked: $before persistent RDDs before, $after after")
    graft.scale.OpCaches.drain()
  }

  test("checkpoint_dir: reliable per-round checkpoint — identical labels, superseded files deleted") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get("target", "test-tmp", "cc_ckpt")
      .toAbsolutePath
    def rddDirs: List[java.nio.file.Path] = {
      if (!java.nio.file.Files.exists(dir)) return Nil
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.matches("rdd-\\d+")).toList
      finally walk.close()
    }
    rddDirs.foreach(p => java.nio.file.Files.walk(p).iterator().asScala
      .toList.reverse.foreach(java.nio.file.Files.deleteIfExists(_)))
    // multi-round chain + a disjoint pair: the reliable path must walk
    // the same rounds and land on the same labels as the default
    val edges = (1L until 48L).map(i => (i, i + 1)) ++ Seq((100L, 101L))
    val expected = run(edges)
    val reliable = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
      checkpointDir = dir.toString, maxLocalEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable === expected, "reliable path must label identically")
    // superseded rounds' files were deleted as the loop advanced: at most
    // the FINAL labels' rdd-* checkpoint directory survives on disk
    val survivors = rddDirs
    assert(survivors.size <= 1,
      s"superseded reliable checkpoints must be deleted, found: $survivors")
    graft.scale.OpCaches.drain()
  }

  test("disjoint components; reversed, duplicate and self edges") {
    val out = run(Seq((5L, 2L), (2L, 5L), (7L, 7L), (9L, 8L), (3L, 2L)))
    // {2,3,5} → 2, {8,9} → 8; 7 only self-loops, so it is not a vertex
    assert(out === Map(2L -> 2L, 3L -> 2L, 5L -> 2L, 8L -> 8L, 9L -> 8L))
  }

  test("null endpoints are dropped, not propagated") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(3L), None), (None, Some(4L)))
      .toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L))
  }

  test("empty pair table yields an empty labeling") {
    assert(run(Nil).isEmpty)
  }

  test("clusterDedup keeps one row per component; singletons untouched") {
    // The motivating case: edges (1,5), (3,5). The pairwise rule (drop
    // id_b of each pair) keeps {1, 3} although 3 is transitively a
    // duplicate of 1; cluster dedup keeps only the component minimum.
    val df = Seq((1L, "a"), (3L, "b"), (5L, "c"), (9L, "d"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 5L), (3L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.clusterDedup(df, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 9L))
  }

  test("random graphs match the union-find model") {
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 24L)
      b <- Gen.chooseNum(0L, 24L)
    } yield (a, b)
    val graphGen = Gen.chooseNum(0, 40).flatMap(Gen.listOfN(_, edgeGen))
    sampleN(graphGen, 8, seed = 20260813L).zipWithIndex.foreach {
      case (es, i) =>
        assert(run(es) === ufModel(es), s"graph #$i (local path): $es")
        // every fourth graph also through the forced distributed loop, so
        // both hybrid arms stay pinned to the model (the loop costs ~1 s
        // per graph — all 8 would double the suite's cc bill for no
        // additional coverage)
        if (i % 4 == 0)
          assert(run(es, maxLocalEdges = 0) === ufModel(es),
            s"graph #$i (distributed path): $es")
    }
  }
}
