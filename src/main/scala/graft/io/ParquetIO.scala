package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.util.concurrent.ConcurrentHashMap

/**
 * Parquet reads with a JVM-wide inferred-schema cache.
 *
 * `spark.read.parquet(path)` re-runs footer-based schema inference on
 * every call — measured at 60–90 ms of driver-side constant per read at
 * sf0.1 (tools/JobPhaseProbe @0fcdae9: a read with an explicit schema is ~7 ms,
 * inferred ~70 ms), which is most of a declarative job's build cost and
 * recurring overhead for a job-per-minute control plane re-reading the
 * same inputs. The cache keys the inferred StructType on the path's
 * recursive file listing (name:length:mtime per file), so ANY file
 * change — overwrite, append, new partition directory — changes the
 * fingerprint and re-infers; a stale schema is never replayed over
 * changed data. The listing itself is one filesystem LIST (the scan
 * relists anyway) and is capped: paths with more than `MaxFingerprint`
 * files skip the cache entirely — at that size the query's runtime
 * dwarfs inference and an unbounded LIST would cost more than it saves.
 *
 * The schema is whatever inference yields under the session's active
 * confs (e.g. `spark.sql.legacy.parquet.nanosAsLong`); callers that
 * toggle such confs between reads of the SAME path should bypass the
 * cache (not a pattern this codebase has).
 */
object ParquetIO {

  private val MaxFingerprint = 1024

  /** path -> (listing fingerprint, inferred schema) */
  private val schemaCache = new ConcurrentHashMap[String, (String, StructType)]()

  def read(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(fp) =>
        val hit = schemaCache.get(path)
        val schema =
          if (hit != null && hit._1 == fp) hit._2
          else {
            val s = spark.read.parquet(path).schema
            schemaCache.put(path, (fp, s))
            s
          }
        spark.read.schema(schema).parquet(path)
    }

  /** Recursive listing digest, or None when the path is unlistable
    * (nonexistent — let spark.read produce its own error) or too large
    * to fingerprint cheaply. A manual listStatus walk, NOT
    * fs.listFiles(p, recursive=true): the RemoteIterator resolves block
    * locations per file (a stat/open on LocalFileSystem, an RPC on
    * distributed stores) — measured at ~8 ms/file on a 142-directory
    * partitioned index (tools/IvfPhase @0fcdae9), which made the fingerprint 3x the
    * cost of the inference it was saving. listStatus returns
    * name/length/mtime without touching block metadata. */
  private def fingerprint(spark: SparkSession, pathStr: String): Option[String] =
    try {
      val root = new org.apache.hadoop.fs.Path(pathStr)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val sb = new StringBuilder
      var n = 0
      val stack = scala.collection.mutable.Stack(root)
      while (stack.nonEmpty && n <= MaxFingerprint) {
        // sort for a stable digest: listStatus order is fs-dependent
        val entries = fs.listStatus(stack.pop()).sortBy(_.getPath.getName)
        entries.foreach { f =>
          if (f.isDirectory) stack.push(f.getPath)
          else {
            sb.append(f.getPath.toUri.getPath).append(':')
              .append(f.getLen).append(':')
              .append(f.getModificationTime).append(';')
            n += 1
          }
        }
      }
      if (n > MaxFingerprint) None else Some(sb.toString)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Read `path` trusting a KNOWN schema — for readbacks of files this
    * process just wrote, where the writer frame's schema is in hand.
    * Skips the per-call footer-inference Spark job entirely (measured
    * 67 ms flat per readback, tools/R21Probe @0fcdae9 rb.* phases — the fingerprint
    * cache above can't help because a rewritten output always misses).
    * The schema is normalized the way file-source inference would yield
    * it — deep-nullable (DataSource marks every field/element nullable:
    * files may omit values) — so the result is bit-identical to an
    * inferred read for any type that roundtrips parquet exactly (all
    * declared-schema types do; pinned type-by-type in JobReadbackSpec).
    * NOT for hive-partitioned outputs: partition columns re-enter the
    * read-back schema LAST with partition-value-inferred types, which a
    * writer-side schema cannot know — inference stays the contract there. */
  def readAs(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(deepNullable(schema).asInstanceOf[StructType]).parquet(path)

  /** The file-source read-schema normalization (DataType.asNullable is
    * private[spark]): every struct field nullable, array elements and map
    * values null-permitting, recursively. */
  private[graft] def deepNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = deepNullable(f.dataType), nullable = true)))
      case at: ArrayType => ArrayType(deepNullable(at.elementType), containsNull = true)
      case mt: MapType =>
        MapType(deepNullable(mt.keyType), deepNullable(mt.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Test seam: forget everything (e.g. between suites sharing a tmp dir). */
  private[graft] def clearCache(): Unit = schemaCache.clear()
}
