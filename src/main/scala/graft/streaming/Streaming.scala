package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Stateful streaming. The reference's "streaming" is asyncio pipelining
 * of whole payloads with no event time, no watermarks and no windows
 * (SURVEY §2.4) — batch results are its only semantics. Here the SAME
 * DataFrame transforms run in either mode (StreamingJobs runs the
 * registry's builds on readStream frames); what a stream adds is state,
 * and state must be bounded:
 *
 *  - batch `aggregation` and `dedup` are not streamable: their JSON
 *    surfaces declare no watermark, so their state would grow with the
 *    stream. `streaming_aggregation` (windowed, watermark-bounded) and
 *    `streaming_dedup` (dropDuplicatesWithinWatermark on the exact key)
 *    are their streaming comp_types (graph/Components.scala);
 *  - a LIFETIME per-group quota has no watermark to expire by: its
 *    custom state (flatMapGroupsWithState) lives here, below.
 *
 * Scale notes: state is partitioned by key across executors; sinks are
 * checkpointed for exactly-once (StreamingJobs.start).
 */
object Streaming {

  /**
   * Streaming per-group row quota over an arbitrary Row schema — the
   * ingest-side twin of RelationalOps.groupCap, and the
   * flatMapGroupsWithState custom-state primitive reachable from JSON
   * (`streaming_group_cap`): keep the FIRST `cap` rows per `by` group
   * over the stream's LIFETIME.
   *
   * Contract differences vs the batch operator, by streaming nature:
   * the batch groupCap selects under an engine-replayable order
   * (explicit keys or md5); a stream has no replayable order, so the
   * kept subset is arrival-order dependent — what IS exact is the
   * quota itself (never more than `cap` rows per group emitted, across
   * ALL microbatches) and that every emitted row came from the input.
   * StreamingJobsSpec pins both across a multi-batch drain.
   *
   * State: ONE Long counter per distinct group, GroupStateTimeout.
   * NoTimeout — and that is the contract, not an omission: a LIFETIME
   * quota cannot expire state, because an evicted counter would re-admit
   * rows past the cap the moment the group reappears. State therefore
   * grows with the number of distinct groups ever seen and never
   * shrinks; it is bounded only by keying on bounded-cardinality
   * columns (source, language, shard — never a per-document id), the
   * same envelope as any per-group streaming aggregate. A time-scoped
   * quota ("N per source per day") is a different operator: window the
   * key by event time and accept watermark-TTL eviction. Null group
   * values key as a reserved token, so a null source is ONE group with
   * its own quota, mirroring the batch operator's null-key window
   * partition.
   */
  def streamingGroupCap(df: DataFrame, by: Seq[String], cap: Int): DataFrame = {
    require(cap >= 1, s"streaming_group_cap: cap must be >= 1, got $cap")
    require(by.nonEmpty, "streaming_group_cap: needs non-empty `by` group columns")
    val missing = by.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"streaming_group_cap: missing group column(s): ${missing.mkString(", ")}")
    val rowEnc: Encoder[Row] = Encoders.row(df.schema)
    // collision-free composite key: length-prefixed elements (a plain
    // separator join would conflate ("a b","c") with ("a","b c"));
    // null keys get a reserved marker no real length-prefix produces
    df.groupByKey { r: Row =>
        by.map { c =>
          val v = r.getAs[Any](c)
          if (v == null) "n:" else { val s = v.toString; s"${s.length}:$s" }
        }.mkString("|")
      }(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[Row], state: GroupState[Long]) =>
          val already = state.getOption.getOrElse(0L)
          val room = math.max(cap - already, 0L).toInt
          val kept = batch.take(room).toVector
          if (kept.nonEmpty) state.update(already + kept.size)
          kept.iterator
      }(Encoders.scalaLong, rowEnc)
      .toDF()
  }
}
