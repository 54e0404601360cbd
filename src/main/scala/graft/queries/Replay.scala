package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.Q._
import graft.streaming.Changelog

/** The MemoryStream replay harness shared by the streaming oracle gates
  * ([[StreamQueries]]): chunking into micro-batches, running a streaming
  * frame to completion, the changelog fold, and the memoized
  * event-time-sorted events replay input.
  */
object Replay {

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Split into `n` consecutive chunks (micro-batch boundaries). Each
    * chunk becomes ONE MemoryStream block = one input partition, so
    * per-key arrival order inside a batch follows the chunk's row order.
    */
  private[queries] def chunks[T](xs: Seq[T], n: Int): Seq[Seq[T]] = {
    val size = math.max(1, math.ceil(xs.length.toDouble / n).toInt)
    xs.grouped(size).toSeq
  }

  /** Run a streaming Dataset to completion over pre-chunked input,
    * forcing one micro-batch per chunk, and return the sink table
    * (update mode accumulates the changelog; complete mode holds the
    * final state). The per-run checkpoint directory is deleted after the
    * query stops — repeated verify/bench runs must not leak state-store
    * files into the temp dir.
    *
    * `restartAfter = Some(k)` exercises the CHECKPOINT RESUME path (the
    * reference's core exactly-once guarantee — CheckpointCoordinator
    * .java:102 barrier snapshots; Spark's WAL + state-store commit): the
    * query stop()s cleanly after k batches and a NEW query start()s from
    * the same checkpoint — state stores restore, the persisted watermark
    * reloads, and the remaining batches replay through the resumed
    * state. `restartBoundaries` generalizes to SEVERAL stop/restart
    * cycles per replay (recovery from an already-recovered checkpoint —
    * snapshot-plus-changelog restore stacking). The pre-restart sink
    * emissions (all committed — each feed runs processAllAvailable
    * before the stop) accumulate with every later leg's, so a caller's
    * changelog fold sees the complete emission history exactly as an
    * external sink would have.
    */
  private[queries] def runToEnd[T](s: SparkSession, input: MemoryStream[T],
      out: DataFrame, batches: Seq[Seq[T]],
      mode: String = "update", rocks: Boolean = false,
      restartAfter: Option[Int] = None,
      restartBoundaries: Seq[Int] = Nil,
      foreachSink: Option[(DataFrame, Long) => Unit] = None,
      shufflePartitions: Int = 2): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory("qstream_ckpt")
    def freshName() =
      s"qstream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // clamp to [1, n-1] and dedup: at least one batch per leg. A
    // single-batch replay has no interior boundary to stop at, so the
    // restart request degenerates to the straight-through arm.
    val bounds =
      if (batches.length < 2) Nil
      else (restartAfter.toSeq ++ restartBoundaries)
        .map(k => math.min(math.max(1, k), batches.length - 1))
        .distinct.sorted
    // the restart arm substitutes its own buffering sink; a caller
    // combining the two features would silently lose its sink otherwise
    require(bounds.isEmpty || foreachSink.isEmpty,
      "restart boundaries and foreachSink cannot combine")
    if (bounds.nonEmpty) {
      // The memory sink refuses checkpoint recovery (it is not
      // fault-tolerant), so the restart arm writes through foreachBatch
      // with a batchId-IDEMPOTENT buffer — the exact contract a
      // transactional production sink implements for exactly-once: if
      // recovery ever re-delivers a committed batch, the dedup absorbs
      // it; a LOST batch still surfaces as missing rows in the
      // differential.
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.Row]()
      val seen = java.util.concurrent.ConcurrentHashMap
        .newKeySet[java.lang.Long]()
      val sinkFn: (DataFrame, Long) => Unit = (df, batchId) =>
        if (seen.add(batchId)) df.collect().foreach(buf.add)
      // legs: batch index ranges split at the boundaries
      val cuts = 0 +: bounds :+ batches.length
      try cuts.sliding(2).foreach { case Seq(from, to) =>
        if (to > from) {
          val q = startReplayQuery(s, out, freshName(), ckpt.toString, mode,
            rocks, foreachBatch = Some(sinkFn),
            shufflePartitions = shufflePartitions)
          try batches.slice(from, to).foreach { b =>
            input.addData(b); q.processAllAvailable()
          }
          finally q.stop()
        }
      }
      finally Q.deleteRecursively(ckpt) // every leg: no ckpt leak on failure
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](buf), out.schema)
    } else {
      val name = freshName()
      val q = startReplayQuery(s, out, name, ckpt.toString, mode, rocks,
        foreachBatch = foreachSink, shufflePartitions = shufflePartitions)
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally {
        q.stop()
        Q.deleteRecursively(ckpt) // best-effort cleanup
      }
      // with a caller-provided foreachBatch sink (blackhole-count scale
      // probes) nothing accumulates driver-side; the caller reads its
      // own sink state
      if (foreachSink.isDefined) s.emptyDataFrame else q.sparkSession.table(name)
    }
  }

  /** Start one replay query against `ckpt` in a child of `s`
    * ([[Bridge.cloneSession]]): the child keeps the caller's conf and
    * views, so answers cannot shift, and the harness's pinned per-query
    * conf is set on the child only — the caller's conf and catalog are
    * never touched, and gates starting concurrently cannot see each
    * other's settings. A memory-sink view lives in the child's catalog:
    * read it through the returned query's `sparkSession`. Shared by both
    * arms of [[runToEnd]] (the stop/restart arm writes through
    * foreachBatch — the memory sink can't recover a checkpoint) and by
    * the retained-checkpoint phase 1 of the state-bootstrap gates, which
    * turn `changelog` off so the offline state read sees plain snapshots.
    */
  private[queries] def startReplayQuery(s: SparkSession, out: DataFrame,
      name: String, ckpt: String, mode: String, rocks: Boolean,
      foreachBatch: Option[(DataFrame, Long) => Unit] = None,
      shufflePartitions: Int = 2, changelog: Boolean = true): StreamingQuery = {
    require(foreachBatch.isEmpty || mode != "complete",
      "restart arm buffers per-batch emissions; complete mode would " +
        "accumulate one full table per batch")
    // default cap 2: replay state fits a handful of partitions and a
    // wider store only multiplies per-micro-batch task and state-store
    // open/close overhead. The sharded scale probes RAISE this — at 64x
    // key breadth the 2-partition store is the bottleneck and sharding
    // is the production lever.
    val effectiveShards =
      math.min(s.conf.get("spark.sql.shuffle.partitions").toInt, shufflePartitions)
    // a clamped shard request must be self-describing: a sharded probe
    // recorded on a narrow host would otherwise carry its 8-shard
    // label over an under-sharded measurement
    if (effectiveShards < shufflePartitions)
      System.err.println(s"[runToEnd] requested $shufflePartitions " +
        s"shuffle partitions clamped to $effectiveShards " +
        "(session default is narrower)")
    val child = Bridge.cloneSession(s)
    child.conf.set("spark.sql.shuffle.partitions", effectiveShards.toString)
    // transformWithState requires RocksDB; every other operator runs on
    // the in-memory HDFSBacked store, which commits far cheaper at replay
    // state sizes
    child.conf.set("spark.sql.streaming.stateStore.providerClass",
      if (rocks) RocksProvider else HdfsProvider)
    // replay state is tiny; per-commit row recounts are pure overhead
    child.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    // changelog checkpointing: commit uploads the batch's delta instead
    // of a full SST snapshot — replay-sized state pays snapshot cost per
    // store per batch otherwise
    child.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      changelog.toString)
    val base = Bridge.ofRows(child, out.queryExecution.analyzed).writeStream
      .outputMode(mode).option("checkpointLocation", ckpt)
    foreachBatch match {
      case Some(fn) => base.foreachBatch(fn).start()
      case None => base.format("memory").queryName(name).start()
    }
  }

  /** Order-insensitive changelog fold to the end state: net count per
    * full row value must be exactly +1 (present) or 0 (retracted away).
    */
  private[queries] def foldChangelog(changes: DataFrame, kindCol: String): DataFrame = {
    val valueCols = changes.columns.filterNot(_ == kindCol).toSeq
    changes
      .withColumn("__sign",
        when(col(kindCol) === Changelog.Insert ||
          col(kindCol) === Changelog.UpdateAfter, 1).otherwise(-1))
      .groupBy(valueCols.map(col): _*)
      .agg(sum(col("__sign")).as("__net"))
      .filter(col("__net") === 1)
      .drop("__net")
  }

  case class Ev(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)

  /** Epoch MICROS of a micros-precision timestamp (getTime carries the
    * millis; getNanos the sub-second — only its sub-milli part is new).
    */
  private[queries] def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** events rows sorted by (micro-ts, event_id) — replay in full-precision
    * event-time order, the shape a rowtime source delivers within the
    * watermark (and the exact ORDER BY every oracle uses; a millisecond
    * sort could diverge on same-ms rows whose ids cross micros order).
    *
    * Memoized per sf dir: fifteen replay queries share one collect+sort
    * instead of re-reading the table each (the testdata is immutable for
    * a Verify/Bench JVM's lifetime; a few MB resident).
    */
  private val sortedEventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Ev]]()
  private[queries] def sortedEvents(s: SparkSession, dir: String): Seq[Ev] =
    sortedEventsCache.computeIfAbsent(dir, { d =>
      import s.implicits._
      t(s, d, "events")
        .select($"event_id", $"user_id", $"ts".cast("timestamp").as("ts"),
          $"event_type", $"value")
        .as[Ev].collect().toSeq.sortBy(e => (micros(e.ts), e.event_id))
    })
}
