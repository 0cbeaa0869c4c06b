package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.streaming.{Event, StreamOps}

/** One stateful pipeline of a stream workload: an operator builder from
  * `graft.streaming.StreamOps`, the state store it must run on, and its
  * output mode. */
final case class Pipeline(name: String, store: String, mode: String,
    build: Dataset[Event] => DataFrame)

/** One micro-batch: the rows of the file placed (checked against the rows
  * each source of the query reports in `progress`), whether it was a
  * sentinel, and its wall time from the rename to the batch's committed
  * progress. */
final case class Step(rows: Long, sentinel: Boolean, startNs: Long,
    endNs: Long, progress: StreamingQueryProgress) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** One pipeline's replay of the step files. `failed` counts the steps
  * that did not complete: the one whose batch failed and every step after
  * it, which the stopped query could not run; `error` says why. */
final case class Replay(pipeline: Pipeline, steps: Seq[Step], failed: Int,
    error: Option[String], output: Seq[Row], schema: StructType,
    checkpointBytes: Long) {
  /** Order-independent digest of the sink contents (rows carry their
    * batch id), compared across rounds. */
  def digest: (Int, Long) =
    (output.size, output.foldLeft(0L)((h, r) => h + r.hashCode))
}

object Streams {
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val Providers = Map(
    "hdfs" -> ("org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider"),
    "rocksdb" -> ("org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"))

  /** The stream workload's pipelines: the keyed folds, whose state only
    * grows (both state APIs, both stores), then the built-in operators
    * whose state the watermark bounds. */
  val pipelines: Seq[Pipeline] = Seq(
    Pipeline("rc_hdfs", "hdfs", "update", StreamOps.runningCounts(_).toDF()),
    Pipeline("rc_rocksdb", "rocksdb", "update",
      StreamOps.runningCounts(_).toDF()),
    Pipeline("rc_tws", "rocksdb", "update",
      StreamOps.runningCountsTws(_).toDF()),
    Pipeline("ewma", "hdfs", "update", StreamOps.ewmaStream(_).toDF()),
    Pipeline("ewma_tws", "rocksdb", "update",
      StreamOps.ewmaStreamTws(_).toDF()),
    Pipeline("sessionize", "hdfs", "append",
      StreamOps.sessionizeWithTimeout(_).toDF()),
    Pipeline("session_windows", "hdfs", "append", StreamOps.sessionWindows(_)),
    Pipeline("dedup", "rocksdb", "append", StreamOps.dedupEvents(_).toDF()),
    Pipeline("join", "hdfs", "append", StreamOps.purchaseClickJoin(_)),
    Pipeline("gapfill", "rocksdb", "append",
      StreamOps.gapFillStream(_).toDF()))

  /** The store that served a pipeline, read from the custom metrics its
    * state operators report: only the RocksDB provider reports `rocksdb*`
    * metrics. */
  def storeOf(p: StreamingQueryProgress): Option[String] = {
    val ops = p.stateOperators.toSeq
    if (ops.isEmpty) None
    else Some(
      if (ops.exists(_.customMetrics.keySet.asScala.exists(
        _.startsWith("rocksdb")))) "rocksdb"
      else "hdfs")
  }

  private def awaitBatch(q: StreamingQuery, batchId: Long)
      : StreamingQueryProgress = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (true) {
      q.exception.foreach(e => throw e)
      val lp = q.lastProgress
      // no idle progress and no data-less batches are configured, so the
      // progress of this batch id is this file's batch
      if (lp != null && lp.batchId == batchId) return lp
      if (lp != null && lp.batchId > batchId)
        throw new IllegalStateException(
          s"${q.name}: batch ${lp.batchId} ran while waiting for $batchId")
      if (!q.isActive)
        throw new IllegalStateException(s"${q.name} stopped")
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"${q.name}: batch $batchId not done in 120 s")
      LockSupport.parkNanos(500000L)
    }
    throw new IllegalStateException("unreachable")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder())
      .forEach(x => Files.deleteIfExists(x))
    finally w.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally w.close()
  }

  /** Replays `files` through one pipeline in a closed loop: each file is
    * renamed into the watched directory only after the previous one's
    * micro-batch has committed, so every file is exactly one batch. The
    * checkpoint is fresh and is deleted afterwards. A failing batch stops
    * the replay; it is recorded in the result, not thrown. */
  def replay(spark: SparkSession, p: Pipeline, files: Seq[(Path, Long)],
      work: Path, tracer: Tracer, parent: Long): Replay = {
    val base = work.resolve("replay").resolve(p.name)
    deleteTree(base)
    val watch = Files.createDirectories(base.resolve("watch"))
    val stage = Files.createDirectories(base.resolve("stage"))
    val ckpt = base.resolve("checkpoint")
    val out = mutable.ArrayBuffer.empty[Row]
    val steps = mutable.ArrayBuffer.empty[Step]
    var schema = new StructType()
    var error = Option.empty[String]
    try {
      // operator builders may switch the session's store, so the store the
      // workload names is set last, right before start(), which copies the
      // session conf; the lock keeps concurrent warm-up replays from
      // interleaving those three steps
      val q = Streams.synchronized {
        val df = p.build(StreamOps.eventsFileStream(spark, watch.toString))
        schema = df.schema
        spark.conf.set(ProviderKey, Providers(p.store))
        df.writeStream
          .queryName(p.name)
          .outputMode(p.mode)
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch((b: DataFrame, id: Long) => {
            b.collect().foreach(r => out += Row.fromSeq(r.toSeq :+ id))
            ()
          })
          .start()
      }
      try files.zipWithIndex.foreach { case ((f, rows), i) =>
        val staged = Files.copy(f, stage.resolve(f.getFileName))
        val t0 = System.nanoTime()
        Files.move(staged, watch.resolve(f.getFileName),
          StandardCopyOption.ATOMIC_MOVE)
        val prog = awaitBatch(q, i.toLong)
        val s = Step(rows, f.getFileName.toString.contains("_sentinel"), t0,
          System.nanoTime(), prog)
        if (tracer.enabled) recordPhases(tracer, parent, p.name, s)
        steps += s
      } finally q.stop()
    } catch {
      case NonFatal(e) => error = Some(s"${p.name}: " + Errors.firstLine(e))
    }
    val ckptBytes = if (tracer.enabled) treeBytes(ckpt.resolve("state")) else 0L
    deleteTree(base)
    Replay(p, steps.toSeq, files.size - steps.size, error, out.toSeq,
      schema.add(StructField("batch_id", LongType)), ckptBytes)
  }

  // Spark reports each trigger phase as a duration; the spans lay them end
  // to end in the order the micro-batch runs them.
  private val PhaseOrder = Seq("latestOffset", "getBatch", "queryPlanning",
    "addBatch", "walCommit", "commitOffsets")

  private def recordPhases(tracer: Tracer, parent: Long, pipeline: String,
      s: Step): Unit = {
    val d = s.progress.durationMs.asScala
    val id = tracer.record(parent, "micro_batch", s.startNs, s.endNs,
      Map("pipeline" -> pipeline, "batch_id" -> s.progress.batchId,
        "rows" -> s.rows, "sentinel" -> s.sentinel))
    var t = s.startNs
    PhaseOrder.foreach { ph =>
      d.get(ph).foreach { ms =>
        val dur = ms.longValue * 1000000L
        tracer.record(id, "trigger." + ph, t, t + dur)
        t += dur
      }
    }
  }

  /** Sums of the per-batch progress figures of a set of replays, under the
    * per-layer metric names. */
  def layerSums(rs: Seq[Replay]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    val phase = Map("latestOffset" -> "trigger.latest_offset_ms",
      "getBatch" -> "trigger.get_batch_ms",
      "queryPlanning" -> "trigger.query_planning_ms",
      "addBatch" -> "trigger.add_batch_ms",
      "walCommit" -> "trigger.wal_commit_ms",
      "commitOffsets" -> "trigger.commit_offsets_ms")
    rs.foreach { r =>
      r.steps.foreach { s =>
        s.progress.durationMs.asScala.foreach { case (k, v) =>
          phase.get(k).foreach(add(_, v.doubleValue))
        }
        s.progress.stateOperators.foreach { op =>
          add("state.commit_ms", op.commitTimeMs.toDouble)
          add("state.updates_ms", op.allUpdatesTimeMs.toDouble)
          add("state.rows_updated", op.numRowsUpdated.toDouble)
          add("state.rows_removed", op.numRowsRemoved.toDouble)
          add("state.removals_ms", op.allRemovalsTimeMs.toDouble)
          add("state.rows_dropped_by_watermark",
            op.numRowsDroppedByWatermark.toDouble)
          val cm = op.customMetrics.asScala
          cm.get("rocksdbCommitFlushLatency")
            .foreach(v => add("state.rocksdb_flush_ms", v.doubleValue))
          Seq("numExpiredTimers", "numTimedOutKeys").foreach(k =>
            cm.get(k).foreach(v => add("state.timers_expired", v.doubleValue)))
        }
      }
      // sizes are levels, not flows: take each pipeline's last batch
      r.steps.lastOption.foreach { s =>
        s.progress.stateOperators.foreach { op =>
          add("state.memory_bytes", op.memoryUsedBytes.toDouble)
          op.customMetrics.asScala.get("rocksdbSstFileSize")
            .foreach(v => add("state.rocksdb_sst_bytes", v.doubleValue))
        }
      }
      add("state.checkpoint_bytes", r.checkpointBytes.toDouble)
    }
    m.toMap
  }

  /** Final `numRowsTotal` of a replay: the state it holds after its last
    * batch. */
  def rowsTotal(r: Replay): Long = r.steps.lastOption
    .map(_.progress.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
}
