package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.{LocalSession, SparkEntry}

object Errors {
  /** The first line of an exception's message: streaming errors carry the
    * whole query plan after it. */
  def firstLine(e: Throwable): String =
    e.toString.linesIterator.nextOption().getOrElse(e.getClass.getName)
}

/** One timed query execution of the batch mix and, if it threw, why. */
final case class Exec(query: String, ms: Double, error: Option[String])

/** The benchmark's JVM side: builds the program's local session, warms up,
  * runs one workload's timed phase in whole rounds, and writes the raw
  * figures, the sink outputs and (traced) the spans for `run.py`, which
  * checks the outputs against DuckDB and prints the result line.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --out DIR --work DIR
  *   --seconds S --trace 0|1 --launch-ms EPOCH_MS --cores K --partitions P
  */
object Main {
  private val WarmupThreads = 4
  /** A batch-mix round is this many passes over the mix. */
  private val PassesPerRound = 2

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The step files of a stream input, in order, with their row counts
    * from the parquet footers. */
  private def stepFiles(dir: Path): Seq[(Path, Long)] = {
    val s = Files.list(dir)
    val files = try s.iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
    files.map { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri),
          new org.apache.hadoop.conf.Configuration()))
      try f -> rd.getRecordCount finally rd.close()
    }
  }

  /** Runs the tasks on `threads` threads and waits for all of them. The
    * warm-up runs every pipeline or query once; concurrently, its wall
    * time is set by the slowest one rather than by their sum. */
  private def concurrently(threads: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val inputs = Paths.get(a("inputs"))
    val out = Paths.get(a("out"))
    val work = Paths.get(a("work"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val launchMs = a("launch-ms").toLong
    Files.createDirectories(out)

    val tracer = new Tracer(trace)
    val spark = LocalSession.build(defaultCpus = a("cores"), logLevel = "ERROR",
      extra = Map(
        "spark.sql.shuffle.partitions" -> a("partitions"),
        // one batch per placed file: no extra watermark-only batches,
        // whose timing against the next file would decide batch count
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
        "spark.sql.streaming.noDataProgressEventInterval" -> "1h",
        // state-store maintenance runs on a wall-clock timer; keep it out
        // of every run so that its snapshot work never lands at random
        "spark.sql.streaming.stateStore.maintenanceInterval" -> "1h",
        "spark.local.dir" -> work.resolve("spark-local").toString,
        "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
        "spark.driver.host" -> "localhost",
        "spark.driver.bindAddress" -> "127.0.0.1"))
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val exec = if (trace) {
      val l = new ExecListener(tracer)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

    val res = try {
      workload match {
        case "batch_query_mix" =>
          batch(spark, inputs, out, work, seconds, tracer, exec)
        case "stream_stateful" =>
          streams(spark, inputs, out, work, seconds, tracer, exec)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
        throw e
    }
    val setupS = res("setup_done_ms").asInstanceOf[Long] - launchMs
    val doc = res - "setup_done_ms" ++ Map(
      "workload" -> workload,
      "setup_s" -> setupS / 1e3,
      "layers" -> (res("layers").asInstanceOf[Map[String, Double]] ++ Map(
        "setup.session_s" -> sessionS,
        "setup.warmup_s" -> res("warmup_s"))))
    tracer.write(out.resolve("trace.jsonl"))
    Files.writeString(out.resolve("jvm_result.json"), Json.render(doc))
    spark.stop()
    System.exit(0)
  }

  /** Runs `round` until `seconds` have passed (at least once) with the
    * process CPU, box load and executor counters bracketing exactly that
    * window. */
  private def timed[T](seconds: Double, exec: Option[ExecListener])(
      round: Int => T): (Seq[T], Map[String, Any]) = {
    val rounds = mutable.ArrayBuffer.empty[T]
    val load0 = loadAvg()
    val cpu0 = processCpuS()
    exec.foreach(_.on = true)
    val t0 = System.nanoTime()
    do rounds += round(rounds.size)
    while (System.nanoTime() - t0 < seconds * 1e9)
    val wall = (System.nanoTime() - t0) / 1e9
    exec.foreach(_.on = false)
    val cpu = processCpuS() - cpu0
    (rounds.toSeq, Map("wall_s" -> wall, "cpu_s" -> cpu,
      "rounds" -> rounds.size, "loadavg_start" -> load0,
      "loadavg_end" -> loadAvg()))
  }

  private def execPerRound(exec: Option[ExecListener], rounds: Int)
      : Map[String, Double] =
    exec.map(_.counters.map { case (k, v) => k -> v / rounds })
      .getOrElse(Map.empty)

  private def streams(spark: SparkSession, inputs: Path, out: Path,
      work: Path, seconds: Double, tracer: Tracer,
      exec: Option[ExecListener]): Map[String, Any] = {
    val ps = Streams.pipelines
    val warmFiles = stepFiles(inputs.resolve("warm"))
    val files = stepFiles(inputs.resolve("timed"))

    val w0 = System.nanoTime()
    tracer.span(-1L, "warmup") { id =>
      concurrently(WarmupThreads)(ps.map(p => () => {
        Streams.replay(spark, p, warmFiles, work, tracer, id); ()
      }))
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupDone = System.currentTimeMillis()

    val digests = mutable.ArrayBuffer.empty[Seq[(Int, Long)]]
    var last: Seq[Replay] = Nil
    val (rounds, window) = tracer.span(-1L, "stream_stateful") { wid =>
      timed(seconds, exec) { r =>
        tracer.span(wid, s"round_$r") { rid =>
          val rs = ps.map { p =>
            tracer.span(rid, s"pipeline:${p.name}") { pid =>
              exec.foreach(_.currentParent = pid)
              Streams.replay(spark, p, files, work, tracer, pid)
            }
          }
          digests += rs.map(_.digest)
          last = rs
          // only the last round's sink contents are kept for the checks;
          // earlier rounds are compared to it by digest
          rs.map(_.copy(output = Nil))
        }
      }
    }
    val nRounds = rounds.size
    val replays = rounds.flatten
    val steps = replays.flatMap(_.steps)
    // the median step is taken over the data steps; the one-row sentinel
    // steps are a second population, kept in the row and CPU totals
    val (sentinelSteps, dataSteps) = steps.partition(_.sentinel)
    val failures = replays.flatMap(_.error)

    val errors = mutable.ArrayBuffer.empty[String]
    digests.zipWithIndex.tail.foreach { case (d, r) =>
      if (d != digests.head)
        errors += s"round $r sink contents differ from round 0"
    }
    val perPipeline = last.map { r =>
      val observed = r.steps.flatMap(s => Streams.storeOf(s.progress)).distinct
      if (observed != Seq(r.pipeline.store))
        errors += s"${r.pipeline.name} ran on ${observed.mkString(",")}, " +
          s"workload names ${r.pipeline.store}"
      r.pipeline.name -> Map(
        "rows_total" -> Streams.rowsTotal(r),
        "source_rows" -> r.steps.map(_.progress.sources.map(_.numInputRows)
          .toSeq),
        "batch_ids" -> r.steps.map(_.progress.batchId))
    }.toMap
    val dropped = steps.flatMap(_.progress.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (tracer.enabled) {
      Streams.layerSums(replays).foreach { case (k, v) =>
        layers(k) = v / nRounds }
      ps.foreach { p =>
        val mine = replays.filter(_.pipeline.name == p.name)
        layers(s"step_ms.${p.name}") = Stats.median(
          mine.flatMap(_.steps).filterNot(_.sentinel).map(_.wallMs))
        layers(s"state.commit_ms.${p.name}") = mine.flatMap(_.steps)
          .flatMap(_.progress.stateOperators).map(_.commitTimeMs).sum
          .toDouble / nRounds
        layers(s"state.rows_total.${p.name}") =
          Streams.rowsTotal(mine.last).toDouble
      }
      layers("step_ms.sentinel") = Stats.median(sentinelSteps.map(_.wallMs))
      layers ++= execPerRound(exec, nRounds)
      layers("sink.rows") = last.map(_.output.size).sum.toDouble
    }

    last.foreach { r =>
      val names = r.schema.fieldNames
      val lines = r.output.map(row => Json.render(names.zip(row.toSeq.map {
        case t: java.sql.Timestamp => graft.streaming.StreamOps.micros(t)
        case v => v
      }).toMap))
      val dir = Files.createDirectories(out.resolve("outputs"))
      Files.write(dir.resolve(r.pipeline.name + ".jsonl"), lines.asJava)
    }
    Map("setup_done_ms" -> setupDone, "warmup_s" -> warmupS,
      "attempted" -> (steps.size + replays.map(_.failed).sum),
      "failed" -> replays.map(_.failed).sum, "failures" -> failures,
      "errors" -> errors.toSeq, "rows" -> steps.map(_.rows).sum.toDouble,
      "window" -> window,
      "step_p50_ms" -> Stats.median(dataSteps.map(_.wallMs)),
      "pipelines" -> perPipeline, "rows_dropped_by_watermark" -> dropped,
      "layers" -> layers.toMap)
  }

  private def batch(spark: SparkSession, inputs: Path, out: Path, work: Path,
      seconds: Double, tracer: Tracer,
      exec: Option[ExecListener]): Map[String, Any] = {
    val warmDir = inputs.resolve("warm").toString
    val dir = inputs.resolve("timed").toString
    val qs = BatchMix.queries

    val w0 = System.nanoTime()
    val tableRows = tracer.span(-1L, "warmup") { id =>
      // a query that fails here fails again, and is counted, when timed
      concurrently(WarmupThreads)(qs.map(q => () =>
        tracer.span(id, s"query:${q.name}") { _ =>
          Try(BatchMix.run(spark, q, warmDir)) }))
      // per-table footers and pages of the timed inputs; a9's one-time
      // versioned-table build on them belongs to set-up as well
      val n = BatchMix.tables.map(t =>
        t -> spark.read.parquet(s"$dir/$t.parquet").count()).toMap
      qs.filter(_.name == "a9_sql_time_travel")
        .foreach(q => Try(BatchMix.run(spark, q, dir)))
      n
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupDone = System.currentTimeMillis()
    val inputRows = qs.map(q => q.name -> q.tables.map(tableRows).sum).toMap

    val results = out.resolve("outputs")
    val (rounds, window) = tracer.span(-1L, "batch_query_mix") { wid =>
      timed(seconds, exec) { r =>
        (0 until PassesPerRound).flatMap { p =>
          tracer.span(wid, s"pass_${r * PassesPerRound + p}") { pid =>
            qs.map { q =>
              tracer.span(pid, s"query:${q.name}") { id =>
                exec.foreach(_.currentParent = id)
                val t0 = System.nanoTime()
                val done = Try(BatchMix.run(spark, q, dir,
                  Some(results.resolve(q.name).toString)))
                Exec(q.name, (System.nanoTime() - t0) / 1e6,
                  done.failed.toOption.map(e =>
                    s"${q.name}: " + Errors.firstLine(e)))
              }
            }
          }
        }
      }
    }
    val nRounds = rounds.size
    val (failedExecs, execs) = rounds.flatten.partition(_.error.isDefined)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (tracer.enabled) {
      qs.foreach { q =>
        layers(s"query_ms.${q.name}") =
          Stats.median(execs.filter(_.query == q.name).map(_.ms))
      }
      layers ++= execPerRound(exec, nRounds)
      val (dsv2, library) = BatchMix.vlogScans(spark, dir,
        work.resolve("vlog-scan").toString, 5)
      layers("sources.vlog_dsv2_scan_ms") = dsv2
      layers("sources.vlog_library_scan_ms") = library
    }
    if (tracer.enabled && failedExecs.isEmpty) layers("sink.rows") =
      qs.map(q => spark.read.parquet(results.resolve(q.name).toString)
        .count()).sum.toDouble
    val oracle = qs.flatMap(q => q.oracle.map(o => q.name -> SparkEntry.oracleSql(o)))
    Files.writeString(out.resolve("oracle_sql.json"), Json.render(oracle.toMap))
    Map("setup_done_ms" -> setupDone, "warmup_s" -> warmupS,
      "attempted" -> (execs.size + failedExecs.size),
      "failed" -> failedExecs.size,
      "failures" -> failedExecs.flatMap(_.error).distinct,
      "errors" -> Seq.empty[String], "queries" -> qs.map(_.name),
      "rows" -> execs.map(e => inputRows(e.query)).sum.toDouble,
      "window" -> window,
      "step_p50_ms" -> Stats.median(execs.map(_.ms)),
      "table_rows" -> tableRows, "layers" -> layers.toMap)
  }
}
