package graft

import java.sql.Timestamp

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, TTLConfig,
  Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.2.3 — the streaming = batch differential harness. Every
  * stateful streaming operator is fed via MemoryStream (scripted batches,
  * including out-of-order and late rows) and its output compared to the
  * batch formulation over the union of injected rows.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.Sf0001

  import StreamOps._

  private def ev(id: Long, t: String, uid: Long, typ: String = "click",
      v: Double = 1.0): Event =
    Event(id, Timestamp.valueOf(t), uid, typ, v, "{}")

  /** sf0.001 events as three chronological chunks (no artificial late data —
    * watermark never drops in-order feeds).
    */
  private lazy val chunks: Seq[Seq[Event]] = {
    import spark.implicits._
    val all = Tables.events(spark, d).as[Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    all.grouped((all.size + 2) / 3).toSeq
  }

  test("streaming word count equals the batch h5 word count (the namesake demo)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val texts = Tables.documents(spark, d)
      .select("text").as[String].collect().toSeq
    val in = MemoryStream[String]
    val q = wordCount(in.toDS()).writeStream
      .format("memory").queryName("wc").outputMode("complete").start()
    texts.grouped(200).foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("wc")
    val batch = SparkEntry.queries("h5_explode")(spark, d)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming per-type KMV sketch converges to the batch bottom-k fold") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val K = 64
    val in = MemoryStream[Event]
    val q = StreamOps.distinctUsersKmv(in.toDS(), K).writeStream
      .format("memory").queryName("kmvstream").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // last emission per key (n_seen is monotone) == final sketch state
    val streamed = spark.table("kmvstream").as[TypeKmv].collect()
      .groupBy(_.event_type).map { case (t, rows) =>
        t -> rows.maxBy(_.n_seen)
      }
    val expected = chunks.flatten.groupBy(_.event_type).map { case (t, es) =>
      t -> es.map(e => StreamOps.kmvHex(e.user_id))
        .distinct.sorted.take(K)
    }
    assert(streamed.keySet == expected.keySet, "event_type keys diverge")
    streamed.foreach { case (t, row) =>
      assert(row.hexes == expected(t),
        s"$t: streamed sketch diverges from the batch fold")
      val n = chunks.flatten.filter(_.event_type == t)
        .map(_.user_id).distinct.size.toLong
      if (row.hexes.size < K)
        assert(row.estimate == n, s"$t: sub-K estimate must be exact")
      else
        assert(row.estimate > n * 6 / 10 && row.estimate < n * 14 / 10,
          s"$t: estimate ${row.estimate} vs exact $n outside envelope")
    }
    // replay idempotence: re-feeding the whole stream cannot change state
    val in2 = MemoryStream[Event]
    val q2 = StreamOps.distinctUsersKmv(in2.toDS(), K).writeStream
      .format("memory").queryName("kmvreplay").outputMode("update").start()
    (chunks ++ chunks).foreach { c => in2.addData(c); q2.processAllAvailable() }
    q2.stop()
    val replayed = spark.table("kmvreplay").as[TypeKmv].collect()
      .groupBy(_.event_type).map { case (t, rows) =>
        t -> rows.maxBy(_.n_seen).hexes }
    replayed.foreach { case (t, hexes) =>
      assert(hexes == expected(t), s"$t: replay changed the sketch") }
  }

  test("i4 streaming running counts converge to batch groupBy (differential)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = runningCounts(in.toDS()).writeStream
      .format("memory").queryName("rc").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("rc")
      .groupBy("user_id", "event_type")
      .agg(max("n").as("n"), max("val_cents").as("cents"))
    val batch = Tables.events(spark, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value*100) as bigint)")).as("cents"))
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming per-type HLL registers converge to the batch fold") {
    import spark.implicits._
    import graft.functions.{HllSketch, HyperLogLog}
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.distinctUsersHll(in.toDS()).writeStream
      .format("memory").queryName("hllstream").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // per-slot max over the update stream == the final state per key
    // (registers are monotone nondecreasing per slot)
    val streamed = spark.table("hllstream").as[TypeHll].collect()
      .groupBy(_.event_type).map { case (t, rows) =>
        t -> rows.map(_.registers).reduce((a, b) =>
          a.zip(b).map(p => math.max(p._1, p._2)))
      }
    val expected = chunks.flatten.groupBy(_.event_type).map { case (t, es) =>
      t -> es.foldLeft(HyperLogLog.zero)((sk, e) =>
        HyperLogLog.reduce(sk, e.user_id.toString))
    }
    assert(streamed.keySet == expected.keySet, "event_type keys diverge")
    streamed.foreach { case (t, regs) =>
      assert(regs == expected(t).registers.toSeq,
        s"$t: streamed registers diverge from the batch fold")
      // and the estimate lands inside HLL's envelope of the true distinct
      val n = chunks.flatten.filter(_.event_type == t)
        .map(_.user_id).distinct.size.toDouble
      val est = HyperLogLog.estimate(HllSketch(regs.toArray))
      assert(est > n * 0.7 && est < n * 1.4, s"$t: estimate $est vs exact $n")
    }
  }

  test("streaming per-type CMS cells converge to the batch fold") {
    import spark.implicits._
    import graft.functions.CountMinSketch
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.userFreqCms(in.toDS()).writeStream
      .format("memory").queryName("cmsstream").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // cells only grow → per-slot max over the update stream = final state
    val streamed = spark.table("cmsstream").as[TypeCms].collect()
      .groupBy(_.event_type).map { case (t, rows) =>
        t -> rows.map(_.cells).reduce((a, b) =>
          a.zip(b).map(p => math.max(p._1, p._2)))
      }
    val expected = chunks.flatten.groupBy(_.event_type).map { case (t, es) =>
      t -> es.foldLeft(CountMinSketch.zero)((sk, e) =>
        CountMinSketch.reduce(sk, e.user_id.toString))
    }
    assert(streamed.keySet == expected.keySet, "event_type keys diverge")
    streamed.foreach { case (t, cells) =>
      assert(cells == expected(t).cells.toSeq,
        s"$t: streamed cells diverge from the batch fold")
      // and the estimates actually answer the frequency question: every
      // (type, user) estimate >= the true count (one-sided CMS error)
      val byUser = chunks.flatten.filter(_.event_type == t)
        .groupBy(_.user_id).map { case (u, es) => u -> es.size.toLong }
      byUser.foreach { case (u, n) =>
        val est = CountMinSketch.estimate(
          graft.functions.CmsSketch(cells.toArray), u.toString)
        assert(est >= n, s"$t/$u: estimate $est undercounts $n")
      }
    }
  }

  test("streaming per-type HDR quantile cells converge to the batch fold") {
    import spark.implicits._
    import graft.functions.{HdrHistogram, HdrSketch}
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.valueQuantilesHdr(in.toDS()).writeStream
      .format("memory").queryName("hdrstream").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // cells only grow → per-slot max over the update stream = final state
    val streamed = spark.table("hdrstream").as[TypeHdr].collect()
      .groupBy(_.event_type).map { case (t, rows) =>
        t -> rows.map(_.cells).reduce((a, b) =>
          a.zip(b).map(p => math.max(p._1, p._2)))
      }
    val expected = chunks.flatten.groupBy(_.event_type).map { case (t, es) =>
      t -> es.foldLeft(HdrHistogram.zero)((sk, e) =>
        HdrHistogram.reduce(sk, math.max(0L, math.round(e.value * 100))))
    }
    assert(streamed.keySet == expected.keySet, "event_type keys diverge")
    streamed.foreach { case (t, cells) =>
      assert(cells == expected(t).cells.toSeq,
        s"$t: streamed cells diverge from the batch fold")
      // and the emitted estimates answer the quantile question within the
      // sketch's 1/16 guarantee against the exact rank statistics
      val sorted = chunks.flatten.filter(_.event_type == t)
        .map(e => math.max(0L, math.round(e.value * 100))).sorted
      val n = sorted.length.toLong
      val sk = HdrSketch(cells.toArray)
      Seq((1L, 2L), (99L, 100L)).foreach { case (num, den) =>
        val est = HdrHistogram.quantile(sk, num, den)
        val exact = sorted(((num * n + den - 1) / den - 1).toInt)
        assert(est <= exact && BigInt(exact) < BigInt(est) * 17 / 16 + 1,
          s"$t p$num/$den: est $est does not bracket exact $exact")
      }
    }
  }

  test("running top-3 values per user converge to batch (bounded keyed state)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = runningTopK(in.toDS()).writeStream
      .format("memory").queryName("topk").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // each rank column is monotone nondecreasing across updates (more data
    // can only push a rank up, and -1 padding sorts below any real cents),
    // so the final state per user is the per-rank max over the update stream
    val streamed = spark.table("topk").groupBy("user_id")
      .agg(max("top1").as("top1"), max("top2").as("top2"),
        max("top3").as("top3"))
    val batch = Tables.events(spark, d)
      .withColumn("cents", expr("cast(round(value*100) as bigint)"))
      .groupBy("user_id")
      .agg(expr("slice(reverse(sort_array(collect_list(cents))), 1, 3)")
        .as("t"))
      // try_element_at: under ANSI mode (Spark 4 default) element_at
      // THROWS on out-of-bounds instead of returning NULL, so the -1
      // padding for users with <3 events needs the try_ variant
      .select(col("user_id"),
        coalesce(expr("try_element_at(t, 1)"), lit(-1L)).as("top1"),
        coalesce(expr("try_element_at(t, 2)"), lit(-1L)).as("top2"),
        coalesce(expr("try_element_at(t, 3)"), lit(-1L)).as("top3"))
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("StreamOps.cents matches SQL round for a ±value grid (all call sites)") {
    import spark.implicits._
    // pins the shared helper used by runningCounts, runningTopK, and the
    // transformWithState processor against the batch twins' Q.cents
    val vals = (-400 to 400).map(_ / 80.0) ++ // includes exact *.xx5 halves
      Seq(-0.005, 0.005, -123.455, 123.455, -1e-3, 0.0)
    val sql = vals.toDF("v").select(graft.Q.cents(col("v")).as("c"))
      .as[Long].collect()
    val helper = vals.map(StreamOps.cents)
    assert(sql.sameElements(helper))
  }

  test("running top-3 rounds negative halves away from zero (matches Q.cents)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // -0.125 → -12.5 cents: SQL round gives -13, math.round gives -12.
    // All values exactly representable in double so the halves are exact.
    val evs = Seq(
      ev(1, "2024-01-01 00:00:00", 1, v = -0.125),
      ev(2, "2024-01-01 00:00:01", 1, v = -0.375),
      ev(3, "2024-01-01 00:00:02", 1, v = 0.125),
      ev(4, "2024-01-01 00:00:03", 2, v = -2.125))
    val in = MemoryStream[Event]
    val q = runningTopK(in.toDS()).writeStream
      .format("memory").queryName("topk_neg").outputMode("update").start()
    in.addData(evs); q.processAllAvailable(); q.stop()
    // single injected batch → exactly one update row per user = final state
    // (the per-rank-max reduction used above is positive-only: -1 padding
    // would outrank real negative cents)
    val got = spark.table("topk_neg").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((13L, -13L, -38L)))
    assert(got(2L) == ((-213L, -1L, -1L)))
  }

  test("streaming funnel state machine converges to the registered n1 batch query") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = funnelStages(in.toDS()).writeStream
      .format("memory").queryName("funnel").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // the chronological chunks honor the in-order contract — the guard
    // must not fire (n_ooo > 0 would void the batch differential)
    assert(spark.table("funnel").agg(max("n_ooo")).head().getLong(0) == 0L)
    // stage is monotone nondecreasing over updates → final state per user
    // is the max emitted stage
    val streamed = spark.table("funnel").groupBy("user_id")
      .agg(max("stage").as("stage"))
    val batch = SparkEntry.queries("n1_funnel")(spark, d)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming Markov transitions converge to the registered n4 batch matrix") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = markovTransitions(in.toDS()).writeStream
      .format("memory").queryName("markov").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // chronological chunks honor the in-order contract — guard must not fire
    assert(spark.table("markov").agg(max("n_ooo")).head().getLong(0) == 0L)
    // each observed transition is emitted exactly once → counting the
    // emission stream rebuilds n4's matrix; share_bp re-derives from the
    // counts with n4's own integer-division expression
    val w = org.apache.spark.sql.expressions.Window.partitionBy("prev_type")
    val streamed = spark.table("markov")
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(w))
      .select(col("prev_type"), col("event_type"), col("n"),
        expr("n * 10000 DIV row_total").as("share_bp"))
    val batch = SparkEntry.queries("n4_markov_transitions")(spark, d)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("Markov stream flags cross-batch out-of-order arrivals via n_ooo") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = markovTransitions(in.toDS()).writeStream
      .format("memory").queryName("markov_ooo").outputMode("update").start()
    // the view arrives one batch AFTER a later-timestamped click: the
    // streamed fold sees click→view where the batch matrix has view→click
    // — the guard must make that observable instead of silent
    in.addData(ev(1, "2024-01-01 00:10:00", 9001, "click"))
    q.processAllAvailable()
    in.addData(ev(2, "2024-01-01 00:05:00", 9001, "view"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("markov_ooo").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(1) == "click" && r.getString(2) == "view")
    assert(r.getLong(3) == 1L, "the out-of-order arrival must be counted")
  }

  test("Markov stream recovers its prev-type state across kill/restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mkv-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-mkv-out").toString
    val in = MemoryStream[Event]
    def start() = markovTransitions(in.toDS()).writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Transition],
          _: Long) => df.write.mode("append").parquet(out) }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    val q1 = start()
    in.addData(ev(1, "2024-01-01 10:00:00", 7, "view"))
    q1.processAllAvailable()
    q1.stop() // kill: the view is only in checkpointed state, never emitted
    val q2 = start()
    in.addData(ev(2, "2024-01-01 10:05:00", 7, "click"))
    q2.processAllAvailable()
    q2.stop()
    // the cross-restart transition view→click must emit EXACTLY once:
    // zero = prev-type state lost; two = replay double-emission
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 1, s"expected 1 recovered transition: ${rows.toSeq}")
    val r = rows.head
    assert(r.getAs[String]("prev_type") == "view" &&
      r.getAs[String]("event_type") == "click" &&
      r.getAs[Long]("n_ooo") == 0L, r.toString)
  }

  test("funnel flags cross-batch out-of-order arrivals via n_ooo") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = funnelStages(in.toDS()).writeStream
      .format("memory").queryName("funnel_ooo").outputMode("update").start()
    // batch 1 delivers the click; the view arrives one batch LATE — the
    // one-shot machine opens t1 but cannot retroactively apply the click,
    // so it diverges from batch n1 (stage 1 vs 2). The guard must make
    // that contract violation observable instead of silent.
    in.addData(ev(1, "2024-01-01 00:10:00", 9001, "click"))
    q.processAllAvailable()
    in.addData(ev(2, "2024-01-01 00:05:00", 9001, "view"))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("funnel_ooo").filter(col("user_id") === 9001)
      .agg(max("stage").as("stage"), max("n_ooo").as("n_ooo")).head()
    assert(last.getLong(0) == 1L, "late view still opens t1 (stage 1)")
    assert(last.getLong(1) == 1L, "the out-of-order arrival must be counted")
  }

  test("i5 transformWithState running counts converge to batch (differential)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val in = MemoryStream[Event]
      val q = runningCountsTws(in.toDS()).writeStream
        .format("memory").queryName("tws").outputMode("update").start()
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      q.stop()
      val streamed = spark.table("tws")
        .groupBy("user_id").agg(max("n").as("n"))
      val batch = Tables.events(spark, d)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    }
  }

  test("i5 transformWithState MapState per-type counts converge to batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val in = MemoryStream[Event]
      val q = typeCountsTws(in.toDS()).writeStream
        .format("memory").queryName("mapstate").outputMode("update").start()
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      q.stop()
      // final snapshot per user = the update-mode row with the largest
      // (monotone) n_total
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_total").desc)
      val streamed = spark.table("mapstate")
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select("user_id", "type_counts_csv")
      val batch = Tables.events(spark, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(concat_ws(",", sort_array(collect_list(
          concat(col("event_type"), lit(":"), col("n")))))
          .as("type_counts_csv"))
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    }
  }

  test("i1 streaming tumbling window equals batch form (complete mode)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = tumblingCounts(in.toDS()).writeStream
      .format("memory").queryName("tumble").outputMode("complete").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    val batch = tumblingCounts(
      Tables.events(spark, d).as[Event]) // same code, batch mode
    val streamed = spark.table("tumble")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("i3 streaming session_window matches batch lag-gap sessionize") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionWindows(in.toDS()).writeStream
      .format("memory").queryName("sess").outputMode("append").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    // sentinel batches: far-future events close every real session (append
    // mode only emits once the watermark passes session end + gap)
    in.addData(Seq(ev(9000001L, "2024-06-01 00:00:00", -1L)))
    q.processAllAvailable()
    in.addData(Seq(ev(9000002L, "2024-06-02 00:00:00", -1L)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess")
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("start_ts"), col("n_events"))
    val batch = SparkEntry.queries("i3_session_window")(spark, d)
      .select(col("user_id"), col("start_ts"), col("n_events"))
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming session_window diverges from batch lag-gap sessionization")
  }

  test("i9 streaming dynamic-gap session_window matches the batch shadow") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionWindowsDynamic(in.toDS()).writeStream
      .format("memory").queryName("sessdyn").outputMode("append").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    // sentinel batches close every real session (append emission waits for
    // the watermark to pass session end)
    in.addData(Seq(ev(9000001L, "2024-06-01 00:00:00", -1L)))
    q.processAllAvailable()
    in.addData(Seq(ev(9000002L, "2024-06-02 00:00:00", -1L)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessdyn")
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("start_ts"), col("n_events"))
    val batch = SparkEntry.queries("i9_dynamic_session")(spark, d)
      .select(col("user_id"), col("start_ts"), col("n_events"))
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming dynamic-gap session_window diverges from the batch shadow")
  }

  test("i1 update mode revises an open window on in-watermark late arrivals") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = tumblingCounts(in.toDS()).writeStream
      .format("memory").queryName("revise").outputMode("update").start()
    in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1)))
    q.processAllAvailable()
    in.addData(Seq(ev(2, "2024-01-01 10:30:00", 1))) // same window, revises
    q.processAllAvailable()
    q.stop()
    val ns = spark.table("revise")
      .filter(col("ws") === Timestamp.valueOf("2024-01-01 10:00:00"))
      .select("n").collect().map(_.getLong(0)).sorted.toSeq
    assert(ns == Seq(1L, 2L),
      s"update mode should emit the revised count per batch, got $ns")
  }

  test("i3 a late in-watermark event MERGES two separate session windows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionWindows(in.toDS()).writeStream
      .format("memory").queryName("merge").outputMode("append").start()
    // two sessions 40 min apart (> 30 min gap) …
    in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
      ev(2, "2024-01-01 10:40:00", 1)))
    q.processAllAvailable() // watermark 10:10
    // … then a late (but in-watermark) bridge event at 10:20 merges them
    in.addData(Seq(ev(3, "2024-01-01 10:20:00", 1)))
    q.processAllAvailable()
    // close everything via far-future sentinels
    in.addData(Seq(ev(8, "2024-06-01 00:00:00", -1)))
    q.processAllAvailable()
    in.addData(Seq(ev(9, "2024-06-02 00:00:00", -1)))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("merge").filter(col("user_id") === 1L)
      .select("start_ts", "n_events").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(sessions == Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 3L)),
      s"expected one merged 3-event session, got $sessions")
  }

  test("i7 late data beyond the watermark is dropped (append mode)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = tumblingCounts(in.toDS()).writeStream
      .format("memory").queryName("late").outputMode("append").start()
    in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
      ev(2, "2024-01-01 10:30:00", 1)))
    q.processAllAvailable()
    in.addData(Seq(ev(3, "2024-01-01 12:00:00", 2)))
    q.processAllAvailable()
    in.addData(Seq(ev(4, "2024-01-01 12:30:00", 2)))
    q.processAllAvailable() // watermark 12:20 → window [10:00,11:00) emitted
    in.addData(Seq(ev(5, "2024-01-01 10:15:00", 1))) // LATE — must be dropped
    q.processAllAvailable()
    in.addData(Seq(ev(6, "2024-01-01 14:00:00", 2)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late")
      .filter(col("ws") === Timestamp.valueOf("2024-01-01 10:00:00"))
      .collect()
    assert(rows.length == 1, s"window emitted ${rows.length}× (expected once)")
    assert(rows.head.getAs[Long]("n") == 2L,
      "late row leaked into an already-closed window")
  }

  test("i5 event-time timeout closes idle sessions (flatMapGroupsWithState)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionizeWithTimeout(in.toDS()).writeStream
      .format("memory").queryName("timeout").outputMode("append").start()
    in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
      ev(2, "2024-01-01 10:10:00", 1)))
    q.processAllAvailable()
    // another user far ahead advances the event-time watermark past
    // u1.last(10:10) + gap(30m) = 10:40
    in.addData(Seq(ev(3, "2024-01-01 12:00:00", 2)))
    q.processAllAvailable()
    in.addData(Seq(ev(4, "2024-01-01 12:05:00", 2)))
    q.processAllAvailable() // timeout fires in the batch after wm advance
    q.stop()
    val closed = spark.table("timeout").as[ClosedSession].collect()
    assert(closed.exists(c => c.user_id == 1L && c.n_events == 2L),
      s"u1 session not closed by timeout; got ${closed.toSeq}")
  }

  test("i5 transformWithState timers: idle key expires via handleExpiredTimer") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val in = MemoryStream[Event]
      val q = activityWithTimers(in.toDS()).writeStream
        .format("memory").queryName("activity").outputMode("append").start()
      in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
        ev(2, "2024-01-01 10:10:00", 1)))
      q.processAllAvailable()
      // advance the watermark well past u1.last + 30 min gap
      in.addData(Seq(ev(3, "2024-01-01 12:00:00", 2)))
      q.processAllAvailable()
      in.addData(Seq(ev(4, "2024-01-01 12:05:00", 2)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("activity").as[UserActivity].collect()
      val updates = rows.filter(r => r.user_id == 1L && r.kind == "update")
      val expired = rows.filter(r => r.user_id == 1L && r.kind == "expired")
      assert(updates.exists(_.n == 2L), s"missing update rows: ${rows.toSeq}")
      assert(expired.length == 1 && expired.head.n == 2L &&
        expired.head.recent == Seq(1L, 2L),
        s"timer did not expire u1 exactly once with full state: ${rows.toSeq}")
    }
  }

  test("i5 state TTL evicts idle state between batches") {
    // TTL expiry is processing-time (wall-clock) driven and there is no
    // manual-clock harness in the public API. Two consequences shape this
    // test: (1) `processAllAvailable` NEVER SETTLES under
    // TimeMode.ProcessingTime (empirically confirmed this round — the
    // query keeps scheduling micro-batches, the call parks forever), so
    // the sink is POLLED to a deadline instead; (2) the assertion
    // direction is one-sided-safe: with a 500 ms TTL and a 3 s idle gap,
    // the second batch MUST see expired (absent) state and restart the
    // count at 1 instead of resuming at 2 — a slow box only widens the
    // gap, never flips the outcome (the flaky direction, asserting state
    // SURVIVES a sub-TTL gap, is deliberately not tested).
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val in = MemoryStream[Event]
      val q = runningCountsTws(in.toDS(),
          TTLConfig(java.time.Duration.ofMillis(500))).writeStream
        .format("memory").queryName("ttlevict").outputMode("update").start()
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime() + 120e9.toLong
        while (spark.table("ttlevict").count() < n) {
          assert(System.nanoTime() < deadline,
            s"sink did not reach $n rows within 120 s")
          Thread.sleep(100)
        }
      }
      in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1)))
      awaitRows(1)
      Thread.sleep(3000) // let the 500 ms TTL lapse
      in.addData(Seq(ev(2, "2024-01-01 10:00:01", 1)))
      awaitRows(2)
      q.stop()
      val ns = spark.table("ttlevict").as[KeyCount].collect()
        .filter(_.user_id == 1L).map(_.n).toSeq
      assert(ns == Seq(1L, 1L),
        s"state survived its TTL: per-batch counts $ns (expected 1, 1)")
    }
  }

  test("i5 late within-watermark event does not regress the session end") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = sessionizeWithTimeout(in.toDS()).writeStream
      .format("memory").queryName("latesess").outputMode("append").start()
    in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
      ev(2, "2024-01-01 10:10:00", 1)))
    q.processAllAvailable() // watermark → 10:00
    // out-of-order but within watermark: must extend the session, not
    // shrink its end or re-arm the timeout earlier
    in.addData(Seq(ev(3, "2024-01-01 10:05:00", 1),
      ev(4, "2024-01-01 12:00:00", 2)))
    q.processAllAvailable()
    in.addData(Seq(ev(5, "2024-01-01 12:05:00", 2)))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("latesess").as[ClosedSession].collect()
      .filter(_.user_id == 1L)
    assert(closed.length == 1, s"got ${closed.toSeq}")
    assert(closed.head.n_events == 3L &&
      closed.head.end_us == Timestamp.valueOf("2024-01-01 10:10:00")
        .getTime * 1000L,
      s"late event corrupted the session: ${closed.head}")
  }

  test("i6 streaming dedup drops duplicate event ids across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = dedupEvents(in.toDS()).writeStream
      .format("memory").queryName("dedup").outputMode("append").start()
    in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
      ev(2, "2024-01-01 10:01:00", 1)))
    q.processAllAvailable()
    in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1), // duplicate id
      ev(3, "2024-01-01 10:02:00", 2)))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup").count() == 3L)
  }

  test("i8 output modes: complete / update / append all run the i1 query") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    Seq("complete", "update", "append").foreach { mode =>
      val in = MemoryStream[Event]
      val q = tumblingCounts(in.toDS()).writeStream
        .format("memory").queryName(s"mode_$mode").outputMode(mode).start()
      in.addData(chunks.head.take(50))
      q.processAllAvailable()
      q.stop()
      assert(spark.table(s"mode_$mode").schema.fieldNames
        .contains("val_cents"))
    }
  }

  test("checkpoint recovery: stateful query resumes without loss or dups") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val in = MemoryStream[Event]

    def start() = tumblingCounts(in.toDS()).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
      ev(2, "2024-01-01 10:30:00", 1)))
    q1.processAllAvailable()
    in.addData(Seq(ev(3, "2024-01-01 12:00:00", 2)))
    q1.processAllAvailable()
    assertHdfsServed(q1)
    q1.stop() // kill mid-stream: window [10:00,11:00) not yet emitted

    val q2 = start() // resume from offsets + state
    in.addData(Seq(ev(4, "2024-01-01 12:30:00", 2)))
    q2.processAllAvailable()
    in.addData(Seq(ev(5, "2024-01-01 14:00:00", 2)))
    q2.processAllAvailable()
    assertHdfsServed(q2)
    q2.stop()

    val sink = spark.read.parquet(out)
      .filter(col("ws") === Timestamp.valueOf("2024-01-01 10:00:00"))
      .collect()
    assert(sink.length == 1 && sink.head.getAs[Long]("n") == 2L,
      "pre-restart state lost or window double-emitted after recovery")
  }

  test("exactly-once sink: a forced batch replay cannot double-write (naive append does)") {
    exactlyOnceReplayScenario()
  }

  test("exactly-once sink: the forced replay also converges under RocksDB state") {
    // the same forced-replay window with the 100 TB state provider: the
    // replayed batch's running counts must regenerate IDENTICALLY from
    // the RocksDB snapshot+replay recovery path, or the overwritten
    // partition would converge to different contents than the unbroken
    // run — exactly-once is a property of sink key AND deterministic
    // state recovery together
    withRocksDB { exactlyOnceReplayScenario() }
  }

  test("RocksDB changelog checkpointing: per-batch changelogs serve recovery") {
    // The knob that makes 100 TB-state recovery INCREMENTAL: with
    // changelogCheckpointing enabled each commit uploads only the batch's
    // write-set as a <version>.changelog, and a full snapshot only on the
    // maintenance cadence — a restart reconstructs state as snapshot +
    // changelog replay instead of re-downloading a full snapshot per
    // batch. Evidence here is twofold: (1) recovery across a kill/restart
    // still reconstructs the running count exactly, THROUGH the changelog
    // replay path; (2) the checkpoint's state dir holds per-batch
    // .changelog files (the default mode writes none) and fewer full
    // snapshots than commits — the incrementality itself, observed on
    // disk rather than asserted by doc.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB { withChangelog {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-chlog-ckpt").toString
      val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val in = MemoryStream[Event]
      def start() = runningCountsTws(in.toDS()).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[KeyCount],
            _: Long) =>
          df.collect().foreach(k => seen.merge(k.user_id, k.n, math.max _))
        }.start()
      val q1 = start()
      (1 to 4).foreach { i =>
        in.addData(Seq(ev(i.toLong, f"2024-01-01 10:0$i:00", 1)))
        q1.processAllAvailable()
      }
      assertRocksDbServed(q1)
      q1.stop()
      val q2 = start() // recovery must replay changelogs over the snapshot
      (5 to 6).foreach { i =>
        in.addData(Seq(ev(i.toLong, f"2024-01-01 10:0$i:00", 1)))
        q2.processAllAvailable()
      }
      q2.stop()
      assert(seen.get(1L) == 6L,
        s"state not recovered through changelog replay: expected 6, " +
          s"saw ${seen.get(1L)}")
      val stream = java.nio.file.Files.walk(
        java.nio.file.Paths.get(ckpt, "state"))
      val names = try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.map(_.getFileName.toString).toVector
      } finally stream.close()
      val changelogs = names.count(_.endsWith(".changelog"))
      val snapshots = names.count(_.endsWith(".zip"))
      assert(changelogs >= 4,
        s"expected per-batch .changelog files, found $changelogs " +
          s"(changelog checkpointing did not take)")
      assert(snapshots < changelogs,
        s"full snapshots ($snapshots) not amortized below commit count " +
          s"($changelogs) — commits are not incremental")
    } }
  }

  test("vlog streaming SOURCE: commit-version offsets, admission by files, growing table") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vlogsrc").toString
    def append(ids: Long*): Unit = VersionedTable.append(
      ids.map(i => (i, s"p$i")).toDF("id", "payload").coalesce(1), dir)
    append(1L, 2L); append(3L) // two commits of backlog
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, String)]()
    val nonEmptyBatches = new java.util.concurrent.atomic.AtomicInteger
    val q = spark.readStream.format("graft-vlog").option("path", dir)
      .option("maxFilesPerBatch", "1").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.select("id", "payload").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        if (rows.nonEmpty) nonEmptyBatches.incrementAndGet()
        rows.foreach(seen.add)
      }.start()
    q.processAllAvailable()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala == Set((1L, "p1"), (2L, "p2"), (3L, "p3")),
      s"backlog diverged: ${seen.asScala}")
    // admission control: at 1 file per batch the 2-commit backlog cannot
    // drain in a single micro-batch
    assert(nonEmptyBatches.get >= 2,
      s"maxFilesPerBatch=1 drained in ${nonEmptyBatches.get} batch(es)")
    // a GROWING table streams without restart — the offset walk follows
    // new commits, reading only their files
    append(4L, 5L)
    q.processAllAvailable()
    q.stop()
    assert(seen.asScala ==
      Set((1L, "p1"), (2L, "p2"), (3L, "p3"), (4L, "p4"), (5L, "p5")),
      s"post-growth stream diverged: ${seen.asScala}")
    // startingVersion is INCLUSIVE (the Delta convention): beginning at
    // commit 1 serves commits 1 and 2 only — commit 0's rows never
    // appear, commit 1's are not dropped (r16 review: the first cut
    // used the option as the exclusive offset and lost commit 1)
    val seenFrom1 = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, String)]()
    val q2 = spark.readStream.format("graft-vlog").option("path", dir)
      .option("startingVersion", "1").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("id", "payload").collect()
          .foreach(r => seenFrom1.add((r.getLong(0), r.getString(1))))
      }.start()
    q2.processAllAvailable()
    q2.stop()
    assert(seenFrom1.asScala ==
      Set((3L, "p3"), (4L, "p4"), (5L, "p5")),
      s"startingVersion=1 diverged: ${seenFrom1.asScala}")
  }

  test("vlog streaming source resumes from a killed checkpoint with zero dups") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vlogsrc-r").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-vlogsrc-rck").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-vlogsrc-rout").toString
    def append(ids: Long*): Unit = VersionedTable.append(
      ids.map(i => (i, s"p$i")).toDF("id", "payload").coalesce(1), dir)
    def start() = spark.readStream.format("graft-vlog")
      .option("path", dir).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(out) }
      .option("checkpointLocation", ckpt)
      .start()
    append(1L, 2L); append(3L)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // kill between deliveries
    append(4L)
    val q2 = start() // the checkpointed VERSION offset resumes the walk
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"))).toSeq
    assert(got.sorted ==
      Seq((1L, "p1"), (2L, "p2"), (3L, "p3"), (4L, "p4")),
      s"resume duplicated or dropped rows: ${got.sorted}")
  }

  test("vlog stream killed MID-BACKLOG resumes exactly-once while a writer appends through the outage") {
    import spark.implicits._
    import graft.sources.VersionedTable
    // r16 verdict task #8: the crash window is INSIDE a throttled backlog
    // drain (maxFilesPerBatch=2 over a 6-commit backlog), not at a quiet
    // boundary — and the table keeps growing while the stream is down.
    // The checkpointed commit-version offsets must resume the walk with
    // zero duplicates and zero holes: resumed output ≡ a batch read.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vlogsrc-chaos").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-vlogsrc-chaos-ck").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-vlogsrc-chaos-out").toString
    def append(ids: Long*): Unit = VersionedTable.append(
      ids.map(i => (i, s"p$i")).toDF("id", "payload").coalesce(1), dir)
    (1L to 6L).foreach(append(_)) // 6 one-file commits of backlog
    val killed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start(chaos: Boolean) = spark.readStream.format("graft-vlog")
      .option("path", dir).option("maxFilesPerBatch", "2").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        // idempotent per-batch sink: a re-run of the same batch id after
        // the crash overwrites its own output, never appends a duplicate
        df.write.mode("overwrite").parquet(s"$out/b$id")
        if (chaos && id == 1L && !killed.getAndSet(true))
          sys.error("chaos: die mid-backlog")
      }
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start(chaos = true)
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    assert(killed.get, "the chaos kill never fired")
    // the outage: a concurrent writer lands two MORE commits
    append(7L); append(8L)
    val q2 = start(chaos = false)
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(s"$out/b*")
      .select("id", "payload").as[(Long, String)].collect().toSeq
    val want = (1L to 8L).map(i => (i, s"p$i"))
    assert(got.sorted == want.sorted,
      s"resume duplicated or dropped rows: ${got.sorted}")
    // admission pressure really throttled: ≥4 distinct batches for 8
    // one-file commits at 2 files per batch
    val batches = java.nio.file.Files.list(java.nio.file.Paths.get(out))
    val nb = try {
      import scala.jdk.CollectionConverters._
      batches.iterator().asScala.count(_.getFileName.toString.startsWith("b"))
    } finally batches.close()
    assert(nb >= 4, s"backlog drained in $nb batches — no admission pressure")
  }

  test("vlog streaming source fails LOUDLY on a COW commit in range") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vlogsrc-cow").toString
    VersionedTable.append(
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload").coalesce(1), dir)
    val q = spark.readStream.format("graft-vlog").option("path", dir)
      .load().writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    q.processAllAvailable() // caught up through v0
    // a COW rewrite lands: its added files are NOT row-level changes —
    // serving them would re-emit the table, so the stream must die with
    // the explicit contract error, not deliver silently-wrong data
    VersionedTable.delete(spark, dir, col("id") === 1L)
    val err = intercept[Exception] { q.processAllAvailable() }
    assert(err.getMessage != null &&
      err.getMessage.contains("append-shaped"),
      s"wrong failure: ${err.getMessage}")
    q.stop()
  }

  test("vlog streaming source fails LOUDLY on mid-stream schema evolution") {
    import spark.implicits._
    import graft.sources.VersionedTable
    // a stream's schema is fixed at start: a column added by a later
    // additive commit would be silently ABSENT from every delivered row
    // for the life of the query — data loss with no symptom. The source
    // must fail with a restart-required error instead (r16 advice; Delta
    // draws the same line).
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vlogsrc-evo").toString
    VersionedTable.append(
      Seq((1L, "a")).toDF("id", "payload").coalesce(1), dir)
    val q = spark.readStream.format("graft-vlog").option("path", dir)
      .load().writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    q.processAllAvailable() // caught up through v0 on the old schema
    VersionedTable.append(
      Seq((2L, "b", 9L)).toDF("id", "payload", "extra").coalesce(1), dir)
    val err = intercept[Exception] { q.processAllAvailable() }
    assert(err.getMessage != null && err.getMessage.contains("restart"),
      s"wrong failure: ${err.getMessage}")
    q.stop()
  }

  test("vlog streaming WRITE rejects a same-name/different-type schema up front") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.sources.VersionedTable
    // unlike the batch path (where Spark's own byName resolution already
    // rejects unsafe casts against the table schema), a writeStream's
    // schema meets the table only inside the connector — without the
    // validateSchema gate one mistyped epoch would publish a durable
    // commit that poisons every later mergedSchema read (r16 advice)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vlogw-type").toString
    VersionedTable.append(
      Seq((1L, "a")).toDF("id", "payload").coalesce(1), dir) // id: LONG
    val head = VersionedTable.currentVersion(dir)
    val in = MemoryStream[(String, String)]
    val q = in.toDS().toDF("id", "payload") // id: STRING — type change
      .writeStream.format("graft-vlog").option("path", dir)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-vlogw-type-ck").toString)
      .outputMode("append").start()
    in.addData(("oops", "p"))
    val err = intercept[Exception] { q.processAllAvailable() }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(err).exists(_.contains("poison")),
      s"wrong failure: ${chain(err).mkString(" | ")}")
    q.stop()
    assert(VersionedTable.currentVersion(dir) == head,
      "a mistyped streaming epoch published a commit")
    // the table still reads cleanly — nothing was poisoned
    assert(VersionedTable.read(spark, dir).count() == 1L)
    assert(spark.read.format("graft-vlog").option("path", dir)
      .load().count() == 1L)
  }

  test("streaming auto-compaction converges small epoch files while the stream runs") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.sources.VersionedTable
    // every epoch publishes ≥1 file per task; with autoCompactAt=4 the
    // post-commit trigger bin-packs the small tail into 1 file whenever
    // ≥4 small files accumulate — the stream keeps running through it,
    // contents stay exact, and MVCC history stays intact (r16 task #5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vlogw-ac").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-vlogw-ac-ck").toString
    // streaming writes target an EXISTING table (inferSchema reads it)
    VersionedTable.append(Seq(-1L).toDF("id").coalesce(1), dir)
    val in = MemoryStream[Long]
    val q = in.toDS().toDF("id").repartition(1)
      .writeStream.format("graft-vlog").option("path", dir)
      .option("checkpointLocation", ckpt)
      .option("autoCompactAt", "4").option("autoCompactTarget", "1")
      .outputMode("append").start()
    (1 to 6).foreach { e =>
      in.addData((e * 10L) until (e * 10L + 3L): _*)
      q.processAllAvailable()
    }
    q.stop()
    val live = VersionedTable.liveFiles(dir)
    assert(live.size <= 3,
      s"small files did not converge: ${live.size} live after 6 epochs")
    val hist = VersionedTable.history(spark, dir)
    assert(hist.filter(col("op") === "compact").count() >= 1L,
      "no compact commit landed")
    // exactness: every row exactly once, through both read paths
    val want = (1 to 6).flatMap(e => (e * 10L) until (e * 10L + 3L))
      .toSet + (-1L)
    val got = VersionedTable.read(spark, dir)
      .select("id").as[Long].collect().toSeq
    assert(got.toSet == want && got.size == want.size,
      s"compaction lost/duplicated rows: ${got.size}")
    assert(spark.read.format("graft-vlog").option("path", dir)
      .load().count() === want.size.toLong)
    // MVCC: a pre-compaction version still reads (retention not elapsed)
    val firstCompact = hist.filter(col("op") === "compact")
      .agg(org.apache.spark.sql.functions.min("version")).head().getLong(0)
    assert(VersionedTable.read(spark, dir, Some(firstCompact - 1))
      .count() > 0L, "pre-compaction snapshot unreadable")
  }

  test("vlog streaming WRITE: writeStream lands txn-logged epoch commits, restart-safe") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.sources.VersionedTable
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vlogw").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-vlogw-ck").toString
    // writes target an existing table: bootstrap the schema with a marker
    // row the assertions filter back out
    VersionedTable.append(
      Seq((-1L, -1L)).toDF("event_id", "user_id").coalesce(1), dir)
    val in = MemoryStream[Event]
    def start() = in.toDS().select(col("event_id"), col("user_id"))
      .writeStream.format("graft-vlog").option("path", dir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    in.addData(chunks.head); q1.processAllAvailable()
    q1.stop() // kill between epochs
    val q2 = start()
    in.addData(chunks(1)); q2.processAllAvailable()
    q2.stop()
    val got = VersionedTable.read(spark, dir)
      .filter(col("event_id") >= 0L)
    val want = (chunks.head ++ chunks(1)).map(_.event_id).toSet
    assert(got.count() == want.size.toLong,
      s"epoch writes duplicated or dropped: ${got.count()} vs ${want.size}")
    assert(got.select("event_id").as[Long].collect().toSet == want)
    // every data commit carries the stream's txn line (the exactly-once
    // probe's food), under the vlogw-<queryId> stream id
    import scala.jdk.CollectionConverters._
    val txns = VersionedTable.history(spark, dir)
      .filter(col("txn").isNotNull).select("txn").as[String].collect()
    assert(txns.nonEmpty && txns.forall(_.startsWith("vlogw-")),
      s"epoch commits missing txn lines: ${txns.toSeq}")
  }

  test("vlog streaming WRITE absorbs a replayed epoch at the protocol seam") {
    import spark.implicits._
    import graft.sources.{VersionedTable, VlogStreamingWrite}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vlogw-seam").toString
    VersionedTable.append(
      Seq((1L, "a")).toDF("id", "payload").coalesce(1), dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType)))
    val sw = new VlogStreamingWrite(dir, schema, "seam-query")
    val fac = sw.createStreamingWriterFactory(null)
    def stageRow(taskId: Long, id: Long) = {
      val w = fac.createWriter(0, taskId, 7L)
      w.write(InternalRow(id, UTF8String.fromString(s"e$id")))
      w.commit()
    }
    sw.commit(7L, Array(stageRow(100L, 2L)))
    val vAfter = VersionedTable.currentVersion(dir)
    val rowsAfter = VersionedTable.read(spark, dir).count()
    // the at-least-once window: the SAME epoch re-commits with re-staged
    // bytes (a sink retry after a crash between write and checkpoint) —
    // the txn probe must publish NOTHING and reclaim the duplicate file
    sw.commit(7L, Array(stageRow(101L, 2L)))
    assert(VersionedTable.currentVersion(dir) == vAfter,
      "replayed epoch minted a new version")
    assert(VersionedTable.read(spark, dir).count() == rowsAfter,
      "replayed epoch duplicated rows")
    // a LATER epoch still lands
    sw.commit(8L, Array(stageRow(102L, 3L)))
    assert(VersionedTable.read(spark, dir).count() == rowsAfter + 1)
  }

  test("vlog BATCH write: a speculative duplicate attempt never publishes bytes") {
    // r16 verdict task #7 — RowSink's two-writers-one-partition race
    // driven against VlogBatchWrite, where the stakes are real staged
    // files: the engine runs attempt A and speculative attempt B for the
    // SAME partition, both task-commit, then delivers exactly ONE commit
    // message to the driver and aborts the loser. Contract: one file set
    // published, the loser's bytes deleted, contents = winner's rows.
    import spark.implicits._
    import graft.sources.{VersionedTable, VlogBatchWrite}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vlogw-race").toString
    VersionedTable.append(
      Seq((1L, "base")).toDF("id", "payload").coalesce(1), dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType)))
    val bw = new VlogBatchWrite(dir, schema, truncateFirst = false)
    val fac = bw.createBatchWriterFactory(null)
    // partition 0, two attempts: taskId disambiguates the staged names,
    // so the racers can never clobber each other's bytes
    val winner = fac.createWriter(0, 1000L)
    val loser = fac.createWriter(0, 1001L)
    winner.write(InternalRow(2L, UTF8String.fromString("win")))
    loser.write(InternalRow(2L, UTF8String.fromString("lose")))
    val winMsg = winner.commit()
    val loseMsg = loser.commit() // both task-commit (the race window)
    // both staged files exist on disk, neither is visible
    def staged(): Seq[String] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(p =>
          p.toString.endsWith(".parquet")).map(_.toString).toSeq
      } finally w.close()
    }
    assert(staged().size == 2 + 1, "both attempts must have staged bytes")
    assert(VersionedTable.read(spark, dir).count() == 1L,
      "staged attempt bytes leaked into a read")
    // the engine: one message to the driver, abort for the loser
    loser.abort()
    bw.commit(Array(winMsg))
    val got = VersionedTable.read(spark, dir)
      .select("id", "payload").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "base"), (2L, "win")),
      s"race published the wrong rows: $got")
    // exactly one new file referenced; the loser's bytes are GONE
    val lastAdds = VersionedTable.history(spark, dir)
      .orderBy(org.apache.spark.sql.functions.col("version").desc)
      .head().getLong(2)
    assert(lastAdds == 1L, s"published $lastAdds files for one partition")
    assert(staged().size == 1 + 1,
      s"loser's staged bytes not deleted: ${staged()}")
    // and the loser's message arriving ANYWAY (engine double-delivery
    // would be a bug, but the format must still not corrupt): abort path
    // already deleted the bytes, so a stale message names a missing file
    // — the addLines builder tolerates only real staged paths, so this
    // cannot happen silently; we simply pin the loser file is absent
    import graft.sources.VlogWriteMessage
    val stale = loseMsg.asInstanceOf[VlogWriteMessage]
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, stale.relPath)),
      "loser bytes survived abort")
  }

  test("versioned-table sink absorbs a forced foreachBatch replay (exactly-once)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.sources.VersionedTable
    // the txn-logged table sink crossed with the forced-replay window:
    // foreachBatch is at-least-once, so after a crash between sink write
    // and checkpoint commit the SAME batchId re-runs — the versioned
    // table's txn probe must skip it (no new version, no duplicate rows)
    // while the naive append twin, driven through the identical replay,
    // must show the duplicates (proving the window re-delivered)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vt-ck")
    val table = java.nio.file.Files
      .createTempDirectory("graft-vt-table").toString
    val naive = java.nio.file.Files
      .createTempDirectory("graft-vt-naive").toString
    val in = MemoryStream[Event]
    def start() = in.toDS().writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Event],
          id: Long) =>
        val out = df.select(col("event_id"), col("user_id"))
        VersionedTable.appendStreamBatch(out, table, "vt-stream", id)
        out.write.mode("append").parquet(naive)
      }.start()
    val q1 = start()
    in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
      ev(2, "2024-01-01 10:01:00", 2)))
    q1.processAllAvailable()
    in.addData(Seq(ev(3, "2024-01-01 10:02:00", 1)))
    q1.processAllAvailable()
    q1.stop()
    // force the replay: drop the newest commit marker; offsets remain
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.length >= 2, "expected one commit marker per batch")
    val crc = new java.io.File(commits.last.getParent,
      s".${commits.last.getName}.crc")
    assert(commits.last.delete(), "could not remove the commit marker")
    if (crc.exists()) assert(crc.delete(), "could not remove the crc")
    val q2 = start() // replays batch 1, then continues
    q2.processAllAvailable()
    in.addData(Seq(ev(4, "2024-01-01 10:03:00", 2)))
    q2.processAllAvailable()
    q2.stop()
    // exactly one version per DISTINCT batch (0, 1, 2) — the replayed
    // batchId committed nothing
    assert(VersionedTable.currentVersion(table) == 2L,
      s"replay minted a new version: ${VersionedTable.currentVersion(table)}")
    val ids = VersionedTable.read(spark, table)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L),
      s"versioned table diverged from the unbroken run: $ids")
    // the naive twin must carry the one replayed batch's extra row —
    // otherwise the window never re-delivered and this test is vacuous
    val nv = spark.read.parquet(naive).count()
    assert(nv == 5L, s"naive append should hold the duplicate: $nv rows")
  }

  test("exactly-once sink: forced replay converges under RocksDB + changelog") {
    // the at-least-once replay window crossed with INCREMENTAL state
    // recovery: the re-run batch's counts must regenerate identically
    // from snapshot + changelog replay, or the idempotent partition
    // overwrite would converge to different contents than the unbroken run
    withRocksDB { withChangelog { exactlyOnceReplayScenario() } }
  }

  /** Run `body` with RocksDB changelog checkpointing enabled (incremental
    * per-commit changelogs instead of a full snapshot upload per batch) —
    * restored afterwards so the other RocksDB suites keep certifying the
    * default snapshot mode too.
    */
  private def withChangelog[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Shared body of the two exactly-once tests.
    * foreachBatch is at-least-once BY CONTRACT: if the process dies after
    * the sink write but before the checkpoint commit, restart re-runs the
    * batch with the same batchId. Forcing that window deterministically:
    * run two batches, stop, DELETE the latest commit marker from the
    * checkpoint (offsets survive → Spark replays exactly that batch on
    * restart), run again. The batchId-keyed dynamic-partition-overwrite
    * sink must converge to the same table contents as an unbroken run;
    * the naive append sink, driven through the IDENTICAL replay, must
    * show the duplicates — proving the test window actually re-delivered
    * rows and the idempotent sink actually absorbed them.
    */
  private def exactlyOnceReplayScenario(): Unit = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-eo-ckpt")
    val out = java.nio.file.Files.createTempDirectory("graft-eo-out")
    val naiveDir = java.nio.file.Files.createTempDirectory("graft-eo-naive")
    val in = MemoryStream[Event]

    def start() = runningCounts(in.toDS()).toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          StreamOps.idempotentBatchWrite(df, id, out.toString)
          // the naive twin: same batches, append-only, no batchId key
          df.write.mode("append").parquet(naiveDir.toString)
      }.start()

    val q1 = start()
    in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
      ev(2, "2024-01-01 10:05:00", 2)))
    q1.processAllAvailable()
    in.addData(Seq(ev(3, "2024-01-01 10:10:00", 1)))
    q1.processAllAvailable()
    q1.stop()

    // force the replay: drop the newest commit marker; offsets remain
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.length >= 2, "expected one commit marker per batch")
    val crc = new java.io.File(commits.last.getParent,
      s".${commits.last.getName}.crc") // Hadoop ChecksumFs sidecar
    assert(commits.last.delete(), "could not remove the commit marker")
    if (crc.exists()) assert(crc.delete(), "could not remove the crc sidecar")

    val q2 = start() // replays the un-committed batch, then continues
    q2.processAllAvailable()
    in.addData(Seq(ev(4, "2024-01-01 10:15:00", 2)))
    q2.processAllAvailable()
    q2.stop()

    // the idempotent table: per (batch_id, user, type) exactly one row,
    // and contents equal an unbroken run's (batch 1's replay overwrote
    // itself; update-mode running counts are deterministic per batch)
    val eo = spark.read.parquet(out.toString)
      // partition-dir values are type-inferred on read → pin to long
      .select(col("batch_id").cast("long"), col("user_id"),
        col("event_type"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(eo.length == eo.distinct.length,
      s"idempotent sink emitted duplicates: ${eo.toSeq.sorted}")
    val expected = Set(
      (0L, 1L, "click", 1L), (0L, 2L, "click", 1L), // batch 0
      (1L, 1L, "click", 2L),                        // batch 1 (replayed once)
      (2L, 2L, "click", 2L))                        // post-restart batch
    assert(eo.toSet == expected,
      s"sink diverged from the unbroken-run contents: ${eo.toSeq.sorted}")
    // the naive twin MUST carry the duplicate — otherwise this test's
    // replay window never re-delivered anything and the assertions above
    // are vacuous
    val nv = spark.read.parquet(naiveDir.toString).collect()
    assert(nv.length == eo.length + 1,
      s"naive append should hold exactly the one replayed batch's extra " +
        s"row: ${nv.length} vs ${eo.length}")
  }

  /** Run `body` with the RocksDB state store provider active — the provider
    * SURVEY §4 names as the 100 TB state story (state off-heap in native
    * RocksDB instead of bounded by executor heap, incremental snapshot
    * uploads at checkpoint). The provider class is read per-query at start,
    * so setting it around construction + start suffices; it is restored
    * afterwards so the rest of the suite keeps certifying the default
    * provider as well — both must work.
    */
  private def withRocksDB[T](body: => T): T =
    withConf(ProviderKey -> (StorePkg + "RocksDBStateStoreProvider"))(body)

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val StorePkg = "org.apache.spark.sql.execution.streaming.state."

  /** Run `body` with the session confs `kv` set, restoring each after. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The custom metric names of `q`'s state operators: RocksDB surfaces
    * rocksdb* metrics there, the default HDFS-backed provider none.
    */
  private def stateMetrics(
      q: org.apache.spark.sql.streaming.StreamingQuery): Seq[String] = {
    val ops = q.recentProgress.flatMap(_.stateOperators)
    assert(ops.nonEmpty, "the query reported no state operator")
    ops.flatMap(_.customMetrics.keySet.toArray.map(_.toString)).toSeq
  }

  /** Hard evidence the swapped provider actually served the query. */
  private def assertRocksDbServed(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val metrics = stateMetrics(q)
    assert(metrics.exists(_.startsWith("rocksdb")),
      s"no rocksdb state metrics — provider swap did not take: " +
        s"${metrics.distinct.mkString(", ")}")
  }

  /** The complement: the default HDFS-backed provider served the query. */
  private def assertHdfsServed(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val metrics = stateMetrics(q)
    assert(!metrics.exists(_.startsWith("rocksdb")),
      s"rocksdb state metrics on a default-provider query: " +
        s"${metrics.distinct.mkString(", ")}")
  }

  test("transformWithState on the HDFS store fails with a clear error") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withConf(ProviderKey -> (StorePkg + "HDFSBackedStateStoreProvider")) {
      val in = MemoryStream[Event]
      val q = runningCountsTws(in.toDS()).writeStream
        .format("memory").queryName("tws_hdfs").outputMode("update").start()
      in.addData(ev(1, "2024-01-01 10:00:00", 1))
      val e = try intercept[StreamingQueryException](q.processAllAvailable())
        finally q.stop()
      assert(e.getMessage.contains("STATE_STORE_MULTIPLE_COLUMN_FAMILIES"),
        e.getMessage)
    }
  }

  test("building and starting every StreamOps operator leaves the session conf unchanged") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, d)
    val emb = Tables.embeddings(spark, d)
    val dim = Tables.customer(spark, d).select(col("c_custkey"))
    val index = graft.queries.LlmOps.buildNeardupIndex(docs)
    val tmp = java.nio.file.Files.createTempDirectory("graft-conf")
    def dir(n: String) =
      java.nio.file.Files.createDirectories(tmp.resolve(n)).toString
    // the store and the ns-timestamp flag named explicitly, so a builder
    // that sets either shows up as a change whatever earlier tests left
    withConf(ProviderKey -> (StorePkg + "HDFSBackedStateStoreProvider"),
        "spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      val before = spark.conf.getAll
      val events = MemoryStream[Event].toDS()
      val built: Seq[org.apache.spark.sql.Dataset[_]] = Seq(
        wordCount(MemoryStream[String].toDS()), runningCounts(events),
        distinctUsersHll(events), userFreqCms(events),
        valueQuantilesHdr(events), distinctUsersKmv(events),
        runningTopK(events), funnelStages(events), markovTransitions(events),
        ewmaStream(events), ewmaStreamTws(events), gapFillStream(events),
        gapInterpStream(events), holtStream(events), cusumStream(events),
        cusumStreamTws(events),
        holtWintersStream(MemoryStream[HourCount].toDS()),
        conversionPatternStream(events), tumblingCounts(events),
        slidingCounts(events), sessionWindows(events),
        sessionWindowsDynamic(events), sessionizeWithTimeout(events),
        runningCountsTws(events),
        runningCountsTws(events, TTLConfig(java.time.Duration.ofMinutes(1))),
        activityWithTimers(events), typeCountsTws(events),
        dedupEvents(events), enrichWithStatic(events, dim, "c_custkey"),
        purchaseClickJoin(events), purchaseClickLeftJoin(events),
        purchaseClickFullJoin(events), purchaseClickSemiJoin(events),
        chunkDedupStream(MemoryStream[ChunkIn].toDS()),
        chunkDedupStreamTws(MemoryStream[ChunkIn].toDS()),
        ngramNoveltyStream(MemoryStream[GramIn].toDS()),
        ngramNoveltyStreamTws(MemoryStream[GramIn].toDS()),
        pitEnrichStream(MemoryStream[PitIn].toDS()),
        scd2Stream(MemoryStream[DimIn].toDS()),
        scd2StreamTws(MemoryStream[DimIn].toDS()),
        bloomSemiReducedStream(events.toDF(), "user_id", dim),
        eventsFileStream(spark, dir("events")))
      assert(built.forall(_.isStreaming))
      val vecs = MemoryStream[(Long, Seq[Float], Int)].toDS()
        .toDF("vec_id", "embedding", "label")
      val qi = MemoryStream[QiIn].toDS()
      val started = Seq(
        runningCountsForeachBatch(events)((_, _) => ()),
        runningCountsExactlyOnce(events, dir("eo"), dir("eo-ck")),
        neardupProbeStream(MemoryStream[(Long, String)].toDS()
          .toDF("doc_id", "text"), index, (_, _) => ()),
        pqEncodeStream(vecs, emb, (_, _) => ()),
        imiAssignStream(vecs, emb, 4, (_, _) => ()),
        imiSearchStream(MemoryStream[(Long, Seq[Float])].toDS()
          .toDF("probe_id", "embedding"), emb, 4, 3, 3, (_, _) => ()),
        budgetHistogramStream(MemoryStream[(Long, Long, Long, Long)].toDS()
          .toDF("doc_id", "n_tok", "priority", "bucket"), _ => ()),
        contractMonitorStream(MemoryStream[(Long, String, String, Long)]
          .toDS().toDF("doc_id", "text", "lang", "n_chars"), _ => ()),
        qualityGateStream(MemoryStream[(Long, String, String, String, Long)]
          .toDS().toDF("doc_id", "text", "lang", "source", "n_chars"),
          _ => ()),
        kAnonymityStream(qi, _ => ()), kAnonymityStreamTws(qi, _ => ()))
      started.foreach(_.stop())
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      assert(changed.isEmpty, "operators changed the session conf: " +
        changed.toSeq.sorted.map(k =>
          s"$k: ${before.get(k)} -> ${after.get(k)}").mkString("; "))
    }
  }

  test("RocksDB provider: HLL + CMS sketch state converges to the batch fold") {
    import spark.implicits._
    import graft.functions.{CountMinSketch, HyperLogLog}
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val inH = MemoryStream[Event]
      val qH = StreamOps.distinctUsersHll(inH.toDS()).writeStream
        .format("memory").queryName("hllrocks").outputMode("update").start()
      chunks.foreach { c => inH.addData(c); qH.processAllAvailable() }
      assertRocksDbServed(qH)
      qH.stop()
      val hll = spark.table("hllrocks").as[TypeHll].collect()
        .groupBy(_.event_type).map { case (t, rows) =>
          t -> rows.map(_.registers).reduce((a, b) =>
            a.zip(b).map(p => math.max(p._1, p._2)))
        }
      chunks.flatten.groupBy(_.event_type).foreach { case (t, es) =>
        val batch = es.foldLeft(HyperLogLog.zero)((sk, e) =>
          HyperLogLog.reduce(sk, e.user_id.toString)).registers.toSeq
        assert(hll(t) == batch,
          s"$t: RocksDB-served HLL registers diverge from the batch fold")
      }

      val inC = MemoryStream[Event]
      val qC = StreamOps.userFreqCms(inC.toDS()).writeStream
        .format("memory").queryName("cmsrocks").outputMode("update").start()
      chunks.foreach { c => inC.addData(c); qC.processAllAvailable() }
      assertRocksDbServed(qC)
      qC.stop()
      val cms = spark.table("cmsrocks").as[TypeCms].collect()
        .groupBy(_.event_type).map { case (t, rows) =>
          t -> rows.map(_.cells).reduce((a, b) =>
            a.zip(b).map(p => math.max(p._1, p._2)))
        }
      chunks.flatten.groupBy(_.event_type).foreach { case (t, es) =>
        val batch = es.foldLeft(CountMinSketch.zero)((sk, e) =>
          CountMinSketch.reduce(sk, e.user_id.toString)).cells.toSeq
        assert(cms(t) == batch,
          s"$t: RocksDB-served CMS cells diverge from the batch fold")
      }
    }
  }

  test("RocksDB provider: state TTL evicts idle state between batches") {
    // same one-sided-safe shape as the default-provider TTL test above:
    // after a 3 s idle gap a 500 ms TTL MUST have evicted, so the count
    // restarts at 1 — RocksDB's native TTL path, not just the heap map's
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val in = MemoryStream[Event]
      val q = runningCountsTws(in.toDS(),
          TTLConfig(java.time.Duration.ofMillis(500))).writeStream
        .format("memory").queryName("ttlrocks").outputMode("update").start()
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime() + 120e9.toLong
        while (spark.table("ttlrocks").count() < n) {
          assert(System.nanoTime() < deadline,
            s"sink did not reach $n rows within 120 s")
          Thread.sleep(100)
        }
      }
      in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1)))
      awaitRows(1)
      Thread.sleep(3000)
      in.addData(Seq(ev(2, "2024-01-01 10:00:01", 1)))
      awaitRows(2)
      assertRocksDbServed(q)
      q.stop()
      val ns = spark.table("ttlrocks").as[KeyCount].collect()
        .filter(_.user_id == 1L).map(_.n).toSeq
      assert(ns == Seq(1L, 1L),
        s"state survived its TTL under RocksDB: $ns (expected 1, 1)")
    }
  }

  test("RocksDB provider: state recovers across kill/restart (snapshot+replay)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-rocks-ckpt")
        .toString
      val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val in = MemoryStream[Event]
      def start() = runningCountsTws(in.toDS()).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[KeyCount],
            _: Long) =>
          df.collect().foreach(k => seen.merge(k.user_id, k.n, math.max _))
        }.start()
      val q1 = start()
      in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
        ev(2, "2024-01-01 10:01:00", 1),
        ev(3, "2024-01-01 10:02:00", 1)))
      q1.processAllAvailable()
      assertRocksDbServed(q1)
      q1.stop()
      val q2 = start()
      in.addData(Seq(ev(4, "2024-01-01 10:03:00", 1),
        ev(5, "2024-01-01 10:04:00", 1)))
      q2.processAllAvailable()
      q2.stop()
      assert(seen.get(1L) == 5L,
        s"RocksDB state not recovered: expected 5, saw ${seen.get(1L)}")
    }
  }

  test("transformWithState recovers its ValueState across kill/restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-tws-ckpt")
        .toString
      val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val in = MemoryStream[Event]

      def start() = runningCountsTws(in.toDS()).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[KeyCount], _: Long) =>
          df.collect().foreach(k => seen.merge(k.user_id, k.n, math.max _))
        }.start()

      val q1 = start()
      in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1),
        ev(2, "2024-01-01 10:01:00", 1),
        ev(3, "2024-01-01 10:02:00", 1)))
      q1.processAllAvailable()
      q1.stop() // kill with n=3 in the state store

      val q2 = start() // resume: state must carry the count forward
      in.addData(Seq(ev(4, "2024-01-01 10:03:00", 1),
        ev(5, "2024-01-01 10:04:00", 1)))
      q2.processAllAvailable()
      q2.stop()
      assert(seen.get(1L) == 5L,
        s"state not recovered: expected running count 5, saw ${seen.get(1L)}")
    }
  }

  test("running top-k recovers its bounded heap state across kill/restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-topk-ckpt")
      .toString
    val last = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long)]()
    val in = MemoryStream[Event]

    def start() = runningTopK(in.toDS()).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[UserTopK], _: Long) =>
        df.collect().foreach(t =>
          last.put(t.user_id, (t.top1, t.top2, t.top3)))
      }.start()

    val q1 = start()
    in.addData(Seq(ev(1, "2024-01-01 10:00:00", 1, v = 5.0),
      ev(2, "2024-01-01 10:01:00", 1, v = 9.0)))
    q1.processAllAvailable()
    q1.stop() // kill with state [900, 500]

    val q2 = start() // resume: a mid-ranked value must slot BETWEEN them
    in.addData(Seq(ev(3, "2024-01-01 10:02:00", 1, v = 7.0)))
    q2.processAllAvailable()
    q2.stop()
    assert(last.get(1L) == ((900L, 700L, 500L)),
      s"heap state not recovered: ${last.get(1L)}")
  }

  test("rowsink streaming write commits per epoch, replay-idempotent") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.sources.RowSinkRegistry
    val t = "ss-epochs"
    RowSinkRegistry.clear(t)
    val in = MemoryStream[Event]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-rowsink-ckpt").toString
    val q = in.toDS().select(col("event_id"), col("user_id"))
      .writeStream.format("graft-rowsink").option("target", t)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val fed = chunks.take(3)
    fed.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // one epoch-keyed entry per non-empty micro-batch; the fold over
    // DISTINCT epochs equals everything fed — the exactly-once read
    val total = RowSinkRegistry.epochTotal(t)
    assert(total.rows == fed.map(_.size).sum,
      s"epoch fold lost rows: ${total.rows} vs ${fed.map(_.size).sum}")
    assert(RowSinkRegistry.epochCount(t) >= fed.size)
    // replay-idempotence at the protocol seam: re-committing an epoch
    // (the crash-between-sink-and-checkpoint window) must leave the fold
    // unchanged, because publishing is a keyed PUT, not an append
    val someEpoch = (0 until RowSinkRegistry.epochCount(t))
      .flatMap(e => RowSinkRegistry.epochGet(t, e.toLong).map(e.toLong -> _))
      .head
    new graft.sources.RowSinkStreamingWrite(t,
      org.apache.spark.sql.types.StructType(Nil))
      .commit(someEpoch._1, Array(
        graft.sources.RowSinkTaskResult(0, someEpoch._2.rows,
          someEpoch._2.checksum)))
    assert(RowSinkRegistry.epochTotal(t) == total,
      "an epoch replay changed the fold — the sink is not idempotent")
  }

  test("bloom-reduced stream-static semi join matches the unreduced batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // "hot" dimension: a mid-query-filtered key set, like batch c11's
    val dim = Tables.customer(spark, d)
      .filter(col("c_acctbal") > 4000.0).select(col("c_custkey"))
    val in = MemoryStream[Event]
    val q = bloomSemiReducedStream(in.toDS().toDF(), "user_id", dim)
      .writeStream.format("memory").queryName("bloomsemi")
      .outputMode("append").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // differential: the bloom-prefiltered stream must equal the plain
    // batch semi join — no false negatives lost a row, the exact join
    // removed every FP
    val want = Tables.events(spark, d)
      .join(dim, col("user_id") === col("c_custkey"), "left_semi")
      .select("event_id").as[Long].collect().toSet
    val got = spark.table("bloomsemi")
      .select("event_id").as[Long].collect().toSet
    assert(got == want,
      s"bloom-reduced stream diverged: ${got.size} vs ${want.size} rows")
    // non-vacuity: the dim filter must keep a strict subset, so the
    // reduction has something to do
    val total = Tables.events(spark, d).count()
    assert(want.size < total && want.nonEmpty)
  }

  test("stream-static enrichment join matches batch left join") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val in = MemoryStream[Event]
    val q = enrichWithStatic(in.toDS(), dim, "c_custkey").writeStream
      .format("memory").queryName("enrich").outputMode("append").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    val batchCount = Tables.events(spark, d)
      .join(dim, col("user_id") === col("c_custkey"), "left").count()
    assert(spark.table("enrich").count() == batchCount)
  }

  test("stream-stream interval join buffers both sides within watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = purchaseClickJoin(in.toDS()).writeStream
      .format("memory").queryName("ssjoin").outputMode("append").start()
    in.addData(Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click"),
      ev(2, "2024-01-01 10:05:00", 1, "purchase"), // joins with click@10:00
      ev(3, "2024-01-01 09:40:00", 2, "click"),
      ev(4, "2024-01-01 10:30:00", 2, "purchase"))) // click 50 min earlier → no
    q.processAllAvailable()
    in.addData(Seq(ev(5, "2024-01-01 13:00:00", 3, "view")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssjoin")
      .select("p_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((2L, 1L)), s"got ${got.toSeq}")
  }

  test("stream-stream LEFT OUTER join null-extends only after watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = purchaseClickLeftJoin(in.toDS()).writeStream
      .format("memory").queryName("ssleft").outputMode("append").start()
    in.addData(Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click"),
      ev(2, "2024-01-01 10:05:00", 1, "purchase"), // matched inner row
      ev(3, "2024-01-01 10:06:00", 2, "purchase"))) // no click for u2
    q.processAllAvailable()
    // the unmatched purchase must NOT emit yet — a matching click could
    // still arrive within the watermark horizon
    val early = spark.table("ssleft").filter(col("p_id") === 3).count()
    assert(early == 0L, "null-extended row emitted before watermark proof")
    // advance BOTH sides' watermarks (global watermark = min across the two
    // withWatermark ops; events that don't survive the purchase/click
    // filters never reach a watermark node): late click + purchase for an
    // unrelated user push the global watermark far past u2's interval
    in.addData(Seq(ev(9, "2024-01-01 12:00:00", 9, "click"),
      ev(10, "2024-01-01 12:30:00", 9, "purchase")))
    q.processAllAvailable()
    // eviction + null emission happen while processing the NEXT batch
    in.addData(Seq(ev(11, "2024-01-01 13:30:00", 8, "click")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssleft")
      .filter(col("p_id").isin(2L, 3L))
      .select("p_id", "c_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    // sequence compare (not a set): double emission of the null-extended
    // row must fail, not collapse away
    assert(rows.toSeq.sorted == Seq((2L, 1L), (3L, -1L)),
      s"got ${rows.toSeq}")
  }

  test("stream-stream FULL OUTER join null-extends both sides post-watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = purchaseClickFullJoin(in.toDS()).writeStream
      .format("memory").queryName("ssfull").outputMode("append").start()
    in.addData(Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click"),
      ev(2, "2024-01-01 10:05:00", 1, "purchase"), // matched inner row
      ev(3, "2024-01-01 10:06:00", 2, "purchase"), // no click for u2
      ev(4, "2024-01-01 10:07:00", 3, "click"))) // no purchase for u3
    q.processAllAvailable()
    // neither unmatched side may emit before the watermark proves no
    // match can still arrive
    assert(spark.table("ssfull")
      .filter(col("p_id") === 3 || col("c_id") === 4).count() == 0L,
      "null-extended row emitted before watermark proof")
    // push the global watermark past both intervals, then one more batch
    // (eviction + null emission happen while processing the NEXT batch)
    in.addData(Seq(ev(9, "2024-01-01 12:00:00", 9, "click"),
      ev(10, "2024-01-01 12:30:00", 9, "purchase")))
    q.processAllAvailable()
    in.addData(Seq(ev(11, "2024-01-01 13:30:00", 8, "click")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssfull")
      .filter(col("p_id").isin(2L, 3L) || col("c_id") === 4L)
      .select("p_id", "c_id").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(rows.toSeq.sorted == Seq((-1L, 4L), (2L, 1L), (3L, -1L)),
      s"got ${rows.toSeq}")
  }

  test("stream-stream LEFT SEMI join emits a matched purchase exactly once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = StreamOps.purchaseClickSemiJoin(in.toDS()).writeStream
      .format("memory").queryName("sssemi").outputMode("append").start()
    in.addData(Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click"),
      ev(2, "2024-01-01 10:03:00", 1, "click"), // TWO matching clicks
      ev(3, "2024-01-01 10:05:00", 1, "purchase"), // must emit ONCE
      ev(4, "2024-01-01 10:06:00", 2, "purchase"))) // no click → never
    q.processAllAvailable()
    in.addData(Seq(ev(9, "2024-01-01 12:00:00", 9, "click"),
      ev(10, "2024-01-01 12:30:00", 9, "purchase")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sssemi").select("p_id").collect()
      .map(_.getLong(0)).sorted
    // semi semantics: one row per matched purchase (the inner join would
    // emit p_id=3 twice — once per matching click); no click columns; the
    // unmatched purchases never appear (u9's click is 30 min before its
    // purchase — outside the interval, it only advances the watermark)
    assert(got.toSeq == Seq(3L), s"got ${got.toSeq}")
    assert(!spark.table("sssemi").columns.contains("c_id"),
      "semi join must not expose right-side columns")
  }

  test("checkpointed state is inspectable offline via the statestore reader") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-statesrc").toString
    val in = MemoryStream[Event]
    val q = StreamOps.runningCounts(in.toDS()).writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[KeyCount],
          _: Long) =>
        // every partition must be processed or the state commit validator
        // (rightly) fails the batch — count() drains them all
        b.count(): Unit
      }
      .start()
    chunks.take(2).foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    // no stream replay: the reader scans ONLY the checkpointed state files
    val state = StreamOps.readKeyedState(spark, ckpt)
      .selectExpr("key._1 AS user_id", "key._2 AS event_type",
        "value.groupState.n AS n")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val expected = chunks.take(2).flatten
      .groupBy(e => (e.user_id, e.event_type))
      .map { case (k, es) => k -> es.size.toLong }
    assert(state == expected,
      s"offline state read diverges from the ingested counts " +
        s"(${state.size} vs ${expected.size} keys)")
  }

  test("foreachBatch sink receives every micro-batch with its id") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val in = MemoryStream[Event]
    val q = runningCountsForeachBatch(in.toDS()) { (df, id) =>
      seen.put(id, df.count())
    }
    in.addData(chunks.head.take(10)); q.processAllAvailable()
    in.addData(chunks.head.slice(10, 20)); q.processAllAvailable()
    q.stop()
    assert(seen.size >= 2, s"expected >=2 batches, saw $seen")
    assert(seen.values.stream.mapToLong(identity(_)).sum > 0)
  }

  test("rate source wires up as a deterministic load generator") {
    val df = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
    assert(df.isStreaming &&
      df.schema.fieldNames.toSet == Set("timestamp", "value"))
    val q = df.writeStream.format("memory").queryName("rate_smoke").start()
    try {
      q.awaitTermination(2000)
    } finally q.stop()
    assert(spark.table("rate_smoke").schema.fieldNames.contains("value"))
  }

  test("streaming file source reads the events table (AvailableNow backfill)") {
    // file sources watch directories — stage the single-file table into one
    val dir = java.nio.file.Files.createTempDirectory("graft-evsrc")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val q = StreamOps.eventsFileStream(spark, dir.toString).writeStream
      .format("memory").queryName("filesrc")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("filesrc").count() == 1000L)
  }

  test("streaming file source starts on an EMPTY watched directory") {
    // legitimate for file streams: the directory exists but no files have
    // landed yet. The schema probe can't infer anything, so the source
    // defaults to the current (µs/NTZ) layout and picks up files that
    // arrive later — the round-10 fix for the probe throwing on empty dirs.
    val dir = java.nio.file.Files.createTempDirectory("graft-evempty")
    val stream = StreamOps.eventsFileStream(spark, dir.toString)
    val q = stream.writeStream.format("memory").queryName("emptysrc")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("emptysrc").count() == 0L, "empty dir reads zero rows")
    // files arriving later read through the declared schema
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      dir.resolve("events.parquet"))
    val q2 = StreamOps.eventsFileStream(spark, dir.toString).writeStream
      .format("memory").queryName("emptysrc2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    assert(spark.table("emptysrc2").count() == 1000L,
      "late-arriving file did not read through the default schema")
  }

  test("streaming file source admits a bounded number of files per batch") {
    // a backlog of 2 * bound + 1 files read under AvailableNow must arrive
    // as 3 batches, each within the bound, that together hold every row
    val bound = StreamOps.MaxFilesPerTrigger
    val files = 2 * bound + 1
    val dir = java.nio.file.Files.createTempDirectory("graft-evadmit")
    val events = Tables.events(spark, d)
    val total = events.count()
    assert(total >= files, s"$total events cannot fill $files files")
    // round-robin repartitioning gives every file total / files rows or one more
    events.repartition(files).write.mode("overwrite").parquet(dir.toString)
    assert(dir.toFile.listFiles().count(_.getName.endsWith(".parquet")) == files)
    val q = StreamOps.eventsFileStream(spark, dir.toString)
      .transform(runningCounts).writeStream
      .format("memory").queryName("admit").outputMode("update")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(sizes.size == 3, s"batch sizes $sizes")
    assert(sizes.forall(_ <= bound * (total / files + 1)), s"batch sizes $sizes")
    assert(sizes.sum == total)
    assert(spark.table("admit").groupBy("user_id", "event_type")
      .agg(max("n").as("n")).agg(sum("n")).head().getLong(0) == sizes.sum)
  }

  test("streaming media ingest: binaryFile backfill through the decode stage") {
    // raw asset files land in a watched directory; the glob prunes at
    // listing time, each matching file becomes a MediaItem, and the SAME
    // per-partition decode stage as the batch path runs inside the stream
    val dir = java.nio.file.Files.createTempDirectory("graft-media")
    (0 until 3).foreach { i =>
      val bytes = Array.tabulate[Byte](100 + i)(j => ((i * 37 + j) % 251).toByte)
      java.nio.file.Files.write(dir.resolve(s"asset_$i.jpg"), bytes)
    }
    java.nio.file.Files.write(dir.resolve("ignore_9.txt"),
      Array.tabulate[Byte](32)(_.toByte))
    // admitted by the glob but carries no trailing-digit id: must be
    // SKIPPED by the null-id filter, not kill the query when NULL hits
    // MediaItem's non-nullable media_id
    java.nio.file.Files.write(dir.resolve("cover.jpg"),
      Array.tabulate[Byte](16)(_.toByte))
    val items = graft.multimodal.MediaPipeline
      .mediaFileStream(spark, dir.toString, "*.jpg")
    val q = graft.multimodal.MediaPipeline.extractFeatures(items)
      .writeStream.format("memory").queryName("mediasrc")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("mediasrc").collect()
    assert(rows.length == 3,
      s"3 id-bearing jpgs (txt glob-pruned, id-less jpg filtered): ${rows.length}")
    assert(rows.forall(_.getString(1) == "image/jpeg"))
    assert(rows.map(_.getLong(0)).sorted.sameElements(Array(0L, 1L, 2L)))
    val feats = rows.map(r => r.getSeq[Double](3))
    assert(feats.forall(f => f.length == 16 && math.abs(f.sum - 1.0) < 1e-9))
  }

  test("streaming incremental near-dup matches the batch j40 exactly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // same corpus split as the registered j40: index = 90%, delta = the
    // doc_id % 10 == 0 docs, streamed in two micro-batches
    val docs = Tables.documents(spark, d)
    val index = graft.queries.LlmOps
      .buildNeardupIndex(docs.filter(col("doc_id") % 10 =!= 0))
    val delta = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val buf = scala.collection.mutable.Buffer.empty[(Long, Long, Double, Long)]
    val q = StreamOps.neardupProbeStream(
      in.toDS().toDF("doc_id", "text"), index,
      (out, _) => buf ++= out.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))))
    delta.grouped((delta.size + 1) / 2).foreach { half =>
      in.addData(half); q.processAllAvailable()
    }
    q.stop()
    val batch = SparkEntry.queries("j40_incremental_neardup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    assert(batch.nonEmpty, "no matches at this sf — differential is vacuous")
    assert(buf.sortBy(_._1).toSeq == batch.sortBy(_._1),
      s"stream/batch diverge:\n  stream=${buf.sortBy(_._1)}\n  batch =$batch")
  }

  test("streaming PQ encode matches the batch j63 codes and j64 cells exactly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the whole collection arrives as a stream in two micro-batches; the
    // static codebook side is the same collection (self-indexing), so the
    // streamed output must reproduce the registered j63 encode row-for-row
    // and the cell assignment j64's search routes by
    val emb = Tables.embeddings(spark, d)
    val rows = emb.select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)].collect().toSeq
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val buf = scala.collection.mutable.Buffer.empty[(Long, String, Long, Long)]
    val q = StreamOps.pqEncodeStream(
      in.toDS().toDF("vec_id", "embedding", "label"), emb,
      (out, _) => buf ++= out.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))))
    rows.grouped((rows.size + 1) / 2).foreach { half =>
      in.addData(half); q.processAllAvailable()
    }
    q.stop()
    val batchEncode = SparkEntry.queries("j63_pq_encode")(spark, d)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
      .toMap
    assert(buf.size == rows.size, "stream lost or duplicated vectors")
    buf.foreach { case (vid, code, err, cell) =>
      assert(batchEncode(vid) == ((code, err)),
        s"vec $vid: streamed ($code, $err) != batch ${batchEncode(vid)}")
      assert(cell >= 0 && cell < 16, s"vec $vid: cell $cell out of range")
    }
    // centroid vectors route to their own cell — the j63 self-encoding law
    // carried over to the streamed cell assignment
    buf.filter(_._1 < 16).foreach { case (vid, _, _, cell) =>
      assert(cell == vid, s"centroid $vid streamed into cell $cell")
    }
  }

  test("streaming IMI cell maintenance matches the batch j67 assignment exactly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the whole collection arrives as a stream in two micro-batches
    // against its own static half codebooks (self-indexing, the
    // pqEncodeStream convention), so the streamed product cells must
    // reproduce the registered j67 output row-for-row — same seam
    // (imiAssignAgainst), so a drift here means the codebook derivation
    // or the quantize step forked, not the assignment
    val emb = Tables.embeddings(spark, d)
    val rows = emb.select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)].collect().toSeq
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val buf = scala.collection.mutable.Buffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    val q = StreamOps.imiAssignStream(
      in.toDS().toDF("vec_id", "embedding", "label"), emb, kHalf = 4,
      (out, _) => buf ++= out.collect().map(r => (r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))))
    rows.grouped((rows.size + 1) / 2).foreach { half =>
      in.addData(half); q.processAllAvailable()
    }
    q.stop()
    val batch = SparkEntry.queries("j67_imi_cells")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(buf.size == rows.size, "stream lost or duplicated vectors")
    assert(buf.sortBy(_._1).toSeq == batch.sortBy(_._1),
      s"stream/batch IMI cells diverge:\n  stream=${buf.sortBy(_._1).take(5)}" +
        s"\n  batch =${batch.sortBy(_._1).take(5)}")
  }

  test("streaming IMI search serves queries identical to the batch j68") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // query serving, the request direction of the maintenance stream: the
    // registered j68's probe panel arrives as a STREAM (two micro-batches)
    // against the static collection's multi-index, at j68's exact sizing
    // (kHalf=4, nprobe=3, topK=3). Parity is by construction (same
    // imiProbeCells/imiSearchTopK seams), so a divergence here means the
    // probe quantize step or the index derivation forked — and the split
    // across batches proves batching granularity cannot change an answer
    val emb = Tables.embeddings(spark, d)
    val probeRows = emb.filter(col("vec_id") % 100 === 7)
      .orderBy("vec_id").limit(64)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    assert(probeRows.size >= 2, "panel too small to split across batches")
    val in = MemoryStream[(Long, Seq[Float])]
    val buf = scala.collection.mutable.Buffer.empty[(Long, Long, Long, Long)]
    val q = StreamOps.imiSearchStream(
      in.toDS().toDF("probe_id", "embedding"), emb,
      kHalf = 4, nprobe = 3, topK = 3,
      (out, _) => buf ++= out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))))
    probeRows.grouped((probeRows.size + 1) / 2).foreach { half =>
      in.addData(half); q.processAllAvailable()
    }
    q.stop()
    val batch = SparkEntry.queries("j68_imi_search")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(buf.sortBy(t => (t._1, t._4)).toSeq ==
      batch.sortBy(t => (t._1, t._4)),
      s"stream/batch IMI search diverge:\n" +
        s"  stream=${buf.sortBy(t => (t._1, t._4)).take(5)}\n" +
        s"  batch =${batch.sortBy(t => (t._1, t._4)).take(5)}")
  }

  test("streaming first-occurrence chunk dedup matches the batch j75 decisions") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the corpus chunked by the SAME LlmOps.docChunks seam j75 uses,
    // streamed in corpus (doc_id, idx) order across three micro-batches —
    // the order under which streaming first-ARRIVAL must equal the batch
    // min-struct argmin row-for-row
    val corpusChunks = graft.queries.LlmOps
      .docChunks(Tables.documents(spark, d))
      .select("doc_id", "idx", "ck").as[(Long, Long, String)]
      .collect().sortBy(t => (t._1, t._2))
      .map(t => ChunkIn(t._1, t._2, t._3)).toSeq
    val in = MemoryStream[ChunkIn]
    val q = StreamOps.chunkDedupStream(in.toDS()).writeStream
      .format("memory").queryName("chunk_dedup_stream")
      .outputMode("append").start()
    corpusChunks.grouped((corpusChunks.size + 2) / 3).foreach { b =>
      in.addData(b); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("chunk_dedup_stream").as[ChunkDecision]
      .collect().map(c => (c.doc_id, c.idx) -> c.kept).toMap
    val batch = graft.queries.LlmOps
      .chunkKept(Tables.documents(spark, d))
      .select("doc_id", "idx", "kept").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2)).toMap
    assert(got.size == batch.size,
      s"stream decided ${got.size} chunks, batch ${batch.size}")
    batch.foreach { case (k, kept) =>
      assert(got(k) == kept, s"chunk at $k: stream ${got(k)}, batch $kept")
    }
    // non-vacuous: the corpus genuinely repeats chunks, so some decision
    // is a DROP (and the kept set is strictly smaller than the corpus)
    assert(batch.values.exists(!_),
      "no repeated chunk at this sf — differential is vacuous")
  }

  test("RocksDB provider: chunk dedup decisions still match the batch j75") {
    // the state here is one boolean per DISTINCT CHUNK — the op whose
    // store actually grows with the corpus, so it is the one that must
    // also be exercised against the spill-capable provider
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val corpusChunks = graft.queries.LlmOps
        .docChunks(Tables.documents(spark, d))
        .select("doc_id", "idx", "ck").as[(Long, Long, String)]
        .collect().sortBy(t => (t._1, t._2))
        .map(t => ChunkIn(t._1, t._2, t._3)).toSeq
      val in = MemoryStream[ChunkIn]
      val q = StreamOps.chunkDedupStream(in.toDS()).writeStream
        .format("memory").queryName("chunk_dedup_rocks")
        .outputMode("append").start()
      corpusChunks.grouped((corpusChunks.size + 2) / 3).foreach { b =>
        in.addData(b); q.processAllAvailable()
      }
      assertRocksDbServed(q)
      q.stop()
      val got = spark.table("chunk_dedup_rocks").as[ChunkDecision]
        .collect().map(c => (c.doc_id, c.idx) -> c.kept).toMap
      val batch = graft.queries.LlmOps
        .chunkKept(Tables.documents(spark, d))
        .select("doc_id", "idx", "kept").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2)).toMap
      assert(got.size == batch.size && batch.forall { case (k, v) =>
        got(k) == v }, "RocksDB-served chunk dedup diverges from batch j75")
    }
  }

  test("streaming n-gram novelty matches the batch j92 per-doc scores") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the corpus trigrammed + per-doc pre-aggregated by the SAME
    // LlmOps.docTrigrams seam j92 uses, streamed in doc_id order across
    // three micro-batches — the order under which streaming first-ARRIVAL
    // must equal the batch min-doc first occurrence credit exactly
    val grams = graft.queries.LlmOps.docTrigrams(
        Tables.documents(spark, d)
          .select(col("doc_id"), split(col("text"), " ").as("ts")))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2))
      .map(t => GramIn(t._1, t._2, t._3)).toSeq
    val in = MemoryStream[GramIn]
    val q = StreamOps.ngramNoveltyStream(in.toDS()).writeStream
      .format("memory").queryName("novelty_stream")
      .outputMode("append").start()
    grams.grouped((grams.size + 2) / 3).foreach { b =>
      in.addData(b); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("novelty_stream")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_grams"),
        sum(when(col("novel"), col("cnt")).otherwise(0L)).as("novel"))
      .select(col("doc_id"), col("n_grams"), col("novel"),
        expr("(novel * CAST(10000 AS BIGINT)) div n_grams")
          .as("novelty_bp"))
    val batch = SparkEntry.queries("j92_ngram_novelty")(spark, d)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming novelty diverges from batch j92")
    // non-vacuous: the corpus repeats trigrams across documents, so some
    // decision must be a non-novel one
    assert(spark.table("novelty_stream").filter(!col("novel")).count() > 0,
      "no repeated trigram at this sf — differential is vacuous")
  }

  test("n-gram novelty TWS port folds to batch j92 identically (dual API)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val grams = graft.queries.LlmOps.docTrigrams(
          Tables.documents(spark, d)
            .select(col("doc_id"), split(col("text"), " ").as("ts")))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
        .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2))
        .map(t => GramIn(t._1, t._2, t._3)).toSeq
      val in = MemoryStream[GramIn]
      val q = StreamOps.ngramNoveltyStreamTws(in.toDS()).writeStream
        .format("memory").queryName("novelty_tws")
        .outputMode("append").start()
      grams.grouped((grams.size + 1) / 2).foreach { b =>
        in.addData(b); q.processAllAvailable()
      }
      assertRocksDbServed(q)
      q.stop()
      val streamed = spark.table("novelty_tws")
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_grams"),
          sum(when(col("novel"), col("cnt")).otherwise(0L)).as("novel"))
        .select(col("doc_id"), col("n_grams"), col("novel"),
          expr("(novel * CAST(10000 AS BIGINT)) div n_grams")
            .as("novelty_bp"))
      val batch = SparkEntry.queries("j92_ngram_novelty")(spark, d)
      assert(streamed.except(batch).isEmpty &&
        batch.except(streamed).isEmpty,
        "TWS novelty diverges from batch j92")
    }
  }

  test("n-gram novelty seen-set survives kill/restart under RocksDB") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-nov-ck").toString
      val out = java.nio.file.Files
        .createTempDirectory("graft-nov-out").toString
      val grams = graft.queries.LlmOps.docTrigrams(
          Tables.documents(spark, d)
            .select(col("doc_id"), split(col("text"), " ").as("ts")))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
        .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2))
        .map(t => GramIn(t._1, t._2, t._3)).toSeq
      val half = grams.count(_.doc_id < 50L)
      val (pre, post) = grams.splitAt(half)
      // the recovery is only evidenced if some gram STRADDLES the kill:
      // first seen before it, repeated after — a lost seen-set would
      // re-credit it as novel and inflate the post-restart doc's score
      val straddle = pre.map(_.g).toSet intersect post.map(_.g).toSet
      assert(straddle.nonEmpty, "no gram straddles the restart — vacuous")
      val in = MemoryStream[GramIn]
      // memory sinks cannot recover from a checkpoint — emit through
      // foreachBatch to parquet (the Markov restart test's pattern)
      def start() = StreamOps.ngramNoveltyStream(in.toDS()).writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[GramDecision],
            _: Long) => df.write.mode("append").parquet(out) }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      in.addData(pre); q1.processAllAvailable()
      q1.stop() // kill: the seen-set lives only in checkpointed state
      val q2 = start()
      in.addData(post); q2.processAllAvailable()
      assertRocksDbServed(q2)
      q2.stop()
      val streamed = spark.read.parquet(out)
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_grams"),
          sum(when(col("novel"), col("cnt")).otherwise(0L)).as("novel"))
        .select(col("doc_id"), col("n_grams"), col("novel"),
          expr("(novel * CAST(10000 AS BIGINT)) div n_grams")
            .as("novelty_bp"))
      val batch = SparkEntry.queries("j92_ngram_novelty")(spark, d)
      assert(streamed.except(batch).isEmpty &&
        batch.except(streamed).isEmpty,
        "recovered novelty stream diverges from batch j92 — " +
          "the seen-set did not survive the restart")
    }
  }

  test("batch observe: metrics ride the SAME single job and match direct aggregates") {
    import graft.operators.PipelineMetrics
    val docs = Tables.documents(spark, d)
    val (observed, obs) = PipelineMetrics.observeDocQuality(docs)
    // count jobs during the one action: the whole point of observe is
    // that the metrics cost ZERO extra jobs/scans
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      observed.write.format("noop").mode("overwrite").save()
      // listener events are async: wait for the first, then a grace
      // window in which any EXTRA job would also have arrived
      val deadline = System.nanoTime + 10e9.toLong
      while (jobs.get() < 1 && System.nanoTime < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(jobs.get() == 1,
        s"observe must not add jobs: ${jobs.get()} jobs for one action")
    } finally spark.sparkContext.removeSparkListener(listener)
    val m = obs.get
    val direct = docs.agg(
      count(lit(1)), sum(col("n_chars")), min(col("n_chars")),
      max(col("n_chars"))).collect()(0)
    assert(m("n_docs") == direct.getLong(0), "n_docs diverges")
    assert(m("n_empty") == 0L, "generator has no empty docs")
    assert(m("total_chars") == direct.getLong(1), "total_chars diverges")
    assert(m("min_chars") == direct.getLong(2) &&
      m("max_chars") == direct.getLong(3), "extrema diverge")
  }

  test("streaming observe: per-batch metrics surface in QueryProgress") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.operators.PipelineMetrics
    val docs = Tables.documents(spark, d)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val in = MemoryStream[(Long, Long)]
    val q = PipelineMetrics.observeDocQualityStream(
        in.toDS().toDF("doc_id", "n_chars"))
      .writeStream.format("noop").start()
    docs.grouped((docs.size + 2) / 3).foreach { b =>
      in.addData(b); q.processAllAvailable()
    }
    val perBatch = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("doc_quality")))
      .map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    // every micro-batch reported; totals across batches equal the corpus
    assert(perBatch.size == 3, s"expected 3 observed batches: $perBatch")
    assert(perBatch.map(_._1).sum == docs.size,
      "observed n_docs across batches != corpus size")
    assert(perBatch.map(_._2).sum == docs.map(_._2).sum,
      "observed total_chars across batches != corpus total")
  }

  test("transformWithState chunk dedup equals the batch j75 decisions too") {
    // the MODERN state API form (ValueState[Boolean] per chunk hash)
    // must make the same decision on every chunk as both
    // the MGWS form and the batch argmin
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val corpusChunks = graft.queries.LlmOps
      .docChunks(Tables.documents(spark, d))
      .select("doc_id", "idx", "ck").as[(Long, Long, String)]
      .collect().sortBy(t => (t._1, t._2))
      .map(t => ChunkIn(t._1, t._2, t._3)).toSeq
    withRocksDB {
      val in = MemoryStream[ChunkIn]
      val q = StreamOps.chunkDedupStreamTws(in.toDS()).writeStream
        .format("memory").queryName("chunk_dedup_tws")
        .outputMode("append").start()
      corpusChunks.grouped((corpusChunks.size + 2) / 3).foreach { b =>
        in.addData(b); q.processAllAvailable()
      }
      assertRocksDbServed(q)
      q.stop()
      val got = spark.table("chunk_dedup_tws").as[ChunkDecision]
        .collect().map(c => (c.doc_id, c.idx) -> c.kept).toMap
      val batch = graft.queries.LlmOps
        .chunkKept(Tables.documents(spark, d))
        .select("doc_id", "idx", "kept").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2)).toMap
      assert(got.size == batch.size && batch.forall { case (k, v) =>
        got(k) == v }, "TWS chunk dedup diverges from batch j75")
    }
  }

  test("streaming budget histogram converges to the batch j71 cut bucket") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // docs derived by the SAME LlmOps.docPriorities seam j71 uses,
    // streamed in three micro-batches; the final emitted cut must equal
    // the cut recomputed from the full corpus AND agree with the
    // registered j71's own output rows
    val docs = graft.queries.LlmOps
      .docPriorities(Tables.documents(spark, d))
      .select("doc_id", "n_tok", "priority", "bucket")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val in = MemoryStream[(Long, Long, Long, Long)]
    val cuts = scala.collection.mutable.Buffer.empty[BudgetCut]
    val q = StreamOps.budgetHistogramStream(
      in.toDS().toDF("doc_id", "n_tok", "priority", "bucket"),
      cuts += _)
    docs.grouped((docs.size + 2) / 3).foreach { b =>
      in.addData(b); q.processAllAvailable()
    }
    q.stop()
    assert(cuts.size == 3, s"expected one cut per micro-batch, got $cuts")
    val fin = cuts.last
    // full-corpus recompute of the same definition
    val hist = docs.groupBy(_._4).view
      .mapValues(_.map(_._2).sum).toSeq.sortBy(-_._1)
    val total = docs.map(_._2).sum
    val budget = total / 2
    var cum = 0L; var cut = -1L; var above = 0L
    hist.foreach { case (b, t) =>
      if (cut == -1L && cum < budget && cum + t > budget) {
        cut = b; above = cum
      }
      cum += t
    }
    assert(fin == BudgetCut(fin.batch_id, total, budget, cut, above),
      s"final streamed cut $fin != corpus recompute " +
        s"($total, $budget, $cut, $above)")
    // and the registered j71 sees the same boundary: buckets strictly
    // above the cut are fully selected, strictly below fully unselected
    val j71 = SparkEntry.queries("j71_budget_select")(spark, d)
      .select("bucket", "selected").as[(Long, Boolean)].collect()
    assert(j71.filter(_._1 > cut).forall(_._2),
      "a doc above the streamed cut bucket is unselected in batch j71")
    assert(j71.filter(_._1 < cut).forall(!_._2),
      "a doc below the streamed cut bucket is selected in batch j71")
    assert(j71.exists(_._1 == cut),
      "streamed cut bucket is empty in the batch output — vacuous")
  }

  test("budget histogram reseeds its driver mirror from checkpointed state on restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // Kill/restart with a checkpoint: the post-restart batch touches ONE
    // bucket only, so every other bucket's token total can come ONLY from
    // the statestore reseed — an unseeded mirror (the pre-fix behavior)
    // would emit a cut computed from that single bucket and under-count
    // the total by everything fed before the restart.
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bud-ck").toString
    val docs = graft.queries.LlmOps
      .docPriorities(Tables.documents(spark, d))
      .select("doc_id", "n_tok", "priority", "bucket")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(docs.map(_._4).distinct.size > 1,
      "fixture needs >1 bucket for the reseed to be observable")
    val held = docs.last
    val in = MemoryStream[(Long, Long, Long, Long)]
    val cuts = scala.collection.mutable.Buffer.empty[BudgetCut]
    def start() = StreamOps.budgetHistogramStream(
      in.toDS().toDF("doc_id", "n_tok", "priority", "bucket"),
      cuts += _, Some(ckpt))
    val q1 = start()
    in.addData(docs.dropRight(1)); q1.processAllAvailable(); q1.stop()
    val preTotal = cuts.last.total_toks
    val q2 = start()
    in.addData(Seq(held)); q2.processAllAvailable(); q2.stop()
    val fin = cuts.last
    // full-corpus recompute (identical definition to the in-run test)
    val hist = docs.groupBy(_._4).view
      .mapValues(_.map(_._2).sum).toSeq.sortBy(-_._1)
    val total = docs.map(_._2).sum
    val budget = total / 2
    var cum = 0L; var cut = -1L; var above = 0L
    hist.foreach { case (b, t) =>
      if (cut == -1L && cum < budget && cum + t > budget) {
        cut = b; above = cum
      }
      cum += t
    }
    assert(fin.total_toks == total,
      s"post-restart total ${fin.total_toks} != corpus total $total — the " +
        s"mirror lost the ${preTotal} pre-restart tokens (reseed failed)")
    assert(fin == BudgetCut(fin.batch_id, total, budget, cut, above),
      s"post-restart cut $fin != corpus recompute ($total, $budget, $cut, $above)")
  }

  test("streaming contract deltas sum to the batch j76 verdicts (dup injected)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // corpus + ONE duplicated doc_id: the injected dup exercises the
    // seen-state path (the generator's doc_ids are unique, so without it
    // the uniqueness constraint would be vacuously green); sum of the
    // per-batch DELTAS must equal a first-principles recompute over the
    // UNION input, constraint for constraint
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text", "lang", "n_chars")
      .as[(Long, String, String, Long)].collect().toSeq
    val union = docs :+ docs.head
    val in = MemoryStream[(Long, String, String, Long)]
    val deltas = scala.collection.mutable.Buffer.empty[ContractDelta]
    val q = StreamOps.contractMonitorStream(
      in.toDS().toDF("doc_id", "text", "lang", "n_chars"), deltas += _)
    union.grouped((union.size + 2) / 3).foreach { b =>
      in.addData(b); q.processAllAvailable()
    }
    q.stop()
    assert(deltas.size == 3, s"expected one delta per micro-batch: $deltas")
    val langs = Set("en", "es", "zh", "de", "fr")
    val expected = (
      union.size.toLong - union.map(_._1).distinct.size,
      union.count(r => r._2 == null || r._2.isEmpty).toLong,
      union.count(r => r._4 != r._2.length).toLong,
      union.count(r => !langs(r._3)).toLong,
      union.count(_._4 < 200L).toLong)
    val got = (
      deltas.map(_.doc_id_dup).sum, deltas.map(_.text_empty).sum,
      deltas.map(_.n_chars_bad).sum, deltas.map(_.lang_bad).sum,
      deltas.map(_.too_short).sum)
    assert(got == expected,
      s"summed deltas $got != union recompute $expected")
    assert(got._1 == 1L, "the injected duplicate must be counted exactly once")
    // and the row-local constraints agree with the registered j76 on the
    // raw corpus (the duplicate contributes its own flags once more)
    val dupFlags = {
      val h = docs.head
      (if (h._2 == null || h._2.isEmpty) 1L else 0L,
        if (h._4 != h._2.length) 1L else 0L,
        if (!langs(h._3)) 1L else 0L,
        if (h._4 < 200L) 1L else 0L)
    }
    val j76 = SparkEntry.queries("j76_data_contract")(spark, d)
      .filter(col("cname").startsWith("doc_"))
      .select("cname", "n_violations").as[(String, Long)].collect().toMap
    assert(got._2 == j76("doc_text_not_empty") + dupFlags._1 &&
      got._3 == j76("doc_n_chars_consistent") + dupFlags._2 &&
      got._4 == j76("doc_lang_in_enum") + dupFlags._3 &&
      got._5 == j76("doc_min_200_chars") + dupFlags._4,
      s"streamed totals diverge from registered j76 + dup flags: $got vs $j76")
  }

  test("contract deltas stay exactly-once attributed across kill/restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the delta contract's restart claim, exercised: the uniqueness
    // seen-state lives in the checkpoint, so a doc fed BEFORE the kill
    // and duplicated AFTER the restart must still count as exactly one
    // duplicate — and summed deltas across both runs equal the union
    // recompute, nothing double- or under-counted
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-contract-ck").toString
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text", "lang", "n_chars")
      .as[(Long, String, String, Long)].collect().toSeq
    val in = MemoryStream[(Long, String, String, Long)]
    val deltas = scala.collection.mutable.Buffer.empty[ContractDelta]
    def start() = StreamOps.contractMonitorStream(
      in.toDS().toDF("doc_id", "text", "lang", "n_chars"),
      deltas += _, Some(ckpt))
    val (pre, post) = docs.splitAt(docs.size / 2)
    val q1 = start()
    in.addData(pre); q1.processAllAvailable(); q1.stop()
    val q2 = start()
    in.addData(post :+ pre.head); q2.processAllAvailable(); q2.stop()
    val union = docs :+ pre.head
    val langs = Set("en", "es", "zh", "de", "fr")
    val expected = (
      union.size.toLong - union.map(_._1).distinct.size,
      union.count(r => r._2 == null || r._2.isEmpty).toLong,
      union.count(r => r._4 != r._2.length).toLong,
      union.count(r => !langs(r._3)).toLong,
      union.count(_._4 < 200L).toLong)
    val got = (
      deltas.map(_.doc_id_dup).sum, deltas.map(_.text_empty).sum,
      deltas.map(_.n_chars_bad).sum, deltas.map(_.lang_bad).sum,
      deltas.map(_.too_short).sum)
    assert(got == expected,
      s"cross-restart delta sums $got != union recompute $expected")
    assert(got._1 == 1L,
      "the post-restart duplicate of a pre-restart doc must count exactly " +
        "once — zero means the seen-state was lost, two means replay " +
        "double-attribution")
  }

  test("streaming quality-gate deltas fold to the batch j83 funnel exactly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the shared-seam differential: corpus in three micro-batches through
    // funnelVerdicts, per-batch (source, verdict) deltas folded at the
    // consumer must equal the registered batch funnel row for row
    // (counts AND chars) — the verdict is row-local, so this needs no
    // keyed state and is restart-correct by the delta contract
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
    val in = MemoryStream[(Long, String, String, String, Long)]
    val deltas = scala.collection.mutable.Buffer.empty[Seq[FunnelDelta]]
    val q = StreamOps.qualityGateStream(
      in.toDS().toDF("doc_id", "text", "lang", "source", "n_chars"),
      deltas += _)
    docs.grouped((docs.size + 2) / 3).foreach { b =>
      in.addData(b); q.processAllAvailable()
    }
    q.stop()
    assert(deltas.size == 3, s"expected one delta set per micro-batch")
    // every batch contributes (no vacuous empty delta), batch ids distinct
    assert(deltas.forall(_.nonEmpty), "a micro-batch emitted no funnel rows")
    assert(deltas.flatMap(_.map(_.batch_id)).distinct.size == 3)
    // the documented consumer contract: foreachBatch is at-least-once, so
    // fold LAST-WRITE-WINS PER BATCH_ID (a replayed batch overwrites
    // itself instead of double-counting)
    val folded = deltas.filter(_.nonEmpty)
      .map(s => s.head.batch_id -> s).toMap.values.flatten.toSeq
      .groupBy(f => (f.source, f.verdict)).view
      .mapValues(fs => (fs.map(_.n_docs).sum, fs.map(_.n_chars_total).sum))
      .toMap
    val batch = SparkEntry.queries("j83_filter_funnel")(spark, d)
      .select("source", "verdict", "n_docs", "n_chars_total")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(folded == batch,
      s"folded stream deltas diverge from batch j83:\n$folded\nvs\n$batch")
  }

  test("quality-gate deltas survive kill/restart without loss or double-count") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the delta contract's restart claim for the STATELESS twin: docs fed
    // before the kill were attributed in their own batches; after restart
    // from the checkpoint only the unseen docs arrive, so the fold across
    // both runs still equals the batch funnel exactly
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-funnel-ck").toString
    val docs = Tables.documents(spark, d)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
    val in = MemoryStream[(Long, String, String, String, Long)]
    val deltas = scala.collection.mutable.Buffer.empty[Seq[FunnelDelta]]
    def start() = StreamOps.qualityGateStream(
      in.toDS().toDF("doc_id", "text", "lang", "source", "n_chars"),
      deltas += _, Some(ckpt))
    val (pre, post) = docs.splitAt(docs.size / 2)
    val q1 = start()
    in.addData(pre); q1.processAllAvailable(); q1.stop()
    val preBatches = deltas.size
    val q2 = start()
    in.addData(post); q2.processAllAvailable(); q2.stop()
    assert(preBatches > 0 && deltas.size > preBatches,
      "both runs must contribute deltas for the restart claim to bite")
    // the at-least-once consumer contract (last-write-wins per batch_id):
    // the restarted query resumes at the next batch id, so nothing
    // collides here — but a crash-replay WOULD, and this fold absorbs it
    val folded = deltas.filter(_.nonEmpty)
      .map(s => s.head.batch_id -> s).toMap.values.flatten.toSeq
      .groupBy(f => (f.source, f.verdict)).view
      .mapValues(fs => (fs.map(_.n_docs).sum, fs.map(_.n_chars_total).sum))
      .toMap
    val batch = SparkEntry.queries("j83_filter_funnel")(spark, d)
      .select("source", "verdict", "n_docs", "n_chars_total")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(folded == batch,
      s"cross-restart fold diverges from batch j83:\n$folded\nvs\n$batch")
  }

  test("k-anonymity monitor deltas fold to batch j86; statestore holds min_k") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // band-transition deltas over QI-keyed count state, through the same
    // qiTuples seam batch j86 aggregates; folding all batches' deltas must
    // land on exactly the batch audit's band counts per source
    val qi = graft.queries.LlmOps.qiTuples(Tables.documents(spark, d))
      .as[(String, String, Long)].collect()
      .map(t => QiIn(t._1, t._2, t._3)).toSeq
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-anon-ck").toString
    val in = MemoryStream[QiIn]
    val deltas = scala.collection.mutable.Buffer.empty[Seq[AnonDelta]]
    val q = StreamOps.kAnonymityStream(in.toDS(), deltas += _, Some(ckpt))
    qi.grouped((qi.size + 2) / 3).foreach { b =>
      in.addData(b); q.processAllAvailable()
    }
    q.stop()
    assert(deltas.size == 3 && deltas.forall(_.nonEmpty))
    val folded = deltas.filter(_.nonEmpty)
      .map(s => s.head.batch_id -> s).toMap.values.flatten.toSeq
      .groupBy(_.source).view.mapValues { ds =>
        (ds.map(_.groups_k1).sum, ds.map(_.groups_k2_4).sum,
          ds.map(_.groups_k5).sum, ds.map(_.docs_at_risk).sum)
      }.toMap
    val batch = SparkEntry.queries("j86_k_anonymity")(spark, d)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(folded == batch,
      s"folded monitor deltas diverge from batch j86:\n$folded\nvs\n$batch")
    // a band TRANSITION actually happened (a group left the unique band) —
    // otherwise the delta algebra was never exercised beyond inserts
    assert(deltas.flatten.exists(_.groups_k1 < 0),
      "no group ever left the k=1 band — transitions untested")
    // min_k is not delta-composable; the statestore READ answers it: the
    // live per-group counts' min per source must equal batch j86's min_k
    val live = StreamOps.readKeyedState(spark, ckpt)
      .selectExpr("key._2 AS source", "value.groupState.value AS k")
      .as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val minK = SparkEntry.queries("j86_k_anonymity")(spark, d)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._6).toMap
    assert(live == minK,
      s"statestore min-k diverges from the batch audit:\n$live\nvs\n$minK")
  }

  test("k-anonymity monitor TWS port folds to batch j86 identically") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      // the dual-API differential: the transformWithState port (RocksDB
      // provider, ValueState[Long] per QI group) must fold to the same
      // batch j86 band counts the MGWS form does
      val qi = graft.queries.LlmOps.qiTuples(Tables.documents(spark, d))
        .as[(String, String, Long)].collect()
        .map(t => QiIn(t._1, t._2, t._3)).toSeq
      val in = MemoryStream[QiIn]
      val deltas = scala.collection.mutable.Buffer.empty[Seq[AnonDelta]]
      val q = StreamOps.kAnonymityStreamTws(in.toDS(), deltas += _)
      qi.grouped((qi.size + 1) / 2).foreach { b =>
        in.addData(b); q.processAllAvailable()
      }
      q.stop()
      val folded = deltas.filter(_.nonEmpty)
        .map(s => s.head.batch_id -> s).toMap.values.flatten.toSeq
        .groupBy(_.source).view.mapValues { ds =>
          (ds.map(_.groups_k1).sum, ds.map(_.groups_k2_4).sum,
            ds.map(_.groups_k5).sum, ds.map(_.docs_at_risk).sum)
        }.toMap
      val batch = SparkEntry.queries("j86_k_anonymity")(spark, d)
        .as[(String, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
      assert(folded == batch,
        s"TWS monitor deltas diverge from batch j86:\n$folded\nvs\n$batch")
    }
  }

  test("DSv2 streaming read delivers the batch table exactly, in batchRows chunks") {
    import spark.implicits._
    // one TableProvider, two execution modes: the micro-batch stream over
    // row-index offsets must deliver exactly the rows the batch scan
    // produces — same generator, same pruning — split into admission-
    // controlled chunks
    val q = spark.readStream.format("graft-docgen")
      .option("rows", "1000").option("partitions", "4")
      .option("batchRows", "300").load()
      .select("doc_id", "lang", "n_chars")
      .writeStream.format("memory").queryName("docgen_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("docgen_stream")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val batch = spark.read.format("graft-docgen")
      .option("rows", "1000").option("partitions", "4").load()
      .select("doc_id", "lang", "n_chars")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == batch,
      "streamed rows diverge from the batch scan of the same table")
    assert(streamed.map(_._1).distinct.size == 1000,
      "offset ranges overlapped or dropped rows")
  }

  test("DSv2 streaming source resumes from the checkpointed offset, no dups") {
    import spark.implicits._
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-docgen-ck").toString
    // the memory sink refuses checkpoint recovery — collect through
    // foreachBatch (the recoverable sink), one buffer across incarnations
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    var dupDelivered = false
    def start(rows: String,
        trigger: org.apache.spark.sql.streaming.Trigger) =
      spark.readStream.format("graft-docgen")
        .option("rows", rows).option("partitions", "4")
        .option("batchRows", "300").load()
        .select("doc_id")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          b.collect().map(_.getLong(0)).foreach { id =>
            if (!got.add(id)) dupDelivered = true
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(trigger).start()
    // first incarnation is capped at rows=300 and runs Trigger.Once —
    // which passes ReadAllAvailable, so the run must DRAIN its table in
    // one batch and terminate cleanly (answering all-available with one
    // batchRows chunk would strand rows — the review finding)
    val q1 = start("300", org.apache.spark.sql.streaming.Trigger.Once())
    q1.awaitTermination()
    assert(got.size == 300,
      s"Trigger.Once must drain the 300-row table, got ${got.size}")
    // second incarnation widens the table to 1000 rows on the SAME
    // checkpoint: it must resume AFTER the committed offset — the
    // row-index offset fully determines the continuation, so the union
    // is the complete table with zero duplicates
    val q2 = start("1000", org.apache.spark.sql.streaming.Trigger
      .ProcessingTime(0L))
    q2.processAllAvailable(); q2.stop()
    assert(!dupDelivered, "a row index was delivered twice across restart")
    import scala.jdk.CollectionConverters._
    val ids = got.iterator().asScala.toSeq
    assert(ids.size == 1000 && ids.distinct.size == 1000,
      s"resume lost or re-admitted rows: ${ids.size} total, " +
        s"${ids.distinct.size} distinct")
    assert(ids.sorted == (0L until 1000L).toSeq,
      "resumed stream did not reconstruct the exact row range")
  }

  test("streaming SCD2 closed rows + live state reproduce batch j78 exactly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    // CDC-shaped in-order feed: all orders chronologically (dt, ok), three
    // micro-batches — per customer the arrival order equals batch j78's
    // (ts, ok) window order, so islands cannot fork
    val dims = Tables.orders(spark, d)
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus")
      .collect()
      .map(r => DimIn(r.getLong(0),
        r.getAs[java.time.LocalDateTime](1).format(fmt),
        r.getLong(2), r.getString(3)))
      .sortBy(x => (x.dt, x.ok)).toSeq
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-scd2-ck").toString
    val in = MemoryStream[DimIn]
    val q = StreamOps.scd2Stream(in.toDS()).writeStream
      .format("memory").queryName("scd2_closed")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    dims.grouped((dims.size + 2) / 3).foreach { b =>
      in.addData(b); q.processAllAvailable()
    }
    q.stop()
    val closed = spark.table("scd2_closed").as[Scd2Closed].collect()
      .map(c => (c.custkey, c.status, c.valid_from, c.valid_to, c.version))
    // the OPEN versions are the keyed state itself — read through the
    // offline statestore reader, closing the loop between the emitted
    // history and the live store
    val open = StreamOps.readKeyedState(spark, ckpt)
      .selectExpr("key.value AS custkey",
        "value.groupState.status AS status",
        "value.groupState.valid_from AS valid_from",
        "CAST(NULL AS STRING) AS valid_to",
        "value.groupState.version AS version")
      .as[(Long, String, String, String, Long)].collect()
    val got = (closed ++ open).sortBy(t => (t._1, t._5)).toSeq
    val batch = SparkEntry.queries("j78_scd2_history")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got.size == batch.size,
      s"row count ${got.size} != batch ${batch.size} " +
        s"(${closed.length} closed + ${open.length} open)")
    got.zip(batch).foreach { case (g, b) =>
      assert(g == b, s"SCD2 stream row $g != batch $b") }
    assert(closed.nonEmpty, "no version ever closed — islands untested")
  }

  test("SCD2 stream recovers open versions across kill/restart (RocksDB+changelog)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    val dims = Tables.orders(spark, d)
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus")
      .collect()
      .map(r => DimIn(r.getLong(0),
        r.getAs[java.time.LocalDateTime](1).format(fmt),
        r.getLong(2), r.getString(3)))
      .sortBy(x => (x.dt, x.ok)).toSeq
    withRocksDB { withChangelog {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-scd2-rck").toString
      val out = java.nio.file.Files
        .createTempDirectory("graft-scd2-rout").toString
      val in = MemoryStream[DimIn]
      def start() = StreamOps.scd2Stream(in.toDS()).writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Scd2Closed],
            _: Long) => df.write.mode("append").parquet(out) }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      // kill after 2/3 of the history: versions OPEN at the kill live only
      // in checkpointed state; a version opened before the restart and
      // closed after it must emit exactly once, with the PRE-restart
      // valid_from — zero = state lost, wrong date = state corrupted,
      // two = replay double-emission
      val q1 = start()
      val (pre, post) = dims.splitAt(dims.size * 2 / 3)
      in.addData(pre); q1.processAllAvailable()
      assertRocksDbServed(q1)
      q1.stop()
      val q2 = start()
      in.addData(post); q2.processAllAvailable()
      q2.stop()
      val closed = spark.read.parquet(out).as[Scd2Closed].collect()
        .map(c => (c.custkey, c.status, c.valid_from, c.valid_to,
          c.version))
      val open = StreamOps.readKeyedState(spark, ckpt)
        .selectExpr("key.value AS custkey",
          "value.groupState.status AS status",
          "value.groupState.valid_from AS valid_from",
          "CAST(NULL AS STRING) AS valid_to",
          "value.groupState.version AS version")
        .as[(Long, String, String, String, Long)].collect()
      val got = (closed ++ open).sortBy(t => (t._1, t._5)).toSeq
      val batch = SparkEntry.queries("j78_scd2_history")(spark, d)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      assert(got.size == batch.size,
        s"row count ${got.size} != batch ${batch.size} after restart")
      got.zip(batch).foreach { case (g, b) =>
        assert(g == b, s"post-restart SCD2 row $g != batch $b") }
      // the cross-restart close path must be genuinely exercised: at
      // least one emitted close has valid_from before the kill point and
      // valid_to after it
      val cut = post.head.dt
      assert(closed.exists(c => c._3 < cut && c._4 >= cut),
        "no version spanned the restart — the recovery path is untested")
    } }
  }

  test("streaming PIT enrichment aggregates to the batch j79 attribution") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    // the union feed: dimension changes (orders) + facts (lineitems with
    // their order's custkey), merged in event order with dims first at
    // equal dates — the batch valid_from <= sd boundary convention
    val dims = Tables.orders(spark, d)
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus")
      .collect()
      .map(r => PitIn(r.getLong(0), 0,
        r.getAs[java.time.LocalDateTime](1).format(fmt),
        r.getLong(2), r.getString(3), 0L))
    val facts = Tables.lineitem(spark, d)
      .select("l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select("o_custkey", "l_shipdate", "l_orderkey", "l_extendedprice",
        "l_discount")
      .collect()
      .map(r => PitIn(r.getLong(0), 1,
        r.getAs[java.time.LocalDateTime](1).format(fmt),
        r.getLong(2), "",
        math.round(r.getDouble(3) * (1.0 - r.getDouble(4)) * 100)))
    val feed = (dims ++ facts).sortBy(r => (r.dt, r.kind, r.ok)).toSeq
    val in = MemoryStream[PitIn]
    val q = StreamOps.pitEnrichStream(in.toDS()).writeStream
      .format("memory").queryName("pit_enriched")
      .outputMode("append").start()
    feed.grouped((feed.size + 2) / 3).foreach { b =>
      in.addData(b); q.processAllAvailable()
    }
    q.stop()
    // the streamed enrichment, re-aggregated, must equal the registered
    // batch PIT attribution row for row — the stream-table-join law
    val got = spark.table("pit_enriched").as[PitFact]
      .groupBy("custkey", "version", "status")
      .agg(count(lit(1)).as("n_ship"), sum("rev_c").as("rev_cents"))
      .orderBy("custkey", "version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    val batch = SparkEntry.queries("j79_pit_dimension_join")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got.size == batch.size,
      s"attribution rows ${got.size} != batch ${batch.size}")
    got.zip(batch).foreach { case (g, b) =>
      assert(g == b, s"streamed PIT row $g != batch $b") }
    // the pre-history bucket must flow through the stream too
    assert(got.exists(_._2 == 0L),
      "no version-0 facts streamed — the unversioned path is untested")
  }

  test("PIT enrichment recovers as-of state across kill/restart (RocksDB+changelog)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // r16 chaos slice: the open dimension version per key lives ONLY in
    // checkpointed state — a post-restart fact must be attributed to a
    // version OPENED BEFORE the kill, or the PIT server silently serves
    // "(none)" / a reset version chain after every failover
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    val dims = Tables.orders(spark, d)
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus")
      .collect()
      .map(r => PitIn(r.getLong(0), 0,
        r.getAs[java.time.LocalDateTime](1).format(fmt),
        r.getLong(2), r.getString(3), 0L))
    val facts = Tables.lineitem(spark, d)
      .select("l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(Tables.orders(spark, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select("o_custkey", "l_shipdate", "l_orderkey", "l_extendedprice",
        "l_discount")
      .collect()
      .map(r => PitIn(r.getLong(0), 1,
        r.getAs[java.time.LocalDateTime](1).format(fmt),
        r.getLong(2), "",
        math.round(r.getDouble(3) * (1.0 - r.getDouble(4)) * 100)))
    val feed = (dims ++ facts).sortBy(r => (r.dt, r.kind, r.ok)).toSeq
    withRocksDB { withChangelog {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-pit-rck").toString
      val out = java.nio.file.Files
        .createTempDirectory("graft-pit-rout").toString
      val in = MemoryStream[PitIn]
      def start() = StreamOps.pitEnrichStream(in.toDS()).writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[PitFact],
            _: Long) => df.write.mode("append").parquet(out) }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      val (pre, post) = feed.splitAt(feed.size * 2 / 3)
      in.addData(pre); q1.processAllAvailable()
      assertRocksDbServed(q1)
      q1.stop() // kill: every key's open version lives only in state
      val q2 = start()
      in.addData(post); q2.processAllAvailable()
      q2.stop()
      // full recovered run ≡ the registered batch attribution, row for row
      val got = spark.read.parquet(out).as[PitFact]
        .groupBy("custkey", "version", "status")
        .agg(count(lit(1)).as("n_ship"), sum("rev_c").as("rev_cents"))
        .orderBy("custkey", "version")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSeq
      val batch = SparkEntry.queries("j79_pit_dimension_join")(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSeq
      assert(got.size == batch.size,
        s"attribution rows ${got.size} != batch ${batch.size} after restart")
      got.zip(batch).foreach { case (g, b) =>
        assert(g == b, s"post-restart PIT row $g != batch $b") }
      // the cross-restart path must be genuinely exercised: a POST-kill
      // fact attributed to a real version whose key saw NO dim change
      // after the kill — that version number can only come from state
      val cut = post.head.dt
      val dimsAfter = post.filter(_.kind == 0).map(_.custkey).toSet
      val evidence = spark.read.parquet(out).as[PitFact].collect()
        .exists(f => f.version >= 1L && f.sd >= cut &&
          !dimsAfter.contains(f.custkey))
      assert(evidence,
        "no post-restart fact was served from recovered state — vacuous")
    } }
  }

  test("transformWithState SCD2 emits the same closed versions as batch j78") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    val dims = Tables.orders(spark, d)
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus")
      .collect()
      .map(r => DimIn(r.getLong(0),
        r.getAs[java.time.LocalDateTime](1).format(fmt),
        r.getLong(2), r.getString(3)))
      .sortBy(x => (x.dt, x.ok)).toSeq
    withRocksDB {
      val in = MemoryStream[DimIn]
      val q = StreamOps.scd2StreamTws(in.toDS()).writeStream
        .format("memory").queryName("scd2_tws")
        .outputMode("append").start()
      dims.grouped((dims.size + 2) / 3).foreach { b =>
        in.addData(b); q.processAllAvailable()
      }
      assertRocksDbServed(q)
      q.stop()
      val closed = spark.table("scd2_tws").as[Scd2Closed].collect()
        .map(c => (c.custkey, c.status, c.valid_from, c.valid_to,
          c.version)).sortBy(t => (t._1, t._5)).toSeq
      // in-order full feed ⇒ the TWS emissions are exactly the batch
      // history's CLOSED rows (the open tails live in state)
      val batchClosed = SparkEntry.queries("j78_scd2_history")(spark, d)
        .filter(col("valid_to").isNotNull)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      assert(closed.size == batchClosed.size,
        s"closed count ${closed.size} != batch ${batchClosed.size}")
      closed.zip(batchClosed).foreach { case (g, b) =>
        assert(g == b, s"TWS SCD2 row $g != batch $b") }
    }
  }

  test("streaming EWMA converges bit-identically to the registered n6 batch fold") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = ewmaStream(in.toDS()).writeStream
      .format("memory").queryName("ewma").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    assert(spark.table("ewma").agg(max("n_ooo")).head().getLong(0) == 0L)
    // n_events is monotone → the final state per user is the max-n row;
    // the O(1) recurrence must land on the SAME double as the batch
    // order-pinned fold, so equality holds after n6's own 6-dp round
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val streamed = spark.table("ewma")
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("user_id"), col("n_events"),
        round(col("ewma"), 6).as("ewma"))
    val batch = SparkEntry.queries("n6_ewma")(spark, d)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("EWMA transformWithState port matches the MGWS implementation (dual API)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val in = MemoryStream[Event]
      val q = ewmaStreamTws(in.toDS()).writeStream
        .format("memory").queryName("ewma_tws").outputMode("update").start()
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      assertRocksDbServed(q)
      q.stop()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_events").desc)
      val tws = spark.table("ewma_tws")
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("user_id"), col("n_events"),
          round(col("ewma"), 6).as("ewma"))
      // same algebra on both APIs ⇒ same final rows ⇒ same batch twin
      val batch = SparkEntry.queries("n6_ewma")(spark, d)
      assert(tws.except(batch).isEmpty && batch.except(tws).isEmpty)
    }
  }

  test("EWMA stream flags cross-batch out-of-order arrivals via n_ooo") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = ewmaStream(in.toDS()).writeStream
      .format("memory").queryName("ewma_ooo").outputMode("update").start()
    // EWMA is order-sensitive: a late x folded last weights it 0.25 where
    // the batch fold weights it by its true position — the guard must make
    // the divergence observable instead of silent
    in.addData(ev(1, "2024-01-01 00:10:00", 9002, v = 10.0))
    q.processAllAvailable()
    in.addData(ev(2, "2024-01-01 00:05:00", 9002, v = 20.0))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("ewma_ooo").filter(col("user_id") === 9002)
      .agg(max("n_ooo")).head()
    assert(last.getLong(0) == 1L, "the out-of-order arrival must be counted")
  }

  test("streaming CUSUM converges bit-identically to the registered n10 batch fold") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = cusumStream(in.toDS()).writeStream
      .format("memory").queryName("cusum").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    assert(spark.table("cusum").agg(max("n_ooo")).head().getLong(0) == 0L)
    // n_events is monotone → the final state per user is the max-n row;
    // alarms are exact integers and the O(1) recurrence must land on the
    // SAME double as the batch order-pinned fold, so equality holds after
    // n10's own 6-dp round
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val streamed = spark.table("cusum")
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("user_id"), col("n_events"), col("alarms"),
        round(col("cusum"), 6).as("cusum_final"))
    val batch = SparkEntry.queries("n10_cusum_alarm")(spark, d)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    // non-vacuous on this corpus: the alarm path must actually fire
    assert(spark.table("cusum").agg(sum("alarms")).head().getLong(0) > 0L)
  }

  test("streaming Holt-Winters converges bit-identically to the registered n12 fold") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the twin consumes the DENSE hourly series; derive it exactly as the
    // batch query does (calendar from first to last hour, gaps = 0)
    val raw = Tables.events(spark, d)
      .select(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
          .as("hr"))
      .as[(String, Long)].collect()
    val series = raw.groupBy(_._1).toSeq.flatMap { case (typ, rows) =>
      val byH = rows.groupBy(_._2).map { case (h, v) => h -> v.size }
      val (lo, hi) = (byH.keys.min, byH.keys.max)
      (lo to hi).map(h => HourCount(typ, h, byH.getOrElse(h, 0).toDouble))
    }.sortBy(r => (r.epoch_hour, r.event_type))
    val in = MemoryStream[HourCount]
    val q = holtWintersStream(in.toDS()).writeStream
      .format("memory").queryName("hw").outputMode("update").start()
    series.grouped((series.size + 2) / 3).foreach { c =>
      in.addData(c); q.processAllAvailable() }
    q.stop()
    assert(spark.table("hw").agg(max("n_ooo")).head().getLong(0) == 0L)
    // n_hours is monotone → final state per type = max-t row; the O(m)
    // recurrence must land on the same doubles as the batch fold
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("n_hours").desc)
    val streamed = spark.table("hw")
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      // the batch twin's domain is >= 25 dense hours (one season + one
      // step); the online operator still tracks shorter keys in state,
      // so the differential compares only the registered domain
      .filter(col("n_hours") >= 25)
      .select(col("event_type"), col("n_hours"),
        round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("forecast"), 6).as("forecast"))
    val batch = SparkEntry.queries("n12_holt_winters")(spark, d)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming Holt-Winters diverges from the batch fold")
  }

  test("Holt-Winters 24-slot profile survives kill/restart under RocksDB + changelog") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // r16 chaos slice: the HIGHEST-state-value forecasting twin joins the
    // changelog restart matrix — recovery must rebuild level/trend AND
    // the 24-slot seasonal array from snapshot + changelog replay
    withRocksDB { withChangelog {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-hw-ck").toString
      val out = java.nio.file.Files
        .createTempDirectory("graft-hw-out").toString
      val in = MemoryStream[HourCount]
      // memory sinks cannot recover from a checkpoint — emit through
      // foreachBatch to parquet (the Markov restart test's pattern)
      def start() = holtWintersStream(in.toDS()).writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[TypeHw],
            _: Long) => df.write.mode("append").parquet(out) }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()
      // deterministic 60-hour series with real seasonal structure
      val xs = (0 until 60).map(i => ((i * 37) % 11).toDouble)
      val q1 = start()
      in.addData((0 until 30).map(i => HourCount("t", 1000L + i, xs(i))))
      q1.processAllAvailable()
      q1.stop() // kill: level/trend AND the seasonal array live only in state
      val q2 = start()
      in.addData((30 until 60).map(i => HourCount("t", 1000L + i, xs(i))))
      q2.processAllAvailable()
      assertRocksDbServed(q2)
      q2.stop()
      // full-precision Scala replay of the SAME fold over the whole series
      val ini = xs.take(24)
      val l0 = ini.tail.foldLeft(ini.head)(_ + _) / 24.0
      var (l, b, t) = (l0, (ini(23) - ini(0)) / 23.0, 24L)
      val s = ini.map(_ - l0).toArray
      xs.drop(24).foreach { x =>
        val pos = (t % 24L).toInt
        val sOld = s(pos)
        val nl = 0.25 * (x - sOld) + 0.75 * (l + b)
        val nb = 0.25 * (0.25 * (x - sOld) + 0.75 * (l + b) - l) +
          0.75 * b
        s(pos) = 0.25 * (x - (0.25 * (x - sOld) + 0.75 * (l + b))) +
          0.75 * sOld
        l = nl; b = nb; t += 1
      }
      val last = spark.read.parquet(out).orderBy(col("n_hours").desc)
        .select("n_hours", "level", "trend", "forecast").head()
      // a lost seasonal array cannot reproduce these doubles: the
      // recovered fold must land bit-identically on the replay
      assert(last.getLong(0) == 60L)
      assert(last.getDouble(1) == l && last.getDouble(2) == b &&
        last.getDouble(3) == l + b + s((t % 24L).toInt),
        s"recovered state diverged: $last vs ($l, $b)")
      // the recovery above must actually have gone THROUGH changelogs
      val stream = java.nio.file.Files.walk(
        java.nio.file.Paths.get(ckpt, "state"))
      val names = try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.map(_.getFileName.toString).toVector
      } finally stream.close()
      assert(names.count(_.endsWith(".changelog")) >= 2,
        "changelog checkpointing did not take for the HW restart")
    } }
  }

  test("Holt-Winters counts AND rejects a redelivered EQUAL hour bucket") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // at-least-once upstreams redeliver the LAST bucket with an equal
    // hour index — for the hour-indexed recurrence that is just as
    // corrupting as a stale one (it advances t and rotates the seasonal
    // slot), so the strict guard must REJECT the bucket, not merely
    // count it: counting alone still folded the duplicate and corrupted
    // the profile (r15 advice). The pin is on BOTH halves: n_ooo
    // increments and n_hours does NOT advance.
    val in = MemoryStream[HourCount]
    val q = holtWintersStream(in.toDS()).writeStream
      .format("memory").queryName("hw_dup").outputMode("update").start()
    in.addData((0 until 26).map(i => HourCount("t", 2000L + i, i.toDouble)))
    q.processAllAvailable()
    val clean = spark.table("hw_dup").agg(max("n_ooo")).head().getLong(0)
    val tClean = spark.table("hw_dup").agg(max("n_hours")).head().getLong(0)
    in.addData(Seq(HourCount("t", 2025L, 999.0))) // redelivery, equal hour
    q.processAllAvailable()
    val dup = spark.table("hw_dup")
      .agg(max("n_ooo"), max("n_hours"), max("level")).head()
    // intra-batch duplicates must count too (running-max guard); the
    // FIRST hour-2026 row is new and folds, the second is rejected
    in.addData(Seq(HourCount("t", 2026L, 1.0), HourCount("t", 2026L, 1.0)))
    q.processAllAvailable()
    val intra = spark.table("hw_dup")
      .agg(max("n_ooo"), max("n_hours")).head()
    q.stop()
    assert(clean == 0L, s"in-order feed flagged: $clean")
    assert(tClean == 26L)
    assert(dup.getLong(0) == 1L, s"equal-hour redelivery not counted: $dup")
    assert(dup.getLong(1) == 26L,
      s"rejected redelivery still advanced the hour counter: $dup")
    assert(intra.getLong(0) == 2L,
      s"intra-batch duplicate not counted: $intra")
    assert(intra.getLong(1) == 27L,
      s"the one genuine hour-2026 bucket must fold exactly once: $intra")
  }

  test("CUSUM transformWithState port matches the MGWS implementation (dual API)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val in = MemoryStream[Event]
      val q = cusumStreamTws(in.toDS()).writeStream
        .format("memory").queryName("cusum_tws").outputMode("update")
        .start()
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      assertRocksDbServed(q)
      q.stop()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_events").desc)
      val tws = spark.table("cusum_tws")
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("user_id"), col("n_events"), col("alarms"),
          round(col("cusum"), 6).as("cusum_final"))
      // same algebra on both APIs ⇒ same final rows ⇒ same batch twin
      val batch = SparkEntry.queries("n10_cusum_alarm")(spark, d)
      assert(tws.except(batch).isEmpty && batch.except(tws).isEmpty)
    }
  }

  test("CUSUM TWS state survives kill/restart under RocksDB + changelog") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the chaos pass extended to the monitoring family: the cumulative
    // sum + alarm counters live ONLY in checkpointed state; recovery must
    // resume the recurrence mid-series through changelog replay and land
    // on exactly the batch twin's final rows
    withRocksDB { withChangelog {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-cusum-ck").toString
      val seen = new java.util.concurrent.ConcurrentHashMap[
        Long, (Long, Long, Double)]()
      val in = MemoryStream[Event]
      def start() = cusumStreamTws(in.toDS()).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[UserCusum],
            _: Long) =>
          df.collect().foreach { u =>
            seen.merge(u.user_id, (u.n_events, u.alarms, u.cusum),
              (a, b) => if (a._1 >= b._1) a else b)
          }
        }.start()
      val q1 = start()
      chunks.take(2).foreach { c => in.addData(c); q1.processAllAvailable() }
      q1.stop() // kill mid-series
      val q2 = start()
      chunks.drop(2).foreach { c => in.addData(c); q2.processAllAvailable() }
      assertRocksDbServed(q2)
      q2.stop()
      import scala.jdk.CollectionConverters._
      val streamed = seen.asScala.toSeq
        .map { case (uid, (n, a, s)) => (uid, n, a, s) }
        .toDF("user_id", "n_events", "alarms", "cusum")
        .select(col("user_id"), col("n_events"), col("alarms"),
          round(col("cusum"), 6).as("cusum_final"))
      val batch = SparkEntry.queries("n10_cusum_alarm")(spark, d)
      assert(streamed.except(batch).isEmpty &&
        batch.except(streamed).isEmpty,
        "recovered CUSUM state diverges from the batch fold")
    } }
  }

  test("k-anonymity monitor state survives kill/restart under RocksDB + changelog") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // every QI group's population count lives only in checkpointed state;
    // a lost count would re-emit the k=1 entry transition after restart
    // and the folded deltas would inflate past batch j86 — fold equality
    // IS the recovery proof
    withRocksDB { withChangelog {
      val qi = graft.queries.LlmOps.qiTuples(Tables.documents(spark, d))
        .as[(String, String, Long)].collect()
        .map(t => QiIn(t._1, t._2, t._3)).toSeq
      val parts = qi.grouped((qi.size + 2) / 3).toSeq
      // recovery is only evidenced if QI groups STRADDLE the kill
      val straddle = parts.take(2).flatten
        .map(r => (r.lang, r.source, r.len_bucket)).toSet intersect
        parts.last.map(r => (r.lang, r.source, r.len_bucket)).toSet
      assert(straddle.nonEmpty, "no QI group straddles the restart — vacuous")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-anon-rck").toString
      val in = MemoryStream[QiIn]
      val deltas = scala.collection.mutable.Buffer.empty[Seq[AnonDelta]]
      val q1 = StreamOps.kAnonymityStream(in.toDS(), deltas += _, Some(ckpt))
      parts.take(2).foreach { b => in.addData(b); q1.processAllAvailable() }
      q1.stop() // kill with every group count mid-accumulation
      val q2 = StreamOps.kAnonymityStream(in.toDS(), deltas += _, Some(ckpt))
      in.addData(parts.last); q2.processAllAvailable()
      q2.stop()
      val folded = deltas.filter(_.nonEmpty)
        .map(s => s.head.batch_id -> s).toMap.values.flatten.toSeq
        .groupBy(_.source).view.mapValues { ds =>
          (ds.map(_.groups_k1).sum, ds.map(_.groups_k2_4).sum,
            ds.map(_.groups_k5).sum, ds.map(_.docs_at_risk).sum)
        }.toMap
      val batch = SparkEntry.queries("j86_k_anonymity")(spark, d)
        .as[(String, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
      assert(folded == batch,
        s"cross-restart fold diverges from batch j86:\n$folded\nvs\n$batch")
    } }
  }

  test("CUSUM stream flags cross-batch out-of-order arrivals via n_ooo") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = cusumStream(in.toDS()).writeStream
      .format("memory").queryName("cusum_ooo").outputMode("update").start()
    // CUSUM is order-sensitive through the max(0, ·) clamp: a late spike
    // folded last can fire an alarm the true order drains away — the
    // guard must make the divergence observable instead of silent
    in.addData(ev(1, "2024-01-01 00:10:00", 9003, v = 10.0))
    q.processAllAvailable()
    in.addData(ev(2, "2024-01-01 00:05:00", 9003, v = 20.0))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("cusum_ooo").filter(col("user_id") === 9003)
      .agg(max("n_ooo")).head()
    assert(last.getLong(0) == 1L, "the out-of-order arrival must be counted")
  }

  test("streaming gap-fill emits exactly the batch n5 series as the watermark passes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val in = MemoryStream[Event]
      val q = gapFillStream(in.toDS()).writeStream
        .format("memory").queryName("gapfill").outputMode("append").start()
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      // push the GLOBAL watermark past every real type's last minute with
      // sentinels on a throwaway type (their own buckets stay pending —
      // the watermark never reaches them). Two batches: the first carries
      // the max event time, the second runs WITH the advanced watermark so
      // the parked flush timers actually fire.
      val maxTs = chunks.flatten.map(_.ts.getTime).max
      in.addData(ev(999999L, "2024-01-01 00:00:00", 999999L, "wmflush")
        .copy(ts = new Timestamp(maxTs + 30 * 60000L)))
      q.processAllAvailable()
      in.addData(ev(999998L, "2024-01-01 00:00:00", 999999L, "wmflush")
        .copy(ts = new Timestamp(maxTs + 31 * 60000L)))
      q.processAllAvailable()
      assertRocksDbServed(q)
      q.stop()
      // append-mode = each bucket finalized exactly once
      assert(spark.table("gapfill").groupBy("event_type", "epoch_min")
        .count().filter(col("count") > 1).isEmpty,
        "a bucket emitted twice — finalization is not exactly-once")
      val streamed = spark.table("gapfill")
        .filter(col("event_type") =!= "wmflush")
        .select(col("event_type"),
          expr("timestamp_millis(epoch_min * 60000)").as("m"),
          col("n"), col("ff_cents"))
      val batch = SparkEntry.queries("n5_gapfill_ffill")(spark, d)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    }
  }

  test("streaming interpolation reconstructs gap runs and equals batch n8") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val in = MemoryStream[Event]
      val q = gapInterpStream(in.toDS()).writeStream
        .format("memory").queryName("gapinterp").outputMode("append").start()
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
      val maxTs = chunks.flatten.map(_.ts.getTime).max
      in.addData(ev(999999L, "2024-01-01 00:00:00", 999999L, "wmflush")
        .copy(ts = new Timestamp(maxTs + 30 * 60000L)))
      q.processAllAvailable()
      in.addData(ev(999998L, "2024-01-01 00:00:00", 999999L, "wmflush")
        .copy(ts = new Timestamp(maxTs + 31 * 60000L)))
      q.processAllAvailable()
      q.stop()
      assert(spark.table("gapinterp").groupBy("event_type", "epoch_min")
        .count().filter(col("count") > 1).isEmpty,
        "a bucket emitted twice — finalization is not exactly-once")
      val streamed = spark.table("gapinterp")
        .filter(col("event_type") =!= "wmflush")
        .select(col("event_type"),
          expr("timestamp_millis(epoch_min * 60000)").as("m"),
          col("n"), col("li_cents"))
      val batch = SparkEntry.queries("n8_gapfill_interp")(spark, d)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    }
  }

  test("gap-fill recovers pending minutes and timers across kill/restart") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    withRocksDB {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-gf-ck").toString
      val out = java.nio.file.Files
        .createTempDirectory("graft-gf-out").toString
      val in = MemoryStream[Event]
      def start() = gapFillStream(in.toDS()).writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[GapBucket],
            _: Long) => df.write.mode("append").parquet(out) }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      chunks.take(2).foreach { c => in.addData(c); q1.processAllAvailable() }
      q1.stop() // kill: pending minutes + parked timers live only in state
      val q2 = start()
      chunks.drop(2).foreach { c => in.addData(c); q2.processAllAvailable() }
      val maxTs = chunks.flatten.map(_.ts.getTime).max
      in.addData(ev(999999L, "2024-01-01 00:00:00", 999999L, "wmflush")
        .copy(ts = new Timestamp(maxTs + 30 * 60000L)))
      q2.processAllAvailable()
      in.addData(ev(999998L, "2024-01-01 00:00:00", 999999L, "wmflush")
        .copy(ts = new Timestamp(maxTs + 31 * 60000L)))
      q2.processAllAvailable()
      q2.stop()
      val got = spark.read.parquet(out)
      // exactly-once across the restart boundary: no bucket twice, and the
      // recovered run completes the identical batch series
      assert(got.groupBy("event_type", "epoch_min").count()
        .filter(col("count") > 1).isEmpty,
        "a bucket emitted twice across restart")
      val streamed = got.filter(col("event_type") =!= "wmflush")
        .select(col("event_type"),
          expr("timestamp_millis(epoch_min * 60000)").as("m"),
          col("n"), col("ff_cents"))
      val batch = SparkEntry.queries("n5_gapfill_ffill")(spark, d)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    }
  }

  /** Feeds one gap processor's query the batches `feed`, then the two
    * watermark sentinels that make every real minute final; returns the
    * query (stopped) for its progress. */
  private def runGapQuery(name: String,
      build: org.apache.spark.sql.Dataset[Event] =>
        org.apache.spark.sql.DataFrame,
      feed: Seq[Seq[Event]]): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = build(in.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    feed.foreach { b => in.addData(b); q.processAllAvailable() }
    val maxTs = feed.flatten.map(_.ts.getTime).max
    Seq(30, 31).foreach { lag =>
      in.addData(ev(999990L + lag, "2024-01-01 00:00:00", 999999L, "wmflush")
        .copy(ts = new Timestamp(maxTs + lag * 60000L)))
      q.processAllAvailable()
    }
    q.stop()
    q
  }

  private val gapQueries = Seq[(String, org.apache.spark.sql.Dataset[Event] =>
      org.apache.spark.sql.DataFrame)](
    "gapfill" -> (gapFillStream(_).toDF()),
    "gapinterp" -> (gapInterpStream(_).toDF()))

  test("gap-fill and interpolation write state per distinct minute, not per event or emitted minute") {
    // N = 450 events over M = 90 distinct (type, minute) pairs: 3 types,
    // 30 observed minutes each spread over an 88-minute span, 5 events per
    // minute, shuffled. The insert batch may write each pair once plus a
    // few values per key; the later batches, which only drain the real
    // keys (and take one sentinel row each), only the per-key values.
    val types = Seq("click", "view", "purchase")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val evs = new scala.util.Random(7).shuffle(for {
      t <- types; k <- 0 until 30; j <- 0 until 5
    } yield Event(0L, new Timestamp(t0 + k * 3 * 60000L + j * 7000L), 1L, t,
      1.0 + j, "{}")).zipWithIndex.map { case (e, i) => e.copy(event_id = i) }
    val m = types.size * 30
    val perKey = 4
    val keys = types.size + 1 // the sentinel type is a key too
    withRocksDB {
      gapQueries.foreach { case (name, build) =>
        val q = runGapQuery(s"${name}_budget", build, Seq(evs))
        // an idle progress event repeats its batch id with zero updates
        val updated = q.recentProgress.toSeq.groupMapReduce(_.batchId)(
          _.stateOperators.map(_.numRowsUpdated).sum)(math.max).toSeq.sorted
        val insert = updated.head._2
        val drains = updated.tail.map(_._2).sum
        assert(insert <= m + perKey * types.size,
          s"$name: insert batch updated $insert state rows for $m minutes")
        assert(drains <= perKey * keys,
          s"$name: drain batches updated $drains state rows " +
            s"(${updated.mkString(", ")})")
        // and the drain did happen: every minute of each type's span
        assert(spark.table(s"${name}_budget")
          .filter(col("event_type") =!= "wmflush").count() == 3 * 88)
      }
    }
  }

  test("a minute split across batches and rows emits the summed n and cents") {
    import spark.implicits._
    // minute 1 gets one event in batch 1 and two in batch 2; minute 0 two
    // in batch 1; minute 2 is a gap; rows are not in time order
    val b1 = Seq(ev(1, "2024-01-01 00:01:30", 1, v = 0.5),
      ev(2, "2024-01-01 00:00:10", 1, v = 1.0),
      ev(3, "2024-01-01 00:00:50", 1, v = 2.0))
    val b2 = Seq(ev(4, "2024-01-01 00:03:05", 1, v = 4.0),
      ev(5, "2024-01-01 00:01:59", 1, v = 0.25),
      ev(6, "2024-01-01 00:01:00", 1, v = 0.1))
    val m0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 60000L
    // gap-fill carries minute 1's cents into minute 2; interpolation puts
    // 85 + (400 - 85) * 1 DIV 2 = 242 there
    val expected = Map(
      "gapfill" -> Seq((0L, 2L, 300L), (1L, 3L, 85L), (2L, 0L, 85L),
        (3L, 1L, 400L)),
      "gapinterp" -> Seq((0L, 2L, 300L), (1L, 3L, 85L), (2L, 0L, 242L),
        (3L, 1L, 400L)))
    withRocksDB {
      gapQueries.foreach { case (name, build) =>
        runGapQuery(s"${name}_split", build, Seq(b1, b2))
        val got = spark.table(s"${name}_split")
          .filter(col("event_type") === "click")
          .select(col("epoch_min") - m0, col("n"), col(
            if (name == "gapfill") "ff_cents" else "li_cents"))
          .as[(Long, Long, Long)].collect().sorted.toSeq
        assert(got == expected(name), s"$name: $got")
      }
    }
  }

  test("streaming Holt trend converges bit-identically to the registered n9 fold") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = holtStream(in.toDS()).writeStream
      .format("memory").queryName("holt").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    assert(spark.table("holt").agg(max("n_ooo")).head().getLong(0) == 0L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val streamed = spark.table("holt")
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("user_id"), col("n_events"),
        round(col("level"), 6).as("level"), round(col("trend"), 6).as("trend"),
        round(col("level") + col("trend"), 6).as("forecast"))
    val batch = SparkEntry.queries("n9_holt_trend")(spark, d)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming CEP pattern counter converges to the registered n7 regex count") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = conversionPatternStream(in.toDS()).writeStream
      .format("memory").queryName("cep").outputMode("update").start()
    chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    q.stop()
    assert(spark.table("cep").agg(max("n_ooo")).head().getLong(0) == 0L)
    // conversions is monotone → reduce the update stream with max; the
    // one-boolean machine must equal the batch twin's LAZY regexp_count
    // (the equivalence n7 pins its quantifier for)
    val streamed = spark.table("cep").groupBy("user_id")
      .agg(max("conversions").as("conversions"))
    val batch = SparkEntry.queries("n7_seq_pattern")(spark, d)
      .select("user_id", "conversions")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }
}
