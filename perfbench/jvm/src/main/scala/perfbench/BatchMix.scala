package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, SparkEntry}
import graft.sources.VersionedTable

/** One query of the batch mix: a name, the tables it reads (their row
  * counts are its input rows) and the program's query function. `oracle`
  * names the registered query whose DuckDB SQL checks it, if any; the
  * others are checked with SQL kept beside this benchmark. */
final case class MixQuery(name: String, tables: Seq[String],
    fn: (SparkSession, String) => DataFrame, oracle: Option[String])

object BatchMix {
  private val headline = Bench.headline.toMap
  private def registered(name: String, tables: String*): MixQuery =
    MixQuery(name, tables, SparkEntry.queries(name), Some(name))

  val queries: Seq[MixQuery] = Seq(
    MixQuery("q1_pricing_summary", Seq("lineitem"),
      headline("q1_pricing_summary"), Some("d1_hash_agg")),
    MixQuery("q2_join_agg_nation",
      Seq("lineitem", "orders", "customer", "nation"),
      headline("q2_join_agg_nation"), None),
    MixQuery("q3_window_topk", Seq("orders"),
      headline("q3_window_topk"), Some("e1_rank_topk")),
    MixQuery("q4_sessionize", Seq("events"),
      headline("q4_sessionize"), Some("i3_session_window")),
    MixQuery("q5_running_count", Seq("events"),
      headline("q5_running_count"), Some("i4_running_count")),
    MixQuery("q6_cosine_topk", Seq("embeddings"),
      headline("q6_cosine_topk"), Some("j3_cosine_topk")),
    registered("j2_minhash_neardup", "documents"),
    registered("j13_dedup_clusters", "documents"),
    registered("j47_hll_registers", "documents"),
    registered("a9_sql_time_travel", "documents"))

  val tables: Seq[String] = queries.flatMap(_.tables).distinct

  /** One execution: through the noop sink, or written as parquet to
    * `out` (the timed passes keep their results for the checks). */
  def run(spark: SparkSession, q: MixQuery, dir: String,
      out: Option[String] = None): Unit = {
    val w = q.fn(spark, dir).write.mode("overwrite")
    out match {
      case Some(path) => w.parquet(path)
      case None => w.format("noop").save()
    }
  }

  private def exactAgg(df: DataFrame): Seq[Any] =
    df.agg(count(lit(1)),
      sum(round(col("l_quantity") * 100).cast("long")),
      sum(round(col("l_extendedprice") * 100).cast("long")),
      min("l_orderkey"), max("l_orderkey")).collect().head.toSeq

  /** Median scan times of the same live files of one versioned table read
    * through the `graft_vlog` SQL catalog (the DSv2 reader) and through
    * `VersionedTable.read` (Spark's parquet reader over the live-file
    * list), alternating, after one untimed read of each that also checks
    * that both return the same rows. */
  def vlogScans(spark: SparkSession, dataDir: String, tableDir: String,
      reps: Int): (Double, Double) = {
    VersionedTable.append(spark.read.parquet(s"$dataDir/lineitem.parquet"),
      tableDir)
    def dsv2 = spark.sql(s"SELECT * FROM graft_vlog.`$tableDir`")
    def library = VersionedTable.read(spark, tableDir)
    require(exactAgg(dsv2) == exactAgg(library),
      "vlog readers disagree on the same live files")
    def time(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      exactAgg(df)
      (System.nanoTime() - t0) / 1e6
    }
    val (a, b) = (1 to reps).map(_ => (time(dsv2), time(library))).unzip
    (Stats.median(a), Stats.median(b))
  }
}

object Stats {
  /** NaN (rendered as null) when there is no sample, which happens only
    * when every operation it would cover failed. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
