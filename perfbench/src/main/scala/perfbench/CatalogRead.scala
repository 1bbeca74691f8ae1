package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `catalog_read`: one catalog query per op, run to full
  * materialisation, over seeded tables. The warm-up runs every query
  * twice: once writing its result for the DuckDB oracle check `run.py`
  * makes after the run (each timed op's row count must equal it), once
  * as the timed op does. */
final class CatalogRead(spark: SparkSession, probe: Probe, gen: Gen,
    seed: Long, work: String) extends Workload {
  private var sf: String = _
  private val results = s"$work/oracle"
  private val counts = scala.collection.mutable.Map[String, Long]()
  private val warmSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
  import CatalogRead._
  private val names = Queries
  private val rng = new java.util.Random(seed)
  // the seed orders each pass over the queries
  private val order = scala.collection.mutable.ArrayBuffer[String]()

  def setup(dir: String): Unit = {
    gen.run("catalog", dir)
    sf = dir
    Tables.foreach(t =>
      spark.read.parquet(s"$sf/$t.parquet").queryExecution.toRdd.count())
  }

  def warmup(): Unit = {
    Disk.rmrf(results)
    names.foreach { q =>
      val (_, secs) = Clock.secs {
        SparkEntry.queries(q)(spark, sf).write.parquet(s"$results/$q")
        counts(q) = spark.read.parquet(s"$results/$q").count()
      }
      warmSecs(q) = secs
    }
    // a second, count-only pass: the first timed pass would otherwise
    // still share the cores with the JIT compiling the first pass's code
    names.foreach(q =>
      SparkEntry.queries(q)(spark, sf).queryExecution.toRdd.count(): Unit)
    val sql = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    val w = new java.io.PrintWriter(s"$results/oracle_sql.json", "UTF-8")
    try w.println(Json.obj(sql.map { case (k, v) => k -> Json.str(v) }))
    finally w.close()
  }

  private def query(i: Int): String = {
    while (order.size <= i)
      order ++= scala.util.Random.javaRandomToRandom(rng).shuffle(names)
    order(i)
  }

  /** A run times whole passes, so every query weighs the same in it. */
  override def finishCycle(i: Int): Boolean = i % names.size != 0

  def op(i: Int): Seq[Sample] = {
    val q = query(i)
    val ((rows, qe), secs) = Clock.secs(probe.span("queries.query", "queries") {
      val df = SparkEntry.queries(q)(spark, sf)
      (df.queryExecution.toRdd.count(), df.queryExecution)
    })
    probe.record(qe)
    val ok = counts.get(q).contains(rows)
    if (!ok) System.err.println(s"catalog_read op $i ($q): $rows rows, want ${counts.get(q)}")
    Seq(Sample("read", secs, ok))
  }

  override def notes: Map[String, String] = Map(
    "sf_dir" -> sf, "oracle_dir" -> results,
    "ops" -> order.mkString(","),
    "warmup_s" -> warmSecs.map { case (k, v) => f"$k=$v%.2f" }.mkString(","))
}

object CatalogRead {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** One or two queries of each read family (relational, analytics,
    * temporal and as-of, indicator, text, vector). perfbench/METRICS.md
    * lists every read-only catalog query and why the run takes this
    * subset. */
  val Queries: Seq[String] = Seq(
    "q6_multi_join", "q7_window_lag", "q21_range_join",
    "q26_median", "q30_resample_ohlc",
    "q20_asof_join", "q41_rolling_global",
    "qi1_indicator_frames", "qi2_rolling_trend",
    "qt5_minhash", "qt8_simhash",
    "qv1_knn", "qv7_knn_codegen")
}
