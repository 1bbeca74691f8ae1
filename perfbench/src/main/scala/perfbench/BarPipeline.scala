package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.MlPipelines
import graft.operators.{FeaturePipeline, GlobalWindow, Labeler}

/** `bar_pipeline`: the reference's RF-with-features cell per op — load
  * the bar table, engineer features (the global-window label and the
  * daily aggregates), fit the random forest, evaluate AUC. */
final class BarPipeline(spark: SparkSession, probe: Probe, gen: Gen)
    extends Workload {
  private var bars: String = _
  private var auc: Option[Double] = None

  def setup(dir: String): Unit = {
    gen.run("bars", dir)
    bars = s"$dir/bars"
    // page-cache pre-touch
    spark.read.parquet(bars).queryExecution.toRdd.count(): Unit
  }

  private def load(): DataFrame = spark.read.parquet(bars)

  /** One cell. Traced, each stage boundary is materialised so its
    * calls time on their own. */
  private def cell(): Double = {
    val loaded = load()
    if (probe.traced) {
      probe.span("operators.label", "operators")(
        GlobalWindow.lagLabelGlobal(loaded, Seq("date"),
          bucketKey = unix_micros(col("date"))).queryExecution.toRdd.count())
    }
    val features = probe.span("operators.features", "operators") {
      val f = FeaturePipeline.fast(loaded)
      if (probe.traced) { f.cache(); f.queryExecution.toRdd.count() }
      f
    }
    val (_, pred) = probe.span("ml.fit", "ml")(
      MlPipelines.fitPredict(features, FeaturePipeline.featureCols,
        MlPipelines.rfMllibParity(), seed = Some(42L)))
    val a = probe.span("ml.eval", "ml")(MlPipelines.evaluate(pred)("areaUnderROC"))
    spark.catalog.clearCache()
    a
  }

  /** One untimed cell; its AUC is the one every op must reproduce. */
  def warmup(): Unit = auc = Some(cell())

  /** An op takes seconds, so a run always times at least two. */
  override def finishCycle(i: Int): Boolean = i < 2

  def op(i: Int): Seq[Sample] = {
    val (a, secs) = Clock.secs(cell())
    val ok = auc.contains(a)
    if (!ok) System.err.println(s"bar_pipeline op $i: AUC $a != $auc")
    Seq(Sample("pipeline", secs, ok))
  }

  /** Once per run: the scalable label equals the reference-literal
    * `Labeler.label`, and the fast feature frame equals the faithful
    * thirteen-join one (to 9 decimals, as the plans sum in different
    * orders). */
  override def finalCheck(): Boolean = {
    val bars = load()
    val fast = GlobalWindow.lagLabelGlobal(bars, Seq("date"),
      bucketKey = unix_micros(col("date"))).select("date", "buy_or_sell")
    val literal = Labeler.label(bars).select("date", "buy_or_sell")
    val labelOk = fast.as("a").join(literal.as("b"), Seq("date"), "full_outer")
      .filter(not(col("a.buy_or_sell") <=> col("b.buy_or_sell"))).isEmpty
    val keep = col("date") +: (FeaturePipeline.featureCols :+ "buy_or_sell")
      .map(c => round(col(c), 9).as(c))
    val f1 = FeaturePipeline.fast(bars).select(keep: _*).localCheckpoint()
    val f2 = FeaturePipeline.faithful(bars).select(keep: _*).localCheckpoint()
    val featOk = f1.exceptAll(f2).isEmpty && f2.exceptAll(f1).isEmpty
    if (!labelOk) System.err.println("bar_pipeline: label differs from Labeler.label")
    if (!featOk) System.err.println("bar_pipeline: fast features differ from faithful")
    labelOk && featOk
  }

  override def notes: Map[String, String] = Map("auc" -> auc.mkString)
}
