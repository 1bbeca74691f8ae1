package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns one run's samples and traces into metrics and writes them as
  * JSON for `run.py`: `metrics` (name -> value and unit), `detail`
  * (tail percentiles, sample counts, environment) and, when traced,
  * `per_op` counts and module `self_s` times. */
final class Report(workload: String, seed: Long, seconds: Double,
    traced: Boolean, cores: Int, probe: Probe) {

  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val detail = mutable.LinkedHashMap[String, String]()
  private var perOp: Seq[String] = Nil

  private def put(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)
  def note(k: String, v: String): Unit = detail(k) = Json.str(v)

  def env(sparkVersion: String, heapBytes: Long,
      notes: Map[String, String]): Unit = {
    detail("workload") = Json.str(workload)
    detail("seed") = seed.toString
    detail("seconds") = Json.num(seconds)
    detail("traced") = traced.toString
    detail("nproc") = Runtime.getRuntime.availableProcessors().toString
    detail("master") = Json.str(s"local[$cores]")
    detail("shuffle_partitions") = cores.toString
    detail("heap_mb") = (heapBytes >> 20).toString
    detail("spark_version") = Json.str(sparkVersion)
    notes.foreach { case (k, v) => note(k, v) }
  }

  /** The highest of the usual percentiles with at least ten samples
    * beyond it; below 20 samples none qualifies and the maximum is
    * reported, marked as p100. */
  private def tail(xs: Seq[Double]): (Double, Int) =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => (Clock.pct(xs, p), p))
      .getOrElse((if (xs.isEmpty) 0.0 else xs.max, 100))

  private def latency(prefix: String, xs: Seq[Double]): Unit =
    if (xs.nonEmpty) {
      put(s"${prefix}_p50_s", Clock.median(xs), "s")
      val (v, p) = tail(xs)
      put(s"${prefix}_tail_s", v, "s")
      detail(s"${prefix}_tail_pct") = p.toString
      detail(s"${prefix}_n") = xs.size.toString
    }

  def e2e(setupS: Double, sessionS: Double, roundS: Seq[Double],
      warmS: Double, loopS: Double, samples: Seq[(Int, Sample)],
      opSecs: Seq[Double], attempted: Int, failed: Int, peakOld: Long,
      written: Written, spaceAmp: Option[Double]): Unit = {
    put("setup_s", setupS, "s")
    put("ops_per_min", 60.0 * opSecs.size / math.max(loopS, 1e-9), "1/min")
    put("op_p50_s", Clock.median(opSecs), "s")
    put("peak_heap_mb", peakOld / 1048576.0, "MB")
    put("fail_ratio", failed.toDouble / math.max(attempted, 1), "ratio")
    val byKind = samples.map(_._2).groupBy(_.kind)
    byKind.get("pipeline").foreach(x =>
      put("pipeline_p50_s", Clock.median(x.map(_.secs)), "s"))
    byKind.get("write").foreach(x => latency("write", x.map(_.secs)))
    byKind.get("read").foreach(x => latency("read", x.map(_.secs)))
    if (written.userBytes > 0)
      put("write_amp", written.lakeBytes.toDouble / written.userBytes, "ratio")
    spaceAmp.foreach(put("space_amp", _, "ratio"))
    detail("op_n") = opSecs.size.toString
    detail("setup_session_s") = Json.num(sessionS)
    detail("setup_rounds_s") = roundS.map(Json.num).mkString("[", ",", "]")
    detail("setup_warmup_s") = Json.num(warmS)
    detail("loop_s") = Json.num(loopS)
  }

  /** Per-layer metrics of a traced run, each per op of the timed loop
    * unless named otherwise. */
  def layers(windows: Seq[(Int, Long, Long)], samples: Seq[(Int, Sample)],
      fsPerOp: Seq[(Int, FsOps)], states: Seq[(Int, Int, Int)],
      gcS: Double, loopS: Double): Unit = {
    val ops = math.max(windows.size, 1).toDouble
    val jobs = probe.jobs.values.asScala.toSeq.filter(_.op >= 0)
    def jobS(js: Seq[JobRec]) = js.map(j => (j.end - j.start) / 1000.0).sum
    for (m <- Modules.Graft.filterNot(_ == "plans")) {
      val js = jobs.filter(_.module == m)
      put(s"$m.jobs", js.size / ops, "count")
      put(s"$m.job_s", jobS(js) / ops, "s")
      put(s"$m.task_s", js.map(_.taskMs.get).sum / 1000.0 / ops, "s")
      put(s"$m.input_mb", js.map(_.inputBytes.get).sum / 1048576.0 / ops, "MB")
      put(s"$m.shuffle_mb", js.map(_.shuffleBytes.get).sum / 1048576.0 / ops, "MB")
    }
    val allJobS = jobS(jobs)
    put("spark.attributed_share",
      if (allJobS <= 0) 1.0 else jobS(jobs.filter(_.module != "spark")) / allJobS,
      "ratio")

    // timed calls: median seconds per call of each span name
    val spans = probe.spans.toSeq.filter(_.op >= 0)
    for ((name, xs) <- spans.groupBy(_.name))
      put(s"${name}_s", Clock.median(xs.map(s => (s.end - s.start) / 1000.0)), "s")
    // self time per module: span time not covered by its child spans
    val children = spans.groupBy(_.parent)
    val self = spans.groupBy(_.module).map { case (m, ss) =>
      m -> ss.map { s =>
        val covered = union(children.getOrElse(s.id, Nil)
          .map(c => (c.start, c.end)))
        (s.end - s.start - covered) / 1000.0
      }.sum / ops
    }
    detail("self_s") = Json.obj(self.map { case (k, v) => k -> Json.num(v) })

    // sources
    val writeOps = samples.filter(_._2.kind == "write").map(_._1).toSet
    if (writeOps.nonEmpty)
      put("sources.jobs_per_write", jobs.count(j => writeOps(j.op) &&
        j.module == "sources" && j.span != "sources.read_mor").toDouble /
        writeOps.size, "count")
    put("sources.fs_read_ops", fsPerOp.map(_._2.reads).sum / ops, "count")
    put("sources.fs_write_ops", fsPerOp.map(_._2.writes).sum / ops, "count")
    put("sources.fs_list_ops", fsPerOp.map(_._2.lists).sum / ops, "count")
    put("sources.fs_bytes_written",
      fsPerOp.map(_._2.bytesWritten).sum / ops, "bytes")
    put("sources.occ_attempts", probe.occAttempts.get / ops, "count")
    if (states.nonEmpty) {
      put("sources.live_files", states.map(_._2).sum.toDouble / states.size, "count")
      put("sources.dv_files", states.map(_._3).sum.toDouble / states.size, "count")
    }

    // streaming progress
    val prog = probe.progress.toSeq.filter(_._1 >= 0)
    def dur(k: String) = prog.map(_._2.getOrElse(k, 0L)).sum / 1000.0 / ops
    put("streaming.add_batch_s", dur("addBatch"), "s")
    put("streaming.wal_commit_s", dur("walCommit"), "s")
    put("streaming.query_planning_s", dur("queryPlanning"), "s")
    if (prog.nonEmpty)
      put("streaming.jobs_per_batch",
        jobs.count(_.span == "streaming.upsert_batch").toDouble / prog.size,
        "count")

    // driver gap: op wall time outside every job of the op
    val byOp = jobs.groupBy(_.op)
    put("driver.gap_s", windows.map { case (i, w0, w1) =>
      val iv = byOp.getOrElse(i, Nil).map(j =>
        (math.max(j.start, w0), math.min(j.end, w1)))
      (w1 - w0 - union(iv)) / 1000.0
    }.sum / ops, "s")

    // engine
    val plans = probe.plans.asScala.toSeq.filter(_.op >= 0)
    put("spark.planning_s", plans.map(_.planningMs).sum / 1000.0 / ops, "s")
    put("spark.exchanges", plans.map(_.exchanges).sum / ops, "count")
    put("spark.jobs", jobs.size / ops, "count")
    put("spark.stages", jobs.map(_.stages.get).sum / ops, "count")
    put("spark.tasks", jobs.map(_.tasks.get).sum / ops, "count")
    put("spark.spill_mb", jobs.map(_.spillBytes.get).sum / 1048576.0 / ops, "MB")
    put("spark.gc_s", gcS / ops, "s")
    put("spark.core_busy",
      jobs.map(_.taskMs.get).sum / 1000.0 / (loopS * cores), "ratio")

    // exact counts per op, for the repeatability check
    val fsOf = fsPerOp.toMap
    perOp = windows.map { case (i, _, _) =>
      val js = byOp.getOrElse(i, Nil)
      val mods = js.groupBy(_.module).map { case (m, x) => m -> x.size.toString }
      val f = fsOf.getOrElse(i, FsOps(0, 0, 0, 0))
      Json.obj(Seq("op" -> i.toString,
        "jobs" -> Json.obj(mods.toSeq.sortBy(_._1)),
        "fs_read_ops" -> f.reads.toString,
        "fs_write_ops" -> f.writes.toString,
        "fs_list_ops" -> f.lists.toString))
    }
  }

  /** Total length of the union of closed intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  def write(path: String, correct: Boolean, attempted: Int,
      failed: Int): Unit = {
    val m = metrics.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    val body = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(m.toSeq),
      "detail" -> Json.obj(detail.toSeq),
      "per_op" -> perOp.mkString("[", ",", "]")))
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(body) finally w.close()
  }
}

/** Minimal JSON rendering. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
