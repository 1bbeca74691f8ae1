package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener

/** The layers a Spark job or a span is charged to: the repo's modules
  * under `graft/`, plus `spark` for work no graft frame caused. */
object Modules {
  val Graft: Seq[String] = Seq("sources", "streaming", "operators",
    "indicators", "functions", "plans", "ml", "queries")

  /** Module of a `graft.` class name: its package under `graft`, with
    * the catalog entry point counted as `queries` and the session
    * extensions as `plans`. */
  def ofClass(cls: String): Option[String] = {
    val parts = cls.split('.')
    if (parts.length < 2 || parts(0) != "graft") None
    else if (parts.length >= 3 && Graft.contains(parts(1))) Some(parts(1))
    else if (parts(1).startsWith("SparkEntry")) Some("queries")
    else if (parts(1).startsWith("GraftExtensions")) Some("plans")
    else Some("spark")
  }

  /** Module of the innermost `graft.` frame of a call-site long form
    * (one frame per line, innermost first). */
  def ofCallSite(details: String): Option[String] =
    details.linesIterator.map(_.trim).collectFirst {
      case line if line.startsWith("graft.") =>
        ofClass(line.takeWhile(_ != '(').split('.').dropRight(1)
          .mkString(".")).getOrElse("spark")
    }
}

/** Local filesystem that counts its metadata and data-file operations.
  * The traced run installs it as `fs.file.impl`, so every open, create,
  * list, rename and delete the program makes through Hadoop is counted;
  * the untraced run keeps the stock class. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def open(f: Path, bufferSize: Int) = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable) = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    stats.incrementAndGet(); super.getFileStatus(f)
  }
}

object CountingLocalFileSystem {
  val reads, writes, lists, stats = new AtomicLong()
  /** (read ops = opens + status probes, write ops, list ops, bytes
    * written through any local filesystem instance). */
  def snapshot(): FsOps = FsOps(reads.get() + stats.get(), writes.get(),
    lists.get(), FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum)
}

final case class FsOps(reads: Long, writes: Long, lists: Long,
    bytesWritten: Long) {
  def -(o: FsOps): FsOps = FsOps(reads - o.reads, writes - o.writes,
    lists - o.lists, bytesWritten - o.bytesWritten)
}

/** One job as the listener saw it. `op` is the op id the benchmark
  * thread had set when the job was submitted (-1 outside timed ops). */
final class JobRec(val id: Int, val op: Int, val module: String,
    val span: String, val start: Long) {
  @volatile var end: Long = start
  val taskMs, inputBytes, shuffleBytes, spillBytes, tasks, stages =
    new AtomicLong()
}

final case class Span(id: Int, name: String, module: String, parent: Int,
    op: Int, start: Long, end: Long)

final case class PlanRec(op: Int, planningMs: Double, exchanges: Int)

/** When tracing, collects spans from the benchmark's own calls, every
  * job, task and query execution through listeners the benchmark
  * registers, and the progress of the streaming queries it runs.
  * Untraced, it registers nothing and `span` only runs its body. */
final class Probe(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  val progress = mutable.ArrayBuffer[(Int, Map[String, Long])]()
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  @volatile var op: Int = -1
  val occAttempts = new AtomicLong()

  private object Aqe extends AdaptiveSparkPlanHelper
  def exchangesOf(qe: QueryExecution): Int =
    Aqe.collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
  def planningMsOf(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum

  if (traced) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        val details = e.stageInfos.sortBy(-_.stageId).headOption
          .map(_.details).getOrElse("")
        val module = Modules.ofCallSite(details)
          .orElse(prop("perfbench.module")).getOrElse("spark")
        val rec = new JobRec(e.jobId,
          prop("perfbench.op").map(_.toInt).getOrElse(-1), module,
          prop("perfbench.span").getOrElse("-"), e.time)
        jobs.put(e.jobId, rec)
        e.stageIds.foreach(s => stageJob.put(s, rec))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageJob.get(e.stageInfo.stageId))
          .foreach(_.stages.incrementAndGet())
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (rec <- Option(stageJob.get(e.stageId));
             m <- Option(e.taskMetrics)) {
          rec.tasks.incrementAndGet()
          rec.taskMs.addAndGet(m.executorRunTime)
          rec.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          rec.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          rec.spillBytes.addAndGet(m.diskBytesSpilled)
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
    })
  }

  /** Plan statistics of a query execution the benchmark ran itself
    * (an RDD-level count fires no execution listener). */
  def record(qe: QueryExecution): Unit =
    if (traced) plans.add(PlanRec(op, planningMsOf(qe), exchangesOf(qe)))

  /** Phase durations of a finished streaming query's batches that
    * read input, charged to the current op. */
  def record(q: StreamingQuery): Unit =
    if (traced) q.recentProgress.filter(_.numInputRows > 0).foreach(p =>
      progress += ((op, p.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap)))

  /** Mark the start of op `id`: jobs submitted from now carry it. */
  def beginOp(id: Int): Unit = {
    op = id
    if (traced) sc.setLocalProperty("perfbench.op", id.toString)
  }
  def endOp(): Unit = {
    op = -1
    if (traced) sc.setLocalProperty("perfbench.op", null)
  }

  /** Time `body` as a call into `module`; with tracing, record a span
    * (nested spans name their parent) and charge jobs submitted inside
    * it with no graft frame on their call site to `module`. */
  def span[T](name: String, module: String)(body: => T): T = {
    if (!traced) return body
    val id = nextSpan; nextSpan += 1
    val parent = stack.headOption.getOrElse(-1)
    val outer = (sc.getLocalProperty("perfbench.module"),
      sc.getLocalProperty("perfbench.span"))
    sc.setLocalProperty("perfbench.module", module)
    sc.setLocalProperty("perfbench.span", name)
    stack = id :: stack
    val t0 = System.currentTimeMillis()
    try body
    finally {
      stack = stack.tail
      sc.setLocalProperty("perfbench.module", outer._1)
      sc.setLocalProperty("perfbench.span", outer._2)
      spans += Span(id, name, module, parent, op, t0,
        System.currentTimeMillis())
    }
  }
}

/** Timing helpers. */
object Clock {
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile `p` (0..100). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0,
        math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
}

/** Sizes of directory trees on the local filesystem. */
object Disk {
  def files(dir: String): Map[String, Long] = {
    val out = mutable.Map[String, Long]()
    def rec(f: java.io.File): Unit = {
      val cs = f.listFiles()
      if (cs == null) { if (f.isFile) out(f.getPath) = f.length() }
      else cs.foreach(rec)
    }
    rec(new java.io.File(dir))
    out.toMap
  }
  def bytes(dir: String): Long = files(dir).values.sum
  def rmrf(p: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rec)
      f.delete(): Unit
    }
    rec(new java.io.File(p))
  }
  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
