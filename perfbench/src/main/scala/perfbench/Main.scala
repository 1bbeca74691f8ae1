package perfbench

import java.lang.management.ManagementFactory
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One timed sample inside an op: `kind` is `pipeline`, `write` or
  * `read`; `ok` is false when the op's output failed its check. */
final case class Sample(kind: String, secs: Double, ok: Boolean)

/** Bytes a write op put under the lake, and the user bytes it was
  * asked to write. */
final case class Written(lakeBytes: Long, userBytes: Long)

/** A closed-loop workload: inputs built from the seed in `setup`, then
  * ops run one after another by the single benchmark thread. */
trait Workload {
  /** Generate inputs and build the starting state under `dir`. */
  def setup(dir: String): Unit
  /** Untimed ops that warm the JIT and check what is checked once. */
  def warmup(): Unit
  /** Whether op `i` may start now that the deadline has passed (to
    * finish a fixed-ratio cycle of ops in progress). */
  def finishCycle(i: Int): Boolean = false
  /** Whether an input exists for op `i`. */
  def hasOp(i: Int): Boolean = true
  /** The client's untimed work before op `i`, outside the op. */
  def prepare(i: Int): Unit = ()
  /** Run op `i`. */
  def op(i: Int): Seq[Sample]
  /** Checks of op `i` that run Spark jobs, outside the op. */
  def verify(i: Int): Boolean = true
  /** Write amplification inputs of the last op, if it wrote. */
  def written(i: Int): Option[Written] = None
  /** End-of-run checks of the whole state; false fails every op. */
  def finalCheck(): Boolean = true
  /** Live table size ratio, for lakes. */
  def spaceAmp(): Option[Double] = None
  /** Per-op table state for the traced run: (live files, dv files). */
  def tableState(): Option[(Int, Int)] = None
  /** Extra entries for the report. */
  def notes: Map[String, String] = Map.empty
}

/** Runs `gen.py` to write a workload's seeded inputs into a directory. */
final class Gen(python: String, script: String, seed: Long) {
  def run(what: String, dir: String, extra: String*): Unit = {
    val cmd = Seq(python, script, what, "--seed", seed.toString,
      "--out", dir) ++ extra
    val rc = new ProcessBuilder(cmd: _*).inheritIO().start().waitFor()
    require(rc == 0, s"${cmd.mkString(" ")} exited with $rc")
  }
}

/** Peak old-generation use after a major (full) collection, from GC
  * notifications; young collections leave promoted garbage behind and
  * would make the figure depend on collection timing. */
object Heap {
  @volatile var peakOld: Long = 0L
  private val oldPools = Set("G1 Old Gen", "PS Old Gen", "Tenured Gen")
  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener((n, _) => {
          if (n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            if (info.getGcAction.contains("major"))
              info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach {
              case (pool, u) if oldPools(pool) =>
                if (u.getUsed > peakOld) peakOld = u.getUsed
              case _ =>
            }
          }
        }, null, null)
      case _ =>
    }
  def reset(): Unit = peakOld = 0L
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  /** Old-generation use now, after a full collection. The second
    * collection runs after Spark's context cleaner has released what
    * the first one found unreachable (broadcasts, cached blocks). */
  def oldAfterGc(): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => oldPools(p.getName)).map(_.getUsage.getUsed).sum
  }
}

object Main {
  val SetupRounds = 3

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(cores: Int, work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    if (traced)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
        .config("spark.hadoop.fs.file.impl.disable.cache", "true")
        .config("spark.callstack.depth", "400")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val work = arg(args, "--work").getOrElse(sys.error("--work"))
    val out = arg(args, "--out").getOrElse(sys.error("--out"))
    val cores = Runtime.getRuntime.availableProcessors()
    val gen = new Gen(arg(args, "--python").getOrElse("python3"),
      arg(args, "--gen").getOrElse(sys.error("--gen")), seed)

    Heap.install()
    val (spark, sessionS) = Clock.secs(session(cores, work, traced))
    val probe = new Probe(spark, traced)
    val w: Workload = workload match {
      case "bar_pipeline" => new BarPipeline(spark, probe, gen)
      case "lake_dml" => new LakeDml(spark, probe, gen)
      case "catalog_read" => new CatalogRead(spark, probe, gen, seed, work)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: several rounds of input generation and build into fresh
    // directories (the last one is kept), then warm-up once
    val roundS = (1 to SetupRounds).map { r =>
      val dir = s"$work/round$r"
      if (r > 1) Disk.rmrf(s"$work/round${r - 1}")
      Clock.secs(w.setup(dir))._2
    }
    val (_, warmS) = Clock.secs(w.warmup())
    val setupS = sessionS + Clock.median(roundS) + warmS

    // timed closed loop, one client thread
    Heap.reset()
    val gc0 = Heap.gcMs()
    val samples = mutable.ArrayBuffer[(Int, Sample)]()
    val opSecs = mutable.ArrayBuffer[Double]()
    val opWindows = mutable.ArrayBuffer[(Int, Long, Long)]()
    val fsPerOp = mutable.ArrayBuffer[(Int, FsOps)]()
    val states = mutable.ArrayBuffer[(Int, Int, Int)]()
    var written = Written(0L, 0L)
    var failed = 0
    var crashed: Option[String] = None
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (crashed.isEmpty && w.hasOp(i) &&
        (System.nanoTime() < deadline || w.finishCycle(i))) {
      w.prepare(i)
      val f0 = CountingLocalFileSystem.snapshot()
      val w0 = System.currentTimeMillis()
      probe.beginOp(i)
      val (res, s) = Clock.secs(
        try Right(w.op(i)) catch { case e: Throwable => Left(e) })
      probe.endOp()
      val w1 = System.currentTimeMillis()
      val f1 = CountingLocalFileSystem.snapshot()
      res match {
        case Right(ss) =>
          ss.foreach(x => samples += ((i, x)))
          if (ss.exists(!_.ok) || !w.verify(i)) failed += 1
          opSecs += s
        case Left(e) =>
          failed += 1
          crashed = Some(s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}")
          e.printStackTrace()
      }
      opWindows += ((i, w0, w1))
      w.written(i).foreach(x =>
        written = Written(written.lakeBytes + x.lakeBytes,
          written.userBytes + x.userBytes))
      if (traced) {
        fsPerOp += ((i, f1 - f0))
        w.tableState().foreach { case (l, d) => states += ((i, l, d)) }
      }
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val gcS = (Heap.gcMs() - gc0) / 1000.0
    val attempted = i
    val peakOld = math.max(Heap.peakOld, Heap.oldAfterGc())

    val (finalOk, finalS) = Clock.secs(crashed.isEmpty && (try w.finalCheck()
      catch { case e: Throwable => e.printStackTrace(); false }))
    if (!finalOk) failed = attempted
    val spaceAmp = try w.spaceAmp() catch {
      case e: Throwable => e.printStackTrace(); None
    }
    spark.stop() // drains the listener bus

    val r = new Report(workload, seed, seconds, traced, cores, probe)
    r.env(spark.version, Runtime.getRuntime.maxMemory(), w.notes)
    r.e2e(setupS, sessionS, roundS, warmS, loopS, samples.toSeq,
      opSecs.toSeq, attempted, failed, peakOld, written, spaceAmp)
    if (traced) r.layers(opWindows.toSeq, samples.toSeq, fsPerOp.toSeq,
      states.toSeq, gcS, loopS)
    r.note("final_check_s", finalS.toString)
    crashed.foreach(c => r.note("crash", c))
    r.write(out, finalOk && failed == 0, attempted, failed)
  }
}
