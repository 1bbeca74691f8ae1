package perfbench

import scala.io.Source

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{CommitLog, DeletionVectors, IncrementalView, Occ}
import graft.sources.MergeInto.{MatchedDelete, MatchedUpdate, NotMatchedInsert}
import graft.streaming.UpsertSink

/** Driver-side model of a lake of lineitem-shaped rows: per key
  * liveness and values, and per return flag the (count, quantity sum,
  * price sum) that snapshot reads are checked against. */
final class LakeModel(cap: Int) {
  val alive = new Array[Boolean](cap)
  private val qty = new Array[Long](cap)
  private val price = new Array[Long](cap)
  private val flag = new Array[Byte](cap)
  private val agg = Array.fill(3)(Array(0L, 0L, 0L))
  private val Flags = Seq("A", "N", "R")

  private def add(i: Int, sign: Int): Unit = {
    val a = agg(flag(i).toInt)
    a(0) += sign; a(1) += sign * qty(i); a(2) += sign * price(i)
  }
  /** Insert or replace the row of key `k`. */
  def put(k: Long, q: Long, p: Long, f: String): Unit = {
    val i = k.toInt
    if (alive(i)) add(i, -1)
    qty(i) = q; price(i) = p; flag(i) = Flags.indexOf(f).toByte
    alive(i) = true
    add(i, 1)
  }
  def delete(k: Long): Unit = {
    val i = k.toInt
    if (alive(i)) { add(i, -1); alive(i) = false }
  }
  def addQty(k: Long, d: Long): Unit = {
    val i = k.toInt
    if (alive(i)) { add(i, -1); qty(i) += d; add(i, 1) }
  }
  def set(k: Long, q: Long, p: Long): Unit = {
    val i = k.toInt
    if (alive(i)) { add(i, -1); qty(i) = q; price(i) = p; add(i, 1) }
  }

  /** (flag, count, quantity sum, price sum) of the live rows. */
  def aggregate: Seq[(String, Long, Long, Long)] =
    Flags.indices.filter(f => agg(f)(0) > 0).map(f =>
      (Flags(f), agg(f)(0), agg(f)(1), agg(f)(2)))

  /** Whether rows of (flag, count, quantity sum, price sum), ordered by
    * flag, equal the model. */
  def matches(rows: Seq[Row]): Boolean =
    rows.map(r => (r.getString(0), num(r.get(1)), num(r.get(2)),
      num(r.get(3)))) == aggregate
  private def num(x: Any): Long = x.asInstanceOf[Number].longValue
}

/** A commit-logged lake built from `gen.py lake` output in `dir`: the
  * base files, the op plan and each op's source rows. Each op runs one
  * verb and applies the same change to the model. */
final class Lake(spark: SparkSession, probe: Probe, val dir: String) {
  import Lake._

  val lake = s"$dir/lake"
  private val view = s"$dir/view"
  private val inputs = s"$dir/inputs"
  private val in = s"$dir/stream-in"
  private val ckp = s"$dir/stream-ckp"
  private val fs = Disk.fs(spark, lake)
  private val spec = UpsertSink.ViewSpec(view, Seq("l_returnflag"),
    Seq("l_quantity", "l_price_cents"))
  private val schema = spark.read.parquet(lake).schema

  private val plan = {
    val src = Source.fromFile(s"$dir/plan.tsv", "UTF-8")
    try Plan.parse(src.getLines().toSeq) finally src.close()
  }
  val kinds: IndexedSeq[String] = plan.ops.map(_._1)
  private val model = new LakeModel(
    (plan.baseRows + kinds.size.toLong * plan.width).toInt)

  def build(): Unit = {
    CommitLog.commit(fs, lake, 0L,
      CommitLog.dataFileNames(fs, lake).toSeq.sorted)
    rowsOf(spark.read.parquet(lake)).foreach { case (k, q, p, f) =>
      model.put(k, q, p, f)
    }
    fs.mkdirs(new Path(in))
    lakeFiles = Disk.files(lake)
  }

  private def rowsOf(df: DataFrame) =
    df.select("l_key", "l_quantity", "l_price_cents", "l_returnflag")
      .collect().iterator.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

  private def source(j: Int) = spark.read.parquet(s"$inputs/op=$j")
  private def hasSource(j: Int) = new java.io.File(s"$inputs/op=$j").isDirectory

  private var sourceRows: Seq[(Long, Long, Long, String)] = Nil
  private var userBytes = 0L
  /** Bytes of user rows the last prepared op submits. */
  def submitted: Long = userBytes

  /** The client side of op `j`, untimed: read its source rows for the
    * model, and deliver a CDC batch to the stream's input directory. */
  def prepare(j: Int): Unit = {
    sourceRows = if (hasSource(j)) rowsOf(source(j)).toSeq else Nil
    userBytes = if (hasSource(j)) Disk.bytes(s"$inputs/op=$j") else 0L
    if (kinds(j) == Upsert)
      fs.listStatus(new Path(s"$inputs/op=$j"))
        .filter(_.getPath.getName.endsWith(".parquet")).foreach(st =>
          fs.rename(st.getPath, new Path(in, s"op-$j-${st.getPath.getName}")))
  }

  private val occHook: () => Unit = () => probe.occAttempts.incrementAndGet(): Unit

  /** Run op `j`'s verb, then apply it to the model. */
  def verb(j: Int): Unit = {
    val (_, a, b) = plan.ops(j)
    val range = s"l_key >= $a AND l_key < $b"
    kinds(j) match {
      case Append =>
        probe.span("sources.append", "sources")(
          Occ.append(spark, lake, source(j), beforeCommit = occHook))
      case MergeMor =>
        probe.span("sources.merge_mor", "sources")(
          Occ.mergeMor(spark, lake, source(j), Seq("l_key"),
            beforeCommit = occHook))
      case DeleteMor =>
        probe.span("sources.delete_mor", "sources")(
          Occ.deleteMor(spark, lake, range, beforeCommit = occHook))
      case UpdateMor =>
        probe.span("sources.update_mor", "sources")(
          Occ.updateMor(spark, lake, range,
            Map("l_quantity" -> "l_quantity + 1"), beforeCommit = occHook))
      case Upsert =>
        probe.span("streaming.upsert_batch", "streaming") {
          val q = UpsertSink.start(
            spark.readStream.schema(schema).parquet(in), lake, ckp,
            Seq("l_key"), mor = true, view = Some(spec))
          q.awaitTermination()
          q.exception.foreach(e => throw e)
          probe.record(q)
        }
      case Compact =>
        probe.span("sources.compact", "sources")(
          DeletionVectors.compact(spark, lake))
      case MergeClauses =>
        probe.span("sources.merge_clauses", "sources")(
          Occ.mergeClauses(spark, lake, source(j), Seq("l_key"),
            matched = Seq(MatchedDelete(Some("s.l_quantity > 45")),
              MatchedUpdate(Map("l_quantity" -> "s.l_quantity",
                "l_price_cents" -> "s.l_price_cents"))),
            notMatched = Seq(NotMatchedInsert()),
            beforeCommit = occHook))
    }
    kinds(j) match {
      case Append | MergeMor | Upsert =>
        sourceRows.foreach { case (k, q, p, f) => model.put(k, q, p, f) }
      case DeleteMor => (a until b).foreach(model.delete)
      case UpdateMor => (a until b).foreach(model.addQty(_, 1))
      case Compact =>
      case MergeClauses =>
        sourceRows.foreach { case (k, q, p, f) =>
          if (!model.alive(k.toInt)) model.put(k, q, p, f)
          else if (q > 45) model.delete(k)
          else model.set(k, q, p)
        }
    }
  }

  /** Snapshot read: the merge-on-read aggregate per return flag. */
  def read(): Seq[Row] = probe.span("sources.read_mor", "sources")(
    DeletionVectors.readMor(spark, lake).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"),
        sum(col("l_price_cents")).as("p"))
      .orderBy(col("l_returnflag")).collect().toSeq)

  def matches(rows: Seq[Row]): Boolean = model.matches(rows)

  /** After a CDC batch: the view the sink refreshed equals the model. */
  def viewMatches(): Boolean = model.matches(
    IncrementalView.readView(spark, view)
      .select(col("l_returnflag"), col("n"), col("sum_l_quantity"),
        col("sum_l_price_cents"))
      .orderBy(col("l_returnflag")).collect().toSeq)

  private var lakeFiles: Map[String, Long] = Map.empty
  /** Bytes of files new or changed under the lake and its view since
    * the last call. */
  def newBytes(): Long = {
    val now = Disk.files(lake) ++ Disk.files(view)
    val n = now.iterator.filter { case (p, s) => !lakeFiles.get(p).contains(s) }
      .map(_._2).sum
    lakeFiles = now
    n
  }

  def state(): (Int, Int) = {
    val (f, d) = CommitLog.committedView(fs, lake)
    (f.size, d.size)
  }

  /** Lake bytes over the live table written once as plain parquet. */
  def spaceAmp(): Double = {
    val plain = s"$dir/plain"
    DeletionVectors.readMor(spark, lake).write.parquet(plain)
    Disk.bytes(lake).toDouble / Disk.bytes(plain)
  }
}

object Lake {
  val Append = "append"; val MergeMor = "merge_mor"
  val DeleteMor = "delete_mor"; val UpdateMor = "update_mor"
  val Upsert = "upsert_batch"
  val Compact = "compact"; val MergeClauses = "merge_clauses"
  val CycleSize = 7

  /** The op plan `gen.py` writes: per op (verb, lo, hi), where
    * [lo, hi) is the key range of the predicate verbs. */
  final case class Plan(baseRows: Long, width: Long,
      ops: IndexedSeq[(String, Long, Long)])

  object Plan {
    /** Line 1 is `base_rows width`; each further line `verb lo hi`. */
    def parse(lines: Seq[String]): Plan = {
      val rows = lines.map(_.split('\t'))
      Plan(rows.head(0).toLong, rows.head(1).toLong,
        rows.tail.map(r => (r(0), r(1).toLong, r(2).toLong)).toIndexedSeq)
    }
  }
}

/** `lake_dml`: one lake verb, then a snapshot read, per op. The verbs
  * run in cycles: the five merge-on-read writes (OCC append, mergeMor,
  * deleteMor, updateMor, and a CDC micro-batch through the upsert sink,
  * which refreshes an aggregate view) in a seeded order, then a
  * compaction and a copy-on-write clause merge. */
final class LakeDml(spark: SparkSession, probe: Probe, gen: Gen)
    extends Workload {
  private var lake: Lake = _

  def setup(dir: String): Unit = {
    gen.run("lake", dir)
    lake = new Lake(spark, probe, dir)
    lake.build()
  }

  private def run(l: Lake, j: Int): (Double, Double, Boolean) = {
    val (_, ws) = Clock.secs(l.verb(j))
    val (rows, rs) = Clock.secs(l.read())
    val ok = l.matches(rows)
    if (!ok) System.err.println(s"lake_dml op $j (${l.kinds(j)}): $rows")
    (ws, rs, ok)
  }

  private def viewOk(l: Lake, j: Int): Boolean = {
    val ok = l.kinds(j) != Lake.Upsert || l.viewMatches()
    if (!ok) System.err.println(s"lake_dml op $j: view differs from the model")
    ok
  }

  /** One full cycle of verbs on a small lake of its own. */
  def warmup(): Unit = {
    val dir = s"${lake.dir}-warm"
    gen.run("lake", dir, "--small")
    val small = new Lake(spark, probe, dir)
    small.build()
    small.kinds.indices.foreach { j =>
      small.prepare(j)
      require(run(small, j)._3 && viewOk(small, j),
        s"warm-up verb ${small.kinds(j)}")
    }
    Disk.rmrf(dir)
  }

  override def hasOp(i: Int): Boolean = i < lake.kinds.size
  override def finishCycle(i: Int): Boolean = i % Lake.CycleSize != 0
  override def prepare(i: Int): Unit = lake.prepare(i)
  override def verify(i: Int): Boolean = viewOk(lake, i)
  def op(i: Int): Seq[Sample] = {
    val (ws, rs, ok) = run(lake, i)
    Seq(Sample("write", ws, ok), Sample("read", rs, ok))
  }
  override def written(i: Int): Option[Written] =
    Some(Written(lake.newBytes(), lake.submitted))
  override def spaceAmp(): Option[Double] = Some(lake.spaceAmp())
  override def tableState(): Option[(Int, Int)] = Some(lake.state())
}
