package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, when}

import graft.SparkEntry
import graft.sources.CommitLog

/** What one closed-loop operation is: a read (a query, or a table read
  * run to completion) or a commit (a write to the table format). */
sealed trait Kind
case object Read extends Kind
case object Commit extends Kind

/** Everything an operation may touch. With `dumpDir` set, a declared
  * query's first execution writes its result there as parquet instead
  * of to `noop`. */
final class Ctx(val spark: SparkSession, val data: String, val tracer: Tracer,
    val dumpDir: Option[String] = None) {
  def span[T](layer: String)(body: => T): T = tracer.span(layer)(body)

  /** Plans and runs a read to completion through the `noop` sink, which
    * materialises every output column and discards the rows. */
  def execute(df: DataFrame): DataFrame = {
    span("plans.plan")(df.queryExecution.executedPlan)
    span("exec.run")(df.write.mode("overwrite").format("noop").save())
    df
  }
}

/** One operation. `run` returns the read it executed, if any, so its
  * plan can be inspected after the clock stops. */
final case class Op(name: String, kind: Kind, run: Ctx => Option[DataFrame])

/** A declared query from `SparkEntry.queries`. */
object QueryOp {
  def apply(name: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, Read, ctx => {
      val df = ctx.span("operators.build")(fn(ctx.spark, ctx.data))
      ctx.dumpDir.map(dir => s"$dir/$name").filterNot(new File(_).exists) match {
        case Some(out) =>
          df.coalesce(1).write.parquet(out)
          None
        case None => Some(ctx.execute(df))
      }
    })
  }
}

/** A workload: the operations of one pass, and the checks of its
  * outputs, which run once per run outside the timed region. */
trait Workload {
  /** Set-up work of a fresh session: builds the fixtures the operations
    * read, without running them. */
  def prepare(ctx: Ctx): Unit
  /** The operations of pass `index`; negative for the warmup pass. */
  def pass(index: Int): Seq[Op]
  /** Called after each operation, outside its timing. */
  def afterOp(ctx: Ctx, op: Op): Unit = ()
  def afterPass(ctx: Ctx): Unit = ()
  /** Declared queries whose results the check phase dumps for comparison. */
  def checkedQueries: Seq[String]
  /** Further checks; returns the names of those that failed. */
  def extraChecks(ctx: Ctx): Seq[String] = Nil
  /** Table metrics of the last pass, by name (see [[CommitLogWorkload.Metrics]]). */
  def metrics(ctx: Ctx): Map[String, Double] = Map.empty
}

object Workload {
  /** A timed pass's order is a permutation drawn from the seed; the
    * warmup pass keeps the listed order, so the JIT sees the same first
    * executions whatever the seed. */
  def permute(ops: Seq[Op], seed: Long, index: Int): Seq[Op] =
    if (index < 0) ops else new scala.util.Random(seed * 1000003L + index).shuffle(ops)
}

/** Declared queries only, in a seed-permuted order each pass, over a
  * session whose fixture caches stay warm between passes. */
final class QueryWorkload(names: Seq[String], seed: Long) extends Workload {
  private val ops = names.map(QueryOp(_))
  /** Builds every query's DataFrame: the session-cached fixtures (indexes,
    * bucketed and commit-log tables) are built on first use. */
  def prepare(ctx: Ctx): Unit =
    names.foreach(n => SparkEntry.queries(n)(ctx.spark, ctx.data))
  def pass(index: Int): Seq[Op] = Workload.permute(ops, seed, index)
  def checkedQueries: Seq[String] = names
}

/** Writes beside reads on a `graft.commitlog` table. Each pass creates a
  * fresh table and applies the same seeded DML sequence, reading between
  * the writes, then runs the assigned commit-log declared queries. */
final class CommitLogWorkload(queries: Seq[String], seed: Long, work: String)
    extends Workload {
  import CommitLogWorkload._

  private val rnd = new scala.util.Random(seed)
  private val residues = rnd.shuffle((0 until Slices).toList)
  private val createSet = residues.slice(0, 3)
  private val appendSet = residues.slice(3, 5)
  private val mergeUpdate = appendSet.head
  private val mergeInsert = residues(5)
  private val updateSlice = appendSet(1)
  private val deleteSlice = createSet(2)
  private val rangeLo = rnd.nextInt(100000).toLong
  private val rangeHi = rangeLo + 20000
  private val pointKey = createSet(1).toLong + Slices * (1 + rnd.nextInt(1000))

  private var root = ""
  private val seen = mutable.Set.empty[String]
  private var written = 0L
  private var files = 0L
  private var liveDirs = 0L
  private var versions = 0L
  private var tableBytes = 0L
  private var mergeVersion = 0L
  /** The DML sequence creates its table inside each pass; set-up
    * resolves the source table and builds the declared queries'
    * fixture tables. */
  def prepare(ctx: Ctx): Unit = {
    graft.Tables.orders(ctx.spark, ctx.data).schema
    queries.foreach(n => SparkEntry.queries(n)(ctx.spark, ctx.data))
  }

  private def orders(ctx: Ctx): DataFrame = ctx.span("operators.build")(
    graft.Tables.orders(ctx.spark, ctx.data)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))

  private def inSlices(rs: Seq[Int]): Column =
    (col("o_orderkey") % Slices).isin(rs: _*)

  private def mergeChanges(base: DataFrame): DataFrame =
    base.filter(inSlices(Seq(mergeUpdate, mergeInsert)))
      .withColumn("o_totalprice", col("o_totalprice") + 5.0)

  private val updateCond: Column =
    col("o_orderkey") % Slices === updateSlice && col("o_orderstatus") === "O"
  private val updateSet = Seq("o_totalprice" -> (col("o_totalprice") + 1.0))
  private val deleteCond: Column =
    col("o_orderkey") % Slices === deleteSlice && col("o_custkey") % 2 === 0

  private val Stats = Some("o_orderkey")
  private def inRange(df: DataFrame) =
    df.filter(col("o_orderkey").between(rangeLo, rangeHi))
  private def atPoint(df: DataFrame) = df.filter(col("o_orderkey") === pointKey)

  private def commitOp(name: String)(body: Ctx => Unit): Op =
    Op(name, Commit, ctx => { ctx.span(s"sources.$name")(body(ctx)); None })

  private def readOp(name: String)(body: Ctx => Option[DataFrame]): Op =
    Op(name, Read, ctx =>
      ctx.span("sources.read")(body(ctx)).map(ctx.execute))

  def pass(index: Int): Seq[Op] = {
    root = s"$work/tables/pass-$index"
    seen.clear(); written = 0L; files = 0L
    val dml = Seq(
      commitOp("commit_create") { ctx =>
        val o = orders(ctx)
        CommitLog.init(ctx.spark, root)
        CommitLog.commit(ctx.spark, root, "loader", "create", statsCol = Stats,
          createOnEmpty = true)(_ => o.filter(inSlices(createSet)))
      },
      readOp("read_latest")(ctx => CommitLog.readLatest(ctx.spark, root)),
      commitOp("commit_append") { ctx =>
        val o = orders(ctx)
        CommitLog.commitAppend(ctx.spark, root, "loader", "append",
          statsCol = Stats)(o.filter(inSlices(appendSet)))
      },
      readOp("read_latest_where")(ctx => CommitLog.readLatestWhere(
        ctx.spark, root, "o_orderkey", rangeLo, rangeHi).map(inRange)),
      readOp("read_version")(ctx => CommitLog.readVersion(ctx.spark, root, 1L)),
      commitOp("compact") { ctx =>
        CommitLog.compact(ctx.spark, root, "optimizer", statsCol = Stats)
      },
      commitOp("vacuum") { ctx =>
        CommitLog.vacuum(ctx.spark, root, keep = 1, graceMs = 0L)
      },
      commitOp("commit_merge") { ctx =>
        val o = orders(ctx)
        mergeVersion = CommitLog.merge(ctx.spark, root, "cdc", "o_orderkey",
          mergeChanges(o), statsCol = Stats).version
      },
      commitOp("commit_update") { ctx =>
        CommitLog.update(ctx.spark, root, "repricer", updateCond, updateSet)
      },
      commitOp("commit_delete") { ctx =>
        CommitLog.delete(ctx.spark, root, "gdpr", deleteCond)
      },
      readOp("changes_since")(ctx =>
        CommitLog.changesSince(ctx.spark, root, mergeVersion)),
      commitOp("bloom") { ctx => CommitLog.addBloom(ctx.spark, root, "o_orderkey") },
      readOp("read_latest_point")(ctx =>
        CommitLog.readLatestPoint(ctx.spark, root, "o_orderkey", pointKey)
          .map(atPoint)),
      Op("snapshot", Read, ctx => {
        ctx.span("sources.snapshot")(CommitLog.latest(ctx.spark, root))
        None
      }))
    dml ++ Workload.permute(queries.map(QueryOp(_)), seed, index)
  }

  /** Bytes and files that appeared under the table root since the last
    * look; files later vacuumed away still count as written. */
  override def afterOp(ctx: Ctx, op: Op): Unit = if (op.kind == Commit) {
    listFiles(new File(root)).foreach { f =>
      if (seen.add(f.getPath)) { written += f.length; files += 1 }
    }
  }

  override def afterPass(ctx: Ctx): Unit = {
    tableBytes = listFiles(new File(root)).map(_.length).sum
    CommitLog.latest(ctx.spark, root).foreach { c =>
      liveDirs = c.dataDirs.size
      versions = c.version + 1
    }
    // keep only the newest table: the checks read it
    Option(new File(s"$work/tables").listFiles).toSeq.flatten
      .filter(_.getPath != new File(root).getPath).foreach(deleteTree)
  }

  def checkedQueries: Seq[String] = queries

  /** The rows the DML sequence must leave, built with plain DataFrame
    * operations on the same inputs. */
  private def expected(base: DataFrame): DataFrame = {
    val created = base.filter(inSlices(createSet ++ appendSet))
    val changes = mergeChanges(base)
    val merged = created.join(changes.select("o_orderkey"), Seq("o_orderkey"),
      "left_anti").unionByName(changes)
    merged.withColumn("o_totalprice",
      when(updateCond, col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      .filter(!deleteCond)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def base(ctx: Ctx): DataFrame = graft.Tables.orders(ctx.spark, ctx.data)
    .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  override def extraChecks(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val want = expected(base(ctx))
    val got = CommitLog.readLatest(spark, root)
    val failures = mutable.ArrayBuffer.empty[String]
    if (!got.exists(sameRows(_, want))) failures += "commitlog_final_table"
    val where = CommitLog.readLatestWhere(spark, root, "o_orderkey", rangeLo, rangeHi)
    if (!where.map(inRange).exists(sameRows(_, inRange(want))))
      failures += "commitlog_read_latest_where"
    val point = CommitLog.readLatestPoint(spark, root, "o_orderkey", pointKey)
    if (!point.map(atPoint).exists(sameRows(_, atPoint(want))))
      failures += "commitlog_read_latest_point"
    failures.toSeq
  }

  private def plainBytes(df: DataFrame, dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val n = listFiles(new File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    deleteTree(new File(dir))
    n
  }

  override def metrics(ctx: Ctx): Map[String, Double] = {
    // plain-parquet sizes of the submitted and of the live rows
    val b = base(ctx)
    val submitted = Seq(b.filter(inSlices(createSet)), b.filter(inSlices(appendSet)),
      mergeChanges(b)).map(plainBytes(_, s"$work/plain")).sum
    val live = plainBytes(expected(b), s"$work/plain")
    Map(
      "sources.bytes_written" -> written.toDouble,
      "sources.files_written" -> files.toDouble,
      "sources.live_dirs" -> liveDirs.toDouble,
      "sources.table_versions" -> versions.toDouble,
      "sources.write_amp" -> ratio(written, submitted),
      "sources.space_amp" -> ratio(tableBytes, live))
  }

  private def ratio(a: Long, b: Long): Double = if (b > 0) a.toDouble / b else 0.0
}

object CommitLogWorkload {
  /** Key slices: o_orderkey % Slices picks the rows of one DML step. */
  val Slices = 50

  /** Names and units of the table metrics; zero on other workloads. */
  val Metrics = Seq("sources.bytes_written" -> "bytes", "sources.files_written" -> "count",
    "sources.live_dirs" -> "count", "sources.table_versions" -> "count",
    "sources.write_amp" -> "ratio", "sources.space_amp" -> "ratio")

  def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(listFiles)
    else if (f.isFile) Seq(f) else Nil

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
