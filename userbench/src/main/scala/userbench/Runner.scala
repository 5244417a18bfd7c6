package userbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.ingest.Protocols
import graft.sql.GraftSession

/** One client operation as the benchmark saw it. Times are nanoseconds
  * since the runner's origin: `t0` the call, `tPivot` the end of the
  * line-protocol pivot (writes), `tSql` the return of `sql()`, `t1` the
  * last row collected. The check runs after `t1` and is not timed. */
final case class Op(id: Int, tpl: String, kind: String, phase: String,
    t0: Long, tPivot: Long, tSql: Long, t1: Long,
    rows: Long, lines: Int, lineBytes: Long, error: Option[String],
    catalyst: Seq[(String, Long, Long)], filesScanned: Long) {
  def ms: Double = (t1 - t0) / 1e6
}

/** Drives GraftSession.sql and Protocols.influxPivoted from one client
  * thread in a closed loop and records every op. */
final class Runner(sc: SparkContext, val traced: Boolean) {
  val origin: Long = System.nanoTime()
  private val originWallMs = System.currentTimeMillis()
  def now: Long = System.nanoTime() - origin
  def wallMsToNs(ms: Long): Long = (ms - originWallMs) * 1000000L

  var session: GraftSession = _
  /** "setup" or "run<attempt>"; stamped on every op */
  var phase: String = "setup"
  val ops = ArrayBuffer.empty[Op]

  private def tag(op: Int): Unit = sc.setLocalProperty(SparkProbe.OpKey, op.toString)

  private def catalystPhases(df: DataFrame): Seq[(String, Long, Long)] =
    if (!traced || df == null) Nil
    else df.queryExecution.tracker.phases.toSeq.map { case (n, p) =>
      (n, wallMsToNs(p.startTimeMs), wallMsToNs(p.endTimeMs)) }.sortBy(_._2)

  /** Files read by the scan nodes of the executed plan. */
  private def filesScanned(df: DataFrame): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        other.metrics.get("numFiles").map(_.value).getOrElse(0L) +
          other.children.map(walk).sum +
          other.subqueries.map(walk).sum
    }
    if (!traced || df == null) 0L
    else try walk(df.queryExecution.executedPlan) catch { case NonFatal(_) => 0L }
  }

  private def record(tpl: String, kind: String, t0: Long, tPivot: Long, tSql: Long,
      t1: Long, rows: Long, lines: Int, lineBytes: Long, error: Option[String],
      df: DataFrame, id: Int): Op = {
    val op = Op(id, tpl, kind, phase, t0, tPivot, tSql, t1, rows, lines, lineBytes,
      error, catalystPhases(df), filesScanned(df))
    ops += op
    error.foreach(e => System.err.println(s"[userbench] op $id $tpl failed: $e"))
    op
  }

  /** One statement through GraftSession.sql, all rows collected, then
    * checked. `check` returns a description of a wrong result. */
  def sql(tpl: String, kind: String, text: String)(check: Array[Row] => Option[String]): Op = {
    val id = ops.size
    tag(id)
    val t0 = now
    var tSql = t0
    var df: DataFrame = null
    var rows: Array[Row] = Array.empty
    var error: Option[String] = None
    try {
      df = session.sql(text)
      tSql = now
      rows = df.collect()
    } catch { case NonFatal(e) => error = Some(e.toString) }
    val t1 = now
    tag(-2)
    if (error.isEmpty)
      error = try check(rows) catch { case NonFatal(e) => Some(s"check threw $e") }
    record(tpl, kind, t0, t0, tSql, t1, rows.length.toLong, 0, 0L, error, df, id)
  }

  /** One line-protocol batch: text → influxPivoted → INSERT INTO table.
    * The batch counts as acknowledged when INSERT reports every line. */
  def write(tpl: String, table: String, lines: IndexedSeq[String]): Op = {
    val id = ops.size
    tag(id)
    val view = s"lp_$table"
    val t0 = now
    var tPivot = t0
    var tSql = t0
    var status = ""
    var error: Option[String] = None
    try {
      val text = session.spark.createDataset(lines)(Encoders.STRING).toDF("line")
      Protocols.influxPivoted(text, "line", "cpu").createOrReplaceTempView(view)
      tPivot = now
      val df = session.sql(Workloads.insertSql(table, view))
      tSql = now
      status = df.collect().map(_.getString(0)).mkString
    } catch { case NonFatal(e) => error = Some(e.toString) }
    val t1 = now
    tag(-2)
    if (error.isEmpty && status != s"inserted ${lines.size} rows into $table")
      error = Some(s"INSERT acknowledged '$status' for ${lines.size} lines")
    val bytes = lines.iterator.map(_.length + 1L).sum
    // the returned frame is INSERT's status row; its plan says nothing
    record(tpl, "write", t0, tPivot, tSql, t1, 1L, lines.size, bytes, error, null, id)
  }
}
