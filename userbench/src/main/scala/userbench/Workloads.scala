package userbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import graft.sql.GraftSession

import Data._

/** One statement drawn from a template: its text, the result columns the
  * check reads (by name), and the expected rows. `want` is evaluated
  * after the statement ran, against the model at that moment. */
final case class Query(tpl: String, text: String, cols: Seq[String], ordered: Boolean,
    want: () => Vector[Check.Tuple])

/** A workload: how its tables are set up, and one round of its closed
  * loop. Template parameters come from `rng`, which only the seed sets. */
abstract class Workload(val name: String, val seed: Long) {
  val rng = new java.util.Random(mix(seed, name.hashCode.toLong, 7L, 11L))

  /** Creates the tables in a fresh session and loads them. */
  def load(r: Runner): Unit
  /** One round of the measured closed loop. */
  def round(r: Runner): Unit
  /** Runs after the measured phase, outside its wall. */
  def after(r: Runner): Unit = ()
  /** Tables whose directories count for stored bytes. */
  def tables: Seq[String]
  def liveRows: Long

  protected def pick(n: Int): Int = rng.nextInt(n)
  /** `k` distinct hosts of `n`, in draw order. */
  protected def distinctHosts(n: Int, k: Int): Vector[Int] = {
    val s = mutable.LinkedHashSet.empty[Int]
    while (s.size < k) s += pick(n)
    s.toVector
  }

  def run(r: Runner, q: Query): Op =
    r.sql(q.tpl, "read", q.text) { rows =>
      Check.diff(Check.project(rows, q.cols), q.want(), q.ordered)
    }

  /** Lines for samples [from, until) of every host, at version 0. */
  protected def span(d: Data, from: Int, until: Int): Vector[(Int, Int, Int)] =
    (from until until).toVector.flatMap(i =>
      (0 until d.hosts).filter(h => d.exists(h, i)).map(h => (h, i, 0)))

  /** Writes a batch of (host, index, version) keys and, once INSERT
    * acknowledged it, applies it to the model. */
  protected def writeBatch(r: Runner, tpl: String, table: String, d: Data,
      keys: IndexedSeq[(Int, Int, Int)]): Op = {
    val op = r.write(tpl, table, keys.map { case (h, i, v) => d.line(h, i, v) })
    if (op.error.isEmpty) keys.foreach { case (h, i, v) => d.write(h, i, v) }
    op
  }

  protected def flowDdl: String =
    s"""CREATE FLOW cpu_max_1m SINK TO cpu_1m AS
       |SELECT hostname, date_bin(INTERVAL '1 minute', ts) AS minute,
       |max(usage_user) AS max_user FROM cpu GROUP BY hostname, minute""".stripMargin

  protected def minutes(keys: Seq[(Int, Int, Int)]): Set[Long] =
    keys.map { case (_, i, _) => Math.floorDiv(tsMs(i), MinuteMs) * MinuteMs }.toSet

  /** The read workloads have no writes in their measured phase. After it
    * they append six half-hour batches of line protocol, compact after
    * every second one and flush the flow before the last compaction, so
    * that their write, flush and compaction metrics are measured warm,
    * through the same paths, without touching the reads. */
  protected def appendAfter(r: Runner, d: Data, from: Int): Unit = {
    val dirty = mutable.Set.empty[Long]
    (0 until 6).foreach { b =>
      val keys = span(d, from + b * 180, from + (b + 1) * 180)
      if (writeBatch(r, "write", "cpu", d, keys).error.isEmpty) dirty ++= minutes(keys)
      if (b == 5) flush(r, d, dirty)
      if (b % 2 == 1) compact(r, "cpu")
    }
  }

  /** ADMIN flush_flow, then the sink is read back and compared with the
    * per-minute max over every minute written since the flow exists. */
  protected def flush(r: Runner, d: Data, dirty: collection.Set[Long]): Op = {
    r.sql("flush", "flush", "ADMIN flush_flow('cpu_max_1m')") { _ =>
      val sink = r.session.sql("SELECT hostname, minute, max_user FROM cpu_1m").collect()
      Check.diff(Check.project(sink, Seq("hostname", "minute", "max_user")),
        Ref.perMinuteMax(d, 0, dirty), ordered = false)
    }
  }

  protected def compact(r: Runner, table: String): Op =
    r.sql("compact", "compact", s"ADMIN compact_table('$table')") { rows =>
      if (rows.map(_.getString(0)).toSeq == Seq("0")) None
      else Some(s"compact_table returned ${rows.mkString(",")}")
    }
}

object Workloads {
  val Names: Vector[String] = Vector("dashboard", "ingest_mixed", "analytics")

  def apply(name: String, seed: Long, spark: SparkSession, dir: String): Workload = name match {
    case "dashboard" => new Dashboard(seed, spark, dir)
    case "analytics" => new Analytics(seed, spark, dir)
    case "ingest_mixed" => new IngestMixed(seed, spark, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def ddl(table: String): String =
    s"""CREATE TABLE $table (hostname STRING, region STRING, datacenter STRING,
       |${Fields.map(_ + " DOUBLE").mkString(", ")},
       |ts TIMESTAMP(3) TIME INDEX, PRIMARY KEY (hostname, region, datacenter))""".stripMargin

  def insertSql(table: String, view: String): String = {
    val cols = (Seq("hostname", "region", "datacenter") ++ Fields).mkString(", ")
    s"INSERT INTO $table ($cols, ts) SELECT $cols, ts DIV 1000000 FROM $view"
  }

  val FieldCols: Seq[String] = Fields.indices.map(f => s"v$f")
  def maxAll(kind: String): String =
    Fields.zipWithIndex.map { case (f, i) => s"$kind($f) AS v$i" }.mkString(", ")
}

/** Short reads against a compacted table: TSBS point queries. */
final class Dashboard(seed: Long, spark: SparkSession, dir: String)
    extends Workload("dashboard", seed) {
  import Workloads._
  val hosts = 10
  val points = 12 * 360 // 12 h
  val d = new Data(seed, hosts)
  private val bulk = span(d, 0, points)
  def tables: Seq[String] = Seq("cpu")
  def liveRows: Long = d.liveRows

  def load(r: Runner): Unit = {
    r.session = new GraftSession(spark, dir)
    r.sql("ddl", "ddl", ddl("cpu"))(_ => None)
    writeBatch(r, "bulk", "cpu", d, bulk)
    compact(r, "cpu")
    r.sql("ddl", "ddl", flowDdl)(_ => None)
  }

  override def after(r: Runner): Unit = appendAfter(r, d, points)

  private def hourStart(maxHours: Int): Long = T0Ms + pick(maxHours + 1) * HourMs
  private def minuteStart(spanMin: Int): Long = T0Ms + pick(spanMin + 1) * MinuteMs
  private val end = T0Ms + points * IntervalMs

  val templates: Vector[String] = Vector("single-groupby-1-1-1", "single-groupby-1-1-12",
    "single-groupby-5-1-1", "cpu-max-all-1", "cpu-max-all-8", "high-cpu-1", "lastpoint",
    "tql-host")

  def query(tpl: String): Query = tpl match {
    case "single-groupby-1-1-1" | "single-groupby-5-1-1" | "single-groupby-1-1-12" =>
      val h = pick(hosts)
      val nf = if (tpl == "single-groupby-5-1-1") 5 else 1
      val (a, b) =
        if (tpl.endsWith("-12")) (T0Ms, end)
        else { val a = minuteStart(11 * 60); (a, a + HourMs) }
      val aggs = Fields.take(nf).zipWithIndex
        .map { case (f, i) => s"max($f) RANGE '1m' AS v$i" }.mkString(", ")
      Query(tpl, s"SELECT ts, hostname, $aggs FROM cpu WHERE hostname = '${hostname(h)}' " +
        s"AND ts >= ${lit(a)} AND ts < ${lit(b)} ALIGN '1m' BY (hostname)",
        Seq("ts", "hostname") ++ FieldCols.take(nf), ordered = false,
        () => Ref.bucketed(d, Seq(h), 0 until nf, a, b, MinuteMs, "max"))
    case "cpu-max-all-1" | "cpu-max-all-8" =>
      val hs = distinctHosts(hosts, if (tpl.endsWith("-8")) 8 else 1)
      val a = hourStart(4)
      val b = a + 8 * HourMs
      Query(tpl, s"SELECT date_bin(INTERVAL '1 hour', ts) AS hour, ${maxAll("max")} " +
        s"FROM cpu WHERE hostname IN (${hs.map(h => s"'${hostname(h)}'").mkString(", ")}) " +
        s"AND ts >= ${lit(a)} AND ts < ${lit(b)} GROUP BY hour ORDER BY hour",
        "hour" +: FieldCols, ordered = true,
        () => Ref.bucketedAcross(d, hs, Fields.indices, a, b, HourMs, "max"))
    case "high-cpu-1" =>
      val h = pick(hosts)
      Query(tpl, s"SELECT ts, hostname, ${Fields.mkString(", ")} FROM cpu " +
        s"WHERE hostname = '${hostname(h)}' AND usage_user > 90.0 " +
        s"AND ts >= ${lit(T0Ms)} AND ts < ${lit(end)} ORDER BY ts",
        Seq("ts", "hostname") ++ Fields, ordered = true,
        () => Ref.highCpu(d, Seq(h), T0Ms, end, 90.0))
    case "lastpoint" => IngestMixed.lastpoint(d)
    case "tql-host" =>
      val h = pick(hosts)
      val a = minuteStart(11 * 60)
      val b = a + HourMs
      Query(tpl, s"TQL EVAL (${a / 1000}, ${b / 1000}, '1m') " +
        s"""max_over_time(cpu{hostname="${hostname(h)}", __field__="usage_user"}[5m])""",
        Seq("ts", "hostname", "usage_user"), ordered = false,
        () => Ref.maxOverTime(d, h, 0, a, b, MinuteMs, 5 * MinuteMs))
  }

  def round(r: Runner): Unit = templates.foreach(t => run(r, query(t)))
}

/** Heavy reads over the whole table, plus a full read of a last_row table
  * that still holds duplicate keys. */
final class Analytics(seed: Long, spark: SparkSession, dir: String)
    extends Workload("analytics", seed) {
  import Workloads._
  val hosts = 40
  val points = 12 * 360
  val d = new Data(seed, hosts)
  /** the uncompacted last_row table: a quarter of its keys written twice */
  val dup = new Data(mix(seed, 3L, 5L, 7L), 8)
  private val dupPoints = 3 * 360
  private val batches = Vector(span(d, 0, points / 2), span(d, points / 2, points))
  private val dupBase = span(dup, 0, dupPoints)
  private val dupRewrite = dupBase.filter { case (h, i, _) =>
    (mix(dup.seed, h.toLong, i.toLong, 9L) & 3L) == 0L }.map { case (h, i, _) => (h, i, 1) }
  def tables: Seq[String] = Seq("cpu", "cpu_dup")
  def liveRows: Long = d.liveRows + dup.liveRows
  private val end = T0Ms + points * IntervalMs

  def load(r: Runner): Unit = {
    r.session = new GraftSession(spark, dir)
    r.sql("ddl", "ddl", ddl("cpu"))(_ => None)
    r.sql("ddl", "ddl", ddl("cpu_dup"))(_ => None)
    batches.foreach(b => writeBatch(r, "bulk", "cpu", d, b))
    compact(r, "cpu")
    writeBatch(r, "bulk", "cpu_dup", dup, dupBase)
    writeBatch(r, "bulk", "cpu_dup", dup, dupRewrite)
    r.sql("ddl", "ddl", flowDdl)(_ => None)
  }

  override def after(r: Runner): Unit = appendAfter(r, d, points)

  val templates: Vector[String] = Vector("double-groupby-all", "high-cpu-all",
    "groupby-orderby-limit", "range-fill-linear", "tql-sum-by", "merge-read-uncompacted")

  def query(tpl: String): Query = tpl match {
    case "double-groupby-all" =>
      Query(tpl, s"SELECT date_bin(INTERVAL '1 hour', ts) AS hour, hostname, " +
        s"${maxAll("avg")} FROM cpu WHERE ts >= ${lit(T0Ms)} AND ts < ${lit(end)} " +
        "GROUP BY hour, hostname",
        Seq("hour", "hostname") ++ FieldCols, ordered = false,
        () => Ref.bucketed(d, 0 until hosts, Fields.indices, T0Ms, end, HourMs, "avg"))
    case "high-cpu-all" =>
      val a = T0Ms + pick(7) * HourMs
      val b = a + 6 * HourMs
      Query(tpl, s"SELECT ts, hostname, ${Fields.mkString(", ")} FROM cpu " +
        s"WHERE usage_user > 90.0 AND ts >= ${lit(a)} AND ts < ${lit(b)}",
        Seq("ts", "hostname") ++ Fields, ordered = false,
        () => Ref.highCpu(d, 0 until hosts, a, b, 90.0))
    case "groupby-orderby-limit" =>
      val b = T0Ms + (60 + pick(11 * 60)) * MinuteMs
      Query(tpl, "SELECT date_bin(INTERVAL '1 minute', ts) AS minute, " +
        s"max(usage_user) AS v0 FROM cpu WHERE ts < ${lit(b)} " +
        "GROUP BY minute ORDER BY minute DESC LIMIT 5",
        Seq("minute", "v0"), ordered = true,
        () => Ref.groupOrderLimit(d, 0, b, 5))
    case "range-fill-linear" =>
      val a = T0Ms + pick(9) * HourMs
      val b = a + 3 * HourMs
      Query(tpl, s"SELECT ts, hostname, avg(usage_user) RANGE '5m' FILL LINEAR AS v0 " +
        s"FROM cpu WHERE ts >= ${lit(a)} AND ts < ${lit(b)} ALIGN '5m' BY (hostname)",
        Seq("ts", "hostname", "v0"), ordered = false,
        () => Ref.fillLinear(d, 0, a, b, 5 * MinuteMs))
    case "tql-sum-by" =>
      val a = T0Ms + pick(9) * HourMs
      val b = a + 3 * HourMs
      Query(tpl, s"TQL EVAL (${a / 1000}, ${b / 1000}, '5m') " +
        """sum by (region) (cpu{__field__="usage_user"})""",
        Seq("ts", "region", "usage_user"), ordered = false,
        () => Ref.sumByRegion(d, 0, a, b, 5 * MinuteMs, 5 * MinuteMs))
    case "merge-read-uncompacted" =>
      Query(tpl, "SELECT hostname, ts, usage_user, usage_system FROM cpu_dup",
        Seq("hostname", "ts", "usage_user", "usage_system"), ordered = false,
        () => Ref.fullRead(dup))
  }

  def round(r: Runner): Unit = templates.foreach(t => run(r, query(t)))
}

/** Writes beside reads. A round is two cycles of a line-protocol batch
  * with rewritten keys, a read-your-write lastpoint and a RANGE read over
  * the newest minutes; then a flow flush and a compaction. Compacting as
  * often as flushing gives every run two samples of each. */
final class IngestMixed(seed: Long, spark: SparkSession, dir: String)
    extends Workload("ingest_mixed", seed) {
  import Workloads._
  val hosts = 20
  val preload = 360 // 1 h
  val batchPoints = 90 // 15 min per host per batch
  val rewriteShare = 0.1
  val d = new Data(seed, hosts)
  private var next = preload
  /** minutes written since the flow was created */
  private val dirty = mutable.Set.empty[Long]
  def tables: Seq[String] = Seq("cpu")
  def liveRows: Long = d.liveRows

  def load(r: Runner): Unit = {
    r.session = new GraftSession(spark, dir)
    r.sql("ddl", "ddl", ddl("cpu"))(_ => None)
    writeBatch(r, "bulk", "cpu", d, span(d, 0, preload))
    compact(r, "cpu")
    r.sql("ddl", "ddl", flowDdl)(_ => None)
  }

  /** The next batch: `batchPoints` new samples per host, plus rewrites of
    * a `rewriteShare` of that count at keys written by earlier batches. */
  def nextBatch(): Vector[(Int, Int, Int)] = {
    val fresh = span(d, next, next + batchPoints)
    val rewrites = (0 until (fresh.size * rewriteShare).toInt).map { _ =>
      val h = pick(hosts)
      val i = next - 1 - pick(preload)
      (h, i, d.version(h, i) + 1)
    }.filter(_._3 > 0).distinctBy(k => (k._1, k._2))
    next += batchPoints
    fresh ++ rewrites
  }

  def round(r: Runner): Unit = {
    cycle(r)
    cycle(r)
    flush(r, d, dirty)
    compact(r, "cpu")
  }

  private def cycle(r: Runner): Unit = {
    val keys = nextBatch()
    val op = writeBatch(r, "write", "cpu", d, keys)
    if (op.error.isEmpty) dirty ++= minutes(keys)
    run(r, IngestMixed.lastpoint(d))
    val b = tsMs(next)
    val a = b - 10 * MinuteMs
    run(r, Query("range-recent", s"SELECT ts, hostname, max(usage_user) RANGE '1m' AS v0 " +
      s"FROM cpu WHERE ts >= ${lit(a)} ALIGN '1m' BY (hostname)",
      Seq("ts", "hostname", "v0"), ordered = false,
      () => Ref.bucketed(d, 0 until hosts, Seq(0), a, b, MinuteMs, "max")))
  }
}

object IngestMixed {
  def lastpoint(d: Data): Query =
    Query("lastpoint", s"SELECT DISTINCT ON (hostname) hostname, ts, " +
      s"${Fields.mkString(", ")} FROM cpu ORDER BY hostname, ts DESC",
      Seq("hostname", "ts") ++ Fields, ordered = false, () => Ref.lastpoint(d))
}
