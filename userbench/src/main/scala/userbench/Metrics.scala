package userbench

import java.io.File

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, and
    * that percentile. A tail is never reported below the median: with
    * fewer than 21 samples it is the median, stamped 50. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 21) (median(xs), 50.0)
    else {
      val s = xs.sorted
      val k = s.size - 11
      (s(k), 100.0 * (k + 1) / s.size)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Turns the recorded ops (and, traced, the listener's counters) into the
  * benchmark's metrics. Reads come from the measured phase. Write, flush
  * and compaction metrics come from the measured phase when it has such
  * ops, else from the ops the workload runs after it (see
  * [[Workload.appendAfter]]). */
final class Metrics(r: Runner, w: Workload, phase: Phase, cores: Int,
    probe: Option[SparkProbe]) {
  import Stats._

  private val measured = r.ops.filter(_.phase == phase.tag).toSeq
  private def ofKind(kind: String): Seq[Op] = {
    val m = measured.filter(_.kind == kind)
    if (m.nonEmpty) m else r.ops.filter(o => o.kind == kind && o.phase == "after").toSeq
  }
  private val reads = measured.filter(_.kind == "read")
  private val writes = ofKind("write")
  private val flushes = ofKind("flush")
  private val compactions = ofKind("compact")
  private val (readTail, readPct) = tail(reads.map(_.ms))
  private val (writeTail, writePct) = tail(writes.map(_.ms))

  /** Tail percentiles, and the write tail: too few writes per run for a
    * tail, so it is recorded but not a benchmark metric. */
  def tails: Seq[(String, Double)] =
    Seq("read_tail_pct" -> readPct, "write_tail_ms" -> writeTail, "write_tail_pct" -> writePct)

  private def tableDirs: Seq[File] = w.tables.map(t => new File(r.session.catalog.spec(t).path))
  private def files: Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    tableDirs.flatMap(walk)
  }

  def endToEnd(setupS: Double): Seq[(String, (Double, String))] = {
    val okWrites = writes.filter(_.error.isEmpty)
    Seq(
      "setup_s" -> (setupS, "s"),
      "read_p50_ms" -> (median(reads.map(_.ms)), "ms"),
      "read_tail_ms" -> (readTail, "ms"),
      "write_p50_ms" -> (median(writes.map(_.ms)), "ms"),
      "ingest_rows_per_s" ->
        (okWrites.map(_.lines.toDouble).sum / (okWrites.map(_.ms).sum / 1000.0), "1/s"),
      "flow_flush_p50_ms" -> (median(flushes.map(_.ms)), "ms"),
      "compact_p50_ms" -> (median(compactions.map(_.ms)), "ms"),
      "ops_per_s" -> (measured.size / phase.wallS, "1/s"),
      "stored_bytes_per_row" -> (files.map(_.length.toDouble).sum / w.liveRows, "B"))
  }

  // ---- traced run -------------------------------------------------------

  private def jobIv(p: SparkProbe, o: Op): Seq[(Long, Long)] =
    p.jobsOf(o.id).map { case (_, j) => (r.wallMsToNs(j.start), r.wallMsToNs(j.end)) }

  private def phaseMs(o: Op, names: String*): Double =
    o.catalyst.filter(c => names.contains(c._1)).map(c => (c._3 - c._2) / 1e6).sum

  private def sqlMs(o: Op): Double = (o.tSql - o.tPivot) / 1e6
  /** Wall inside sql() minus Catalyst parse and analysis and the jobs run
    * inside the call: the frontend's own rewriting and dispatch. */
  private def rewriteMs(p: SparkProbe, o: Op): Double = {
    val eager = union(jobIv(p, o).map { case (a, b) =>
      (math.max(a, o.tPivot), math.min(b, o.tSql)) }) / 1e6
    sqlMs(o) - phaseMs(o, "parsing", "analysis") - eager
  }

  def layers(p: SparkProbe): Seq[(String, (Double, String))] = {
    val ops = measured
    val n = ops.size.toDouble
    def perOp(f: Op => Double): Double = ops.map(f).sum / n
    def stages(o: Op) = p.stagesOf(o.id).map(_._2)
    def stageSum(o: Op)(f: p.Stage => Long): Double = stages(o).map(f).sum.toDouble
    val allStages = ops.flatMap(stages)
    def jobMs(o: Op) = union(jobIv(p, o)) / 1e6
    val weighted = allStages.filter(_.runMs > 0)
    val readRows = reads.map(_.rows).sum.toDouble
    val wFlush = flushes.map(o => p.jobsOf(o.id).size.toDouble)
    val files = this.files.filter(_.getName.endsWith(".parquet"))
    Seq(
      "sql.call_ms" -> (perOp(sqlMs), "ms"),
      "sql.rewrite_ms" -> (perOp(rewriteMs(p, _)), "ms"),
      "sql.eager_jobs" -> (perOp(o => p.jobsOf(o.id).count { case (_, j) =>
        val s = r.wallMsToNs(j.start); s >= o.tPivot && s <= o.tSql }.toDouble), "count"),
      "catalyst.parse_ms" -> (perOp(phaseMs(_, "parsing")), "ms"),
      "catalyst.analyze_ms" -> (perOp(phaseMs(_, "analysis")), "ms"),
      "catalyst.optimize_ms" -> (perOp(phaseMs(_, "optimization")), "ms"),
      "catalyst.plan_ms" -> (perOp(phaseMs(_, "planning")), "ms"),
      "spark.jobs" -> (perOp(o => p.jobsOf(o.id).size.toDouble), "count"),
      "spark.stages" -> (perOp(o => stages(o).size.toDouble), "count"),
      "spark.tasks" -> (perOp(o => stageSum(o)(_.tasks.toLong)), "count"),
      "spark.job_ms" -> (perOp(jobMs), "ms"),
      "spark.driver_gap_ms" -> (perOp(o => o.ms - jobMs(o)), "ms"),
      "spark.task_run_ms" -> (perOp(o => stageSum(o)(_.runMs)), "ms"),
      "spark.task_cpu_ms" -> (perOp(o => stageSum(o)(_.cpuNs) / 1e6), "ms"),
      "spark.task_gc_ms" -> (perOp(o => stageSum(o)(_.gcMs)), "ms"),
      "spark.max_task_share" -> (weighted.map(s => s.maxTaskMs.toDouble).sum /
        math.max(1.0, weighted.map(_.runMs.toDouble).sum), "ratio"),
      "spark.cores_busy_frac" ->
        (allStages.map(_.runMs.toDouble).sum / (phase.wallS * 1000.0 * cores), "ratio"),
      "spark.input_bytes" -> (perOp(o => stageSum(o)(_.inBytes)), "B"),
      "spark.input_rows" -> (perOp(o => stageSum(o)(_.inRows)), "count"),
      "spark.shuffle_write_bytes" -> (perOp(o => stageSum(o)(_.shufWrite)), "B"),
      "spark.shuffle_read_bytes" -> (perOp(o => stageSum(o)(_.shufRead)), "B"),
      "spark.spill_bytes" -> (perOp(o => stageSum(o)(_.spill)), "B"),
      "spark.output_bytes" -> (perOp(o => stageSum(o)(_.outBytes)), "B"),
      "spark.output_rows" -> (perOp(o => stageSum(o)(_.outRows)), "count"),
      "spark.rows_read_per_row_returned" ->
        (reads.flatMap(stages).map(_.inRows.toDouble).sum / math.max(1.0, readRows), "ratio"),
      "ingest.pivot_call_ms" -> (mean(writes.map(o => (o.tPivot - o.t0) / 1e6)), "ms"),
      "ingest.lines" -> (mean(writes.map(_.lines.toDouble)), "count"),
      "ingest.line_bytes" -> (mean(writes.map(_.lineBytes.toDouble)), "B"),
      "model.data_files" -> (files.size.toDouble, "count"),
      "model.bytes_on_disk" -> (this.files.map(_.length.toDouble).sum, "B"),
      "model.files_scanned" -> (mean(reads.map(_.filesScanned.toDouble)), "count"),
      "model.compaction_bytes_rewritten" ->
        (mean(compactions.map(o => p.stagesOf(o.id).map(_._2.outBytes.toDouble).sum)), "B"),
      "flow.flush_jobs" -> (mean(wFlush), "count"),
      "flow.flush_output_rows" ->
        (mean(flushes.map(o => p.stagesOf(o.id).map(_._2.outRows.toDouble).sum)), "count"),
      "proc.cpu_s" -> (phase.cpuS, "s"),
      "proc.gc_ms" -> (phase.gcMs.toDouble, "ms"),
      "proc.steal_frac" -> (phase.steal, "ratio"),
      "proc.loadavg" -> (phase.loadavg, "count"))
  }

  /** Per template of the measured phase and the segment after it: p50
    * latency and ops, and traced: jobs and stages per op, mean wall inside
    * sql() and its rewrite part, and the longest task's share of stage
    * task time. */
  def templates(probe: Option[SparkProbe]): Seq[(String, String)] =
    (measured ++ r.ops.filter(_.phase == "after")).groupBy(_.tpl).toSeq.sortBy(_._1).map {
        case (t, os) =>
      val base = Seq("p50_ms" -> Json.num(median(os.map(_.ms))), "ops" -> os.size.toString)
      val traced = probe.toSeq.flatMap { p =>
        val st = os.flatMap(o => p.stagesOf(o.id).map(_._2))
        Seq("jobs" -> Json.num(mean(os.map(o => p.jobsOf(o.id).size.toDouble))),
          "sql_ms" -> Json.num(mean(os.map(sqlMs))),
          "rewrite_ms" -> Json.num(mean(os.map(rewriteMs(p, _)))),
          "stages" -> Json.num(st.size.toDouble / os.size),
          "max_task_share" -> Json.num(st.map(_.maxTaskMs.toDouble).sum /
            math.max(1.0, st.map(_.runMs.toDouble).sum)))
      }
      t -> Json.obj(base ++ traced)
    }

  /** The span tree of every measured op: op → ingest.pivot, sql.call,
    * exec.action → catalyst phases and spark jobs → spark stages. A span
    * hangs under the deepest earlier span that contains its start. */
  def spanTree(p: SparkProbe): Seq[(Op, Seq[Span])] = {
    var id = 0
    def mk(parent: Int, op: Int, name: String, a: Long, b: Long): Span = {
      id += 1; Span(id, parent, op, name, a, math.max(a, b))
    }
    measured.map { o =>
      val out = mutable.ArrayBuffer.empty[Span]
      def add(name: String, a: Long, b: Long): Span = {
        val parent = out.filter(s => s.start <= a && a < s.end).lastOption
          .map(_.id).getOrElse(out.head.id)
        val s = mk(parent, o.id, name, a, b); out += s; s
      }
      out += mk(-1, o.id, "op", o.t0, o.t1)
      if (o.kind == "write") add("ingest.pivot", o.t0, o.tPivot)
      add("sql.call", o.tPivot, o.tSql)
      add("exec.action", o.tSql, o.t1)
      o.catalyst.foreach { case (n, a, b) => add(s"catalyst.$n", a, b) }
      p.jobsOf(o.id).sortBy(_._2.start).foreach { case (jid, j) =>
        val job = add("spark.job", r.wallMsToNs(j.start), r.wallMsToNs(j.end))
        p.stagesOf(o.id).filter(_._2.job == jid).sortBy(_._2.start).foreach { case (_, s) =>
          id += 1
          out += Span(id, job.id, o.id, "spark.stage", r.wallMsToNs(s.start),
            math.max(r.wallMsToNs(s.start), r.wallMsToNs(s.end)))
        }
      }
      (o, out.toSeq)
    }
  }

  /** Mean self time per measured op, by span name. */
  def selfByLayer(p: SparkProbe): Seq[(String, Double)] = {
    val tree = spanTree(p)
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    tree.foreach { case (_, spans) =>
      val self = Span.selfTimes(spans)
      spans.foreach(s => sums(s.name) += self(s.id) / 1e6)
    }
    sums.toSeq.sortBy(_._1).map { case (k, v) => k -> v / math.max(1, tree.size) }
  }

  def spans(p: SparkProbe): Seq[String] = spanTree(p).flatMap { case (o, spans) =>
    val self = Span.selfTimes(spans)
    spans.map(s => Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "op" -> s.op.toString, "tpl" -> Json.str(o.tpl), "name" -> Json.str(s.name),
      "start_ms" -> Json.num(s.start / 1e6), "end_ms" -> Json.num(s.end / 1e6),
      "self_ms" -> Json.num(self(s.id) / 1e6))))
  }
}
