package userbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The user-path benchmark: one JVM, Spark local[N] with N = cores, one
  * client thread in a closed loop. Prints one JSON object as the last
  * line of stdout and writes the full record (and, traced, the spans)
  * under `--out`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <dir> */
object Main {
  /** A measured phase with more hypervisor steal than this is discarded
    * and measured again. */
  val StealBound = 0.10
  val MaxAttempts = 2
  /** A phase runs at least this many rounds, so a slow machine changes
    * its length but not which ops it samples. */
  val MinRounds = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = new File(need("work")).getAbsoluteFile
    val out = new File(need("out")).getAbsoluteFile
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    out.mkdirs()
    val result = try run(workload, seed, seconds, traced, work, out)
      finally deleteTree(work)
    println(result)
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("userbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(name: String, seed: Long, seconds: Double, traced: Boolean,
      work: File, out: File): String = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, work)
    try {
      val probe = if (traced) {
        val p = new SparkProbe
        spark.sparkContext.addSparkListener(p)
        Some(p)
      } else None
      val r = new Runner(spark.sparkContext, traced)
      val initS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val w = Workloads(name, seed, spark, new File(work, "wh").getPath)
      w.load(r)
      w.round(r) // warm-up
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

      // measured phase: whole rounds until `seconds` have passed and at
      // least MinRounds ran; a phase with steal above the bound is
      // discarded and measured again
      val attempts = mutable.ArrayBuffer.empty[Phase]
      while (attempts.isEmpty ||
          (attempts.last.steal > StealBound && attempts.size < MaxAttempts)) {
        r.phase = s"run${attempts.size}"
        val ticks0 = Proc.cpuTicks(); val cpu0 = Proc.cpuSeconds(); val gc0 = Proc.gcMs()
        val start = r.now
        var rounds = 0
        while (rounds < MinRounds || r.now - start < seconds * 1e9) { w.round(r); rounds += 1 }
        val end = r.now
        attempts += Phase(r.phase, start, end, Proc.stealFrac(ticks0, Proc.cpuTicks()),
          Proc.loadavg(), Proc.cpuSeconds() - cpu0, Proc.gcMs() - gc0)
      }
      val phase = attempts.last
      r.phase = "after"
      w.after(r)
      val valid = phase.steal <= StealBound
      if (!valid) System.err.println(
        f"[userbench] steal ${phase.steal}%.3f stayed above $StealBound after $MaxAttempts attempts")

      System.err.println(f"[userbench] measured ${phase.wallS}%.1f s; setup $setupS%.1f s")
      probe.foreach(_ => org.apache.spark.UserbenchBus.drain(spark.sparkContext))
      val m = new Metrics(r, w, phase, cores, probe)
      val e2e = m.endToEnd(setupS)
      val attempted = r.ops.count(_.kind != "ddl")
      val failed = r.ops.count(o => o.kind != "ddl" && o.error.isDefined)
      val layers = probe.map(p => m.layers(p)).getOrElse(Seq.empty)
      val tag = s"$name-s$seed-t${if (traced) 1 else 0}"

      val record = Json.obj(Seq(
        "workload" -> Json.str(name), "seed" -> seed.toString, "traced" -> traced.toString,
        "cores" -> cores.toString, "valid" -> valid.toString,
        "attempted" -> attempted.toString, "failed" -> failed.toString,
        "failed_frac" -> Json.num(failed.toDouble / math.max(1, attempted)),
        "init_s" -> Json.num(initS),
        "attempts" -> Json.arr(attempts.toSeq.map(_.json)),
        "tails" -> Json.obj(m.tails.map { case (k, v) => k -> Json.num(v) }),
        "end_to_end" -> Json.obj(e2e.map { case (k, (v, u)) => k -> Json.num(v) }),
        "per_layer" -> Json.obj(layers.map { case (k, (v, _)) => k -> Json.num(v) }),
        "templates" -> Json.obj(m.templates(probe)),
        "layer_self_ms" -> probe.map(p => Json.obj(m.selfByLayer(p).map {
          case (k, v) => k -> Json.num(v) })).getOrElse("{}"),
        "ops" -> Json.arr(r.ops.toSeq.map(o => Json.arr(Seq(Json.str(o.phase), Json.str(o.tpl),
          Json.num(o.ms))))),
        "errors" -> Json.arr(r.ops.flatMap(o => o.error.map(e =>
          Json.str(s"${o.tpl}: ${e.take(300)}"))).take(20).toSeq)))
      Files.write(new File(out, s"$tag.json").toPath, (record + "\n").getBytes(UTF_8))
      probe.foreach(p => Files.write(new File(out, s"$tag-spans.jsonl").toPath,
        m.spans(p).map(_ + "\n").mkString.getBytes(UTF_8)))

      System.err.println(f"[userbench] recorded at ${r.now / 1e9}%.1f s")
      val metrics = if (traced) layers else e2e
      Json.obj(Seq("correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    } finally {
      spark.stop()
      System.err.println(f"[userbench] stopped at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** One measured phase: its op phase tag, bounds (runner ns) and stamps. */
final case class Phase(tag: String, start: Long, end: Long, steal: Double,
    loadavg: Double, cpuS: Double, gcMs: Long) {
  def wallS: Double = (end - start) / 1e9
  def json: String = Json.obj(Seq("phase" -> Json.str(tag), "wall_s" -> Json.num(wallS),
    "steal_frac" -> Json.num(steal), "loadavg" -> Json.num(loadavg),
    "cpu_s" -> Json.num(cpuS), "gc_ms" -> gcMs.toString))
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
