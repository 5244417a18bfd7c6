package graft.tools

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.ProbeBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.{Runtime, SparkEntry, Tables}
import graft.ingest.Protocols
import graft.multimodal.Multimodal
import graft.operators._
import graft.promql.PromQL
import graft.queries.{LlmQueries, QueryDsl}

/** The measurement harness behind the scale and profiling tables in
  * BENCH_NOTES.md. It lives in the test source set, outside the engine
  * jar:
  *
  * {{{
  * sbt "Test/runMain graft.tools.Probe profile <entry> [reps]"
  * sbt "Test/runMain graft.tools.Probe plan <tag> <suffix> <entry...>"
  * sbt "Test/runMain graft.tools.Probe growth <family> [dir...] [key=value...]"
  * sbt "Test/runMain graft.tools.Probe fan [src] [out] [evFan] [docFan]"
  * }}}
  *
  * As for Bench, SPARK_GRAFT_CPUS sets the core count (default 32) and
  * SPARK_GRAFT_SF_DIR the data dir of `profile` and `plan` (default
  * sf0.1). Every measured op prints one line from one listener: wall,
  * jobs, stages, tasks, shuffle write, the largest task input, process
  * CPU, GC and hypervisor steal over the op. */
object Probe {
  private val Sf01 = "/root/testdata/sf0.1"

  /** What one op cost. The counters are deltas read after the listener
    * bus drained, so they are exact. */
  final case class Sample(wall: Double, jobs: Long, stages: Long, tasks: Long,
      shuffleBytes: Long, shuffleRows: Long, maxTaskRows: Long,
      cpuS: Double, gcS: Double, steal: Double) {
    override def toString: String =
      f"wall=$wall%.2f s jobs=$jobs stages=$stages tasks=$tasks " +
        f"shuffleMB=${shuffleBytes / 1e6}%.3f shuffleMrows=${shuffleRows / 1e6}%.4f " +
        f"maxTaskRows=$maxTaskRows cpu=$cpuS%.1f s gc=$gcS%.2f s steal=$steal%.3f"
  }

  /** The one listener and the one measurement loop. */
  final class Meter(val spark: SparkSession) extends SparkListener {
    var tag = "probe"
    var last: Sample = _
    // jobs, stages, tasks, shuffle bytes, shuffle rows
    private val counts = Array.fill(5)(new AtomicLong)
    private val maxTaskRows = new AtomicLong
    private val started = new ConcurrentHashMap[Int, (Long, String)]()
    /** One line per job of the last measured op. */
    val jobLines = new ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(this)

    // SQL execution id -> its call site ("collect at X.scala:N"): names
    // the statement step behind jobs that AQE submits from its own threads
    private val execSites = new ConcurrentHashMap[String, String]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId.toString, s.description): Unit
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      counts(0).incrementAndGet()
      val props = Option(e.properties)
      val site = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSites.get(id))))
        .orElse(e.stageInfos.lastOption.flatMap(_.details.linesIterator
          .find(l => l.contains("graft") && !l.contains("Probe"))))
        .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
      started.put(e.jobId, (e.time, s"stages=${e.stageInfos.size} " +
        s"tasks=${e.stageInfos.map(_.numTasks).sum} ${site.trim.take(100)}"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(started.remove(e.jobId)).foreach { case (t0, desc) =>
        jobLines.add(f"[job] ${e.jobId}%4d ${e.time - t0}%7d ms $desc")
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      counts(1).incrementAndGet()
      val w = e.stageInfo.taskMetrics.shuffleWriteMetrics
      counts(3).addAndGet(w.bytesWritten)
      counts(4).addAndGet(w.recordsWritten)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counts(2).incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        val rows = math.max(m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead)
        maxTaskRows.accumulateAndGet(rows, (a, b) => math.max(a, b))
      }
    }

    private def drained(): Array[Long] = {
      ProbeBus.drain(spark.sparkContext)
      counts.map(_.get)
    }

    /** Runs `f` once and records its cost in `last`. */
    def measure[A](f: => A): A = {
      val before = drained()
      maxTaskRows.set(0)
      jobLines.clear()
      val (cpu0, gc0, st0) = (cpuSec(), gcSec(), cpuStat())
      val t0 = System.nanoTime()
      val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      val d = drained().zip(before).map { case (a, b) => a - b }
      val st1 = cpuStat()
      last = Sample(wall, d(0), d(1), d(2), d(3), d(4), maxTaskRows.get,
        cpuSec() - cpu0, gcSec() - gc0,
        (st1._1 - st0._1).toDouble / math.max(1L, st1._2 - st0._2))
      r
    }

    /** Measures `f` once and prints its line; counts and tuples of
      * counts that `f` returns print as `out=`. */
    def time[A](label: String)(f: => A): A = {
      val r = measure(f)
      val out = r match {
        case _: Number | _: Product => s" out=$r"
        case _ => ""
      }
      println(s"[$tag] $label $last$out")
      r
    }

    /** Warms `f` once, then measures it `n` times and prints the fastest
      * run (also left in `last`) with every run's wall. */
    def best(label: String, n: Int)(f: => Any): Unit = {
      f
      val runs = (1 to n).map { _ => measure(f); last }
      last = runs.minBy(_.wall)
      println(s"[$tag] $label $last passes=${runs.map(s => f"${s.wall}%.2f").mkString(",")}")
    }
  }

  // whole-process CPU seconds: stolen cycles inflate wall, not these
  private def cpuSec(): Double = {
    val t = read("/proc/self/stat").split(" ")
    (t(13).toDouble + t(14).toDouble) / 100.0
  }
  private def gcSec(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
  /** (steal, total) jiffies of all CPUs, from the first line of /proc/stat. */
  private def cpuStat(): (Long, Long) = {
    val v = read("/proc/stat").linesIterator.next().split("\\s+").slice(1, 9).map(_.toLong)
    (v(7), v.sum)
  }
  private def read(path: String): String = {
    val s = scala.io.Source.fromFile(path)
    try s.mkString finally s.close()
  }

  /** Materializes every output column, as Bench does: count() would let
    * Catalyst prune per-row projections and time a bare scan. */
  private def checksum(df: DataFrame): Unit = {
    df.select(bit_xor(xxhash64(df.columns.map(col): _*))).collect()
    ()
  }

  private def sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Sf01)

  def main(args: Array[String]): Unit = {
    val spark = Runtime.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val m = new Meter(spark)
    try args.toList match {
      case "profile" :: entry :: reps => profile(m, entry, reps.headOption.fold(2)(_.toInt))
      case "plan" :: tag :: suffix :: entries => plan(spark, tag, suffix, entries)
      case "growth" :: family :: rest => growth(m, family, rest)
      case "fan" :: rest => fan(spark, rest)
      case _ =>
        System.err.println("usage: Probe profile <entry> [reps] | plan <tag> <suffix> <entry...> | " +
          s"growth <${Families.keys.toSeq.sorted.mkString("|")}> [dir...] [key=value...] | " +
          "fan [src] [out] [evFan] [docFan]")
        sys.exit(2)
    } finally spark.stop()
  }

  /** One line per rep (the entry built and checksummed end to end, as
    * Bench times it) and one line per Spark job of that rep. */
  def profile(m: Meter, entry: String, reps: Int): Unit = {
    m.tag = "profile"
    val q = SparkEntry.queries(entry)
    for (r <- 1 to reps) {
      m.time(s"$entry rep=$r")(checksum(q(m.spark, sfDir)))
      m.jobLines.forEach(l => println(l))
      m.spark.catalog.clearCache()
    }
  }

  /** Writes each entry's formatted physical plan to
    * plans/<tag>/<entry>_<suffix>.txt. Entries that pre-execute work
    * (index builds, writes) run it while the frame is built; the plan is
    * the returned frame's. */
  def plan(spark: SparkSession, tag: String, suffix: String, entries: Seq[String]): Unit = {
    val outDir = new File(s"plans/$tag")
    outDir.mkdirs()
    for (name <- entries) {
      try {
        val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        val f = new File(outDir, s"${name}_$suffix.txt")
        val w = new java.io.PrintWriter(f)
        try w.write(txt) finally w.close()
        println(s"[plan] wrote ${f.getPath} (${txt.length} chars)")
      } catch { case NonFatal(e) => println(s"[plan] $name FAILED: ${e.getMessage}") }
    }
  }

  /** A growth family: the dirs it runs on by default ("" for a synthetic
    * fixture) and its ops, run once per dir with the key=value args. */
  final case class Family(dirs: Seq[String], run: (Meter, Map[String, String], String) => Unit)
  private val Synthetic = Seq("")

  def growth(m: Meter, family: String, args: Seq[String]): Unit = {
    val fam = Families.getOrElse(family,
      sys.error(s"unknown family $family; one of ${Families.keys.toSeq.sorted.mkString(", ")}"))
    val (kv, dirArgs) = args.partition(_.contains("="))
    val opts = kv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    m.tag = family
    for (dir <- if (dirArgs.nonEmpty) dirArgs else fam.dirs) {
      if (dir.nonEmpty && !new File(dir).isDirectory) println(s"[$family] skip $dir: no such dir")
      else {
        if (dir.nonEmpty) println(s"[$family] dir=$dir")
        fam.run(m, opts, dir)
        m.spark.catalog.clearCache()
      }
    }
  }

  private def long(o: Map[String, String], k: String, d: Long) = o.get(k).fold(d)(_.toLong)
  private def longs(o: Map[String, String], k: String, d: Seq[Long]) =
    o.get(k).fold(d)(_.split(",").map(_.trim.toLong).toSeq)

  /** Ranked ids per query from (q_id, vec_id, rank) rows. */
  private def topK(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
    }
  private def recall(exact: Map[Long, Seq[Long]], got: Map[Long, Seq[Long]]): Double = {
    val per = exact.toSeq.map { case (q, e) =>
      (e.toSet intersect got.getOrElse(q, Nil).toSet).size.toDouble / e.size
    }
    per.sum / per.size
  }
  private def events(m: Meter, dir: String, series: String): DataFrame =
    Tables.load(m.spark, dir, "events").select(col(series).cast("string").as("series"),
      (col("ts") / 1000000L).cast("long").as("ms"), col("value").cast("double").as("v"))
  private def lineProtocol(events: DataFrame): DataFrame = events.select(concat(
    lit("events,type="), col("event_type"), lit(" value="), col("value").cast("decimal(18,4)"),
    lit(",user="), col("user_id"), lit("i "), col("ts")).as("line"))
  private def docs(m: Meter, dir: String) =
    m.spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
  private def perturbed(emb: DataFrame, ids: org.apache.spark.sql.Column, idOffset: Long) =
    emb.filter(ids).select((col("vec_id") + idOffset).as("q_id"),
      transform(col("embedding"), (x, j) =>
        x * (lit(1.0f) + ((j % 5) - 2).cast("float") * lit(0.008f))).as("q_vec"))

  /** Each family reproduces one row group of README's scale evidence
    * index; BENCH_NOTES.md names the old probe each one replaced. */
  val Families: Map[String, Family] = Map(
    // rate(x[1h]) at 15 s step is a 240x grid fan-out: grid-explode vs
    // the per-series fold. foldonly=1 skips the explode side (~17 min
    // at 100x events).
    "promql" -> Family(Seq(Sf01), (m, o, dir) => {
      val (step, range) = (long(o, "step", 15000L), long(o, "range", 3600000L))
      val ev = events(m, dir, o.getOrElse("label", "event_type"))
      val b = ev.agg(min(col("ms")), max(col("ms"))).head
      val metric = PromQL.Metric(ev, "ms", "v", Seq("series"))
      val p = PromQL.EvalParams(startMs = b.getLong(0), endMs = b.getLong(1), stepMs = step)
      println(s"[promql] span=${(b.getLong(1) - b.getLong(0)) / 1000}s ratio=${range / step}")
      val saved = PromQL.GridFanoutMax
      try for ((side, fanoutMax) <- Seq("gridExplode" -> Long.MaxValue, "fold" -> 1L)
          if side == "fold" || !o.contains("foldonly")) {
        PromQL.GridFanoutMax = fanoutMax
        m.best(side, 1)(PromQL.rangeFn("rate", metric, p, range).df.count())
      } finally PromQL.GridFanoutMax = saved
    }),
    // p50/p90 RANGE '1h' ALIGN '15s': slot explode vs FoldAgg sweep;
    // scale=N adds N time-jittered copies of every event
    "range" -> Family(Seq(Sf01), (m, o, dir) => {
      val (align, range) = (long(o, "align", 15000L), long(o, "range", 3600000L))
      val scale = long(o, "scale", 1L)
      var ev = events(m, dir, o.getOrElse("by", "event_type"))
      if (scale > 1) ev = ev.crossJoin(m.spark.range(scale).select(col("id").as("__rep")))
        .withColumn("ms", col("ms") + col("__rep") * 7L).drop("__rep")
      ev = ev.repartition(32).persist()
      println(s"[range] events=${ev.count()} ratio=${range / align}")
      m.best("explode", 1)(RangeSelect(ev, "ms", Seq("series"), align, range, Seq(
        RangeSelect.RangeAgg("p50", ctx => percentile(ctx.value("v"), lit(0.5))),
        RangeSelect.RangeAgg("p90", ctx => percentile(ctx.value("v"), lit(0.9))))).count())
      m.best("fold", 1)(RangeSelect(ev, "ms", Seq("series"), align, range, Nil, foldAggs = Seq(
        RangeSelect.FoldAgg("p50", "v", RangeFolds.percentileCont(0.5)),
        RangeSelect.FoldAgg("p90", "v", RangeFolds.percentileCont(0.9)))).count())
      ev.unpersist()
    }),
    "dedup" -> Family(Seq(Sf01), (m, _, dir) => {
      val d = m.spark.read.parquet(s"$dir/documents.parquet")
      val n = d.count()
      m.time(s"minhash_lsh docs=$n")(Dedup.minhashPairs(d, "text", "doc_id").count())
      m.time(s"ngram_jaccard docs=$n")(Dedup.ngramJaccardPairs(d, "text", "doc_id").count())
    }),
    // ngram verify: broadcast (small) path vs the forced scale path
    "ngram" -> Family(Seq(Sf01), (m, _, dir) => {
      val d = m.spark.read.parquet(s"$dir/documents.parquet")
      d.count()
      for ((path, boundary) <- Seq("small-path" -> Long.MaxValue, "scale-path" -> 0L)) {
        m.spark.conf.set(Dedup.VerifyBroadcastMinDocsKey, boundary.toString)
        try m.best(path, 3)(Dedup.ngramJaccardPairs(d, "text", "doc_id").count())
        finally m.spark.conf.unset(Dedup.VerifyBroadcastMinDocsKey)
      }
    }),
    // n (default 2M) synthetic 64-dim embeddings around 4096
    // hash-derived centers, 64 self-queries; IVF built once, served at
    // nprobe 4/8/16, recall@10 against brute force
    "ann" -> Family(Synthetic, (m, o, _) => {
      val (n, nq, k) = (long(o, "n", 2000000L), 64, 10)
      val emb = m.spark.range(n).select(col("id").as("vec_id"),
        expr(s"""transform(sequence(0, 63), j -> cast(
          cast(xxhash64(id % 4096, j) % 1000000 as double) / 1000000.0
          + cast(xxhash64(id, j, 7) % 1000000 as double) / 1000000.0 * 0.6
          as float))""").as("embedding")).persist()
      emb.count()
      val queries = emb.filter(col("vec_id") % lit(n / nq) === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")).persist()
      queries.count()
      def ranked(df: DataFrame) = df.select(col("q_id"), col("vec_id"), col("rank")).collect()
      val exact = topK(m.time(s"brute n=$n q=$nq")(ranked(Similarity.bruteForceTopKBatch(
        emb, "embedding", "vec_id", queries, "q_vec", "q_id", k))))
      val (cellsRaw, cents) = Similarity.ivfIndex(emb, "embedding", "vec_id", 64)
      val cells = m.time("ivf build c=64") { val c = cellsRaw.persist(); c.count(); c }
      for (nprobe <- Seq(4, 8, 16)) {
        val got = topK(m.time(s"ivf serve np=$nprobe")(ranked(Similarity.ivfSearchIndexed(
          cells, cents, "embedding", "vec_id", queries, "q_vec", "q_id", k, nprobe))))
        println(f"[ann] ivf np=$nprobe recall@$k = ${recall(exact, got)}%.3f")
      }
    }),
    // brute vs LSH vs IVF top-k over an embeddings dir, recall vs brute
    "similarity" -> Family(Seq(Sf01), (m, o, dir) => {
      val (k, nq) = (long(o, "k", 10L).toInt, long(o, "nq", 16L))
      val emb = m.spark.read.parquet(s"$dir/embeddings.parquet").cache()
      val n = emb.count()
      val queries = emb.orderBy(col("vec_id")).limit(n.toInt)
        .filter(col("vec_id") % lit(math.max(1L, n / nq)) === 0).limit(nq.toInt)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")).cache()
      queries.count()
      def run(label: String)(df: => DataFrame) = topK(m.time(s"$label corpus=$n")(
        df.select(col("q_id"), col("vec_id"), col("rank")).collect()))
      val exact = run("brute")(Similarity.bruteForceTopKBatch(
        emb, "embedding", "vec_id", queries, "q_vec", "q_id", k))
      val lsh = run("lsh")(Similarity.lshTopK(emb, "embedding", "vec_id", queries,
        "q_vec", "q_id", k, maxFlips = long(o, "flips", 3L).toInt))
      println(f"[similarity] lsh recall@$k = ${recall(exact, lsh)}%.3f")
      val ivf = run("ivf")(Similarity.ivfTopK(emb, "embedding", "vec_id", queries,
        "q_vec", "q_id", k, ncentroids = 16, nprobe = long(o, "nprobe", 2L).toInt))
      println(f"[similarity] ivf recall@$k = ${recall(exact, ivf)}%.3f")
    }),
    // the curation entries, warm best-of-2, full-output checksum.
    // ops=a,b runs a subset: checkpoint-heavy ops inflate later ones in
    // the same JVM, so decade tables run one op per JVM.
    "curation" -> Family(Seq(Sf01, "/tmp/graft_cur10", "/tmp/graft_cur100"), (m, o, dir) => {
      val only = o.get("ops").map(_.split(",").map(_.trim).toSet)
      for (op <- Seq("text_repetition", "text_pii_redact", "text_tfidf", "cluster_kmeans",
          "dedup_boilerplate", "text_decontaminate", "text_substring_dedup",
          "text_substring_keep1", "pack_sequences", "dedup_two_level")
          if only.forall(_.contains(op))) {
        m.best(op, 2)(checksum(SparkEntry.queries(op)(m.spark, dir)))
        m.spark.catalog.clearCache()
      }
    }),
    // SemDeDup's pair stage is O(n^2/k): sweep k at a fixed corpus
    "semdedup" -> Family(Seq("/tmp/graft_cur10"), (m, _, dir) => {
      val emb = m.spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      for (k <- Seq(10, 40, 160))
        m.time(s"n=$n k=$k")(Clustering.semanticDedupPairs(emb, "embedding", "vec_id",
          threshold = 0.40, k = k, iters = 3).count())
    }),
    // synthetic edge lists: 8-node cliques (diameter 1) and 16-node
    // chains (diameter 15). edges=a,b sets the sizes; ckpt=<dir> runs
    // the reliable-checkpoint path of Lineage.truncate.
    "cc" -> Family(Synthetic, (m, o, _) => {
      o.get("ckpt").foreach(m.spark.conf.set("graft.checkpoint.dir", _))
      for (nEdges <- longs(o, "edges", Seq(1000000L, 10000000L)); block <- Seq(8, 16)) {
        val blocks = m.spark.range(nEdges / (if (block == 8) 28 else 15)).select(col("id").as("b"))
        val edges =
          if (block == 8) blocks.select(col("b"), explode(expr(
              "flatten(transform(sequence(0, 6), i -> " +
                "transform(sequence(i + 1, 7), j -> struct(i, j))))")).as("p"))
            .select((col("b") * 8 + col("p.i")).as("id_a"), (col("b") * 8 + col("p.j")).as("id_b"))
          else blocks.select(col("b"), explode(sequence(lit(0), lit(14))).as("i"))
            .select((col("b") * 16 + col("i")).as("id_a"), (col("b") * 16 + col("i") + 1).as("id_b"))
        val e = edges.persist()
        val shape = if (block == 8) "8-clique" else "16-chain"
        m.time(s"$shape edges=${e.count()} comps")(Dedup.connectedComponents(e, "id_a", "id_b")
          .select(countDistinct(col("comp"))).first().getLong(0))
        e.unpersist()
      }
    }),
    // the shared near-dup pipeline body at 1x/10x/100x the entry's
    // 3000-asset fixture (caps=a,b); out = (components, rows)
    "neardup" -> Family(Seq(Sf01), (m, o, dir) => {
      val ev = Tables.load(m.spark, dir, "events")
      for (cap <- longs(o, "caps", Seq(3000L, 30000L, 300000L))) {
        val assets = Multimodal.nearDupImageAssets(m.spark, ev.filter(col("event_id") < cap))
        val n = assets.count()
        m.time(s"cap=$cap assets=$n") {
          val out = LlmQueries.nearDupPipeline(assets)
          (out.select(col("canonical_id")).distinct().count(), out.count())
        }
      }
    }),
    // a fixed 5k-doc shard arriving at the index built from the rest:
    // arrival vs full recompute (must agree), three sequential
    // arrivals into a growing index, and the chunked large-shard serve
    "incdedup" -> Family(Seq(Sf01, "/tmp/graft_scale"), (m, _, dir) => {
      val shardRows = 5000L
      val d = docs(m, dir)
      val maxId = d.agg(max("doc_id")).head.getLong(0)
      val cut = maxId - shardRows
      val (accepted, shard) = (d.filter(col("doc_id") <= cut), d.filter(col("doc_id") > cut))
      val idx = QueryDsl.tempDirCleanedOnExit("graft_incprobe")
      m.time(s"build index=${accepted.count()}")(
        Dedup.minhashIndexWrite(accepted, "text", "doc_id", s"$idx/one"))
      def arrival() = Dedup.minhashDedupIncremental(shard, "text", "doc_id", s"$idx/one",
        threshold = 0.5).filter(col("is_dup")).count()
      val dups = m.time(s"arrival shard=${shard.count()}")(arrival())
      val full = m.time("recompute")(Dedup.minhashDedup(d, "text", "doc_id", threshold = 0.5)
        .filter(col("is_dup") && col("doc_id") > cut).count())
      require(dups == full, s"equivalence broke: incremental=$dups full=$full")
      val cut3 = maxId - 3 * shardRows
      if (cut3 <= 0) println("[incdedup] multi-arrival skipped: corpus smaller than 3 shards")
      else {
        Dedup.minhashIndexWrite(d.filter(col("doc_id") <= cut3), "text", "doc_id", s"$idx/three")
        for (a <- 1 to 3) {
          val sh = d.filter(col("doc_id") > cut3 + (a - 1) * shardRows &&
            col("doc_id") <= cut3 + a * shardRows)
          m.time(s"multi arrival=$a") {
            val v = Dedup.minhashDedupIncremental(sh, "text", "doc_id", s"$idx/three",
              threshold = 0.5).filter(col("is_dup")).count()
            Dedup.minhashIndexAppend(sh, "text", "doc_id", s"$idx/three")
            v
          }
        }
      }
      // a boundary of shard/10 forces ten bounded broadcast passes; the
      // index must still never shuffle
      m.spark.conf.set(Dedup.IncrementalBroadcastMaxDocsKey, (shardRows / 10).toString)
      try {
        val large = m.time("large-shard 10 chunks")(arrival())
        require(large == dups, s"large-shard path diverged: $large vs single-pass $dups")
        require(m.last.shuffleBytes < 200e6,
          s"chunked path shuffled ${m.last.shuffleBytes / 1e6} MB: index-sized, not shard-sized")
      } finally m.spark.conf.unset(Dedup.IncrementalBroadcastMaxDocsKey)
    }),
    // one stratum holding the whole corpus: the two-phase prefix sum
    // must keep maxTaskRows near docs/partitions
    "tokbudget" -> Family(Synthetic, (m, _, _) => {
      for (n <- Seq(500000L, 5000000L)) {
        val d = m.spark.range(n).select(col("id"), lit(0L).as("src"),
          (col("id") % 97 + 3).as("toks")).persist()
        d.count()
        m.time(s"docs=$n fair=${n / m.spark.conf.get("spark.sql.shuffle.partitions").toLong} kept")(
          Sampling.tokenBudget(d, col("src"), col("id"), col("toks"), budgetPerStratum = n * 13)
            .filter(col("kept")).count())
        d.unpersist()
      }
    }),
    // the composed two-index arrival (exact digests, then MinHash over
    // the survivors) and decontaminate_semantic's IVF serve, each with a
    // fixed input against a growing corpus
    "pipeline" -> Family(Seq("/tmp/graft_s10", "/tmp/graft_s100"), (m, _, dir) => {
      val d = docs(m, dir)
      val cut = d.agg(max("doc_id")).head.getLong(0) - 5000L
      val (accepted, shard) = (d.filter(col("doc_id") <= cut), d.filter(col("doc_id") > cut))
      val tmp = QueryDsl.tempDirCleanedOnExit("graft_pgrow")
      val (dIdx, mIdx) = (s"$tmp/digests", s"$tmp/sigs")
      m.time(s"two-index build index=${accepted.count()}") {
        val be = Lineage.truncate(Dedup.exact(accepted, "text", "doc_id"))
        Dedup.exactIndexWrite(accepted, "text", "doc_id", dIdx)
        Dedup.minhashIndexWrite(be.filter(!col("is_dup")).drop("is_dup"), "text", "doc_id", mIdx)
      }
      m.time(s"two-index arrival shard=${shard.count()} dups") {
        val e = Lineage.truncate(Dedup.exactDedupIncremental(shard, "text", "doc_id", dIdx))
        val surv = e.filter(!col("is_dup")).drop("is_dup")
        val n = Dedup.minhashDedupIncremental(surv, "text", "doc_id", mIdx, threshold = 0.5)
        Dedup.exactIndexWrite(shard, "text", "doc_id", dIdx, mode = "append")
        Dedup.minhashIndexAppend(surv, "text", "doc_id", mIdx)
        e.filter(col("is_dup")).count() + n.filter(col("is_dup")).count()
      }
      val emb = m.spark.read.parquet(s"$dir/embeddings.parquet")
      // the sf0.1 corpus's vec_id%17==3 rows, kept by every fan
      val probes = perturbed(emb, col("vec_id") % 17 === 3 && col("vec_id") < 2000, 200000L)
      m.time(s"decon ivf build corpus=${emb.count()}")(
        Similarity.ivfIndexWrite(emb, "embedding", "vec_id", 16, s"$tmp/ivf"))
      m.time(s"decon serve probes=${probes.count()} flagged") {
        val (cells, cents) = Similarity.ivfIndexRead(m.spark, s"$tmp/ivf")
        Similarity.ivfContaminated(cells, cents, "embedding", "vec_id", probes, "q_vec", "q_id",
          threshold = 0.99, nprobe = 4).count()
      }
    }),
    // IVF serve from the just-built lazy index vs the persisted one
    // read back in a fresh session
    "ivf" -> Family(Seq(Sf01), (m, _, dir) => {
      def probes(s: SparkSession) = perturbed(s.read.parquet(s"$dir/embeddings.parquet"),
        col("vec_id") >= 5 && col("vec_id") < 10, 0L)
      val emb = m.spark.read.parquet(s"$dir/embeddings.parquet")
      val idx = QueryDsl.tempDirCleanedOnExit("ivfprobe") + "/ivf"
      m.time("build+write")(Similarity.ivfIndexWrite(emb, "embedding", "vec_id", 16, idx))
      m.time("build+serve in memory")(Similarity.ivfTopK(emb, "embedding", "vec_id",
        probes(m.spark), "q_vec", "q_id", k = 1, ncentroids = 16, nprobe = 2).count())
      for (pass <- 1 to 3) {
        val s2 = m.spark.newSession()
        m.time(s"disk serve pass=$pass") {
          val (cells, cents) = Similarity.ivfIndexRead(s2, idx)
          Similarity.ivfSearchIndexed(cells, cents, "embedding", "vec_id", probes(s2),
            "q_vec", "q_id", k = 1, nprobe = 2).count()
        }
      }
    }),
    // the five-batch streaming curation entry, beside a baseline of the
    // ~4 single-task corpus copies its fixture stages before the stream
    // starts; out = (sink rows, kept doc rows)
    "flowcur" -> Family(Seq(Sf01, "/tmp/graft_inc10"), (m, _, dir) => {
      val d = m.spark.read.parquet(s"$dir/documents.parquet")
      val scratch = QueryDsl.tempDirCleanedOnExit("fcs_stage")
      m.time(s"staging-baseline docs=${d.count()}")((0 until 4).foreach(i =>
        d.select(col("doc_id"), col("source"), col("text")).coalesce(1).write.parquet(s"$scratch/b$i")))
      m.time("flow_stream_curation") {
        val out = SparkEntry.queries("flow_stream_curation")(m.spark, dir).collect()
        (out.length, out.map(_.getLong(2)).sum)
      }
    }),
    // line-protocol parse, pivot and aggregate, step by step
    "influx" -> Family(Seq("/tmp/graft_scale"), (m, _, dir) => {
      val lines = lineProtocol(Tables.load(m.spark, dir, "events"))
      m.time("build")(lines.count())
      val parsed = Protocols.fromInfluxLines(lines, "line")
      m.time("parse")(parsed.count())
      m.time("parse again")(parsed.count())
      val wide = Protocols.pivotMeasurement(parsed, "events")
      m.time("pivot")(wide.count())
      m.time("project only")(wide.select(col("type")).count())
      m.time("direct filter agg")(parsed.filter(col("measurement") === "events")
        .groupBy(element_at(col("tags"), "type"))
        .agg(sum(element_at(col("fields_num"), "value"))).count())
      val agg = wide.groupBy(col("type")).agg(count(lit(1)))
      m.time("agg count-only")(agg.count())
      println(agg.queryExecution.executedPlan.toString.take(2500))
    }),
    // bulk influxPivoted + the bench's aggregation over a persisted line
    // source (parse cost only), exhaustive vs sampled schema discovery;
    // scale=N adds N ts-shifted copies
    "ingest" -> Family(Seq(Sf01), (m, o, dir) => {
      val scale = long(o, "scale", 1L)
      var src = Tables.load(m.spark, dir, "events")
      if (scale > 1) src = src.crossJoin(m.spark.range(scale).select(col("id").as("__rep")))
        .withColumn("ts", col("ts") + col("__rep")).drop("__rep")
      val lines = lineProtocol(src).repartition(32).persist()
      val n = lines.count()
      for ((mode, sampleRows) <- Seq("full-2pass" -> 0, "sampled" -> 4096)) {
        m.best(s"$mode lines=$n", 3)(Protocols
          .influxPivoted(lines, "line", "events", discoverySampleRows = sampleRows)
          .groupBy(col("type")).agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v")).count())
        println(f"[ingest] $mode rows_per_s=${n / m.last.wall}%.0f")
      }
      lines.unpersist()
    }),
    // ADMIN flush_flow of a per-minute max flow over a last_row cpu table,
    // the shape of userbench's ingest_mixed: `hosts` hosts at 10 s, one
    // compacted hour, then per cycle one INSERT of `minutes` new minutes
    // plus rewrites of a tenth of the last hour's keys, and one measured
    // flush; jobs=1 also prints each flush's Spark jobs
    "flush" -> Family(Synthetic, (m, o, _) => {
      val (hosts, cycles, minutes) = (long(o, "hosts", 20L), long(o, "cycles", 6L), long(o, "minutes", 15L))
      val g = new graft.sql.GraftSession(m.spark, QueryDsl.tempDirCleanedOnExit("graft_flush"))
      val t0 = 1704067200000L
      def insert(rows: DataFrame): Unit = {
        rows.createOrReplaceTempView("probe_cpu")
        g.sql("INSERT INTO cpu (hostname, usage_user, ts) SELECT hostname, usage_user, ts FROM probe_cpu")
          .collect(): Unit
      }
      // samples [from, until) of every host at version `ver`, kept where `keep` holds
      def samples(from: Long, until: Long, ver: Long, keep: org.apache.spark.sql.Column = lit(true)) =
        g.spark.range(from, until).crossJoin(g.spark.range(hosts).select(col("id").as("h")))
          .filter(keep)
          .select(concat(lit("host_"), col("h")).as("hostname"),
            (pmod(xxhash64(col("h"), col("id"), lit(ver)), lit(10000L)) / 100.0).as("usage_user"),
            (lit(t0) + col("id") * 10000L).as("ts"))
      g.sql("CREATE TABLE cpu (hostname STRING PRIMARY KEY, usage_user DOUBLE, ts TIMESTAMP(3) TIME INDEX)")
      var next = 360L
      insert(samples(0L, next, 0L))
      g.sql("ADMIN compact_table('cpu')").collect()
      g.sql("""CREATE FLOW cpu_max_1m SINK TO cpu_1m AS
               SELECT hostname, date_bin(INTERVAL '1 minute', ts) AS minute,
               max(usage_user) AS max_user FROM cpu GROUP BY hostname, minute""")
      val runs = (1L to cycles).map { c =>
        val rewrites = samples(next - 360L, next, c,
          pmod(xxhash64(col("h"), col("id"), lit(-c)), lit(10L)) === 0L)
        insert(samples(next, next + minutes * 6L, 0L).unionByName(rewrites))
        next += minutes * 6L
        m.time(s"flush $c")(g.sql("ADMIN flush_flow('cpu_max_1m')").head().getString(0).toLong)
        if (o.contains("jobs")) m.jobLines.forEach(l => println(l))
        m.last
      }
      val warm = runs.drop(1).sortBy(_.wall)
      if (warm.nonEmpty) println(f"[flush] warm median: wall=${warm(warm.size / 2).wall}%.2f s " +
        s"jobs=${warm.map(_.jobs).sorted.apply(warm.size / 2)} sink=" +
        g.sql("SELECT count(*) FROM cpu_1m").head().getLong(0))
    }),
    // fixture viability of the Hamming near-dup entry: every variant
    // of a class within ahash distance 3 of its base, every cross-class
    // pair above 3 (the fixture paints each class's word as 8-px cells)
    "ahash" -> Family(Synthetic, (_, _, _) => {
      val variants = for {
        c <- 0 until Multimodal.imageClasses
        (name, flips, jpeg) <- Seq(("png", 0, false), ("jpeg", 0, true),
          ("f1", 1, false), ("f2", 2, false), ("f3", 3, false))
      } yield (c, name, Multimodal.decodeImage(Multimodal.nearDupImageFor(c, flips, jpeg)).ahash)
      val pairs = for ((a, i) <- variants.zipWithIndex; (b, j) <- variants.zipWithIndex if i < j)
        yield (a, b, java.lang.Long.bitCount(a._3 ^ b._3))
      val bad = pairs.filter { case (a, b, dist) =>
        if (a._1 == b._1) (a._2 == "png" || b._2 == "png") && dist > 3 else dist <= 3
      }
      for ((a, b, dist) <- pairs if a._1 == b._1 && (a._2 == "png" || b._2 == "png"))
        println(f"[ahash] within c${a._1}%d ${a._2}%-4s vs ${b._2}%-4s ham=$dist%2d")
      bad.foreach { case (a, b, dist) => println(s"[ahash] VIOLATION c${a._1}/${a._2} vs c${b._1}/${b._2} ham=$dist") }
      println(s"[ahash] min cross-class hamming = ${pairs.filter(p => p._1._1 != p._2._1).map(_._3).min}")
      println(s"[ahash] verdict: ${if (bad.isEmpty) "OK" else "BROKEN"}")
    }))

  /** Writes an N-fold events table and an M-fold documents and
    * embeddings table derived deterministically from `src` (never into
    * the test data), linking the other tables, for Bench and `growth`:
    * `fan [src] [out] [evFan] [docFan]`, default sf0.1 /tmp/graft_scale
    * 100 10.
    *
    * events: each source row fans out with jittered ts/user/value so
    * per-key cardinalities and time-spread scale together.
    *
    * documents: each replica applies a DIFFERENT character permutation
    * to the text, so replicas are not near-duplicates of each other: the
    * corpus's internal near-dup structure repeats per replica and the
    * true pair count scales ~linearly with the fan factor (a plain copy
    * would grow dup clusters quadratically and swamp the verify stage
    * with semantically-new output, masking the scaling story). */
  def fan(spark: SparkSession, args: Seq[String]): Unit = {
    val src = args.lift(0).getOrElse(Sf01)
    val out = args.lift(1).getOrElse("/tmp/graft_scale")
    val evFan = args.lift(2).fold(100)(_.toInt)
    val docFan = args.lift(3).fold(10)(_.toInt)
    val outDir = new File(out)
    if (outDir.exists()) {
      outDir.listFiles().foreach { f =>
        if (f.isDirectory) org.apache.commons.io.FileUtils.deleteDirectory(f)
        else f.delete()
      }
    }
    outDir.mkdirs()

    // normalized load (ns-long ts contract regardless of generator shape)
    val ev = Tables.load(spark, src, "events")
    val n = ev.count()
    val evOut = ev.crossJoin(spark.range(evFan).toDF("rep"))
      .select(
        (col("event_id") * evFan + col("rep")).as("event_id"),
        // spread replicas across the span: shift by rep * 97 seconds so
        // windows/timeseries densities scale without colliding
        (col("ts") + col("rep") * lit(97L) * lit(1000000000L)).as("ts"),
        (col("user_id") + col("rep") * 1000L).as("user_id"),
        col("event_type"),
        round(col("value") * (lit(1.0) + col("rep").cast("double") / 100.0), 4).as("value"),
        col("props"))
    evOut.repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
    val n2 = spark.read.parquet(s"$out/events.parquet").count()
    println(s"[scale] events: $n -> $n2 rows at $out/events.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dn = docs.count()
    // Bijective per-replica character permutation: two independent
    // rotations of the lowercase alphabet halves give 13×13 = 169
    // distinct bijections, so up to 169 replicas are pairwise
    // non-duplicate (a single 9-char rotation collides at >9 replicas,
    // turning replica groups into exact-dup clusters and growing the
    // true pair count quadratically instead of linearly).
    val (h1, h2) = ("abcdefghijklm", "nopqrstuvwxyz")
    require(docFan <= h1.length * h2.length, s"docFan $docFan > 169 permutations")
    def rot(s: String, k: Int) = s.drop(k % s.length) + s.take(k % s.length)
    val alpha = h1 + h2
    val perms = (0 until docFan).map(r =>
      rot(h1, r % h1.length) + rot(h2, r / h1.length))
    val permCol = element_at(array(perms.map(lit): _*), col("rep").cast("int") + 1)
    val idCol = docs.columns.find(c => c == "doc_id" || c == "id").getOrElse(docs.columns.head)
    val textCol = docs.columns.find(_ == "text").getOrElse("text")
    val dfan = docs.crossJoin(spark.range(docFan).toDF("rep"))
      .withColumn(idCol, col(idCol) * docFan + col("rep"))
      .withColumn("__perm", permCol)
      .withColumn(textCol, expr(s"translate(`$textCol`, '$alpha', __perm)"))
      .drop("rep", "__perm")
    dfan.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val dn2 = spark.read.parquet(s"$out/documents.parquet").count()
    println(s"[scale] documents: $dn -> $dn2 rows at $out/documents.parquet")

    // embeddings: fan with the doc factor; replicas get a deterministic
    // per-replica rotation of the vector slots plus a small index-keyed
    // perturbation, so near-neighbor structure repeats per replica
    // (nearest-neighbor sets scale linearly) without exact duplicates
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val en = emb.count()
    val efan = emb.crossJoin(spark.range(docFan).toDF("rep"))
      .withColumn("vec_id", col("vec_id") * docFan + col("rep"))
      .withColumn("embedding", expr(
        """transform(embedding, (x, i) ->
             cast(element_at(embedding, cast((i + rep) % size(embedding) AS INT) + 1)
               + cast(rep AS FLOAT) * 1e-4 AS FLOAT))"""))
      .drop("rep")
    efan.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[scale] embeddings: $en -> ${spark.read.parquet(s"$out/embeddings.parquet").count()} rows")

    // link the remaining tables unchanged
    for (f <- new File(src).listFiles() if f.getName.endsWith(".parquet")
         if f.getName != "events.parquet" && f.getName != "documents.parquet"
         && f.getName != "embeddings.parquet") {
      val link = java.nio.file.Paths.get(out, f.getName)
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link, f.toPath.toAbsolutePath)
    }
    println(s"[scale] ready: SPARK_GRAFT_SF_DIR=$out")
  }
}
