package userbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.sql.GraftSession

/** The benchmark's own checks: seeded inputs are reproducible, the result
  * checker rejects a wrong answer, and span self-times account for an
  * op's wall. Run with `sbt test` from this directory. */
class SelfTestSpec extends AnyFunSuite {

  /** Line protocol and statement texts one workload would send first. */
  private def inputs(seed: Long): (Seq[String], Seq[String]) = {
    val dash = new Dashboard(seed, null, "unused")
    val texts = (dash.templates ++ dash.templates).map(t => dash.query(t).text)
    val ingest = new IngestMixed(seed, null, "unused")
    (0 until ingest.preload).foreach(i =>
      (0 until ingest.hosts).foreach(h => if (ingest.d.exists(h, i)) ingest.d.write(h, i, 0)))
    val lines = Seq.fill(2)(ingest.nextBatch()).flatten.map { case (h, i, v) =>
      val l = ingest.d.line(h, i, v); ingest.d.write(h, i, v); l }
    (lines, texts)
  }

  test("the same seed gives byte-identical inputs; another seed does not") {
    val (l1, t1) = inputs(42L)
    val (l2, t2) = inputs(42L)
    val (l3, t3) = inputs(43L)
    assert(l1.mkString("\n").getBytes("UTF-8").sameElements(l2.mkString("\n").getBytes("UTF-8")))
    assert(t1 == t2)
    assert(l1 != l3)
    assert(t1 != t3)
    // rewrites re-send keys written before the batch at a newer version
    val preloadEndNs = Data.tsMs(new IngestMixed(42L, null, "unused").preload) * 1000000L
    assert(l1.exists(_.split(' ').last.toLong < preloadEndNs))
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 30).map(_.toDouble)) == ((20.0, 100.0 * 20 / 30)))
    // never below the median: too few samples give the median
    assert(Stats.tail((1 to 20).map(_.toDouble)) == ((10.5, 50.0)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("checked ops against the engine: a corrupted result is rejected; " +
      "span self-times sum to the op wall") {
    val work = Files.createTempDirectory("userbench-selftest").toFile
    val spark = Main.session(2, work)
    try {
      val probe = new SparkProbe
      spark.sparkContext.addSparkListener(probe)
      val r = new Runner(spark.sparkContext, traced = true)
      r.session = new GraftSession(spark, new java.io.File(work, "wh").getPath)
      r.sql("ddl", "ddl", Workloads.ddl("cpu"))(_ => None)
      val d = new Data(7L, 3)
      val keys = for (i <- 0 until 360; h <- 0 until 3 if d.exists(h, i)) yield (h, i, 0)
      r.phase = "run0"
      val w = r.write("bulk", "cpu", keys.map { case (h, i, v) => d.line(h, i, v) })
      assert(w.error.isEmpty, w.error)
      keys.foreach { case (h, i, v) => d.write(h, i, v) }

      val q = IngestMixed.lastpoint(d)
      val good = r.sql(q.tpl, "read", q.text) { rows =>
        Check.diff(Check.project(rows, q.cols), q.want(), q.ordered) }
      assert(good.error.isEmpty, good.error)
      val bad = r.sql(q.tpl, "read", q.text) { rows =>
        val got = Check.project(rows, q.cols)
        val corrupted = got.updated(0, got(0).updated(2, got(0)(2).asInstanceOf[Double] + 0.01))
        Check.diff(corrupted, q.want(), q.ordered) }
      assert(bad.error.exists(_.startsWith("row ")), bad.error)
      val missing = r.sql(q.tpl, "read", q.text) { rows =>
        Check.diff(Check.project(rows, q.cols).drop(1), q.want(), q.ordered) }
      assert(missing.error.isDefined)

      org.apache.spark.UserbenchBus.drain(spark.sparkContext)
      val phase = Phase("run0", w.t0, r.now, 0.0, 0.0, 0.0, 0L)
      val m = new Metrics(r, new Dashboard(7L, spark, "unused"), phase, 2, Some(probe))
      val tree = m.spanTree(probe)
      assert(tree.size == 4)
      tree.foreach { case (op, spans) =>
        assert(spans.exists(_.name == "spark.job"), s"${op.tpl} recorded no job")
        val self = Span.selfTimes(spans)
        val wall = (op.t1 - op.t0).toDouble
        assert(math.abs(self.values.sum - wall) <= 0.1 * wall,
          s"${op.tpl}: self times ${self.values.sum} vs wall $wall")
        assert(self.values.forall(_ >= 0))
      }
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
  }
}
