package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sql.GraftSession

class GraftSessionSpec extends AnyFunSuite with SparkTest {

  lazy val g = new GraftSession(spark)

  test("create table / insert / select with merge semantics") {
    g.sql("""CREATE TABLE host_cpu (
        ts TIMESTAMP(3) TIME INDEX,
        host STRING PRIMARY KEY,
        val DOUBLE
      )""")
    g.sql("INSERT INTO host_cpu VALUES (TIMESTAMP'2024-01-01 00:00:00', 'h1', 1.0)")
    g.sql("INSERT INTO host_cpu VALUES (TIMESTAMP'2024-01-01 00:00:00', 'h1', 9.0)")
    g.sql("INSERT INTO host_cpu VALUES (TIMESTAMP'2024-01-01 00:00:10', 'h2', 2.0)")
    // default merge = last_row upsert on (host, ts)
    val rows = g.sql("SELECT host, val FROM host_cpu ORDER BY host").collect()
    assert(rows.length == 2)
    assert(rows.map(r => r.getString(0) -> r.getDouble(1)).toSet ==
      Set("h1" -> 9.0, "h2" -> 2.0))
  }

  test("show tables / describe table semantic roles") {
    assert(g.sql("SHOW TABLES").collect().map(_.getString(0)).contains("host_cpu"))
    // reference six-column shape: Column|Type|Key|Null|Default|Semantic Type
    val d = g.sql("DESC TABLE host_cpu").collect()
      .map(r => r.getString(0) -> r.getString(5)).toMap
    assert(d("ts") == "TIMESTAMP" && d("host") == "TAG" && d("val") == "FIELD")
  }

  test("append_mode table keeps duplicates") {
    g.sql("""CREATE TABLE logs (ts TIMESTAMP TIME INDEX, msg STRING)
             WITH (append_mode = 'true')""")
    g.sql("INSERT INTO logs VALUES (TIMESTAMP'2024-01-01 00:00:00', 'dup')")
    g.sql("INSERT INTO logs VALUES (TIMESTAMP'2024-01-01 00:00:00', 'dup')")
    assert(g.sql("SELECT * FROM logs").count() == 2)
  }

  test("@@ operator rewrites to matches_term") {
    assert(g.rewriteAtAt("SELECT * FROM logs WHERE msg @@ 'dup'") ==
      "SELECT * FROM logs WHERE matches_term(msg, 'dup')")
    val n = g.sql("SELECT * FROM logs WHERE msg @@ 'dup'").count()
    assert(n == 2)
    // @@ in the select list, aliased
    val hits = g.sql("SELECT msg @@ 'dup' AS `matches_dup` FROM logs").collect()
    assert(hits.map(_.getBoolean(0)).toSeq == Seq(true, true))
  }

  test("create flow + admin flush_flow refresh the sink") {
    g.sql("""CREATE TABLE cpu (ts TIMESTAMP TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)""")
    g.sql("""CREATE FLOW cpu_sum SINK TO cpu_sum_sink EXPIRE AFTER '1h'
             AS SELECT host, count(*) AS n, sum(v) AS total FROM cpu GROUP BY host""")
    // the sink is auto-created empty; only rows written AFTER flow
    // creation become visible, and only on flush (reference semantics)
    assert(g.sql("SELECT * FROM cpu_sum_sink").count() == 0)
    g.sql("INSERT INTO cpu VALUES (TIMESTAMP'2024-01-01 00:00:01', 'h1', 1.0)")
    g.sql("INSERT INTO cpu VALUES (TIMESTAMP'2024-01-01 00:00:02', 'h1', 4.0)")
    g.sql("ADMIN flush_flow('cpu_sum')")
    val rows = g.sql("SELECT host, n, total FROM cpu_sum_sink").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Double]("total") == 5.0)
  }

  // ---- batching-flow flushes: which windows re-evaluate ---------------

  /** A per-minute flow over its own source `t`; rows are (host, minute,
    * second, v) at 2024-01-01 00:<minute>:<second>. */
  private def minuteFlow(t: String): Unit = {
    g.sql(s"CREATE TABLE $t (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)")
    g.sql(s"""CREATE FLOW ${t}_flow SINK TO ${t}_sink AS
              SELECT host, date_bin(INTERVAL '1 minute', ts) AS minute,
              max(v) AS mx, count(*) AS n FROM $t GROUP BY host, minute""")
  }
  private def put(t: String, rows: (String, Int, Int, Double)*): Unit =
    g.sql(s"INSERT INTO $t VALUES " + rows.map { case (h, m, sec, v) =>
      f"(TIMESTAMP'2024-01-01 00:$m%02d:$sec%02d', '$h', $v)" }.mkString(", "))
  private def flush(t: String): Long =
    g.sql(s"ADMIN flush_flow('${t}_flow')").head().getString(0).toLong
  /** (host, minute) -> (max, count) of the flow's sink */
  private def sink(t: String): Map[(String, Long), (Double, Long)] =
    g.sql(s"SELECT host, minute, mx, n FROM ${t}_sink").collect().map { r =>
      val ms = r.get(1) match {
        case i: java.time.Instant => i.toEpochMilli
        case ts: java.sql.Timestamp => ts.getTime
        case l: java.time.LocalDateTime => l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }
      (r.getString(0), (ms - 1704067200000L) / 60000L) -> (r.getDouble(2), r.getLong(3))
    }.toMap

  test("flow flush: a pre-creation row in a dirty window is included, an untouched window is not evaluated") {
    g.sql("CREATE TABLE fw1 (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)")
    put("fw1", ("a", 0, 0, 5.0), ("a", 1, 0, 9.0))
    g.sql("""CREATE FLOW fw1_flow SINK TO fw1_sink AS
             SELECT host, date_bin(INTERVAL '1 minute', ts) AS minute,
             max(v) AS mx, count(*) AS n FROM fw1 GROUP BY host, minute""")
    put("fw1", ("a", 1, 30, 2.0))
    flush("fw1")
    // minute 1 is dirty and re-evaluates with its pre-creation row;
    // minute 0 got no write since creation and stays out of the sink
    assert(sink("fw1") == Map(("a", 1L) -> (9.0, 2L)))
  }

  test("flow flush: rewriting a pre-creation key re-dirties its window") {
    g.sql("CREATE TABLE fw2 (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)")
    put("fw2", ("a", 0, 0, 5.0), ("a", 0, 10, 1.0), ("a", 2, 0, 4.0))
    g.sql("""CREATE FLOW fw2_flow SINK TO fw2_sink AS
             SELECT host, date_bin(INTERVAL '1 minute', ts) AS minute,
             max(v) AS mx, count(*) AS n FROM fw2 GROUP BY host, minute""")
    put("fw2", ("a", 0, 10, 7.0)) // same key (host, ts), newer value
    flush("fw2")
    // the window sees the key's newest version once, not both versions
    assert(sink("fw2") == Map(("a", 0L) -> (7.0, 2L)))
    g.sql("ADMIN compact_table('fw2')")
    put("fw2", ("a", 0, 0, 0.5))
    flush("fw2")
    assert(sink("fw2") == Map(("a", 0L) -> (7.0, 2L)))
    put("fw2", ("a", 0, 10, 0.25))
    flush("fw2")
    assert(sink("fw2") == Map(("a", 0L) -> (0.5, 2L)))
  }

  test("flow flush after DELETE re-evaluates the window without the deleted rows") {
    minuteFlow("fw3")
    put("fw3", ("a", 0, 0, 1.0), ("a", 0, 20, 8.0), ("b", 0, 0, 3.0))
    flush("fw3")
    assert(sink("fw3") == Map(("a", 0L) -> (8.0, 2L), ("b", 0L) -> (3.0, 1L)))
    g.sql("DELETE FROM fw3 WHERE host = 'a' AND v > 5")
    flush("fw3")
    assert(sink("fw3") == Map(("a", 0L) -> (1.0, 1L), ("b", 0L) -> (3.0, 1L)))
  }

  test("a second flow flush with no writes leaves the sink as it was") {
    minuteFlow("fw4")
    put("fw4", ("a", 0, 0, 1.0), ("a", 1, 0, 2.0), ("b", 1, 30, 6.0))
    flush("fw4")
    val first = sink("fw4")
    assert(first.size == 3)
    flush("fw4")
    assert(sink("fw4") == first)
  }

  test("flush_flow returns the rows the flush wrote and primes the sink schema") {
    minuteFlow("fw5")
    assert(flush("fw5") == 0L) // nothing written since creation
    put("fw5", ("a", 0, 0, 1.0), ("a", 1, 0, 2.0), ("b", 1, 30, 6.0))
    assert(flush("fw5") == 3L)
    put("fw5", ("c", 3, 0, 1.0))
    g.sql("DELETE FROM fw5 WHERE host = 'b'")
    // minutes 0, 1 and 3 re-evaluate and yield (a,0), (a,1), (c,3); the
    // sink still holds (b,1), which no longer has source rows
    assert(flush("fw5") == 3L)
    // the cached schema the flush primed is what a fresh read finds
    val path = g.catalog.spec("fw5_sink").path
    assert(graft.model.Catalog.rawRead(spark, path).schema ==
      spark.read.option("mergeSchema", "true").parquet(path).schema)
  }

  test("a keyless flow replaces its sink and reports the rows written") {
    g.sql("CREATE TABLE fw6 (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)")
    g.sql("CREATE FLOW fw6_flow SINK TO fw6_sink AS SELECT count(*) AS n, max(v) AS mx FROM fw6")
    put("fw6", ("a", 0, 0, 1.0), ("b", 0, 0, 2.0))
    assert(g.sql("ADMIN flush_flow('fw6_flow')").head().getString(0) == "1")
    put("fw6", ("c", 0, 0, 4.0))
    g.sql("ADMIN flush_flow('fw6_flow')")
    val rows = g.sql("SELECT n, mx FROM fw6_sink").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((3L, 4.0)))
    val path = g.catalog.spec("fw6_sink").path
    assert(graft.model.Catalog.rawRead(spark, path).schema ==
      spark.read.option("mergeSchema", "true").parquet(path).schema)
  }

  test("TQL EVAL over a registered metric table") {
    g.sql("""CREATE TABLE metric1 (ts TIMESTAMP TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)""")
    g.sql("INSERT INTO metric1 VALUES (TIMESTAMP'1970-01-01 00:00:05', 'a', 3.0)")
    g.sql("INSERT INTO metric1 VALUES (TIMESTAMP'1970-01-01 00:00:15', 'a', 7.0)")
    val out = g.sql("TQL EVAL (0, 20, '5s') metric1").collect()
    // instant vector: lookback picks the latest sample at each step;
    // selector shape follows the declared column order (ts, host, v)
    assert(out.nonEmpty)
    // java8API sessions return java.time.Instant for LTZ timestamps
    val atT20 = out.filter(_.getAs[java.time.Instant](0).toEpochMilli == 20000L)
    assert(atT20.length == 1 && atT20(0).getDouble(2) == 7.0)
  }

  test("create view / drop view") {
    g.sql("CREATE VIEW big_logs AS SELECT msg FROM logs WHERE msg @@ 'dup'")
    assert(g.sql("SELECT count(*) AS n FROM big_logs").head().getLong(0) == 2L)
    g.sql("DROP VIEW big_logs")
  }

  test("alter table add/drop column without rewriting data") {
    g.sql("""CREATE TABLE alt (ts TIMESTAMP TIME INDEX, host STRING PRIMARY KEY, v DOUBLE)""")
    g.sql("INSERT INTO alt VALUES (TIMESTAMP'2024-01-01 00:00:00', 'h1', 1.0)")
    g.sql("ALTER TABLE alt ADD COLUMN note STRING")
    // old rows surface the new column as null
    assert(g.sql("SELECT note FROM alt").head().isNullAt(0))
    g.sql("INSERT INTO alt (ts, host, v, note) VALUES (TIMESTAMP'2024-01-01 00:00:01', 'h2', 2.0, 'x')")
    assert(g.sql("SELECT note FROM alt WHERE host = 'h2'").head().getString(0) == "x")
    g.sql("ALTER TABLE alt DROP COLUMN v")
    assert(!g.sql("SELECT * FROM alt").columns.contains("v"))
    val d = g.sql("DESC TABLE alt").collect().map(_.getString(0)).toSet
    assert(d == Set("ts", "host", "note"))
  }

  test("RANGE SQL: the reference's calculate.sql shape") {
    g.sql("""CREATE TABLE rhost (ts TIMESTAMP(3) TIME INDEX, host STRING PRIMARY KEY, val BIGINT)""")
    g.sql("""INSERT INTO rhost VALUES
      (TIMESTAMP'1970-01-01 00:00:00', 'host1', 0),
      (TIMESTAMP'1970-01-01 00:00:05', 'host1', null),
      (TIMESTAMP'1970-01-01 00:00:10', 'host1', 1),
      (TIMESTAMP'1970-01-01 00:00:15', 'host1', null),
      (TIMESTAMP'1970-01-01 00:00:20', 'host1', 2),
      (TIMESTAMP'1970-01-01 00:00:00', 'host2', 3),
      (TIMESTAMP'1970-01-01 00:00:05', 'host2', null),
      (TIMESTAMP'1970-01-01 00:00:10', 'host2', 4),
      (TIMESTAMP'1970-01-01 00:00:15', 'host2', null),
      (TIMESTAMP'1970-01-01 00:00:20', 'host2', 5)""")
    // reference range/calculate.sql: 2 * min(val) RANGE '5s' ALIGN '5s';
    // without FILL only populated slots appear; null vals stay null
    val got = g.sql(
      "SELECT unix_millis(ts) AS t, host, 2 * min(val) RANGE '5s' AS v FROM rhost ALIGN '5s' ORDER BY host, t")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2)))
    assert(got.toSeq == Seq(
      (0L, "host1", 0L), (5000L, "host1", null), (10000L, "host1", 2L),
      (15000L, "host1", null), (20000L, "host1", 4L),
      (0L, "host2", 6L), (5000L, "host2", null), (10000L, "host2", 8L),
      (15000L, "host2", null), (20000L, "host2", 10L)))
  }

  test("RANGE SQL: FILL variants and scalar nesting") {
    val prev = g.sql(
      "SELECT unix_millis(ts) AS t, host, min(val) RANGE '5s' FILL PREV AS v FROM rhost ALIGN '5s' ORDER BY host, t")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2)))
    assert(prev.filter(_._2 == "host1").map(_._3).toSeq == Seq(0L, 0L, 1L, 1L, 2L))
    // integral FILL consts keep the column type (reference Int64 semantics)
    val const = g.sql(
      "SELECT unix_millis(ts) AS t, host, min(val) RANGE '5s' FILL 6 AS v FROM rhost ALIGN '5s' ORDER BY host, t")
      .collect().map(r => r.getLong(2))
    assert(const.contains(6L))
    // scalar nesting outside the annotation + WHERE + query-level FILL
    val nested = g.sql(
      """SELECT unix_millis(ts) AS t, host, floor(min(val) RANGE '5s') + 1 AS v
         FROM rhost WHERE host = 'host2' ALIGN '5s' FILL PREV ORDER BY t""")
      .collect().map(r => r.getLong(2))
    assert(nested.toSeq == Seq(4L, 4L, 5L, 5L, 6L))
  }

  test("information_schema tables and columns") {
    val tables = g.sql(
      "SELECT table_name, table_type FROM information_schema.tables ORDER BY table_name")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tables.contains("host_cpu") && tables("host_cpu") == "BASE TABLE")
    val cols = g.sql(
      """SELECT column_name, semantic_type FROM information_schema.columns
         WHERE table_name = 'host_cpu' ORDER BY column_name""")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cols == Map("ts" -> "TIMESTAMP", "host" -> "TAG", "val" -> "FIELD"))
  }

  test("TQL EXPLAIN returns a physical plan") {
    val plan = g.sql("TQL EXPLAIN (0, 20, '5s') metric1")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Physical Plan"))
  }

  test("INSERT INTO TABLE syntax (reference dialect)") {
    g.sql("INSERT INTO TABLE logs VALUES (TIMESTAMP'2024-01-01 00:00:01', 'via-table-kw')")
    assert(g.sql("SELECT * FROM logs WHERE msg = 'via-table-kw'").count() == 1)
  }

  test("admin stub returns the sqlness golden single-cell shape") {
    val r = g.sql("ADMIN compact_table('cpu')").collect()
    assert(r(0).getString(0) == "0")
  }

  test("cursors: DECLARE / successive FETCH / CLOSE") {
    g.sql("""CREATE TABLE cur_t (ts TIMESTAMP TIME INDEX, v DOUBLE)""")
    g.sql("INSERT INTO cur_t VALUES (1000, 1.0), (2000, 2.0), (3000, 3.0), (4000, 4.0), (5000, 5.0)")
    g.sql("DECLARE c1 CURSOR FOR SELECT v FROM cur_t ORDER BY ts")
    // successive fetches DRAIN the stream (cursor.rs take() semantics)
    assert(g.sql("FETCH 2 FROM c1").collect().map(_.getDouble(0)).toSeq == Seq(1.0, 2.0))
    assert(g.sql("FETCH 2 FROM c1").collect().map(_.getDouble(0)).toSeq == Seq(3.0, 4.0))
    // past the end: remaining rows only, then empty
    assert(g.sql("FETCH 9 IN c1").collect().map(_.getDouble(0)).toSeq == Seq(5.0))
    assert(g.sql("FETCH 9 FROM c1").collect().isEmpty)
    g.sql("CLOSE c1")
    assertThrows[IllegalArgumentException](g.sql("FETCH 1 FROM c1"))
    // non-SELECT body rejected (cursor_parser.rs ensure!)
    assertThrows[IllegalArgumentException](
      g.sql("DECLARE c2 CURSOR FOR INSERT INTO cur_t VALUES (6000, 6.0)"))
    g.sql("DROP TABLE cur_t")
  }
}
