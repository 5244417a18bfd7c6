package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the single session factory: no other file under src/ builds a
  * session, and the factory's session carries the runtime config every
  * caller relies on. */
class RuntimeSpec extends AnyFunSuite with SparkTest {

  test("Runtime.scala holds the only session builder under src/") {
    val needle = "SparkSession" + ".builder" // split so this file holds no hit
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(src)
    val hits = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(src.relativize(_).toString).toSeq.sorted
    finally walk.close()
    assert(hits === Seq(Path.of("main", "scala", "graft", "Runtime.scala").toString))
  }

  test("the factory's session: UTC, ns timestamps as BIGINT, one shuffle partition per core") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ===
      spark.sparkContext.defaultParallelism.toString)
    assert(spark.sparkContext.master === "local[4]")
  }
}
