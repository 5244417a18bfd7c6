package graft.streaming

import java.io.IOException

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.model.Catalog

/** Continuous queries — the reference's `CREATE FLOW <name> SINK TO
  * <sink> [EXPIRE AFTER <d>] AS SELECT ...` (sql/src/statements/
  * create.rs; engines in src/flow/, SURVEY.md §2.10).
  *
  * Both reference engines map onto one Spark design:
  *
  *  - **streaming engine** (flow/src/compute/): Structured Streaming —
  *    source stream → `withWatermark` (= EXPIRE AFTER state bound) →
  *    windowed aggregation → `outputMode(update)` + `foreachBatch`
  *    upsert. Late rows inside the watermark re-emit their window,
  *    which the upsert overwrites — the same late-data story as the
  *    reference's keyed retraction/overwrite (flow/src/compute/render/
  *    reduce.rs doc), without bespoke dataflow state.
  *  - **batching engine** (flow/src/batching_mode/): [[refreshOnce]] —
  *    re-run the flow query over a dirty time-window slice of the
  *    source and upsert the recomputed windows (batching_mode/
  *    time_window.rs derives the filter; callers pass it here — the SQL
  *    frontend's `GraftSession.refreshFlow` takes the windows of the
  *    source rows written since the flow was created).
  *
  * The sink is a Parquet dir logically keyed by (tags...,
  * window_start). [[upsert]] rewrites it with one write job, which
  * evaluates and counts the batch once and drops the old rows whose
  * key the batch carries; the result replaces the sink through a
  * staging dir and [[swapIn]]. An unpartitioned sink is rewritten
  * whole on every refresh. At 100 TB the sink should be partitioned by
  * a time bucket of window_start so a refresh rewrites only dirty
  * partitions — [[FlowDef.partitionBy]] wires that through.
  */
object Flow {

  /** Tumbling window — reference `tumble(ts, width[, origin])`
    * (flow/src/transform/expr.rs:364). Returns struct(start, end). */
  def tumble(ts: Column, width: String): Column = window(ts, width)

  def tumble(ts: Column, width: String, origin: String): Column =
    window(ts, width, width, origin)

  def tumbleStart(ts: Column, width: String): Column = tumble(ts, width).getField("start")
  def tumbleEnd(ts: Column, width: String): Column = tumble(ts, width).getField("end")

  /** One flow definition.
    *
    * @param keys        upsert key of the sink (tags + window start)
    * @param eventTime   event-time column of the SOURCE (pre-transform)
    * @param expireAfter watermark delay, e.g. "1 hour" — the EXPIRE
    *                    AFTER bound on how late a row may arrive and
    *                    still update its window
    * @param partitionBy optional sink partition columns (time bucket)
    * @param transform   the flow's SELECT: source frame → aggregated
    *                    frame whose schema is the sink schema
    */
  final case class FlowDef(
      name: String,
      sink: String,
      keys: Seq[String],
      transform: DataFrame => DataFrame,
      eventTime: Option[String] = None,
      expireAfter: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      allowUnpartitioned: Boolean = false)

  /** An unpartitioned sink rewrites ENTIRELY on every refresh — fine for a
    * small in-session table, a scale-killer for a 100 TB sink. Partitioned
    * refreshes rewrite only the partitions the batch touches, so flows must
    * either declare a time-bucket `partitionBy` or opt out explicitly. */
  private def requirePartitioning(flow: FlowDef): Unit =
    require(flow.partitionBy.nonEmpty || flow.allowUnpartitioned,
      s"flow ${flow.name}: unpartitioned sink rewrites the whole sink per refresh; " +
        "set partitionBy (time bucket) or allowUnpartitioned=true for small sinks")

  /** Start the streaming engine for a flow. `source` must be a
    * streaming DataFrame (readStream / MemoryStream). */
  def start(source: DataFrame, flow: FlowDef, checkpoint: String): StreamingQuery = {
    require(source.isStreaming, s"flow ${flow.name}: source is not a stream")
    requirePartitioning(flow)
    val watermarked = (flow.eventTime, flow.expireAfter) match {
      case (Some(c), Some(d)) => source.withWatermark(c, d)
      case _ => source
    }
    flow.transform(watermarked)
      .writeStream
      .queryName(flow.name)
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsert(batch, flow.sink, flow.keys, flow.partitionBy): Unit
      }
      .start()
  }

  /** Batching engine: one refresh cycle. `dirtyFilter` restricts the
    * source to the time windows that need recomputing (None = full
    * recompute); recomputed windows replace their sink rows. Returns
    * the rows written. */
  def refreshOnce(source: DataFrame, flow: FlowDef,
      dirtyFilter: Option[Column] = None): Long = {
    requirePartitioning(flow)
    val sliced = dirtyFilter.map(source.filter).getOrElse(source)
    upsert(flow.transform(sliced), flow.sink, flow.keys, flow.partitionBy)
  }

  /** `df` with a row counter, and a reader of it: the job that executes
    * the frame (once) counts its rows via observe(), so writing it and
    * then calling the reader costs no second execution. */
  def counted(df: DataFrame): (DataFrame, () => Long) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows")), () => obs.get("rows").asInstanceOf[Long])
  }

  /** Moves `staging` into place at `dest`. An existing `dest` is renamed
    * aside first and deleted only once the staged copy is in; every
    * rename is checked, and a swap that fails (false or thrown) restores
    * the old `dest`. Each rename is atomic on local FS / HDFS, the
    * sequence is not: a reader racing the swap can see `dest` briefly
    * absent, never half-written. */
  def swapIn(fs: FileSystem, staging: Path, dest: Path): Unit = {
    val aside = new Path(dest.getParent, dest.getName + "__old")
    if (fs.exists(aside)) fs.delete(aside, true)
    val hadDest = fs.exists(dest)
    if (hadDest && !fs.rename(dest, aside))
      throw new IOException(s"flow refresh: failed to move aside $dest")
    def failed(cause: Throwable): Nothing =
      if (hadDest && !fs.rename(aside, dest))
        throw new IOException(s"flow refresh: failed to swap in $dest; the old copy is at $aside", cause)
      else throw new IOException(s"flow refresh: failed to swap in $dest", cause)
    val moved = try fs.rename(staging, dest) catch { case NonFatal(e) => failed(e) }
    if (!moved) failed(null)
    if (hadDest) fs.delete(aside, true)
  }

  /** Key-replace upsert into a Parquet dir: existing rows whose key
    * matches an incoming row are dropped, then the batch is appended
    * (a key with a null part matches nothing, so such rows are kept).
    * Written via a staging dir + [[swapIn]] so a concurrent reader never
    * sees a half-written sink. Returns the batch's row count, counted by
    * the write job. With `partitionCols`, only partitions present in the
    * batch are rewritten (the 100 TB path: time-bucket partitions make a
    * refresh O(dirty windows), not O(sink)). Without, one job rewrites
    * the whole sink and evaluates the batch once, and the schema it
    * wrote primes [[Catalog]]'s schema cache, so the next read of the
    * sink runs no footer job. */
  def upsert(batch: DataFrame, sink: String, keys: Seq[String],
      partitionCols: Seq[String] = Nil): Long = {
    val spark = batch.sparkSession
    val sinkPath = new Path(sink)
    val fs = sinkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keyCols = keys.map(k => col(s"`$k`"))
    val sinkHasData = fs.exists(sinkPath) && fs.listStatus(sinkPath).nonEmpty
    // every exit invalidates Spark's cached file listing for the sink:
    // plans resolved pre-rewrite would otherwise read renamed-away files
    // (FAILED_READ_FILE.FILE_NOT_EXIST under concurrent readers)
    def refreshed(n: Long, written: Option[StructType]): Long = {
      try spark.catalog.refreshByPath(sink) catch { case NonFatal(_) => () }
      written.foreach(s => Catalog.primeSchemaCache(spark, sink, Catalog.readBackSchema(s)))
      n
    }
    val (b, rows) = counted(batch)
    if (!sinkHasData) {
      val w = b.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(sink)
      return refreshed(rows(), Some(batch.schema).filter(_ => partitionCols.isEmpty))
    }
    val staging = new Path(sink + "__staging")

    if (partitionCols.nonEmpty) {
      // Rewrite only the partitions the batch touches: merged (kept rows
      // of touched partitions + the batch) is staged PARTITIONED once,
      // then each staged partition directory is swapped into the sink.
      val existing = spark.read.parquet(sink)
      val touched = batch.select(partitionCols.map(col): _*).distinct()
      val kept = existing
        .join(touched, partitionCols, "left_semi")
        .join(batch.select(keyCols: _*).distinct(), keys, "left_anti")
      // allowMissingColumns: the batch may carry sink columns that
      // exist only as declared metadata (ALTER ADD COLUMN on an empty
      // sink — flow_aft_alter's sample_cnt); old rows take null
      kept.unionByName(b, allowMissingColumns = true)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(staging.toString)
      // leaf partition dirs sit partitionCols.length levels deep
      def leaves(p: Path, depth: Int): Seq[Path] =
        if (depth == 0) Seq(p)
        else fs.listStatus(p).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.contains("="))
          .flatMap(s => leaves(s.getPath, depth - 1))
      val stagingPrefix = staging.toUri.getPath
      for (part <- leaves(staging, partitionCols.length)) {
        val rel = part.toUri.getPath.stripPrefix(stagingPrefix).stripPrefix("/")
        val dest = new Path(sinkPath, rel)
        fs.mkdirs(dest.getParent)
        swapIn(fs, part, dest)
      }
      fs.delete(staging, true)
      refreshed(rows(), None)
    } else {
      // One union and one keyed window instead of an anti-join against
      // the batch's distinct keys: the batch is planned and executed
      // once. An old row goes when a new row shares its (fully non-null)
      // key; every new row stays, duplicates included. The old rows are
      // read with the cached merged schema (no inference job).
      val isNew = "__upsert_new"
      val hit = "__upsert_hit"
      val noNullKey = keyCols.map(_.isNotNull).reduceOption(_ && _).getOrElse(lit(true))
      val merged = Catalog.rawRead(spark, sink).withColumn(isNew, lit(false))
        .unionByName(b.withColumn(isNew, lit(true)), allowMissingColumns = true)
        .withColumn(hit, max(col(isNew)).over(Window.partitionBy(keyCols: _*)))
        .filter(col(isNew) || !(col(hit) && noNullKey))
        .drop(isNew, hit)
      merged.write.mode("overwrite").parquet(staging.toString)
      swapIn(fs, staging, sinkPath)
      refreshed(rows(), Some(merged.schema))
    }
  }
}
