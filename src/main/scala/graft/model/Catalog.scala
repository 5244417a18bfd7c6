package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table registry + read-view builder.
  *
  * A graft table is an append-only Parquet directory; upsert / merge
  * semantics are applied as a *view* at read time (SURVEY.md §1.1):
  *
  *  - last_row:      `row_number() over (partition by pk order by seq desc) = 1`
  *  - last_non_null: per-field `first(value, ignoreNulls)` over the same key
  *  - append:        raw read
  *  - ttl:           `time_index >= now() - ttl` filter injected at scan
  *
  * At 100 TB the dedup window shuffles on (tags, ts) once; downstream
  * per-series operators (RANGE, PromQL) reuse that clustering.
  * Compaction ([[Catalog.compactSnapshot]] + the on-disk manifest)
  * materializes the deduped snapshot so steady-state reads skip the
  * window entirely, and post-compaction appends pay it only on the
  * keys they touch (SURVEY §7.3(c)).
  */
final class Catalog(spark: SparkSession) {
  private val specs = scala.collection.concurrent.TrieMap.empty[String, TableSpec]

  def register(spec: TableSpec): Unit = specs.put(spec.name, spec)
  def deregister(name: String): Option[TableSpec] = specs.remove(name)
  def spec(name: String): TableSpec = specs(name)
  def tables: Seq[String] = specs.keys.toSeq.sorted

  /** Raw append-stream read (no merge semantics). mergeSchema unions
    * file footers so ALTER TABLE ADD COLUMN is a metadata-only change
    * (older files surface the new column as null). */
  def raw(name: String): DataFrame = Catalog.rawRead(spark, spec(name).path)

  /** The merged read view: what SQL queries against this table see.
    * Compaction-aware for merge-mode tables (SURVEY §7.3(c)): when the
    * on-disk manifest says the files are exactly the compacted
    * snapshot, the scan is window-free (steady state at 100 TB); when a
    * delta was appended since, only keys the delta touches pay the
    * merge window — cost ∝ delta, not corpus. */
  def read(name: String): DataFrame =
    Catalog.compactionAwareRead(spark, raw(name), spec(name))

  /** Register the read view as a temp view so spark.sql can use it. */
  def createView(name: String): Unit = read(name).createOrReplaceTempView(name)

  /** Per-series scan (reference mito2 series_scan.rs): co-locate each
    * series on one partition, time-ordered within it — the input shape
    * the RANGE / PromQL / lastpoint operators want. One shuffle on the
    * tags; the sort is partition-local, never global. */
  def seriesScan(name: String): DataFrame = {
    val s = spec(name)
    Catalog.partSort(read(name), s.tags, s.timeIndex)
  }
}

object Catalog {
  private val SeqCol = "__graft_seq"

  /** Merged-schema cache for [[rawRead]]: (path, file-listing
    * signature) → merged schema. Bounded: cleared wholesale past 4096
    * entries (schemas are tiny; the bound only guards very long golden
    * runs that rewrite tables thousands of times). */
  private val mergedSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  /** mergeSchema-equivalent parquet read with the merged schema CACHED
    * per (path, exact file listing) — optimization round 10. Spark's
    * `mergeSchema=true` runs a footer-union JOB on every read, and the
    * SQL frontend reads a table several times per statement (target
    * schema, read view refresh, flow sources): merge_compacted_read
    * profiled 6+ such jobs per run. The cache key carries every data
    * file's (name, length, mtime), so any append/rewrite/compaction
    * invalidates it; reading with the cached merged schema is
    * semantically identical to mergeSchema (per-file projection with
    * null fill), minus the per-read footer job. */
  // Cache assumptions (documented per r10 advice): graft tables are
  // FLAT directories (the non-recursive listing below would miss
  // partitioned layouts) and every writer emits fresh part-file names
  // (an in-place same-name/same-length rewrite inside mtime granularity
  // would serve a stale schema — no graft writer does that).
  private def listingSig(spark: SparkSession, path: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).iterator
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .toSeq.sorted.mkString("|")
    } catch { case e: java.io.IOException =>
      Console.err.println(
        s"[catalog] schema-cache listing failed for $path, falling back to mergeSchema: ${e.getMessage}")
      ""
    }

  /** Pre-seed the schema cache with a schema the writer already knows.
    * INSERT appends columns aligned to the full target schema, so the
    * merged schema of the grown listing is the one read before the
    * write; a flow refresh rewrites its sink with one known schema
    * ([[readBackSchema]] of the written frame). Without this, every
    * write invalidates the cache by design and the next statement pays
    * a fresh footer-union job; at 100 TB that job scans every file
    * footer in the table to rediscover a schema the writer already
    * knew. Call it after the write, once the listing is final. */
  def primeSchemaCache(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val sig = listingSig(spark, path)
    if (sig.nonEmpty) mergedSchemaCache.put((path, sig), schema): Unit
  }

  /** The schema a Parquet read returns for files written from a frame
    * of schema `written`: file sources write every field nullable. */
  def readBackSchema(written: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    nullable(written).asInstanceOf[StructType]
  }

  def rawRead(spark: SparkSession, path: String): DataFrame = {
    val sig = listingSig(spark, path)
    if (sig.isEmpty)
      spark.read.option("mergeSchema", "true").parquet(path)
    else {
      if (mergedSchemaCache.size > 4096) mergedSchemaCache.clear()
      val schema = mergedSchemaCache.computeIfAbsent((path, sig), _ =>
        spark.read.option("mergeSchema", "true").parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  /** PartSortExec equivalent (reference query/src/part_sort.rs): sort
    * inside existing partitions without a global shuffle-sort. With
    * `keys` empty the frame keeps its current partitioning; otherwise
    * hash-partition by the keys first (series co-location). */
  def partSort(df: DataFrame, keys: Seq[String], orderBy: String): DataFrame = {
    val partitioned =
      if (keys.isEmpty) df else df.repartition(keys.map(k => col(s"`$k`")): _*)
    partitioned.sortWithinPartitions((keys :+ orderBy).map(k => col(s"`$k`")): _*)
  }

  def readView(df: DataFrame, spec: TableSpec): DataFrame = {
    // ttl='instant' drops rows at write (scans never see them); a
    // duration ttl expires rows only when flush/compaction materializes
    // it (ttl/ttl_instant.result vs flow/flow_advance_ttl.result: rows
    // older than the ttl stay visible until ADMIN flush/compact)
    val ttlFiltered = spec.ttlMillis match {
      case Some(0L) => df.filter(lit(false))
      case _ => df
    }
    spec.mergeMode match {
      case MergeMode.Append => ttlFiltered
      case _ => spec.compactedSeq
          // the delta split orders against REAL persisted seqs; without
          // a physical seq column fall back to the full merge window
          .filter(_ => spec.seqColumn.exists(df.columns.contains)) match {
        case Some(s) => mergeDelta(ttlFiltered, spec, s)
        case None if spec.mergeMode == MergeMode.LastRow =>
          dedupLastRow(ttlFiltered, spec)
        case None => dedupLastNonNull(ttlFiltered, spec)
      }
    }
  }

  // ── Compaction (SURVEY §7.3(c)) ─────────────────────────────────────
  //
  // ADMIN compact_table on a merge-mode table rewrites the Parquet to
  // the merged snapshot (reference: mito compaction merging SSTs with
  // the same dedup semantics the read path applies,
  // mito2/src/read/dedup.rs:301-425) and records a manifest beside the
  // data: the compacted seq bound + the exact file listing it produced.
  // The read path then picks one of three plans:
  //   listing == manifest  → CLEAN: scan only, NO window (steady state)
  //   listing ⊃ manifest   → DELTA: window only keys the delta touches
  //   no manifest          → full merge window (today's behavior)
  // The manifest is on-disk state — it survives restarts, exactly like
  // the minhash/digest dedup indexes.

  /** Manifest file name; the leading underscore keeps Spark's Parquet
    * reader from treating it as data. */
  private val ManifestFile = "_graft_compaction"

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data-file names under a table dir (underscore/dot files excluded —
    * the same set Spark's scan sees). Driver-side metadata listing, one
    * FS call — the same cost class as a lakehouse snapshot check. */
  private def dataFiles(spark: SparkSession, path: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
  }

  /** Record a just-finished compaction: seq bound + file listing. */
  def writeCompactionManifest(spark: SparkSession, path: String,
      seq: Long): Unit = {
    val fs = fsOf(spark, path)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(path, ManifestFile), true)
    try out.write((seq.toString +: dataFiles(spark, path).toSeq.sorted)
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** (compacted seq bound, file listing at compaction time), if a
    * compaction ever ran on this dir. */
  def readCompactionManifest(spark: SparkSession,
      path: String): Option[(Long, Set[String])] = {
    val p = new org.apache.hadoop.fs.Path(path, ManifestFile)
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = text.split("\n").toSeq
      lines.headOption.flatMap(h => scala.util.Try(h.trim.toLong).toOption)
        .map(seq => (seq, lines.drop(1).map(_.trim).filter(_.nonEmpty).toSet))
    }
  }

  /** Merge view that consults the compaction manifest (see the plan
    * table above). Falls through to [[readView]] untouched for append
    * tables and never-compacted dirs. */
  def compactionAwareRead(spark: SparkSession, df: DataFrame,
      spec: TableSpec): DataFrame =
    if (spec.mergeMode == MergeMode.Append) readView(df, spec)
    else readCompactionManifest(spark, spec.path) match {
      case Some((seq, files)) if dataFiles(spark, spec.path) == files =>
        // fully compacted, nothing arrived since: the files ARE the
        // merged view — scan-only read, column set identical to the
        // windowed view's (engine seq column hidden)
        readView(df, spec.copy(mergeMode = MergeMode.Append)).drop(SeqCol)
      case Some((seq, _)) =>
        readView(df, spec.copy(compactedSeq = Some(seq)))
      case None => readView(df, spec)
    }

  /** Physical snapshot a compaction writes: the merge view's rows WITH
    * the seq column kept (stamped with the winning row's seq), so rows
    * appended after the compaction — strictly larger statement seqs —
    * still order correctly against the snapshot at read time. */
  def compactSnapshot(df: DataFrame, spec: TableSpec): DataFrame = {
    val hadSeq = df.columns.contains(SeqCol)
    val seqd = withSeq(df, spec)
    val merged = spec.mergeMode match {
      case MergeMode.Append      => seqd
      case MergeMode.LastRow     => keepNewest(seqd, spec)
      case MergeMode.LastNonNull => mergeNonNullSeqd(seqd, spec)
    }
    if (hadSeq) merged else dropSeq(merged)
  }

  /** Delta+snapshot merge read for a compacted table that has seen
    * later appends: rows with seq <= `bound` are already merged (one
    * row per key); only keys the delta touches re-enter the merge
    * window. Un-hinted joins on the delta key set — AQE converts them
    * to broadcast when the delta is small (the steady-state case). All
    * key joins are null-safe (null tags are valid key values). */
  private def mergeDelta(df: DataFrame, spec: TableSpec,
      bound: Long): DataFrame = {
    val seqd = withSeq(df, spec)
    val keys = mergeKey(seqd, spec)
    // a null/unknown seq can't prove membership in the compacted
    // snapshot — treat it as delta, never silently drop the row
    val isDelta = col(SeqCol).isNull || col(SeqCol) > bound
    val dk = seqd.filter(isDelta)
      .select(keys.map(c => col(s"`$c`").as(s"__dk_$c")): _*).distinct()
    val cond = keys.map(c => col(s"`$c`") <=> col(s"`__dk_$c`"))
      .reduce(_ && _)
    val touched = seqd.join(dk, cond, "leftsemi")
    val untouched = seqd.filter(!isDelta).join(dk, cond, "left_anti")
    val merged = spec.mergeMode match {
      case MergeMode.Append      => touched
      case MergeMode.LastRow     => keepNewest(touched, spec)
      case MergeMode.LastNonNull => mergeNonNullSeqd(touched, spec)
    }
    dropSeq(merged.unionByName(untouched))
  }

  /** Materialize the write-order column ONCE so every window in the
    * dedup pipeline sees identical ordering (monotonically_increasing_id
    * is deterministic per evaluation but not across re-evaluations after
    * a shuffle). */
  private def withSeq(df: DataFrame, spec: TableSpec): DataFrame =
    spec.seqColumn.filter(df.columns.contains) match {
      case Some(c) => df.withColumn(SeqCol, col(c).cast("long"))
      case None    => df.withColumn(SeqCol, monotonically_increasing_id())
    }

  /** Default upsert: duplicate (pk, ts) keys keep the last-written row
    * (mito2 MergeMode::LastRow). */
  def dedupLastRow(df: DataFrame, spec: TableSpec): DataFrame =
    dropSeq(keepNewest(withSeq(df, spec), spec))

  /** merge_mode=last_non_null: for each field independently, the last
    * non-null write wins (mito2/src/read/dedup.rs:301-425). */
  def dedupLastNonNull(df: DataFrame, spec: TableSpec): DataFrame =
    dropSeq(mergeNonNullSeqd(withSeq(df, spec), spec))

  /** last_non_null merge over an already-seq'd frame, seq kept on the
    * surviving row — shared by the read view and [[compactSnapshot]]. */
  private def mergeNonNullSeqd(seqd: DataFrame, spec: TableSpec): DataFrame = {
    val pk = mergeKey(seqd, spec).toSet
    val fields = seqd.columns
      .filterNot(c => pk.contains(c) || c == SeqCol || spec.seqColumn.contains(c))
    // Ordered newest-first; frame [current, +inf) reaches back to older
    // writes, so first(ignoreNulls) == newest non-null value <= this row.
    val w = Window.partitionBy(mergeKey(seqd, spec).map(c => col(s"`$c`")): _*)
      .orderBy(col(SeqCol).desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val merged = fields.foldLeft(seqd) { (d, f) =>
      d.withColumn(f, first(col(s"`$f`"), ignoreNulls = true).over(w))
    }
    keepNewest(merged, spec)
  }

  /** Merge key: the primary key plus, when the table stores one, the
    * time index's hidden sub-µs remainder — nanosecond-distinct rows
    * are distinct keys even though they share a µs timestamp. */
  private def mergeKey(df: DataFrame, spec: TableSpec): Seq[String] =
    spec.primaryKey ++
      Some(s"__nsr_${spec.timeIndex}").filter(df.columns.contains)

  private def keepNewest(df: DataFrame, spec: TableSpec): DataFrame = {
    val w = Window.partitionBy(mergeKey(df, spec).map(c => col(s"`$c`")): _*)
      .orderBy(col(SeqCol).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  private def dropSeq(df: DataFrame): DataFrame = df.drop(SeqCol)
}
