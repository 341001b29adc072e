package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Parquet table helpers (SURVEY.md §2a S4–S6, S9–S10).
  *
  * The reference stores every layer as a Delta table and scans with
  * `spark.table(name)` (`03_bronze_processing.py:20`,
  * `04_silver_transformation.py:33`). We use plain parquet directories keyed
  * by table name, which is what the driver testdata ships
  * (`NAME.parquet` under each `/root/testdata/sfN` directory).
  */
object Tables {

  /** Scan one of the driver-provided tables under `sfDir`.
    *
    * Two fixture vintages of `events.ts` are handled: parquet
    * TIMESTAMP(NANOS), which Spark reads only as a nanosecond Long
    * (`spark.sql.legacy.parquet.nanosAsLong`, set in [[graft.Sessions]])
    * and is truncated to microseconds the same way DuckDB truncates; and
    * parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads
    * natively as TIMESTAMP_NTZ and which passes through unchanged —
    * DuckDB reads the same file as its (naive) TIMESTAMP, so values and
    * types line up with the oracle with no conversion at all.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        // integer DIV — epoch nanos exceed double precision, so `/` (which
        // is double division in the Column DSL) would round the last digit
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }

  /** Normalize an event-time column to session-zoned TimestampType for
    * consumers that REQUIRE it (streaming `withWatermark`, epoch
    * extraction like `unix_millis`) whatever flavor the source stores:
    * nanosecond Long (legacy fixtures), TIMESTAMP_NTZ (current
    * fixtures), or already TimestampType. Under the UTC session zone
    * ([[graft.Sessions]]) the NTZ→timestamp cast is value-preserving.
    * Works on batch and streaming frames (pure projection).
    */
  def tsToTimestamp(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.find(_.name == colName).map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }

  /** Watermark-filtered events scan with parquet pushdown.
    *
    * [[load]] rewrites the nanosecond `ts` through
    * `timestamp_micros(ts div 1000)`, which Catalyst cannot push through —
    * the scan would read every row group and filter late (at 100 TB the
    * incremental read becomes a full scan). Instead: push a COARSE
    * predicate on the raw nanosecond long (`ts > wm_micros * 1000`, a
    * superset because sub-microsecond remainders truncate), then apply
    * the EXACT post-conversion predicate as a residual — the standard
    * pushdown + residual pattern.
    */
  def loadEventsSince(spark: SparkSession, sfDir: String,
      watermark: java.sql.Timestamp): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        val wmNanos = watermark.getTime * 1000000L +
          (watermark.getNanos % 1000000)
        raw.filter(col("ts") > wmNanos)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          .filter(col("ts") > lit(watermark))
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        // exact NTZ-literal predicate straight on the stored column — no
        // coarse/residual dance needed (micro precision matches), and the
        // comparison pushes into the parquet scan as-is
        val ntzWm = java.time.LocalDateTime.ofInstant(
          watermark.toInstant, java.time.ZoneOffset.UTC)
        raw.filter(col("ts") > lit(ntzWm))
      case _ =>
        load(spark, sfDir, "events").filter(col("ts") > lit(watermark))
    }
  }

  /** Register the full fixture star schema as temp views so `spark.sql`
    * queries read the same names the DuckDB oracle does.
    */
  val fixtureTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def registerAll(spark: SparkSession, sfDir: String): Unit =
    fixtureTables.foreach { t =>
      load(spark, sfDir, t).createOrReplaceTempView(t)
    }

  /** CSV scan with explicit schema (source-format breadth; header on,
    * schema REQUIRED — inference means a second full pass at scale).
    */
  def loadCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON-lines scan with explicit schema (one object per line — the
    * splittable layout; multiLine JSON parses per-FILE and is reserved
    * for the GeoJSON FeatureCollection source).
    */
  def loadJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Does a table path exist? Also performs crash recovery: a [[publish]]
    * that died between its renames left the table, or some of its
    * partitions, only under `path.__old__` — restore them before
    * answering, so no caller can mistake the crash window for "first
    * write" and truncate the table.
    */
  def exists(spark: SparkSession, path: String): Boolean = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, path)
    fs.exists(dst)
  }

  /** Append sink (reference: Delta append, `02_ingestion.py:214-217`). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Overwrite sink (reference: Delta overwrite, `03:113-117`, `05:79`...).
    *
    * Safe even when `path` is also an input of `df`: Spark cannot overwrite a
    * directory it is lazily reading (the reference got read-while-overwrite
    * for free from Delta MVCC), so we materialize to a sibling temp dir and
    * atomically swap. Single-writer semantics match the reference's
    * `max_concurrent_runs: 1` (`Pipeline.json:22`).
    */
  def overwrite(df: DataFrame, path: String): Unit = {
    val tmp = path + ".__tmp__"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    publish(df.sparkSession, tmp, path)
  }

  /** Swap already-materialized directories into place via the crash-safe
    * rename chain: each of `parts` (sub-directories, relative to both
    * roots) moves from `stagedPath` to `path`; a part missing from the
    * staged side is removed. The default one part `""` is the whole
    * directory, so any hive-style `key=value` layout inside it is kept.
    */
  def publish(spark: SparkSession, stagedPath: String, path: String,
      parts: Seq[String] = Seq("")): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val old = path + ".__old__"
    recover(fs, path)
    // each part's previous version survives under .__old__ until the new
    // one is in place, so a crash leaves either version addressable —
    // never neither. A partition swap first lists its parts there: that
    // list is what tells recovery they are backups rather than a whole
    // superseded table
    if (parts != Seq("")) {
      val out = fs.create(new Path(old, PartsFile), true)
      try out.write(parts.mkString("\n").getBytes("UTF-8")) finally out.close()
    }
    // renames are CHECKED (HDFS/S3A report failure by returning false,
    // not by throwing)
    parts.foreach { p =>
      val (src, dst, bak) = (under(stagedPath, p), under(path, p), under(old, p))
      if (fs.exists(dst) && !(fs.mkdirs(bak.getParent) && fs.rename(dst, bak)))
        throw new java.io.IOException(s"publish: could not stage $dst -> $bak")
      val removed = p.nonEmpty && !fs.exists(src)
      if (!removed && !(fs.mkdirs(dst.getParent) && fs.rename(src, dst))) {
        fs.rename(bak, dst) // best-effort rollback
        throw new java.io.IOException(s"publish: could not publish $src -> $dst")
      }
    }
    fs.delete(new Path(old), true)
    fs.delete(new Path(stagedPath), true)
  }

  private val PartsFile = "_parts"

  private def under(root: String, part: String) =
    new Path(if (part.isEmpty) root else s"$root/$part")

  /** Undo a [[publish]] cut short. With a parts list at `path.__old__`,
    * each listed part missing from `path` is restored; otherwise, with
    * `path` gone, `path.__old__` is the whole previous table. Whatever
    * remains at `path.__old__` is superseded and is dropped.
    */
  private def recover(fs: FileSystem, path: String): Unit = {
    val old = new Path(path + ".__old__")
    if (fs.exists(old)) {
      val list = new Path(old, PartsFile)
      if (fs.exists(list)) {
        val in = fs.open(list)
        val parts = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        parts.split("\n").filter(_.nonEmpty).foreach { p =>
          val (d, bak) = (under(path, p), under(old.toString, p))
          if (!fs.exists(d) && fs.exists(bak) && fs.mkdirs(d.getParent))
            fs.rename(bak, d)
        }
      } else if (!fs.exists(new Path(path)))
        fs.rename(old, new Path(path))
      fs.delete(old, true)
    }
  }
}
