package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.functions.Physics
import graft.operators.{BandJoin, Dedup, Upsert}
import graft.sources.Tables
import graft.state.WatermarkStore

/** The reference's full medallion flow composed end-to-end from the
  * engine's operators (SURVEY.md §3 E1–E3), over the `events` fixture:
  *
  *   watermark read (§2j) → pushdown incremental scan (P3) →
  *   dedup-keep-latest (W1) → validation/clamp (P4) → broadcast band
  *   enrichment with priority pick + OTHER fallback (J1–J4) → native
  *   physics/risk expressions (§2i) → calendar projection (§2h) →
  *   MERGE-upsert into the touched silver partitions (S7) → gold grouped
  *   aggregates (A1/A2) of those partitions (S6) → watermark advance (S8).
  *
  * A daily run costs O(increment), like the reference's Delta MERGE, and
  * runs these actions:
  *  1. the watermark read;
  *  2. one aggregate over the increment: its row count (a run with none
  *     ends here), its max event time (the next watermark) and the
  *     `(year, month)` partitions its rows land in;
  *  3. a column-pruned semi-join of silver's `(event_id, year, month)`
  *     against the increment's silver rows (cached until the run ends):
  *     the partitions holding an older version of one of its keys (a
  *     revision may move an event across a month edge, or empty a
  *     partition);
  *  4. the staged write of those touched partitions, merged;
  *  5. the gold write: the groups of the touched partitions, recomputed
  *     from the staged silver, next to the untouched gold rows — a gold
  *     group lies inside one silver partition, so this equals a full
  *     rebuild. Its observed row count and `sum(total_events)` are the
  *     run's gold and silver sizes;
  *  6. the watermark advance.
  * The first run (no silver yet) stages the whole silver table with no
  * cache and no discovery (actions 1, 2, 4, 5, 6).
  *
  * Commits run gold → silver → watermark. Gold is derived from the
  * STAGED silver partitions so that it can commit first: a re-run after
  * a crash reads the same increment (the watermark has not moved) and
  * recomputes the same touched set as long as silver is uncommitted. Once
  * silver is committed, a re-run can no longer see which partitions the
  * merge emptied or moved events out of, but gold already holds them.
  * Either way the re-run converges on the crash-free result.
  */
object SeismicPipeline {

  case class RunSummary(newRecords: Long, silverRows: Long, goldRows: Long,
      watermark: Timestamp)

  val SeedWatermark: Timestamp =
    Timestamp.from(java.time.Instant.parse("1990-01-01T00:00:00Z"))

  /** The silver "value band" dimension (tectonic-region-dim analog). */
  def bandDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("LOW", "Low band", 0.0, 50.0, 2),
      ("MID", "Mid band", 40.0, 120.0, 1),
      ("HIGH", "High band", 100.0, 300.0, 3))
      .toDF("band_code", "band_name", "lo", "hi", "priority")
  }

  def silverPath(workDir: String) = s"$workDir/silver_events"
  def goldPath(workDir: String) = s"$workDir/gold_band_summary"

  /** Silver columns: the increment deduplicated, validated, enriched. */
  private def silverOf(spark: SparkSession, increment: DataFrame): DataFrame = {
    // W1 dedup-keep-latest within the increment; tiebreak over every
    // other column silver is built from, so equal-ts duplicates resolve
    // deterministically
    val deduped = Dedup.keepFirst(increment, Seq("event_id"),
      col("ts").desc +: increment.columns.toSeq
        .filterNot(c => c == "event_id" || c == "ts").map(col(_).desc))

    // P4 validation/clamp (value plays depth-km: null→0, clamp [0, 300])
    val validated = deduped.withColumn("value_clean",
      when(col("value").isNull, 0.0)
        .when(col("value") < 0, 0.0)
        .when(col("value") > 300, 300.0)
        .otherwise(col("value")))

    // J1–J4 broadcast band enrichment
    val enriched = BandJoin.enrich(
      facts = validated,
      factKey = "event_id",
      dim = bandDim(spark),
      joinCond = col("value_clean") >= col("lo") &&
        col("value_clean") <= col("hi"),
      pickOrder = Seq(col("priority").asc, col("band_code").asc),
      fallback = Map(
        "band_code" -> lit("OTHER"),
        "band_name" -> lit("Other"),
        "priority" -> lit(99)))

    // §2i native physics + §2h calendar projection
    val mag = col("value_clean") / 50
    enriched.select(
      col("event_id"), col("ts").as("event_time"), col("user_id"),
      col("event_type"), col("value_clean").as("depth_km"),
      col("band_code"), col("band_name"), col("priority"),
      round(mag, 4).as("magnitude"),
      Physics.energyJoulesLog(mag).as("energy_joules_log"),
      Physics.riskLevel(mag).as("risk_level"),
      Physics.depthCategory(col("value_clean")).as("depth_category"),
      Physics.tsunamiPotential(mag, col("value_clean")).as("tsunami_potential"),
      hour(col("ts")).as("hour_of_day"),
      month(col("ts")).as("month"),
      year(col("ts")).as("year"),
      current_timestamp().as("processed_ts"))
  }

  /** A1/A2 gold groups; each lies inside one silver `(year, month)`. */
  private def goldOf(silver: DataFrame): DataFrame =
    silver
      .groupBy(col("band_code"), col("year"), col("month"))
      .agg(
        count(lit(1)).as("total_events"),
        round(avg(col("magnitude")) + lit(1e-6), 4).as("avg_magnitude"),
        round(max(col("magnitude")), 4).as("max_magnitude"),
        sum(when(col("risk_level") === "CRITICAL", 1).otherwise(0))
          .as("critical_events"),
        sum(when(col("tsunami_potential"), 1).otherwise(0))
          .as("tsunami_events"))

  private val ym = col("year") * 100 + col("month")

  /** One incremental run. Returns the summary; a run with no new records
    * is a no-op (reference early-exit, `04:49-51`).
    */
  def runIncremental(spark: SparkSession, sfDir: String,
      workDir: String): RunSummary =
    runIncremental(spark, sfDir, workDir, _ => ())

  /** Test seam: `committed` runs after the gold commit (`"gold"`) and the
    * silver commit (`"silver"`) — the crash windows of the commit order.
    */
  private[graft] def runIncremental(spark: SparkSession, sfDir: String,
      workDir: String, committed: String => Unit): RunSummary = {
    val store = new WatermarkStore(spark, s"$workDir/control_watermark")
    val wm = store.read("silver_events", SeedWatermark)
    val (silverP, goldP) = (silverPath(workDir), goldPath(workDir))
    val backfill = !Tables.exists(spark, silverP)
    // only the columns silver is built from (props is not carried)
    val increment = Tables.loadEventsSince(spark, sfDir, wm)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // the increment's silver rows feed the discovery and the merge below;
    // the first run writes them once and caches nothing
    val silverNew =
      if (backfill) silverOf(spark, increment)
      else CacheScope.cache(silverOf(spark, increment))
    try {
      val goldSchema = goldOf(silverNew).schema
      val stats = increment.agg(count(lit(1)), max(col("ts")),
        collect_set(year(col("ts")) * 100 + month(col("ts")))).head()
      val newCount = stats.getLong(0)
      if (newCount == 0L) {
        // no-op run; silver/gold may not exist yet if the very first run
        // saw no data past the seed watermark. Gold is a few rows per
        // month: its totals are summed on the driver
        val totals =
          if (!Tables.exists(spark, goldP)) Array.empty[Long]
          else spark.read.schema(goldSchema).parquet(goldP)
            .select("total_events").collect().map(_.getLong(0))
        return RunSummary(0L, totals.sum, totals.length.toLong, wm)
      }
      val maxTs = WatermarkStore.timestampAt(stats, 1)
      val landed = stats.getSeq[Int](2)
      val readSilver = (path: String) =>
        spark.read.schema(silverNew.schema).parquet(path)

      // S7 MERGE-upsert into silver, hive-partitioned by (year, month) so
      // that month-scoped reads, this merge's included, prune to partition
      // directories. Staged: the first run writes silver whole, later runs
      // only the touched partitions — where the increment lands, and where
      // older versions of its keys live (found without reading anything
      // but silver's key columns)
      val staged = silverP + ".__tmp__"
      // rows go out in key order within each partition file (the writer
      // sorts by the partition columns anyway, and ordered ids and event
      // times encode smaller than hash order), zstd-compressed: the
      // backfill writes one file per partition per writer task, and each
      // file repeats its dictionaries, which zstd squeezes where snappy
      // cannot
      def stage(df: DataFrame): Unit =
        df.sortWithinPartitions("year", "month", "event_id")
          .write.mode("overwrite").option("compression", "zstd")
          .partitionBy("year", "month").parquet(staged)
      val touched =
        if (backfill) {
          stage(silverNew)
          landed
        } else {
          val held = readSilver(silverP).select("event_id", "year", "month")
            .join(broadcast(silverNew.select("event_id")), Seq("event_id"),
              "left_semi")
            .select(ym).distinct().collect().map(_.getInt(0))
          val parts = (landed ++ held).distinct
          // one writer task: the touched partitions are O(increment), and
          // each gets exactly one file without a shuffle
          stage(Upsert.upsert(readSilver(silverP).filter(ym.isin(parts: _*)),
            broadcast(silverNew), Seq("event_id")).coalesce(1))
          parts
        }

      // A1/A2 gold: the touched partitions' groups from the staged silver
      // (which holds exactly those), the rest kept as committed; a few
      // rows per month, written as one file
      val fresh = goldOf(readSilver(staged))
      val gold =
        if (backfill || !Tables.exists(spark, goldP)) fresh
        else spark.read.schema(goldSchema).parquet(goldP)
          .filter(!ym.isin(touched: _*)).unionByName(fresh)
      val sizes = Observation()
      Tables.overwrite(gold.observe(sizes, count(lit(1)).as("groups"),
        coalesce(sum(col("total_events")), lit(0L)).as("rows"))
        .coalesce(1), goldP)
      committed("gold")

      Tables.publish(spark, staged, silverP,
        if (backfill) Seq("") else touched.map(k => s"year=${k / 100}/month=${k % 100}"))
      committed("silver")

      // S8 watermark advance to max event time of the committed batch
      store.advance("silver_events", "event_time", maxTs, newCount)
      val observed = sizes.get
      RunSummary(newCount, observed("rows").asInstanceOf[Long],
        observed("groups").asInstanceOf[Long], maxTs)
    } finally CacheScope.release(silverNew)
  }
}
