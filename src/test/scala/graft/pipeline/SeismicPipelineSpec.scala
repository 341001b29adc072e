package graft.pipeline

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Metrics, SparkTestBase}
import graft.sources.Tables

class SeismicPipelineSpec extends SparkTestBase {

  test("full run, idempotent re-run, and watermark advance") {
    val work = Files.createTempDirectory("pipe").toString

    // first run processes every event
    val r1 = SeismicPipeline.runIncremental(spark, sfDir, work)
    val sourceEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val distinctIds = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id").distinct().count()
    assert(r1.newRecords === sourceEvents)
    assert(r1.silverRows === distinctIds) // dedup collapsed duplicate ids
    assert(r1.goldRows > 0)

    // second run sees nothing past the watermark and changes nothing
    val r2 = SeismicPipeline.runIncremental(spark, sfDir, work)
    assert(r2.newRecords === 0L)
    assert(r2.silverRows === r1.silverRows)
    assert(r2.goldRows === r1.goldRows)
    assert(r2.watermark === r1.watermark)
  }

  test("silver is hive-partitioned by (year, month) and a year predicate " +
      "prunes to matching partition directories") {
    val work = Files.createTempDirectory("pipe3").toString
    SeismicPipeline.runIncremental(spark, sfDir, work)
    val silverP = SeismicPipeline.silverPath(work)

    // layout: year=... directories with month=... below them
    val years = new java.io.File(silverP).listFiles().map(_.getName)
      .filter(_.startsWith("year=")).sorted
    assert(years.nonEmpty, s"no year= dirs under $silverP")
    val months = new java.io.File(s"$silverP/${years.head}").listFiles()
      .map(_.getName).filter(_.startsWith("month="))
    assert(months.nonEmpty, s"no month= dirs under $silverP/${years.head}")

    // a year predicate becomes a PartitionFilter (pruned at listing time,
    // not per-row), and only files from that year's directories are read
    val y = years.head.stripPrefix("year=").toInt
    val pruned = spark.read.parquet(silverP).filter(col("year") === y)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(year"), scan.take(1500))
    assert(pruned.select(input_file_name()).distinct()
      .collect().forall(_.getString(0).contains(s"year=$y")))
    // pruning did not change semantics: partition slice == row filter
    assert(pruned.count() ===
      spark.read.parquet(silverP).collect().count(_.getAs[Int]("year") == y))
  }

  test("silver layer carries enrichment, physics, and calendar columns") {
    val work = Files.createTempDirectory("pipe2").toString
    SeismicPipeline.runIncremental(spark, sfDir, work)
    val silver = spark.read.parquet(SeismicPipeline.silverPath(work))

    // every event got exactly one band, fallback included
    assert(silver.filter(col("band_code").isNull).count() === 0)
    // clamp bound respected
    assert(silver.filter(col("depth_km") < 0 || col("depth_km") > 300)
      .count() === 0)
    // risk ladder consistent with magnitude
    assert(silver.filter(col("magnitude") >= 7 &&
      col("risk_level") =!= "CRITICAL").count() === 0)
    // gold totals reconcile with silver
    val gold = spark.read.parquet(SeismicPipeline.goldPath(work))
    val goldTotal = gold.agg(sum("total_events")).collect().head.getLong(0)
    assert(goldTotal === silver.count())
  }

  // --- incremental runs over a synthetic bronze -------------------------
  //
  // history: March holds only ids 1–2; April ids 3–40; May ids 41–80.
  // slice 0 (May 31 – Jun 1): new ids across the month edge, in-slice
  //   duplicates, and revisions that move ids 1–2 out of March (emptying
  //   it) and id 41 from May into June;
  // slice 1 (Jun 2): new ids, a duplicate, revisions of ids 3 (April →
  //   June) and 100 (May → June);
  // slice 2 (Jul 1): new ids and revisions moving June ids into July.

  private def at(s: String) = LocalDateTime.parse(s)

  private def events(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, ts, v) =>
      (id, at(ts), id % 7, if (id % 2 == 0) "click" else "view", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  private lazy val history = events(
    Seq((1L, "2024-03-01T01:00:00", 12.5), (2L, "2024-03-02T02:00:00", 80.0)) ++
      (3L to 40L).map(i => (i, f"2024-04-${i % 28 + 1}%02dT03:00:00", i * 3.7)) ++
      (41L to 80L).map(i => (i, f"2024-05-${i % 30 + 1}%02dT04:00:00", i * 2.9)): _*)

  private lazy val slices = Seq(
    events(
      (100L to 130L).map(i => (i,
        if (i < 115) s"2024-05-31T${10 + i % 10}:00:00"
        else s"2024-06-01T${10 + i % 10}:00:00", i * 1.3)) ++
        Seq((100L, "2024-05-31T22:30:00", 250.0), // in-slice duplicates
          (116L, "2024-06-01T23:00:00", 7.5),
          (1L, "2024-06-01T05:00:00", 150.0), // revisions
          (2L, "2024-06-01T06:00:00", 15.0),
          (41L, "2024-06-01T07:00:00", 99.0)): _*),
    events(
      (200L to 220L).map(i => (i, f"2024-06-02T${i % 20}%02d:15:00", i * 0.7)) ++
        Seq((200L, "2024-06-02T23:59:00", 333.0),
          (3L, "2024-06-02T21:00:00", 55.5),
          (100L, "2024-06-02T22:00:00", 42.0)): _*),
    events(
      (300L to 310L).map(i => (i, f"2024-07-01T${i % 20}%02d:45:00", i * 0.4)) ++
        Seq((1L, "2024-07-01T21:00:00", 1.0), (205L, "2024-07-01T22:00:00", 2.0),
          (120L, "2024-07-01T23:00:00", 500.0)): _*))

  private def append(bronze: String, df: DataFrame): Unit =
    Tables.append(df, s"$bronze/events.parquet")

  /** Silver rows without the run-time `processed_ts`, gold rows, sorted. */
  private def layers(work: String): (Seq[String], Seq[String]) = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val silver = spark.read.parquet(SeismicPipeline.silverPath(work))
    (rows(silver.select(silver.columns.filter(_ != "processed_ts").sorted
        .map(col): _*)),
      rows(spark.read.parquet(SeismicPipeline.goldPath(work))))
  }

  test("backfill + slices with duplicates, cross-month revisions and an " +
      "emptied partition equal one full run; job counts stay pinned") {
    withTempDir("pipe_inc") { dir =>
      val (bronze, inc, full) = (s"$dir/bronze", s"$dir/inc", s"$dir/full")
      append(bronze, history)
      SeismicPipeline.runIncremental(spark, bronze, inc)
      val dayJobs = slices.map { slice =>
        append(bronze, slice)
        Metrics.measure(spark)(SeismicPipeline.runIncremental(spark, bronze, inc)).jobs
      }
      var idle: SeismicPipeline.RunSummary = null
      val idleJobs = Metrics.measure(spark) {
        idle = SeismicPipeline.runIncremental(spark, bronze, inc)
      }.jobs
      val once = SeismicPipeline.runIncremental(spark, bronze, full)

      assert(layers(inc) === layers(full))
      assert(idle.newRecords === 0L)
      assert((idle.silverRows, idle.goldRows, idle.watermark) ===
        (once.silverRows, once.goldRows, once.watermark))
      // the revisions emptied March: its partition is gone, not left empty
      val silver = new java.io.File(SeismicPipeline.silverPath(inc))
      assert(!new java.io.File(silver, "year=2024/month=3").exists())
      assert(new java.io.File(silver, "year=2024/month=7").exists())
      // a daily refresh and an idle run cost a bounded number of Spark jobs
      assert(dayJobs.forall(_ <= 19), s"day refresh jobs $dayJobs")
      assert(idleJobs <= 6, s"idle run jobs $idleJobs")
    }
  }

  test("a crash at each commit point re-runs to the crash-free result") {
    withTempDir("pipe_crash") { dir =>
      // bronze(k): the history plus the first k slices
      val bronze = (0 to 2).map { k =>
        val b = s"$dir/bronze$k"
        (history +: slices.take(k)).foreach(append(b, _))
        b
      }
      def run(k: Int, work: String) = SeismicPipeline.runIncremental(spark, bronze(k), work)
      def state(work: String) = (layers(work),
        new graft.state.WatermarkStore(spark, s"$work/control_watermark")
          .all().drop("last_updated").collect().map(_.toString).sorted.toSeq)
      val clean = s"$dir/clean"
      (0 to 2).foreach(run(_, clean))

      // "silver-part": gold is committed and, of the silver partitions,
      // only April (which slice 1's revision of id 3 leaves) is swapped in
      // when the run dies
      Seq("gold", "silver-part", "silver").foreach { point =>
        val work = s"$dir/$point"
        (0 to 1).foreach(run(_, work))
        val crash = if (point == "silver-part") "gold" else point
        intercept[IllegalStateException] {
          SeismicPipeline.runIncremental(spark, bronze(2), work, p =>
            if (p == crash) throw new IllegalStateException(s"crash after $p"))
        }
        if (point == "silver-part")
          Tables.publish(spark, SeismicPipeline.silverPath(work) + ".__tmp__",
            SeismicPipeline.silverPath(work), Seq("year=2024/month=4"))
        assert(run(2, work).newRecords === slices(1).count())
        assert(state(work) === state(clean), point)
      }
    }
  }
}
