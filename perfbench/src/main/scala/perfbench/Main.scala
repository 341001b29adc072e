package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{CacheScope, Sessions, SparkEntry}
import graft.bronze.Quality
import graft.pipeline.SeismicPipeline
import graft.sources.Tables

/** Closed-loop benchmark client: one JVM, one client issuing operations
  * back to back through the engine's public entry points.
  *
  * Usage (normally launched by `run.py`, which generates the inputs and
  * checks the outputs):
  * {{{
  *   perfbench.Main --workload <name> --data <dir> --work <dir> --out <file>
  *                  --seconds <n> --seed <n> --trace <0|1> --last-pass-by <epoch ms>
  *                  [--queries a,b,...]
  * }}}
  * Writes one JSON object to `--out`: the metrics, the timed region's start
  * (epoch ms), ops attempted/failed, and what `run.py` needs to check the
  * outputs. With `--trace 1` the run alternates untraced and traced passes
  * and reports per-layer metrics of the traced ones plus the overhead.
  * A pass that is not needed for the figures starts only if, at the length
  * of the pass before it, it ends by `--last-pass-by`.
  */
object Main {

  final case class Args(workload: String, data: String, work: String, out: String,
      seconds: Int, seed: Long, trace: Boolean, lastPassByMs: Long, queries: Seq[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("out"), m("seconds").toInt,
      m("seed").toLong, m.get("trace").contains("1"), m("last-pass-by").toLong,
      m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = Sessions.local("perfbench")
    val tracer = new Tracer(spark)
    val wl: Workload =
      if (a.workload == "medallion-daily") new Medallion(spark, tracer, a)
      else new Catalog(spark, tracer, a)
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("session_ms") = System.currentTimeMillis()
    try {
      wl.setup()
      out("first_op_ms") = System.currentTimeMillis()
      val runStart = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[(Span, Boolean)]
      def elapsed = (System.nanoTime() - runStart) / 1e9
      // whole passes: the first untraced one (and, traced, the first traced
      // one) always runs; another starts while it would mostly fit in
      // --seconds and, traced, for a second untraced pass (U, T, U, so the
      // overhead is not confounded with a drift along the run) - each only
      // if it ends by --last-pass-by at the length of the pass before it
      def needed = passes.isEmpty || a.trace && passes.count(_._2) < 1
      def fits = System.currentTimeMillis() + passes.last._1.durS * 1000 < a.lastPassByMs
      def more = needed || fits && (elapsed + 0.5 * passes.last._1.durS < a.seconds ||
        a.trace && passes.count(!_._2) < 2)
      val layerSums = mutable.LinkedHashMap.empty[String, Double]
      while (more) {
        val index = passes.size
        val traced = a.trace && index % 2 == 1
        wl.beforePass(index)
        if (traced) { tracer.reset(); tracer.start() }
        val (_, run) = tracer.span(-1, "run", a.workload)(id => wl.pass(id, index))
        passes += (run -> traced)
        if (traced) {
          tracer.stop()
          Layers.of(tracer, run, wl).foreach { case (k, v) =>
            layerSums(k) = layerSums.getOrElse(k, 0.0) + v }
        }
        wl.afterPass(index)
      }
      wl.afterRun()
      out("run_done_ms") = System.currentTimeMillis()
      val metrics = mutable.LinkedHashMap.empty[String, Double]
      val runS = Stats.median(passes.filterNot(_._2).map(_._1.durS).toSeq)
      metrics("run_s") = runS
      // ops of the untraced passes; an op's kind is its name without a day/run number
      val untraced = passes.filterNot(_._2).map(_._1.id).toSet
      val ops = tracer.allSpans.filter(s => s.kind == "op" && untraced(s.parent))
      metrics("op_p50_s") = Stats.median(ops.map(_.durS))
      val kinds = ops.groupBy(_.name.replaceAll("\\d+$", ""))
        .map { case (k, ss) => k -> Stats.median(ss.map(_.durS)) }
      metrics("op_geomean_s") = Stats.geomean(kinds.values.toSeq)
      out("op_kinds_s") = kinds
      metrics ++= wl.metrics()
      metrics("retained_heap_mb") = retainedHeapMb()
      if (a.trace) {
        val nTraced = passes.count(_._2)
        layerSums.foreach { case (k, v) => metrics(k) = v / nTraced }
        // traced minus untraced pass time, within this process
        metrics("trace_overhead_s") =
          Stats.median(passes.filter(_._2).map(_._1.durS).toSeq) - runS
      }
      Files.writeString(Paths.get(a.work, "spans.json"), Json.write(tracer.allSpans.map(Json.span)))
      out("passes") = passes.size
      out("metrics") = metrics
      out("self_check") = wl.selfCheck()
      out("checks") = wl.checks()
      out("checks_done_ms") = System.currentTimeMillis()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out("fatal") = String.valueOf(e)
    } finally {
      out("attempted") = wl.attempted
      out("failed") = wl.failed
      out("errors") = wl.errors.take(20).toSeq
      Files.writeString(Paths.get(a.out), Json.write(out))
      spark.stop()
    }
  }

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** Sorted, type-tagged text of a collected result, for comparing repeated
    * executions of one query (doubles at 9 significant digits, as the
    * oracle comparison canonicalises them).
    */
  def canon(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: Double => if (d.isNaN) "NaN" else "%.9g".format(d)
      case f: Float => "%.9g".format(f.toDouble)
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    canon(rows).foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Release every engine cache after an op (the isolation contract). */
  def cleanup(spark: SparkSession): Unit = {
    CacheScope.releaseAll()
    spark.catalog.clearCache()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally s.close()
  }

  /** Bytes of the data files under a table directory (checksums and markers excluded). */
  def tableBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        .map(Files.size).sum
      finally s.close()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** One workload: a warm-up, timed passes of ops, end-to-end metrics and checks.
  *
  * Only `pass` is timed; `beforePass` and `afterPass` hold the harness's own
  * preparation and checks of each pass.
  */
abstract class Workload(val spark: SparkSession, val tracer: Tracer, val a: Main.Args) {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  /** Run one op; a thrown error counts as a failed op. */
  def op[T](parent: Int, name: String)(body: Int => T): Option[(T, Span)] = {
    attempted += 1
    try Some(tracer.span(parent, "op", name)(body))
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$name: $e"
        None
    } finally Main.cleanup(spark)
  }

  def step[T](parent: Int, name: String)(body: => T): T =
    tracer.span(parent, "step", name)(_ => body)._1

  /** A count the generator predicted for an op (medallion days: `new`, `changed`). */
  def opCount(op: String, key: String): Double = 0.0

  /** Layer a job with no engine frame on its call path belongs to. */
  def stepLayer(step: String): String

  def setup(): Unit
  def beforePass(index: Int): Unit = ()
  def pass(runId: Int, index: Int): Unit
  def afterPass(index: Int): Unit = ()
  def afterRun(): Unit = ()
  def metrics(): Seq[(String, Double)]
  def checks(): Any
  def selfCheck(): Any

  /** Scan-node byte count of a full scan of `file`, next to its size on disk. */
  def scanBytesCheck(file: String): Map[String, Any] = {
    tracer.reset()
    tracer.start()
    spark.read.parquet(file).write.format("noop").mode("overwrite").save()
    tracer.stop()
    val reported = tracer.execs.values().asScala.flatMap(_.scans).map(_.bytes).sum
    Map("file" -> file, "scan_bytes" -> reported, "file_bytes" -> Files.size(Paths.get(file)))
  }
}

/** `SparkEntry.queries` gates: build (`fn(spark, dir)`) then serve (collect). */
final class Catalog(spark: SparkSession, tracer: Tracer, a: Main.Args)
    extends Workload(spark, tracer, a) {
  private val fns = SparkEntry.queries
  /** Gates by full name; a short name (`q07`) resolves to the one gate it prefixes. */
  private val names = a.queries.map { q =>
    fns.keys.filter(n => n == q || n.startsWith(q + "_")).toSeq match {
      case Seq(one) => one
      case other => throw new IllegalArgumentException(s"$q names ${other.size} gates")
    }
  }
  private val digests = mutable.LinkedHashMap.empty[String, String]
  private val firstRows = mutable.LinkedHashMap.empty[String, (Seq[Row], StructType)]
  /** Results of the pass in progress, compared with the warm-up's after it. */
  private val passRows = mutable.LinkedHashMap.empty[String, Seq[Row]]

  def stepLayer(step: String): String = "queries"

  private def runQuery(parent: Int, name: String): Option[(Seq[Row], StructType)] =
    op(parent, name) { id =>
      val df = step(id, "build")(fns(name)(spark, a.data))
      (step(id, "serve")(df.collect().toSeq), df.schema)
    }.map(_._1)

  /** One seeded order for the warm-up and every pass, so consecutive ops are
    * always two different gates (a gate repeated across the warm-up/timed
    * boundary runs measurably faster, which would make the seed, not the
    * engine, decide the figures).
    */
  private val order = new Random(a.seed).shuffle(names)

  def setup(): Unit = order.foreach { q =>
    runQuery(-1, q).foreach { case (rows, schema) =>
      firstRows(q) = (rows, schema)
      digests(q) = Main.digest(rows)
    }
  }

  def pass(runId: Int, index: Int): Unit =
    order.foreach(q => runQuery(runId, q).foreach { case (rows, _) => passRows(q) = rows })

  override def afterPass(index: Int): Unit = {
    passRows.foreach { case (q, rows) =>
      if (!digests.get(q).contains(Main.digest(rows))) {
        failed += 1
        errors += s"$q: result changed between executions"
      }
    }
    passRows.clear()
  }

  // the gates keep no tables of their own between ops
  def metrics(): Seq[(String, Double)] = Seq("sources.stored_bytes_per_row" -> 0.0)

  /** Warm-up results and oracle SQL, written for the comparison in `run.py`. */
  def checks(): Any = {
    val oracles = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(Paths.get(a.work, "oracle_sql.json"), Json.write(oracles))
    val dir = Paths.get(a.work, "results")
    firstRows.map { case (q, (rows, schema)) =>
      val path = dir.resolve(q).toString
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(path)
      q -> Map("rows" -> rows.size, "path" -> path)
    }.toMap
  }

  def selfCheck(): Any = scanBytesCheck(s"${a.data}/lineitem.parquet")
}

/** The paper's daily medallion DAG over a generated bronze history. */
final class Medallion(spark: SparkSession, tracer: Tracer, a: Main.Args)
    extends Workload(spark, tracer, a) {
  import Medallion._

  private val plan = Json.read(Files.readString(Paths.get(a.data, "plan.json")))
    .asInstanceOf[Map[String, Any]]
  private val warm = Json.read(Files.readString(Paths.get(a.data, "warm", "plan.json")))
    .asInstanceOf[Map[String, Any]]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val summaries = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val dashboards = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val golds = mutable.LinkedHashSet.empty[String]
  private var storedBytesPerRow = Double.NaN
  private var lastWork = ""
  private var lastBronze = ""

  override def opCount(op: String, key: String): Double =
    if (!op.startsWith("day")) 0.0
    else plan("days").asInstanceOf[Seq[Map[String, Any]]](op.stripPrefix("day").toInt)(key) match {
      case n: BigInt => n.toDouble
      case n: Number => n.doubleValue
      case _ => 0.0
    }

  def stepLayer(step: String): String = step match {
    case "bronze" => "bronze"
    case "dashboard" => "dashboard"
    case "append" => "sources"
    case _ => "pipeline"
  }

  private def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  private def summary(kind: String, day: Int, s: SeismicPipeline.RunSummary): Unit =
    summaries += Map("kind" -> kind, "day" -> day, "new" -> s.newRecords,
      "silver" -> s.silverRows, "gold" -> s.goldRows)

  def setup(): Unit = {
    // one small pass over its own inputs: JIT, codegen and class loading
    val dir = Paths.get(a.work, "warm")
    freshBronze(warm, dir)
    runPass(-1, warm, dir, record = false)
    summaries.clear(); dashboards.clear(); samples.clear()
  }

  private def passDir(index: Int) = Paths.get(a.work, s"pass$index")

  /** A fresh pass directory whose bronze table holds the history. */
  private def freshBronze(p: Map[String, Any], dir: Path): Unit = {
    Main.deleteTree(dir)
    val events = dir.resolve("bronze").resolve("events.parquet")
    Files.createDirectories(events)
    Files.copy(Paths.get(p("history").toString), events.resolve("part-00000-history.parquet"))
  }

  override def beforePass(index: Int): Unit = freshBronze(plan, passDir(index))

  def pass(runId: Int, index: Int): Unit =
    runPass(runId, plan, passDir(index), record = true)

  /** Stored bytes per silver row and the final gold's digest of the pass. */
  override def afterPass(index: Int): Unit = {
    val dir = passDir(index)
    val work = dir.resolve("warehouse").toString
    val silverP = SeismicPipeline.silverPath(work)
    val goldP = SeismicPipeline.goldPath(work)
    val silverRows = spark.read.parquet(silverP).count()
    storedBytesPerRow = (Main.tableBytes(silverP) + Main.tableBytes(goldP)).toDouble / silverRows
    golds += Main.digest(spark.read.parquet(goldP).collect().toSeq)
    lastWork = work
    lastBronze = dir.resolve("bronze").toString
  }

  private def runPass(runId: Int, p: Map[String, Any], dir: Path, record: Boolean): Unit = {
    val bronze = dir.resolve("bronze")
    val events = bronze.resolve("events.parquet")
    val work = dir.resolve("warehouse").toString
    val days = p("days").asInstanceOf[Seq[Map[String, Any]]]

    op(runId, "backfill") { id =>
      step(id, "runIncremental")(SeismicPipeline.runIncremental(spark, bronze.toString, work))
    }.foreach { case (s, span) =>
      if (record) { sample("backfill_s", span.durS); summary("backfill", -1, s) }
    }
    days.zipWithIndex.foreach { case (day, d) =>
      op(runId, s"day$d") { id =>
        val t0 = System.nanoTime()
        step(id, "append")(Tables.append(spark.read.parquet(day("path").toString), events.toString))
        step(id, "bronze")(Quality.report(spark.read.parquet(day("path").toString),
          "event_id", "value", "ts").collect())
        val s = step(id, "runIncremental")(
          SeismicPipeline.runIncremental(spark, bronze.toString, work))
        val refresh = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val dash = step(id, "dashboard")(dashboard(spark, work, day))
        (s, refresh, (System.nanoTime() - t1) / 1e9, dash)
      }.foreach { case ((s, refresh, dashS, dash), _) =>
        if (record) {
          sample("refresh_s", refresh); sample("dashboard_s", dashS)
          summary("day", d, s); dashboards += (dash + ("day" -> d))
        }
      }
    }
    (0 until IdleRuns).foreach { i =>
      op(runId, s"idle$i") { id =>
        step(id, "runIncremental")(SeismicPipeline.runIncremental(spark, bronze.toString, work))
      }.foreach { case (s, span) =>
        if (record) { sample("idle_refresh_s", span.durS); summary("idle", i, s) }
      }
    }
  }

  def metrics(): Seq[(String, Double)] =
    Seq("backfill_s", "refresh_s", "idle_refresh_s", "dashboard_s")
      .map(k => k -> Stats.median(samples.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq)) :+
      ("sources.stored_bytes_per_row" -> storedBytesPerRow)

  override def afterRun(): Unit =
    if (golds.size > 1) {
      failed += 1
      errors += s"final gold differs between passes: ${golds.mkString(",")}"
    }

  def checks(): Any = Map(
    "summaries" -> summaries.toSeq, "dashboards" -> dashboards.toSeq,
    "silver" -> SeismicPipeline.silverPath(lastWork),
    "gold" -> SeismicPipeline.goldPath(lastWork), "bronze" -> lastBronze)

  def selfCheck(): Any = scanBytesCheck(plan("history").toString)
}

object Medallion {
  val IdleRuns = 2

  /** Three dashboard reads over silver and gold; returns their row counts. */
  def dashboard(spark: SparkSession, work: String, day: Map[String, Any]): Map[String, Any] = {
    val gold = spark.read.parquet(SeismicPipeline.goldPath(work))
    val silver = spark.read.parquet(SeismicPipeline.silverPath(work))
    val ym = col("year") * 100 + col("month")
    // latest month of gold, by band
    val latest = gold.filter(ym === gold.select(max(ym)).as(Encoders.scalaInt).head())
      .select("band_code", "total_events", "avg_magnitude", "max_magnitude")
      .orderBy("band_code").collect()
    // 50 deepest events of the last seven days, read through silver's partitions
    val since = java.time.LocalDateTime.parse(day("recent_since").toString)
    val deepest = silver
      .filter(ym >= since.getYear * 100 + since.getMonthValue && col("event_time") >= lit(since))
      .select("event_id", "event_time", "depth_km", "band_code")
      .orderBy(col("depth_km").desc, col("event_id")).limit(50).collect()
    // month-over-month gold KPI
    val w = Window.orderBy("year", "month")
    val kpi = gold.groupBy("year", "month")
      .agg(sum("total_events").as("events"), max("max_magnitude").as("max_mag"))
      .withColumn("prev_events", lag("events", 1).over(w))
      .withColumn("growth", round(col("events") / col("prev_events") - 1, 4))
      .orderBy("year", "month").collect()
    Map("latest" -> latest.length, "deepest" -> deepest.length, "kpi" -> kpi.length)
  }
}
