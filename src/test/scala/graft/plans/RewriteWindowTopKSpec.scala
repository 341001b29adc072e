package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

class RewriteWindowTopKSpec extends SparkTestBase {

  private def events: DataFrame = Tables.load(spark, sfDir, "events")

  private def topkNaive(k: Int): DataFrame =
    events
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("value").desc, col("event_id"))))
      .filter(col("rn") <= k)
      .drop("rn")

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("row_number <= k with rank dropped plans as TopKPerKeyExec, no window") {
    val plan = physical(topkNaive(3))
    assert(plan.contains("TopKPerKey"), plan.take(2000))
    assert(!plan.contains("WindowExec") && !plan.contains("RunningWindow"),
      plan.take(2000))
  }

  test("the rewrite returns exactly the window formulation's rows") {
    val rewritten = topkNaive(3).collect().map(_.toSeq).toSet
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.RewriteWindowTopK")
    try {
      val naive = topkNaive(3)
      assert(physical(naive).contains("Window"), "exclusion did not take")
      assert(naive.collect().map(_.toSeq).toSet == rewritten)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("rn = 1 (dedup-keep-first staple) rewrites with k = 1") {
    val dedup = events
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") === 1)
      .drop("rn")
    assert(physical(dedup).contains("TopKPerKey"))
    val perUser = dedup.groupBy("user_id").count()
      .filter(col("count") > 1).count()
    assert(perUser == 0)
  }

  test("a second top-k on the same key reuses the first one's exchange") {
    // TopKPerKeyExec only drops rows, so its output stays clustered on
    // the key: a keyed pick over deduplicated rows needs no second shuffle
    val picked = graft.operators.Dedup.keepFirst(
      graft.operators.Dedup.keepFirst(events, Seq("user_id"),
        Seq(col("ts"), col("event_id"))),
      Seq("user_id"), Seq(col("value").desc, col("event_id")))
    val plan = physical(picked)
    assert("TopKPerKey".r.findAllIn(plan).size === 4, plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      plan.take(3000))
  }

  test("keeps the window when the rank column is in the output") {
    val keepsRank = events
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"))))
      .filter(col("rn") <= 2)
      .select(col("event_id"), col("rn"))
    assert(!physical(keepsRank).contains("TopKPerKey"))
  }

  test("keeps the window for bounds that are not a top-k (rn >= 2)") {
    val notTopK = events
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"))))
      .filter(col("rn") >= 2)
      .drop("rn")
    assert(!physical(notTopK).contains("TopKPerKey"))
  }

  test("residual predicates survive the rewrite") {
    // fresh plan per call: a Dataset caches its optimized plan, so the
    // exclusion A/B below must rebuild, not reuse
    def query(): DataFrame = events
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("value").desc, col("event_id"))))
      .filter(col("rn") <= 2 && col("event_type") === "click")
      .drop("rn")
    val rewritten = query()
    assert(physical(rewritten).contains("TopKPerKey"))
    val got = rewritten.collect().map(_.toSeq).toSet
    assert(rewritten.collect().forall(_.getAs[String]("event_type") == "click"))
    // residual applies AFTER the top-k (same as the window formulation):
    // a user whose top-2 by value are non-clicks contributes none
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.RewriteWindowTopK")
    try {
      val naive = query()
      assert(!physical(naive).contains("TopKPerKey"), "exclusion did not take")
      assert(naive.collect().map(_.toSeq).toSet == got)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
}
