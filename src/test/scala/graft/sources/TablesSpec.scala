package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

class TablesSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType)))

  test("CSV and JSONL round-trip with explicit schemas") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, null, 0.0))
      .toDF("id", "name", "score")
    val dir = Files.createTempDirectory("fmt").toString
    df.write.option("header", "true").csv(s"$dir/csv")
    df.write.json(s"$dir/jsonl")

    val fromCsv = Tables.loadCsv(spark, s"$dir/csv", schema)
    val fromJson = Tables.loadJsonl(spark, s"$dir/jsonl", schema)
    assert(fromCsv.schema === schema)
    assert(fromJson.schema === schema)
    val expect = df.collect().map(_.toString).sorted.toSeq
    assert(fromCsv.collect().map(_.toString).sorted.toSeq === expect)
    assert(fromJson.collect().map(_.toString).sorted.toSeq === expect)
  }

  test("exists recovers a swap interrupted between overwrite's renames") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rec").toString + "/t"
    Seq(1, 2).toDF("x").write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash after `dst -> __old__` but before `tmp -> dst`
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".__old__"))
    assert(Tables.exists(spark, dir), "exists must restore the table")
    assert(spark.read.parquet(dir).count() === 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".__old__")))
  }

  test("overwrite survives being fed from its own path (read-overwrite)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ow").toString + "/t"
    Seq(1, 2, 3).toDF("x").write.parquet(dir)
    // derive from the same path we are about to overwrite — the staged
    // swap must not destroy the input before the new data is materialized
    val doubled = spark.read.parquet(dir).withColumn("x", col("x") * 2)
    Tables.overwrite(doubled, dir)
    assert(spark.read.parquet(dir).select("x").collect()
      .map(_.getInt(0)).sorted.toSeq === Seq(2, 4, 6))
    // staging artifacts cleaned up
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".__tmp__")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".__old__")))
  }

  test("publish swaps only the listed partitions: replaced, added, removed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("parts").toString + "/t"
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("p", "v").write.partitionBy("p").parquet(dir)
    val staged = dir + ".__staged__"
    Seq((2, "B"), (4, "D")).toDF("p", "v").write.partitionBy("p").parquet(staged)
    Tables.publish(spark, staged, dir, Seq("p=2", "p=3", "p=4"))
    assert(spark.read.parquet(dir).collect().map(r => (r.getInt(1), r.getString(0)))
      .sorted.toSeq === Seq((1, "a"), (2, "B"), (4, "D")))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staged)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".__old__")))
  }

  test("exists restores the partitions a cut-short partition publish " +
      "left aside, and keeps the ones it already swapped") {
    import spark.implicits._
    val dir = Files.createTempDirectory("partrec").toString + "/t"
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("p", "v").write.partitionBy("p").parquet(dir)
    val staged = dir + ".__staged__"
    Seq((1, "A"), (2, "B")).toDF("p", "v").write.partitionBy("p").parquet(staged)
    // a publish of p=1, p=2 that died after swapping p=1 and moving the
    // old p=2 aside: a whole publish of p=1, then p=2's first rename
    Tables.publish(spark, staged, dir, Seq("p=1"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(dir + ".__old__")
    val out = fs.create(new org.apache.hadoop.fs.Path(old, "_parts"))
    out.write("p=1\np=2".getBytes("UTF-8")); out.close()
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/p=2"),
      new org.apache.hadoop.fs.Path(old, "p=2")))
    assert(Tables.exists(spark, dir))
    assert(spark.read.parquet(dir).collect().map(r => (r.getInt(1), r.getString(0)))
      .sorted.toSeq === Seq((1, "A"), (2, "b"), (3, "c")))
    assert(!fs.exists(old))
  }
}
