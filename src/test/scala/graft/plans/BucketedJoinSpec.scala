package graft.plans

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Proof of the co-located-join design claim (`AsOfAlign` scaladoc,
  * SURVEY §4: "per-kit tables ≈ manual partitioning" → bucketed
  * storage): two tables bucketed on the join key join WITHOUT a shuffle
  * — each bucket pair is joined where it lies. At 100 TB this is the
  * difference between an exchange of the whole fact table per join and
  * none; the archive's hash-bucketed layout (`ArchiveSink`) is the same
  * contract at the storage level.
  */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    val plan = df.queryExecution.executedPlan
    var n = 0
    plan.foreach { case _: ShuffleExchangeExec => n += 1; case _ => () }
    n
  }

  test("bucketed tables join with zero shuffle exchanges; unbucketed pay two") {
    val warehouse = java.nio.file.Files.createTempDirectory("bucketed").toString
    spark.sql("DROP TABLE IF EXISTS bj_left")
    spark.sql("DROP TABLE IF EXISTS bj_right")
    val left = (0L until 10000L).map(i => (i % 500, i, i * 0.5)).toDF("k", "eid", "v")
    val right = (0L until 2000L).map(i => (i % 500, s"m$i")).toDF("k", "meta")
    left.write.bucketBy(8, "k").sortBy("k")
      .option("path", s"$warehouse/bj_left").saveAsTable("bj_left")
    right.write.bucketBy(8, "k").sortBy("k")
      .option("path", s"$warehouse/bj_right").saveAsTable("bj_right")

    // force the sort-merge path so the assertion is about bucketing, not
    // a broadcast hiding the exchange
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val bucketed = spark.table("bj_left").join(spark.table("bj_right"), "k")
      assert(shuffles(bucketed) == 0,
        s"bucketed join must be exchange-free:\n${bucketed.queryExecution.executedPlan}")
      assert(bucketed.count() == 10000L * 4) // 20 left × 4 right per key ÷ …
      val plain = left.join(right, "k")
      assert(shuffles(plain) == 2, "unbucketed SMJ shuffles both sides")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS bj_left")
      spark.sql("DROP TABLE IF EXISTS bj_right")
    }
  }

  test("join of two tables bucketed on the key plans without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS bj_a")
    spark.sql("DROP TABLE IF EXISTS bj_b")
    val warehouse = java.nio.file.Files.createTempDirectory("bucketed").toString
    val a = (1 to 1000).map(i => (i % 50, i.toDouble)).toDF("k", "v")
    val b = (1 to 500).map(i => (i % 50, s"m$i")).toDF("k", "m")
    a.write.bucketBy(8, "k").sortBy("k").option("path", s"$warehouse/bj_a").saveAsTable("bj_a")
    b.write.bucketBy(8, "k").sortBy("k").option("path", s"$warehouse/bj_b").saveAsTable("bj_b")
    // AQE stays on here: the bucketed join plans no exchange of any kind
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("bj_a").join(spark.table("bj_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      // and it still computes the right thing
      val n = joined.count()
      assert(n == (1 to 1000).map(_ % 50).groupBy(identity).map { case (k, as) =>
        as.size * (1 to 500).count(_ % 50 == k)
      }.sum)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bj_a")
      spark.sql("DROP TABLE IF EXISTS bj_b")
    }
  }

  test("aggregation on the bucket key also skips the exchange") {
    spark.sql("DROP TABLE IF EXISTS bj_c")
    val warehouse = java.nio.file.Files.createTempDirectory("bucketed").toString
    val a = (1 to 1000).map(i => (i % 50, i.toDouble)).toDF("k", "v")
    a.write.bucketBy(8, "k").option("path", s"$warehouse/bj_c").saveAsTable("bj_c")
    try {
      val plan = spark.table("bj_c").groupBy("k").agg(sum("v"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed aggregation must not shuffle:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS bj_c")
  }
}
