package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** `graft.Prefix` against the plain windows it replaces: a row-level
  * window over each whole group (or, without groups, over everything).
  */
class PrefixSpec extends SparkSpec {

  test("bucket offsets plus an in-bucket window equal the whole-group window; " +
      "sumBefore is the exclusive running sum") {
    import spark.implicits._
    // ties (v from a small domain), buckets of width 10 with empty ranges
    // (group a has no v in 10..29), and a single-row group c
    val rnd = new scala.util.Random(7)
    val a = (1 to 200).map(i => ("a", i.toLong,
      if (rnd.nextBoolean()) rnd.nextInt(10).toLong else 30L + rnd.nextInt(20),
      1L + rnd.nextInt(5)))
    val b = (201 to 350).map(i => ("b", i.toLong, rnd.nextInt(60).toLong,
      1L + rnd.nextInt(5)))
    val rows = (a ++ b :+ (("c", 351L, 25L, 3L))).toDF("g", "id", "v", "w")
      .withColumn("bkt", expr("v div 10"))

    for (groups <- Seq(Seq("g"), Nil)) {
      val whole = Window.partitionBy(groups.map(col): _*)
      val inBucket = Window.partitionBy((groups :+ "bkt").map(col): _*)
      def rowsOrder(w: WindowSpec) = w.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def rangeOrder(w: WindowSpec) = w.orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      def byId(df: DataFrame) = df.orderBy("id").collect().map(_.toSeq).toSeq

      val expected = byId(rows.select(col("id"),
        row_number().over(whole.orderBy("v", "id")).cast("long").as("rank"),
        sum("w").over(rowsOrder(whole)).as("running"),
        count(lit(1L)).over(rangeOrder(whole)).as("rank_ties"),
        (sum("w").over(rowsOrder(whole)) - col("w")).as("before"),
        sum("w").over(whole).as("total")))

      val byCount = Prefix.withBucketOffsets(rows, groups, "bkt",
        count(lit(1L)), "off_n")
      val got = byId(Prefix.withBucketOffsets(byCount, groups, "bkt",
          sum("w"), "off_w", total = Some("total"))
        .select(col("id"),
          (col("off_n") + row_number().over(inBucket.orderBy("v", "id"))).as("rank"),
          (col("off_w") + sum("w").over(rowsOrder(inBucket))).as("running"),
          (col("off_n") + count(lit(1L)).over(rangeOrder(inBucket))).as("rank_ties"),
          (col("off_w") + Prefix.sumBefore(col("w"), inBucket.orderBy("v", "id")))
            .as("before"),
          col("total")))
      assert(got.size == 351)
      assert(got == expected, s"groups=$groups")

      val sumBefore = byId(rows.select(col("id"),
        Prefix.sumBefore(col("w"), whole.orderBy("v", "id"))))
      assert(sumBefore == expected.map(r => Seq(r(0), r(4))), s"groups=$groups")
    }
  }
}
