package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class TopKSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  test("bounded-heap top-k matches window semantics including ties") {
    // many partitions so partial merge is exercised; tied scores resolve
    // by ascending id
    val scored = (1L to 10000L).map(i => (i % 7, i % 100 / 100.0, i))
      .toDF("g", "s", "id").repartition(8)
    val viaHeap = Similarity.topKPerGroup(scored, "g", "s", "id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("s").desc, col("id"))
    val viaWindow = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("g"), col("id").as("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaHeap == viaWindow)
  }
}
