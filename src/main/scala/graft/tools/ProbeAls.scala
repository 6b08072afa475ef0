package graft.tools

import graft.core.DDFManager
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.sql.functions._

/** Param probe for the ml06 ALS gate: reconstruction error and held-out
  * argmax agreement of ALS on the exact rank-2 integer ratings grid the
  * gate query uses, across rank/reg/iter settings — the measurement
  * behind the params pinned in SparkEntry's ml06 comment.
  */
object ProbeAls {
  def main(args: Array[String]): Unit = {
    val spark = DDFManager.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_als_probe").toString)
    import spark.implicits._
    val grid = (1 to 50).flatMap(u => (0 until 25).map { i =>
      val r10 = 10 + (1 + u % 4) * ((i % 5) * 4) + ((u % 3) - 1) * (((i * 7) % 9) * 3)
      (u, i, r10, r10 / 10.0)
    }).toDF("user_id", "item", "r10", "rating")
    val train = grid.filter((col("user_id") + col("item")) % 4 =!= 0).cache()
    val hold = grid.filter((col("user_id") + col("item")) % 4 === 0).cache()
    for (rank <- Seq(2, 4, 6); reg <- Seq(0.001, 0.01, 0.05); iters <- Seq(20, 40)) {
      val model = new ALS().setUserCol("user_id").setItemCol("item")
        .setRatingCol("rating").setRank(rank).setMaxIter(iters)
        .setRegParam(reg).setSeed(7L).fit(train)
      val pred = model.transform(hold)
      val err = pred.agg(max(abs(col("prediction") - col("rating")))).first().getDouble(0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("prediction").desc, col("item"))
      val wt = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("r10").desc, col("item"))
      val top = pred.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("item").as("pred_top"))
      val truth = hold.withColumn("rn", row_number().over(wt)).filter(col("rn") === 1)
        .select(col("user_id"), col("item").as("true_top"))
      val agree = top.join(truth, "user_id")
        .agg(sum(when(col("pred_top") === col("true_top"), 1).otherwise(0)),
          count(lit(1))).first()
      println(f"rank=$rank reg=$reg%.3f iters=$iters  maxAbsErr=$err%.4f  " +
        s"argmaxAgree=${agree.getLong(0)}/${agree.getLong(1)}")
    }
    // per-user detail at the pinned config: agreement as a function of the
    // TRUE top-2 margin, to size the gate's margin threshold
    val model = new ALS().setUserCol("user_id").setItemCol("item")
      .setRatingCol("rating").setRank(6).setMaxIter(40)
      .setRegParam(0.01).setSeed(7L).fit(train)
    val pred = model.transform(hold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("prediction").desc, col("item"))
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("r10").desc, col("item"))
    val top = pred.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("item").as("pred_top"))
    val tm = hold.withColumn("rn", row_number().over(wt))
      .groupBy("user_id")
      .agg(max(when(col("rn") === 1, col("item"))).as("true_top"),
        (max(when(col("rn") === 1, col("r10")))
          - max(when(col("rn") === 2, col("r10")))).as("margin"))
    val joined = top.join(tm, "user_id")
      .withColumn("ok", col("pred_top") === col("true_top"))
    joined.groupBy("margin").agg(sum(when(col("ok"), 1).otherwise(0)).as("ok"),
        count(lit(1)).as("n")).orderBy("margin").show(50)
    println("disagreements: ")
    joined.filter(!col("ok")).orderBy("user_id").show(50)
    spark.stop()
  }
}
