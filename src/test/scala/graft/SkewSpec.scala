package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew

/** The salted join must equal its plain form while spreading hot keys
  * across reducers. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  // 10k rows, 90% on one hot key — the adversarial shape
  private lazy val skewed = spark.range(10000)
    .select(col("id"),
      when(col("id") % 10 =!= 0, "hot").otherwise(concat(lit("k"), col("id"))).as("key"))

  private lazy val dim = skewed.select($"key").distinct()
    .withColumn("side", upper($"key"))

  test("salted join equals the plain join on a 90%-hot key") {
    val plain = skewed.join(dim, Seq("key"))
      .select($"id", $"side").as[(Long, String)].collect().toSet
    val salted = Skew.saltedJoin(skewed, dim, "key", uniqueCol = "id", buckets = 8)
      .select($"id", $"side").as[(Long, String)].collect().toSet
    assert(salted == plain && plain.size == 10000)
  }

  test("salted join actually spreads the hot key over salt buckets") {
    val spread = Skew.salted(skewed.filter($"key" === "hot"), "id", 8)
      .groupBy($"salt").count().as[(Long, Long)].collect()
    assert(spread.length == 8, s"expected 8 salt buckets, got ${spread.length}")
    assert(spread.map(_._2).max < 9000 * 0.25, "one bucket still holds most of the hot key")
  }
}
