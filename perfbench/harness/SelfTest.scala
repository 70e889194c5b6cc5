package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-test of the result digest: order and partitioning do not move
  * it; a changed value, a duplicated row or a dropped row do. Prints
  * one line per case and exits non-zero on any failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val base = (0 until 200).map(i => (i.toLong, s"k$i", i * 0.1, Map("a" -> i)))
    val df = base.toDF("id", "k", "x", "m")
    val d0 = Digest.of(df)
    val cases = Seq(
      "order-independent" -> (Digest.of(df.orderBy(desc("id"))) == d0),
      "partitioning-independent" -> (Digest.of(df.repartition(7, col("k"))) == d0),
      "sub-1e-9 double noise ignored" -> (Digest.of(df.withColumn("x", col("x") + 1e-12)) == d0),
      "changed value detected" ->
        (Digest.of(df.withColumn("x", when(col("id") === 5, 9.9).otherwise(col("x")))) != d0),
      "duplicated row detected" -> (Digest.of(df.union(df.filter(col("id") === 3))) != d0),
      "dropped row detected" -> (Digest.of(df.filter(col("id") =!= 3)) != d0),
      "row count leads the digest" -> (Digest.count(d0) == 200L),
      "combine is a multiset sum" ->
        (Digest.combine(Seq(1L, 2L, 3L)) == Digest.combine(Seq(3L, 1L, 2L)) &&
          Digest.combine(Seq(1L, 2L)) != Digest.combine(Seq(1L, 2L, 2L))))
    cases.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} digest: $n") }
    spark.stop()
    Runtime.getRuntime.halt(if (cases.forall(_._2)) 0 else 1)
  }
}
