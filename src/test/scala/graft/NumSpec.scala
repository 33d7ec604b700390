package graft

import graft.ops.Num
import org.apache.spark.sql.functions.{col, lit}

/** `Num.r4` on a JVM double (the typed streaming operators) and on a Spark
  * column (the batch twins) must round to the same bits. */
class NumSpec extends SparkSpec {

  test("scalar Num.r4 equals Spark's Num.r4 on 4-dp ties, non-ties and 0") {
    import spark.implicits._
    // 54.77875 = 4382.30 / 80 and -1.23455 sit exactly on a 4-dp tie
    val xs = Seq(54.77875, -1.23455, 0.00005, 3.14159265, -2.718281828, 1234.56789, 0.0)
    val viaLit = spark.range(1).select(xs.map(x => Num.r4(lit(x))): _*).head()
    val viaCol = xs.toDF("x").select(Num.r4(col("x"))).as[Double].collect().toSeq
    xs.zipWithIndex.foreach { case (x, i) =>
      assert(Num.r4(x) == viaLit.getDouble(i), s"lit($x)")
      assert(Num.r4(x) == viaCol(i), s"column value $x")
    }
    assert(Num.r4(54.77875) == 54.7788)
    assert(Num.r4(0.0) == 0.0)
  }
}
