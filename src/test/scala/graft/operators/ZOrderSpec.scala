package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkTestBase {
  import spark.implicits._

  test("zorderKey2 matches hand-interleaved values") {
    val cases = Seq(
      (0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L), (1L, 1L, 3L),
      (2L, 0L, 4L), (3L, 3L, 15L), (255L, 255L, 65535L),
      (0L, 255L, 43690L), (255L, 0L, 21845L)) // 0b10..10 / 0b01..01
    val df = cases.map { case (x, y, _) => (x, y) }.toDF("x", "y")
      .withColumn("z", ZOrder.zorderKey2(col("x"), col("y"), bits = 8))
    val got = df.select("z").as[Long].collect().toSeq
    assert(got == cases.map(_._3))
  }

  test("zorderKeyN: 3-column interleave matches hand computation") {
    // (x,y,z) = (1,0,0) -> bit0=1 -> 1; (0,1,0) -> bit1 -> 2; (0,0,1) -> 4
    // (1,1,1) -> 7; (2,0,0) -> bit at pos 3 -> 8; (15,15,15) -> 4095
    val cases = Seq(
      (1L, 0L, 0L, 1L), (0L, 1L, 0L, 2L), (0L, 0L, 1L, 4L),
      (1L, 1L, 1L, 7L), (2L, 0L, 0L, 8L), (15L, 15L, 15L, 4095L))
    val got = cases.map { case (x, y, z, _) => (x, y, z) }
      .toDF("x", "y", "z")
      .withColumn("k", ZOrder.zorderKeyN(
        Seq(col("x"), col("y"), col("z")), bits = 4))
      .select("k").as[Long].collect().toSeq
    assert(got == cases.map(_._4))
    // the 2-column helper is exactly the N=2 case
    val two = Seq((5L, 9L)).toDF("x", "y")
    val a = two.select(ZOrder.zorderKey2(col("x"), col("y"), 8)).as[Long].head()
    val b = two.select(ZOrder.zorderKeyN(Seq(col("x"), col("y")), 8)).as[Long].head()
    assert(a == b)
  }
}
