package graft

import java.sql.Date

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Combine, HourPivot}

class CombineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("combine-test", "4").getOrCreate()
  import spark.implicits._

  test("combine re-sums hour columns across wide tables, pads missing columns") {
    val d = Date.valueOf("2023-01-15")
    val t1 = Seq(("yellow", d, "132", 10L, 5L))
      .toDF("taxi_type", "date", "pickup_place", "hour_0", "hour_1")
    val t2 = Seq(("yellow", d, "132", 7L, 40L))
      .toDF("taxi_type", "date", "pickup_place", "hour_0", "hour_23")
    val out = Combine.combineWideTables(Seq(t1, t2)).get
    assert(out.columns.toSeq ===
      Combine.indexCols ++ HourPivot.hourCols)
    val r = out.collect()(0)
    assert(out.count() == 1)
    assert(r.getAs[Long]("hour_0") == 17L)
    assert(r.getAs[Long]("hour_1") == 5L)
    assert(r.getAs[Long]("hour_23") == 40L)
    assert(r.getAs[Long]("hour_5") == 0L)
  }

  test("min-rides filter applies post-combine") {
    val d = Date.valueOf("2023-01-15")
    val t = Seq(
      ("yellow", d, "A", 30L), ("yellow", d, "B", 60L))
      .toDF("taxi_type", "date", "pickup_place", "hour_0")
    val out = Combine.combineWideTables(Seq(t)).get
      .where(HourPivot.hourCols.map(col).reduce(_ + _) >= 50L)
    assert(out.select("pickup_place").as[String].collect().toSeq == Seq("B"))
  }
}
