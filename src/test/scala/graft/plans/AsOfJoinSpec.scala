package graft.plans

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("edge semantics: inclusive tie, no-prior-match null, per-key isolation") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "l1"), // tie with r1 => matches r1
      (1L, ts("2024-01-01 09:00:00"), "l0"), // before any right => null
      (2L, ts("2024-01-01 12:00:00"), "l2"), // key 2 has no right rows
      (1L, ts("2024-01-01 11:30:00"), "l3")  // after r1 and r2 => r2
    ).toDF("k", "t", "ltag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), "r1"),
      (1L, ts("2024-01-01 11:00:00"), "r2"),
      (3L, ts("2024-01-01 08:00:00"), "r3")
    ).toDF("rk", "rt", "rtag")

    val got = AsOf.join(left, right, "k", "t", "rk", "rt")
      .select("ltag", "rtag").as[(String, Option[String])]
      .collect().toMap
    assert(got == Map(
      "l0" -> None, "l1" -> Some("r1"), "l2" -> None, "l3" -> Some("r2")))
  }

  test("custom exec agrees with the window spelling on real data") {
    val dir = "/root/testdata/sf0.001"
    val viaWindow = graft.ops.Relational.q14.build(spark, dir)
      .select("click_id", "error_id")
      .as[(Long, Option[Long])].collect().toSeq
    val viaCustom = AsOfQueries.q14b.build(spark, dir)
      .select("click_id", "error_id")
      .as[(Long, Option[Long])].collect().toSeq
    assert(viaCustom == viaWindow)
  }

  test("physical plan uses AsOfJoinExec with clustered+sorted children") {
    val dir = "/root/testdata/sf0.001"
    val plan = AsOfQueries.q14b.build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"expected AsOfJoinExec in:\n$plan")
    // planned by the strategy GraftExtensions injects at session build;
    // AsOf.join adds nothing to the live session
    assert(spark.experimental.extraStrategies.isEmpty)
  }
}
