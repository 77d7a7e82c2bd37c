package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The factory session carries graft's whole config from build time: a
  * fresh session on its context (no conf a caller set at run time, no
  * function a caller registered) must already have it.
  */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("factory session pins UTC, nanosAsLong and the scratch local dir") {
    val fresh = spark.newSession()
    assert(fresh.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.local.dir") ==
      graft.core.Scratch.sparkLocalDir)
  }

  test("graft's SQL functions resolve without any registration call") {
    val got = spark.newSession().sql(
      "SELECT array_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d))")
      .head().getDouble(0)
    assert(got == 32.0)
  }

  test("no session builder outside graft.Sessions") {
    assert(Files.isDirectory(Paths.get("src")), "run from the repo root")
    val builders = Seq("src", "perfbench").map(Paths.get(_))
      .filter(Files.isDirectory(_))
      .flatMap(root => Files.walk(root).iterator().asScala.toSeq)
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => Set("Sessions.scala", "SessionsSpec.scala")(
        p.getFileName.toString))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
    assert(builders.isEmpty, s"build sessions via graft.Sessions: $builders")
  }
}
