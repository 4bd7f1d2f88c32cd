package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.Probe.Args

/** The probe harness's argument parser, checksum and `time` loop. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("parser: conf: tokens are read before and after positional args") {
    val a = Probe.parse(Seq("conf:a.b=1", "/data/sf0.01", "q42", "reps=2",
      "conf:c=x=y", "q79", "factor=10"))
    assert(a == Args(sfDir = Some("/data/sf0.01"), reps = Some(2), factor = Some(10),
      conf = Seq("a.b" -> "1", "c" -> "x=y"), names = Seq("q42", "q79")))
    assert(Probe.parse(Nil) == Args())
  }

  test("parser: malformed conf, reps and factor tokens fail with the token named") {
    for (bad <- Seq("conf:k", "conf:=v", "reps=x", "reps=0", "factor=-2", "factor=")) {
      val e = intercept[IllegalArgumentException](Probe.parse(Seq("q01", bad)))
      assert(e.getMessage.startsWith(bad), e.getMessage)
    }
  }

  test("checksum equals the SQL rows + decimal xxhash64 sum, null when empty") {
    val df = spark.range(50).selectExpr("id", "cast(id % 7 as string) s",
      "array(id, id * 3) arr", "if(id % 5 = 0, null, id * 1.5d) d")
    val want = df.agg(F.count(F.lit(1)),
      F.sum(F.xxhash64(df.columns.map(F.col).toSeq: _*).cast("decimal(38,0)"))).head()
    assert(Probe.checksum(df) == (want.getLong(0), want.get(1).toString))
    assert(Probe.checksum(df.filter("id < 0")) == (0L, "null"))
  }

  test("time: a throwing query prints its FAILED row and the other rows still print") {
    val qs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "qa" -> ((s, _) => s.range(10).toDF()),
      "qbad" -> ((s, _) => s.range(3).selectExpr("raise_error('boom') as x")),
      "qz" -> ((s, _) => s.range(5).toDF()))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(probe.QueryLegs.timeReps(spark, "", qs, reps = 2, () => 0.5))
    val lines = out.toString.linesIterator.toSeq
    for (rep <- 1 to 2) {
      assert(lines.exists(l => l.startsWith(s"qa rep$rep ") && l.contains("rows=10 ") &&
        l.contains("canary=0.500") && l.contains("ext=")), lines)
      assert(lines.exists(l => l.startsWith(s"qz rep$rep ") && l.contains("rows=5 ")), lines)
      assert(lines.exists(l => l.startsWith(s"FAILED qbad rep$rep ") && l.contains("boom")), lines)
    }
  }
}
