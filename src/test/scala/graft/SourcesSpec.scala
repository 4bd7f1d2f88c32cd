package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.built
import graft.core.{Estimates, SessionMemo}
import graft.io.{Sources, TadaIO}

/** `Sources.read`: a repeat read of unchanged files reuses the inferred
  * schema and starts no Spark job at build; any change to the files, the
  * options or the session conf re-infers; what it cannot fingerprint
  * reads uncached. The build-time `Estimates` share its file stamp and
  * its container, so (g)-(i) pin them here too. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def dir(): Path = Files.createTempDirectory("graft-sources")


  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  private val inferCsv = Map("header" -> "true", "inferSchema" -> "true")

  /** One fixture per format: (format, path, reader options). */
  private def fixtures(): Seq[(String, String, Map[String, String])] = {
    import spark.implicits._
    val d = dir()
    val csv = d.resolve("t.csv")
    Files.writeString(csv, "k,v,s\n1,1.5,a\n2,2.5,b\n3,,c\n")
    val pq = d.resolve("t.parquet").toString
    Seq((1L, "x", 0.5), (2L, "y", 1.5)).toDF("id", "name", "w").write.parquet(pq)
    val json = d.resolve("t.json")
    Files.writeString(json, "{\"a\":1,\"b\":\"x\"}\n{\"a\":2,\"c\":[1,2]}\n")
    Seq(("csv", csv.toString, inferCsv), ("parquet", pq, Map.empty[String, String]),
      ("json", json.toString, Map.empty[String, String]))
  }

  test("(a) a second read of an unchanged file starts no Spark job at build") {
    val fx = fixtures()
    for ((format, path, opts) <- fx) {
      val (_, first) = built(Sources.read(spark, format, path, opts))
      assert(first > 0, s"$format: the first read infers")
      val (_, second) = built(Sources.read(spark, format, path, opts))
      assert(second == 0, s"$format: the repeat read ran $second jobs")
    }
    // the library readers ride the same memo
    val cfg = TadaIO.ReadConfig(inferTypes = true)
    val (csv, pq, json) = (fx(0)._2, fx(1)._2, fx(2)._2)
    built(TadaIO.readCsvPath(spark, csv, cfg))
    assert(built(TadaIO.readCsvPath(spark, csv, cfg))._2 == 0)
    assert(built(TadaIO.readJson(spark, json))._2 == 0)
    assert(built(Tables(spark, pq.stripSuffix("/t.parquet"), "t"))._2 == 0)
  }

  test("(b) a memo-hit read and a fresh read give the same schema and rows") {
    for ((format, path, opts) <- fixtures()) {
      Sources.read(spark, format, path, opts)
      val (hit, jobs) = built(Sources.read(spark, format, path, opts))
      assert(jobs == 0)
      val fresh = spark.read.format(format).options(opts).load(path)
      assert(hit.schema == fresh.schema, format)
      assert(rows(hit) == rows(fresh), format)
      // a fresh relation per call: a self-join of two hits resolves
      val again = Sources.read(spark, format, path, opts)
      assert(hit.queryExecution.analyzed.output.map(_.exprId)
        .intersect(again.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
      val c = hit.columns.head
      assert(hit.join(again, hit(c) === again(c)).count() == fresh.filter(fresh(c).isNotNull).count())
    }
  }

  test("(c) rewriting a file with a different column type re-infers, same length too") {
    val f = dir().resolve("r.csv")
    Files.writeString(f, "a\n1\n2\n")
    def read() = built(Sources.read(spark, "csv", f.toString, inferCsv))
    assert(read()._1.schema("a").dataType == IntegerType)
    assert(read()._2 == 0)
    // in place, same length: only the modification time moves
    Files.writeString(f, "a\nx\ny\n")
    val (s1, j1) = read()
    assert(j1 > 0 && s1.schema("a").dataType == StringType)
    assert(rows(s1) == Seq("x", "y"))
    // replaced by a same-length file with the old mtime: only the inode moves
    val mtime = Files.getLastModifiedTime(f)
    val tmp = f.resolveSibling("r.tmp")
    Files.writeString(tmp, "a\n3\n4\n")
    Files.setLastModifiedTime(tmp, mtime)
    Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING)
    assert(Files.getLastModifiedTime(f) == mtime && Files.size(f) == 6)
    val (s2, j2) = read()
    assert(j2 > 0 && s2.schema("a").dataType == IntegerType)
    assert(rows(s2) == Seq("3", "4"))
  }

  test("(d) changing a conf that affects inference misses the memo") {
    val f = dir().resolve("ts.csv")
    Files.writeString(f, "t\n2020-01-02 03:04:05\n")
    def read() = built(Sources.read(spark, "csv", f.toString, inferCsv))
    val key = "spark.sql.timestampType"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "TIMESTAMP_LTZ")
      assert(read()._1.schema("t").dataType == TimestampType)
      assert(read()._2 == 0)
      spark.conf.set(key, "TIMESTAMP_NTZ")
      val (df, jobs) = read()
      assert(jobs > 0 && df.schema("t").dataType == TimestampNTZType)
      assert(rows(df) == Seq("2020-01-02T03:04:05"))
    } finally spark.conf.set(key, prev)
  }

  test("(e) a glob and a missing path read uncached") {
    val d = dir()
    Files.writeString(d.resolve("g1.csv"), "a\n1\n")
    Files.writeString(d.resolve("g2.csv"), "a\n2\n")
    val glob = d.resolve("g*.csv").toString
    val n = Sources.memoSize(spark)
    Sources.read(spark, "csv", glob, inferCsv)
    val (df, jobs) = built(Sources.read(spark, "csv", glob, inferCsv))
    assert(jobs > 0 && rows(df) == Seq("1", "2"))
    val missing = d.resolve("nope.csv").toString
    intercept[org.apache.spark.sql.AnalysisException](Sources.read(spark, "csv", missing, inferCsv))
    assert(Sources.memoSize(spark) == n)
  }

  test("(f) 257 distinct files leave the memo at its bound") {
    val d = dir()
    val paths = (0 to Sources.MaxSchemas).map { i =>
      val f = d.resolve(s"f$i.csv")
      Files.writeString(f, s"c$i\n$i\n")
      f.toString
    }
    val opts = Map("header" -> "true")
    paths.foreach(Sources.read(spark, "csv", _, opts))
    assert(Sources.memoSize(spark) == Sources.MaxSchemas)
    // least recently used goes first: the newest still hits, the oldest re-reads
    assert(built(Sources.read(spark, "csv", paths.last, opts))._2 == 0)
    assert(built(Sources.read(spark, "csv", paths.head, opts))._2 > 0)
    assert(Sources.memoSize(spark) == Sources.MaxSchemas)
  }

  test("(g) a count estimate over a rename-replaced CSV of the same length and mtime recounts") {
    val f = dir().resolve("n.csv")
    Files.writeString(f, "a\n1\n2\n")
    val header = Map("header" -> "true")
    def count() = Estimates.count(Sources.read(spark, "csv", f.toString, header)).get
    assert(count() == 2L)
    assert(built(count())._2 == 0)
    // one row fewer, same length and mtime: only the inode moves
    val mtime = Files.getLastModifiedTime(f)
    val tmp = f.resolveSibling("n.tmp")
    Files.writeString(tmp, "a\n123\n")
    Files.setLastModifiedTime(tmp, mtime)
    Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING)
    assert(Files.getLastModifiedTime(f) == mtime && Files.size(f) == 6)
    assert(count() == 1L)
  }

  test("(h) estimators with different salts over one plan each run their own job") {
    import org.apache.spark.sql.{functions => F}
    val df = spark.range(50).toDF("x")
    def est(salt: String, agg: org.apache.spark.sql.Column) =
      built(Estimates.of(df, salt)(_.agg(agg).head().getLong(0)))
    val (lo, j1) = est("h.min", F.min("x"))
    val (hi, j2) = est("h.max", F.max("x"))
    assert(lo.contains(0L) && hi.contains(49L) && j1 > 0 && j2 > 0)
    assert(est("h.min", F.min("x")) == ((Some(0L), 0)))
    // a failed job is None and is not memoized: the next call runs again
    assert(Estimates.of(df, "h.fail")(_ => throw new IllegalStateException("no")).isEmpty)
    assert(Estimates.of(df, "h.fail")(_ => 7L).contains(7L))
    // a count that fails hands its exception to the caller
    val bad = spark.range(1).toDF("x").filter("assert_true(x < 0) IS NULL")
    assert(Estimates.count(bad).isFailure)
  }

  test("(i) the shared container stays at its bound per session") {
    val memo = new SessionMemo[Int, Int](3)
    val other = spark.newSession()
    (1 to 5).foreach(i => memo.put(spark, i, i))
    memo.put(other, 1, 1)
    assert(memo.size(spark) == 3 && memo.size(other) == 1)
    // least recently used goes first
    assert(memo.get(spark, 1).isEmpty && memo.get(spark, 3).contains(3))
    memo.put(spark, 6, 6)
    assert(memo.get(spark, 3).isDefined && memo.get(spark, 4).isEmpty)
    // Estimates over a session of its own: at most MaxEntries, others untouched
    val mine = Estimates.size(spark.range(1).toDF())
    val df = other.range(3).toDF()
    (0 to Estimates.MaxEntries).foreach(i => Estimates.of(df, s"i.$i")(_ => i))
    assert(Estimates.size(df) == Estimates.MaxEntries)
    assert(Estimates.size(spark.range(1).toDF()) == mine)
    var ran = false
    assert(Estimates.of(df, "i.0") { _ => ran = true; 0 }.contains(0) && ran)
  }
}
