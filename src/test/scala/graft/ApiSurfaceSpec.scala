package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}

import graft.core._

/** Coverage for the §2.2/§2.3/§2.9 long tail: positional access, row
  * edits, whole-DF stats, value counts, and the native SimHash
  * expression's equivalence with its UDF kernel. */
class ApiSurfaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def frame(df: org.apache.spark.sql.DataFrame) = TadaFrame.ingest(df)

  test("at / dropRow / subset / filterIndex are positional in frame order") {
    val f = frame(Seq(30, 10, 20).toDF("v")).sort(Sorter("v"))
    assert(f.at(1, "v").contains(20))
    assert(f.dropRow(1).records().tail.flatten == Seq("10", "30"))
    assert(f.subset(Seq(2, 0)).records().tail.flatten == Seq("30", "10"))
    assert(f.filterIndex(f.df("v") >= 20) == Seq(1L, 2L))
  }

  test("setRows applies only at the given positions") {
    val f = frame(Seq(1.0, 2.0, 3.0).toDF("v"))
    val got = f.setRows("v", Seq(0, 2), F.lit(0.0)).records().tail.flatten
    assert(got == Seq("0", "2", "0"))
  }

  test("whole-DF stats reshape long: one row per value column") {
    val f = frame(Seq((1.0, 10.0), (3.0, 30.0)).toDF("a", "b"))
    val got = f.stats("mean", c => F.avg(c)).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got == Map("a" -> 2.0, "b" -> 20.0))
  }

  test("valueCounts: stringified values, nulls skipped") {
    val f = frame(Seq[java.lang.Double](1.0, 1.0, 2.0, null).toDF("v"))
    val got = f.valueCounts("v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("1" -> 2L, "2" -> 1L))
  }

  test("iterator streams rows in frame order with None for nulls") {
    val f = frame(Seq[(Int, java.lang.Double)]((2, null), (1, 5.0)).toDF("k", "v"))
      .sort(Sorter("k"))
    val rows = f.iterator().toSeq
    assert(rows == Seq(Map("k" -> Some(1), "v" -> Some(5.0)),
                       Map("k" -> Some(2), "v" -> None)))
  }

  test("hasType locates containers by Spark type; containerIds are rename-stable") {
    val f = frame(Seq((1L, "x", 2.5)).toDF("id", "s", "v"))
      .setAsLabels("id")
    val (labelIdx, colIdx) = f.hasType("DoubleType")
    assert(labelIdx == Seq() && colIdx == Seq(1), s"got $labelIdx / $colIdx")
    val (lLong, cLong) = f.hasType("LongType")
    assert(lLong == Seq(0) && cLong == Seq())
    // ids survive derived (non-realiasing) transformations — the
    // property that makes them "more robust than an index position"
    val before = f.containerIds()
    val after = f.filter(Map("v" -> ((c: org.apache.spark.sql.Column) => c > 0)))
      .containerIds()
    assert(after("s") == before("s") && after("v") == before("v"))
    assert(f.containerIds(excludeLabels = true).keySet == Set("s", "v"))
  }

  test("dropColLevel collapses a |-joined name segment") {
    val f = frame(Seq((1, 2)).toDF("x|a", "x|b")).copy(colLevelNames = Seq("*0", "*1"))
    val got = f.dropColLevel(0)
    assert(got.listColNames == Seq("a", "b"))
  }

  test("TadaResult poisons downstream steps until err is checked") {
    val f = frame(Seq(1).toDF("v"))
    val r = core.TadaResult(f)
      .map(_.cols("nope"))   // fails: unknown container
      .map(_.head(1))        // must not run
    assert(r.err.exists(_.getMessage.contains("nope")))
    assert(core.TadaResult(f).map(_.head(1)).err.isEmpty)
  }

  test("SimHash64 native expression == UDF kernel, and runs in codegen") {
    import graft.exprs.GraftFunctions
    GraftFunctions.register(spark)
    val toks = Seq("the quick brown fox", "lazy dogs sleep here")
      .toDF("text").select(graft.pipeline.TextOps.tokens(F.col("text")).as("t"))
    val viaExpr = toks.select(F.call_function("simhash64", F.col("t"))).collect().map(_.getLong(0))
    val viaDf = graft.pipeline.Dedup.simhash(
      Seq((1L, "the quick brown fox"), (2L, "lazy dogs sleep here")).toDF("id", "text"),
      "id", "text").orderBy("id").collect().map(_.getLong(1))
    assert(viaExpr.toSeq == viaDf.toSeq)
    assert(viaExpr(0) != viaExpr(1))
  }

  test("GraftExtensions injects the native functions at session build (SQL-only path)") {
    import org.apache.spark.sql.SparkSession
    val base = spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a NEW session on the same context with the extensions applied at
      // build time. (On a cluster the equivalent is the static conf
      // spark.sql.extensions=graft.exprs.GraftExtensions — a static conf
      // can't be attached to an already-running test context, so the
      // builder hook exercises the same injectFunction path.)
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.exprs.GraftExtensions())
        .getOrCreate()
      assert(s2 ne base)
      val r = s2.sql(
        """SELECT simhash64(array('a','b')) AS h,
                  cosine_sim(array(cast(1.0 as float), cast(0.0 as float)),
                             array(cast(1.0 as float), cast(0.0 as float))) AS c,
                  jaccard_sim(array('x','y'), array('y','z')) AS j,
                  shingle_w(array('a','b','c'), 2) AS sh""").head()
      assert(r.getDouble(1) == 1.0)
      assert(math.abs(r.getDouble(2) - 1.0 / 3.0) < 1e-12)
      assert(r.getSeq[String](3) == Seq("a b", "b c"))
      // and it matches the imperative registration path on the base session
      graft.exprs.GraftFunctions.register(base)
      val h0 = base.sql("SELECT simhash64(array('a','b'))").head().getLong(0)
      assert(r.getLong(0) == h0)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("registry hygiene: names well-formed, unique, single-pack, oracle aliases sane") {
    import graft.queries.Registry
    val all = Registry.all // also fires the runtime duplicate-name guard
    // the driver keys CORRECTNESS_r{N}.json on these names — a typo'd
    // or re-used name silently drops a query from the gate
    val namePat = "^q\\d+_[a-z0-9_]+$".r
    all.foreach(q => assert(namePat.matches(q.name),
      s"query name '${q.name}' does not match q<digits>_<snake_case>"))
    assert(all.map(_.name).distinct.size == all.size)
    // every query belongs to exactly ONE pack (a query listed twice
    // would double-run in Verify and confuse per-pack attribution)
    val byPack = Registry.packs.flatMap(p => p.queries.map(q => q.name -> p))
    val multi = byPack.groupBy(_._1).collect { case (n, ps) if ps.size > 1 => n }
    assert(multi.isEmpty, s"queries in more than one pack: ${multi.mkString(",")}")
    // numeric prefixes are unique too — two q41_* entries would collide
    // in every prefix-addressed harness (Verify subset arg, graft.Probe)
    val numDup = all.map(_.name.takeWhile(_ != '_')).groupBy(identity)
      .collect { case (n, g) if g.size > 1 => n }
    assert(numDup.isEmpty, s"duplicate query numbers: ${numDup.mkString(",")}")
  }
}
