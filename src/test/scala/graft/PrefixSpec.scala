package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.types._

import graft.core._

/** Scale-safe whole-frame prefix family (r12 verdict item 1): the chunked
  * plans in [[graft.core.Prefix]] must be row-for-row equal to the
  * sequential single-partition window forms they replace, on fixtures that
  * genuinely span multiple ingest partitions (so chunk carries are
  * exercised), and their plans must not run any window over the full data
  * without a partition spec. */
class PrefixSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Multi-partition ingest: deterministic partitioning via parallelize. */
  private def multi[T <: Product : scala.reflect.runtime.universe.TypeTag
                                 : scala.reflect.ClassTag](
      rows: Seq[T], parts: Int): TadaFrame = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts))
    TadaFrame.ingest(df)
  }

  /** Every windowed computation over the FULL frame must carry a partition
    * spec; empty-partition windows are only allowed on the tiny per-chunk
    * side (identified by an Aggregate beneath them). */
  private def assertNoGlobalDataWindow(df: DataFrame): Unit = {
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
        w.collectFirst { case a: Aggregate => a }.isEmpty => w
    }
    assert(bad.isEmpty, s"single-partition window over full data:\n${bad.mkString("\n")}")
  }

  // --- cumSum ---

  test("chunked cumSum == sequential window form (longs, nulls, 5 partitions)") {
    val rows = Seq[(Int, java.lang.Long)](
      (0, 5L), (1, null), (2, 3L), (3, 10L), (4, null), (5, 2L), (6, 7L),
      (7, 1L), (8, null), (9, 4L), (10, 6L), (11, 8L), (12, 9L))
    val f = multi(rows.map { case (i, v) => RowIV(i, v) }, 5)
    val chunkedF = Analytics.cumSum(f, "v", "cs")
    val windowF = Analytics.cumSumWindow(f, "v", "cs")
    assert(chunkedF.records() == windowF.records())
    assert(chunkedF.df.schema("cs").dataType == windowF.df.schema("cs").dataType)
    assertNoGlobalDataWindow(chunkedF.df)
  }

  test("chunked cumSum == window form on dyadic doubles; never null") {
    val rows = Seq[java.lang.Double](1.5, null, 2.25, -0.5, null, 4.0, 0.125, 8.0)
      .zipWithIndex.map { case (v, i) => RowDV(i, v) }
    val f = multi(rows, 3)
    val a = Analytics.cumSum(f, "v", "cs").records()
    val b = Analytics.cumSumWindow(f, "v", "cs").records()
    assert(a == b)
    assert(!a.tail.exists(_.last == "(null)"))
  }

  test("in-place cumSum (out == c): chunk offsets come from raw values") {
    // out == c overwrites the source column with the running sum inside the
    // chunk; the per-chunk totals must still aggregate the RAW values (the
    // r13 bug summed the prefix sums, inflating every later chunk's carry)
    val rows = Seq[(Int, java.lang.Long)](
      (0, 5L), (1, null), (2, 3L), (3, 10L), (4, 2L), (5, 7L), (6, 1L), (7, 4L))
    val f = multi(rows.map { case (i, v) => RowIV(i, v) }, 4)
    val a = Analytics.cumSum(f, "v", "v").records()
    val b = Analytics.cumSumWindow(f, "v", "v").records()
    assert(a == b)
    assertNoGlobalDataWindow(Analytics.cumSum(f, "v", "v").df)
  }

  // --- shift ---

  test("chunked shift matches window form for n = 1, 3, 7 (crossing chunks)") {
    // 4 partitions of ~3 rows: n=3 crosses exactly one chunk, n=7 crosses
    // several; null VALUES must shift through as values, not be skipped
    val rows = Seq[(Int, java.lang.Long)](
      (0, 10L), (1, null), (2, 30L), (3, 40L), (4, 50L), (5, null),
      (6, 70L), (7, 80L), (8, 90L), (9, 100L), (10, 110L), (11, null))
    val f = multi(rows.map { case (i, v) => RowIV(i, v) }, 4)
    for (n <- Seq(1, 3, 7)) {
      val a = Analytics.shift(f, "v", n, "s").records()
      val b = Analytics.shiftWindow(f, "v", n, "s").records()
      assert(a == b, s"shift($n)")
    }
    assertNoGlobalDataWindow(Analytics.shift(f, "v", 3, "s").df)
  }

  test("chunked shift: negative n (lead), n == 0, |n| >= frame size") {
    val rows = Seq[(Int, java.lang.Long)](
      (0, 1L), (1, 2L), (2, 3L), (3, 4L), (4, 5L), (5, 6L), (6, 7L))
    val f = multi(rows.map { case (i, v) => RowIV(i, v) }, 3)
    for (n <- Seq(-1, -4, 0, 7, -7, 20, -20)) {
      val a = Analytics.shift(f, "v", n, "s").records()
      val b = Analytics.shiftWindow(f, "v", n, "s").records()
      assert(a == b, s"shift($n)")
    }
  }

  test("chunked shift handles chunks smaller than n (single-row partitions)") {
    val rows = (0 until 6).map(i => RowIV(i, java.lang.Long.valueOf(i * 10L)))
    val f = multi(rows, 6) // every chunk has exactly 1 row; n=3 spans 3 chunks
    val a = Analytics.shift(f, "v", 3, "s").records()
    val b = Analytics.shiftWindow(f, "v", 3, "s").records()
    assert(a == b)
  }

  // --- rollingN ---

  test("chunked rollingN == window form for n = 1, 2, 4, 8 (crossing chunks)") {
    val rows = Seq[(Int, java.lang.Long)](
      (0, 10L), (1, null), (2, 30L), (3, 40L), (4, 50L), (5, null),
      (6, 70L), (7, 80L), (8, 90L), (9, 100L), (10, 110L), (11, null))
    val f = multi(rows.map { case (i, v) => RowIV(i, v) }, 4)
    for (n <- Seq(1, 2, 4, 8)) {
      val a = Rolling.rollingN(f, n, "v", x => F.sum(x), "r").records()
      val b = Rolling.rollingNWindow(f, n, "v", x => F.sum(x), "r").records()
      assert(a == b, s"rollingN($n)")
    }
    assertNoGlobalDataWindow(Rolling.rollingN(f, 4, "v", x => F.sum(x), "r").df)
  }

  test("chunked rollingN: min/count aggs, finish transform, single-row chunks") {
    val rows = (0 until 6).map(i => RowIV(i, if (i == 3) null else java.lang.Long.valueOf(60L - i)))
    val f = multi(rows, 6) // every chunk 1 row: n=3 borrows across 2 chunks
    for ((agg, tag) <- Seq[(org.apache.spark.sql.Column => org.apache.spark.sql.Column, String)](
        (x => F.min(x), "min"), (x => F.count(x), "count"))) {
      val a = Rolling.rollingN(f, 3, "v", agg, "r").records()
      val b = Rolling.rollingNWindow(f, 3, "v", agg, "r").records()
      assert(a == b, tag)
    }
    val a2 = Rolling.rollingN(f, 2, "v", x => F.sum(x), "r", partitionBy = Nil,
      finish = _.cast("double")).records()
    val b2 = Rolling.rollingNWindow(f, 2, "v", x => F.sum(x), "r",
      finish = _.cast("double")).records()
    assert(a2 == b2)
  }

  test("sorted-frame chunk bounds are memoized; anchored plan carries no bounds join") {
    val rows = Seq[(Int, java.lang.Long)](
      (7, 1L), (3, 2L), (9, 3L), (1, 4L), (5, 5L), (2, 6L))
    val f = multi(rows.map { case (k, v) => RowIV(k, v) }, 3).sort(Sorter("i"))
    // first anchor pays the one bounds job; the bounds ride the plan as
    // LITERALS — no crossJoin/broadcast-agg subtree left (r15 item 5)
    val a1 = f.dropCols("i")
    val plan = a1.df.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"anchored plan must not carry a bounds join:\n$plan")
    assert(a1.records().tail.map(_.head) ==
      Seq("4", "6", "2", "5", "1", "3"), "order preserved after key drop")
    // a second anchor of the same frame is a memo HIT: no second scan
    val h0 = Estimates.hits
    val a2 = f.dropCols("i")
    assert(Estimates.hits > h0,
      "re-anchoring the same frame must hit the bounds memo")
    assert(a2.records() == a1.records())
    // a SAME-SCHEMA frame with different data must MISS (the key is the
    // structural plan — a rendered string prints only the schema for
    // in-memory leaves and would serve frame f's bounds to frame g,
    // silently collapsing g's chunk balance)
    val h1 = Estimates.hits
    val g = multi(Seq((100, 1L), (900, 2L), (500, 3L))
      .map { case (k, v) => RowIV(k, v) }, 3).sort(Sorter("i"))
    val ga = g.dropCols("i")
    assert(Estimates.hits == h1,
      "different data under the same schema must not hit the memo")
    assert(ga.records().tail.map(_.head) == Seq("1", "3", "2"))
  }

  test("low-cardinality sort key: value-chunking sub-bands ties (r16)") {
    // 24 rows, key in {1, 2, 3} (d=3 < k=4 chunks): width-bucketing caps
    // parallelism at 3; value-chunking splits each tie by a sub-band and
    // must stay value-identical to the window forms
    val rows = (0 until 24).map(i =>
      RowIV(1 + i % 3, java.lang.Long.valueOf((i * 7 % 24).toLong)))
    val f = multi(rows, 4).sort(Sorter("i"))
    def chunksOf(fr: TadaFrame): Long =
      Prefix.chunked(fr, fwd = true).get.select(Prefix.CHUNK).distinct().count()
    // single-key sort: tie order is __ord -> ingest-partition sub-band
    assert(chunksOf(f) > 3, "single-key low-card must split ties")
    assert(Analytics.cumSum(f, "v", "cs").records() ==
      Analytics.cumSumWindow(f, "v", "cs").records())
    assert(Rolling.rollingN(f, 4, "v", x => F.sum(x), "r").records() ==
      Rolling.rollingNWindow(f, 4, "v", x => F.sum(x), "r").records())
    // multi-key: tie order is the SECOND key -> its width bucket; cover
    // both direction combinations incl. descending axes
    for ((d1, d2) <- Seq((false, false), (true, false), (false, true), (true, true))) {
      val fm = multi(rows, 4).sort(
        Sorter("i", descending = d1), Sorter("v", descending = d2))
      assert(chunksOf(fm) > 3, s"multi-key low-card must split ties ($d1,$d2)")
      assert(Analytics.shift(fm, "v", 2, "sh").records() ==
        Analytics.shiftWindow(fm, "v", 2, "sh").records(), s"($d1,$d2)")
      assert(Analytics.cumSum(fm, "v", "cs").records() ==
        Analytics.cumSumWindow(fm, "v", "cs").records(), s"($d1,$d2)")
    }
    // string second key (r17): the binary-prefix image sub-bands the
    // ties, so value-chunking now ENGAGES (the r16 gap: a (low-card
    // key, string tiebreak) sort ran at parallelism = d) — and stays
    // value-identical across both direction combos
    for ((d1, d2) <- Seq((false, false), (true, false), (false, true), (true, true))) {
      val fs = TadaFrame.ingest(spark.createDataFrame(spark.sparkContext.parallelize(
          (0 until 12).map(i => (1 + i % 2, ('a' + i % 5).toChar.toString, i.toLong)), 3))
        .toDF("i", "s", "v"))
        .sort(Sorter("i", descending = d1), Sorter("s", descending = d2))
      val plan = Analytics.cumSum(fs, "v", "cs").df.queryExecution.optimizedPlan.toString
      assert(plan.contains("__pfx_v"),
        s"string-s2 sorts must engage value-chunking via the string image ($d1,$d2)")
      assert(chunksOf(fs) > 2, s"string-s2 ties must sub-band ($d1,$d2)")
      assert(Analytics.cumSum(fs, "v", "cs").records() ==
        Analytics.cumSumWindow(fs, "v", "cs").records(), s"($d1,$d2)")
      assert(Analytics.shift(fs, "v", 2, "sh").records() ==
        Analytics.shiftWindow(fs, "v", 2, "sh").records(), s"($d1,$d2)")
    }
  }

  test("rollingN gates: order-sensitive aggs and oversized n take the window form") {
    val rows = (0 until 12).map(i => RowIV(i, java.lang.Long.valueOf(i * 10L)))
    val f = multi(rows, 4)
    def hasChunk(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains(Prefix.CHUNK)
    // order-sensitive aggregate (first): the chunked tail rebuild
    // re-aggregates unordered exploded rows, so it must NOT engage
    // (ADVICE r15 — the doc claimed generality the plan didn't have)
    val fst = Rolling.rollingN(f, 3, "v", x => F.first(x), "r")
    assert(!hasChunk(fst.df), "first() must route to the window form")
    assert(fst.records() ==
      Rolling.rollingNWindow(f, 3, "v", x => F.first(x), "r").records())
    // commutative aggregate engages the chunked plan on the same frame
    assert(hasChunk(Rolling.rollingN(f, 3, "v", x => F.sum(x), "r").df))
    // n past graft.prefix.maxRollingN: broadcast carries would hold
    // O(chunks x n) structs — window form is the honest plan
    spark.conf.set("graft.prefix.maxRollingN", "4")
    try {
      val big = Rolling.rollingN(f, 5, "v", x => F.sum(x), "r")
      assert(!hasChunk(big.df), "n over the gate must route to the window form")
      assert(big.records() ==
        Rolling.rollingNWindow(f, 5, "v", x => F.sum(x), "r").records())
      assert(hasChunk(Rolling.rollingN(f, 4, "v", x => F.sum(x), "r").df))
    } finally spark.conf.unset("graft.prefix.maxRollingN")
  }

  test("chunked rollingN on a sorted frame; n >= frame size goes all-null") {
    val rows = Seq[(Int, java.lang.Long)](
      (7, 1L), (3, 2L), (9, 3L), (1, 4L), (5, 5L), (2, 6L))
    val f = multi(rows.map { case (k, v) => RowIV(k, v) }, 3).sort(Sorter("i"))
    val a = Rolling.rollingN(f, 3, "v", x => F.sum(x), "r").records()
    val b = Rolling.rollingNWindow(f, 3, "v", x => F.sum(x), "r").records()
    assert(a == b)
    val a2 = Rolling.rollingN(f, 9, "v", x => F.sum(x), "r").records()
    assert(a2.tail.forall(_.last == "(null)"))
  }

  // --- ffill / bfill ---

  test("chunked ffill/bfill == window forms (leading nulls, all-null chunk)") {
    // partition layout (3 rows each): [null,1,null] [null,null,null] [5,null,2]
    val rows = Seq[java.lang.Double](null, 1.0, null, null, null, null, 5.0, null, 2.0)
      .zipWithIndex.map { case (v, i) => RowDV(i, v) }
    val f = multi(rows, 3)
    val af = f.fillNull(Map("v" -> FillNullHow.Forward)).records()
    val bf = f.fillNullWindow("v", forward = true).records()
    assert(af == bf)
    val ab = f.fillNull(Map("v" -> FillNullHow.Backward)).records()
    val bb = f.fillNullWindow("v", forward = false).records()
    assert(ab == bb)
    assertNoGlobalDataWindow(f.fillNull(Map("v" -> FillNullHow.Forward)).df)
  }

  // --- sorted-frame width-bucket path ---

  test("sorted frame (numeric key): chunked forms equal window forms") {
    val rows = Seq[(Int, java.lang.Long)](
      (7, 1L), (3, null), (9, 3L), (1, 4L), (5, 5L), (2, null), (8, 7L),
      (4, 8L), (6, 9L), (0, 10L))
    val f0 = multi(rows.map { case (k, v) => RowIV(k, v) }, 4)
    for (desc <- Seq(false, true)) {
      val f = f0.sort(Sorter("i", descending = desc))
      assert(Analytics.cumSum(f, "v", "cs").records() ==
        Analytics.cumSumWindow(f, "v", "cs").records(), s"cumsum desc=$desc")
      assert(Analytics.shift(f, "v", 2, "s").records() ==
        Analytics.shiftWindow(f, "v", 2, "s").records(), s"shift desc=$desc")
      assert(f.fillNull(Map("v" -> FillNullHow.Forward)).records() ==
        f.fillNullWindow("v", forward = true).records(), s"ffill desc=$desc")
      assertNoGlobalDataWindow(Analytics.cumSum(f, "v", "cs").df)
    }
  }

  test("sorted frame with null and duplicate keys buckets correctly") {
    val rows = Seq[(java.lang.Double, java.lang.Long)](
      (2.0, 1L), (null, 2L), (2.0, 3L), (9.0, 4L), (null, 5L), (1.0, 6L),
      (9.0, 7L), (5.0, 8L)).zipWithIndex.map { case ((k, v), i) => RowKV(i, k, v) }
    val f = multi(rows, 3).sort(Sorter("k"))
    assert(Analytics.cumSum(f, "v", "cs").records() ==
      Analytics.cumSumWindow(f, "v", "cs").records())
    assert(Analytics.shift(f, "v", 1, "s").records() ==
      Analytics.shiftWindow(f, "v", 1, "s").records())
  }

  test("sorted frame with ±Inf keys: finite keys stay bucketed, results match") {
    // ±Inf must be excluded from the bucket min/max (Inf/Inf = NaN would
    // collapse every row into one chunk) and pinned to the edge chunks
    val rows = Seq[(java.lang.Double, java.lang.Long)](
      (Double.NegativeInfinity, 1L), (2.0, 2L), (7.0, 3L), (4.0, 4L),
      (Double.PositiveInfinity, 5L), (Double.NaN, 6L), (null, 7L), (9.0, 8L))
      .zipWithIndex.map { case ((k, v), i) => RowKV(i, k, v) }
    for (desc <- Seq(false, true)) {
      val f = multi(rows, 3).sort(Sorter("k", descending = desc))
      assert(Analytics.cumSum(f, "v", "cs").records() ==
        Analytics.cumSumWindow(f, "v", "cs").records(), s"cumsum desc=$desc")
      assert(Analytics.shift(f, "v", 2, "s").records() ==
        Analytics.shiftWindow(f, "v", 2, "s").records(), s"shift desc=$desc")
      // finite keys must NOT all land in one chunk (the pre-fix behavior
      // silently collapsed every row into chunk k-1 via Inf/Inf = NaN)
      val ch = Prefix.chunked(f, fwd = true).get
      val finiteChunks = ch.filter(!F.isnan(F.col("k")) &&
          F.abs(F.col("k")) =!= F.lit(Double.PositiveInfinity))
        .select(Prefix.CHUNK).distinct().count()
      assert(finiteChunks > 1, s"finite keys collapsed into $finiteChunks chunk(s), desc=$desc")
    }
  }

  test("sorted frame where ALL keys are ±Inf/NaN/null still matches (single chunk)") {
    val rows = Seq[(java.lang.Double, java.lang.Long)](
      (Double.PositiveInfinity, 1L), (Double.NegativeInfinity, 2L),
      (Double.NaN, 3L), (null, 4L), (Double.NegativeInfinity, 5L))
      .zipWithIndex.map { case ((k, v), i) => RowKV(i, k, v) }
    val f = multi(rows, 2).sort(Sorter("k"))
    assert(Analytics.cumSum(f, "v", "cs").records() ==
      Analytics.cumSumWindow(f, "v", "cs").records())
  }

  test("sorted frame, string key: chunks via the binary-prefix image (r17)") {
    val f = multi(Seq(RowSV(0, "b", 2L), RowSV(1, "a", 1L), RowSV(2, "c", 3L)), 2)
      .sort(Sorter("s"))
    val got = Analytics.shift(f, "v", 1, "p").records().tail.map(_.last)
    assert(got == Seq("(null)", "1", "2"))
    // before r17 this was the one key type that fell to the global
    // single-partition window; now it chunks like any numeric key
    assert(Prefix.chunked(f, fwd = true).isDefined,
      "string sort keys must produce a parallel chunking")
    assertNoGlobalDataWindow(Analytics.cumSum(f, "v", "cs").df)
  }

  test("string sort key: chunked == window across shapes (lcp, unicode, nulls, desc)") {
    // shared prefix forces the lcp-stripped window; lengths straddle the
    // 6-byte image; unicode exercises UTF8 byte order; nulls sort last
    val pool = Seq("doc_alpha", "doc_beta", "doc_alphabet", "doc_a", "doc_",
      "doc_ζeta", "doc_Ωmega", "doc_beta2", null, "doc_alpha", "doc_z")
    val rows = (0 until 22).map(i => RowSV(i, pool(i % pool.length),
      java.lang.Long.valueOf((i * 13 % 22).toLong)))
    for (desc <- Seq(false, true)) {
      val f = multi(rows, 4).sort(Sorter("s", descending = desc))
      assert(Analytics.cumSum(f, "v", "cs").records() ==
        Analytics.cumSumWindow(f, "v", "cs").records(), s"cumsum desc=$desc")
      assert(Analytics.shift(f, "v", 2, "sh").records() ==
        Analytics.shiftWindow(f, "v", 2, "sh").records(), s"shift desc=$desc")
      assert(Rolling.rollingN(f, 3, "v", x => F.sum(x), "r").records() ==
        Rolling.rollingNWindow(f, 3, "v", x => F.sum(x), "r").records(),
        s"rollingN desc=$desc")
      // multiple finite chunks: the image must actually spread the keys
      val ch = Prefix.chunked(f, fwd = true).get
      assert(ch.filter(F.col("s").isNotNull)
        .select(Prefix.CHUNK).distinct().count() > 1,
        s"string keys collapsed into one chunk, desc=$desc")
    }
  }

  test("low-card string key: raw-value vocabulary engages value-chunking (r18)") {
    // 1-char flags (the l_returnflag shape)
    val rows = (0 until 24).map(i => RowSV(i, Seq("A", "N", "R")(i % 3),
      java.lang.Long.valueOf((i * 7 % 24).toLong)))
    val f = multi(rows, 4).sort(Sorter("s"))
    val ch = Prefix.chunked(f, fwd = true).get
    assert(ch.select(Prefix.CHUNK).distinct().count() > 3,
      "low-card string key must sub-band ties past d=3 chunks")
    assert(Analytics.cumSum(f, "v", "cs").records() ==
      Analytics.cumSumWindow(f, "v", "cs").records())
    // long strings sharing a 7+-byte tail AFTER the lcp COLLIDE in the
    // 6-byte image. r17 gated value-chunking out here (the image join
    // would have merged distinct keys); r18 joins the vocabulary on the
    // RAW string, so value-chunking engages — and must still be exact —
    // for any ≤4096-distinct string key (ADVICE r17 closed by
    // construction: a collision cannot reorder rows it never joins on)
    val longRows = (0 until 12).map(i => RowSV(i,
      "prefix_" + Seq("alphagamma1", "alphagamma2", "betagamma00")(i % 3),
      java.lang.Long.valueOf(i.toLong)))
    val fl = multi(longRows, 3).sort(Sorter("s"))
    val plan = Analytics.cumSum(fl, "v", "cs").df.queryExecution.optimizedPlan.toString
    assert(plan.contains("__pfx_v"),
      "image-colliding low-card string key must value-chunk via the raw vocabulary")
    assert(Analytics.cumSum(fl, "v", "cs").records() ==
      Analytics.cumSumWindow(fl, "v", "cs").records())
    val chL = Prefix.chunked(fl, fwd = true).get
    assert(chL.select(Prefix.CHUNK).distinct().count() > 3,
      "colliding-image string key must still sub-band past d=3 chunks")
  }

  test("STRING vocabulary-miss pin is monotone (r18: raw-value vocab)") {
    // mutated-source scenario on a STRING key: the memoized vocabulary
    // saw {"bb", "ff"}; execution also sees one unseen value — below
    // all ("aa"), between ("dd"), above all ("zz"). Misses must take
    // the monotone raw-string pin (below the null chunk, ordered
    // against the vocabulary by UTF8 byte comparison).
    for (miss <- Seq("aa", "dd", "zz"); desc <- Seq(false, true)) {
      val rows = Seq[(String, Long)](
        ("bb", 1L), ("ff", 2L), (miss, 3L), ("bb", 4L), ("ff", 5L),
        (miss, 6L), ("bb", 7L), ("ff", 8L), (null, 9L))
        .zipWithIndex.map { case ((k, v), i) =>
          RowSV(i, k, java.lang.Long.valueOf(v)) }
      Prefix.testVocabOverride = Some(Array[Any]("bb", "ff"))
      try {
        val f = multi(rows, 4).sort(Sorter("s", descending = desc))
        val ch = Prefix.chunked(f, fwd = true).get
        assert(ch.queryExecution.optimizedPlan.toString.contains("__pfx_v"),
          s"value-chunking must engage for the miss test to bite ($miss,$desc)")
        val a = Analytics.cumSum(f, "v", "cs").records()
        val nullChunk = ch.filter(F.col("s").isNull)
          .select(Prefix.CHUNK).head().getLong(0)
        val missMax = ch.filter(F.col("s") === miss)
          .agg(F.max(Prefix.CHUNK)).head().getLong(0)
        assert(missMax < nullChunk, s"miss chunk past the null chunk ($miss,$desc)")
        Prefix.testVocabOverride = None
        assert(a == Analytics.cumSumWindow(f, "v", "cs").records(),
          s"cumsum with string vocab miss ($miss,$desc)")
      } finally { Prefix.testVocabOverride = None }
    }
  }

  test("vocabulary-miss pin is monotone (r16 ADVICE): misses between/below/above") {
    // simulate the mutated-source scenario: the memoized vocabulary saw
    // {2, 6} but execution also sees one value it never did — below all
    // (0), between (4), above all (12). The r16 rank-based fallback gave
    // misses an s2/ord-derived sub-band (which can land a miss BEFORE a
    // smaller vocab value) and pushed above-all ascending misses past
    // the null chunk; the r17 pin must stay monotone in both directions.
    for (miss <- Seq(0.0, 4.0, 12.0); desc <- Seq(false, true)) {
      val rows = Seq[(java.lang.Double, Long)](
        (2.0, 1L), (6.0, 2L), (miss, 3L), (2.0, 4L), (6.0, 5L),
        (miss, 6L), (2.0, 7L), (6.0, 8L), (null, 9L))
        .zipWithIndex.map { case ((k, v), i) =>
          RowKV(i, k, java.lang.Long.valueOf(v)) }
      Prefix.testVocabOverride = Some(Array[Any](2.0, 6.0))
      try {
        val f = multi(rows, 4).sort(Sorter("k", descending = desc))
        val ch = Prefix.chunked(f, fwd = true).get
        assert(ch.queryExecution.optimizedPlan.toString.contains("__pfx_v"),
          s"value-chunking must engage for the miss test to bite ($miss,$desc)")
        val a = Analytics.cumSum(f, "v", "cs").records()
        val sh = Analytics.shift(f, "v", 1, "sh").records()
        // miss rows sit strictly below the null chunk
        val nullChunk = ch.filter(F.col("k").isNull)
          .select(Prefix.CHUNK).head().getLong(0)
        val missMax = ch.filter(F.col("k") === miss)
          .agg(F.max(Prefix.CHUNK)).head().getLong(0)
        assert(missMax < nullChunk, s"miss chunk past the null chunk ($miss,$desc)")
        Prefix.testVocabOverride = None
        assert(a == Analytics.cumSumWindow(f, "v", "cs").records(),
          s"cumsum with vocab miss ($miss,$desc)")
        assert(sh == Analytics.shiftWindow(f, "v", 1, "sh").records(),
          s"shift with vocab miss ($miss,$desc)")
      } finally { Prefix.testVocabOverride = None }
    }
  }

  test("whole-frame rollingDuration: chunked time-bucket plan equals the window form (r18)") {
    // irregular gaps, exact ties (two rows at one ts — range frames are
    // value-based so both see the same window), a null ts (null-peer
    // semantics), dyadic values; 4 partitions; d = 5 s over a ~100 s
    // span engages k = min(4, floor(span/2d)) >= 2 buckets
    val base = 1700000000000L
    val offs = Seq(0L, 1L, 3L, 3L, 7L, 12L, 13L, 21L, 22L, 30L, 31L, 33L,
      40L, 44L, 52L, 53L, 61L, 70L, 77L, 85L, 93L, 99L)
    val rows = offs.zipWithIndex.map { case (o, i) =>
      RowTV(i, new java.sql.Timestamp(base + o * 1000L), (i % 7) / 4.0)
    } :+ RowTV(99, null, 2.25)
    val f = multi(rows, 4)
    val got = Rolling.rollingDuration(f, "ts", 5000000L, "v",
      c => F.sum(c), "r5", finish = identity)
    val want = Rolling.rollingDurationWindow(f, "ts", 5000000L, "v",
      c => F.sum(c), "r5")
    assert(got.records() == want.records())
    // the chunked plan engaged (tag-partitioned window, no global data window)
    val plan = got.df.queryExecution.optimizedPlan.toString
    assert(plan.contains("__rd_"), "whole-frame rollingDuration did not chunk")
    assertNoGlobalDataWindow(got.df)
    // the tag fan-out is the union of own and previous-bucket copies
    assert(plan.contains("Union"), "chunked plan is expected to be the union form")
    // a window longer than span/ (2*2) falls back to the window form
    val wide = Rolling.rollingDuration(f, "ts", 60000000L, "v", c => F.sum(c), "rw")
    assert(!wide.df.queryExecution.optimizedPlan.toString.contains("__rd_"))
    assert(wide.records() ==
      Rolling.rollingDurationWindow(f, "ts", 60000000L, "v", c => F.sum(c), "rw").records())
    // non-commutative aggregates keep the sequential form (the rollingN gate)
    val nc = Rolling.rollingDuration(f, "ts", 5000000L, "v",
      c => F.first(c), "rf")
    assert(!nc.df.queryExecution.optimizedPlan.toString.contains("__rd_"))
  }

  test("rollingDuration chunked == window across random shapes (mini-fuzz)") {
    // seeded random fixtures: dense ties, null ts, varying partition
    // counts and window lengths (some trials legitimately fall back —
    // both paths must agree either way). Spark-vs-Spark differential:
    // DuckDB is deliberately NOT the oracle here because RANGE-frame
    // null-ordering semantics differ across engines; q113 pins the
    // non-null cross-engine case.
    val rng = new scala.util.Random(7)
    val base = 1700000000000L
    for (trial <- 0 until 6) {
      val n = 30 + rng.nextInt(40)
      val rows = (0 until n).map { i =>
        val ts = if (rng.nextInt(12) == 0) null
          else new java.sql.Timestamp(base + rng.nextInt(200) * 1000L)
        RowTV(i, ts, (rng.nextInt(17) - 8) / 4.0)
      }
      val f = multi(rows, 1 + rng.nextInt(4))
      val d = (1 + rng.nextInt(20)) * 1000000L
      val got = Rolling.rollingDuration(f, "ts", d, "v", c => F.sum(c), "r")
      val want = Rolling.rollingDurationWindow(f, "ts", d, "v", c => F.sum(c), "r")
      assert(got.records() == want.records(), s"trial $trial d=$d n=$n")
    }
  }

  test("overwriting an order-key column routes through the anchoring window form") {
    val f = multi(Seq(RowIV(2, 1L), RowIV(0, 2L), RowIV(1, 3L)), 2).sort(Sorter("i"))
    // out column == sort key "i": must anchor, not silently reorder
    val got = Analytics.cumSum(f, "v", "i").records().tail.map(_.head)
    assert(got == Seq("2", "5", "6")) // order i=0,1,2 -> v=2,3,1 cumsum
  }

  test("append across bands keeps chunk monotonicity for the prefix family") {
    val a = multi(Seq(RowIV(0, 1L), RowIV(1, 2L)), 2)
    val b = multi(Seq(RowIV(2, 3L), RowIV(3, 4L)), 2)
    val f = a.append(b)
    assert(Analytics.cumSum(f, "v", "cs").records() ==
      Analytics.cumSumWindow(f, "v", "cs").records())
    assert(Analytics.shift(f, "v", 1, "s").records() ==
      Analytics.shiftWindow(f, "v", 1, "s").records())
  }

  // --- composed grouped (key, chunk) forms (r20, r19 verdict item 5) ---

  /** 3 key values + a NULL key group over 5 ingest partitions: every
    * key's rows straddle chunks, so the per-key carry chains and the
    * null-safe carry join are genuinely exercised. */
  private def groupedFixture: TadaFrame = {
    val rows = Seq[(Int, String, java.lang.Long)](
      (0, "a", 5L), (1, null, 2L), (2, "b", null), (3, "a", 3L), (4, null, 7L),
      (5, "b", 1L), (6, "a", null), (7, "b", 4L), (8, null, 6L), (9, "a", 8L),
      (10, "b", 9L), (11, null, null), (12, "a", 10L), (13, "b", 11L))
      .map { case (i, s, v) => RowSV(i, s, v) }
    multi(rows, 5)
  }

  test("composed grouped forms == keyed windows (null keys, lag AND lead, rollingN tails)") {
    import org.apache.spark.sql.expressions.Window
    val f = groupedFixture
    val wKeyed = Window.partitionBy(f.df("s")).orderBy(f.orderCols: _*)
    // cumsum — the dispatcher routes composed (3 keys < 4 partitions)
    val cs = Analytics.cumSum(f, "v", "o", partitionBy = Seq("s"))
    val csW = f.withCol("o", F.sum(F.coalesce(f.df("v"), F.lit(0L))).over(
      wKeyed.rowsBetween(Window.unboundedPreceding, 0)))
    assert(cs.records() == csW.records())
    assertNoGlobalDataWindow(cs.df)
    // shift both directions — the lead form rides the MIRROR chunking,
    // and the null-key group must keep its cross-chunk carries (the
    // null-safe join; a plain equi-join zeroes exactly these rows)
    for (n <- Seq(2, -2)) {
      val sh = Analytics.shift(f, "v", n, "o", partitionBy = Seq("s"))
      val shW = f.withCol("o", F.lag(f.df("v"), n).over(wKeyed))
      assert(sh.records() == shW.records(), s"shift n=$n")
      assertNoGlobalDataWindow(sh.df)
    }
    // rollingN — per-key incomplete tails ⇒ null through the rebuilt path
    val rn = Rolling.rollingN(f, 3, "v", c => F.sum(c), "o", partitionBy = Seq("s"))
    val rnW = {
      val w = wKeyed.rowsBetween(0, 2)
      f.withCol("o", F.when(F.count(F.lit(1)).over(w) === 3, F.sum(f.df("v")).over(w)))
    }
    assert(rn.records() == rnW.records())
    assertNoGlobalDataWindow(rn.df)
    // the dispatcher really took the composed form (and tagged it)
    Dispatch.drain()
    Analytics.cumSum(f, "v", "o2", partitionBy = Seq("s"))
    assert(Dispatch.drain().contains(("cumSum", "keyedChunked")))
  }

  test("composed grouped cumsum with out == partition key falls back to the keyed window") {
    import org.apache.spark.sql.expressions.Window
    // ADVICE r20: the composed plan writes `out` BEFORE joinCarry, so an
    // out column shadowing a partition key would join running sums
    // against the tiny frame's original key values and silently drop
    // every cross-chunk carry. The dispatcher must route this shape to
    // the keyed window (which reads the pre-overwrite key via f.df).
    val f = groupedFixture
    Dispatch.drain()
    val cs = Analytics.cumSum(f, "v", "s", partitionBy = Seq("s"))
    assert(Dispatch.drain().contains(("cumSum", "keyedWindow")))
    val want = f.withCol("s", F.sum(F.coalesce(f.df("v"), F.lit(0L))).over(
      Window.partitionBy(f.df("s")).orderBy(f.orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, 0)))
    assert(cs.records() == want.records())
  }

  test("composed grouped cumsum on a SORTED frame (sort-key chunk axis × keys)") {
    import org.apache.spark.sql.expressions.Window
    val f = groupedFixture.sort(Sorter("v"), Sorter("i"))
    val cs = Analytics.cumSum(f, "v", "o", partitionBy = Seq("s"))
    val csW = f.withCol("o", F.sum(F.coalesce(f.df("v"), F.lit(0L))).over(
      Window.partitionBy(f.df("s")).orderBy(f.orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, 0)))
    assert(cs.records() == csW.records())
    assertNoGlobalDataWindow(cs.df)
  }
}

case class RowIV(i: Int, v: java.lang.Long)
case class RowTV(i: Int, ts: java.sql.Timestamp, v: java.lang.Double)
case class RowDV(i: Int, v: java.lang.Double)
case class RowKV(i: Int, k: java.lang.Double, v: java.lang.Long)
case class RowSV(i: Int, s: String, v: java.lang.Long)
