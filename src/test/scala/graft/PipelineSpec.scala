package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

import graft.core.{Estimates, PlanKey}
import graft.pipeline._

/** Ground-truth tests for the LSH/ANN operators the driver checks only
  * rows-only: crafted corpora where the right answer is known. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 0
    (3L, "completely different content about spark query engines at scale"),
    (4L, "totally unrelated words discussing benchmark numbers and storage"))
    .toDF("doc_id", "text")

  test("minhash LSH finds exact and near duplicates, skips unrelated") {
    val withBands = docs
      .select(F.col("doc_id"), Dedup.shingles(F.col("text")).as("sh"))
      .select(F.col("doc_id"), F.col("sh"),
        Dedup.bandKeysDirect(F.col("sh"), k = 32, bands = 8).as("bands"))
    val rows = Dedup.candidatePairs(withBands, "doc_id", "bands")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cand = rows.toSet
    // 0 and 1 share all eight bands: the pair is still emitted once
    assert(rows.length == cand.size, s"duplicate pairs in ${rows.toSeq}")
    assert(cand.contains((0L, 1L)), s"exact dup pair missing from $cand")
    assert(!cand.exists { case (a, b) => b == 3L || b == 4L || a == 3L || a == 4L },
      s"unrelated docs should not be candidates: $cand")
  }

  test("incremental dedup: batch pairs against the stored index only") {
    val index = Dedup.lshIndex(docs, "doc_id", "text").persist()
    val batch = Dedup.lshIndex(Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 0,1
      (101L, "fresh novel sentences that appear nowhere in the index corpus"))
      .toDF("doc_id", "text"), "doc_id", "text").persist()
    try {
      val pairs = Dedup.incrementalPairs(index, batch, 0.8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // the duplicate batch doc matches BOTH identical index docs at J=1
      assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 100L), (1L, 100L)),
        s"got ${pairs.toSeq}")
      assert(pairs.forall(_._3 == 1.0))
      // result never contains index-internal pairs (both ids < 100)
      assert(pairs.forall(_._2 >= 100L))
    } finally { index.unpersist(); batch.unpersist() }
  }

  test("bucketed LSH index store: same pairs, zero index-side exchange") {
    val index = Dedup.lshIndex(docs, "doc_id", "text")
    val batchDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 0,1
      (101L, "fresh novel sentences that appear nowhere in the index corpus"))
      .toDF("doc_id", "text")
    val batch = Dedup.lshIndex(batchDocs, "doc_id", "text").persist()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Dedup.writeLshIndexBucketed(index, "lsh_ix_spec", buckets = 8)
      val stored = Dedup.incrementalPairsStored(spark, "lsh_ix_spec", batch, 0.8)
      // semantics: identical pair set to the unbucketed incremental path
      val expect = Dedup.incrementalPairs(index, batch, 0.8).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(stored.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
      // plan: with broadcast off, every index-side stage (bucket profile,
      // candidate join, payload verify) must ride the buckets — exactly
      // ONE batch-side exchange per join key, none for the index
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Dedup.incrementalPairsStored(spark, "lsh_ix_spec", batch, 0.8)
        .queryExecution.executedPlan.toString
      def n(pat: String) = pat.r.findAllIn(plan).size
      assert(n("Exchange hashpartitioning\\(band") == 1,
        s"expected exactly 1 band-key exchange (the batch side):\n$plan")
      // single-key id_a exchange = the candidate side of the verify
      // join; the (id_a, id_b) pair-distinct exchange is batch-bound
      // and expected, so it is excluded by the trailing numPartitions
      assert(n("Exchange hashpartitioning\\(id_a#\\d+L?, \\d+\\)") == 1,
        s"expected exactly 1 id_a-only exchange (the candidate side):\n$plan")
      // and the index scans themselves ride their buckets
      assert(n("Bucketed: true") >= 3, s"index scans must be bucketed:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      batch.unpersist()
    }
  }

  test("cache hygiene: registry releases every operator persist (r10 verdict 4)") {
    import graft.core.CacheRegistry
    // clean slate so cross-test caches can't mask or fake a leak
    CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    // the simhash operators share one exchange and persist nothing
    Dedup.simhashClusters(docs, "doc_id", "text").count()
    assert(CacheRegistry.trackedTags.isEmpty, CacheRegistry.trackedTags)
    val cp = Dedup.containmentPairs(docs, "doc_id", "text", k = 2, tau = 0.1)
    val keys = docs.select(F.col("doc_id"), Dedup.exactKey(F.col("text")).as("content_key"))
    val bn = Dedup.bloomNewDocs(keys, keys.select("content_key"),
      Dedup.bloomSketch(keys, "content_key", expectedItems = 100L), "content_key")
    cp.count(); bn.count()
    // both operators registered their internal persists...
    val tags = CacheRegistry.trackedTags
    assert(tags.exists(_.startsWith("containmentPairs")), tags)
    assert(tags.exists(_.startsWith("bloomNewDocs")), tags)
    // ...and one release empties the session cache completely: no
    // block-manager growth is left for the next query in the session
    CacheRegistry.releaseAll()
    assert(CacheRegistry.trackedTags.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty,
      "dataset cache must be empty after CacheRegistry.releaseAll()")
  }

  test("simhash word operators: a warm repeat over a parquet corpus compiles and persists nothing") {
    import graft.core.CacheRegistry
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = java.nio.file.Files.createTempDirectory("graft-simhash").resolve("docs").toString
    // doc 5 is one word (Hamming 1) away from doc 0: the edge set is not empty
    val corpus = docs.unionByName(
      Seq((5L, "the quick brown fox jumps over the lazy dog again and again quite"))
        .toDF("doc_id", "text"))
    corpus.unionByName(corpus.select((F.col("doc_id") + 10L).as("doc_id"), F.col("text")))
      .write.parquet(dir)
    def sorted(df: DataFrame) = df.collect().map(_.mkString("|")).toSeq.sorted
    // one warm pass as a bench pass runs it: read, build, collect, release
    def pass() = {
      val corpus = graft.io.Sources.read(spark, "parquet", dir)
      val out = (sorted(Dedup.simhashClusters(corpus, "doc_id", "text")),
        sorted(Dedup.simhashWordEdges(corpus, "doc_id", "text")))
      val tags = CacheRegistry.trackedTags
      CacheRegistry.releaseAll()
      (out, tags)
    }
    CacheRegistry.releaseAll(); spark.catalog.clearCache()
    val (warm, _) = pass()
    assert(warm._1.size == 12 && warm._2.contains("0|5|1"), warm)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (again, tags) = pass()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0,
      "a warm repeat must find every generated class in the codegen cache")
    assert(tags.isEmpty, tags)
    assert(again == warm)
    // the scan and the simhash kernel run once: the second reader of the
    // simhash exchange reuses it
    val clusters = Dedup.simhashClusters(graft.io.Sources.read(spark, "parquet", dir), "doc_id", "text")
    clusters.collect()
    assert(clusters.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      clusters.queryExecution.executedPlan)
  }

  test("CacheRegistry re-track guard: plan-equal same-tag tracks dedupe (r15 item 6)") {
    import graft.core.CacheRegistry
    import spark.implicits._
    CacheRegistry.releaseAll(); spark.catalog.clearCache()
    try {
      def mk() = Seq((1L, "a"), (2L, "b")).toDF("id", "s").filter(F.col("id") > 0)
      val p1 = CacheRegistry.track("guard.test", mk())
      val p2 = CacheRegistry.track("guard.test", mk()) // separately built, plan-equal
      assert(p2 eq p1, "plan-equal re-track must return the existing frame")
      assert(CacheRegistry.trackedTags.count(_ == "guard.test") == 1)
      // a genuinely different plan under the same tag is a NEW cache
      val p3 = CacheRegistry.track("guard.test",
        Seq((9L, "z")).toDF("id", "s").filter(F.col("id") > 0))
      assert(!(p3 eq p1))
      assert(CacheRegistry.trackedTags.count(_ == "guard.test") == 2)
    } finally { CacheRegistry.releaseAll(); spark.catalog.clearCache() }
  }

  test("containment over budget: exactness in waves — same pairs at ANY budget") {
    // adaptiveContainmentCap still serves the INCREMENTAL nightly path
    // (stored capped sizes must share one coherent cap with the fold)
    val gdf = (Seq.fill(10)(2L) ++ Seq.fill(4)(5L) ++ Seq(50L)).zipWithIndex
      .map { case (df, i) => (i.toLong, df) }.toDF("g", "df")
    // mass: df=2 x10 -> 20; df=5 x4 -> 80 (cum 100); df=50 -> 2450
    assert(Dedup.adaptiveContainmentCap(gdf, "df", 1000, 100L)._1 == 5)
    assert(Dedup.adaptiveContainmentCap(gdf, "df", 1000, 10L)._1 == 1)
    assert(Dedup.adaptiveContainmentCap(gdf, "df", 1000, 10000L)._1 == 1000)
    // end-to-end: a clique corpus whose pair mass is 50x the budget
    // returns the EXACT pair set in sequential waves (r16 — the r11
    // df-cap degradation here returned an exact-looking EMPTY set, the
    // failure mode the ~always-over-budget 100 TB regime would live in)
    val clique = (0L until 6L).map(i => (i, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id_small"), r.getAs[Long]("id_big"),
        r.getAs[Long]("n_small"), r.getAs[Long]("inter"),
        r.getAs[Double]("containment"))
    spark.conf.set("graft.containment.maxPairs", "3")
    val waved = try {
      Dedup.containmentPairs(clique, "doc_id", "text").collect().map(key).sorted
    } finally spark.conf.unset("graft.containment.maxPairs")
    val full = Dedup.containmentPairs(clique, "doc_id", "text").collect().map(key).sorted
    assert(full.length == 15 && full.forall(_._5 == 1.0))
    assert(waved.toSeq == full.toSeq,
      "over-budget waves must reproduce the single-pass pair set exactly")
    // the compressed parquet spill home (graft.containment.waveDir —
    // the at-scale config) produces the same pair set
    spark.conf.set("graft.containment.maxPairs", "3")
    spark.conf.set("graft.containment.waveDir", "/tmp/graft-test-waves")
    val spilled = try {
      Dedup.containmentPairs(clique, "doc_id", "text").collect().map(key).sorted
    } finally {
      spark.conf.unset("graft.containment.maxPairs")
      spark.conf.unset("graft.containment.waveDir")
    }
    assert(spilled.toSeq == full.toSeq, "parquet-spill waves must match too")
    graft.core.CacheRegistry.releaseAll()
  }

  test("graft.* knobs: unset reads the default, a malformed value fails naming key and value") {
    val key = "graft.containment.maxPairs"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      assert(graft.core.Knobs.long(spark, key, 500000000L) == 500000000L)
      // a typo used to run silently with the default budget
      spark.conf.set(key, "5e8")
      val e = intercept[IllegalArgumentException] {
        Dedup.containmentPairs(docs, "doc_id", "text", k = 2)
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains("5e8"), e.getMessage)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      graft.core.CacheRegistry.releaseAll()
    }
  }

  test("containment two-level wave grid (past the side-A cap) is bit-identical (r16 verdict 7)") {
    // Pre-r17, mass > 1024 x budget CAPPED the wave count and logged
    // that per-wave rows exceed the budget (unbounded per-wave disk).
    // Now a side-B hash split kicks in: force it by dropping the
    // side-A cap to 4 with a budget that wants ~10+ waves, and compare
    // against the single-pass answer AND the one-level waved answer.
    val clique = (0L until 8L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id_small"), r.getAs[Long]("id_big"),
        r.getAs[Long]("n_small"), r.getAs[Long]("inter"),
        r.getAs[Double]("containment"))
    def run(): Seq[(Long, Long, Long, Long, Double)] =
      Dedup.containmentPairs(clique, "doc_id", "text").collect().map(key).toSeq.sorted
    val full = run()
    assert(full.length == 28 && full.forall(_._5 == 1.0))
    // mass = 6 grams x 8x7 = 336; budget 24 -> 14 waves raw
    spark.conf.set("graft.containment.maxPairs", "24")
    val oneLevel = try run() finally spark.conf.unset("graft.containment.maxPairs")
    spark.conf.set("graft.containment.maxPairs", "24")
    spark.conf.set("graft.containment.maxSideAWaves", "4") // grid: 4 x 4
    val grid = try run() finally {
      spark.conf.unset("graft.containment.maxPairs")
      spark.conf.unset("graft.containment.maxSideAWaves")
    }
    assert(oneLevel == full, "one-level waves must match the single pass")
    assert(grid == full, "the two-level grid must match the single pass")
    graft.core.CacheRegistry.releaseAll()
  }

  test("simhashWordEdges: cliques collapse to representatives, output is duplication-invariant") {
    // the re-shaped q42 contract: identical docs are one WORD, so a
    // clique contributes zero edges — the edge set must not grow when
    // the corpus is duplicated (the doc-pair form's e=1.41 blowup)
    def edges(d: org.apache.spark.sql.DataFrame) = {
      val rows = Dedup.simhashWordEdges(d, "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(rows.length == rows.toSet.size, s"duplicate edges in ${rows.toSeq}")
      rows.toSet
    }
    val e1 = edges(docs)
    // brute-force expectation over word representatives: every rep pair
    // at Hamming ≤ 3 (banding is recall-1 there, so sets must be equal)
    val words = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._2).map { case (w, xs) => (w, xs.map(_._1).min) }.toSeq
    val expected = (for {
      (wa, ra) <- words; (wb, rb) <- words if ra < rb
      h = java.lang.Long.bitCount(wa ^ wb) if h <= 3
    } yield (ra, rb, h)).toSet
    assert(e1 == expected, s"got $e1, expected $expected")
    // 0 and 1 are identical (one word, rep 0): the clique member never
    // appears as an edge endpoint
    assert(!e1.exists(e => e._1 == 1L || e._2 == 1L),
      s"clique member 1 must collapse into rep 0: $e1")
    // duplicate every doc under shifted ids: reps stay the min ids, so
    // the edge set is IDENTICAL — bounded by distinct words, not corpus
    val duped = docs.unionByName(
      docs.select((F.col("doc_id") + 100).as("doc_id"), F.col("text")))
    assert(edges(duped) == e1, "edge set must be duplication-invariant")
  }

  test("simhash word edges: each pair once, from its lowest shared band; the cap drops an over-full bucket") {
    // crafted (simhash, rep) words; bands are the 16-bit chunks 0-3
    def word(bits: Int*): Long = bits.foldLeft(0L)((w, b) => w | (1L << b))
    val words = Seq(
      10L -> word(),                 // A
      20L -> word(48, 49),           // B: shares bands 0-2 with A, Hamming 2
      30L -> word(0, 16),            // C: shares bands 2-3 with A, Hamming 2
      40L -> word(0, 16, 32),        // D: shares band 3 with A at Hamming 3 (= max),
                                     //    bands 0, 1, 3 with C at Hamming 1
      50L -> word(48, 49, 50, 51))   // E: Hamming 4 from A (no edge), 2 from B
    def edges(ws: Seq[(Long, Long)], maxBucket: Int) = {
      val df = ws.map { case (r, w) => (w, r) }.toDF("simhash", "rep")
      val rows = Dedup.wordEdgesFrom(df, maxHamming = 3, maxBucket = maxBucket).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(rows.length == rows.toSet.size, s"duplicate edges in ${rows.toSeq}")
      rows.toSet
    }
    val expected = (for {
      (ra, wa) <- words; (rb, wb) <- words if ra < rb
      h = java.lang.Long.bitCount(wa ^ wb) if h <= 3
    } yield (ra, rb, h)).toSet
    assert(expected == Set((10L, 20L, 2), (10L, 30L, 2), (10L, 40L, 3), (30L, 40L, 1), (20L, 50L, 2)))
    assert(edges(words, 4096) == expected)
    // four words share only their band-3 bucket, each of F2-F4 one bit
    // per lower band away from F1 (Hamming 3); no other bucket is shared
    val f1 = 0x7777L << 48 | 0xABCDL | 0xABCDL << 16 | 0xABCDL << 32
    val fs = Seq(100L -> f1) ++ (0 until 3).map(b => (101L + b) -> (f1 ^ word(b, 16 + b, 32 + b)))
    val f1Pairs = Set((100L, 101L, 3), (100L, 102L, 3), (100L, 103L, 3))
    assert(edges(fs, 4) == f1Pairs)
    assert(edges(fs, 3).isEmpty, "a bucket above maxBucket must emit no pair")
    // G1 and G2 (Hamming 2) share bands 0 and 2; G3 shares only band 0.
    // The pair is judged in its lowest shared band: with that bucket
    // over the cap it is dropped, although its band-2 bucket is within it
    def g(b1: Long, b2: Long, b3: Long): Long = 0xAAAAL | b1 << 16 | b2 << 32 | b3 << 48
    val gs = Seq(200L -> g(0x0001L, 0x1234L, 0x0001L), 201L -> g(0x0003L, 0x1234L, 0x0003L),
      202L -> g(0xF000L, 0x4321L, 0xF000L))
    assert(edges(gs, 3) == Set((200L, 201L, 2)))
    assert(edges(gs, 2).isEmpty, "an over-full lowest shared bucket drops the pair")
  }

  test("bloomNewDocs: duplicate and null index keys give a plain anti-join's answer") {
    val index = Seq("k0", "k0", "k1", null, null, "k3", "k3").toDF("content_key")
    val batch = Seq((1L, "k0"), (2L, "k1"), (3L, "k2"), (4L, null), (5L, "k2"), (6L, "k3"))
      .toDF("doc_id", "content_key")
    val want = batch.join(index, Seq("content_key"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want == Set(3L, 4L, 5L))
    // exact sketch, then a lossy one that sends every key through the join
    for (sketch <- Seq(Dedup.bloomSketch(index, "content_key", expectedItems = 100L),
                       Dedup.bloomSketch(index, "content_key", expectedItems = 2L, fpp = 0.5))) {
      val got = Dedup.bloomNewDocs(batch, index, sketch, "content_key").collect()
      assert(got.map(_.getLong(0)).toSeq.sorted == want.toSeq.sorted, got.toSeq)
    }
    graft.core.CacheRegistry.releaseAll()
  }

  test("simhashClusters drops null-text docs instead of fusing them into one cluster") {
    val withNulls = docs.unionByName(Seq(
      (100L, null.asInstanceOf[String]), (101L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val out = Dedup.simhashClusters(withNulls, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // null-text docs are absent (matching the q79 oracle), NOT clustered together
    assert(out.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L), s"got ${out.toSeq}")
    val m = out.toMap
    assert(m(0L) == m(1L)) // exact dups still share a cluster
  }

  test("resolveKeepers keeps the highest-priority member, ties to lowest id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L)).toDF("id", "cluster")
    val prio = Seq((1L, 10), (2L, 30), (3L, 30), (7L, 5)).toDF("id", "priority")
    val out = Dedup.resolveKeepers(clusters, prio).collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    // 2 and 3 tie on priority 30 -> lowest id (2) wins; singleton 7 keeps
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 7L -> true))
  }

  test("resolveKeepers: extreme longs, string ids, missing priority rows") {
    // the former max_by(struct(priority, -id)) tie-break negated the id;
    // -Long.MinValue overflows to itself, silently reordering ties
    val ext = Seq((Long.MinValue, 1L), (Long.MaxValue, 1L), (0L, 1L))
      .toDF("id", "cluster")
    val extPrio = Seq((Long.MinValue, 5), (Long.MaxValue, 5), (0L, 5))
      .toDF("id", "priority")
    val extOut = Dedup.resolveKeepers(ext, extPrio).collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(extOut == Map(Long.MinValue -> true, Long.MaxValue -> false, 0L -> false))
    // string ids must work (connectedComponents supports them)
    val s = Seq(("b", "a"), ("a", "a")).toDF("id", "cluster")
    val sPrio = Seq(("b", 1), ("a", 1)).toDF("id", "priority")
    val sOut = Dedup.resolveKeepers(s, sPrio).collect()
      .map(r => (r.getString(0), r.getBoolean(2))).toMap
    assert(sOut == Map("a" -> true, "b" -> false))
    // a doc with no priority row is retained (nulls-last), not dropped;
    // it still wins when its whole cluster lacks priorities
    val m = Seq((1L, 1L), (2L, 1L), (9L, 9L)).toDF("id", "cluster")
    val mPrio = Seq((2L, 1)).toDF("id", "priority")
    val mOut = Dedup.resolveKeepers(m, mPrio).collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(mOut == Map(1L -> false, 2L -> true, 9L -> true))
  }

  test("cosinePairsViaCells plan construction launches zero Spark jobs when hinted") {
    // query CONSTRUCTION (explain, the cartesian plan guard) must be
    // action-free: lazy Lloyd-round caches + rowCount hint
    val vecs = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => (i % 7 + d).toFloat))).toDF("vec_id", "embedding")
    val (df, jobs) = TestSpark.built {
      val df = Similarity.cosinePairsComplete(vecs, 0.5, rowCount = 64L)
      df.queryExecution.executedPlan.toString // force planning, not execution
      df
    }
    assert(jobs == 0, s"plan construction ran $jobs Spark jobs")
    assert(df.count() > 0) // and the hinted plan still executes
  }

  test("containmentPairs width estimate is memoized: rebuild launches no new job") {
    // prime the memo — the FIRST build pays one estimate job by design
    // (documented in the scaladoc); every rebuild must be job-free
    Dedup.containmentPairs(docs, "doc_id", "text", k = 2)
    // same (plan, file-state)
    val (_, jobs) = TestSpark.built(Dedup.containmentPairs(docs, "doc_id", "text", k = 2))
    assert(jobs == 0, s"rebuild ran $jobs estimate job(s); the memo must serve it")
  }

  test("exact-verify branch selection is bytes-adaptive, both branches agree") {
    val vecs = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => (i % 7 + d).toFloat))).toDF("vec_id", "embedding")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // rule out Spark choosing broadcast on its own size stats — only
      // the operator's explicit hint can put a BroadcastHashJoin here
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // default budget: 64 tiny vectors broadcast (and the certain zone
      // decides with no dimension-probe job — the zero-jobs test above
      // covers that)
      // assert on the id_a/id_b VERIFY joins specifically — the
      // centroid-assignment stage legitimately broadcasts its (tiny)
      // centroid frame in both branches
      val bc = Similarity.cosinePairsComplete(vecs, 0.5, rowCount = 64L)
      val bcPlan = bc.queryExecution.executedPlan.toString
      assert(bcPlan.contains("BroadcastHashJoin [id_a#") &&
          bcPlan.contains("BroadcastHashJoin [id_b#"),
        s"within budget the verify payloads must broadcast:\n$bcPlan")
      // starve the budget: neither id-keyed payload join may broadcast
      spark.conf.set("graft.broadcastVecMaxBytes", "100")
      val sh = Similarity.cosinePairsComplete(vecs, 0.5, rowCount = 64L)
      val shPlan = sh.queryExecution.executedPlan.toString
      assert(!shPlan.contains("BroadcastHashJoin [id_a#") &&
          !shPlan.contains("BroadcastHashJoin [id_b#"),
        s"over budget the verify payloads must not broadcast:\n$shPlan")
      // the branch is performance-only: identical pair sets
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(bc) == pairs(sh) && pairs(bc).nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.unset("graft.broadcastVecMaxBytes")
    }
  }

  test("native shingle/minhash expressions match the UDF kernels") {
    val got = docs.select(
      Dedup.shingles(F.col("text")).as("sh_n"),
      Dedup.shinglesUdf(F.col("text")).as("sh_u"))
    got.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
    val bands = docs
      .select(Dedup.shingles(F.col("text")).as("sh"))
      .select(
        Dedup.bandKeysDirect(F.col("sh")).as("b_n"),
        Dedup.bandKeysDirectUdf(F.col("sh")).as("b_u"))
    bands.collect().foreach { r =>
      assert(r.getSeq[AnyRef](0) == r.getSeq[AnyRef](1), r.toString)
    }
    // edge cases: empty text and fewer tokens than w
    val edge = Seq("", "two words").toDF("text")
      .select(Dedup.shingles(F.col("text")).as("n"), Dedup.shinglesUdf(F.col("text")).as("u"))
    edge.collect().foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
    // native jaccard == UDF jaccard on every doc pair
    val sh = docs.select(F.col("doc_id"), Dedup.shingles(F.col("text")).as("sh"))
    val prs = sh.select(F.col("doc_id").as("ia"), F.col("sh").as("sa"))
      .crossJoin(sh.select(F.col("doc_id").as("ib"), F.col("sh").as("sb")))
      .select(Dedup.jaccard(F.col("sa"), F.col("sb")).as("n"),
        Dedup.jaccardUdf(F.col("sa"), F.col("sb")).as("u"))
    prs.collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }

  test("jaccard: identical = 1.0, disjoint = 0.0") {
    val pairs = docs.select(Dedup.shingles(F.col("text")).as("sh"), F.col("doc_id"))
    val a = pairs.filter($"doc_id" === 0).select($"sh".as("sa"))
    val b = pairs.filter($"doc_id" === 1).select($"sh".as("sb"))
    val c = pairs.filter($"doc_id" === 3).select($"sh".as("sc"))
    val j1 = a.crossJoin(b).select(Dedup.jaccard($"sa", $"sb")).head().getDouble(0)
    val j2 = a.crossJoin(c).select(Dedup.jaccard($"sa", $"sc")).head().getDouble(0)
    assert(j1 == 1.0 && j2 == 0.0)
  }

  test("simhash: identical docs => hamming 0; near dups close; unrelated far") {
    val sim = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sim(a) ^ sim(b))
    assert(ham(0, 1) == 0)
    assert(ham(0, 2) < ham(0, 3))
  }

  test("brute-force knn: a duplicated vector is its copy's top neighbor") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.6f, 0.8f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), 2)
      .orderBy("rank").collect()
    assert(got(0).getAs[Long]("neighbor_id") == 1L) // cosine 1.0
    assert(got(1).getAs[Long]("neighbor_id") == 3L) // cosine 0.6
  }

  test("native cosine_sim expression matches the UDF kernel bit-for-bit") {
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (2L, Array(0.0f, 0.0f), Array(0.0f, 0.0f)), // zero denominator => 0.0
      (3L, Array(0.5f, -1.5f, 2.5f), Array(-0.25f, 1.25f, 0.75f)))
      .toDF("id", "a", "b")
    val got = vecs.select(
      Similarity.cosine($"a", $"b").as("udf"),
      Similarity.cosineNative(spark)($"a", $"b").as("native")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }

  test("cosinePairs emits each above-threshold pair once, idA < idB") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // dup of 0: cos = 1
      (2L, Array(0.6f, 0.8f, 0.0f)),   // cos(0,2) = 0.6
      (3L, Array(0.0f, 0.0f, 1.0f)))   // orthogonal to all
      .toDF("vec_id", "embedding")
    val got = Similarity.cosinePairs(vecs, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    // the candidate-fed scale path must recover the all-pairs anchor
    val complete = Similarity.cosinePairsComplete(vecs, 0.5, nlist = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(complete == got)
  }

  test("IVF ANN recovers brute-force neighbors on separated clusters") {
    // two tight clusters around orthogonal axes: Lloyd rounds must pull
    // the cells apart, and probing the nearest cells must recover the
    // same top-2 as brute force for every query
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f) else Array(0.0f, 1.0f)
      (i.toLong, Array(base(0) + 0.01f * (i / 2), base(1) + 0.005f * (i / 2)))
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" < 2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val brute = pairs(Similarity.bruteForceTopK(vecs, qs, 2))
    val ivf = pairs(Similarity.ivfTopK(vecs, qs, 2, nlist = 4, nprobe = 2, iters = 2))
    assert(ivf == brute, s"ivf $ivf != brute $brute")
  }

  test("fused Lloyd re-average is bit-identical to the two-step form (r22)") {
    // magnitude mixture (1e8 vs 1e-8 components) makes the per-dim sum
    // ORDER-sensitive in doubles: if either form summed unsorted, the
    // last-ULP drift would show here. Both sort per (cell, dim) before
    // the left fold, so the centroids must match bit-for-bit.
    val vecs = (0 until 37).map { i =>
      val big = if (i % 2 == 0) 1.0e8f else -1.0e8f
      (i.toLong, Array(
        big + i.toFloat,
        1.0e-8f * (i % 7) + (if (i % 3 == 0) 0.5f else 0.0f),
        (i % 11).toFloat / 7.0f))
    }.toDF("vec_id", "embedding")
    val cos = Similarity.cosineNative(spark) _
    val c = vecs.select($"vec_id".as("cid0"), $"embedding".as("cv"))
    def bits(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[Int]] =
      df.collect().map { r =>
        r.getInt(0) -> r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits)
      }.toMap
    val fused = bits(Similarity.trainCentroids(c, 5, 2, cos))
    val two = bits(trainCentroidsTwoStep(c, 5, 2, cos))
    assert(fused == two, "fused re-average drifted from the two-step anchor")
    spark.catalog.clearCache() // the two-step reference persists its rounds
  }

  /** The two-shuffle Lloyd re-average (posexplode → groupBy(cell, dim) →
    * groupBy(cell)): the bit-exactness reference for
    * `Similarity.trainCentroids`' fused round. */
  private def trainCentroidsTwoStep(c: DataFrame, nlist: Int, iters: Int,
                                    cos: (Column, Column) => Column): DataFrame = {
    var centroids = c.orderBy("cid0").limit(nlist)
      .select(F.row_number().over(Window.orderBy("cid0")).as("cell"), F.col("cv").as("centroid"))
    for (_ <- 0 until iters) {
      centroids = Similarity.nearestCellsCarry(c, centroids, "cid0", "cv", 1, cos)
        .select(F.col("cell"), F.posexplode(F.col("cv")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(F.aggregate(F.array_sort(F.collect_list(F.col("x").cast("double"))),
               F.lit(0.0), (acc, y) => acc + y).as("__s"),
             F.count(F.lit(1)).as("__n"))
        .select(F.col("cell"), F.col("dim"), (F.col("__s") / F.col("__n")).as("m"))
        .groupBy("cell").agg(
          F.transform(F.array_sort(F.collect_list(F.struct(F.col("dim"), F.col("m")))),
            s => s.getField("m").cast("float")).as("centroid"))
        .persist()
    }
    centroids
  }

  test("connectedComponents resolves transitive chains and isolates") {
    // chain 1-2-3-4 (diameter 3, forces multiple propagation rounds),
    // separate pair 10-11, pair 20-21 linked to the chain via 4-20
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (4L, 20L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      20L -> 1L, 21L -> 1L, 10L -> 10L, 11L -> 10L), got.toString)
    // building over a pair frame with a shuffle upstream starts no Spark
    // job, and building and forcing it leaves the session conf as it was
    val conf = spark.conf.getAll
    val (shuffled, jobs) =
      TestSpark.built(Dedup.connectedComponents(pairs.groupBy("id_a", "id_b").count()))
    assert(jobs == 0, s"building connectedComponents ran $jobs jobs")
    assert(shuffled.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == got)
    assert(spark.conf.getAll == conf)
  }

  test("connectedComponents: local union-find and iterative paths agree") {
    // adversarial long chain (diameter 40) plus separate components —
    // spread over 7 partitions, the per-partition forests only join up
    // in the merge task; one partition solves it in the first pass
    val chain = (0L until 40L).map(i => (i, i + 1))
    val extra = Seq((100L, 101L), (101L, 102L), (200L, 201L))
    val pairs = (chain ++ extra).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs.repartition(1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val iter = Dedup.connectedComponents(pairs.repartition(7))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == iter, s"paths disagree: local=$local iter=$iter")
    assert((0L to 40L).forall(local(_) == 0L))
    assert(Seq(100L, 101L, 102L).forall(local(_) == 100L))
    assert(local(201L) == 200L)
    // both paths must emit the caller's id type (int ids stay int)
    val intPairs = Seq((1, 2), (2, 3)).toDF("id_a", "id_b")
    val sLocal = Dedup.connectedComponents(intPairs.repartition(1)).schema.map(_.dataType)
    val sIter = Dedup.connectedComponents(intPairs.repartition(7))
      .schema.map(_.dataType)
    assert(sLocal == sIter, s"schema drift across solve paths: $sLocal vs $sIter")
    // string ids (e.g. md5 content keys) are never cast to long
    val strPairs = Seq(("docA", "docB"), ("docB", "docC"), ("x", "y"))
      .toDF("id_a", "id_b")
    val strGot = Dedup.connectedComponents(strPairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(strGot == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
      "x" -> "x", "y" -> "x"), strGot.toString)
    // labels follow Spark's min, UTF-8 byte order: U+FFFD (EF ..) sorts
    // before an emoji (F0 ..), though String.compareTo (UTF-16) says after
    val (rep, emoji) = ("\uFFFD", "\uD83D\uDE00")
    assert(emoji.compareTo(rep) < 0)
    val uniPairs = Seq((emoji, rep)).toDF("id_a", "id_b")
    assert(uniPairs.select(F.least($"id_a", $"id_b")).head().getString(0) == rep)
    val uniGot = Dedup.connectedComponents(uniPairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(uniGot == Map(rep -> rep, emoji -> rep), uniGot.toString)
    // self-pairs keep isolated nodes visible
    val selfPairs = Seq((5L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val selfGot = Dedup.connectedComponents(selfPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(selfGot == Map(5L -> 5L, 7L -> 7L, 8L -> 7L), selfGot.toString)
  }

  test("langid picks the language with most marker hits") {
    val t = Seq(
      ("en", "the cat and the dog of this house is that one with hats"),
      ("es", "el perro de la casa que los gatos una vez por aqui como"),
      ("und", "zzz qqq www")).toDF("expect", "text")
    val got = t.select($"expect", TextOps.langId($"text").as("got")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("token counts: empty text = 0; punctuation feeds the BPE-ish count") {
    val t = Seq(("", 0), ("hello world", 2), ("  spaced   out  ", 2))
      .toDF("text", "want")
    t.select(TextOps.tokenCount($"text").as("got"), $"want").collect()
      .foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    val bpe = Seq("a,b!").toDF("text")
      .select(TextOps.tokenCountBpeIsh($"text")).head().getInt(0)
    assert(bpe == 4) // a , b !
  }

  test("quality: real prose scores above junk") {
    val t = Seq(
      "The quick brown fox jumps over the lazy dog and runs to the old barn with a friend.",
      "@@@@ #### !!!! %%%% ^^^^ &&&&")
      .toDF("text")
    val scores = t.select(TextOps.qualityScore($"text")).collect().map(_.getDouble(0))
    assert(scores(0) > scores(1))
  }

  test("multimodal stub decode is deterministic and schema-typed") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val media = Multimodal.documentsAsMedia(docs)
    val a = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    val b = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
    assert(a.forall(f => f.n_bytes > 0 && f.width >= 64 && f.height >= 64))
    assert(a(0).checksum == a(1).checksum) // identical payloads
  }

  test("decode kernel seam: a custom codec swaps in without plumbing changes") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val media = Multimodal.documentsAsMedia(docs)
    // a "codec" that only reads container headers: batch sizes prove the
    // kernel really receives whole batches (a real codec amortizes init)
    object HeaderKernel extends Multimodal.DecodeKernel {
      def decodeBatch(rows: Seq[Multimodal.MediaRow]): Seq[Multimodal.MediaFeatures] = {
        val batchTag = rows.size.toLong // same for every row of the batch
        rows.map(r => Multimodal.MediaFeatures(
          r.doc_id, r.payload.length, "raw", 1, 1, batchTag))
      }
    }
    val out = Multimodal.extractFeatures(media, batchSize = 7, kernel = HeaderKernel)
      .collect()
    assert(out.forall(_.format == "raw"))
    // every batch the kernel saw had at most batchSize rows
    assert(out.forall(_.checksum <= 7))
    assert(out.map(_.doc_id).distinct.length == out.length)
  }

  test("bloomNewDocs: exact new-docs under the sketch gate; a lossy sketch changes nothing") {
    val index = (0 until 10).map(i => s"k$i").toDF("content_key")
    val batch = (
      (0 until 5).map(i => (i.toLong, s"k$i")) ++        // exact dups of the index
      (0 until 5).map(i => (100L + i, s"n$i")) :+        // genuinely new
      ((999L, null: String))                             // null key: never claimed, passes as new
    ).toDF("doc_id", "content_key")
    val sketch = Dedup.bloomSketch(index, "content_key", expectedItems = 1000L)
    val out = Dedup.bloomNewDocs(batch, index, sketch, "content_key")
      .collect().map(_.getLong(0)).toSet
    assert(out == ((100L until 105L).toSet + 999L))
    // the sketch is a performance layer, not a correctness layer: a
    // deliberately undersized, high-fpp sketch (every key bloom-positive)
    // still yields the exact anti-join answer via the refine join
    val lossy = Dedup.bloomSketch(index, "content_key", expectedItems = 2L, fpp = 0.5)
    val out2 = Dedup.bloomNewDocs(batch, index, lossy, "content_key")
      .collect().map(_.getLong(0)).toSet
    assert(out2 == out)
  }

  test("bloomSketch is memoized per index file version; a failed build propagates") {
    import java.nio.file.{Files, StandardCopyOption}
    val f = Files.createTempDirectory("graft-bloom").resolve("keys.csv")
    def write(p: java.nio.file.Path, prefix: String) =
      Files.writeString(p, ("content_key" +: (0 until 10).map(i => s"$prefix$i")).mkString("\n") + "\n")
    def index() = graft.io.Sources.read(spark, "csv", f.toString, Map("header" -> "true"))
    write(f, "k")
    val ix = index()
    val (first, cold) = TestSpark.built(Dedup.bloomSketch(ix, "content_key", expectedItems = 1000L))
    val (second, warm) = TestSpark.built(Dedup.bloomSketch(index(), "content_key", expectedItems = 1000L))
    assert(cold > 0 && warm == 0, s"cold build $cold jobs, repeat $warm")
    assert(second.sameElements(first) && !(second eq first))
    // each call gets its own copy: writing into one leaves the memo intact
    second(second.length - 1) = (~second(second.length - 1)).toByte
    assert(Dedup.bloomSketch(ix, "content_key", expectedItems = 1000L).sameElements(first))
    // other sizing parameters are another sketch
    assert(!Dedup.bloomSketch(ix, "content_key", expectedItems = 2L, fpp = 0.5).sameElements(first))
    // a rename-replaced index file is another index
    val tmp = f.resolveSibling("keys.tmp")
    write(tmp, "n")
    Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING)
    val replaced = index()
    val (third, rebuilt) = TestSpark.built(Dedup.bloomSketch(replaced, "content_key", expectedItems = 1000L))
    assert(rebuilt > 0 && !third.sameElements(first))
    val bad = spark.range(1).toDF("k").filter("assert_true(k < 0) IS NULL")
      .select(F.col("k").cast("string").as("content_key"))
    intercept[Exception](Dedup.bloomSketch(bad, "content_key", expectedItems = 10L))
  }

  test("ImageIoDecodeKernel decodes real PNG/JPEG headers through the batch seam") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    // real images, encoded with the JDK itself: a 5x3 PNG and a 4x7 JPEG
    def encode(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val media = Seq(
      (1L, encode(5, 3, "png")),
      (2L, encode(4, 7, "jpg")),
      (3L, "definitely not an image".getBytes("UTF-8"))) // must degrade, not throw
      .toDF("doc_id", "payload")
    val out = Multimodal
      .extractFeatures(media, batchSize = 2, kernel = Multimodal.ImageIoDecodeKernel)
      .collect().map(f => f.doc_id -> f).toMap
    assert(out(1L).format == "png" && out(1L).width == 5 && out(1L).height == 3)
    assert(out(2L).format.startsWith("jp") && out(2L).width == 4 && out(2L).height == 7)
    assert(out(3L).format == "unknown" && out(3L).width == 0 && out(3L).height == 0)
    // checksum is kernel-independent: exact-dup grouping on it behaves
    // the same whichever kernel produced the features
    val stub = Multimodal
      .extractFeatures(media, kernel = Multimodal.StubDecodeKernel)
      .collect().map(f => f.doc_id -> f.checksum).toMap
    assert(out.forall { case (id, f) => f.checksum == stub(id) })
  }

  test("ImageIoDecodeKernel never touches the ImageIO file cache (ADVICE r7)") {
    // The old path went through ImageIO.createImageInputStream, which
    // consults the default use-file-cache setting and creates/deletes a
    // TEMP FILE PER ROW on executors. Point the cache at a directory
    // that no longer exists: the file-cache path would fail to create
    // its temp file; the memory-backed stream never looks.
    def encode(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val png = encode(9, 4) // encode BEFORE breaking the cache: write() uses it too
    val oldUse = javax.imageio.ImageIO.getUseCache
    val oldDir = javax.imageio.ImageIO.getCacheDirectory
    val dir = java.nio.file.Files.createTempDirectory("graft-imageio").toFile
    try {
      javax.imageio.ImageIO.setUseCache(true)
      javax.imageio.ImageIO.setCacheDirectory(dir)
      assert(dir.delete()) // cache dir now unusable
      val out = Multimodal.ImageIoDecodeKernel.decodeBatch(
        Seq(Multimodal.MediaRow(7L, png)))
      assert(out.head.format == "png" && out.head.width == 9 && out.head.height == 4)
    } finally {
      javax.imageio.ImageIO.setUseCache(oldUse)
      if (oldDir == null || oldDir.isDirectory)
        javax.imageio.ImageIO.setCacheDirectory(oldDir)
      dir.delete()
    }
  }

  test("bloomNewDocs: verdict schema is the batch schema; both scan modes agree") {
    val index = (0 until 8).map(i => s"k$i").toDF("content_key")
    val batch = ((0 until 4).map(i => (i.toLong, s"k$i")) ++
      (0 until 3).map(i => (50L + i, s"x$i"))).toDF("doc_id", "content_key")
    val sketch = Dedup.bloomSketch(index, "content_key", expectedItems = 100L)
    val cached = Dedup.bloomNewDocs(batch, index, sketch, "content_key")
    // the internal bloom-verdict tag must not leak into the output
    assert(cached.columns.toSeq == Seq("doc_id", "content_key"))
    val fromCache = cached.collect().map(_.getLong(0)).toSet
    // with the tagged frame released, the same plan re-scans the batch
    // from source: both scans must give the same verdict
    graft.core.CacheRegistry.releaseAll()
    val rescan = cached.collect().map(_.getLong(0)).toSet
    assert(fromCache == rescan)
    assert(rescan == Set(50L, 51L, 52L))
  }

  test("auto-nlist countCache key tracks the underlying file, not just the plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-countkey").toString
    val p = s"$dir/corpus.parquet"
    (0 until 10).map(_.toLong).toDF("vec_id").write.mode("overwrite").parquet(p)
    val c1 = spark.read.parquet(p)
    assert(Estimates.count(c1).get == 10L)
    // same path, same plan shape — but the corpus GREW between ingests:
    // the key must change so the memoized count can't serve a stale size
    (0 until 200).map(_.toLong).toDF("vec_id").write.mode("overwrite").parquet(p)
    val c2 = spark.read.parquet(p)
    assert(PlanKey.of(c1) != PlanKey.of(c2))
    assert(Estimates.count(c2).get == 200L)
    // stable across re-reads of unchanged data: the memo serves the count
    val c3 = spark.read.parquet(p)
    assert(PlanKey.of(c2) == PlanKey.of(c3))
    assert(TestSpark.built(Estimates.count(c3).get) == ((200L, 0)))
  }

  test("cosinePairsComplete equals the all-pairs anchor at a low threshold") {
    import spark.implicits._
    // deterministic pseudo-random vectors: low-threshold pairs span wide
    // angles — exactly the regime where empirical cell co-assignment
    // loses pairs (the sf0.1 q55 sweep measured ~9% missed at τ=0.4);
    // the triangle-inequality candidates must lose none
    val rnd = new scala.util.Random(7)
    val df = (0 until 300).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosinePairs(df, 0.4))
    val complete = pairs(Similarity.cosinePairsComplete(df, 0.4, nlist = 40))
    assert(exact.nonEmpty, "fixture should produce pairs")
    assert(complete == exact,
      s"missing ${exact -- complete}, extra ${complete -- exact}")
    // and at a high threshold (the dedup regime) on clustered data
    val clustered = (0 until 60).map { i =>
      val base = Array.fill(8)(0f); base(i % 4) = 1f
      (i.toLong, base.zipWithIndex.map { case (x, j) => x + 0.03f * ((i + j) % 5) })
    }.toDF("vec_id", "embedding")
    val e2 = pairs(Similarity.cosinePairs(clustered, 0.9))
    val c2 = pairs(Similarity.cosinePairsComplete(clustered, 0.9, nlist = 8))
    assert(e2.nonEmpty && c2 == e2)
    // and with a known row count, which takes the broadcast verify branch
    val rnd11 = new scala.util.Random(11)
    val sized = (0 until 80).map { i =>
      (i.toLong, Array.fill(6)(rnd11.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    val e3 = pairs(Similarity.cosinePairs(sized, 0.6))
    val c3 = pairs(Similarity.cosinePairsComplete(sized, 0.6, nlist = 8, rowCount = 80L))
    assert(e3.nonEmpty && c3 == e3, s"missing ${e3 -- c3}, extra ${c3 -- e3}")
  }

  test("cosinePairsComplete: antipodal outlier past the pi radius stays complete (ADVICE r11)") {
    import spark.implicits._
    // 20 vectors tightly around +e1 — the LOWEST ids, so with iters=0
    // every centroid sits in that cluster deterministically — plus two
    // outliers near −e1, nearly antipodal to every centroid. Their
    // assignment sim drives cosα ≈ −1, so acos(τ)+α > π at τ = 0.3:
    // the raw cos-addition cutoff evaluates to −τ > −1, the outliers
    // probe NO cells, and their true pair would silently vanish. The
    // guard must detect τ + cosα ≤ 0 and probe the full sphere.
    val cluster = (0 until 20).map { i =>
      (i.toLong, Array(1f, 0.02f * (i % 5), 0.01f * (i % 3)))
    }
    val outliers = Seq(
      (100L, Array(-1f, 0.01f, 0f)),
      (101L, Array(-1f, 0f, 0.01f)))
    val df = (cluster ++ outliers).toDF("vec_id", "embedding")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosinePairs(df, 0.3))
    assert(exact.contains((100L, 101L)), "fixture: the outlier pair must be a true pair")
    val complete = pairs(Similarity.cosinePairsComplete(df, 0.3, nlist = 4, iters = 0))
    assert(complete == exact,
      s"missing ${exact -- complete}, extra ${complete -- exact}")
    graft.core.CacheRegistry.releaseAll()
  }

  test("cosinePairsCompleteStats prices the candidate join without running it") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (0 until 60).map { i =>
      (i.toLong, Array.fill(6)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    val st = Similarity.cosinePairsCompleteStats(df, 0.5, nlist = 8, rowCount = 60L).head()
    val (n, probeRows, candPairs, cosA) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getDouble(3))
    assert(n == 60L)
    // every vector probes at least its own assigned cell
    assert(probeRows >= n)
    assert(cosA >= -1.0 && cosA <= 1.0)
    // candidate_pairs is the EXACT pre-filter size of the candidate join
    val pairsPreFilter = Similarity.cosinePairsComplete(df, 0.5, nlist = 8, rowCount = 60L)
    // the emitted pair set is a (dedup'd, verified) subset of candidates
    assert(candPairs >= pairsPreFilter.count())
    graft.core.CacheRegistry.releaseAll()
  }

  test("cosinePairsCompleteStats then cosinePairsComplete persist nothing") {
    import spark.implicits._
    import graft.core.CacheRegistry
    CacheRegistry.releaseAll(); spark.catalog.clearCache()
    val rnd = new scala.util.Random(13)
    val df = (0 until 60).map { i =>
      (i.toLong, Array.fill(6)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    Similarity.cosinePairsCompleteStats(df, 0.5, nlist = 8, rowCount = 60L).head()
    Similarity.cosinePairsComplete(df, 0.5, nlist = 8, rowCount = 60L).collect()
    assert(CacheRegistry.trackedTags.isEmpty, CacheRegistry.trackedTags)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("IVF operators: a warm repeat over a parquet embeddings corpus compiles and persists nothing") {
    import graft.core.CacheRegistry
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").resolve("emb").toString
    val rnd = new scala.util.Random(17)
    (0 until 120).map { i =>
      (i.toLong, Array.fill(6)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding").write.parquet(dir)
    def read() = graft.io.Sources.read(spark, "parquet", dir)
    def sorted(df: DataFrame) = df.collect().map(_.mkString("|")).toSeq.sorted
    // Spark's codegen cache holds 100 classes in four 25-entry LRU
    // segments, so each operator gets its own pass, small enough that a
    // repeat finds every class: cosinePairsComplete without Lloyd rounds
    // (about 50 classes; with two rounds about 75, which overflows a
    // segment in some JVMs) and ivfTopK with its two rounds (about 30)
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "cosinePairsComplete" -> (c => Similarity.cosinePairsComplete(c, 0.6, nlist = 8, iters = 0)),
      "ivfTopK" -> (c => Similarity.ivfTopK(c, c.filter(F.col("vec_id") < 5L), 3,
        nlist = 4, nprobe = 2)))
    CacheRegistry.releaseAll(); spark.catalog.clearCache()
    for ((name, op) <- ops) {
      // one warm pass as a bench pass runs it: read, build, collect, release
      def pass() = {
        val out = sorted(op(read()))
        val tags = CacheRegistry.trackedTags
        CacheRegistry.releaseAll()
        (out, tags)
      }
      val (warm, _) = pass()
      assert(warm.nonEmpty, name)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (again, tags) = pass()
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0,
        s"$name: a warm repeat must find every generated class in the codegen cache")
      assert(tags.isEmpty, s"$name: $tags")
      assert(again == warm, name)
    }
    // the α scalar and the candidate join share one broadcast of the
    // centroid array
    val pairs = Similarity.cosinePairsComplete(read(), 0.6, nlist = 8, iters = 0)
    pairs.collect()
    assert(pairs.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      pairs.queryExecution.executedPlan)
  }

  test("ivfTopK: cell assignment carries vectors — no id-keyed self-join (r14)") {
    import spark.implicits._
    val vecs = (0 until 30).map { i =>
      (i.toLong, Array.fill(4)(((i * 7 + 3) % 11).toFloat / 11f))
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" < 3)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Similarity.ivfTopK(vecs, qs, 2, nlist = 2, nprobe = 2, iters = 1,
          queryCount = 3L)
        .queryExecution.executedPlan.toString
      def n(pat: String) = pat.r.findAllIn(plan).size
      // the corpus/centroid assignment must never re-key on the vector id
      // (the r13 shape joined the (id, cell) frame back to the corpus)
      assert(n("hashpartitioning\\(cid0") == 0,
        s"corpus assignment must carry the vector, not re-join on id:\n$plan")
      // only the final top-k window partitions by query_id; the probes
      // frame is produced map-side, never self-joined
      assert(n("hashpartitioning\\(query_id") <= 1,
        s"query assignment must carry the vector, not re-join on id:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("knnClassifyIvf survivor broadcast is count-gated (r11 verdict 3)") {
    import spark.implicits._
    val corpus = (0 until 24).map { i =>
      val base = Array.fill(4)(0.01f * i); base(i % 3) = 1f
      (i.toLong, base, (i % 3) + 1)
    }.toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (100L, Array(1f, 0.02f, 0f, 0f), 0),
      (101L, Array(0f, 1f, 0.02f, 0f), 0)).toDF("vec_id", "embedding", "label")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevMax = spark.conf.getOption("graft.knn.maxBroadcastSurvivors")
    try {
      // kill auto-broadcast so the ONLY neighbor_id broadcast can be
      // the explicit hint under test
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def plan() = Similarity.knnClassifyIvf(corpus, queries, k = 3, nlist = 4)
        .queryExecution.executedPlan.toString
      def out() = Similarity.knnClassifyIvf(corpus, queries, k = 3, nlist = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      // default bound: 2 queries × 3 survivors ≪ 8M — hinted broadcast
      assert("BroadcastHashJoin \\[neighbor_id".r.findFirstIn(plan()).nonEmpty,
        s"expected a broadcast label-attach under the bound:\n${plan()}")
      val hinted = out()
      // crawl-sized regime (forced): hint must drop, join shuffles,
      // predictions identical — the gate is performance-only
      spark.conf.set("graft.knn.maxBroadcastSurvivors", "0")
      assert("BroadcastHashJoin \\[neighbor_id".r.findFirstIn(plan()).isEmpty,
        s"over-bound label-attach must not broadcast:\n${plan()}")
      assert(out() == hinted)
      assert(hinted == Set((100L, 1), (101L, 2)))
      // the OTHER crawl-scale broadcast: ivfTopK's probes frame
      // (queries × nprobe WITH vectors) rides the same bytes gate as
      // the verify join — starve it and the cell join must shuffle,
      // with identical predictions
      spark.conf.unset("graft.knn.maxBroadcastSurvivors")
      assert("BroadcastHashJoin \\[cell".r.findFirstIn(plan()).nonEmpty,
        s"small query set: probes should broadcast into the cell join:\n${plan()}")
      spark.conf.set("graft.broadcastVecMaxBytes", "1")
      assert("BroadcastHashJoin \\[cell".r.findFirstIn(plan()).isEmpty,
        s"over-budget probes must not broadcast:\n${plan()}")
      assert(out() == hinted)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.unset("graft.broadcastVecMaxBytes")
      prevMax match {
        case Some(v) => spark.conf.set("graft.knn.maxBroadcastSurvivors", v)
        case None => spark.conf.unset("graft.knn.maxBroadcastSurvivors")
      }
    }
  }

  test("cosinePairsAuto dispatches on the tau boundary (r11 verdict 4)") {
    import spark.implicits._
    val df = (0 until 30).map { i =>
      val base = Array.fill(4)(0f); base(i % 2) = 1f
      (i.toLong, base.zipWithIndex.map { case (x, j) => x + 0.02f * ((i + j) % 4) })
    }.toDF("vec_id", "embedding")
    // one operator on both sides of the old τ = 0.8 dispatch boundary:
    // the complete path recovers the all-pairs anchor at every τ
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      for (tau <- Seq(0.9, 0.8, 0.79, 0.5)) {
        val exact = pairs(Similarity.cosinePairs(df, tau))
        assert(exact.nonEmpty, s"tau $tau")
        assert(pairs(Similarity.cosinePairsComplete(df, tau, nlist = 6)) == exact, s"tau $tau")
      }
      // the retired dispatch knob no longer moves the plan (expression
      // ids and lambda variable names are fresh per build)
      def analyzed() = Similarity.cosinePairsComplete(df, 0.9, nlist = 6)
        .queryExecution.analyzed.toString.replaceAll("#\\d+L?|(?<=\\b[xyz])_\\d+", "")
      val before = analyzed()
      spark.conf.set("graft.cosinePairs.autoTau", "1.01")
      assert(analyzed() == before)
    } finally {
      spark.conf.unset("graft.cosinePairs.autoTau")
      graft.core.CacheRegistry.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("CacheRegistry.trackedBytes reports materialized cache sizes per tag (r11 verdict 8)") {
    import spark.implicits._
    import graft.core.CacheRegistry
    CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    val df = CacheRegistry.track("bytesSpec.frame",
      (0 until 2000).map(i => (i.toLong, s"row-$i")).toDF("id", "s"))
    // before any action the buffers are unmaterialized: tag present, 0 bytes
    val before = CacheRegistry.trackedBytes(spark).toMap
    assert(before.get("bytesSpec.frame").contains(0L), before)
    df.count()
    val after = CacheRegistry.trackedBytes(spark).toMap
    assert(after.getOrElse("bytesSpec.frame", 0L) > 0L,
      s"materialized cache must report positive bytes: $after")
    CacheRegistry.releaseAll()
    assert(CacheRegistry.trackedBytes(spark).isEmpty)
  }

  test("knnClassify: majority vote with deterministic tie-breaks") {
    import spark.implicits._
    // corpus: two tight clusters with labels 1 and 2, one stray label 3
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f), 1), (11L, Array(0.99f, 0.01f, 0.0f), 1),
      (12L, Array(0.98f, 0.02f, 0.0f), 1),
      (20L, Array(0.0f, 1.0f, 0.0f), 2), (21L, Array(0.01f, 0.99f, 0.0f), 2),
      (30L, Array(0.0f, 0.0f, 1.0f), 3)
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (1L, Array(1.0f, 0.05f, 0.0f), 0),   // cluster 1 -> label 1, 3 votes
      (2L, Array(0.05f, 1.0f, 0.0f), 0)    // cluster 2: k=3 -> votes {2:2, 1:1}
    ).toDF("vec_id", "embedding", "label")
    val out = graft.pipeline.Similarity.knnClassify(corpus, queries, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(out(1L) == ((1, 3L)))
    assert(out(2L) == ((2, 2L)))
    // tie in votes -> smallest label wins: symmetric 2-vector corpus,
    // exactly equidistant query, k=2 -> one vote each for labels 5, 4
    val c2 = Seq((1L, Array(1.0f, 0.0f), 5), (2L, Array(0.0f, 1.0f), 4))
      .toDF("vec_id", "embedding", "label")
    val eq = Seq((9L, Array(0.5f, 0.5f), 0)).toDF("vec_id", "embedding", "label")
    val tied = graft.pipeline.Similarity.knnClassify(c2, eq, k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2))).head
    assert(tied == ((4, 1L)), s"got $tied")
  }

  test("knnClassifyIvf agrees with brute-force classification on clustered data") {
    import spark.implicits._
    // three well-separated clusters of 8 vectors each, labels 1/2/3
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (x, j) => x + 0.01f * ((i + j) % 3) }
    val corpus = (0 until 24).map { i =>
      val (base, lbl) = (i % 3) match {
        case 0 => (Array(1.0f, 0.0f, 0.0f, 0.0f), 1)
        case 1 => (Array(0.0f, 1.0f, 0.0f, 0.0f), 2)
        case _ => (Array(0.0f, 0.0f, 1.0f, 0.0f), 3)
      }
      (i.toLong + 100, jitter(base, i), lbl)
    }.toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (1L, Array(0.95f, 0.05f, 0.0f, 0.0f), 0),
      (2L, Array(0.02f, 0.97f, 0.01f, 0.0f), 0),
      (3L, Array(0.0f, 0.03f, 0.99f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val S = graft.pipeline.Similarity
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val brute = m(S.knnClassify(corpus, queries, k = 5))
    val ivf = m(S.knnClassifyIvf(corpus, queries, k = 5, nlist = 3, nprobe = 2))
    assert(brute == Map(1L -> ((1, 5L)), 2L -> ((2, 5L)), 3L -> ((3, 5L))))
    assert(ivf == brute, s"ivf $ivf != brute $brute")
  }

  test("corpusKey stays corpus-distinct when the frame is persisted (r11 probe bug)") {
    // optimization substitutes InMemoryRelation for persisted subtrees,
    // hiding the file scan — keys from the OPTIMIZED plan collided
    // across corpora with identical shapes, so the 100x probe's pair
    // budget was fed the 1x estimate and never engaged. Keys must come
    // from the analyzed plan.
    val dir = java.nio.file.Files.createTempDirectory("graft-cachekey").toString
    (0 until 10).map(_.toLong).toDF("doc_id").write.parquet(s"$dir/a.parquet")
    (0 until 500).map(_.toLong).toDF("doc_id").write.parquet(s"$dir/b.parquet")
    def agg(p: String) =
      spark.read.parquet(p).groupBy("doc_id").count().persist()
    val fa = agg(s"$dir/a.parquet"); val fb = agg(s"$dir/b.parquet")
    try {
      fa.count(); fb.count() // materialize both caches
      assert(PlanKey.of(fa) != PlanKey.of(fb))
      // and the memoized estimate serves per-corpus values, not the
      // first corpus's answer
      val ca = Estimates.count(fa).get
      val cb = Estimates.count(fb).get
      assert(ca == 10L && cb == 500L, s"memo served stale values: $ca, $cb")
    } finally { fa.unpersist(); fb.unpersist() }
  }
}
