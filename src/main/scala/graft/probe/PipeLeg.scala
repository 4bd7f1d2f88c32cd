package graft.probe

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.Probe._
import graft.Tables
import graft.core.CacheRegistry
import graft.pipeline.{Dedup => D, Sampling => S, TextOps => T}

/** The composed curation funnel — quality gate → exact dedup → near-dup
  * removal → contamination filter → deterministic sample — forced as
  * one plan per stage prefix at ×`factor` (300, 1000) of the documents,
  * printing CacheRegistry's per-tag bytes during each force: the regime
  * where the families' internal caches overlap. Prefix deltas are the
  * per-stage costs in context.
  *
  * Exact dedup runs before near-dup so the ×N duplication collapses in
  * one hash aggregation and the pair-emitting LSH stage only sees
  * content-distinct survivors.
  *
  * The name `split` swaps in a generated corpus whose training text and
  * eval suite draw from disjoint word pools, with a verbatim 40-token
  * eval span planted in 10% of the base docs: the real corpus shares one
  * pool, so decontamination there must cut at 0.8 instead of the
  * documented 0.2 (a 0.2 cut left 8 of 2411 docs).
  */
object PipeLeg {
  private val SplitBases = 5000L
  private val EvalDocs = 200L

  private def evTok(doc: Column, p: Column): Column =
    F.concat(F.lit("ev"), F.pmod(F.xxhash64(doc * 7919L + p.cast("long")), F.lit(5000)))

  /** Pure function of the base-doc index (xxhash64 expressions): the
    * same at any parallelism and on every re-run. */
  private def splitCorpus(spark: SparkSession, factor: Int): DataFrame =
    spark.range(SplitBases * factor)
      .withColumn("doc_id", F.col("id"))
      .withColumn("__b", F.pmod(F.col("id"), F.lit(SplitBases)))
      .withColumn("source", F.concat(F.lit("src"), F.pmod(F.col("__b"), F.lit(5))))
      .withColumn("__len", (F.lit(80) + F.pmod(F.xxhash64(F.col("__b")), F.lit(120))).cast("int"))
      .withColumn("__train", F.transform(
        F.sequence(F.lit(0), F.col("__len") - 1),
        p => F.concat(F.lit("tw"),
          F.pmod(F.xxhash64(F.col("__b") * 1000003L + p.cast("long")), F.lit(50000)))))
      .withColumn("__e", F.pmod(F.floor(F.col("__b") / F.lit(10)), F.lit(EvalDocs)).cast("long"))
      .withColumn("__s", F.pmod(F.xxhash64(F.col("__b") + 13L), F.lit(60)).cast("int"))
      .withColumn("__span", F.when(F.pmod(F.col("__b"), F.lit(10)) === 0,
        F.transform(F.sequence(F.col("__s"), F.col("__s") + 39), p => evTok(F.col("__e"), p)))
        .otherwise(F.array().cast("array<string>")))
      .withColumn("text", F.array_join(F.concat(F.col("__train"), F.col("__span")), " "))
      .select("doc_id", "source", "text")

  private def evalGrams(docs: DataFrame): DataFrame =
    docs.select(F.explode(D.shingles(F.col("text"), 3)).as("g")).distinct().withColumn("__hit", F.lit(1))

  /** The funnel up to stage `upTo` (1 gate … 5 sample), decontaminating
    * against `evalG` at threshold `thr`. */
  private def composed(docs: DataFrame, upTo: Int, evalG: DataFrame, thr: Double): DataFrame = {
    // 1: each source's top half by quality; approxAbove is lowered so the
    // sketch gate (and its corpus-shaped tracked cache) engages here as it
    // would at 100 TB. The gate returns scalars; text re-attaches by id.
    var cur = T.qualityGateAuto(docs, "doc_id", "text", "source", pct = 0.5, approxAbove = 1000000L)
      .join(docs.select(F.col("doc_id"), F.col("text")), Seq("doc_id"))
    // 2: exact dedup, first-appearance keeper per content key
    if (upTo >= 2) {
      val keyed = cur.withColumn("__ck", D.exactKey(F.col("text")))
      cur = keyed.join(keyed.groupBy("__ck").agg(F.min("doc_id").as("doc_id")), Seq("__ck", "doc_id"))
        .drop("__ck")
    }
    // 3: near-dup removal (q41's minhash+LSH shape; the higher id of a
    // verified pair drops)
    if (upTo >= 3) {
      val withBands = CacheRegistry.track("probe.pipe.bands",
        cur.select(F.col("doc_id"), D.shingles(F.col("text")).as("sh"))
          .select(F.col("doc_id"), F.col("sh"), D.bandKeysDirect(F.col("sh"), k = 32, bands = 8).as("bands")))
      val losers = D.candidatePairs(withBands, "doc_id", "bands")
        .join(withBands.select(F.col("doc_id").as("id_a"), F.col("sh").as("sh_a")), "id_a")
        .join(withBands.select(F.col("doc_id").as("id_b"), F.col("sh").as("sh_b")), "id_b")
        .filter(D.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.8)
        .select(F.col("id_b").as("doc_id")).distinct()
      cur = cur.join(losers, Seq("doc_id"), "left_anti")
    }
    // 4: decontamination against the broadcast eval shingle set
    if (upTo >= 4) {
      val frac = cur.select(F.col("doc_id"), F.explode(D.shingles(F.col("text"), 3)).as("g"))
        .join(F.broadcast(evalG), Seq("g"), "left")
        .groupBy("doc_id")
        .agg((F.sum(F.when(F.col("__hit").isNotNull, 1L).otherwise(0L)).cast("double") /
          F.count(F.lit(1))).as("__contam"))
      cur = cur.join(frac, Seq("doc_id"), "left")
        .filter(F.coalesce(F.col("__contam"), F.lit(0.0)) < thr).drop("__contam")
    }
    // 5: 20% by content-stable row coordinate, then a per-source cap (q90)
    if (upTo >= 5)
      cur = S.capPerGroup(cur.filter(S.hashBp(F.col("doc_id").cast("string")) < 2000),
        F.col("doc_id").cast("string"), F.col("source"), cap = 200)
    cur
  }

  def run(spark: SparkSession, a: Args): Unit = {
    val split = a.names.contains("split")
    // an eval suite does not grow with the training corpus
    lazy val evalG =
      if (split) evalGrams(spark.range(EvalDocs).withColumn("text", F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(99)), p => evTok(F.col("id"), p)), " ")))
      else evalGrams(Tables.documents(spark, a.sf).filter(F.col("source") === "src0"))
    val thr = if (split) 0.2 else 0.8
    val base = Tables.documents(spark, a.sf).select(F.col("doc_id"), F.col("source"), F.col("text"))
    for (f <- a.factor.fold(Seq(300, 1000))(Seq(_))) {
      val docs = spark.read.parquet(
        if (split) writeOnce(s"$Scratch/docs_split_${f}x.parquet")(splitCorpus(spark, f))
        else copies(base, "doc_id", 5000L, f, s"$Scratch/docs_full_${f}x.parquet"))
      println(s"== ${if (split) "split " else ""}factor $f thr=$thr ($diskFree)")
      for (k <- 1 to 5)
        timed(spark, s"${if (split) "split_" else ""}${f}x_upTo=$k", {
          val bytes = CacheRegistry.trackedBytes(spark).filter(_._2 > 0)
            .map { case (t, b) => s"$t=${b >> 20}MiB" }.mkString(" ")
          s"cache[$bytes]"
        })(composed(docs, k, evalG, thr))
    }
  }
}
