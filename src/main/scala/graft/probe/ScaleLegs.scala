package graft.probe

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.Probe._
import graft.{SparkEntry, Tables}
import graft.core.{Analytics, Rolling, Sorter, TadaFrame}
import graft.pipeline.{Dedup => D, Similarity}

/** Growth legs: `scale` (a query sweep at ×1 and ×`factor`), `docs`
  * (the containment family) and `vecs` (the vector heavies) at
  * third-decade factors.
  *
  * Copies shift their table's id by a span above the sf0.1 maximum:
  * order keys and event ids by 10^7 (lineitem↔orders joins stay within
  * a copy), doc ids by 5,000 and vector ids by 2,000. Dimension tables
  * are carried unchanged: at 100 TB they stay broadcast-sized.
  */
object ScaleLegs {
  def scaleDir(factor: Int): String = s"$Scratch/scale_${factor}x"

  private val ScaleSpans = Map(
    "lineitem" -> ("l_orderkey" -> 10000000L), "orders" -> ("o_orderkey" -> 10000000L),
    "events" -> ("event_id" -> 10000000L), "documents" -> ("doc_id" -> 5000L),
    "embeddings" -> ("vec_id" -> 2000L))

  // q99_knn_classify is left out by design: its oracle split grows both
  // the query and corpus sides, so its brute verify is quadratic by
  // contract; x99_knn_classify_ivf probes the production shape instead
  private val Sweep = Seq(
    "q01_agg", "q12_merge_inner", "q33_sort_head", "q40_exact_dedup",
    "q41_minhash_lsh", "q42_simhash_edges", "q44_embedding_dedup",
    "q47_langid", "q55_cosine_pairs", "q56_knn_ivf", "q58_dup_clusters",
    "q62_tfidf", "q67_chunk_dedup", "q73_curation_funnel",
    "q75_unigram_logprob", "q76_contamination", "q79_simhash_clusters",
    "q80_incremental_dedup", "q81_incremental_embedding",
    "q82_dedup_keepers", "q83_sequence_packing", "q84_mixture_rates",
    "q85_bloom_incremental", "q86_train_val_test",
    "q87_source_overlap", "q88_source_overlap_incremental",
    "q89_containment_pairs", "q90_source_caps", "q91_quality_gate",
    "q92_containment_incremental", "q93_ngram_novelty",
    "q94_strip_dup_spans", "q95_source_jaccard", "q96_temperature_mixture",
    "q97_corpus_profile", "q98_sliding_chunks", "q100_winnow_overlap")

  private def lineitemQty(s: SparkSession, dir: String): TadaFrame =
    TadaFrame.ingest(Tables.lineitem(s, dir).select(F.col("l_orderkey"), F.col("l_quantity")))

  private def eventsSorted(s: SparkSession, dir: String): TadaFrame =
    TadaFrame.ingest(Tables.events(s, dir)
      .select(F.col("event_id"), F.col("user_id"), F.col("value")))
      .sort(Sorter("value"), Sorter("event_id"))

  /** Probe-only shapes no registered query carries. Results stay
    * unordered: an `.out` would add a global sort and time that instead. */
  private val Extra: Map[String, (SparkSession, String) => DataFrame] = Map(
    // whole-frame (empty partitionBy) prefix family
    "x24_cumsum_global" -> ((s, dir) =>
      Analytics.cumSum(lineitemQty(s, dir), "l_quantity", "cs").df
        .select("l_orderkey", "l_quantity", "cs")),
    "x25_shift_global" -> ((s, dir) =>
      Analytics.shift(lineitemQty(s, dir), "l_quantity", 3, "prev").df
        .select("l_orderkey", "l_quantity", "prev")),
    "x32_ffill_global" -> ((s, dir) => {
      val f = TadaFrame.ingest(Tables.lineitem(s, dir).select(F.col("l_orderkey"),
        F.when(F.col("l_quantity") < 5, F.lit(null)).otherwise(F.col("l_quantity")).as("v")))
      f.fillNull(Map("v" -> graft.core.FillNullHow.Forward)).df.select("l_orderkey", "v")
    }),
    // sorted-frame ordinal family; the *_global twins are the plain
    // one-partition row_number plans they replace
    "xo1_sum_sorted" -> ((s, dir) => eventsSorted(s, dir).groupBy("user_id").sum("value").df),
    "xo2_first_sorted" -> ((s, dir) => eventsSorted(s, dir).groupBy("user_id").first("value").df),
    "xo2g_first_global" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.events(s, dir).select(F.col("event_id"), F.col("user_id"), F.col("value"))
        .withColumn("__o", F.row_number().over(
          Window.orderBy(F.col("value").asc_nulls_last, F.col("event_id").asc)).cast("long"))
      d.withColumn("__gp", F.row_number().over(
          Window.partitionBy(F.col("user_id")).orderBy(F.col("__o").asc)))
        .groupBy("user_id")
        .agg(F.min(F.col("__o")).as("__ord"),
          F.max(F.when(F.col("__gp") === 1, F.col("value"))).as("first_value"))
    }),
    // dropping the sort key materializes the order into the hidden
    // ordinal, which the checksum reads
    "xo3_anchor_drop" -> ((s, dir) =>
      TadaFrame.ingest(Tables.lineitem(s, dir).select(F.col("l_orderkey"),
          F.col("l_quantity"), F.col("l_extendedprice")))
        .sort(Sorter("l_quantity"), Sorter("l_orderkey")).dropCols("l_quantity").df),
    "xo3g_anchor_global" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.lineitem(s, dir).select(F.col("l_orderkey"), F.col("l_quantity"),
          F.col("l_extendedprice"))
        .withColumn("__ord", F.row_number().over(
          Window.orderBy(F.col("l_quantity").asc_nulls_last, F.col("l_orderkey").asc)).cast("long"))
        .drop("l_quantity")
    }),
    "xo4_cumsum_onto_key" -> ((s, dir) =>
      Analytics.cumSum(lineitemQty(s, dir).sort(Sorter("l_quantity"), Sorter("l_orderkey")),
        "l_quantity", "l_quantity").df),
    "xo5_rollingn_frame" -> ((s, dir) =>
      Rolling.rollingN(lineitemQty(s, dir), 4, "l_quantity", x => F.sum(x), "r").df),
    "xo5g_rollingn_global" -> ((s, dir) =>
      Rolling.rollingNWindow(lineitemQty(s, dir), 4, "l_quantity", x => F.sum(x), "r").df),
    // reading the text column is the floor of any full-text operator
    "x48_read_floor" -> ((s, dir) =>
      Tables.documents(s, dir).select(F.col("doc_id"), F.col("text"))),
    "x99_knn_classify_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(F.col("vec_id"), F.col("embedding"))
      val corpus = e.withColumn("label", (F.col("vec_id") % 8).cast("int"))
      val queries = e.select((F.col("vec_id") + 1000000L).as("vec_id"), F.col("embedding"))
      // a sizing count at construction is part of this probe's measured
      // work; registered queries size via Estimates.count
      Similarity.knnClassifyIvf(corpus, queries, k = 5, nlist = nlist(corpus.count()), nprobe = 4)
    }))

  private def nlist(n: Long): Int = math.max(16, math.ceil(8 * math.sqrt(n.toDouble)).toInt)

  /** Exponent e = log10(t_N / t_1) / log10(N) per query: e ≈ 1 is
    * linear, e ≫ 1 flags a shape that would not survive a further ×100.
    * Each query is warmed once at ×1, then timed min-of-`reps` (2) at
    * each scale; `reps=1` halves peak scratch for disk-bound queries. */
  def scale(spark: SparkSession, a: Args): Unit = {
    val factor = a.factor.getOrElse(10)
    // doc copies must stay below the 1,000,000 offset the dedup queries
    // add for their corpus∪copy construction
    require(factor >= 2 && factor <= 200, s"factor $factor outside [2, 200]")
    val out = scaleDir(factor)
    Tables.names.foreach { t =>
      val df = spark.read.parquet(s"${a.sf}/$t.parquet")
      ScaleSpans.get(t) match {
        case Some((col, span)) => copies(df, col, span, factor, s"$out/$t.parquet")
        case None => writeOnce(s"$out/$t.parquet")(df)
      }
    }
    val qs = SparkEntry.queries ++ Extra
    val names =
      if (a.names.isEmpty) Sweep else qs.keys.toSeq.sorted.filter(n => a.names.exists(n.startsWith))
    val reps = a.reps.getOrElse(2)
    for (name <- names; fn <- qs.get(name)) {
      def best(dir: String, tag: String) =
        (1 to reps).flatMap(_ => timed(spark, s"${name}_$tag")(fn(spark, dir))).minOption
      timed(spark, s"${name}_warm")(fn(spark, a.sf))
      for (t1 <- best(a.sf, "1x"); tn <- best(out, s"${factor}x"))
        println(f"$name%-22s $t1%8.2f $tn%8.2f  exp=${math.log10(tn / t1) / math.log10(factor)}%.2f")
    }
  }

  /** q89 (containment pairs), q92 (incremental fold) and q100 (winnow
    * overlap) at ×300 / ×1000 over the documents. Copy growth multiplies
    * every gram's df by the factor, so the df ≤ 1000 stop-gram cap
    * removes more of the vocabulary per decade; `qcap` prints that
    * arithmetic (effective cap, pair mass) before the timings. */
  def docs(spark: SparkSession, a: Args): Unit = {
    val base = Tables.documents(spark, a.sf).select(F.col("doc_id"), F.col("text"))
    for (factor <- a.factor.fold(Seq(300, 1000))(Seq(_))) {
      val path = copies(base, "doc_id", 5000L, factor, s"$Scratch/docs_${factor}x.parquet")
      def docs = spark.read.parquet(path)
      println(s"=== ${factor}x: $diskFree ===")
      if (a.wants("qcap")) {
        val gramDf = D.containmentGramIndex(docs, "doc_id", "text")
          .groupBy("g").agg(F.count(F.lit(1)).as("df"))
        val (eff, mass) = D.adaptiveContainmentCap(gramDf, "df", 1000)
        println(s"cap_${factor}x eff=$eff massAtMaxDf=$mass")
        spark.catalog.clearCache()
      }
      if (a.wants("q89")) timed(spark, s"q89_containment_${factor}x")(
        D.containmentPairs(docs, "doc_id", "text", k = 3, tau = 0.8, maxDf = 1000))
      if (a.wants("q92")) timed(spark, s"q92_incremental_${factor}x") {
        val index = graft.core.CacheRegistry.track("probe.q92.index",
          D.containmentGramIndex(docs, "doc_id", "text"))
        val gramDf = index.groupBy("g").agg(F.count(F.lit(1)).as("df"))
        // the fold's fan-out is batch-bounded, so the fixed semantic
        // stop-gram cap applies, not a mass budget
        val sizes = index.join(D.maybeBroadcastVocab(gramDf.filter(F.col("df") <= 1000), gramDf), "g")
          .groupBy("id").agg(F.count(F.lit(1)).as("n"))
        // arrival ids shift past every grown corpus id
        val batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) === 0)
          .select((F.col("doc_id") + 100000000L).as("doc_id"), F.col("text"))
        D.containmentPairsIncremental(index, gramDf, sizes, batch,
          "doc_id", "text", k = 3, tau = 0.8, maxDf = 1000)
      }
      if (a.wants("q100")) timed(spark, s"q100_winnow_${factor}x")(
        D.winnowOverlapPairs(docs, "doc_id", "text", k = 3, w = 4, tau = 0.5, maxDf = 1000))
    }
  }

  /** q55/q58's complete cosine-pairs path (τ = 0.4, the registered
    * completeness regime) and the IVF classification at ×100 / ×1000 of
    * the embeddings. Each timing names the budget branch that runs, as
    * the library's own gates decide it: broadcast vs shuffled verify
    * and probes (`Similarity.broadcastableVecs`) and the hinted label attach
    * (`Similarity.maxBroadcastSurvivors`). `x55stats`
    * prices the candidate fan-out without materializing a pair. */
  def vecs(spark: SparkSession, a: Args): Unit = {
    val base = Tables.embeddings(spark, a.sf)
    val dim = base.select(F.size(F.col("embedding"))).head().getInt(0)
    val tau = 0.4
    def gates(corpus: DataFrame, n: Long): String =
      s"nlist=${nlist(n)} verify(" +
        (if (Similarity.broadcastableVecs(corpus, "embedding", n)) "broadcast" else "SHUFFLED") +
        ") probes(" +
        (if (Similarity.broadcastableVecs(corpus, "embedding", 4 * n)) "broadcast" else "SHUFFLED") +
        s") survivors(k=5)=${5 * n}(" +
        (if (5 * n > Similarity.maxBroadcastSurvivors(spark)) "no hint" else "hinted") + ")"
    for (factor <- a.factor.fold(Seq(100, 1000))(Seq(_))) {
      val path = copies(base, "vec_id", 2000L, factor, s"$Scratch/emb_${factor}x.parquet")
      def d = spark.read.parquet(path)
      val n = 2000L * factor
      println(s"=== ${factor}x: n=$n dim=$dim tau=$tau $diskFree ===")
      if (a.wants("x55stats")) {
        val st = Similarity.cosinePairsCompleteStats(d, tau).head()
        println(s"x55_fanout_${factor}x n=${st.getLong(0)} probe_rows=${st.getLong(1)} " +
          s"candidate_pairs=${st.getLong(2)} cos_alpha=${st.getDouble(3)}")
      }
      if (a.wants("q55")) timed(spark, s"q55_complete_${factor}x", gates(d, n))(
        Similarity.cosinePairsComplete(d, tau).select("id_a", "id_b"))
      if (a.wants("q58")) timed(spark, s"q58_clusters_${factor}x", gates(d, n))(
        D.connectedComponents(Similarity.cosinePairsComplete(d, tau)).select("id", "cluster"))
      if (a.wants("x99")) timed(spark, s"x99_knn_ivf_${factor}x", gates(d, n)) {
        val corpus = d.withColumn("label", (F.col("vec_id") % 8).cast("int"))
        // query ids shift past every grown corpus id
        val queries = d.select((F.col("vec_id") + 10000000L).as("vec_id"), F.col("embedding"))
        Similarity.knnClassifyIvf(corpus, queries, k = 5, nlist = nlist(n), nprobe = 4)
      }
    }
  }
}
