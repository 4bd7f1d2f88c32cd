package graft.probe

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

import graft.Probe._
import graft.Tables
import graft.core.{Analytics, Rolling, Sorter, TadaFrame}

/** The chunked-ordinal family at ×1 and ×`factor` (1000) of lineitem:
  * anchorOrder (`Prefix.materializeOrd`), whole-frame rollingN, the
  * chunked rank/percentile value axis, grouped medians, rollingDuration
  * and their skewed, string-keyed and few-key twins, each read against
  * its comparator (`xo0` the read floor, `xo3s` Spark's own global
  * sort). Names select sub-legs; the `*w` window forms run at ×1 only,
  * because at ×1000 they are the one-thread cliff the chunked plans
  * remove. Chunk count is the shuffle partition count, so
  * `conf:spark.sql.shuffle.partitions=N` moves it.
  *
  * Lineitem copies shift l_orderkey by 10^7; event copies also shift ts
  * by 400 days, so windows never cross copies.
  */
object OrdLeg {
  private val Span = 10000000L

  def run(spark: SparkSession, a: Args): Unit = {
    val factor = a.factor.getOrElse(1000)
    val base = Tables.lineitem(spark, a.sf)
      .select(F.col("l_orderkey"), F.col("l_quantity"), F.col("l_extendedprice"))
    val baseEv = Tables.events(spark, a.sf).select(F.col("event_id"), F.col("ts"), F.col("value"))
    for (f <- Seq(1, factor)) {
      def li: DataFrame =
        if (f == 1) base
        else spark.read.parquet(copies(base, "l_orderkey", Span, f,
          s"$Scratch/lineitem_${f}x.parquet", parts = 64))
      def ev: DataFrame =
        if (f == 1) baseEv
        else spark.read.parquet(copies(baseEv, "event_id", Span, f,
          s"$Scratch/events_${f}x.parquet", parts = 64,
          also = (d, i) => d.withColumn("ts", F.col("ts") + F.expr(s"INTERVAL ${i * 400} DAYS"))))
      def leg(name: String, label: String)(mk: => DataFrame): Unit =
        if (a.wants(name)) timed(spark, s"${name}_${label}_${f}x")(mk)
      def sorted(df: DataFrame, key: String): TadaFrame =
        TadaFrame.ingest(df).sort(Sorter(key), Sorter("l_orderkey"))
      def grouped(df: DataFrame): TadaFrame =
        TadaFrame.ingest(df.withColumn("g", (F.col("l_orderkey") % 4).cast("int")))
      def qty = li.select(F.col("l_orderkey"), F.col("l_quantity"))
      // price^7 spans ~14 decades: the heavy-tailed axis
      def skewed = li.withColumn("p", F.pow(F.col("l_extendedprice"), 7))
      println(s"=== ${f}x: $diskFree ===")

      leg("xo0", "read_floor")(li)
      // Spark's global sort + a banded ordinal: the performance comparator
      // for materializeOrd (rejected as the implementation: range
      // boundaries are sampled per execution)
      leg("xo3s", "spark_sort")(li.orderBy(F.col("l_extendedprice"), F.col("l_orderkey"))
        .withColumn("o", F.monotonically_increasing_id()))
      leg("xo3", "anchor_drop")(sorted(li, "l_quantity").dropCols("l_quantity").df)
      // l_quantity has 50 values, capping xo3 at 50 chunks; the
      // near-continuous price reaches the full chunk count
      leg("xo3b", "anchor_drop_hk")(sorted(li, "l_extendedprice").dropCols("l_extendedprice").df)
      leg("xo13", "anchor_drop_skewed")(sorted(skewed, "p").dropCols("p").df)
      // string keys: high-cardinality (zero-padded orderkey) and a
      // 5-value enum
      leg("xo6", "anchor_drop_str")(sorted(li.withColumn("sk",
        F.format_string("ord%010d", F.col("l_orderkey"))), "sk").dropCols("sk").df)
      leg("xo6b", "anchor_drop_strenum")(sorted(li.withColumn("sk", F.concat(F.lit("f"),
        (F.col("l_quantity").cast("long") % 5).cast("string"))), "sk").dropCols("sk").df)
      leg("xo5", "rollingn_frame")(
        Rolling.rollingN(TadaFrame.ingest(qty), 4, "l_quantity", x => F.sum(x), "r").df)
      // whole-frame dense rank / exclusive percentile over the
      // near-unique price: the chunked value-axis plans
      leg("xo7", "rank_chunked")(Analytics.rankDense(TadaFrame.ingest(li), "l_extendedprice", "rk").df)
      leg("xo7p", "pct_chunked")(
        Analytics.percentile(TadaFrame.ingest(li), "l_extendedprice", "pc").df)
      if (f == 1) leg("xo7w", "rank_window")(
        Analytics.rankDenseWindow(TadaFrame.ingest(li), "l_extendedprice", "rk").df)
      // grouped exact median over 4 groups: the by-value counting form vs
      // the percentile agg buffer holding ~rows/4 doubles in one task
      leg("xo8", "median_byvalue")(grouped(li).groupBy("g").median("l_quantity").df)
      leg("xo8b", "median_aggbuf")(grouped(li).groupBy("g").reduceWith(Seq(
        "median_l_quantity" -> F.percentile(F.col("l_quantity"), F.lit(0.5)))).df)

      def rollingDur(df: DataFrame, d: Long, keys: Seq[String] = Nil): DataFrame =
        Rolling.rollingDuration(TadaFrame.ingest(df), "ts", d, "value", x => F.sum(x), "r",
          partitionBy = keys).df
      def evGrouped = ev.withColumn("g", (F.col("event_id") % 4).cast("int"))
      leg("xo9", "rollingdur_frame")(rollingDur(ev, 3600000000L))
      if (f == 1) leg("xo9w", "rollingdur_window")(Rolling.rollingDurationWindow(
        TadaFrame.ingest(ev), "ts", 3600000000L, "value", x => F.sum(x), "r").df)
      // few keys (4): the composed (key, bucket) plan vs the keyed window,
      // whose parallelism is capped at 4 tasks
      leg("xo9g", "rollingdur_grouped")(rollingDur(evGrouped, 3600000000L, Seq("g")))
      leg("xo9gw", "rollingdur_grouped_kw")(Rolling.rollingDurationKeyedWindow(
        TadaFrame.ingest(evGrouped), "ts", 3600000000L, "value", x => F.sum(x), "r", Seq("g")).df)
      // bursty time axis: 90% of rows in one hour (2024-01-15T00 UTC),
      // d = 60 s; the equi-depth boundaries keep the plan parallel
      leg("xo11", "rollingdur_bursty") {
        val hotSec = (F.xxhash64(F.col("event_id")) % 3600 + 3600) % 3600
        rollingDur(ev.withColumn("ts", F.when(F.col("event_id") % 10 < 9,
          F.timestamp_micros(F.lit(1705276800000000L) + hotSec * 1000000L))
          .otherwise(F.col("ts"))), 60000000L)
      }
      leg("xo10", "rank_skewed")(Analytics.rankDense(TadaFrame.ingest(skewed), "p", "rk").df)
      if (a.wants("xo10")) try {
        // balance: the largest chunks under the equi-depth boundaries
        Analytics.valueChunkCounts(TadaFrame.ingest(skewed), "p").foreach { case (cc, k) =>
          val top = cc.orderBy(F.desc("n")).limit(3).collect()
            .map(r => s"c${r.get(0)}:${r.getLong(1)}").mkString(" ")
          println(s"xo10_${f}x chunk balance: k=$k total=${cc.agg(F.sum("n")).head().getLong(0)} " +
            s"top3=[$top]")
        }
      } catch { case e: Throwable => println(s"FAILED xo10 balance ${e.getMessage}") }
      // sorted frame grouped by a near-unique key: banded rankRep vs the
      // single-partition reduced-output window (forced via its threshold)
      def rankRep(maxWindowGroups: String): DataFrame = {
        spark.conf.set("graft.rankRep.maxWindowGroups", maxWindowGroups)
        sorted(li, "l_extendedprice").groupBy("l_orderkey")
          .reduceWith(Seq("s" -> F.sum(F.col("l_quantity")))).df
      }
      leg("xo12", "rankrep_banded")(rankRep("32768"))
      // few-key (4) rows-frame ops: the composed (key, chunk) plan vs the
      // plain keyed window, capped at 4 tasks
      leg("xo14", "rollingn_grouped")(Rolling.rollingN(grouped(li), 4, "l_quantity",
        x => F.sum(x), "r", partitionBy = Seq("g")).df)
      leg("xo14c", "cumsum_grouped")(
        Analytics.cumSum(grouped(li), "l_quantity", "cs", partitionBy = Seq("g")).df)
      leg("xo14cw", "cumsum_grouped_kw") {
        val fr = grouped(li)
        val w = Window.partitionBy(fr.df("g")).orderBy(fr.orderCols: _*)
          .rowsBetween(Window.unboundedPreceding, 0)
        fr.withCol("cs", F.sum(F.coalesce(fr.df("l_quantity"),
          F.lit(0).cast(fr.df.schema("l_quantity").dataType))).over(w)).df
      }
      leg("xo14w", "rollingn_grouped_kw") {
        val fr = grouped(li)
        val w = Window.partitionBy(fr.df("g")).orderBy(fr.orderCols: _*).rowsBetween(0, 3)
        fr.withCol("r", F.when(F.count(F.lit(1)).over(w) === 4,
          F.sum(fr.df("l_quantity")).over(w))).df
      }
      if (f == 1) leg("xo12w", "rankrep_window") {
        try rankRep("1000000000") finally spark.conf.set("graft.rankRep.maxWindowGroups", "32768")
      }
    }
  }
}
