package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.semantics.TadaFormat

/** Grouping + reducers (reference: groupers.go / groupers_autogen.go,
  * SURVEY.md §2.5–§2.6).
  *
  * Spark-first shape: a reduced group is `groupBy(keys).agg(...)` — one
  * shuffle with map-side partial aggregation; an `aligned` group is the
  * same aggregates `over Window.partitionBy(keys)` written back to every
  * row. tada's first-appearance group order (internal.go:1399-1424) is
  * reproduced by carrying `min(__ord)` per group as the result's hidden
  * ordinal — the groupBy shuffle already pays for it, no extra pass.
  */
final case class TadaGrouped(frame: TadaFrame, keys: Seq[String], aligned: Boolean,
                             stringified: Boolean = false) {
  import TadaFrame.ORD

  private def df = frame.df

  /** tada reducer → (output column, aggregate expr, window expr). Output
    * naming follows the reference: `{agg}_{col}` (groupers_autogen.go:46-48). */
  private def named(agg: String, col: String, e: Column): (String, Column) =
    (s"${agg}_$col", e)

  private def aggExpr(agg: String, n: String): Column = {
    val c = df(n)
    agg match {
      case "sum" => F.sum(c)
      case "mean" => F.avg(c)
      // exact median: sort-based, even count ⇒ mid-average (internal.go:2017-2037)
      case "median" => F.percentile(c, lit(0.5))
      // POPULATION σ, not Spark's default sample σ (internal.go:2042-2057)
      case "stdDev" => F.stddev_pop(c)
      case "count" => F.count(c)
      // distinct stringified non-null (internal.go:2076-2094)
      case "nunique" => F.countDistinct(TadaFormat.stringify(c, df.schema(n).dataType))
      case "min" => F.min(c)
      case "max" => F.max(c)
      case "earliest" => F.min(c)
      case "latest" => F.max(c)
      case other => throw new IllegalArgumentException(s"unknown reducer $other")
    }
  }

  import TadaGrouped.{GPOS, REP}

  /** Aggregate capturing each group's frame-order-FIRST row as a struct
    * of raw sort-key values + ingest ordinal (`min_by` over the in-group
    * position — the GPOS-minimal row IS the group's first appearance in
    * frame order). Sorted frames only. */
  private def repAgg(aug: DataFrame): Column =
    F.min_by(F.struct(frame.order.zipWithIndex.map { case (s, i) =>
      aug(s.name).as(s"k$i") } :+ aug(ORD).as("o"): _*), aug(GPOS)).as(REP)

  /** Per-CELL group-rep partial for the pivot fold (Reshape): like
    * [[repAgg]] but prefixed with the in-group position `g`, so the
    * overall group rep is `least()` of the cell partials — `g` is a
    * row_number within the group, unique across the group's cells, and
    * the struct comparison never reads past it. Exact over ALL rows
    * because the pivot core gives EVERY row a cell (excluded/null pivot
    * values land in a sentinel cell; ADVICE r15 high). The k/o fields
    * keep [[rankRep]]'s contract (it reads them by name; `g` is inert). */
  private[core] def cellRepAgg(aug: DataFrame): Column =
    F.min(F.struct(aug(GPOS).as("g") +: frame.order.zipWithIndex.map {
      case (s, i) => aug(s.name).as(s"k$i") } :+ aug(ORD).as("o"): _*))

  /** Group ordinal ranked on the REDUCED output (#groups rows): order
    * the captured representatives by the frame's sort spec (with its
    * cast images and nulls-last contract) tie-broken by ingest ordinal.
    * DISPATCHER (r19, closing the r18 audit's last data-shaped
    * single-partition window): for the common low/mid-cardinality
    * grouping, #groups is orders of magnitude below the corpus and a
    * dense `row_number` over the reduced frame ([[rankRepWindow]]) is
    * the right plan. But a SORTED frame grouped by a NEAR-UNIQUE key
    * ("sort by timestamp, group by user_id") ranks a corpus-sized
    * reduced frame in ONE partition — so when the memoized group-key
    * HLL says #groups exceeds [[TadaGrouped.RankRepMaxWindowGroups]]
    * (conf-overridable `graft.rankRep.maxWindowGroups`), the rep fields
    * are instead materialized through the banded chunked ordinal
    * ([[rankRepBanded]] → `Prefix.materializeOrd`: order-monotone value
    * chunks + partition-local row_number, one hash exchange). The gate
    * reads the SOURCE frame (map-side HLL, memoized) because the banded
    * path's bounds job executes the aggregation subtree once extra —
    * worth one corpus agg pass to avoid a single-thread corpus sort,
    * not worth it for a 50-group reduce. Unsorted groupings never come
    * here (they ride the free ingest ordinal). */
  private[core] def rankRep(res: DataFrame): DataFrame = {
    val big = frame.order.nonEmpty &&
      groupCountEstimate.exists(_ > rankRepMaxWindowGroups)
    val banded = if (big) rankRepBanded(res) else None
    Dispatch.note("rankRep", if (banded.isDefined) "banded" else "window")
    banded.getOrElse(rankRepWindow(res))
  }

  /** The reduced-output window form: a dense 1..#groups ordinal from a
    * single-partition `row_number` — exact and cheap at vocabulary-sized
    * group counts; the semantic oracle for [[rankRepBanded]]. */
  private[core] def rankRepWindow(res: DataFrame): DataFrame = {
    val ord = frame.order.zipWithIndex.map { case (s, i) =>
      val c0 = res(REP).getField(s"k$i")
      val c = s.cast.map(c0.cast).getOrElse(c0)
      if (s.descending) c.desc_nulls_last else c.asc_nulls_last
    } :+ res(REP).getField("o").asc
    res.withColumn(ORD, F.row_number().over(Window.orderBy(ord: _*)).cast(LongType))
      .drop(REP)
  }

  /** The banded form: re-enter the reduced frame as a TadaFrame sorted
    * by the rep's raw key fields (same casts/directions as the frame's
    * spec) with the rep's ingest ordinal as the `__ord` tiebreak, and
    * let [[Prefix.materializeOrd]] assign the banded chunked ordinal
    * `(chunk << 33) | row-in-chunk` — value-identical ORDER to the
    * window form's dense ordinal (order consumers only compare
    * ordinals, never assume density; GroupOrderSpec pins equality).
    * Band bookkeeping: rep.o carries the source's band bits in its high
    * bits (appended frames), which only feed the within-chunk ORDER —
    * the output ordinal's chunk comes from the VALUE axis and stays
    * under 2^53, inside the `bands` claim the result frame inherits, so
    * a later append still lands strictly above (the same argument as
    * `TadaFrame.anchored`, spec-pinned on append fixtures). None when
    * no chunking exists for the first rep key (imageless type, bounds
    * job failure) — the caller keeps the window form. */
  private def rankRepBanded(res: DataFrame): Option[DataFrame] = {
    val kcols = frame.order.indices.map(i => s"__rr_k$i")
    val aug0 = res.withColumn(ORD, res(REP).getField("o"))
    val aug = frame.order.zipWithIndex.foldLeft(aug0) { case (d, (s, i)) =>
      d.withColumn(s"__rr_k$i", res(REP).getField(s"k$i"))
    }
    val sorters = frame.order.zipWithIndex.map { case (s, i) =>
      s.copy(name = s"__rr_k$i") }
    val tmp = TadaFrame(aug, labels = Nil, order = sorters, bands = frame.bands)
    Prefix.materializeOrd(tmp).map { d =>
      d.withColumn(ORD, d(Prefix.MATORD))
        .drop((Prefix.MATORD +: kcols) :+ REP: _*)
    }
  }

  /** Memoized HLL estimate of this grouping's group count on the SOURCE
    * frame — the [[rankRep]] dispatch signal. Stringified groupings
    * count the stringified row key (the thing they group by). */
  private def groupCountEstimate: Option[Double] = {
    val keyCol =
      if (stringified)
        TadaFormat.rowKey(keys.map(n => (df(n), df.schema(n).dataType)))
      else if (keys.size == 1) df(keys.head)
      else F.struct(keys.map(df(_)): _*)
    Estimates.approxDistinct(df.select(keyCol.as("__pfx_k")))
  }

  private def rankRepMaxWindowGroups: Double =
    Knobs.double(df.sparkSession, "graft.rankRep.maxWindowGroups",
      TadaGrouped.RankRepMaxWindowGroups)

  /** Positional pick per group in frame order: First/Last/Nth with
    * negative-from-end and OOB⇒null (groupers.go:188-200, 824-868).
    * Spark's `first()` is order-nondeterministic — instead rank rows
    * within each group by the frame's order spec and aggregate the single
    * row at the requested position (`max(when(pos match, v))` — null when
    * out of bounds). One window + one groupBy, same shuffle key. */
  def positional(picks: Seq[(String, String, Int)]): TadaFrame = {
    // SORTED frames: group order (and in-group positions) follow the
    // sort — first appearance in FRAME order (internal.go:1399-1424).
    // r14: no global ordinal recompute (the r13 form ranked the whole
    // frame through an empty-partition row_number). In-group positions
    // come straight from the PARTITION-LOCAL window (hash-partitioned by
    // the group keys, sorted inside each partition by the frame's order
    // spec), and the group ordinal is ranked on the reduced output via
    // repAgg/rankRep.
    val srcKeys = keys.map(df(_))
    val w = Window.partitionBy(srcKeys: _*).orderBy(frame.orderCols: _*)
    val wAll = Window.partitionBy(srcKeys: _*)
    val aug = df
      .withColumn(GPOS, F.row_number().over(w))
      .withColumn("__gcnt", F.count(lit(1)).over(wAll))
    // min(__ord) keeps each group's ordinal inside the source's band
    // range, so consumed bands carry over (a later append must not reuse)
    val ordAgg = if (frame.order.isEmpty) F.min(aug(ORD)).as(ORD) else repAgg(aug)
    val aggs = ordAgg +: picks.map { case (out, n, pos) =>
      val target = if (pos >= 0) lit(pos + 1) else aug("__gcnt") + lit(pos + 1)
      F.max(F.when(aug(GPOS) === target, aug(n))).as(out)
    }
    val res0 = aug.groupBy(keys.map(aug(_)): _*).agg(aggs.head, aggs.tail: _*)
    val res = if (frame.order.isEmpty) res0 else rankRep(res0)
    TadaFrame(res, labels = keys, name = frame.name, order = Nil, bands = frame.bands)
  }

  private def keyExprs: Seq[Column] = keys.map(df(_))

  /** Reduce mode: one row per group, keys become the result's labels,
    * group order = first appearance via min(__ord). */
  private def reduce(cols: Seq[String], agg: String): TadaFrame =
    reduceWith(cols.map(n => named(agg, n, aggExpr(agg, n))))

  def reduceWith(outs: Seq[(String, Column)]): TadaFrame = {
    if (aligned) return alignWith(outs)
    // group order = first appearance in FRAME order (internal.go:1399-1424).
    // Unsorted frames ride the free ingest ordinal. Sorted frames (r14):
    // in-group order comes from a PARTITION-LOCAL window over the group
    // key, and the group ordinal is ranked on the reduced output
    // (repAgg/rankRep — see positional); the r13 form recomputed the
    // ordinal with an empty-partition row_number over the whole frame.
    val sorted = frame.order.nonEmpty
    if (stringified) {
      // tada's load-bearing contract (§1.5): the group key is the "|"-
      // joined stringified row — values from different containers that
      // happen to concatenate equally DO collide, exactly as in the
      // reference. Output labels take each group's first original values.
      val key = TadaFormat.rowKey(keys.map(n => (df(n), df.schema(n).dataType)))
      val srcDf =
        if (!sorted) df
        else df.withColumn(GPOS, F.row_number().over(
          Window.partitionBy(key).orderBy(frame.orderCols: _*)))
      val ordVal = if (sorted) srcDf(GPOS) else srcDf(ORD)
      val labelAggs = keys.map(n => F.min_by(srcDf(n), ordVal).as(n))
      val ordAgg = if (sorted) repAgg(srcDf) else F.min(srcDf(ORD)).as(ORD)
      val aggs = (ordAgg +: labelAggs) ++ outs.map { case (n, e) => e.as(n) }
      val res0 = srcDf.groupBy(key.as("__key")).agg(aggs.head, aggs.tail: _*).drop("__key")
      val res = if (sorted) rankRep(res0) else res0
      TadaFrame(res, labels = keys, name = frame.name, order = Nil, bands = frame.bands)
    } else {
      val srcDf =
        if (!sorted) df
        else df.withColumn(GPOS, F.row_number().over(
          Window.partitionBy(keys.map(df(_)): _*).orderBy(frame.orderCols: _*)))
      val ordAgg = if (sorted) repAgg(srcDf) else F.min(srcDf(ORD)).as(ORD)
      val aggs = ordAgg +: outs.map { case (n, e) => e.as(n) }
      val res0 = srcDf.groupBy(keys.map(srcDf(_)): _*).agg(aggs.head, aggs.tail: _*)
      val res = if (sorted) rankRep(res0) else res0
      TadaFrame(res, labels = keys, name = frame.name, order = Nil, bands = frame.bands)
    }
  }

  /** Align mode (groupers.go:202-228): the aggregate broadcast back to
    * every original row. The window form (`e.over(partitionBy(keys))`,
    * zero extra joins) is right at HIGH key cardinality, where each
    * buffered partition is small — but WindowExec buffers a key's
    * ENTIRE partition per task, so a few-key align over a corpus is a
    * handful of corpus-sized buffers on a handful of tasks (the q14
    * buffer story on the align axis; r20, same family as the composed
    * grouped prefix ops). Few keys (memoized HLL under the partition
    * count — the shared [[Prefix.fewKeys]] gate) instead aggregate
    * through a map-side-combined hash groupBy (full scan parallelism,
    * constant agg state) and broadcast the ≤#groups-row result back
    * NULL-SAFELY (raw-column grouping puts null keys in one group in
    * BOTH forms, and a plain equi-join would silently null exactly that
    * group's aggregates). */
  private def alignWith(outs: Seq[(String, Column)]): TadaFrame =
    if (outs.isEmpty) frame
    else if (Prefix.fewKeys(frame, keys)) {
      Dispatch.note("align", "aggJoin")
      val aggd = df.groupBy(keyExprs: _*)
        .agg(outs.head._2.as("__al0"),
          outs.tail.zipWithIndex.map { case ((_, e), i) => e.as(s"__al${i + 1}") }: _*)
      val tiny = keys.zipWithIndex.foldLeft(aggd) { case (d, (k, i)) =>
        d.withColumnRenamed(k, s"__alk$i") }
      val cond = keys.zipWithIndex.map { case (k, i) =>
        df(k) <=> tiny(s"__alk$i") }.reduce(_ && _)
      val joined = df.join(F.broadcast(tiny), cond, "left")
      // replace-or-append per output name — the withCol layout contract
      val outIdx = outs.map(_._1).zipWithIndex.toMap
      val kept = df.columns.toSeq.map { c =>
        outIdx.get(c).map(i => F.col(s"__al$i").as(c)).getOrElse(joined(c)) }
      val appended = outs.zipWithIndex.collect {
        case ((n, _), i) if !df.columns.contains(n) => F.col(s"__al$i").as(n) }
      frame.copy(df = joined.select(kept ++ appended: _*))
    } else {
      Dispatch.note("align", "window")
      val w = Window.partitionBy(keyExprs: _*)
      outs.foldLeft(frame) { case (f, (n, e)) => f.withCol(n, e.over(w)) }
    }

  def align: TadaGrouped = copy(aligned = true)

  def sum(cols: String*): TadaFrame = reduce(cols, "sum")
  def mean(cols: String*): TadaFrame = reduce(cols, "mean")

  /** Exact grouped median — DISPATCHER (r18, the rankDenseByValue
    * discipline on the aggregate axis). The `percentile(c, 0.5)` agg is
    * exact but buffers EVERY group value in the final agg task: its
    * parallelism is #groups and its memory is the group's size — on
    * lineitem's 3-4 return flags at the 100× probe that is ~20M doubles
    * per task. For a LOW-CARDINALITY value domain the same number is a
    * function of per-value counts alone, so ≤[[TadaGrouped.MedianVocabCap]]
    * approx-distinct numeric columns (memoized session job — never
    * load-bearing) route to [[medianByValue]] — sorted frames included
    * (r18: the group-order contract rides the same repAgg/rankRep path
    * as [[reduceWith]]); stringified/aligned reduces and
    * high-cardinality or non-numeric columns keep the percentile-agg
    * form. Both forms produce bit-identical doubles (GroupOrderSpec
    * pins it). */
  def median(cols: String*): TadaFrame =
    if (!aligned && !stringified &&
        cols.nonEmpty && cols.forall(medianByValueEligible)) {
      Dispatch.note("median", "byValue")
      medianByValue(cols)
    } else {
      Dispatch.note("median", "agg")
      reduce(cols, "median")
    }

  private def medianByValueEligible(c: String): Boolean =
    df.schema(c).dataType.isInstanceOf[NumericType] && {
      Estimates.stats(
        df.select(df(c).cast(DoubleType).as("__pfx_k"))) match {
        case Some((_, _, d)) => d <= TadaGrouped.MedianVocabCap
        case None => false
      }
    }

  /** Exact grouped median through per-(group, value) COUNTS: count rows
    * per (group, value) — one shuffle, map-side combinable, no value
    * buffers — cumulative-count the vocabulary inside each group
    * (window over the tiny (groups × vocabulary) frame), pick the two
    * values covering sorted positions floor/ceil(0.5·(n−1)), and
    * interpolate with Spark Percentile's exact expression
    * `(hi − pos)·v_lo + (pos − lo)·v_hi` — NOT `(v_lo + v_hi)/2`, whose
    * different rounding could drift an ULP from the agg form. Nulls are
    * excluded from counts (all-null group ⇒ null median, the agg
    * contract); NaN sorts above every value and poisons interpolation
    * identically in both forms. −0.0 edge (r18 ADVICE): the groupBy here
    * normalizes −0.0 to 0.0 (NormalizeFloatingNumbers) while the
    * Percentile agg buffers raw values and can return −0.0 — a group
    * whose median is exactly −0.0 yields 0.0 vs −0.0: numerically equal
    * (== and SQL =), differing only under stringified/bit comparisons
    * (GroupOrderSpec pins the fixture). Final-stage parallelism is
    * #groups × vocabulary — never group-sized buffers. */
  private def medianByValue(cols: Seq[String]): TadaFrame = {
    // group identity + first-appearance order: the reduceWith contract
    // verbatim — ingest ordinal for unsorted frames, the repAgg/rankRep
    // representative ranking for sorted ones (r18)
    val sorted = frame.order.nonEmpty
    val srcDf =
      if (!sorted) df
      else df.withColumn(GPOS, F.row_number().over(
        Window.partitionBy(keys.map(df(_)): _*).orderBy(frame.orderCols: _*)))
    val ordAgg = if (sorted) repAgg(srcDf) else F.min(srcDf(ORD)).as(ORD)
    val base0 = srcDf.groupBy(keys.map(srcDf(_)): _*).agg(ordAgg)
    val base = if (sorted) rankRep(base0) else base0
    val joined = cols.foldLeft(base) { (acc, c) =>
      val v = df(c).cast(DoubleType)
      val cnt = df.filter(df(c).isNotNull)
        .groupBy(keys.map(df(_)) :+ v.as("__mv_v"): _*)
        .agg(F.count(F.lit(1)).as("__mv_n"))
      val wCum = Window.partitionBy(keys.map(F.col): _*)
        .orderBy(F.col("__mv_v").asc).rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(keys.map(F.col): _*)
      val scored = cnt
        .withColumn("__mv_cum", F.sum("__mv_n").over(wCum))
        .withColumn("__mv_tot", F.sum("__mv_n").over(wAll))
      // value v covers sorted positions [cum − n, cum − 1] (0-based)
      val pos = (F.col("__mv_tot") - 1L).cast(DoubleType) / 2.0
      val lo = F.floor(pos)
      val hi = F.ceil(pos)
      val prev = F.col("__mv_cum") - F.col("__mv_n")
      val med = scored.groupBy(keys.map(F.col): _*).agg(
        F.max(F.when(prev <= lo && lo <= F.col("__mv_cum") - 1, F.col("__mv_v"))).as("__mv_lo"),
        F.max(F.when(prev <= hi && hi <= F.col("__mv_cum") - 1, F.col("__mv_v"))).as("__mv_hi"),
        F.max(F.col("__mv_tot")).as("__mv_tN"))
      val posA = (F.col("__mv_tN") - 1L).cast(DoubleType) / 2.0
      val loA = F.floor(posA).cast(DoubleType)
      val hiA = F.ceil(posA).cast(DoubleType)
      val medE = F.when(loA === hiA || F.col("__mv_lo") === F.col("__mv_hi"),
          F.col("__mv_lo"))
        .otherwise((hiA - posA) * F.col("__mv_lo") + (posA - loA) * F.col("__mv_hi"))
      val medR = med.select(keys.zipWithIndex.map { case (k, i) =>
        F.col(k).as(s"__mv_k$i") } :+ medE.as(s"median_$c"): _*)
      // null group KEYS are legitimate groups — join null-safely (the
      // rankDenseByValue join-key contract)
      val cond = keys.zipWithIndex.map { case (k, i) =>
        acc(k) <=> medR(s"__mv_k$i") }.reduce(_ && _)
      acc.join(medR, cond, "left")
        .drop(keys.indices.map(i => s"__mv_k$i"): _*)
    }
    TadaFrame(joined, labels = keys, name = frame.name, order = Nil,
      bands = frame.bands)
  }
  def stdDev(cols: String*): TadaFrame = reduce(cols, "stdDev")
  def count(cols: String*): TadaFrame = reduce(cols, "count")
  def nUnique(cols: String*): TadaFrame = reduce(cols, "nunique")
  def min(cols: String*): TadaFrame = reduce(cols, "min")
  def max(cols: String*): TadaFrame = reduce(cols, "max")
  def earliest(cols: String*): TadaFrame = reduce(cols, "earliest")
  def latest(cols: String*): TadaFrame = reduce(cols, "latest")

  def first(cols: String*): TadaFrame =
    positional(cols.map(n => (s"first_$n", n, 0)))
  def last(cols: String*): TadaFrame =
    positional(cols.map(n => (s"last_$n", n, -1)))
  def nth(pos: Int, cols: String*): TadaFrame =
    positional(cols.map(n => (s"nth_$n", n, pos)))

  /** HavingCount (groupers.go:232-254, 595-615): drop groups failing a
    * count predicate; counts include nulls (count(*) not F.count(col)).
    * The reference returns the GROUPED frame (all containers, only
    * surviving groups) so further reducers can chain — reproduced here as
    * a grouped view over the frame filtered to surviving groups. One
    * window count shares the grouping's hash partitioning; no join. */
  def havingCount(pred: Column => Column): TadaGrouped =
    if (Prefix.fewKeys(frame, keys)) {
      // few keys (r20, the alignWith argument): the window count buffers
      // each key's whole partition on one task — count through a
      // map-side-combined groupBy instead and broadcast-join the
      // surviving groups back null-safely (null keys form a group)
      Dispatch.note("having", "aggJoin")
      val counts = df.groupBy(keyExprs: _*).agg(F.count(lit(1)).as("__having_cnt"))
        .filter(pred(col("__having_cnt")))
      val tiny = keys.zipWithIndex.foldLeft(counts) { case (d, (k, i)) =>
        d.withColumnRenamed(k, s"__hck$i") }.drop("__having_cnt")
      val cond = keys.zipWithIndex.map { case (k, i) =>
        df(k) <=> tiny(s"__hck$i") }.reduce(_ && _)
      val kept = df.join(F.broadcast(tiny), cond, "leftsemi")
      copy(frame = frame.copy(df = kept))
    } else {
      Dispatch.note("having", "window")
      val w = Window.partitionBy(keyExprs: _*)
      val kept = frame.withCol("__having_cnt", F.count(lit(1)).over(w))
        .filter(pred(col("__having_cnt"))).dropCols("__having_cnt")
      copy(frame = kept)
    }

  /** The grouped VIEW in the reference's printed form (a GroupedSeries/
    * GroupedDataFrame prints its rows regrouped — groupers.go print via
    * the Example corpus): each group's rows sit together, groups in
    * first-appearance FRAME order, original order within each group.
    *
    * r14: fully chunked. Pass 1 anchors the frame order into the banded
    * ordinal (TadaFrame.anchored — chunked for bucketable sort keys);
    * pass 2 takes each group's first-appearance ordinal via a
    * PARTITION-LOCAL min window and re-anchors with `__gord` as a
    * numeric sort key — always width-bucketable, so the target total
    * order (group first appearance, then frame order) materializes
    * through the same chunked plan, never an empty-partition
    * row_number over the data. */
  def arranged: TadaFrame = {
    val f0 = frame.anchored
    val df0 = f0.df
    val withGord = df0.withColumn("__gord",
      F.min(df0(ORD)).over(Window.partitionBy(keys.map(df0(_)): _*)))
    val ranked = f0.copy(df = withGord, order = Seq(Sorter("__gord"))).anchored
    ranked.copy(df = ranked.df.drop("__gord"), order = Nil)
  }

  /** Grouped Apply (GroupedSeries.Apply groupers.go:230-260): an
    * elementwise transform per group. Builders receive the group window
    * so transforms can mix row values with group aggregates (the
    * reference's ApplyFn sees the whole group slice). Align mode keeps
    * original rows/labels/order; grouped mode arranges rows into group
    * order and keeps only the group keys as labels — the reference's
    * grouped-series shape (`g.Apply(fn).Series()`). */
  def applyExpr(outs: (String, WindowSpec => Column)*): TadaFrame = {
    val w = Window.partitionBy(keyExprs: _*)
    val f2 = outs.foldLeft(frame) { case (f, (n, b)) => f.withCol(n, b(w)) }
    if (aligned) f2
    else {
      val arr = copy(frame = f2).arranged
      val dropLabels = frame.labels.filterNot(keys.contains)
      arr.copy(labels = keys.filter(f2.labels.contains),
        df = arr.df.drop(dropLabels: _*))
    }
  }

  def getGroup(values: Map[String, Any]): TadaFrame = frame.filterByValue(values)

  /** Custom slice→scalar reduce (tada ReduceFn types.go:201-204): typed
    * Aggregator path for real pipelines; column-expression path here. */
  def reduceExpr(outName: String, e: Column): TadaFrame = reduceWith(Seq(outName -> e))
}

object TadaGrouped {
  private[core] val GPOS = "__gpos"
  private[core] val REP = "__grep"

  /** Approx-distinct cap under which [[TadaGrouped.median]] dispatches
    * to the by-value counting plan — THE shared vocabulary threshold
    * ([[Prefix.VocabCap]], r19): the same "vocabulary vs corpus"
    * question as Analytics' rank dispatch and Prefix.lowCardChunk. */
  private[graft] val MedianVocabCap = Prefix.VocabCap

  /** Estimated group count above which [[TadaGrouped.rankRep]] abandons
    * the single-partition reduced-output window for the banded chunked
    * ordinal. Break-even: the banded path pays one extra execution of
    * the aggregation subtree (the bounds job over the reduced frame),
    * the window path pays a one-thread sort of #groups rows buffered in
    * one task. Conf-overridable (`graft.rankRep.maxWindowGroups`). */
  private[graft] val RankRepMaxWindowGroups = 32768.0
}

/** Rolling windows (groupers.go:295-345) — per-row groups over following
  * rows. Spark-native: rows/range frames over the frame's order. */
object Rolling {
  import TadaFrame.ORD

  /** RollingN(n): current + following n-1 rows; incomplete tail windows
    * reduce to null (groupers.go:295-314 — short window ⇒ empty group).
    * `partitionBy` is the scale path: keyed windows parallelize. The
    * whole-frame form dispatches to [[Prefix.rollingN]] (chunked head-
    * carry plan, r14); [[rollingNWindow]] is the sequential reference
    * form and the non-chunkable fallback. */
  def rollingN(f: TadaFrame, n: Int, colName: String, agg: Column => Column,
               out: String, partitionBy: Seq[String] = Nil,
               finish: Column => Column = identity): TadaFrame =
    if (partitionBy.isEmpty)
      Prefix.rollingN(f, n, colName, agg, out, finish)(
        rollingNWindow(f, n, colName, agg, out, finish))
    else {
      // keyed dispatch (r20, r19 verdict item 5): few keys compose with
      // the chunked head-carry plan (key, chunk) — the keyed window's
      // parallelism is otherwise capped at #keys (the xo14 probe shape)
      def keyed: TadaFrame = {
        val w = Window.partitionBy(partitionBy.map(f.df(_)): _*)
          .orderBy(f.orderCols: _*).rowsBetween(0, n - 1)
        val c = f.df(colName)
        val complete = F.count(lit(1)).over(w) === n
        f.withCol(out, F.when(complete, finish(agg(c).over(w))).otherwise(lit(null)))
      }
      if (Prefix.fewKeys(f, partitionBy))
        Prefix.rollingN(f, n, colName, agg, out, finish, partitionBy)(keyed)
      else { Dispatch.note("rollingN", "keyedWindow"); keyed }
    }

  /** Sequential whole-frame RollingN — one global window; semantic
    * oracle for [[Prefix.rollingN]] and the no-chunking fallback. */
  private[graft] def rollingNWindow(f: TadaFrame, n: Int, colName: String,
                                    agg: Column => Column, out: String,
                                    finish: Column => Column = identity): TadaFrame = {
    val w = f.globalWindow.rowsBetween(0, n - 1)
    val c = f.df(colName)
    val complete = F.count(lit(1)).over(w) === n
    f.withCol(out, F.when(complete, finish(agg(c).over(w))).otherwise(lit(null)))
  }

  /** RollingDuration(d): subsequent rows within [t, t+d) — left-inclusive
    * right-exclusive (internal.go:2410-2421) ⇒ range frame on microseconds
    * [0, d-1µs]. The whole-frame form (empty `partitionBy`) dispatches to
    * [[rollingDurationChunked]] (r18 — time-bucket plan, no
    * single-partition range window); [[rollingDurationWindow]] is the
    * sequential reference form and the fallback. KEYED form (r19, r18
    * verdict item 6): the keyed range window parallelizes by key, which
    * is the right plan at high key cardinality but caps parallelism at
    * #keys for few-key groupings (3 user segments = 3 partitions — the
    * q14 buffer story on the window axis); when the memoized key HLL
    * says #keys < the configured partition count, the time-bucket plan
    * composes with the keys (tag = (keys, bucket)) through the same
    * chunked path. */
  def rollingDuration(f: TadaFrame, tsCol: String, micros: Long, valCol: String,
                      agg: Column => Column, out: String,
                      partitionBy: Seq[String] = Nil,
                      finish: Column => Column = identity): TadaFrame =
    if (partitionBy.isEmpty)
      rollingDurationChunked(f, tsCol, micros, valCol, agg, out, Nil, finish) {
        Dispatch.note("rollingDuration", "window")
        rollingDurationWindow(f, tsCol, micros, valCol, agg, out, finish)
      }
    else {
      def keyed: TadaFrame = {
        Dispatch.note("rollingDuration", "keyedWindow")
        rollingDurationKeyedWindow(f, tsCol, micros, valCol, agg, out,
          partitionBy, finish)
      }
      val kConf = f.df.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "200").toInt.max(1)
      val dKeys = Estimates.approxDistinct(
        f.df.select(F.struct(partitionBy.map(f.df(_)): _*).as("__pfx_k")))
      if (dKeys.exists(_ < kConf))
        rollingDurationChunked(f, tsCol, micros, valCol, agg, out,
          partitionBy, finish)(keyed)
      else keyed
    }

  /** The keyed range-window form — parallel by key; the
    * high-key-cardinality default and the semantic oracle for the
    * composed (keys, bucket) time-bucket plan. */
  private[graft] def rollingDurationKeyedWindow(f: TadaFrame, tsCol: String,
      micros: Long, valCol: String, agg: Column => Column, out: String,
      partitionBy: Seq[String], finish: Column => Column = identity): TadaFrame = {
    val us = Prefix.tsMicros(f.df(tsCol), f.df.schema(tsCol).dataType)
    val w = Window.partitionBy(partitionBy.map(f.df(_)): _*).orderBy(us)
      .rangeBetween(0, micros - 1)
    f.withCol(out, finish(agg(f.df(valCol)).over(w)))
  }

  /** Sequential whole-frame RollingDuration — one global range window;
    * semantic oracle for [[rollingDurationChunked]] and the fallback. */
  private[graft] def rollingDurationWindow(f: TadaFrame, tsCol: String,
                                           micros: Long, valCol: String,
                                           agg: Column => Column, out: String,
                                           finish: Column => Column = identity): TadaFrame = {
    val w = Window.orderBy(Prefix.tsMicros(f.df(tsCol),
      f.df.schema(tsCol).dataType)).rangeBetween(0, micros - 1)
    f.withCol(out, finish(agg(f.df(valCol)).over(w)))
  }

  /** RollingDuration, chunked TIME-BUCKET plan (r18; generalized to
    * keyed groupings r19): a range frame is VALUE-based (the window of
    * a row at time t is exactly the rows with ts ∈ [t, t+d), no
    * tie-order dependence), so the time axis chunks like Prefix's sort
    * keys. Bucket the epoch-micros axis at ~EQUI-DEPTH quantile
    * boundaries thinned to ≥ 2d spacing (r19, r18 verdict item 2:
    * equi-width spans of [min, max] collapsed a bursty axis — one hot
    * hour in a year-long span — into one bucket; memoized
    * `approx_percentile` boundaries adapt to density while the 2d
    * thinning keeps every bucket's span ≥ 2d, and approximation error
    * only unbalances buckets), replicate each row to its own bucket's
    * tag AND the previous bucket's tag, run the SAME range window
    * inside each (keys, tag) partition — every window starting in
    * bucket j ends strictly inside buckets {j, j+1} because every
    * bucket spans ≥ 2d ≥ d, and both copies sit in tag j — and keep
    * each row's own-tag copy. One hash exchange + 2× in-flight
    * duplication replaces the global (or few-key) sort. COMMUTATIVE
    * aggregates only (window row SETS are identical but evaluation
    * order differs — the [[Prefix.rollingN]] gate, reused); null-ts
    * rows share one dedicated tag per key so the window form's
    * null-peer semantics carry over. Falls back to `window` when the
    * span keeps < 2 buckets after thinning, the aggregate is not
    * provably commutative, or the bounds job failed. */
  def rollingDurationChunked(f: TadaFrame, tsCol: String, micros: Long,
                             valCol: String, agg: Column => Column,
                             out: String, partCols: Seq[String] = Nil,
                             finish: Column => Column = identity)(
      window: => TadaFrame): TadaFrame = {
    if (micros <= 0 || !Prefix.commutativeAgg(f, valCol, agg)) return window
    val usD = Prefix.tsMicros(f.df(tsCol), f.df.schema(tsCol).dataType)
      .cast(DoubleType)
    val kConf = f.df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt.max(1)
    Estimates.quantStats(f.df.select(usD.as("__pfx_k")), kConf) match {
      case Some((Some(mn), Some(mx), _, qs)) if mx > mn =>
        // keep a quantile boundary only when it sits ≥ 2d from the last
        // kept boundary AND ≥ 2d inside the max — every bucket,
        // including the first and last, then spans ≥ 2d
        val bounds = {
          val b = Array.newBuilder[Double]
          var prevB = mn
          qs.foreach { q =>
            if (q - prevB >= 2.0 * micros && mx - q >= 2.0 * micros) {
              b += q; prevB = q
            }
          }
          b.result()
        }
        val nb = bounds.length // finite buckets 0..nb; null tag nb+1
        if (nb < 1) window
        else {
          Dispatch.note("rollingDuration",
            if (partCols.isEmpty) "chunked" else "keyedChunked")
          val TAG = "__rd_t"
          val OWN = "__rd_o"
          // O(log k) native binary search (BoundaryBucket) instead of the
          // O(k) size(filter(...)) array scan — same hot-path argument as
          // Analytics.valueAxis (ts micros are integral: no -0.0/NaN)
          graft.exprs.GraftFunctions.register(f.df.sparkSession)
          val bucket = F.call_function("boundary_bucket", usD, F.lit(bounds))
          val tagged = f.df.withColumn(OWN,
            F.when(usD.isNull, F.lit(nb + 1L)).otherwise(bucket))
          // prev copies serve the windows that START one bucket back;
          // bucket-0 rows have no predecessor and the null tag (nb+1)
          // must not leak into a numeric bucket's window.
          // The union reads the input twice (two FileScans). An explode
          // of each row's 1–2 tags emits the same (row, TAG) multiset
          // from one scan, but measured ~0.5 s slower at sf0.1: a single
          // parquet split lets the union's two branches scan in parallel
          // while explode serializes tag generation on one task.
          val own = tagged.withColumn(TAG, F.col(OWN))
          val prev = tagged.withColumn(TAG, F.col(OWN) - 1L)
            .filter(F.col(OWN) >= 1L && F.col(OWN) <= nb.toLong)
          val both = own.unionByName(prev)
          val w = Window
            .partitionBy(partCols.map(F.col) :+ F.col(TAG): _*)
            .orderBy(Prefix.tsMicros(F.col(tsCol), f.df.schema(tsCol).dataType))
            .rangeBetween(0, micros - 1)
          val res = both.withColumn(out, finish(agg(F.col(valCol)).over(w)))
            .filter(F.col(TAG) === F.col(OWN))
            .drop(TAG, OWN)
          // out replaces an existing column in place, or appends — the
          // Prefix.finish layout contract
          val cols =
            if (f.df.columns.contains(out)) f.df.columns.map(F.col).toSeq
            else f.df.columns.map(F.col).toSeq :+ F.col(out)
          f.copy(df = res.select(cols: _*))
        }
      case _ => window // all-null ts or bounds job failed
    }
  }
}
