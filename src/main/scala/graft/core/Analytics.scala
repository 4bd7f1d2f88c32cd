package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Whole-series analytics (SURVEY.md §2.6): cumsum, shift, dense rank,
  * exclusive percentile, bin, percentile-bin, resample.
  *
  * Whole-series rank/percentile/cumsum are order-global by definition —
  * the reference runs single-threaded over the full column. Here they are
  * single-partition window functions (documented); every operator also
  * takes optional partition columns so the scaled form
  * (per-group analytics over a keyed window) is the same code path.
  */
object Analytics {
  import TadaFrame.ORD

  /** Day-shift that maps `weekStart` onto Monday: (8 − isoDay) mod 7.
    * All seven weekdays accepted, mirroring the reference's
    * `time.Weekday` switch (internal.go:2432-2438). */
  def weekStartShift(weekStart: String): Int = {
    val iso = Map("MONDAY" -> 1, "TUESDAY" -> 2, "WEDNESDAY" -> 3,
      "THURSDAY" -> 4, "FRIDAY" -> 5, "SATURDAY" -> 6, "SUNDAY" -> 7)
    val d = iso.getOrElse(weekStart.toUpperCase,
      throw new IllegalArgumentException(s"weekStart $weekStart"))
    (8 - d) % 7
  }

  private def win(f: TadaFrame, partitionBy: Seq[String]): WindowSpec =
    if (partitionBy.isEmpty) f.globalWindow
    else Window.partitionBy(partitionBy.map(f.df(_)): _*).orderBy(f.orderCols: _*)

  /** CumSum (internal.go:2173-2183): nulls contribute 0, result never null.
    * The whole-frame form (empty `partitionBy`) dispatches to
    * [[Prefix.cumSum]]'s chunked-prefix plan — no single-partition
    * WindowExec; [[cumSumWindow]] is the sequential reference form.
    * Float note: chunked double summation can differ from the sequential
    * form in the last ULP (addition regrouping); integral types exact. */
  def cumSum(f: TadaFrame, c: String, out: String,
             partitionBy: Seq[String] = Nil): TadaFrame =
    if (partitionBy.isEmpty) Prefix.cumSum(f, c, out)(cumSumWindow(f, c, out))
    else {
      // keyed dispatch (r20, r19 verdict item 5): the keyed window
      // parallelizes by key — right at high key cardinality, a
      // #keys-task cap for few-key groupings (the xo14 probe shape) —
      // so few keys compose with the chunked prefix (key, chunk) plan
      def keyed: TadaFrame = {
        val w = win(f, partitionBy).rowsBetween(Window.unboundedPreceding, 0)
        val zero = F.lit(0).cast(f.df.schema(c).dataType)
        f.withCol(out, F.sum(F.coalesce(f.df(c), zero)).over(w))
      }
      if (Prefix.fewKeys(f, partitionBy))
        Prefix.cumSum(f, c, out, partitionBy)(keyed)
      else { Dispatch.note("cumSum", "keyedWindow"); keyed }
    }

  /** Sequential whole-frame CumSum — the reference's exact evaluation
    * order as one global window. Single-partition by construction; kept
    * as the semantic oracle for [[Prefix.cumSum]] (AnalyticsSpec equality)
    * and as the fallback when no deterministic chunking exists. */
  def cumSumWindow(f: TadaFrame, c: String, out: String): TadaFrame = {
    val w = f.globalWindow.rowsBetween(Window.unboundedPreceding, 0)
    val zero = F.lit(0).cast(f.df.schema(c).dataType)
    f.withCol(out, F.sum(F.coalesce(f.df(c), zero)).over(w))
  }

  /** Shift(n) (internal.go:1141-1155): value from n rows back, else null.
    * Whole-frame form dispatches to [[Prefix.shift]] (chunked carry plan);
    * [[shiftWindow]] is the sequential reference form. */
  def shift(f: TadaFrame, c: String, n: Int, out: String,
            partitionBy: Seq[String] = Nil): TadaFrame =
    if (partitionBy.isEmpty) Prefix.shift(f, c, n, out)(shiftWindow(f, c, n, out))
    else {
      // keyed dispatch — same few-keys composition as cumSum (r20)
      def keyed: TadaFrame =
        f.withCol(out, F.lag(f.df(c), n).over(win(f, partitionBy)))
      if (Prefix.fewKeys(f, partitionBy))
        Prefix.shift(f, c, n, out, partitionBy)(keyed)
      else { Dispatch.note("shift", "keyedWindow"); keyed }
    }

  /** Sequential whole-frame Shift — single global window; semantic oracle
    * for [[Prefix.shift]] and the no-chunking fallback. */
  def shiftWindow(f: TadaFrame, c: String, n: Int, out: String): TadaFrame =
    f.withCol(out, F.lag(f.df(c), n).over(f.globalWindow))

  /** Cap on the ranked column's (approximate) distinct count below which
    * the BY-VALUE plan is chosen by the dispatchers: the distinct frame
    * is vocabulary-sized and the rank join broadcasts. THE shared
    * vocabulary threshold ([[Prefix.VocabCap]], r19) — the same "is this
    * a vocabulary or a corpus" question lowCardChunk and the grouped
    * median ask on their axes. */
  private[graft] val ByValueMaxDistinct = Prefix.VocabCap

  /** The ranked column's value-axis chunking: an order-monotone chunk id
    * that is a pure FUNCTION OF THE VALUE (equal values always share a
    * chunk — the invariant that lets per-chunk rank/count partials
    * compose into exact global ranks), plus the memoized approximate
    * distinct count of the RAW value (r18: for strings this is
    * stringBounds' own HLL — the image's count under-reports exactly
    * when 6-byte windows collide, and the by-value plan joins on the
    * raw value anyway, so raw cardinality is the right dispatch
    * signal; no injectivity precondition remains). None when the type
    * has no monotone numeric image or the bounds job failed — callers
    * keep the global window form; the memo is never load-bearing. */
  private final case class ValueAxis(chunk: Column, k: Int, dApprox: Double)

  private def valueAxis(f: TadaFrame, c: String): Option[ValueAxis] = {
    val v = f.df(c)
    // (image, raw approx distinct when the image's own HLL would
    // under-report — strings only)
    val imgRaw: Option[(Column, Option[Double])] = f.df.schema(c).dataType match {
      case _: NumericType | BooleanType => Some((v.cast(DoubleType), None))
      // both zone flavors share the epoch image (r19: without the NTZ
      // case, rank/percentile on a zone-less parquet timestamp silently
      // kept the single-partition window form — Prefix.tsMicros story)
      case dt @ (TimestampType | TimestampNTZType) =>
        Some((Prefix.tsMicros(v, dt).cast(DoubleType), None))
      case DateType      => Some((F.unix_date(v).cast(DoubleType), None))
      case StringType =>
        Estimates.stringBounds(f.df.select(v.as("__pfx_k"))).flatMap {
          case (Some(mn), Some(mx), _, dRaw) =>
            Some((Prefix.stringImageExpr(v, mn, mx), Some(dRaw)))
          case _ => None // all-null string column: window form is trivial
        }
      case _ => None
    }
    imgRaw.flatMap { case (img, rawD) =>
      val k = f.df.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "200").toInt.max(1)
      // NaN/±Inf poison the boundary stats exactly as in Prefix.chunked —
      // exclude from bounds, pin their rows to the edge chunks (the
      // within-chunk window orders by the real value, so sharing a
      // chunk with extreme finite values stays correct)
      val nonFinite = F.isnan(img) ||
        img === F.lit(Double.PositiveInfinity) ||
        img === F.lit(Double.NegativeInfinity)
      val clean = F.when(nonFinite, F.lit(null)).otherwise(img)
      // r19 (r18 verdict item 2): chunk boundaries are memoized
      // EQUI-DEPTH approx-percentile quantiles, not equi-width spans of
      // [min, max] — a heavy-tailed value column (log-normal prices, a
      // power-law score) landed ~all rows in the bottom width bucket,
      // silently degrading the chunked plan toward the single-partition
      // shape it replaces. chunk(v) = #boundaries ≤ v: still a pure
      // monotone function of the value (equal values share a chunk — the
      // partial-composition invariant), injected as an array literal so
      // both consumers of the chunked frame agree even on recompute;
      // quantile approximation error only unbalances chunks.
      Estimates.quantStats(f.df.select(clean.as("__pfx_k")), k).flatMap {
        case (Some(_), Some(_), d, qs) =>
          val nb = qs.length // chunk ids 0..nb for finite values
          // O(log k) binary-search chunk id with the standard NaN/±Inf
          // pins — the shared Prefix.depthBucket definition
          val nn = Prefix.depthBucket(f.df.sparkSession, img, qs)
          // null values get their own top chunk (nb+1) — they never join
          // the rank math (null in ⇒ null out) but must not share an id
          Some(ValueAxis(F.when(v.isNull, F.lit(nb + 1L)).otherwise(nn), nb + 1,
            rawD.getOrElse(d)))
        case _ => None // all-null column
      }
    }
  }

  /** PROBE SEAM: per-chunk row counts of `c`'s value axis — the balance
    * evidence for the equi-depth boundaries (the `ord` probe leg's xo10
    * prints the max-chunk share; a pathological share here is exactly
    * the silent parallelism loss the quantile boundaries remove).
    * Never used by an operator. */
  private[graft] def valueChunkCounts(f: TadaFrame, c: String):
      Option[(DataFrame, Int)] =
    valueAxis(f, c).map(ax =>
      (f.df.groupBy(ax.chunk.as("chunk")).agg(F.count(F.lit(1)).as("n")), ax.k))

  /** Dense rank ascending over values; ties share a rank; null in ⇒ null
    * out (internal.go:2302-2351). DISPATCHER (r18): low-cardinality
    * values take [[rankDenseByValue]] (rank join against the vocabulary);
    * everything else with a monotone numeric image takes
    * [[rankDenseChunked]] (the [[Prefix]] width-bucket discipline on the
    * VALUE axis — before r18 a near-unique ranked column, e.g. a
    * continuous price/score at corpus scale, degenerated to the one
    * remaining single-partition global window a user query could hit);
    * no image ⇒ the sequential [[rankDenseWindow]] reference form. All
    * three forms are value-identical (AnalyticsSpec pins row-for-row
    * equality on ties/nulls/NaN/multi-partition fixtures). */
  def rankDense(f: TadaFrame, c: String, out: String,
                partitionBy: Seq[String] = Nil): TadaFrame =
    valueAxis(f, c) match {
      case Some(ax) if ax.dApprox <= ByValueMaxDistinct =>
        Dispatch.note("rankDense", "byValue")
        rankDenseByValue(f, c, out, partitionBy)
      case Some(_) =>
        Dispatch.note("rankDense", "chunked")
        rankDenseChunked(f, c, out, partitionBy)(rankDenseWindow(f, c, out, partitionBy))
      case None =>
        Dispatch.note("rankDense", "window")
        rankDenseWindow(f, c, out, partitionBy)
    }

  /** Sequential [[rankDense]] — one ordered window (single-partition
    * when `partitionBy` is empty or low-cardinality). The reference's
    * exact evaluation shape; kept as the semantic oracle for the two
    * scale forms and the fallback when no numeric image exists. */
  def rankDenseWindow(f: TadaFrame, c: String, out: String,
                      partitionBy: Seq[String] = Nil): TadaFrame = {
    val v = f.df(c)
    val wOrder =
      if (partitionBy.isEmpty) Window.orderBy(v.asc_nulls_first)
      else Window.partitionBy(partitionBy.map(f.df(_)): _*).orderBy(v.asc_nulls_first)
    val wAll =
      if (partitionBy.isEmpty) Window.partitionBy()
      else Window.partitionBy(partitionBy.map(f.df(_)): _*)
    val hasNulls = F.max(v.isNull.cast(IntegerType)).over(wAll)
    val r = F.dense_rank().over(wOrder) - hasNulls
    f.withCol(out, F.when(v.isNull, F.lit(null)).otherwise(r))
  }

  /** [[rankDense]] computed BY VALUE — identical semantics (ties share
    * a rank, nulls rank first and the null bucket is subtracted, null
    * in ⇒ null out), different plan. Dense rank is a function of the
    * DISTINCT value set alone, so the ordered window runs over the
    * distinct (partition, value) frame — vocabulary-sized, not
    * corpus-sized — and the rank equi-joins back onto the rows. At
    * scale this replaces sorting EVERY row inside each partition (the
    * whole-frame contract's cost: q26 measured e 0.80 / 32 s at the
    * 100× probe on 60M rows in 3 partitions) with one distinct
    * aggregation, a window over the value vocabulary (~50 values for a
    * quantity-like column), and an equi-join AQE converts to broadcast
    * once it sees the tiny build side. Prefer [[rankDense]] only when
    * values are near-unique — there the distinct frame is corpus-sized
    * and the join buys nothing. AnalyticsSpec pins row-for-row equality
    * of the two forms on ties/nulls/multi-partition fixtures.
    *
    * Row-order contract (ADVICE r12): the returned frame's PHYSICAL row
    * order is unspecified — a join output's ordering depends on the
    * chosen strategy (broadcast preserves the probe side; SMJ does not).
    * That is true of every TadaFrame: frame order is the LOGICAL
    * `orderCols` contract (order spec + `__ord` tiebreak), re-applied by
    * every order-sensitive consumer (`out`, `records`, `sorted`, window
    * forms), so no caller observes join reordering. */
  def rankDenseByValue(f: TadaFrame, c: String, out: String,
                       partitionBy: Seq[String] = Nil): TadaFrame = {
    val v = f.df(c)
    val dv = f.df.select(partitionBy.map(f.df(_)) :+ v.as("__rdv_v"): _*).distinct()
    val wOrder =
      if (partitionBy.isEmpty) Window.orderBy(F.col("__rdv_v").asc_nulls_first)
      else Window.partitionBy(partitionBy.map(F.col): _*)
        .orderBy(F.col("__rdv_v").asc_nulls_first)
    val wAll =
      if (partitionBy.isEmpty) Window.partitionBy()
      else Window.partitionBy(partitionBy.map(F.col): _*)
    val ranked = dv
      .withColumn("__rdv_rk", F.dense_rank().over(wOrder) -
        F.max(F.col("__rdv_v").isNull.cast(IntegerType)).over(wAll))
      .filter(F.col("__rdv_v").isNotNull)
      .select(partitionBy.zipWithIndex.map { case (p, i) => F.col(p).as(s"__rdv_p$i") } ++
        Seq(F.col("__rdv_v"), F.col("__rdv_rk")): _*)
    // null VALUES never match the equi-join → null rank, exactly the
    // null-in ⇒ null-out contract. Partition KEYS join null-safely
    // (<=>): a null partition key is a legitimate group the window form
    // ranks within — plain === silently nulled those rows (caught by
    // the r13 DuckDB fuzz, seed 34).
    val cond = (partitionBy.zipWithIndex.map { case (p, i) =>
      f.df(p) <=> ranked(s"__rdv_p$i") } :+ (v === ranked("__rdv_v"))).reduce(_ && _)
    val joined = f.df.join(ranked, cond, "left")
    f.copy(df = joined.select(f.df.columns.map(f.df(_)) :+ ranked("__rdv_rk").as(out): _*))
  }

  /** [[rankDense]] for NEAR-UNIQUE values — identical semantics, the
    * [[Prefix]] chunked-prefix discipline applied to the VALUE axis.
    * Dense rank decomposes over any value-monotone chunking in which
    * equal values share a chunk (width buckets of the value's double
    * image are exactly that): the global rank of a row is its dense
    * rank WITHIN its chunk plus the number of distinct values in all
    * lower chunks. So: bucket rows by value ([[valueAxis]] — memoized
    * bounds as literals, the Estimates discipline), run dense_rank
    * inside each (partition, chunk) — parallel, one hash exchange —
    * aggregate per-chunk DISTINCT counts into a tiny #chunks-row frame,
    * exclusive-prefix it, and join the offsets back. Versus the global
    * window form this replaces a single-partition sort of every row
    * with k-way parallel sorts (q26's pre-byValue 100× probe measured
    * that window at 32 s / e 0.80 on 60M rows); versus byValue it never
    * materializes a corpus-sized distinct frame. The offsets frame has
    * ≤ |groups|·(k+1) rows — left unhinted so AQE broadcasts it when
    * small and falls back to a shuffle join under a high-cardinality
    * `partitionBy` (where the plain window form is already parallel and
    * the dispatcher's gain is marginal anyway).
    *
    * Physical row order of the result is unspecified (join output) —
    * see the row-order contract note on [[rankDenseByValue]]. Exact for
    * every type with a monotone image, including NaN (pinned to the top
    * value chunk; ordered/counted as one value inside it, exactly as
    * the window form ties NaNs) and non-injective string images
    * (colliding values share a chunk; the within-chunk window ranks the
    * REAL value). */
  def rankDenseChunked(f: TadaFrame, c: String, out: String,
                       partitionBy: Seq[String] = Nil)(
      window: => TadaFrame): TadaFrame =
    valueAxis(f, c) match {
      case None => window
      case Some(ax) =>
        val v = f.df(c)
        val part = partitionBy.map(f.df(_))
        val CH = "__rkc_c"
        val ch = f.df.withColumn(CH, ax.chunk)
        val wIn = Window.partitionBy(part :+ F.col(CH): _*).orderBy(v.asc)
        val within = ch.withColumn("__rkc_l", F.dense_rank().over(wIn))
        val counts = ch.filter(v.isNotNull)
          .groupBy(part :+ F.col(CH): _*)
          .agg(F.countDistinct(v).as("__rkc_d"))
        val wOff = (if (partitionBy.isEmpty) Window.orderBy(F.col(CH))
          else Window.partitionBy(partitionBy.map(F.col): _*).orderBy(F.col(CH)))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = counts
          .withColumn("__rkc_off", F.coalesce(F.sum("__rkc_d").over(wOff), F.lit(0L)))
          .select(partitionBy.zipWithIndex.map { case (p, i) => F.col(p).as(s"__rkc_p$i") } ++
            Seq(F.col(CH).as("__rkc_c2"), F.col("__rkc_off")): _*)
        // partition keys null-safe, chunk strict (chunk ids never null) —
        // the rankDenseByValue join-key contract
        val cond = (partitionBy.zipWithIndex.map { case (p, i) =>
          f.df(p) <=> offs(s"__rkc_p$i") } :+ (within(CH) === offs("__rkc_c2"))).reduce(_ && _)
        val joined = within.join(offs, cond, "left")
        val rk = (within("__rkc_l").cast(LongType) +
          F.coalesce(offs("__rkc_off"), F.lit(0L))).cast(IntegerType)
        f.copy(df = joined.select(f.df.columns.map(f.df(_)) :+
          F.when(v.isNull, F.lit(null)).otherwise(rk).as(out): _*))
    }

  /** Exclusive percentile (internal.go:2353-2388): fraction of non-null
    * values STRICTLY below; ties share the first-occurrence value —
    * `(min_rank - 1) / count_nonnull`. Deliberately NOT `percent_rank`
    * ((r-1)/(n-1)) nor `cume_dist` (≤, not <). DISPATCHER (r18) with the
    * same three plans as [[rankDense]]: by-value under the vocabulary
    * cap, [[percentileChunked]] for near-unique values with a monotone
    * image, [[percentileWindow]] otherwise. All three compute the same
    * integer numerator/denominator, so the doubles are bit-identical. */
  def percentile(f: TadaFrame, c: String, out: String,
                 partitionBy: Seq[String] = Nil): TadaFrame =
    valueAxis(f, c) match {
      case Some(ax) if ax.dApprox <= ByValueMaxDistinct =>
        Dispatch.note("percentile", "byValue")
        percentileByValue(f, c, out, partitionBy)
      case Some(_) =>
        Dispatch.note("percentile", "chunked")
        percentileChunked(f, c, out, partitionBy)(percentileWindow(f, c, out, partitionBy))
      case None =>
        Dispatch.note("percentile", "window")
        percentileWindow(f, c, out, partitionBy)
    }

  /** Sequential [[percentile]] — one ordered window; the reference's
    * exact evaluation shape, semantic oracle for the scale forms. */
  def percentileWindow(f: TadaFrame, c: String, out: String,
                       partitionBy: Seq[String] = Nil): TadaFrame = {
    val v = f.df(c)
    val part = partitionBy.map(f.df(_))
    val wOrder = if (part.isEmpty) Window.orderBy(v.asc_nulls_first)
                 else Window.partitionBy(part: _*).orderBy(v.asc_nulls_first)
    val wAll = if (part.isEmpty) Window.partitionBy() else Window.partitionBy(part: _*)
    val nNull = F.sum(v.isNull.cast(LongType)).over(wAll)
    val nNonNull = F.count(v).over(wAll)
    val minRank = F.rank().over(wOrder) // ties → min rank; nulls occupy the first ranks
    val pct = (minRank - nNull - 1).cast(DoubleType) / nNonNull
    f.withCol(out, F.when(v.isNull, F.lit(null)).otherwise(pct))
  }

  /** [[percentile]] computed BY VALUE — identical semantics, the
    * [[rankDenseByValue]] plan shape. For a non-null x,
    * `(min_rank − n_null − 1)` is exactly the count of NON-NULL rows
    * strictly below x (nulls occupy the first ranks), so the fraction
    * is `cnt_lt(x) / n_nonnull` — both computable from per-value counts:
    * one groupBy(partition, value), an exclusive running sum over the
    * value vocabulary, and the equi-join back (null rows miss → null
    * out). Same integer numerators/denominators as [[percentile]], so
    * the doubles are bit-identical (q27's oracle hash-matches either
    * way). Scale note mirrors rankDenseByValue: q27 measured e 0.82 /
    * 38 s at the 100× probe on the whole-row sort this form avoids.
    * Physical row order of the result is unspecified (join output) —
    * see the row-order contract note on [[rankDenseByValue]]. */
  def percentileByValue(f: TadaFrame, c: String, out: String,
                        partitionBy: Seq[String] = Nil): TadaFrame = {
    val v = f.df(c)
    val counts = f.df.select(partitionBy.map(f.df(_)) :+ v.as("__pbv_v"): _*)
      .groupBy(partitionBy.map(F.col) :+ F.col("__pbv_v"): _*)
      .agg(F.count(F.lit(1)).as("__pbv_n"))
      .filter(F.col("__pbv_v").isNotNull) // null rows: join miss → null out
    val wOrder =
      (if (partitionBy.isEmpty) Window.orderBy(F.col("__pbv_v").asc)
       else Window.partitionBy(partitionBy.map(F.col): _*).orderBy(F.col("__pbv_v").asc))
        .rowsBetween(Window.unboundedPreceding, -1)
    val wAll =
      if (partitionBy.isEmpty) Window.partitionBy()
      else Window.partitionBy(partitionBy.map(F.col): _*)
    val scored = counts
      .withColumn("__pbv_pct",
        F.coalesce(F.sum("__pbv_n").over(wOrder), F.lit(0L)).cast(DoubleType) /
          F.sum("__pbv_n").over(wAll))
      .select(partitionBy.zipWithIndex.map { case (p, i) => F.col(p).as(s"__pbv_p$i") } ++
        Seq(F.col("__pbv_v"), F.col("__pbv_pct")): _*)
    // partition keys null-safe, value strict — see rankDenseByValue
    val cond = (partitionBy.zipWithIndex.map { case (p, i) =>
      f.df(p) <=> scored(s"__pbv_p$i") } :+ (v === scored("__pbv_v"))).reduce(_ && _)
    val joined = f.df.join(scored, cond, "left")
    f.copy(df = joined.select(f.df.columns.map(f.df(_)) :+ scored("__pbv_pct").as(out): _*))
  }

  /** [[percentile]] for NEAR-UNIQUE values — the [[rankDenseChunked]]
    * plan shape on the min-rank decomposition: for a non-null x,
    * `cnt_lt(x)` (non-null rows strictly below) = rows in lower value
    * chunks + (min rank within x's chunk − 1), because equal values
    * never span chunks. So the tiny per-chunk frame carries plain ROW
    * counts (vs rankDenseChunked's distinct counts), their exclusive
    * prefix is the chunk offset, the per-partition total is the same
    * frame's full sum, and `pct = (off + local_rank − 1) / total` — the
    * window form's exact integers, hence bit-identical doubles. Same
    * offsets-frame/AQE note and row-order contract as
    * [[rankDenseChunked]]. */
  def percentileChunked(f: TadaFrame, c: String, out: String,
                        partitionBy: Seq[String] = Nil)(
      window: => TadaFrame): TadaFrame =
    valueAxis(f, c) match {
      case None => window
      case Some(ax) =>
        val v = f.df(c)
        val part = partitionBy.map(f.df(_))
        val CH = "__pcc_c"
        val ch = f.df.withColumn(CH, ax.chunk)
        val wIn = Window.partitionBy(part :+ F.col(CH): _*).orderBy(v.asc)
        val within = ch.withColumn("__pcc_l", F.rank().over(wIn))
        val counts = ch.filter(v.isNotNull)
          .groupBy(part :+ F.col(CH): _*)
          .agg(F.count(F.lit(1)).as("__pcc_n"))
        val wOff = (if (partitionBy.isEmpty) Window.orderBy(F.col(CH))
          else Window.partitionBy(partitionBy.map(F.col): _*).orderBy(F.col(CH)))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wAll =
          if (partitionBy.isEmpty) Window.partitionBy()
          else Window.partitionBy(partitionBy.map(F.col): _*)
        val offs = counts
          .withColumn("__pcc_off", F.coalesce(F.sum("__pcc_n").over(wOff), F.lit(0L)))
          .withColumn("__pcc_tot", F.sum("__pcc_n").over(wAll))
          .select(partitionBy.zipWithIndex.map { case (p, i) => F.col(p).as(s"__pcc_p$i") } ++
            Seq(F.col(CH).as("__pcc_c2"), F.col("__pcc_off"), F.col("__pcc_tot")): _*)
        val cond = (partitionBy.zipWithIndex.map { case (p, i) =>
          f.df(p) <=> offs(s"__pcc_p$i") } :+ (within(CH) === offs("__pcc_c2"))).reduce(_ && _)
        val joined = within.join(offs, cond, "left")
        val pct = (offs("__pcc_off") + within("__pcc_l").cast(LongType) - 1L)
          .cast(DoubleType) / offs("__pcc_tot")
        f.copy(df = joined.select(f.df.columns.map(f.df(_)) :+
          F.when(v.isNull, F.lit(null)).otherwise(pct).as(out): _*))
    }

  /** Bin(edges) (internal.go:2208-2300): left-EXclusive right-INclusive
    * `lo < x <= hi`; `andLess/andMore` add open edge bins; labels default
    * to "lo-hi". (Spark ML Bucketizer is left-inclusive — wrong edge rule.) */
  def bin(f: TadaFrame, c: String, edges: Seq[Double], out: String,
          labels: Seq[String] = Nil, andLess: Boolean = false,
          andMore: Boolean = false): TadaFrame = {
    require(edges.size >= 2, "bin: need at least 2 edges")
    require(labels.isEmpty || labels.size == edges.size - 1,
      s"bin: ${labels.size} labels for ${edges.size - 1} bins")
    def fmt(d: Double): String = if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString
    val coreLabels =
      if (labels.nonEmpty) labels
      else edges.sliding(2).map { case Seq(a, b) => s"${fmt(a)}-${fmt(b)}" }.toSeq
    val v = f.df(c)
    var expr: Column = F.lit(null).cast(StringType)
    // build the when-chain from the last bin backwards
    edges.sliding(2).toSeq.zip(coreLabels).reverse.foreach { case (Seq(lo, hi), lab) =>
      expr = F.when(v > lo && v <= hi, F.lit(lab)).otherwise(expr)
    }
    if (andLess) expr = F.when(v <= edges.head, F.lit(s"<=${fmt(edges.head)}")).otherwise(expr)
    if (andMore) expr = F.when(v > edges.last, F.lit(s">${fmt(edges.last)}")).otherwise(expr)
    f.withCol(out, F.when(v.isNull, F.lit(null)).otherwise(expr))
  }

  /** PercentileBin (internal.go:2392-2408): bin the exclusive percentile;
    * edges here are left-INclusive right-EXclusive — opposite of Bin. */
  def percentileBin(f: TadaFrame, c: String, edges: Seq[Double], out: String,
                    partitionBy: Seq[String] = Nil,
                    labels: Seq[String] = Nil): TadaFrame = {
    require(labels.isEmpty || labels.size == edges.size - 1,
      s"percentileBin: ${labels.size} labels for ${edges.size - 1} bins")
    val tmp = "__pct"
    val withPct = percentile(f, c, tmp, partitionBy)
    def fmt(d: Double): String = if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString
    val v = withPct.df(tmp)
    val binLabels =
      if (labels.nonEmpty) labels // Binner{Labels} (internal.go:2392-2408)
      else edges.sliding(2).map { case Seq(a, b) => s"${fmt(a)}-${fmt(b)}" }.toSeq
    var expr: Column = F.lit(null).cast(StringType)
    edges.sliding(2).toSeq.zip(binLabels).reverse.foreach { case (Seq(lo, hi), lab) =>
      expr = F.when(v >= lo && v < hi, F.lit(lab)).otherwise(expr)
    }
    // top edge inclusive so pct == last edge still bins (reference keeps 1.0 out of range; percentiles are < 1 by construction)
    withPct.withCol(out, F.when(v.isNull, F.lit(null)).otherwise(expr)).dropCols(tmp)
  }

  /** Resample (internal.go:2423-2479): truncate datetimes by year / month /
    * day / week(start day) / hour / minute / second, or floor to an
    * arbitrary duration. All native date_trunc / epoch math — codegen'd. */
  def resample(f: TadaFrame, c: String, by: String, out: String,
               weekStart: String = "MONDAY"): TadaFrame = {
    val v = f.df(c)
    val e: Column = by.toLowerCase match {
      case "year" | "month" | "day" | "hour" | "minute" | "second" =>
        F.date_trunc(by, v)
      case "week" =>
        // date_trunc("week") is Monday-start; any start day W reduces to
        // it by shifting W onto Monday first and shifting back after —
        // shift = (8 − isoDay(W)) mod 7 days (internal.go:2432-2438
        // accepts all seven time.Weekday values; so does this).
        val shiftDays = Analytics.weekStartShift(weekStart)
        F.date_trunc("week", F.date_add(v, shiftDays)).cast(TimestampType) - F.expr(s"INTERVAL $shiftDays DAYS")
      case other => throw new IllegalArgumentException(s"resample by $other")
    }
    // NTZ in => NTZ out: date_trunc coerces NTZ through LTZ (wall-time-
    // preserving under the pinned UTC zone); hand the caller back the
    // input's zone flavor
    f.withCol(out, if (f.df.schema(c).dataType == TimestampNTZType)
      e.cast(TimestampNTZType) else e)
  }

  /** Resample by arbitrary duration: floor to a multiple of `micros`.
    * Pure integer arithmetic — epoch-micros exceed 2^53, so a double
    * division would round near bucket boundaries. */
  def resampleDuration(f: TadaFrame, c: String, micros: Long, out: String): TadaFrame = {
    val dt = f.df.schema(c).dataType
    val us = Prefix.tsMicros(f.df(c), dt)
    val res = F.timestamp_micros(us - F.pmod(us, F.lit(micros)))
    // NTZ in => NTZ out (wall-time-preserving under the pinned UTC zone)
    f.withCol(out, if (dt == TimestampNTZType) res.cast(TimestampNTZType) else res)
  }
}
