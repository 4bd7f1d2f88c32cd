package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Scale-safe whole-frame prefix computations (cumsum, shift, ffill/bfill
  * with EMPTY partitionBy — the reference's whole-frame contract,
  * internal.go:936-983, internal.go:2173-2183).
  *
  * The naive plan is `Window.orderBy(orderCols)` with no partition — a
  * single-partition WindowExec that sorts the entire frame on one thread
  * (the one §2 plan shape that would not survive 100×; r12 verdict item 1).
  * But these are PREFIX computations, so the classic scale-safe plan
  * applies:
  *
  *   1. assign every row an ORDER-MONOTONE chunk id (all rows of chunk i
  *      precede all rows of chunk i+1 in frame order);
  *   2. run the window WITHIN each chunk (parallel across chunks — one
  *      hash exchange on the chunk id instead of an exchange into a
  *      single partition);
  *   3. aggregate a per-chunk partial (chunk total / chunk tail / chunk
  *      last-non-null) into a TINY frame of #chunks rows;
  *   4. exclusive-prefix the tiny frame (a window over thousands of
  *      rows, not billions) and broadcast-join the carry back on the
  *      chunk id;
  *   5. combine carry + within-chunk value per row.
  *
  * Chunk assignment is fully deterministic (both consumers of the chunked
  * frame — the row side and the partial side — provably compute identical
  * chunk ids even if the plan re-executes the subtree):
  *
  *   - '''Ingest order''' (`order.isEmpty`, the common case): chunk =
  *     `__ord >> 33`. `__ord` is `monotonically_increasing_id` =
  *     (partition << 33 | row), so the high bits ARE the ingest partition
  *     id (plus append band bits, TadaFrame.append) and sort identically
  *     to scan order. Zero extra jobs, zero sampling, chunk count = the
  *     scan's natural parallelism.
  *   - '''Sorted frame''' with a numeric / date / timestamp / boolean
  *     first key: bucket the first sort key on memoized EQUI-DEPTH
  *     approx-percentile boundaries (r19 — chunk id = #boundaries ≤ v
  *     via the O(log k) `boundary_bucket` expression; was equi-width
  *     [min,max] spans, which a heavy-tailed key collapses into one
  *     chunk). One memoized bounds job per (plan, file state) per
  *     session — [[Estimates.quantStats]] — injected as literals; the
  *     lazy width-bucket broadcast-crossJoin form survives only as the
  *     job-failure fallback. Equal keys land in one chunk; the
  *     within-chunk window orders by the FULL key so chunk granularity
  *     only needs monotonicity. Quantile approximation error only
  *     unbalances chunks, never breaks correctness. r16: a LOW-CARDINALITY first key (d
  *     distinct < chunk count — the equal-keys invariant would cap
  *     parallelism at d) switches to exact value-index chunks × a tie
  *     sub-band monotone in the tie's internal order
  *     ([[Prefix.lowCardChunk]]).
  *   - '''Sorted frame, STRING first key''' (r17): bucket the
  *     lcp-stripped 6-byte binary-prefix image ([[Prefix.stringImageExpr]]
  *     — monotone in Spark's UTF8 byte order, mutation-guarded at the
  *     snapshot bounds). Before r17 string keys fell to the
  *     single-partition window form — the one remaining parallelism
  *     cliff, on the COMMON key type of a text corpus. Value-chunking
  *     engages for ANY ≤4096-distinct string key (r18: the vocabulary
  *     joins on the RAW string, not the image, so no injectivity
  *     precondition); a truly imageless key (job failure) still falls
  *     back to the global window form.
  *
  * `repartitionByRange` + `spark_partition_id` was rejected for chunking:
  * the range boundaries are sampled per-execution (seeded by rdd id), so
  * the two consumers of the chunked frame could disagree on chunk ids
  * unless the frame is checkpointed — the determinism hazard ADVICE r12
  * flagged for Similarity's centroids, avoided here by construction.
  *
  * Float caveat: chunked double cumsum regroups additions
  * ((a+b)+(c+d) vs ((a+b)+c)+d), so the last ULP can differ from the
  * sequential window form. Integral types are exact. AnalyticsSpec pins
  * row-for-row equality on long and dyadic-rational double fixtures.
  */
object Prefix {
  import TadaFrame.ORD

  /** The ONE "is this a vocabulary or a corpus" threshold (r19, unifying
    * three duplicated 4096 constants — r18 verdict item 5): a value
    * domain at or under this many distinct values is treated as a
    * VOCABULARY — small enough to collect to the driver, broadcast as a
    * literal frame, and window over in one tiny partition — while
    * anything larger is a CORPUS that must stay distributed. Engagement
    * sites: [[lowCardChunk]]'s value-chunking vocabulary,
    * `Analytics.ByValueMaxDistinct` (rank/percentile by-value dispatch),
    * and `TadaGrouped.MedianVocabCap` (grouped-median by-value
    * dispatch). One constant keeps a future retune atomic — the three
    * sites answer the same question on different axes. */
  private[graft] val VocabCap = 4096

  /** TimestampType view of a ts column of either zone flavor: NTZ casts
    * through LTZ — value-preserving and order-preserving wall time under
    * the engine's pinned UTC session zone (the `Tables.normalizeEventTs`
    * contract). Spark's `unix_micros` has NO implicit NTZ cast (verified:
    * DATATYPE_MISMATCH), so every epoch-math operator funnels through
    * here rather than each repeating the cast. */
  private[graft] def tsLtz(c: Column, dt: DataType): Column =
    if (dt == TimestampNTZType) c.cast(TimestampType) else c

  /** Epoch micros of a ts column of either zone flavor. */
  private[graft] def tsMicros(c: Column, dt: DataType): Column =
    F.unix_micros(tsLtz(c, dt))

  /** Equi-depth chunk id of a DOUBLE image with the standard edge pins
    * (ONE definition for the three pinning sites — Analytics.valueAxis,
    * [[chunked]], [[lowCardChunk]]'s sub-band — so the edge semantics
    * BoundaryBucketSpec guards cannot drift between them): finite v →
    * #boundaries ≤ v via the O(log k) `boundary_bucket` expression;
    * NaN/+Inf → top finite chunk `qs.length`; −Inf → 0. NULL handling
    * stays at each caller (top chunk vs dedicated tag vs fixed band —
    * genuinely site-specific). */
  private[core] def depthBucket(spark: org.apache.spark.sql.SparkSession,
                                img: Column, qs: Array[Double]): Column = {
    val nb = qs.length
    val b =
      if (nb == 0) F.lit(0L) // single-value/degenerate axis
      else {
        graft.exprs.GraftFunctions.register(spark)
        F.call_function("boundary_bucket", img, F.lit(qs))
      }
    F.when(F.isnan(img) || img === F.lit(Double.PositiveInfinity), F.lit(nb.toLong))
      .when(img === F.lit(Double.NegativeInfinity), F.lit(0L))
      .otherwise(b)
  }

  private[graft] val CHUNK = "__pfx_c"
  private val RNA = "__pfx_ra" // row_number ascending within chunk
  private val RND = "__pfx_rd" // row_number descending within chunk

  /** Frame order rebuilt by NAME (resolvable on any derived DataFrame):
    * sort spec (nulls last) then `__ord` tiebreak — mirrors
    * TadaFrame.orderCols. `fwd=false` gives the exact mirror order
    * (mirrors TadaFrame.reverseOrder). */
  private def orderBy(f: TadaFrame, fwd: Boolean): Seq[Column] = {
    val keys = f.order.map { s =>
      val c0 = F.col(s.name)
      val c = s.cast.map(c0.cast).getOrElse(c0)
      (s.descending, fwd) match {
        case (false, true)  => c.asc_nulls_last
        case (true, true)   => c.desc_nulls_last
        case (false, false) => c.desc_nulls_first
        case (true, false)  => c.asc_nulls_first
      }
    }
    keys :+ (if (fwd) F.col(ORD).asc else F.col(ORD).desc)
  }

  /** Sort-key expression on a double scale for width-bucketing, or
    * None when the type has no order-preserving numeric image.
    * r17: STRING keys get one too (the lcp-stripped binary-prefix
    * image, [[stringImageExpr]]) — before this, any string sort key
    * dropped the whole chunked prefix family to the single-partition
    * global-window fallback, the one remaining parallelism cliff on a
    * 100 TB corpus (string keys are the COMMON case: ids, categories,
    * status enums). */
  private def bucketScaleOf(f: TadaFrame, s: Sorter): Option[Column] = {
    val c0 = f.df(s.name)
    val c = s.cast.map(c0.cast).getOrElse(c0)
    val dt = s.cast.getOrElse(f.df.schema(s.name).dataType)
    dt match {
      case _: NumericType | BooleanType => Some(c.cast(DoubleType))
      // r19: parquet `timestamp[us]` WITHOUT a zone reads as NTZ (the
      // driver's lineitem l_shipdate is one) — before NTZ joined this
      // case, an NTZ first sort key silently dropped the WHOLE chunked
      // prefix family to the single-partition fallback (found by the
      // q114 dispatch tag reading "window" at sf0.1). Both flavors share
      // the [[tsMicros]] epoch image.
      case dt @ (TimestampType | TimestampNTZType) =>
        Some(tsMicros(c, dt).cast(DoubleType))
      case DateType                     => Some(F.unix_date(c).cast(DoubleType))
      case StringType =>
        Estimates.stringBounds(f.df.select(c.as("__pfx_k"))).map {
          case (Some(mn), Some(mx), _, _) => stringImageExpr(c, mn, mx)
          case _ => F.lit(null).cast(DoubleType) // all-null column
        }
      case _                            => None
    }
  }

  /** Order-preserving (monotone, non-strict) double image of a string
    * column: the 6 bytes after the corpus min/max longest common
    * prefix, zero-padded, read as a 48-bit big-endian integer — exact
    * in a double, and byte-lexicographic order IS Spark's UTF8String
    * order, so the image is monotone over [mn, mx]. Distinct strings
    * sharing the 6-byte window collide to one image value — safe for
    * width-bucketing and tie sub-banding (the within-chunk window
    * re-sorts by the full key; a monotone non-injective s2 image can
    * only MERGE adjacent tie bands, never split one). Value-chunking
    * never reads the image at all (r18): its vocabulary joins on the
    * raw string value, so image collisions cannot reorder rows.
    * Mutation guards: the lcp window is only monotone for values inside
    * the snapshot [mn, mx] (binary order forces any such value to share
    * the lcp) — values a mutating non-snapshot source adds OUTSIDE the
    * snapshot range pin to −1 / 2^48, below and above every legit
    * image, keeping the image total-order monotone unconditionally. */
  private[core] def stringImageExpr(c: Column, mn: String, mx: String): Column = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val mnB = mn.getBytes(utf8)
    val mxB = mx.getBytes(utf8)
    val lcp = mnB.zip(mxB).takeWhile { case (a, b) => a == b }.length
    // zero-pad past lcp+6 so the window is always 6 full bytes (values
    // in [mn, mx] are ≥ lcp bytes long; shorter suffixes read as
    // trailing 0x00 — exactly their byte-lexicographic rank)
    val window = F.substring(
      F.concat(c.cast(BinaryType), F.lit(Array.fill[Byte](lcp + 6)(0))),
      lcp + 1, 6)
    val img = F.conv(F.hex(window), 16, 10).cast(DoubleType)
    F.when(c < F.lit(mn), F.lit(-1.0))
      .when(c > F.lit(mx), F.lit(281474976710656.0)) // 2^48
      .otherwise(img)
  }

  /** First-sort-key image — the primary chunking axis. */
  private def bucketScale(f: TadaFrame): Option[Column] =
    bucketScaleOf(f, f.order.head)

  /** Unsigned UTF-8 byte-lexicographic ordering — exactly Spark's
    * UTF8String comparison, which is what every string sort key and
    * string join/filter comparison in a plan uses. */
  private[graft] object Utf8Order extends Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  /** The frame with an order-monotone deterministic chunk column, or None
    * when no parallel chunking exists (sorted, non-bucketable key).
    * `fwd=false` flips the chunk ids so ascending-CHUNK windows on the
    * tiny frame walk the MIRROR order (used by bfill / negative shift). */
  private[graft] def chunked(f: TadaFrame, fwd: Boolean): Option[DataFrame] =
    if (f.order.isEmpty) {
      val c = F.shiftright(F.col(ORD), 33)
      Some(f.df.withColumn(CHUNK, if (fwd) c else -c))
    } else bucketScale(f).map { keyD =>
      val k = f.df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt.max(1)
      // NaN sorts above every double (Spark ordering) and ±Inf poisons the
      // bucket width ((keyD-mn)/Inf ⇒ 0 or NaN, collapsing the frame into
      // one chunk) — exclude all three from min/max and pin their rows to
      // the edge chunks explicitly, keeping finite keys properly bucketed
      val nonFinite = F.isnan(keyD) ||
        keyD === F.lit(Double.PositiveInfinity) ||
        keyD === F.lit(Double.NegativeInfinity)
      val keyClean = F.when(nonFinite, F.lit(null)).otherwise(keyD)
      // chunk id from the bucket bounds (mn, mx): NaN and +Inf above all
      // finite values → top chunk; -Inf below → chunk 0 (the within-chunk
      // window orders by the FULL key, so sharing a chunk with extreme
      // finite keys stays correct); nulls sort LAST in frame order →
      // chunk k, after every value bucket; a descending first key
      // mirrors the axis
      def ascExpr(mn: Column, mx: Column): Column = {
        val bucket = F.when(mx === mn, F.lit(0L)).otherwise(
          F.least(F.lit(k - 1L), F.greatest(F.lit(0L),
            F.floor((keyD - mn) / ((mx - mn) / k)))))
        val ascNonNull = F.when(F.isnan(keyD) ||
            keyD === F.lit(Double.PositiveInfinity), F.lit(k - 1L))
          .when(keyD === F.lit(Double.NegativeInfinity), F.lit(0L))
          .otherwise(bucket)
        F.when(keyD.isNull || mn.isNull, F.lit(k.toLong)).otherwise(
          if (f.order.head.descending) F.lit(k - 1L) - ascNonNull else ascNonNull)
      }
      // r19: the SORT-key chunking gets the same equi-depth quantile
      // boundaries as Analytics.valueAxis (r18 verdict item 2 closed the
      // value/time axes; this is the remaining axis — the whole sorted-
      // frame prefix family rides this chunking, and a heavy-tailed
      // first sort key under width buckets lands ~all rows in one chunk,
      // the exact single-partition shape the family exists to remove).
      // chunk(v) = #boundaries ≤ v (BoundaryBucket, O(log k)): still a
      // pure monotone function of the key value, equal keys share a
      // chunk, boundaries memoized + injected as literals so both
      // consumers of a chunked frame agree even on recompute.
      Estimates.quantStats(f.df.select(keyClean.as("__pfx_k")), k) match {
        case Some((mnV, _, dApprox, qs)) =>
          // r18: value-chunking joins the vocabulary on the RAW key
          // value (strings included), so it no longer needs an
          // injective image — lowCardChunk gates itself on the raw
          // cardinality and falls back here when over cap
          lowCardChunk(f, keyD, keyClean, k, fwd, dApprox).getOrElse {
            val nb = qs.length // finite chunks 0..nb; null chunk nb+1
            val ascNonNull = depthBucket(f.df.sparkSession, keyD, qs)
            val asc = if (mnV.isEmpty) F.lit(nb + 1L) // all-null key column
              else F.when(keyD.isNull, F.lit(nb + 1L))
                .otherwise(if (f.order.head.descending)
                  F.lit(nb.toLong) - ascNonNull else ascNonNull)
            f.df.withColumn(CHUNK, if (fwd) asc else -asc)
          }
        case None =>
          // bounds job failed — lazy crossJoin form, the pre-r16 plan
          // (the memo is never load-bearing)
          val mm = f.df.agg(F.min(keyClean).as("__pfx_mn"),
            F.max(keyClean).as("__pfx_mx"))
          val asc = ascExpr(F.col("__pfx_mn"), F.col("__pfx_mx"))
          f.df.crossJoin(F.broadcast(mm))
            .withColumn(CHUNK, if (fwd) asc else -asc)
            .drop("__pfx_mn", "__pfx_mx")
      }
    }

  /** LOW-CARDINALITY first-sort-key chunking (r16, found by the ×1000 `ord`
    * probe leg): width-bucketing keeps equal keys in one chunk, so a
    * first key with d distinct values caps chunk parallelism at d
    * REGARDLESS of the configured chunk count — a 50-value key (status,
    * category, quantity) on a 4000-core cluster runs a 50-way sort.
    * When d < chunk count, chunk instead by (exact value index) × (a
    * tie SUB-BAND that is order-monotone within the tie's own internal
    * order): the ingest-ordinal band for single-key sorts (tie order IS
    * `__ord`), or a width bucket of the second sort key's numeric image
    * under its global bounds (equal s2 values share a band, so deeper
    * ties stay un-split — monotonicity over the FULL order holds, and
    * the within-chunk window still orders by the full key). r17: a
    * STRING second key sub-bands through its binary-prefix image
    * ([[stringImageExpr]] — monotone, possibly non-injective, which
    * for a sub-band can only merge adjacent tie bands, never split
    * one), closing the r16 gap where (low-card key, string tiebreak)
    * sorts ran at parallelism = d. The value index comes from a
    * broadcast join of the RAW key value (r18 — strings join as
    * strings, never through the collision-prone image; ADVICE r17)
    * against the collected (≤ 4096-value, memoized) vocabulary —
    * exact, not width-approximate, because a bucket that MIXES two key
    * values cannot be sub-banded (the band would reorder rows across
    * the two values). Engagement and all stats are memoized session
    * jobs ([[Estimates]]); any failure returns None and the caller
    * keeps the width-bucket plan — never load-bearing. */
  /** TEST SEAM: overrides the memoized vocabulary for the next
    * [[lowCardChunk]] builds, so the vocabulary-miss pin (reachable
    * only when a non-snapshot source mutates between the memoized
    * vocabulary job and execution) is spec-coverable with the REAL
    * plan. Doubles for numeric/temporal keys, Strings for string keys.
    * Never set outside tests. */
  private[graft] var testVocabOverride: Option[Array[Any]] = None

  private def lowCardChunk(f: TadaFrame, keyD: Column, keyClean: Column,
                           k: Int, fwd: Boolean, dApprox: Double): Option[DataFrame] = {
    val maxEngage = math.min(k - 1, VocabCap)
    val s1 = f.order.head
    // r18 (ADVICE r17): the vocabulary axis is the RAW key value — for
    // strings, the string itself, NOT its binary-prefix image. The r17
    // image-based join required an injective image (enum shape only)
    // and still carried a mutation hazard: an unseen in-range string
    // whose 6-byte window collided with a vocabulary value joined to
    // that value's index and took an s2 sub-band — sub-banding across
    // two distinct keys. Joining on the raw value makes collisions
    // impossible by construction (any unseen value is a vocab MISS and
    // takes the monotone miss pin below), and widens value-chunking to
    // EVERY ≤4096-distinct string key, not just ones that fit the
    // image window. The engagement gate reads the raw cardinality
    // (stringBounds' HLL) — the image's distinct count under-reports
    // exactly when windows collide.
    val dt1 = s1.cast.getOrElse(f.df.schema(s1.name).dataType)
    val isStr = dt1 == StringType
    val rawKey = { val c0 = f.df(s1.name); s1.cast.map(c0.cast).getOrElse(c0) }
    val dGate =
      if (!isStr) dApprox
      else Estimates.stringBounds(f.df.select(rawKey.as("__pfx_k")))
        .map(_._4).getOrElse(return None)
    if (maxEngage < 1 || dGate < 1 || dGate > maxEngage * 1.1) return None
    // the tie sub-band axis: (double image, its descending flag, image
    // of the CLEANED axis for bounds). None ⇒ don't engage.
    val subAxis: Option[(Column, Boolean)] =
      if (f.order.size == 1)
        Some((F.shiftright(F.col(ORD), 33).cast(DoubleType), false))
      else bucketScaleOf(f, f.order(1)).map(img => (img, f.order(1).descending))
    val (img2, desc2) = subAxis.getOrElse(return None)
    val nonFinite2 = F.isnan(img2) ||
      img2 === F.lit(Double.PositiveInfinity) ||
      img2 === F.lit(Double.NegativeInfinity)
    val img2Clean = F.when(nonFinite2, F.lit(null)).otherwise(img2)
    val values: Array[Any] = testVocabOverride.getOrElse {
      if (isStr)
        Estimates.distinctStrings(f.df.select(rawKey.as("__pfx_k")), maxEngage)
          .getOrElse(return None).toArray[Any]
      else
        Estimates.distinctValues(f.df.select(keyClean.as("__pfx_k")), maxEngage)
          .getOrElse(return None).toArray[Any]
    }
    if (values.isEmpty) return None // over cap (approx under-counted) or empty
    val d = values.length
    // the join/miss axis: raw string values vs the cleaned double image
    val vocabCol = if (isStr) rawKey else keyClean
    val vocabLit =
      if (isStr) F.lit(values.map(_.asInstanceOf[String]))
      else F.lit(values.map(_.asInstanceOf[Double]))
    val vType: DataType = if (isStr) StringType else DoubleType
    val sub = math.max(2, math.ceil(k.toDouble / d).toInt)
    // sub-band ∈ [0, sub): equi-depth quantile bands of img2 under its
    // GLOBAL boundaries (r19 — was a width bucket of [mn2, mx2], which a
    // skewed second key collapses: sort by (source, score^7) left every
    // tie's rows in one band). Global boundaries stay monotone within
    // each tie's internal order; `sub` remains the FIXED chunk
    // multiplier (miss pin = rank·sub − 1, bigK = d·sub) — the realized
    // band ids just occupy 0..nb2 ≤ sub−1 of it. Nulls sort last within
    // the tie (both sort directions) → fixed top band sub−1 (≥ every
    // finite band); NaN/+Inf top finite, −Inf bottom, flipped on the s2
    // axis' own direction.
    val qs2 = Estimates
      .quantStats(f.df.select(img2Clean.as("__pfx_k")), sub)
      .getOrElse(return None)._4
    val nb2 = qs2.length // finite bands 0..nb2; nb2 <= sub - 1
    val subCol = {
      val nn = depthBucket(f.df.sparkSession, img2, qs2)
      F.when(img2.isNull, F.lit(sub - 1L)).otherwise(
        if (desc2) F.lit(nb2.toLong) - nn else nn)
    }
    val spark = f.df.sparkSession
    // (value, index) vocabulary as a broadcast literal frame — built
    // from driver-held values, so both consumers of the chunked frame
    // see identical indices even on recompute
    val idxRows = values.zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(v, i.toLong)
    }
    val idxMap = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(idxRows.toSeq).asJava),
      StructType(Seq(StructField("__pfx_v", vType, nullable = false),
        StructField("__pfx_i", LongType, nullable = false))))
    val joined = f.df.join(F.broadcast(idxMap),
      vocabCol === F.col("__pfx_v"), "left")
    val bigK = d.toLong * sub
    // vocabulary-miss fallback (r16 review; pin made MONOTONE r17 per
    // the r16 ADVICE): a finite key the memoized vocabulary never saw
    // (a non-snapshot source mutated between the vocabulary job and
    // execution) must not become a NULL chunk. The r16 rank-based
    // index gave misses an s2-derived sub-band — sub-banding across
    // two distinct key values, which can land a miss in an EARLIER
    // chunk than a smaller vocab value, and an above-all ascending
    // miss past the null chunk. r17 pins misses to the TOP band of
    // their predecessor value (chunk = rank·sub − 1, clamped to 0;
    // rank = count of vocab values below, direction-flipped): strictly
    // after every predecessor-value chunk, strictly before every
    // successor-value chunk, always below the null chunk bigK, and
    // sub-band-free — the within-chunk window re-sorts by the full
    // key. O(d) per MISSING row only — the when() short-circuits.
    // This is deliberately NOT boundary_bucket (the one remaining O(d)
    // filter form; r19 verdict item 7): the vocabulary axis is the RAW
    // key value, which for string keys is a string array —
    // boundary_bucket is double-only by design (its binary search and
    // −0.0/NaN pinning are IEEE semantics), and splitting the miss pin
    // into a numeric boundary_bucket half and a string filter half
    // would be two forms for one cold contract. The form only runs on
    // rows a mutating non-snapshot source added after the vocabulary
    // job — never on the hot path.
    val missRank = F.size(F.filter(vocabLit, v => v < vocabCol)).cast(LongType)
    val missFi = if (s1.descending) F.lit(d.toLong) - missRank else missRank
    val missChunk = F.greatest(F.lit(0L), missFi * sub - 1L)
    val hitIdx = if (s1.descending) F.lit(d - 1L) - F.col("__pfx_i") else F.col("__pfx_i")
    val pinned = F.when(F.isnan(keyD) || keyD === F.lit(Double.PositiveInfinity),
        F.lit(if (s1.descending) 0L else bigK - 1))
      .when(keyD === F.lit(Double.NegativeInfinity),
        F.lit(if (s1.descending) bigK - 1 else 0L))
      .when(F.col("__pfx_i").isNull, missChunk)
      .otherwise(hitIdx * sub + subCol)
    val asc = F.when(keyD.isNull, F.lit(bigK)).otherwise(pinned)
    Some(joined.withColumn(CHUNK, if (fwd) asc else -asc)
      .drop("__pfx_v", "__pfx_i"))
  }

  /** Name of the ordinal column produced by [[materializeOrd]]. */
  private[core] val MATORD = "__pfx_o2"

  /** The frame order materialized as a BANDED long ordinal column
    * [[MATORD]] = `(chunk << 33) | (row-in-chunk)` appended to the frame,
    * without a single-partition sort: order-monotone chunks (the same
    * deterministic chunking as the prefix family) and a partition-local
    * `row_number` within each chunk — one hash exchange on the chunk id,
    * zero joins, zero global passes. The banded form is the SAME shape as
    * an ingest ordinal (`monotonically_increasing_id` = partition << 33 |
    * row), so an anchored frame re-enters every chunked plan (the
    * ingest-order chunking `__ord >> 33` recovers exactly these chunks);
    * order consumers only ever compare ordinals, never assume density.
    * All original columns (including the old `__ord`) survive, so caller
    * expressions built against the pre-materialization plan still
    * resolve. None when no parallel chunking exists (sorted frame with a
    * non-bucketable string key) — callers fall back to the global window
    * form. */
  private[core] def materializeOrd(f: TadaFrame): Option[DataFrame] =
    chunked(f, fwd = true).map { ch =>
      val wIn = Window.partitionBy(F.col(CHUNK)).orderBy(orderBy(f, fwd = true): _*)
      ch.withColumn(RNA, F.row_number().over(wIn))
        .withColumn(MATORD,
          F.shiftleft(F.col(CHUNK).cast(LongType), 33) +
            F.col(RNA).cast(LongType) - 1L)
        .drop(CHUNK, RNA)
    }

  /** Name of the position column produced by [[materializePos]]. */
  private[core] val MATPOS = "__pfx_pos"

  /** DENSE 0-based frame-order positions in [[MATPOS]] — the positional
    * APIs (Subset/FilterIndex/SetRows/DropRow) address rows by absolute
    * position, so unlike [[materializeOrd]] they need density, which
    * costs the broadcast exclusive prefix of the tiny per-chunk counts
    * on top of the partition-local row_number. Callers must apply their
    * own expressions BEFORE this (stage into a temp column): the offsets
    * join makes post-hoc dataset-tagged refs ambiguous. None when no
    * parallel chunking exists — callers fall back to the global window
    * form. */
  private[core] def materializePos(f: TadaFrame): Option[DataFrame] =
    chunked(f, fwd = true).map { ch =>
      val wIn = Window.partitionBy(F.col(CHUNK)).orderBy(orderBy(f, fwd = true): _*)
      val within = ch.withColumn(RNA, F.row_number().over(wIn))
      val offs = ch.groupBy(F.col(CHUNK)).agg(F.count(F.lit(1)).as("__pfx_n"))
        .withColumn("__pfx_off", F.coalesce(F.sum(F.col("__pfx_n")).over(
          Window.orderBy(F.col(CHUNK)).rowsBetween(Window.unboundedPreceding, -1)),
          F.lit(0L)))
        .select(F.col(CHUNK), F.col("__pfx_off"))
      within.join(F.broadcast(offs), Seq(CHUNK), "left")
        .withColumn(MATPOS, F.col("__pfx_off") + F.col(RNA) - 1L)
        .drop(CHUNK, RNA, "__pfx_off")
    }

  /** Reassemble a result projection in the frame's column layout: `out`
    * replaces an existing column in place, or appends. */
  private def finish(f: TadaFrame, res: DataFrame, out: String): TadaFrame = {
    val keep =
      if (f.df.columns.contains(out)) f.df.columns.map(res(_)).toSeq
      else f.df.columns.map(res(_)).toSeq :+ res(out)
    f.copy(df = res.select(keep: _*))
  }

  /** Whole-frame CumSum, chunked-prefix plan. Same null contract as the
    * window form (nulls add 0, output never null) and the same widened
    * output type. */
  /** True when a parallel chunking exists for this frame's order. */
  private def canChunk(f: TadaFrame): Boolean =
    f.order.isEmpty || bucketScale(f).isDefined

  /** Every whole-frame prefix op notes its realized form (r20, r19
    * verdict item 2): the r19 NTZ hole was THIS family silently taking
    * the single-partition window fallback — rank/rollingDuration noted
    * their dispatch, cumsum/shift/fill/rollingN didn't, so only a bench
    * tag diff (not the fuzz sweep) could see the cliff. With the note,
    * FuzzDiff asserts sweep-wide that NTZ-sorted seeds actually reach
    * the chunked form, and Bench/Verify artifacts carry the family.
    * Keyed (grouped) forms tag `keyedChunked`/`keyedWindow`, matching
    * Rolling.rollingDuration's vocabulary. */
  private def noteForm(op: String, keys: Seq[String], chunked: Boolean): Unit =
    Dispatch.note(op, (keys.isEmpty, chunked) match {
      case (true, true)   => "chunked"
      case (true, false)  => "window"
      case (false, true)  => "keyedChunked"
      case (false, false) => "keyedWindow"
    })

  /** True when the grouped form's key tuple has (approximately) fewer
    * distinct values than the configured partition count — the keyed
    * window's parallelism cap binds (3 segments = 3 tasks no matter the
    * cluster width), so the composed (key, chunk) plan wins (r20, r19
    * verdict item 5; the same memoized-HLL gate as
    * Rolling.rollingDuration's keyed dispatch, r19). */
  private[core] def fewKeys(f: TadaFrame, keys: Seq[String]): Boolean = {
    val kConf = f.df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt.max(1)
    Estimates.approxDistinct(
      f.df.select(F.struct(keys.map(f.df(_)): _*).as("__pfx_k")))
      .exists(_ < kConf)
  }

  /** Per-(key, chunk) carry window: the tiny frame's cells walk each
    * key's own non-empty chunks in chunk order — every cell holds ≥ 1
    * row of its key, so "m cells back" covers "m rows back" per key,
    * the same bounded-carry argument as the keyless form. */
  private def carryWindow(keys: Seq[String]) =
    if (keys.isEmpty) Window.orderBy(F.col(CHUNK))
    else Window.partitionBy(keys.map(F.col): _*).orderBy(F.col(CHUNK))

  /** Left-join the per-(key, chunk) carry frame back onto the row side
    * NULL-SAFELY on the key columns: `Window.partitionBy` groups null
    * keys into ONE partition (and the reference groups null keys like
    * any other — options.go's `(null)` key), so the null-key group's
    * carry must reach its rows — a plain equi-join silently drops it
    * and the null-key group would lose every cross-chunk carry. Tiny's
    * join columns are renamed first so name resolution never collides
    * (tiny derives from the same lineage). Keyless callers keep the
    * using-columns join. */
  private def joinCarry(big: DataFrame, tiny: DataFrame,
                        keys: Seq[String]): DataFrame =
    if (keys.isEmpty) big.join(F.broadcast(tiny), Seq(CHUNK), "left")
    else {
      val renames = keys.zipWithIndex.map { case (k, i) => k -> s"__pfx_j$i" }
      val t2 = renames.foldLeft(tiny) { case (d, (k, j)) => d.withColumnRenamed(k, j) }
        .withColumnRenamed(CHUNK, "__pfx_jc")
      val cond = (renames.map { case (k, j) => big(k) <=> t2(j) } :+
        (big(CHUNK) === t2("__pfx_jc"))).reduce(_ && _)
      big.join(F.broadcast(t2), cond, "left")
        .drop("__pfx_jc" +: renames.map(_._2): _*)
    }

  /** `keys` (r20, r19 verdict item 5): the GROUPED form composed with
    * the chunking — every window/carry structure gains the key columns
    * (windows partition by (keys, chunk); the tiny carry frame groups by
    * (keys, chunk) and chains carries per key over chunk order; the
    * carry joins back null-safely). Engaged by the callers' [[fewKeys]]
    * gate: with d keys the plain keyed window runs d tasks regardless of
    * cluster width, while the composed plan keeps the chunk axis's full
    * parallelism and a tiny frame of ≤ d·#chunks cells. */
  def cumSum(f: TadaFrame, c: String, out: String, keys: Seq[String] = Nil)(
      window: => TadaFrame): TadaFrame =
    // overwriting an order key: anchor the order first (chunked, r14) and
    // re-enter on the anchored frame — its banded ordinal feeds the
    // ingest-order chunking, so values AND ordinal stay distributed;
    // non-bucketable keys keep the pre-r14 anchoring window form
    if (f.order.exists(_.name == out))
      if (canChunk(f)) cumSum(f.anchored, c, out, keys)(window)
      else { noteForm("cumSum", keys, chunked = false); window }
    // out shadowing a PARTITION key: `within` overwrites the key column
    // before joinCarry, so the null-safe carry join would compare running
    // sums against the tiny frame's original key values and drop every
    // cross-chunk carry (ADVICE r20). The keyed window form handles
    // out==key correctly — mirror the order-key guard above.
    else if (keys.contains(out)) { noteForm("cumSum", keys, chunked = false); window }
    else chunked(f, fwd = true) match {
      case None => noteForm("cumSum", keys, chunked = false); window
      case Some(ch) =>
        noteForm("cumSum", keys, chunked = true)
        val cell = keys.map(F.col) :+ F.col(CHUNK)
        val zero = F.lit(0).cast(f.df.schema(c).dataType)
        val v = F.coalesce(F.col(c), zero)
        // widened type of the sequential window's Sum — cast the combined
        // result to it so the two plans are schema-identical
        val sumDt = f.df.select(F.sum(v).as("__t")).schema.head.dataType
        val wIn = Window.partitionBy(cell: _*).orderBy(orderBy(f, fwd = true): _*)
          .rowsBetween(Window.unboundedPreceding, 0)
        val within = ch.withColumn(out, F.sum(v).over(wIn))
        // per-chunk totals MUST come from ch (pre-overwrite): when out == c,
        // `within` has replaced c with the running sum and `v` would
        // re-resolve against it, aggregating prefix sums instead of values
        val offs = ch.groupBy(cell: _*).agg(F.sum(v).as("__pfx_t"))
          .withColumn("__pfx_off", F.sum(F.col("__pfx_t")).over(
            carryWindow(keys).rowsBetween(Window.unboundedPreceding, -1)))
          .select(cell :+ F.col("__pfx_off"): _*)
        val joined = joinCarry(within, offs, keys)
          .withColumn(out,
            (F.col(out) + F.coalesce(F.col("__pfx_off"), F.lit(0))).cast(sumDt))
        finish(f, joined, out)
    }

  /** Whole-frame Shift(n): value n rows back (n < 0 → n rows forward),
    * null when the frame runs out. Rows that look past their chunk head
    * read the "carry" — the |n| frame-order predecessors of the chunk
    * start, assembled from the ≤|n| previous chunks' |n|-row tails on the
    * tiny per-chunk frame (each chunk holds ≥1 row, so |n| chunks back
    * always covers |n| rows back). */
  def shift(f: TadaFrame, c: String, n: Int, out: String,
            keys: Seq[String] = Nil)(
      window: => TadaFrame): TadaFrame =
    if (n == 0) f.withCol(out, f.df(c))
    else if (f.order.exists(_.name == out))
      if (canChunk(f)) shift(f.anchored, c, n, out, keys)(window)
      else { noteForm("shift", keys, chunked = false); window }
    else chunked(f, fwd = n > 0) match {
      case None => noteForm("shift", keys, chunked = false); window
      case Some(ch) =>
        noteForm("shift", keys, chunked = true)
        val cell = keys.map(F.col) :+ F.col(CHUNK)
        val m = math.abs(n)
        // effective order: mirror order for lead, so the core is always
        // "m rows back in effective order"
        val eff = orderBy(f, fwd = n > 0)
        val rev = orderBy(f, fwd = n <= 0)
        val wEff = Window.partitionBy(cell: _*).orderBy(eff: _*)
        val wRev = Window.partitionBy(cell: _*).orderBy(rev: _*)
        val within = ch
          .withColumn(RNA, F.row_number().over(wEff))
          .withColumn(RND, F.row_number().over(wRev))
          .withColumn("__pfx_lag", F.lag(F.col(c), m).over(wEff))
        // per-(key, chunk) tail: the last m rows in effective order,
        // oldest first (structs keep null values collect_list would drop)
        val tails = within.filter(F.col(RND) <= m)
          .groupBy(cell: _*)
          .agg(F.reverse(F.sort_array(F.collect_list(
            F.struct(F.col(RND).as("r"), F.col(c).as("v"))))).as("__pfx_tail"))
        // carry(i) = last m effective-order rows of THIS KEY before chunk
        // i's head — within the key's previous m cells (each holds ≥ 1
        // row of the key, so m cells back always covers m rows back;
        // bounded frame: never the O(#chunks²) flatten of an unbounded
        // running concat)
        val carries = tails
          .withColumn("__pfx_call", F.flatten(F.collect_list(F.col("__pfx_tail")).over(
            carryWindow(keys).rowsBetween(-m, -1))))
          .withColumn("__pfx_carry",
            F.when(F.size(F.col("__pfx_call")) <= m, F.col("__pfx_call"))
              .otherwise(F.slice(F.col("__pfx_call"), -m, m)))
          .select(cell :+ F.col("__pfx_carry"): _*)
        // row r (1-based, effective order) reaching past the chunk head
        // reads carry[L − m + r] (1-based; < 1 ⇒ frame edge ⇒ null)
        val idx = F.size(F.col("__pfx_carry")) - m + F.col(RNA)
        val joined = joinCarry(within, carries, keys)
          .withColumn(out,
            F.when(F.col(RNA) > m, F.col("__pfx_lag"))
              .otherwise(F.when(idx >= 1,
                F.element_at(F.col("__pfx_carry"), idx).getField("v"))))
        finish(f, joined, out)
    }

  /** Upper gate on the chunked rollingN's window length (ADVICE r15):
    * the head/carry structures hold O(#chunks × n) structs, the carry
    * assembly materializes up to n² elements per chunk row before the
    * slice, and both carries and the rebuilt tails are force-broadcast —
    * all fine at query-sized n, hostile at n ≈ 10⁵. Past the gate the
    * sequential window form is the honest plan (a 100k-row rolling
    * window is inherently order-serial work per row anyway). */
  private def maxRollingN(f: TadaFrame): Int =
    Knobs.int(f.df.sparkSession, "graft.prefix.maxRollingN", 1024)

  /** The chunked rollingN rebuilds each chunk's ≤ n−1 tail windows by
    * re-aggregating exploded, UNORDERED rows — exact only for
    * commutative aggregates (ADVICE r15: the scaladoc claimed "generic
    * over any single-column agg", but `first`/`collect_list` would be
    * nondeterministic on exactly those rebuilt rows). Gate on the
    * aggregate FUNCTION class: the commutative families route chunked,
    * anything else (or anything unrecognizable) falls back to the
    * sequential window form, which evaluates every window in frame
    * order. */
  private[core] def commutativeAgg(f: TadaFrame, c: String,
                                   agg: Column => Column): Boolean =
    try {
      import org.apache.spark.sql.catalyst.expressions.aggregate._
      // Column no longer exposes its Catalyst expression (Spark 4 node
      // API) — read the aggregate FUNCTION off the analyzed plan of a
      // zero-row probe aggregate instead. Driver-side analysis only,
      // no job; one per rollingN construction.
      val fns = f.df.limit(0).groupBy().agg(agg(F.col(c)))
        .queryExecution.analyzed.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
            a.aggregateExpressions.flatMap(_.collect {
              case ae: AggregateExpression => ae.aggregateFunction })
        }.flatten
      fns.nonEmpty && fns.forall {
        case _: Sum | _: Min | _: Max | _: Count | _: Average |
             _: CentralMomentAgg | _: BitAggregate | _: Product => true
        case _ => false
      }
    } catch { case _: Throwable => false }

  /** Whole-frame RollingN(n): aggregate over the current + following
    * n−1 rows in frame order, incomplete tail ⇒ null
    * (groupers.go:295-314). Chunked plan: rows deeper than n−1 from
    * their chunk's END aggregate entirely inside the partition-local
    * window; each chunk's ≤ n−1 tail rows reconstruct their window from
    * the in-chunk remainder plus a HEAD CARRY — the first n−1
    * frame-order rows of the following chunks, assembled boundedly on
    * the tiny per-chunk frame exactly like shift's tail carry — and
    * re-aggregate through explode → groupBy with the SAME aggregate
    * (COMMUTATIVE aggregates only — [[commutativeAgg]] gates; struct-
    * wrapped values keep nulls), broadcast-joined back by ordinal.
    * Affected rows per chunk ≤ n−1, so the rebuilt side stays tiny at
    * any scale — for n within [[maxRollingN]]; larger n falls back to
    * the window form. Float caveat: the rebuilt tail rows re-order
    * float addition (same class as chunked cumsum; integral types
    * exact). */
  def rollingN(f: TadaFrame, n: Int, c: String, agg: Column => Column,
               out: String, fin: Column => Column,
               keys: Seq[String] = Nil)(
      window: => TadaFrame): TadaFrame =
    if (f.order.exists(_.name == out))
      if (canChunk(f)) rollingN(f.anchored, n, c, agg, out, fin, keys)(window)
      else { noteForm("rollingN", keys, chunked = false); window }
    else if (n > maxRollingN(f) || !commutativeAgg(f, c, agg)) {
      noteForm("rollingN", keys, chunked = false); window
    } else chunked(f, fwd = true) match {
      case None => noteForm("rollingN", keys, chunked = false); window
      case Some(ch) =>
        noteForm("rollingN", keys, chunked = true)
        val cell = keys.map(F.col) :+ F.col(CHUNK)
        val m = n - 1
        val eff = orderBy(f, fwd = true)
        val rev = orderBy(f, fwd = false)
        val wEff = Window.partitionBy(cell: _*).orderBy(eff: _*)
        val wFrame = wEff.rowsBetween(0, m)
        val base = ch
          .withColumn(RNA, F.row_number().over(wEff))
          .withColumn(RND, F.row_number().over(
            Window.partitionBy(cell: _*).orderBy(rev: _*)))
        if (m == 0) {
          // [0, 0] frame: every window is the row itself — map-shaped
          finish(f, base.withColumn(out, fin(agg(F.col(c)).over(wFrame))), out)
        } else {
          // first m frame-order rows of each (key, chunk) cell, in order
          val heads = base.filter(F.col(RNA) <= m)
            .groupBy(cell: _*)
            .agg(F.sort_array(F.collect_list(
              F.struct(F.col(RNA).as("r"), F.col(c).as("v")))).as("__pfx_head"))
          // carry(i) = first m frame-order rows of THIS KEY after chunk
          // i — from the key's next ≤ m cells of the tiny frame (each
          // cell holds ≥ 1 row of the key, so m cells forward always
          // covers m rows forward)
          val carries = heads
            .withColumn("__pfx_call", F.flatten(F.collect_list(F.col("__pfx_head")).over(
              carryWindow(keys).rowsBetween(1, m))))
            .withColumn("__pfx_carry", F.slice(F.col("__pfx_call"), 1, m))
            .select(cell :+ F.col("__pfx_carry"): _*)
          // tail rows: in-cell remainder (themselves + their in-cell
          // followers — all within the last m, so the filtered window is
          // exact) + enough carry to reach n rows; re-aggregate via
          // explode → groupBy with the same agg
          val wTail = Window.partitionBy(cell: _*).orderBy(eff: _*)
            .rowsBetween(0, Window.unboundedFollowing)
          val rebuilt = joinCarry(
            base.filter(F.col(RND) <= m)
              .withColumn("__pfx_in",
                F.collect_list(F.struct(F.col(c).as("v"))).over(wTail)),
            carries, keys)
            .withColumn("__pfx_full", F.concat(F.col("__pfx_in"),
              F.transform(
                F.slice(F.coalesce(F.col("__pfx_carry"),
                  F.expr("array()").cast("array<struct<r:int,v:" +
                    f.df.schema(c).dataType.sql + ">>")),
                  F.lit(1), F.lit(n) - F.col(RND)),
                s => F.struct(s.getField("v").as("v")))))
            .filter(F.size(F.col("__pfx_full")) === n)
          val agged = rebuilt
            .select(F.col(ORD).as("__pfx_o"), F.explode(F.col("__pfx_full")).as("__pfx_e"))
            .groupBy(F.col("__pfx_o"))
            .agg(agg(F.col("__pfx_e.v")).as("__pfx_v"))
            .withColumn("__pfx_has", F.lit(true))
          val joined = base.join(F.broadcast(agged),
              base(ORD) === F.col("__pfx_o"), "left")
            .withColumn(out,
              F.when(F.col(RND) > m, fin(agg(F.col(c)).over(wFrame)))
                .otherwise(F.when(F.col("__pfx_has"), fin(F.col("__pfx_v")))))
          finish(f, joined, out)
        }
    }

  /** Whole-frame forward/backward fill (FillNullHow.Forward/Backward with
    * no grouping): last/first non-null in frame order. Carry is the last
    * non-null among all previous chunks' own last-non-nulls — a scalar
    * running `last(ignoreNulls)` on the tiny frame. Value-identical to the
    * window form for every type (no arithmetic regrouping). */
  def fill(f: TadaFrame, c: String, forward: Boolean)(
      window: => TadaFrame): TadaFrame =
    if (f.order.exists(_.name == c))
      if (canChunk(f)) fill(f.anchored, c, forward)(window)
      else { noteForm("fill", Nil, chunked = false); window }
    else chunked(f, fwd = forward) match {
      case None => noteForm("fill", Nil, chunked = false); window
      case Some(ch) =>
        noteForm("fill", Nil, chunked = true)
        val eff = orderBy(f, fwd = forward)
        val rev = orderBy(f, fwd = !forward)
        val wIn = Window.partitionBy(F.col(CHUNK)).orderBy(eff: _*)
          .rowsBetween(Window.unboundedPreceding, 0)
        val within = ch
          .withColumn(RND, F.row_number().over(
            Window.partitionBy(F.col(CHUNK)).orderBy(rev: _*)))
          .withColumn("__pfx_fill", F.last(F.col(c), ignoreNulls = true).over(wIn))
        // chunk's LAST row (RND = 1, unique) carries the chunk-wide last
        // non-null (or null) — min_by on the unique desc row number
        val lasts = within.groupBy(F.col(CHUNK))
          .agg(F.min_by(F.col("__pfx_fill"), F.col(RND)).as("__pfx_cl"))
        val carries = lasts
          .withColumn("__pfx_carry", F.last(F.col("__pfx_cl"), ignoreNulls = true).over(
            Window.orderBy(F.col(CHUNK)).rowsBetween(Window.unboundedPreceding, -1)))
          .select(F.col(CHUNK), F.col("__pfx_carry"))
        val joined = within.join(F.broadcast(carries), Seq(CHUNK), "left")
          .withColumn(c, F.coalesce(F.col("__pfx_fill"), F.col("__pfx_carry")))
        finish(f, joined, c)
    }
}
