package graft.core

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, functions => F}

/** The one home of statistics that operators compute from data while a
  * DataFrame is being built: chunk bounds, value vocabularies, distinct
  * estimates, row counts and pair masses. Each is a Spark job at build
  * time, so each is memoized, and repeated builds of the same query
  * (bench reps, explain, registry sweeps) start no job.
  *
  *  - Key: [[PlanKey.of]] of the frame the job reads (its canonicalized
  *    analyzed plan, output names and file stamps) plus a salt that
  *    names the estimator and its parameters (`"count"`,
  *    `"distinctValues|cap=4096"`, `"quantStats|nq=4"`). Two estimators
  *    over one plan never share an entry.
  *  - Failure: a job (or key) that throws yields `None` ([[count]] and
  *    [[attempt]]: a `Failure` holding the exception) and is never
  *    memoized; each caller decides whether to fall back or to propagate.
  *  - Scope: a [[SessionMemo]] per session, at most [[MaxEntries]]
  *    estimates, least recently used out first. No lock is held across
  *    a job: a racing duplicate job is harmless, a blocked build thread
  *    is not.
  *
  * [[of]] is also the single place where every data-driven estimate
  * passes, so it is the hook for an estimate trace event.
  */
object Estimates {
  private[graft] val MaxEntries = 1024

  private val memo = new SessionMemo[(AnyRef, String), Any](MaxEntries)
  private val hitCtr = new java.util.concurrent.atomic.AtomicLong

  /** Memo hits so far, across sessions. */
  private[graft] def hits: Long = hitCtr.get

  /** Estimates the session's memo holds now. */
  private[graft] def size(sel: DataFrame): Int = memo.size(sel.sparkSession)

  /** `job(sel)`, memoized per (plan of `sel`, file state, `salt`) per
    * session; `None` when the job fails. */
  def of[V](sel: DataFrame, salt: String)(job: DataFrame => V): Option[V] =
    attempt(sel, salt)(job).toOption

  /** `sel.count()`, memoized; a failed count is a `Failure`, so a caller
    * can fall back (`getOrElse(-1L)`) or rethrow (`get`). */
  def count(sel: DataFrame): Try[Long] = attempt(sel, "count")(_.count())

  /** [[of]], with a failed job handed to the caller as a `Failure`. */
  def attempt[V](sel: DataFrame, salt: String)(job: DataFrame => V): Try[V] =
    try {
      val (plan, files) = PlanKey.of(sel)
      val k = (plan, files + "|" + salt)
      memo.get(sel.sparkSession, k) match {
        case Some(v) => hitCtr.incrementAndGet(); Success(v.asInstanceOf[V])
        case None =>
          val v = job(sel)
          memo.put(sel.sparkSession, k, v)
          Success(v)
      }
    } catch { case t: Throwable => Failure(t) }

  private def opt[T](r: org.apache.spark.sql.Row, i: Int)(get: Int => T): Option[T] =
    if (r.isNullAt(i)) None else Some(get(i))

  /** (min, max, approx distinct) of `sel`'s single double column in ONE
    * map-side-cheap pass (HLL for the distinct — deterministic for fixed
    * data, only gates an optimization). Inner Options are the all-null
    * corpus. */
  def stats(sel: DataFrame): Option[(Option[Double], Option[Double], Double)] =
    of(sel, "stats") { s =>
      val c = F.col(s.columns.head)
      val r = s.agg(F.min(c), F.max(c), F.approx_count_distinct(c)).head()
      (opt(r, 0)(r.getDouble), opt(r, 1)(r.getDouble), r.getLong(2).toDouble)
    }

  /** The ≤ `cap` SORTED distinct non-null values of `sel`'s single
    * double column — the low-cardinality chunking's value vocabulary.
    * Empty array = over cap (the limit(cap+1) collect saw more) or
    * genuinely empty; callers treat both as "don't engage".
    * Driver-bounded by construction: cap+1 doubles. `cap` is in the salt
    * (r18 ADVICE): a mid-session shuffle-partition change changes
    * lowCardChunk's effective cap, and a memoized over-cap empty array
    * from the old cap would otherwise disengage value-chunking for good
    * (perf only — chunk ids stay correct — but silent). */
  def distinctValues(sel: DataFrame, cap: Int): Option[Array[Double]] =
    of(sel, s"distinctValues|cap=$cap") { s =>
      val c = F.col(s.columns.head)
      val got = s.filter(c.isNotNull).distinct().limit(cap + 1).collect().map(_.getDouble(0))
      if (got.length > cap) Array.empty[Double] else got.sorted
    }

  /** (min, max, max octet length, approx distinct) of `sel`'s single
    * STRING column in one pass — the anchors of the string sort key's
    * binary-prefix image (r17) plus the RAW-value cardinality that gates
    * string value-chunking (r18: the image's HLL under-counts whenever
    * the 6-byte window collides, so the engagement gate must read the
    * raw column). Inner Nones are the all-null corpus. */
  def stringBounds(sel: DataFrame): Option[(Option[String], Option[String], Long, Double)] =
    of(sel, "stringBounds") { s =>
      val c = F.col(s.columns.head)
      val r = s.agg(F.min(c), F.max(c), F.max(F.octet_length(c)),
        F.approx_count_distinct(c)).head()
      (opt(r, 0)(r.getString), opt(r, 1)(r.getString),
        opt(r, 2)(r.getInt).fold(0L)(_.toLong), r.getLong(3).toDouble)
    }

  /** The ≤ `cap` distinct non-null STRING values of `sel`'s single
    * column, sorted in UTF-8 BYTE order (Spark's string comparison —
    * `String.compareTo`'s UTF-16 code-unit order disagrees for
    * supplementary characters, which would scramble the ascending
    * chunk-index invariant). Empty array = over cap or genuinely empty;
    * `cap` is in the salt — same rationale as [[distinctValues]]. */
  def distinctStrings(sel: DataFrame, cap: Int): Option[Array[String]] =
    of(sel, s"distinctStrings|cap=$cap") { s =>
      val c = F.col(s.columns.head)
      val got = s.filter(c.isNotNull).distinct().limit(cap + 1).collect().map(_.getString(0))
      if (got.length > cap) Array.empty[String] else got.sorted(Prefix.Utf8Order)
    }

  /** Approximate distinct count of `sel`'s single column (ANY type —
    * HLL hashes structs too) — the dispatch gate for plans whose
    * break-even depends on cardinality (banded rankRep: #groups; keyed
    * rollingDuration: #keys). One map-side-combined pass; deterministic
    * for fixed data. */
  def approxDistinct(sel: DataFrame): Option[Double] =
    of(sel, "approxDistinct") { s =>
      s.agg(F.approx_count_distinct(F.col(s.columns.head))).head().getLong(0).toDouble
    }

  /** (min, max, approx distinct, ~equi-depth interior boundaries) of
    * `sel`'s single double column in ONE pass — the chunk axis for the
    * value/time chunked plans (r19, r18 verdict item 2: equi-WIDTH
    * buckets over min/max silently collapse a heavy-tailed value column
    * or a bursty time axis into a few chunks — the exact
    * single-partition shape the chunked plans exist to remove).
    * Boundaries are `approx_percentile` at i/n for i in 1..n−1,
    * deduped and strictly inside (min, max), so ~equal ROW COUNTS land
    * between consecutive boundaries regardless of the distribution;
    * a chunk id derived as "boundaries ≤ v" stays a pure monotone
    * function of the value (equal values share a chunk — the partial-
    * composition invariant is untouched; only BALANCE changes).
    * Approximation error only unbalances chunks, never breaks
    * correctness. `n` is in the salt. Inner Nones = all-null column. */
  def quantStats(sel: DataFrame, n: Int):
      Option[(Option[Double], Option[Double], Double, Array[Double])] =
    of(sel, s"quantStats|nq=$n") { s =>
      val c = F.col(s.columns.head)
      val fracs = (1 until n).map(i => i.toDouble / n)
      val r = s.agg(F.min(c), F.max(c), F.approx_count_distinct(c),
        F.percentile_approx(c, F.lit(fracs.toArray), F.lit(10000))).head()
      val mn = opt(r, 0)(r.getDouble)
      val mx = opt(r, 1)(r.getDouble)
      // canonicalized through BoundaryBucket.prepare (ADVICE r19):
      // boxed Array.distinct can keep a −0.0/0.0 pair that prepare
      // would later merge inside the expression, leaving qs.length
      // an over-count of the realized finite chunk ids — prepare
      // here (sorted, −0.0-normalized, deduped under Double.compare)
      // so the callers' `nb = qs.length` IS the prepared length
      val qs: Array[Double] =
        if (r.isNullAt(3) || mn.isEmpty || mx.isEmpty) Array.empty
        else graft.exprs.BoundaryBucket.prepare(r.getSeq[Double](3).toArray)
          .filter(b => b > mn.get && b < mx.get)
      (mn, mx, r.getLong(2).toDouble, qs)
    }
}
