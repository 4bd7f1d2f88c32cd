package graft.io

import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

import graft.core.TadaFrame
import graft.semantics.TadaFormat

/** IO surface (SURVEY.md §2.1): record/CSV/case-class readers & writers
  * with the reference's knobs — N header rows, M label levels, optional
  * 10-row-majority type inference, blank-as-null, configurable null
  * strings — plus the `(null)` record writer, ASCII rendering, mock-CSV
  * generation and diff-based equality for the test-driven workflow.
  *
  * Scale note: `readCsvPath` and `readJson` are the distributed paths
  * (`Sources.read` returns Spark's own file scan, parallel and
  * pushdown-capable, and infers each file version's schema once per
  * session). The record/string
  * forms are driver-side by nature — they exist for the reference's
  * test-driven pipeline workflow (readme_test.go), not for bulk data.
  */
/** Central options surface (options.go:46-132): ONE immutable config
  * carrying the null-string set, separators, NaN policy, print caps and
  * datetime formats. The reference mutates package-global state behind
  * setters (`SetOptionAddNullString`, `PrintOptionMaxRows`, …); a
  * distributed engine wants an explicit value instead — global mutable
  * print/parse state lives only on the driver and races across
  * concurrent queries — so the same knobs thread through `readConfig`
  * and `TadaIO.render(f, opts)` as a parameter, with `TadaOptions()`
  * reproducing every reference default. */
final case class TadaOptions(
    levelSeparator: String = "|",            // SetOptionDefaultSeparator
    maxRows: Int = 50,                       // PrintOptionMaxRows
    maxColumns: Int = 20,                    // PrintOptionMaxColumns
    maxCellWidth: Int = 30,                  // PrintOptionMaxCellWidth
    mergeRepeats: Boolean = true,            // PrintOptionMergeRepeats
    nullPrinter: String = "(null)",          // optionsNullPrinter
    nullStrings: Set[String] = Set("(null)"),// optionNullStrings
    emptyStringAsNull: Boolean = false,      // SetOptionEmptyStringAsNull
    nanIsNull: Boolean = true,               // SetOptionNaNStatus
    defaultNamePrefix: String = "*",         // optionPrefix
    dateTimeFormats: Seq[String] = graft.semantics.TadaFormat.defaultTimeFormats) {

  /** SetOptionAddNullString — returns a new config (no global state). */
  def addNullString(s: String): TadaOptions = copy(nullStrings = nullStrings + s)

  /** SetOptionAddTimeFormat. */
  def addTimeFormat(f: String): TadaOptions = copy(dateTimeFormats = dateTimeFormats :+ f)

  /** Reader knobs derived from this config (per-read shape settings stay
    * per-read arguments, as they are in the reference's Reader structs). */
  def readConfig(headerRows: Int = 1, labelLevels: Int = 0,
                 inferTypes: Boolean = false, delimiter: Char = ','): TadaIO.ReadConfig =
    TadaIO.ReadConfig(headerRows, labelLevels, inferTypes,
      blankAsNull = emptyStringAsNull, nullStrings = nullStrings.toSeq.sorted,
      delimiter = delimiter, levelSeparator = levelSeparator, nanIsNull = nanIsNull)
}

object TadaIO {

  final case class ReadConfig(
      headerRows: Int = 1,
      labelLevels: Int = 0,
      inferTypes: Boolean = false,
      blankAsNull: Boolean = true,
      nullStrings: Seq[String] = Seq("(null)"),
      delimiter: Char = ',',
      levelSeparator: String = "|",
      nanIsNull: Boolean = true)

  /** RecordReader (io.go:213-268): [][]string → frame. Validates
    * rectangularity (internal.go:523-528) and non-emptiness
    * (io.go:253-258). */
  def readRecords(spark: SparkSession, records: Seq[Seq[String]],
                  cfg: ReadConfig = ReadConfig()): TadaFrame = {
    require(records.nonEmpty, "readRecords: empty input")
    val width = records.head.size
    records.zipWithIndex.foreach { case (r, i) =>
      require(r.size == width, s"readRecords: ragged row $i (${r.size} fields, want $width)")
    }
    val headers = records.take(cfg.headerRows)
    val body = records.drop(cfg.headerRows)
    // multi-row headers join with the level separator, EMPTY CELLS KEPT
    // (joinLevelsIntoName internal.go:1501-1503 joins the raw cells), so
    // a label read from ("", "labels") is named "|labels" and renders
    // stacked with the blank level on top, exactly like the reference
    val names: Seq[String] =
      if (cfg.headerRows == 0) (0 until width).map(i => i.toString)
      else (0 until width).map(i =>
        headers.map(_(i).trim).mkString(cfg.levelSeparator))
    val nulls = cfg.nullStrings ++ (if (cfg.blankAsNull) Seq("") else Nil)
    val rows = body.map(r => Row.fromSeq(r.map { v =>
      val t = v.trim
      if (nulls.contains(t)) null else t
    }))
    val schema = StructType(names.map(n => StructField(n, StringType)).toIndexedSeq)
    val df0 = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val df = if (cfg.inferTypes) castInferred(df0, body, names, cfg.nanIsNull) else df0
    val labels = names.take(cfg.labelLevels)
    // one column level per header row, named *0, *1… (setColLevelNames
    // internal.go:626-641); render stacks that many header rows
    val levels = (0 until math.max(cfg.headerRows, 1)).map(l => s"*$l")
    TadaFrame.ingest(df, labels).copy(colLevelNames = levels)
  }

  /** Per-value inference float → date → datetime → string, majority vote
    * over the first 10 rows (internal.go:844-892). */
  private[io] def inferType(v: String): String = {
    val t = v.trim
    if (t.isEmpty) "string"
    else if (t.toDoubleOption.isDefined) "float"
    else if (t.matches("""\d{4}-\d{2}-\d{2}""")) "date"
    else if (t.matches("""\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}(:\d{2})?.*""")) "datetime"
    else "string"
  }

  private def castInferred(df: DataFrame, body: Seq[Seq[String]], names: Seq[String],
                           nanIsNull: Boolean = true): DataFrame = {
    val sample = body.take(10)
    names.zipWithIndex.foldLeft(df) { case (d, (n, i)) =>
      val votes = sample.map(r => inferType(r(i))).groupBy(identity).view.mapValues(_.size)
      val winner = if (votes.isEmpty) "string" else votes.maxBy(_._2)._1
      // try_cast: tada's failed coercions produce null (internal.go:1639-1641);
      // Spark 4's default ANSI cast would throw instead
      winner match {
        case "float" =>
          val cast = d(n).try_cast(DoubleType)
          // SetOptionNaNStatus default: NaN IS null (internal.go:1835-1926)
          d.withColumn(n, if (nanIsNull) F.when(F.isnan(cast), F.lit(null)).otherwise(cast) else cast)
        case "date" => d.withColumn(n, d(n).try_cast(DateType))
        case "datetime" => d.withColumn(n, d(n).try_cast(TimestampType))
        case _ => d
      }
    }
  }

  /** CSV string form (driver-side fixture path; embeds encoding/csv
    * semantics io.go:304-359). */
  def readCsvString(spark: SparkSession, csv: String,
                    cfg: ReadConfig = ReadConfig()): TadaFrame = {
    val lines = csv.split("\n").toSeq.filter(_.nonEmpty)
    require(lines.nonEmpty, "readCsvString: empty input")
    readRecords(spark, lines.map(splitCsvLine(_, cfg.delimiter)), cfg)
  }

  /** Minimal RFC-4180 line splitter (quotes + escaped quotes). */
  private[io] def splitCsvLine(line: String, delim: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') inQ = false
        else cur += c
      } else c match {
        case '"' => inQ = true
        case `delim` => out += cur.result(); cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    out += cur.result()
    out.result()
  }

  /** Distributed CSV scan — the scale path. Reads through
    * `Sources.read`: the header job and, with `inferTypes`, the full-file
    * inference scan run on the first read of a file version only; a
    * repeat read of unchanged files reuses the schema (the typed-once
    * coercion of SURVEY §6) and starts no job until the plan is forced. */
  def readCsvPath(spark: SparkSession, path: String,
                  cfg: ReadConfig = ReadConfig()): TadaFrame =
    TadaFrame.ingest(Sources.read(spark, "csv", path, Map(
      "header" -> (cfg.headerRows > 0).toString,
      "delimiter" -> cfg.delimiter.toString,
      "nullValue" -> cfg.nullStrings.headOption.getOrElse("(null)"),
      "inferSchema" -> cfg.inferTypes.toString)))

  /** RecordWriter (io.go:271-299): frame → [][]string, nulls as
    * "(null)" (internal.go:2866-2890). Header row first. */
  def writeRecords(f: TadaFrame, includeLabels: Boolean = true): Seq[Seq[String]] =
    f.records(includeLabels)

  /** Go `fmt.Sprint` image of a JVM value — the string form tada's
    * stringified operators key on (float 1.0 → "1", timestamps RFC3339,
    * slices "[a b c]"). Driver-side twin of `TadaFormat.stringify`. */
  private[graft] def goSprint(v: Any): String = v match {
    case d: Double =>
      // same transform as TadaFormat.stringify's regexp_replace("\.0$")
      val s = d.toString; if (s.endsWith(".0")) s.dropRight(2) else s
    case f: Float => goSprint(f.toDouble)
    case t: java.time.Instant =>
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
        .withZone(java.time.ZoneOffset.UTC).format(t)
    case t: java.sql.Timestamp => goSprint(t.toInstant)
    case s: Seq[_] => s.map(goSprint).mkString("[", " ", "]")
    case a: Array[_] => goSprint(a.toSeq)
    case other => String.valueOf(other)
  }

  /** Per-cell null sentinel (isNullInterface internal.go:1928-1966):
    * nil, NaN float (under the default NaN-is-null option), a
    * null-string, a zero-length slice. */
  private def isNullCell(v: Any, cfg: ReadConfig): Boolean = v match {
    case null => true
    case d: Double => (cfg.nanIsNull && d.isNaN) || false
    case f: Float => cfg.nanIsNull && f.isNaN
    case s: String => cfg.nullStrings.contains(s) || (cfg.blankAsNull && s.isEmpty)
    case s: Seq[_] => s.isEmpty
    case a: Array[_] => a.isEmpty
    case _ => false
  }

  /** InterfaceRecordReader (io.go:363-432, internal.go:572-600):
    * mixed-typed `Seq[Seq[Any]]` records → frame. The reference stores
    * every column as `[]interface{}` and stringifies lazily; a Spark
    * column needs ONE concrete type, so each column gets the narrowest
    * type holding every non-null cell — uniform integral → long, any
    * numeric → double, boolean / date / timestamp / string → native —
    * and a genuinely mixed column falls back to the `fmt.Sprint` string
    * image, which is exactly the value the reference's stringified
    * group/filter/join semantics would key on (§1.5). Per-cell null
    * sentinels follow isNullInterface; header cells are stringified
    * with `fmt.Sprint` and multi-row headers join with the level
    * separator, like the string-record reader. */
  def readInterfaceRecords(spark: SparkSession, records: Seq[Seq[Any]],
                           cfg: ReadConfig = ReadConfig(),
                           byColumn: Boolean = false): TadaFrame = {
    require(records.nonEmpty, "readInterfaceRecords: must have at least one record")
    require(records.head.nonEmpty, "readInterfaceRecords: first record cannot be empty")
    val width = records.head.size
    records.zipWithIndex.foreach { case (r, i) =>
      require(r.size == width,
        s"readInterfaceRecords: num items in row $i [${r.size}] does not match row 0 [$width]")
    }
    // normalize to column-major (transposeInterfaceRecords internal.go:602-616)
    val cols: Seq[Seq[Any]] =
      if (byColumn) records else records.transpose
    val names: Seq[String] =
      if (cfg.headerRows == 0) cols.indices.map(_.toString)
      else cols.map(c => c.take(cfg.headerRows).map(goSprint).mkString(cfg.levelSeparator))
    // Real bound (ADVICE r7: the old `body.head.nonEmpty || all empty`
    // was a tautology — equal-length columns make the sides equivalent,
    // so headerRows > record count silently yielded an empty frame with
    // truncated header names). The reference PANICS on records[k][:n]
    // when n exceeds the record count (internal.go:604-610) and yields
    // an empty body when equal; we error on the former, allow the latter.
    require(cfg.headerRows <= cols.head.size,
      s"readInterfaceRecords: header rows [${cfg.headerRows}] exceed record count [${cols.head.size}]")
    val body: Seq[Seq[Any]] = cols.map(_.drop(cfg.headerRows))
    // per-column Spark type from the non-null cells
    val typed: Seq[(Seq[Any], DataType)] = body.map { col =>
      val cells = col.map(v => if (isNullCell(v, cfg)) null else v)
      val present = cells.filter(_ != null)
      def all(p: Any => Boolean) = present.nonEmpty && present.forall(p)
      val isIntegral = (v: Any) => v.isInstanceOf[Byte] || v.isInstanceOf[Short] ||
        v.isInstanceOf[Int] || v.isInstanceOf[Long]
      val isNumeric = (v: Any) => isIntegral(v) || v.isInstanceOf[Float] ||
        v.isInstanceOf[Double] || v.isInstanceOf[java.math.BigDecimal] ||
        v.isInstanceOf[BigDecimal]
      if (all(_.isInstanceOf[Boolean]))
        (cells.map { case null => null; case b => Boolean.box(b.asInstanceOf[Boolean]) }, BooleanType)
      else if (all(isIntegral))
        (cells.map { case null => null
          case n: Number => Long.box(n.longValue) }, LongType)
      else if (all(isNumeric))
        (cells.map { case null => null
          case b: BigDecimal => Double.box(b.toDouble)
          case n: Number => Double.box(n.doubleValue) }, DoubleType)
      else if (all(v => v.isInstanceOf[java.time.LocalDate] || v.isInstanceOf[java.sql.Date]))
        (cells.map { case null => null
          case d: java.time.LocalDate => java.sql.Date.valueOf(d)
          case d: java.sql.Date => d }, DateType)
      else if (all(v => v.isInstanceOf[java.time.Instant] ||
                        v.isInstanceOf[java.sql.Timestamp] ||
                        v.isInstanceOf[java.time.LocalDateTime]))
        (cells.map { case null => null
          case t: java.time.Instant => java.sql.Timestamp.from(t)
          case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t)
          case t: java.sql.Timestamp => t }, TimestampType)
      else if (all(_.isInstanceOf[String]))
        (cells, StringType)
      else // mixed: the fmt.Sprint image, the reference's keying form
        (cells.map { case null => null; case v => goSprint(v) }, StringType)
    }
    val schema = StructType(names.zip(typed).map { case (n, (_, dt)) =>
      StructField(n, dt) }.toIndexedSeq)
    val nRows = body.head.size
    val rows = (0 until nRows).map(i => Row.fromSeq(typed.map(_._1(i))))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val labels = names.take(cfg.labelLevels)
    val levels = (0 until math.max(cfg.headerRows, 1)).map(l => s"*$l")
    TadaFrame.ingest(df, labels).copy(colLevelNames = levels)
  }

  /** InterfaceRecordWriter (io.go:404-432, internal.go:2892-2908):
    * frame → typed `Seq[Seq[Any]]`, nulls as `null` (NOT "(null)" — the
    * typed writer's contract). One header slot per column level, names
    * split into levels, short names leaving excess slots null. */
  def writeInterfaceRecords(f: TadaFrame, includeLabels: Boolean = false,
                            byColumn: Boolean = false,
                            levelSep: String = "|"): Seq[Seq[Any]] = {
    val cs = (if (includeLabels) f.labels else Nil) ++ f.valueCols
    val nLevels = math.max(f.colLevelNames.size, 1)
    val collected = f.sorted.select(cs.map(f.df(_)): _*).collect()
    val colMajor: Seq[Seq[Any]] = cs.zipWithIndex.map { case (n, j) =>
      val headerSlots: Seq[Any] = n.split(java.util.regex.Pattern.quote(levelSep), -1)
        .toSeq.padTo(nLevels, null).take(nLevels)
      headerSlots ++ collected.toSeq.map(_.get(j))
    }
    if (byColumn) colMajor else colMajor.transpose
  }

  /** Case-class reader (StructReader io.go:436-500) — `Dataset[T]`. */
  def readCaseClass[T <: Product : Encoder](spark: SparkSession, data: Seq[T]): TadaFrame =
    TadaFrame.ingest(spark.createDataset(data)(implicitly[Encoder[T]]).toDF())

  /** Case-class writer (StructWriter): frame → typed Seq in frame order. */
  def writeCaseClass[T: Encoder](f: TadaFrame): Seq[T] = {
    val cols = (f.labels ++ f.valueCols).map(f.df(_))
    f.df.orderBy(f.orderCols: _*).select(cols: _*).as[T](implicitly[Encoder[T]])
      .collect().toSeq
  }

  /** ASCII table renderer replicating the reference's printed form
    * byte-for-byte (dataframe.go:138-222 + its tablewriter, as pinned by
    * the `Example*` golden corpus): label and value sections divided by
    * a double border, headers centered (left-biased), cells
    * right-aligned, consecutive repeats blanked in every column
    * (PrintOptionAutoMerge default), rows truncated to head+`...`+tail
    * past `maxRows`, middle value columns collapsed to `...` at
    * `maxColumns`, wide cells truncated to `maxCellWidth`, default
    * `*N` label names suppressed to `-`, and a `name:` caption.
    *
    * A frame with no explicit labels renders the reference's default
    * positional index, reconstructed as the rank of the hidden ingest
    * ordinal — so a sorted frame shows its ORIGINAL row positions, like
    * the reference's index does. (After row-dropping ops the rank is
    * recomputed over surviving rows; the reference would keep the
    * original positions — only an eager index column could preserve
    * that, which the lazy-plan design deliberately avoids.)
    *
    * Multi-row headers render stacked, one row per column level
    * (String() dataframe.go:211-214 appends numColLevels header rows);
    * names with fewer parts than levels top-align. */
  /** Render under a full options config (print caps, merge toggle, null
    * printer, default-name prefix) — the `PrintOption*` surface as one
    * value. */
  def render(f: TadaFrame, opts: TadaOptions): String =
    render(f, opts.maxRows, opts.maxColumns, opts.maxCellWidth,
      opts.mergeRepeats, opts.nullPrinter, opts.defaultNamePrefix,
      opts.levelSeparator)

  def render(f: TadaFrame, maxRows: Int = 50, maxColumns: Int = 20,
             maxCellWidth: Int = 30, mergeRepeats: Boolean = true,
             nullPrinter: String = "(null)", namePrefix: String = "*",
             levelSep: String = "|"): String = {
    val nLab = math.max(f.labels.size, 1)
    // the injected default index is named "*0" (the reference's default
    // label name — printed literally in multi-header mode), falling
    // back to a fresh *-prefixed name only when a real column already
    // holds "*0" (overwriting it would silently drop its values)
    val idxName = (Iterator("*0") ++ Iterator.from(0).map(i => s"*idx$i"))
      .find(n => !f.df.columns.contains(n)).get
    val src =
      if (f.labels.nonEmpty) f
      else f.copy(
        df = f.df.withColumn(idxName,
          F.row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(f.df(TadaFrame.ORD))) - 1),
        labels = Seq(idxName))
    val recs = src.records(nullPrinter = nullPrinter)
    // one header row per column level (String() dataframe.go:211-214):
    // "foo|baz" under 2 levels stacks foo over baz; a name with fewer
    // parts than levels top-aligns (the golden corpus pins "*0" over
    // blank for the default label, blank over "labels" for a label read
    // from an empty-then-named header). suppressDefaultName to "-"
    // applies only in the single-header form (internal.go:2768; the
    // 2-header golden shows a literal *0).
    val nLevels = math.max(f.colLevelNames.size, 1)
    def splitLevels(n: String): Seq[String] =
      (if (nLevels == 1) Seq(n)
       else n.split(java.util.regex.Pattern.quote(levelSep), -1).toSeq)
        .padTo(nLevels, "").take(nLevels)
    val headerRows: Seq[Seq[String]] = (0 until nLevels).map { l =>
      recs.head.zipWithIndex.map { case (h, j) =>
        val cell = splitLevels(h)(l)
        if (nLevels == 1 && j < nLab && cell.startsWith(namePrefix)) "-" else cell
      }
    }
    val header = headerRows.head
    // row truncation: head + "..." filler + tail (dataframe.go:147-162)
    val data1 =
      if (recs.tail.size <= maxRows) recs.tail
      else {
        val n = maxRows / 2
        (recs.tail.take(n) :+ Seq.fill(header.size)("...")) ++ recs.tail.takeRight(n)
      }
    // column truncation collapses the middle VALUE columns (>= like the
    // reference, dataframe.go:171)
    val (headers2, data2) =
      if (header.size - nLab < maxColumns) (headerRows, data1)
      else {
        val n = maxColumns / 2
        def cut(r: Seq[String]) = {
          val vals = r.drop(nLab)
          r.take(nLab) ++ (vals.take(n) :+ "...") ++ vals.takeRight(n)
        }
        (headerRows.map(cut), data1.map(cut))
      }
    def clip(v: String) = if (v.length > maxCellWidth) v.take(maxCellWidth - 3) + "..." else v
    val hs = headers2.map(_.map(clip))
    val d = data2.map(_.map(clip))
    // widths over the UNmerged cells, so blanking a repeat never shrinks
    // its column
    val widths = (hs ++ d).transpose.map(col => col.map(_.length).max)
    val dm =
      if (!mergeRepeats || d.isEmpty) d
      else d.head +: d.sliding(2).collect { case Seq(prev, cur) =>
        cur.zip(prev).map { case (c, p) => if (c == p && c.nonEmpty) "" else c }
      }.toSeq
    def center(v: String, w: Int) = {
      val left = (w - v.length) / 2
      (" " * left) + v + (" " * (w - v.length - left))
    }
    def right(v: String, w: Int) = (" " * (w - v.length)) + v
    def line(cells: Seq[String], pipe: String, pad: String) =
      cells.zipWithIndex.map { case (c, j) =>
        (if (j == nLab) pipe * 2 else pipe) + pad + c + pad
      }.mkString + pipe
    def border(ch: String) = line(widths.map(w => "-" * w), ch, "-")
    val rows =
      (border("+") +:
        hs.map(h => line(h.zip(widths).map((center _).tupled), "|", " "))) ++
        (border("|") +:
          dm.map(r => line(r.zip(widths).map((right _).tupled), "|", " "))) :+
        border("+")
    rows.mkString("\n") + (if (f.name.nonEmpty) s"\nname: ${f.name}" else "")
  }

  /** WriteMockCSV (io.go:537-557): infer dtypes from a source CSV, emit n
    * deterministic rows from fixed per-dtype pools (internal.go:909-933),
    * 10% nulls. */
  private val floatPool = Seq(".1", ".25", ".5", ".75", ".9")
  private val stringPool = Seq("foo", "bar", "baz", "qux", "quuz")
  private val datePool = Seq("2019-12-31", "2020-01-01", "2020-01-02", "2020-02-01", "2020-02-02")

  def mockCsv(spark: SparkSession, srcCsv: String, n: Int,
              cfg: ReadConfig = ReadConfig()): String = {
    val lines = srcCsv.split("\n").toSeq.filter(_.nonEmpty)
    val header = lines.head
    val body = lines.tail.map(splitCsvLine(_, cfg.delimiter))
    val kinds = body.head.indices.map { i =>
      val votes = body.take(10).map(r => inferType(r(i))).groupBy(identity).view.mapValues(_.size)
      if (votes.isEmpty) "string" else votes.maxBy(_._2)._1
    }
    val rng = new scala.util.Random(42) // deterministic-clock seam (types.go:271)
    val rows = (0 until n).map { _ =>
      kinds.map { k =>
        if (rng.nextDouble() < 0.1) "(null)"
        else k match {
          case "float" => floatPool(rng.nextInt(floatPool.size))
          case "date" | "datetime" => datePool(rng.nextInt(datePool.size))
          case _ => stringPool(rng.nextInt(stringPool.size))
        }
      }.mkString(cfg.delimiter.toString)
    }
    (header +: rows).mkString("\n")
  }

  /** EqualRecords (io.go:562-597): structural diff of stringified
    * records; None = equal, Some(msg) = first difference. */
  def diffRecords(got: Seq[Seq[String]], want: Seq[Seq[String]]): Option[String] = {
    if (got.size != want.size) return Some(s"row count: got ${got.size}, want ${want.size}")
    got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g != w => s"row $i: got $g, want $w"
    }
  }

  /** EqualStructs (io.go:600-618): typed-slice equality with the first
    * differing index, the case-class twin of diffRecords. */
  def diffStructs[T](got: Seq[T], want: Seq[T]): Option[String] = {
    if (got.size != want.size) return Some(s"row count: got ${got.size}, want ${want.size}")
    got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g != w => s"row $i: got $g, want $w"
    }
  }

  /** MatrixReader (io.go:278-299): an all-double row-major matrix as a
    * TadaFrame with columns "0".."k-1" — gonum's Dims/At surface mapped
    * onto an ordinary frame. */
  def readMatrix(spark: SparkSession, m: Seq[Seq[Double]]): TadaFrame = {
    require(m.nonEmpty && m.map(_.size).distinct.size == 1,
      "matrix: non-empty rectangular input required")
    val names = m.head.indices.map(_.toString)
    val rows = m.map(r => org.apache.spark.sql.Row.fromSeq(r))
    val schema = org.apache.spark.sql.types.StructType(names.map(n =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)))
    TadaFrame.ingest(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList), schema))
  }

  /** Matrix writer: frame (numeric columns) → row-major Array of rows,
    * in frame order. Driver-side by contract, like the reference's
    * gonum interop (capped the same way the renderers are). */
  def writeMatrix(f: TadaFrame, maxRows: Int = 100000): Seq[Seq[Double]] = {
    val cols = f.valueCols
    f.df.orderBy(f.orderCols: _*).limit(maxRows)
      .select(cols.map(c => F.col(c).cast("double")): _*)
      .collect().toSeq.map(r => cols.indices.map(i => r.getDouble(i)))
  }

  /** JSON codec, bulk form: distributed line-delimited JSON via Spark's
    * native source — schema inference on read, one JSON object per row
    * on write. The scale path for data; frame METADATA (label levels,
    * name, colLevelNames, null-kind distinctions) does not survive it —
    * use `marshalFrame`/`unmarshalFrame` for full-fidelity frames. */
  def readJson(spark: SparkSession, path: String): TadaFrame =
    TadaFrame.ingest(Sources.read(spark, "json", path))
  def writeJson(f: TadaFrame, path: String): Unit =
    f.df.select((f.labels ++ f.valueCols).map(F.col): _*)
      .write.mode("overwrite").json(path)

  /** Frame-level JSON codec with the reference's exact document shape
    * (io.go:45-97, types.go:44-49/82-87): per-container `slice` +
    * `isNull` mask + `name` + `id`, split into `labels` and `values`
    * arrays, plus frame `name` and `colLevelNames`. The explicit null
    * mask is what the line-JSON form cannot carry: a literal "(null)"
    * STRING round-trips as a value while a true null round-trips as a
    * null — the reference's null-kind distinction. Driver-side by
    * design (one JSON document per frame, the reference's test-fixture
    * workflow); bulk data goes through `writeJson`. Numeric/boolean
    * slices stay typed JSON scalars; everything else serializes through
    * the same Go-style stringification as the record writer. Container
    * `id`s are emitted empty: the engine addresses containers by name. */
  def marshalFrame(f: TadaFrame): String = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    val cols = (f.labels ++ f.valueCols).toIndexedSeq
    // raw and stringified images ride ONE projection/collect (two
    // sorted collects would double the scan and rely on the two jobs
    // enumerating rows identically)
    val stringified = cols.zipWithIndex.map { case (n, j) =>
      F.coalesce(TadaFormat.stringify(f.df(n), f.df.schema(n).dataType), F.lit(""))
        .as(s"__s$j") }
    val rows = f.sorted.select(cols.map(f.df(_)) ++ stringified: _*).collect()
    val labArr = root.putArray("labels")
    val valArr = root.putArray("values")
    cols.zipWithIndex.foreach { case (n, j) =>
      val node = mapper.createObjectNode()
      val slice = node.putArray("slice")
      val mask = node.putArray("isNull")
      rows.foreach { r =>
        mask.add(r.isNullAt(j))
        r.get(j) match {
          case null => f.df.schema(n).dataType match {
            case _: NumericType => slice.add(0)     // Go zero value
            case BooleanType => slice.add(false)
            case _ => slice.add("")
          }
          case d: java.lang.Double => slice.add(d.doubleValue)
          case fl: java.lang.Float => slice.add(fl.floatValue)
          case i: java.lang.Integer => slice.add(i.intValue)
          case l: java.lang.Long => slice.add(l.longValue)
          case s: java.lang.Short => slice.add(s.intValue)
          case b: java.lang.Boolean => slice.add(b.booleanValue)
          case dec: java.math.BigDecimal => slice.add(dec)
          case _ => slice.add(r.getString(cols.size + j))
        }
      }
      node.put("name", n)
      node.put("id", "")
      (if (j < f.labels.size) labArr else valArr).add(node)
    }
    root.put("name", f.name)
    val cl = root.putArray("colLevelNames")
    f.colLevelNames.foreach(cl.add)
    mapper.writeValueAsString(root)
  }

  /** Inverse of `marshalFrame`: rebuilds the frame with label levels,
    * null masks, name and colLevelNames intact. Column types come from
    * the JSON scalars (all-numeric → double/long, all-boolean →
    * boolean, else string) — the same inference surface the reference's
    * reflection-based unmarshal presents. */
  def unmarshalFrame(spark: SparkSession, json: String): TadaFrame = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    val root = new ObjectMapper().readTree(json)
    def containers(key: String): Seq[JsonNode] =
      Option(root.get(key)).map(_.elements().asScala.toSeq).getOrElse(Nil)
    val labs = containers("labels")
    val vals = containers("values")
    val all = labs ++ vals
    require(all.nonEmpty, "unmarshalFrame: no containers")
    val names = all.map(_.get("name").asText)
    val slices = all.map(_.get("slice").elements().asScala.toIndexedSeq)
    val masks = all.map(c => Option(c.get("isNull"))
      .map(_.elements().asScala.map(_.asBoolean).toIndexedSeq)
      .getOrElse(IndexedSeq.empty))
    val nRows = slices.headOption.map(_.size).getOrElse(0)
    def colType(s: Seq[JsonNode], m: IndexedSeq[Boolean]): DataType = {
      val live = s.zipWithIndex.collect { case (v, i) if !m.lift(i).getOrElse(false) => v }
      if (live.nonEmpty && live.forall(_.isIntegralNumber)) LongType
      else if (live.nonEmpty && live.forall(_.isNumber)) DoubleType
      else if (live.nonEmpty && live.forall(_.isBoolean)) BooleanType
      else StringType
    }
    val types = slices.zip(masks).map { case (s, m) => colType(s, m) }
    val rows = (0 until nRows).map { i =>
      Row.fromSeq(slices.indices.map { j =>
        if (masks(j).lift(i).getOrElse(false)) null
        else types(j) match {
          case LongType => slices(j)(i).asLong
          case DoubleType => slices(j)(i).asDouble
          case BooleanType => slices(j)(i).asBoolean
          case _ => slices(j)(i).asText
        }
      })
    }
    val schema = StructType(names.zip(types).map { case (n, t) => StructField(n, t) }.toIndexedSeq)
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val levelNames = Option(root.get("colLevelNames"))
      .map(_.elements().asScala.map(_.asText).toSeq).filter(_.nonEmpty)
      .getOrElse(Seq("*0"))
    TadaFrame.ingest(df, names.take(labs.size),
        Option(root.get("name")).map(_.asText).getOrElse(""))
      .copy(colLevelNames = levelNames)
  }

  /** Bucketed persist — the co-located-join scale path. Two tables
    * bucketed (and sort-prepped) on the same keys with the same bucket
    * count join WITHOUT a shuffle exchange: the scan's output
    * partitioning already satisfies the join's requirement, so at 100 TB
    * the fact-to-fact join cost drops from 2 full shuffles to zero
    * (`IoSpec` asserts the no-Exchange plan). Use for the big-×-big
    * joins where neither side broadcasts and the join recurs (the
    * bucketing pays for itself on the second join). */
  def writeBucketed(df: org.apache.spark.sql.DataFrame, table: String,
                    bucketCols: Seq[String], buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // an in-memory catalog forgets tables across sessions but their
    // managed-table directories survive — clear any leftover or the
    // CREATE refuses the location
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Hive-style partitioned persist — the partition-pruning scale path.
    * A predicate on the partition column resolves against directory
    * names at PLANNING time (`PartitionFilters` in the scan), so a
    * 100 TB corpus laid out by source/date/language reads only the
    * matching directories — bytes the query never touches are never
    * listed, opened, or scanned. Complements `writeBucketed`: partition
    * on the low-cardinality selection columns, bucket on the join keys. */
  def writePartitioned(df: org.apache.spark.sql.DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
}
