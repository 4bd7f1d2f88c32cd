package graft.io

import java.nio.file.{FileVisitOption, Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one reader of file sources (parquet, CSV, JSON) in library code.
  *
  * Inferring a file source's schema runs Spark jobs at DataFrame build
  * time, before the plan is forced: a footer job per parquet read, a
  * header job plus a full inference scan per CSV read with
  * `inferSchema`, an inference scan per JSON read. [[read]] runs them
  * once per file version. The first read of a path infers exactly as
  * `spark.read` does and records `df.schema`; a later read of the same
  * unchanged files, with the same reader options and session conf,
  * passes that schema to `.schema(...)` and starts no job.
  *
  * Only the schema is memoized, never the DataFrame: every call builds a
  * fresh relation with fresh attribute ids, so self-joins and `df(col)`
  * resolve as before, and files are listed and read on every call, so
  * rows are never stale. The key holds a fingerprint of every file under
  * the path (name, length, modification time; for local files the
  * nanosecond mtime and the `fileKey` inode too), so any rewrite, even a
  * same-length one, re-infers. Paths it cannot fingerprint (globs,
  * missing or empty paths) and empty inferred schemas read uncached.
  *
  * The memo is per session, an LRU of at most [[MaxSchemas]] schemas.
  * It holds KBs of `StructType`s and no data, much like the file-listing
  * cache Spark keeps itself, so `CacheRegistry.releaseAll` leaves it be.
  */
object Sources {
  private[graft] val MaxSchemas = 256

  private final case class FileStamp(name: String, length: Long, mtime: Long, fileKey: Any)
  private final case class Key(format: String, path: String, options: Map[String, String],
                               files: Seq[FileStamp], conf: Map[String, String])
  private type Memo = java.util.LinkedHashMap[Key, StructType]

  // session -> LRU memo; weak keys, so a stopped session's memo goes with it
  private val memos = new java.util.WeakHashMap[SparkSession, Memo]()

  def read(spark: SparkSession, format: String, path: String,
           options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format(format).options(options)
    fingerprint(spark, path) match {
      case None => reader.load(path)
      case Some(files) =>
        val key = Key(format, path, options, files, spark.conf.getAll)
        memos.synchronized(Option(memos.get(spark)).flatMap(m => Option(m.get(key)))) match {
          case Some(schema) => reader.schema(schema).load(path)
          case None =>
            val df = reader.load(path)
            if (df.schema.nonEmpty) memos.synchronized {
              memos.computeIfAbsent(spark, _ => new Memo(16, 0.75f, true) {
                override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
                  size > MaxSchemas
              }).put(key, df.schema)
            }
            df
        }
    }
  }

  /** Schemas the session's memo holds now. */
  private[graft] def memoSize(spark: SparkSession): Int =
    memos.synchronized(Option(memos.get(spark)).map(_.size).getOrElse(0))

  /** Every file under `path`, sorted by name; None for a glob or a path
    * that lists no file. */
  private def fingerprint(spark: SparkSession, path: String): Option[Seq[FileStamp]] =
    if (path.exists("*?[]{}\\".contains(_))) None
    else Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val q = fs.makeQualified(p)
      if (q.toUri.getScheme == "file") {
        val walk = Files.walk(Paths.get(q.toUri), FileVisitOption.FOLLOW_LINKS)
        try walk.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          FileStamp(f.toString, a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS), a.fileKey)
        }.toVector finally walk.close()
      } else {
        val it = fs.listFiles(q, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map(s =>
          FileStamp(s.getPath.toString, s.getLen, s.getModificationTime, null)).toVector
      }
    }.toOption.map(_.sortBy(_.name)).filter(_.nonEmpty)

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Lets parquet TIMESTAMP(NANOS) columns read as raw nanosecond longs
    * (`graft.Tables.normalizeEventTs` turns them into micros). The one
    * session-conf write in library code: Spark reads this setting from
    * the session only. It writes only while the conf is not yet "true",
    * so concurrent queries see no repeated writes and the conf snapshot
    * in the memo key settles after the first read. */
  def nanosAsLong(spark: SparkSession): Unit =
    if (spark.conf.get(NanosAsLong, "false") != "true") spark.conf.set(NanosAsLong, "true")
}
