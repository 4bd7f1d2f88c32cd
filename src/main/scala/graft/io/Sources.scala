package graft.io

import java.nio.file.{FileVisitOption, Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.{PlanKey, SessionMemo}

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
  * rows are never stale. The key holds one [[PlanKey.stamp]] per file
  * under the path (name, length, modification time; for local files the
  * nanosecond mtime and the `fileKey` inode too), the same file identity
  * the build-time estimates key on, so any rewrite, even a same-length
  * one, re-infers. Paths it cannot fingerprint (globs, missing or empty
  * paths) and empty inferred schemas read uncached.
  *
  * The memo is per session, a [[SessionMemo]] of at most [[MaxSchemas]]
  * schemas. It holds KBs of `StructType`s and no data, much like the
  * file-listing cache Spark keeps itself, so `CacheRegistry.releaseAll`
  * leaves it be.
  */
object Sources {
  private[graft] val MaxSchemas = 256

  private final case class Key(format: String, path: String, options: Map[String, String],
                               files: Seq[String], conf: Map[String, String])

  private val memo = new SessionMemo[Key, StructType](MaxSchemas)

  def read(spark: SparkSession, format: String, path: String,
           options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format(format).options(options)
    fingerprint(spark, path) match {
      case None => reader.load(path)
      case Some(files) =>
        val key = Key(format, path, options, files, spark.conf.getAll)
        memo.get(spark, key) match {
          case Some(schema) => reader.schema(schema).load(path)
          case None =>
            val df = reader.load(path)
            if (df.schema.nonEmpty) memo.put(spark, key, df.schema)
            df
        }
    }
  }

  /** Schemas the session's memo holds now. */
  private[graft] def memoSize(spark: SparkSession): Int = memo.size(spark)

  /** The stamp of every file under `path`, sorted; None for a glob or a
    * path that lists no file. Local paths are walked with `java.nio`:
    * Hadoop's local `listFiles` builds a `LocatedFileStatus` per file,
    * which loads the file's owner and permissions with a shell command. */
  private def fingerprint(spark: SparkSession, path: String): Option[Seq[String]] =
    if (path.exists("*?[]{}\\".contains(_))) None
    else Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val q = fs.makeQualified(p)
      if (q.toUri.getScheme == "file") {
        val walk = Files.walk(Paths.get(q.toUri), FileVisitOption.FOLLOW_LINKS)
        try walk.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
          PlanKey.stamp(new Path(f.toUri), Files.size(f), Files.getLastModifiedTime(f).toMillis)
        }.toVector finally walk.close()
      } else {
        val it = fs.listFiles(q, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(s => PlanKey.stamp(s.getPath, s.getLen, s.getModificationTime)).toVector
      }
    }.toOption.map(_.sorted).filter(_.nonEmpty)

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
