package graft.core

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Shared structural memo key for session caches keyed by "this exact
  * data" ([[Estimates]], [[CacheRegistry.track]]):
  *
  *  - the canonicalized ANALYZED plan as an OBJECT, compared with `==`,
  *    never rendered: leaf nodes (`LocalRelation`, `LogicalRDD`) print
  *    only their schema, so two in-memory frames with equal schemas but
  *    different data collide as strings — the r16 review found the
  *    containment pair-mass estimate on exactly that string key, where
  *    a collision serves a small corpus's mass to a big one and
  *    re-opens the n² disk-fill the wave machinery exists to prevent.
  *    The ANALYZED (not optimized) plan per the r11/r13 discipline:
  *    optimization substitutes `InMemoryRelation` for persisted
  *    subtrees, hiding the source relations.
  *  - the output field NAMES: canonicalization erases aliases, but a
  *    caller that re-tracks `select(x.as("a"))` vs `select(x.as("b"))`
  *    must not be handed the other frame.
  *  - a file-state string, one [[stamp]] per scanned file, so a
  *    same-plan build over re-written files is a new key, not a stale
  *    hit. Statuses come from the plan's own FileIndex listing (already
  *    held driver-side) — the prior copies issued one getFileStatus RPC
  *    per file per call, dwarfing the saved job on a many-file table.
  */
object PlanKey {
  def of(df: DataFrame): (AnyRef, String) = {
    val files = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation
    }.flatMap {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        try h.location.listFiles(Nil, Nil).flatMap(_.files).map(s =>
            stamp(s.getPath, s.getLen, s.getModificationTime)).sorted
        catch { case _: Throwable => h.location.inputFiles.toSeq.sorted }
      case _ => Nil
    }
    (df.queryExecution.analyzed.canonicalized,
      df.schema.fieldNames.mkString(",") + "||" + files.mkString("|"))
  }

  /** One file's identity, shared by this key and `graft.io.Sources`:
    * `path@length:mtime` from a listed status, and for a local (`file:`)
    * file also its nanosecond mtime and `fileKey` (the inode), read with
    * one local `stat`. The listing's millisecond mtime misses an in-place
    * rewrite within the same millisecond, and a rename-replace by a file
    * of the same length and mtime changes only the inode. */
  def stamp(path: Path, length: Long, mtime: Long): String = {
    val listed = s"$path@$length:$mtime"
    if (path.toUri.getScheme != "file") listed
    else Try {
      val a = Files.readAttributes(Paths.get(path.toUri), classOf[BasicFileAttributes])
      s"$listed:${a.lastModifiedTime.to(TimeUnit.NANOSECONDS)}:${a.fileKey}"
    }.getOrElse(listed)
  }
}
