package graft.core

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path, RemoteIterator}
import org.apache.spark.sql.SparkSession

/** Object-store-safe filesystem access: every existence / delete / listing
  * check goes through the Hadoop FileSystem API resolved FROM THE PATH, so
  * lake/warehouse/watermark roots can be `file://`, `hdfs://` or `s3a://`
  * without code changes (the reference is S3-native —
  * `s3_file_explorer.py:31-51`; `java.io.File` would silently break on any
  * non-local root).
  */
object Fs {

  def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = resolve(spark, path)
    fs.exists(p)
  }

  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val (fs, p) = resolve(spark, path)
    fs.delete(p, true): Unit
  }

  /** Move the `part-*` files at the top level of `from` into `to` by
    * rename, keeping their names (one metadata operation per file; a
    * copy on object stores). Committer markers such as `_SUCCESS` stay
    * behind. Throws if a rename fails, e.g. on a name already taken.
    */
  def moveParts(spark: SparkSession, from: String, to: String): Unit = {
    val (fs, src) = resolve(spark, from)
    val dst = new Path(to)
    fs.listStatus(src).filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .foreach { s =>
        val target = new Path(dst, s.getPath.getName)
        if (!fs.rename(s.getPath, target))
          throw new java.io.IOException(s"could not rename ${s.getPath} to $target")
      }
  }

  /** Content fingerprint of a directory's FILE LISTING (relative
    * paths, sizes, modification times) — one listing RPC stream, no
    * Spark job. Cheap staleness detection for derived layouts (a
    * bucketed table staged from a zone dir is stale the moment the
    * dir's listing changes); deliberately listing-level, not
    * content-level — rewriting a file in place changes its mtime, and
    * that is exactly the signal. Entries key on the path RELATIVE to
    * `dir` (not the base name): two same-named files in different
    * subdirectories must not collapse into one entry.
    */
  def fingerprint(spark: SparkSession, dir: String): String = {
    val (fs, p) = resolve(spark, dir)
    if (!fs.exists(p)) return "absent"
    val base = fs.makeQualified(p).toString.stripSuffix("/") + "/"
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val it: RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile) {
        val rel = s.getPath.toString.stripPrefix(base)
        parts += s"$rel:${s.getLen}:${s.getModificationTime}"
      }
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Recursive FILE paths under `dir` (empty when absent) — the
    * snapshot primitive for tombstone folding: OPTIMIZE lists the
    * tombstone files it is about to fold, and afterwards deletes ONLY
    * those, so a tombstone appended concurrently by the ingest path
    * survives to the next pass instead of being silently discarded.
    */
  def listFilePaths(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = resolve(spark, dir)
    if (!fs.exists(p)) return Seq.empty
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val it: RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile) parts += s.getPath.toString
    }
    parts.toSeq
  }

  /** Delete exactly the given files, then try to remove `dir` itself
    * NON-recursively — succeeds only if nothing else landed in the
    * meantime (a concurrent append's files make the dir-delete fail,
    * which is the point: those files must survive). Missing files are
    * ignored (idempotent re-runs after a crash between publish and
    * clear). Now-empty SUBDIRECTORIES are swept first, deepest-first:
    * a writer can leave an empty scaffold the file snapshot never saw
    * (an aborted job's `_temporary` tree, a committed job's emptied
    * one), and without the sweep the non-recursive dir delete would
    * fail on it forever. Every sweep delete is itself non-recursive,
    * so a subdirectory holding a concurrent writer's files survives
    * exactly like the top-level dir does.
    */
  def deleteFilesThenDirIfEmpty(spark: SparkSession, dir: String,
      files: Seq[String]): Unit = {
    val (fs, p) = resolve(spark, dir)
    files.foreach(f => fs.delete(new Path(f), false): Unit)
    if (!fs.exists(p)) return
    def subdirs(d: Path): Seq[Path] = {
      val st = try fs.listStatus(d) catch {
        case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus]
      }
      st.toSeq.filter(_.isDirectory).map(_.getPath)
        .flatMap(c => subdirs(c) :+ c)
    }
    (subdirs(p) :+ p).foreach { d =>
      try fs.delete(d, false) catch { case _: java.io.IOException => false }; ()
    }
  }

  /** True when `dir` holds at least one parquet part file (recursive).
    * The existence check zone readers need: a tombstone dir can
    * legitimately exist EMPTY after a snapshot-scoped clear raced a
    * concurrent append's marker file, and `spark.read.parquet` on a
    * part-less dir fails schema inference.
    */
  def hasParquetFiles(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = resolve(spark, dir)
    if (!fs.exists(p)) return false
    val it: RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet")) return true
    }
    false
  }

  /** Newest file modification time under a directory (recursive) — one
    * listing RPC stream, no Spark job. Drives the lake→warehouse load
    * watermark (reference Q2 `max(file_modified_date)`,
    * `s3_to_db_import_status_dao.py:40-79`).
    */
  def latestModification(spark: SparkSession, dir: String): Option[Timestamp] = {
    val (fs, p) = resolve(spark, dir)
    if (!fs.exists(p)) return None
    var maxMs = Long.MinValue
    val it: RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getModificationTime > maxMs) maxMs = s.getModificationTime
    }
    if (maxMs == Long.MinValue) None else Some(new Timestamp(maxMs))
  }
}
