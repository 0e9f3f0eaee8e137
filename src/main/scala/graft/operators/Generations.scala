package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The commit protocol of every dir that compaction rewrites: immutable
  * generations published by ONE atomic step, the shape of the
  * reference's temp-table + `COPY` + `INSERT … ON CONFLICT DO NOTHING`
  * transaction (`cardano_block_dao.py:93-148`) on plain parquet.
  *
  *   - A dir never compacted holds its rows flat and resolves to itself,
  *     so such tables (the ETL warehouse among them) keep their layout.
  *   - [[publish]] writes generation N+1 complete in its own subdir,
  *     then commits it by creating the empty marker for N+1 —
  *     create-if-absent; the highest marker wins. Readers and appends
  *     resolve through [[resolve]] and see generation N before the
  *     marker exists and N+1 after it: committed rows are never
  *     invisible, so no crash state needs a recovery step.
  *   - Older generations, uncommitted ones and the flat files a first
  *     compaction replaced are swept right after the commit and again
  *     before the next write, under the single-writer assumption
  *     [[ShardedWriter.compactParquet]] states.
  *
  * Generation dirs and markers carry a `_` prefix, which Spark's file
  * listing skips: a reader that bypasses [[resolve]] sees no rows of a
  * compacted dir, never the rows of two generations. A generation's
  * rows sit one level down, in its `data` dir, so the path readers get
  * is not itself hidden (Spark warns on reading such a root). No other
  * code knows these names.
  */
object Generations {

  private val Marker = "_v(\\d+)".r
  private val Generation = "_g(\\d+)".r

  /** The dir holding `dir`'s current rows: `dir` itself until its first
    * compaction (or when absent), then its committed generation.
    */
  def resolve(spark: SparkSession, dir: String): String = {
    val (fs, p) = graft.core.Fs.resolve(spark, dir)
    val n = committed(fs, p)
    if (n == 0) dir else rows(p, n).toString
  }

  /** `dir`'s current rows as a frame. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(resolve(spark, dir))

  /** True when any of `files` (qualified paths, as `input_file_name`
    * gives them) lies in `dir`'s current generation.
    */
  private[operators] def holdsAny(spark: SparkSession, dir: String,
      files: Seq[String]): Boolean = {
    val (fs, p) = graft.core.Fs.resolve(spark, resolve(spark, dir))
    val cur = fs.makeQualified(p).toUri.getPath
    files.exists(f => new Path(f).getParent.toUri.getPath == cur)
  }

  /** Write the next generation of `dir` with `write` (given the empty
    * path to write to) and commit it; returns the new generation's
    * path. A crash before the marker leaves the current generation
    * serving and the partial one for the next sweep.
    */
  private[graft] def publish(spark: SparkSession, dir: String)(
      write: String => Unit): String = {
    val (fs, p) = graft.core.Fs.resolve(spark, dir)
    sweep(fs, p)
    val next = committed(fs, p) + 1
    write(rows(p, next).toString)
    fs.create(new Path(p, s"_v$next"), false).close()
    sweep(fs, p)
    rows(p, next).toString
  }

  private def rows(p: Path, n: Int): Path = new Path(new Path(p, s"_g$n"), "data")

  /** The highest committed marker number; 0 for a flat or absent dir. */
  private def committed(fs: FileSystem, p: Path): Int =
    entries(fs, p).collect { case Marker(n) => n.toInt }.maxOption.getOrElse(0)

  private def entries(fs: FileSystem, p: Path): Seq[String] =
    try fs.listStatus(p).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Delete everything in `p` but the current generation: every other
    * generation and marker, and — once a generation is committed — the
    * flat files it replaced.
    */
  private def sweep(fs: FileSystem, p: Path): Unit = {
    val n = committed(fs, p)
    entries(fs, p).filterNot {
      case Generation(m) => m.toInt == n
      case Marker(m) => m.toInt == n
      case _ => n == 0
    }.foreach(name => fs.delete(new Path(p, name), true): Unit)
  }
}
