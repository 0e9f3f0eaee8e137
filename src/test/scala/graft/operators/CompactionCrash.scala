package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The crash states of a compaction's one-step commit
  * ([[Generations]]), built without knowing its file names: run the
  * compaction, then put back everything a crash at that point would not
  * have reached.
  */
object CompactionCrash {

  sealed trait Point
  /** The next generation is written complete; its marker is not. */
  case object BeforeCommit extends Point
  /** The marker is committed; the replaced generation (or the flat
    * files) is not swept, and nothing after the commit ran (a zone's
    * tombstone clear and after-hook).
    */
  case object BeforeSweep extends Point

  /** Run `compact` over `rowsDir` as if it crashed at `at`. Every dir in
    * `state` (one of them holds `rowsDir`) is put back as it was before,
    * apart from the rows-dir entries the compaction had written by
    * then. `scratch` is an empty dir for the copies.
    */
  def run(spark: SparkSession, rowsDir: String, state: Seq[String],
      scratch: String, at: Point)(compact: => Unit): Unit = {
    val saved = state.zipWithIndex.map { case (d, i) =>
      (Paths.get(d), Paths.get(s"$scratch/state$i")) }
    saved.foreach { case (d, s) => if (Files.exists(d)) copyTree(d, s) }
    val before = Generations.resolve(spark, rowsDir)
    compact
    val gen = Generations.resolve(spark, rowsDir)
    require(gen != before, s"the compaction of $rowsDir committed nothing")
    val rows = Paths.get(rowsDir)
    val written = Paths.get(s"$scratch/written")
    Files.move(rows, written)
    saved.foreach { case (d, s) =>
      graft.core.Fs.deleteRecursively(spark, d.toString)
      if (Files.exists(s)) Files.move(s, d)
    }
    Files.createDirectories(rows)
    val genName = rows.relativize(Paths.get(gen)).getName(0).toString
    list(written)
      .filter(p => at == BeforeSweep || p.getFileName.toString == genName)
      .foreach { p =>
        val target = rows.resolve(p.getFileName.toString)
        graft.core.Fs.deleteRecursively(spark, target.toString)
        Files.move(p, target)
      }
    graft.core.Fs.deleteRecursively(spark, written.toString)
    // the crashed process's caches died with it; this one's were
    // refreshed against files the emulation has since put back
    graft.core.Caches.release()
    spark.catalog.clearCache()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    val all = try walk.iterator().asScala.toList finally walk.close()
    all.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
  }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }
}
