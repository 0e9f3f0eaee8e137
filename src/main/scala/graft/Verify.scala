package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws still gets its `[verify] <q> failed:` stderr line; it is also
  * recorded in the `verify_failures.json` sidecar (query → error class,
  * `{}` when every query ran) and counted in a one-line stderr summary.
  * The sidecar is a file, not a result dir, and no oracle key names it.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query-name filter (local
    // iteration); the driver always calls with exactly two.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.Session.local(cpus)
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = e.getClass.getName
      }
      // Release tracked intermediate caches (shingle/band tables) — a
      // 50-query session would otherwise accumulate them until GC.
      finally graft.core.Caches.release()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), obj(failures))
    // untagged: `[verify]` lines name failed queries only
    System.err.println(s"verify summary: ${failures.size} of ${selected.size} queries failed" +
      (if (failures.isEmpty) "" else failures.keys.mkString(": ", ", ", "")))
    spark.stop()
  }
}
