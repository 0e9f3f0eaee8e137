package graft.tools

import graft.SparkEntry

/** Dev-only: print the formatted physical plan for one or all queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = if (args.length > 1) Some(args(1)) else None
    val spark = graft.core.Session.local(8)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_ == q._1))
      .foreach { case (name, fn) =>
        println(s"========== $name ==========")
        fn(spark, dir).explain("formatted")
      }
    spark.stop()
  }
}
