package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import graft.SparkEntry

/** Dev-only: run one query with a listener that records every SQL
  * execution's wall time and callsite (plus non-SQL jobs), then print
  * them sorted by cost — the measurement §1 of the optimization guide
  * asks for when a query's time is orchestration (many small actions),
  * not one slow stage. Jobs inside foreachBatch all share the stream's
  * start() callsite, so job-level attribution is useless there; SQL
  * execution descriptions carry the real action site.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Session.local(cpus)
    // A/B seam for measuring AQE's per-action fixed cost on k-row
    // micro-batch plans (dev-only; Bench itself stays AQE-on)
    sys.env.get("SPARK_GRAFT_AQE")
      .foreach(spark.conf.set("spark.sql.adaptive.enabled", _))
    val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
    val execRows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Boolean)]()
    val jobRows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    val nJobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        nJobs.incrementAndGet()
        val p = Option(j.properties)
        val inSql = p.exists(_.getProperty("spark.sql.execution.id") != null)
        val site = p.flatMap(q => Option(q.getProperty("callSite.short"))).getOrElse("?")
        jobStarts.put(j.jobId, (j.time, site, inSql)): Unit
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobStarts.remove(j.jobId)).foreach { case (t0, site, inSql) =>
          if (!inSql) jobRows.add((t0, j.time - t0, "rdd: " + site)): Unit
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          // root executions get top-level wall attribution; nested ones
          // (children of a streaming batch / foreachBatch) are reported
          // separately, prefixed, so the inside of a micro-batch is
          // visible too. Empty description (foreachBatch actions) falls
          // back to the callsite in `details`.
          val root = s.rootExecutionId.forall(_ == s.executionId)
          def planSig: String = Option(s.physicalPlanDescription)
            .map(_.linesIterator.map(_.trim)
              .filter(l => l.nonEmpty && !l.startsWith("==") && !l.startsWith("+-") &&
                !l.startsWith(":"))
              .take(2).mkString(" | "))
            .filter(_.nonEmpty).getOrElse("?")
          // the streaming engine stamps every foreachBatch child with
          // the stream's run id ("id = <uuid>"), and their callsite is
          // the stream's start() — both useless for attribution. Label
          // nested executions by their PHYSICAL PLAN signature instead
          // (root nodes, uuids/ids normalized so per-batch scratch
          // paths group together).
          def planLabel: String = Option(s.physicalPlanDescription)
            .map { p =>
              val nodes = p.linesIterator
                .dropWhile(!_.startsWith("== Physical Plan =="))
                .drop(1).take(3)
                .map(_.replaceAll("[#][0-9]+", "")
                  .replaceAll("[0-9a-f]{8}-[0-9a-f-]{27,}", "*")
                  .replaceAll("[0-9]{4,}", "N")
                  .replaceAll("round=[0-9]+", "round=K")
                  .trim)
                .mkString(" | ")
              if (nodes.nonEmpty) nodes.take(160) else planSig
            }
            .getOrElse(planSig)
          val rawDesc = Option(s.description).map(_.trim).filter(_.nonEmpty)
            .map(_.linesIterator.next())
          val d0 = rawDesc match {
            case Some(x) if !root && x.startsWith("id = ") => planLabel
            case Some(x) => x
            case None => planLabel
          }
          val d = if (root) d0 else "  nested: " + d0
          execStarts.put(s.executionId, (s.time, d)): Unit
        case s: SparkListenerSQLExecutionEnd =>
          Option(execStarts.remove(s.executionId)).foreach { case (t0, d) =>
            execRows.add((t0, s.time - t0, d)): Unit
          }
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      execRows.clear(); jobRows.clear(); nJobs.set(0)
      val t0 = System.nanoTime()
      // noop sink like Bench (guide §1.4)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally graft.core.Caches.release(blocking = true)
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val execs = execRows.asScala.toSeq.sortBy(_._1)
      val rdds = jobRows.asScala.toSeq.sortBy(_._1)
      val execSum = execs.map(_._2).sum / 1e3
      val rddSum = rdds.map(_._2).sum / 1e3
      println(f"== $name rep $r: wall $wall%.1f s, ${nJobs.get} jobs, " +
        f"${execs.size} sql execs ($execSum%.1f s) + ${rdds.size} rdd jobs " +
        f"($rddSum%.1f s), unattributed ${wall - execSum - rddSum}%.1f s")
      val by = (execs ++ rdds).groupBy(_._3).map { case (s, js) =>
        (s, js.size, js.map(_._2).sum / 1e3)
      }.toSeq.sortBy(-_._3)
      by.take(60).foreach { case (s, n, t) =>
        println(f"  $t%8.2f s  n=$n%-4d ${s.take(120)}")
      }
    }
    spark.stop()
  }
}
