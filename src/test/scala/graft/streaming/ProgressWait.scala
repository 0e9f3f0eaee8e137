package graft.streaming

import java.util.concurrent.{Semaphore, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Waits for a streaming condition on the session's query events
  * instead of sleeping in a loop: the condition is re-checked after each
  * progress or termination event (a query records its progress before
  * posting the event). Register it before starting the work it waits
  * on; `close` removes the listener.
  */
final class ProgressWait(spark: SparkSession) extends StreamingQueryListener
    with AutoCloseable {

  private val events = new Semaphore(0)
  spark.streams.addListener(this)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.release()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    events.release()

  /** True once `done` holds; false if it still fails `timeoutS` seconds
    * from now.
    */
  def until(timeoutS: Long)(done: => Boolean): Boolean = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(timeoutS)
    var ok = done
    while (!ok && events.tryAcquire(deadline - System.nanoTime(), TimeUnit.NANOSECONDS))
      ok = done
    ok || done
  }

  override def close(): Unit = spark.streams.removeListener(this)
}

object ProgressWait {
  /** Run `f` with a [[ProgressWait]] registered on `spark`. */
  def apply[A](spark: SparkSession)(f: ProgressWait => A): A = {
    val w = new ProgressWait(spark)
    try f(w) finally w.close()
  }
}
