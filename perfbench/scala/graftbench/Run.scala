package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

object Run {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One-line error text for the result record. */
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
}

/** One benchmark run's session plus its measuring tools.
  *
  * `op` times one call from outside, under its own job group. In a traced
  * run it also records a span (name, layer, start, end, parent, op id) and
  * the listener counts the call's Spark work; spans stay in memory and are
  * written out once, at the end.
  */
final class Run(val spark: SparkSession, val traced: Boolean) {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  final case class Span(id: Long, parent: Long, name: String, layer: String,
                        op: String, startUs: Long, endUs: Long)
  private val spans = mutable.ArrayBuffer[Span]()
  private val windows = mutable.ArrayBuffer[(String, Long, Long)]()
  private var nextId = 0L
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  val counters: Option[Counters] = if (!traced) None else {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    Some(c)
  }

  /** Record a span around `body` (a no-op when untraced). The op id is
    * inherited from the enclosing span unless given. */
  def span[T](name: String, layer: String, op: String = null)(body: => T): T =
    if (!traced) body else {
      val (id, parent, opId) = synchronized {
        nextId += 1
        val outer = stack.get()
        (nextId, outer.headOption.fold(0L)(_._1),
          Option(op).orElse(outer.headOption.map(_._2)).getOrElse(name))
      }
      val start = nowUs
      stack.set((id, opId) :: stack.get())
      try body
      finally {
        stack.set(stack.get().tail)
        val end = nowUs
        synchronized(spans += Span(id, parent, name, layer, opId, start, end))
      }
    }

  /** Time one call under job group `group`; returns (result, seconds). */
  def op[T](group: String, layer: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = span(group, layer, group)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      sc.clearJobGroup()
      synchronized(windows += ((group, startMs, System.currentTimeMillis())))
    }
  }

  /** Spans as rows plus per-key Spark counters (traced runs only). */
  def traceOut(): Map[String, Any] = {
    counters.foreach(_ => org.apache.spark.BenchBus.drain(spark.sparkContext))
    Map(
      "spans" -> synchronized(spans.toSeq).map(s => Seq(s.id, s.parent, s.name,
        s.layer, s.op, s.startUs, s.endUs)),
      "counters" -> counters.fold(Map.empty[String, Map[String, Any]])(
        _.snapshot(synchronized(windows.toSeq))))
  }
}
