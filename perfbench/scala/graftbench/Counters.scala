package graftbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-call Spark counters, keyed on the job group the benchmark sets
  * around each call (a streaming trigger is keyed `<group>#<batchId>`).
  * Registered only in traced runs; nothing inside the program changes.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  final class Acc {
    var jobs, stages, tasks, taskMs = 0L
    var shuffleRead, shuffleWrite, spill, output = 0L
    /** (submitted, completed) epoch ms of each finished stage */
    val stageSpans = mutable.ArrayBuffer[(Long, Long)]()
  }

  private val accs = mutable.HashMap[String, Acc]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  /** (phase start epoch ms, analysis+optimization+planning ms) */
  private val plannings = mutable.ArrayBuffer[(Long, Long)]()

  private def acc(k: String): Acc = synchronized(accs.getOrElseUpdate(k, new Acc))

  private def key(p: Properties): String = {
    val g = Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    Option(p).flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .fold(g)(b => s"$g#$b")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = key(e.properties)
    synchronized(acc(k).jobs += 1)
    e.stageInfos.foreach(s => stageKey.put(s.stageId, k))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageKey.get(info.stageId)).foreach { k =>
      synchronized {
        val a = acc(k)
        a.stages += 1
        for (s <- info.submissionTime; c <- info.completionTime) a.stageSpans += ((s, c))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageKey.get(e.stageId)).filter(_ => m != null).foreach { k =>
      synchronized {
        val a = acc(k)
        a.tasks += 1
        a.taskMs += m.executorRunTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    synchronized(plannings += ((start, ms)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** Counters of every key, as plain maps; planning attributed to the
    * op window (epoch ms) that contains each plan's start. */
  def snapshot(windows: Seq[(String, Long, Long)]): Map[String, Map[String, Any]] = synchronized {
    val planning = mutable.HashMap[String, Long]()
    plannings.foreach { case (start, ms) =>
      windows.find { case (_, s, e) => start >= s && start <= e }
        .foreach { case (k, _, _) => planning(k) = planning.getOrElse(k, 0L) + ms }
    }
    (accs.keySet ++ planning.keySet).map { k =>
      val a = accs.getOrElse(k, new Acc)
      k -> Map[String, Any](
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_ms" -> a.taskMs, "shuffle_read_b" -> a.shuffleRead,
        "shuffle_write_b" -> a.shuffleWrite, "spill_b" -> a.spill,
        "output_b" -> a.output, "planning_ms" -> planning.getOrElse(k, 0L),
        "stage_spans" -> a.stageSpans.map { case (s, c) => Seq(s, c) }.toSeq)
    }.toMap
  }
}
