package graftbench

import scala.collection.mutable

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around each call the benchmark makes into a layer.
  * Held in memory and written out when the run ends; `parent` is the
  * id of the enclosing span (-1 at top level). All spans of a run come
  * from the single driver thread.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Spans(enabled: Boolean) {
  val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  def toJson: Seq[Map[String, Any]] = done.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.toSeq
}

/** Layer counters from Spark's public listener APIs, attached only
  * around traced operations:
  *   - a [[SparkListener]] for jobs, stages, task metrics and stage
  *     intervals, and for streaming progress (delivered as
  *     `onOtherEvent`, which — unlike a session-scoped
  *     StreamingQueryListener — also sees queries that graft starts in
  *     child sessions, such as the parquet chain's gold stage);
  *   - a [[QueryExecutionListener]] for the driver-side planning phases
  *     of each SQL execution in the benchmark's session.
  */
final class Recorder(spark: SparkSession) {
  val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  /** Per streaming query name: summed durationMs keys, input rows, and
    * the last-seen state size.
    */
  val progress = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = totals(k) = totals(k) + v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add("jobs", 1) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      add("stages", 1)
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stageIntervals += (s -> c)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      add("tasks", 1)
      Option(e.taskInfo).foreach { ti =>
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
          ti.duration
      }
      Option(e.taskMetrics).foreach { m =>
        add("executor_run_ms", m.executorRunTime.toDouble)
        add("executor_cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => synchronized {
        val pr = p.progress
        val m = progress.getOrElseUpdate(Option(pr.name).getOrElse("?"), mutable.Map.empty)
        def inc(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
        import scala.jdk.CollectionConverters._
        pr.durationMs.asScala.foreach { case (k, v) => inc(k, v.doubleValue) }
        inc("numInputRows", pr.numInputRows.toDouble)
        pr.stateOperators.headOption.foreach { so =>
          m("state_rows") = so.numRowsTotal.toDouble
          m("state_bytes") = so.memoryUsedBytes.toDouble
          inc("state_commit_ms", so.commitTimeMs.toDouble)
        }
      }
      case _ =>
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = synchronized {
      add("executions", 1)
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => add("analysis_ms", p.durationMs.toDouble))
      ph.get("optimization").foreach(p => add("optimization_ms", p.durationMs.toDouble))
      ph.get("planning").foreach(p => add("planning_ms", p.durationMs.toDouble))
    }
  }

  /** Run `body` with the listeners attached; its wall-clock window
    * counts toward `driver_only_ms`.
    */
  def traced[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      GraftBenchBus.drain(sc)
      spark.listenerManager.unregister(execListener)
      sc.removeSparkListener(sparkListener)
      synchronized { windows += (t0 -> t1) }
    }
  }

  def stream(name: String, key: String): Double =
    synchronized(progress.get(name).flatMap(_.get(key)).getOrElse(0.0))

  /** Worst stage's max/median task time, over stages with 2+ tasks. */
  def taskSkew: Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }

  /** Wall time inside traced windows during which no stage ran. */
  def driverOnlyMs: Double = synchronized {
    windows.map { case (w0, w1) =>
      val inside = stageIntervals
        .map { case (s, c) => (math.max(s, w0), math.min(c, w1)) }
        .filter { case (s, c) => c > s }.sortBy(_._1)
      var covered = 0L
      var end = w0
      inside.foreach { case (s, c) =>
        if (c > end) { covered += c - math.max(s, end); end = c }
      }
      (w1 - w0 - covered).toDouble
    }.sum
  }
}
