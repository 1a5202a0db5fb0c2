package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** Counters of one span: every call of one public function, summed. */
final class SpanStats {
  var calls = 0L
  var wallNs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gapMs = 0L
  var leaked = 0L
  val callWallNs = mutable.ArrayBuffer.empty[Long]

  /** The per-layer counters, named `<span>.<counter>`. */
  def metrics(span: String): Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024.0
    Seq(
      (s"$span.wall_s", wallNs / 1e9, "s"),
      (s"$span.jobs", jobs.toDouble, "count"),
      (s"$span.stages", stages.toDouble, "count"),
      (s"$span.tasks", tasks.toDouble, "count"),
      (s"$span.task_cpu_s", cpuNs / 1e9, "s"),
      (s"$span.shuffle_read_mb", shuffleRead / mb, "MB"),
      (s"$span.shuffle_write_mb", shuffleWrite / mb, "MB"),
      (s"$span.spill_mb", spill / mb, "MB"),
      (s"$span.driver_gap_s", gapMs / 1e3, "s"))
  }
}

/** Spark work per span, counted by a listener the benchmark registers
  * itself. The client is single-threaded, so a span owns exactly the jobs
  * that start between its two bus drains: that is attribution by time
  * window, which also catches jobs submitted from pooled threads whose
  * inherited job description would be stale.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private final class Job(val start: Long) {
    var end = -1L
    var stages, tasks, cpuNs, read, write, spill = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var maxJob = -1
  val spans = mutable.LinkedHashMap.empty[String, SpanStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.put(e.jobId, new Job(e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    if (e.jobId > maxJob) maxJob = e.jobId
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.stages += 1
      j.tasks += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.read += m.shuffleReadMetrics.totalBytesRead
        j.write += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  sc.addSparkListener(this)

  /** Highest job id delivered so far, after draining the bus. */
  def mark(): Int = { BenchBus.drain(sc); maxJob }

  /** Time `f` as one call of `span`, with the jobs it started. */
  def span[A](name: String)(f: => A): A = {
    val from = mark()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = f
    val wallNs = System.nanoTime() - t0
    val w1 = System.currentTimeMillis()
    record(name, from, mark(), wallNs, w0, w1)
    r
  }

  /** Attribute jobs (from, to] to one call of `name`. */
  private def record(name: String, from: Int, to: Int, wallNs: Long, w0: Long,
      w1: Long): Unit = synchronized {
    val s = spans.getOrElseUpdate(name, new SpanStats)
    s.calls += 1
    s.wallNs += wallNs
    s.callWallNs += wallNs
    val js = (from + 1 to to).flatMap(id => Option(jobs.get(id)))
    s.jobs += js.size
    js.foreach { j =>
      s.stages += j.stages; s.tasks += j.tasks; s.cpuNs += j.cpuNs
      s.shuffleRead += j.read; s.shuffleWrite += j.write; s.spill += j.spill
      if (j.end < 0) s.leaked += 1
    }
    // driver gap: the span's wall minus the union of its job intervals
    val iv = js.map(j => (math.max(j.start, w0),
      math.min(if (j.end < 0) w1 else j.end, w1))).filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    covered += curE - curS
    s.gapMs += math.max(0L, (w1 - w0) - covered)
  }

  def stop(): Unit = sc.removeSparkListener(this)
}
