package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans recorded by the benchmark around each call into a graft layer:
  * name, start, end and the enclosing span. Kept in memory and written out
  * once the run ends. When disabled, `apply` only runs the body.
  */
final class Spans(val enabled: Boolean) {
  import Spans.Span
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def toJson: String = done.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Per-layer Spark counters for one measured window: jobs, stages, tasks,
  * executor time, GC, shuffle and spill, plus each stage's wall interval
  * (their union is the time the cluster was busy; the rest of the window
  * the driver ran alone).
  */
final class LayerListener extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var tasksOk = 0L
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleRead = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L
  val stageIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  val jobEnds = new ConcurrentLinkedQueue[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageIntervals.add((s, c))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo.successful) tasksOk += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Milliseconds of [from, to] covered by at least one stage. */
  def busyMs(from: Long, to: Long): Long = {
    val iv = stageIntervals.asScala.toSeq
      .map { case (s, c) => (math.max(s, from), math.min(c, to)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var busy = 0L; var end = Long.MinValue
    iv.foreach { case (s, c) =>
      if (s > end) { busy += c - s; end = c }
      else if (c > end) { busy += c - end; end = c }
    }
    busy
  }
}

/** Collects every micro-batch progress of the drains through a
  * StreamingQueryListener. `recentProgress` keeps only the last
  * `spark.sql.streaming.numRecentProgressUpdates` (100) entries and would
  * silently drop the early triggers of a long drain.
  */
final class ProgressListener extends StreamingQueryListener {
  private val progress = new ConcurrentHashMap[java.util.UUID, ConcurrentLinkedQueue[QueryProgressEvent]]()
  private val terminated = new ConcurrentHashMap[java.util.UUID, CountDownLatch]()

  private def latch(id: java.util.UUID) =
    terminated.computeIfAbsent(id, _ => new CountDownLatch(1))

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    progress.computeIfAbsent(e.progress.runId, _ => new ConcurrentLinkedQueue()).add(e)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = latch(e.runId).countDown()

  /** Every progress event of run `runId`, once its termination arrived. */
  def drained(runId: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    if (!latch(runId).await(120, TimeUnit.SECONDS))
      throw new IllegalStateException(s"no termination event for run $runId")
    Option(progress.remove(runId)).map(_.asScala.toSeq.map(_.progress)).getOrElse(Nil)
  }
}

object Trace {
  /** Waits until the listener bus has delivered every posted event. */
  def flush(spark: SparkSession): Unit =
    org.apache.spark.graftbench.BusFlush(spark.sparkContext)

  /** MB held by persisted RDDs, memory and disk, leaving out `exclude`
    * (the harness's own inputs).
    */
  def cachedMb(spark: SparkSession, exclude: Set[Int]): Double =
    spark.sparkContext.getRDDStorageInfo.filterNot(i => exclude(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Runs a measured window with a [[LayerListener]] attached and records
    * its `spark.*` figures; `harnessRdds` are the RDDs the harness itself
    * persisted, left out of `spark.persisted_rdds_left`.
    */
  def traced[T](spark: SparkSession, r: Main.Report, cores: Int, harnessRdds: Set[Int])(
      window: LayerListener => T): T = {
    val l = new LayerListener
    flush(spark)
    spark.sparkContext.addSparkListener(l)
    val t0 = System.currentTimeMillis()
    val out = window(l)
    val t1 = System.currentTimeMillis()
    flush(spark)
    spark.sparkContext.removeSparkListener(l)
    val wallS = (t1 - t0) / 1000.0
    r.layers("spark.jobs") = l.jobs.toDouble
    r.layers("spark.stages") = l.stages.toDouble
    r.layers("spark.tasks") = l.tasks.toDouble
    r.layers("spark.task_success_ratio") = if (l.tasks == 0) 1.0 else l.tasksOk.toDouble / l.tasks
    r.layers("spark.driver_idle_s") = wallS - l.busyMs(t0, t1) / 1000.0
    r.layers("spark.executor_run_s") = l.runMs / 1000.0
    r.layers("spark.executor_cpu_s") = l.cpuNs / 1e9
    r.layers("spark.core_util") = l.runMs / 1000.0 / (wallS * cores)
    r.layers("spark.gc_s") = l.gcMs / 1000.0
    r.layers("spark.shuffle_read_mb") = l.shuffleRead / 1048576.0
    r.layers("spark.shuffle_write_mb") = l.shuffleWrite / 1048576.0
    r.layers("spark.spill_mb") = l.spill / 1048576.0
    r.layers("spark.persisted_rdds_left") =
      spark.sparkContext.getPersistentRDDs.keys.count(id => !harnessRdds(id)).toDouble
    out
  }

  def writeSpans(a: Main.Args, spans: Spans): Unit =
    java.nio.file.Files.write(new java.io.File(a.work, "spans.json").toPath,
      spans.toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
