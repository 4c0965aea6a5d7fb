package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval in epoch nanoseconds. `parent` is "" for a root. */
final case class Span(id: String, parent: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Work Spark did for one job, summed over its tasks. */
final class JobRec(val id: Int, val span: String, val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
}

/** In-memory span recorder for the traced run.
  *
  * Benchmark spans wrap calls into the program. While one is open, its id is
  * the Spark job group of the calling thread, so the SparkListener can hang
  * every job (and its stages and task metrics) under the span that caused
  * it. A QueryExecutionListener records each query's planning phases, which
  * line up by time with the single-threaded catalog's plan spans. Nothing
  * is written until [[write]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val open = ThreadLocal.withInitial[List[String]](() => Nil)
  private val closed = new ConcurrentLinkedQueue[Span]()

  @volatile var enabled = false

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = "b" + ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      sc.setJobGroup(s"pb-$id", name)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        closed.add(Span(id, stack.headOption.getOrElse(""), name,
          t0 + epochOffsetNs, t1 + epochOffsetNs))
        open.set(stack)
        stack match {
          case p :: _ => sc.setJobGroup(s"pb-$p", "")
          case Nil => sc.clearJobGroup()
        }
      }
    }

  // ---- listener state; mutated only on the listener-bus thread ----
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Span]
  private val fences = new AtomicInteger(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = new JobRec(e.jobId, group.stripPrefix("pb-"), e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        if (j.span == "fence") fences.incrementAndGet()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.resultBytes += m.resultSize
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        for (sub <- s.submissionTime; done <- s.completionTime)
          stages += Span(s"stage-${s.stageId}.${s.attemptNumber()}",
            stageJob.get(s.stageId).map("job-" + _).getOrElse(""),
            s"stage ${s.name}", sub * 1000000L, done * 1000000L,
            Map("tasks" -> s.numTasks.toDouble))
      }
  }

  /** (analysis, optimization, planning) phase spans of each finished query;
    * they carry no parent and sit in the trace file by time. */
  private val planPhases = new ConcurrentLinkedQueue[Span]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        planPhases.add(Span("", "", s"qe.$phase",
          p.startTimeMs * 1000000L, p.endTimeMs * 1000000L))
      }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Blocks until every listener event posted before the call has been
    * handled: a marker job's end event arrives after all earlier ones. */
  def drain(): Unit = {
    val target = fences.get() + 1
    sc.setJobGroup("pb-fence", "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (fences.get() < target && System.nanoTime() < deadline)
      Thread.sleep(5)
    Thread.sleep(200) // the query-execution queue is separate; let it settle
  }

  def spans: Seq[Span] = closed.asScala.toSeq

  def jobRecs: Seq[JobRec] = synchronized(jobs.values.filter(_.span != "fence").toSeq)

  /** Span id -> ids of itself and every span nested under it. */
  def subtree: Map[String, Set[String]] = {
    val all = spans
    val children = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.id) }
    def walk(id: String): Set[String] =
      children.getOrElse(id, Nil).foldLeft(Set(id))((acc, c) => acc ++ walk(c))
    all.map(s => s.id -> walk(s.id)).toMap
  }

  /** Jobs submitted while `span` or any span under it was open. */
  def jobsUnder(span: Span, tree: Map[String, Set[String]]): Seq[JobRec] = {
    val ids = tree.getOrElse(span.id, Set(span.id))
    jobRecs.filter(j => ids.contains(j.span))
  }

  /** Span duration minus the part of it covered by its jobs. */
  def selfMs(span: Span, jobs: Seq[JobRec]): Double = {
    val s = span.startNs / 1000000L
    val e = span.endNs / 1000000L
    val iv = jobs.map(j => (math.max(j.startMs, s), math.min(j.endMs, e)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, span.ms - covered)
  }

  /** Writes every span (benchmark, job, stage) as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val jobSpans = jobRecs.map { j =>
      Span(s"job-${j.id}", j.span, s"job ${j.id}", j.startMs * 1000000L,
        j.endMs * 1000000L, Map("tasks" -> j.tasks.toDouble,
          "cpu_ns" -> j.cpuNs.toDouble, "shuffle_bytes" -> j.shuffleBytes.toDouble,
          "spill_bytes" -> j.spillBytes.toDouble,
          "result_bytes" -> j.resultBytes.toDouble))
    }
    val all = spans ++ jobSpans ++ synchronized(stages.toSeq) ++ planPhases.asScala
    val lines = all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
        .mkString("{", ",", "}")
      s"""{"id":${Json.str(s.id)},"parent":${Json.str(s.parent)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"attrs":$attrs}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
