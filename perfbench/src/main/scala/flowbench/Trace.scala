package flowbench

import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced interval. Times are epoch milliseconds with sub-millisecond
  * precision, on the same clock Spark stamps its listener events with.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String, startMs: Double) {
  var endMs: Double = Double.NaN
  def wallMs: Double = endMs - startMs
}

/** One Spark job, attributed to the benchmark span that submitted it. */
final class JobRec(val id: Int, val startMs: Long, val spanId: Int, val execId: Long,
                   val stageName: String, val stageSite: String) {
  var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
}

/** Spans around the benchmark's own calls into each module, plus every
  * Spark job as a child span. A job is attributed to the span through a
  * local property the span sets on the submitting thread (inherited by
  * stream-execution and broadcast threads), and to a call site through
  * its SQL execution: a broadcast job runs on a pool thread whose own
  * stack only shows `CompletableFuture`, but its `spark.sql.execution.id`
  * leads to the execution that the library call started.
  *
  * Everything stays in memory until the run writes its trace file.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  /** SQL execution id -> the call site (or job description) that started it. */
  val execs = mutable.HashMap.empty[Long, String]

  def span[T](name: String, layer: String)(f: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, layer, now())
    spans += s
    stack.push(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try f
    finally {
      s.endMs = now()
      stack.pop()
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until every listener event posted so far has been recorded. */
  def drain(): Unit = org.apache.spark.flowbench.Bus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p: Properties = Option(e.properties).getOrElse(new Properties)
    val span = Option(p.getProperty(SpanProp)).map(_.toInt).getOrElse(-1)
    val exec = Option(p.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val j = new JobRec(e.jobId, e.time, span, exec,
      last.map(_.name).getOrElse(""), last.map(_.details).getOrElse(""))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = s.description
    }
    case _ =>
  }

  private def fromProgram(site: String) = site.contains("graft.")

  /** A job's call site: its stage's when the submitting thread's stack
    * passes through the program, else (a broadcast or other pool-thread
    * job) that of the call that started its SQL execution.
    */
  def callSite(j: JobRec): String =
    if (fromProgram(j.stageSite)) j.stageName
    else execs.get(j.execId).filter(_.contains(".scala:")).getOrElse(j.stageName)

  /** Ids of `root` and every span opened beneath it. */
  def subtree(root: Span): Set[Int] = {
    val ids = mutable.Set(root.id)
    spans.iterator.drop(root.id + 1).foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSet
  }

  def jobsUnder(root: Span): Seq[JobRec] = {
    val ids = subtree(root)
    synchronized(jobs.values.filter(j => ids.contains(j.spanId)).toSeq)
  }
}

object Tracer {
  val SpanProp = "flowbench.span"

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  def interval(j: JobRec): (Double, Double) = (j.startMs.toDouble, j.endMs.toDouble)
}

/** Maps a job inside the streaming corpus run to the step of the daily
  * flow that submitted it. The stream execution thread overrides the call
  * site of every job it runs with the `start()` call, so neither stage nor
  * SQL-execution call sites say which step a job belongs to. Instead a
  * sampler reads that thread's stack every millisecond or two while a
  * traced day runs, and a job takes the step of the innermost library
  * frame sampled during it (or just before it, for a job too short to be
  * sampled). Step boundaries are read from the library source at
  * start-up, so they follow the code instead of hard-coded line numbers;
  * a stack with no placeable frame counts as `stream.trigger`.
  */
final class CorpusSteps(root: java.nio.file.Path, now: () => Double) {
  private def lines(rel: String): IndexedSeq[String] = {
    val p = root.resolve(rel)
    if (java.nio.file.Files.exists(p))
      scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().toIndexedSeq
    else IndexedSeq.empty
  }
  private val corpus = lines("src/main/scala/graft/query/CorpusPipeline.scala")
  private val stream = lines("src/main/scala/graft/streaming/StreamingCorpusPipeline.scala")
  private def lineOf(src: IndexedSeq[String], marker: String): Int =
    src.indexWhere(_.contains(marker)) + 1 // 0 when absent

  private val pairsAt = lineOf(corpus, "val pairs = DataOps")
  private val selectAt = lineOf(corpus, "val dropHist")
  private val reportAt = lineOf(corpus, "val nIn = ")
  private val emptyCheckAt = lineOf(stream, "batch.isEmpty")
  private val mapped: Boolean = pairsAt > 0 && selectAt > pairsAt && reportAt > selectAt

  def step(stack: Array[StackTraceElement]): String =
    stack.find(f => Files(f.getFileName)) match {
      case Some(f) if f.getFileName == "SignatureIndex.scala" => "index.append"
      case Some(f) if f.getFileName == "StreamingCorpusPipeline.scala" =>
        if (f.getLineNumber == emptyCheckAt) "stream.trigger" else "stream.output_write"
      case Some(f) if mapped =>
        val line = f.getLineNumber
        if (line >= reportAt) "corpus.report"
        else if (line >= selectAt) "corpus.select"
        else if (line >= pairsAt) "corpus.pairs"
        else "corpus.gate"
      case _ => "stream.trigger"
    }
  private val Files = Set("SignatureIndex.scala", "StreamingCorpusPipeline.scala", "CorpusPipeline.scala")

  /** (epoch ms, step) samples of the stream execution thread. */
  private val samples = ArrayBuffer.empty[(Double, String)]
  @volatile private var sampling = false
  private var sampler: Thread = _

  def start(): Unit = {
    sampling = true
    sampler = new Thread(() => {
      var target: Thread = null
      while (sampling) {
        if (target == null || !target.isAlive) target = streamThread()
        if (target != null) {
          val st = target.getStackTrace
          if (st.nonEmpty) {
            val s = step(st)
            samples.synchronized(samples += ((now(), s)))
          }
        }
        Thread.sleep(1)
      }
    }, "flowbench-stack-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  private def streamThread(): Thread = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val all = new Array[Thread](g.activeCount() * 2 + 16)
    all.take(g.enumerate(all, true))
      .find(t => t.getName.startsWith("stream execution thread")).orNull
  }

  def stop(): Unit = {
    sampling = false
    if (sampler != null) sampler.join()
  }

  def stepOf(j: JobRec): String = samples.synchronized {
    val during = samples.filter(s => s._1 >= j.startMs && s._1 <= j.endMs).map(_._2)
      .filter(_ != "stream.trigger")
    if (during.nonEmpty) during.groupBy(identity).maxBy(_._2.size)._1
    else samples.filter(_._1 <= j.startMs).lastOption.map(_._2).getOrElse("stream.trigger")
  }
}

object CorpusSteps {
  def layerOf(step: String): String =
    if (step.startsWith("corpus.")) "graft.query.CorpusPipeline"
    else if (step.startsWith("index.")) "graft.sink.SignatureIndex"
    else "graft.streaming"
}
