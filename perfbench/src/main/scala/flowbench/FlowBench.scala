package flowbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

object Json {
  val mapper = new ObjectMapper()

  /** Minimal writer for the result and trace files. */
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}

/** The live heap: the most heap in use after the full collections the
  * loop forces between flow runs, from the collectors' notifications.
  */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private var live = 0L
  collectors.foreach(_.addNotificationListener(this, null, null))

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (info.getGcCause == "System.gc()") synchronized { live = math.max(live, used) }
    }

  /** Stop listening once the notifications sent so far have arrived. */
  def stop(): Unit = {
    Thread.sleep(200)
    collectors.foreach(_.removeNotificationListener(this))
  }
  def liveMb: Double = synchronized(live / 1048576.0)
}

/** One benchmark run of one workload in one JVM:
  *
  *  1. build the set-up state at least `SetupMinReps` times and for at
  *     least `SetupMinS` (`setup_s` is the median);
  *  2. warm the JVM and codegen with untimed, checked flow runs on a copy
  *     of it;
  *  3. closed loop, one client: flow runs back to back for `seconds`, and
  *     at least the workload's `minOps`;
  *  4. check every output against the generator's truth.
  *
  * With `--trace 1` the loop is split: an untraced half, then the same
  * flow runs again, from the same set-up state, with spans on; their
  * spans give the per-layer metrics and the tracing overhead. One
  * single-core (`local[1]`) flow run follows, kept out of both.
  */
object FlowBench {
  import Util._

  final case class Conf(workload: String, root: Path, inputs: Path, work: Path, out: Path,
                        traceOut: Path, seconds: Double, trace: Boolean)

  val SetupMinReps = 3
  val SetupMinS = 1.0
  /** `local[N]` and the shuffle partitions: the CPUs of the affinity mask. */
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val conf = Conf(a("workload"), Paths.get(a("root")), Paths.get(a("inputs")),
      Paths.get(a("work")), Paths.get(a("out")), Paths.get(a("trace-out")),
      a("seconds").toDouble, a("trace") == "1")
    val truth = Json.mapper.readTree(conf.inputs.resolve("truth.json").toFile)
    val result = run(conf, truth)
    Files.write(conf.out, Json(result).getBytes("UTF-8"))
  }

  def session(cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("flowbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
      .config("spark.callstack.depth", "64")
    val s = graft.FastLocalDir.configure(b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(c: Ctx, name: String): Workload = name match {
    case "ingest_incremental" => new Ingest(c)
    case "corpus_daily" => new Corpus(c)
  }

  /** Flow runs back to back until `seconds` have passed and `minOps` ran. */
  def loop(w: Workload, seconds: Double, tr: Option[Tracer], minOps: Int = 1): Seq[(OpResult, Int)] = {
    val out = ArrayBuffer.empty[(OpResult, Int)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      val firstSpan = tr.map(_.spans.size).getOrElse(0)
      val r =
        try w.op(tr)
        catch { case e: Exception =>
          w.problems += s"flow run failed: $e"
          w.reset()
          OpResult(0.0, 0L, Nil, ok = false, readsFailed = 0)
        }
      out += ((r, firstSpan))
      // untimed: no flow run inherits the last one's garbage, and the
      // collection shows the live heap (`HeapWatch`)
      System.gc()
    } while (System.nanoTime() < deadline || out.size < minOps)
    out.toSeq
  }

  def stealS(): Double = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
      .linesIterator.next().trim.split("\\s+")
    if (f.length > 8) f(8).toDouble / 100.0 else 0.0
  }

  def peakRssMb(): Double = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    .linesIterator.find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def run(conf: Conf, truth: com.fasterxml.jackson.databind.JsonNode): Map[String, Any] = {
    val t0 = System.nanoTime()
    def mark(what: String): Unit = println(f"[flowbench] $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val spark = session(Cores)
    mark("session")
    val c = new Ctx(spark, conf.inputs, conf.work, truth, conf.root)
    val w = workload(c, conf.workload)
    val tracer = if (conf.trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val setups = ArrayBuffer.empty[Double]
    while (setups.size < SetupMinReps || setups.sum < SetupMinS) {
      val dir = c.fresh("template")
      val (_, s) = tracer match {
        case Some(x) => time(x.span("setup", setupLayer(conf.workload))(w.setup(dir)))
        case None => time(w.setup(dir))
      }
      if (c.template != null) deleteTree(c.template)
      c.template = dir
      setups += s
    }
    mark("setup")
    tracer.foreach { x => x.drain(); spark.sparkContext.removeSparkListener(x) }
    w.reset()
    loop(w, 0, None, minOps = w.warmOps)
    w.reset()
    mark("warm")
    val steal0 = stealS()
    val untraced =
      if (conf.trace) loop(w, conf.seconds / 2, None, minOps = 2)
      else loop(w, conf.seconds, None, minOps = w.minOps)
    mark("loop")
    val base = Map[String, Any](
      "workload" -> conf.workload, "cores" -> Cores, "setup_reps" -> setups.toSeq)
    if (!conf.trace) {
      val steal = stealS() - steal0
      spark.stop()
      val ops = untraced.map(_._1)
      base ++ Map("end_to_end" -> endToEnd(ops, setups.toSeq), "steal_s" -> steal,
        "flow_s" -> ops.map(_.wallS),
        "ops" -> ops.size, "reads" -> ops.map(_.readsMs.size).sum,
        "failed_ops" -> ops.count(!_.ok), "failed_reads" -> ops.map(_.readsFailed).sum,
        "problems" -> w.problems.toSeq)
    } else {
      // the traced part replays exactly the flow runs the untraced half
      // timed, from the same set-up state, so the overhead compares like
      // with like
      val x = tracer.get
      w.reset()
      spark.sparkContext.addSparkListener(x)
      val tSteal0 = stealS()
      val heap = new HeapWatch
      val traced = loop(w, 0, tracer, minOps = untraced.size)
      heap.stop()
      val steal = stealS() - tSteal0
      x.drain()
      val perOp = traced.map { case (r, first) => opLayers(x, w, r, first) }
      val layers = perLayer(perOp, traced.map(_._1), untraced.map(_._1), steal)
      val checks = traceChecks(x)
      val trace = traceDoc(x, w)
      spark.stop()
      // the single-core baseline starts from the same set-up state
      val s1 = session(1)
      val c1 = new Ctx(s1, conf.inputs, conf.work.resolve("local1"), truth, conf.root)
      c1.template = c.template
      val w1 = workload(c1, conf.workload)
      w1.reset()
      val one = w1.op(None)
      s1.stop()
      val metrics = layers + ("baseline.local1_run_s" -> one.wallS) + ("heap.live_mb" -> heap.liveMb)
      val ops = untraced.map(_._1) ++ traced.map(_._1) :+ one
      val problems = w.problems.toSeq ++ w1.problems.toSeq ++ checks
      Files.write(conf.traceOut, Json(base ++ Map(
        "metrics" -> metrics, "checks" -> Map("violations" -> checks),
        "untraced_flow_s" -> untraced.map(_._1.wallS), "traced_flow_s" -> traced.map(_._1.wallS),
        "local1_flow_s" -> one.wallS) ++ trace).getBytes("UTF-8"))
      base ++ Map("per_layer" -> metrics, "steal_s" -> steal, "ops" -> ops.size,
        "reads" -> ops.map(_.readsMs.size).sum, "failed_ops" -> ops.count(!_.ok),
        "failed_reads" -> ops.map(_.readsFailed).sum, "problems" -> problems)
    }
  }

  def setupLayer(workload: String): String =
    if (workload == "corpus_daily") "graft.sink.SignatureIndex" else "graft.sink.ArticleStore"

  def endToEnd(ops: Seq[OpResult], setups: Seq[Double]): Map[String, Double] = {
    val good = ops.filter(_.ok)
    val reads = ops.flatMap(_.readsMs)
    Map(
      "setup_s" -> median(setups),
      "flow_run_s" -> median(good.map(_.wallS)),
      "flow_items_per_s" -> good.map(_.items).sum / math.max(1e-9, good.map(_.wallS).sum),
      "read_ms" -> median(reads),
      "read_ms_p75" -> pct(reads, 0.75),
      "peak_rss_mb" -> peakRssMb())
  }

  private val FlowSpans = Set("ingest.run", "stream.runAvailableNow")

  /** Layer times of one traced flow run, from its spans and jobs. */
  def opLayers(x: Tracer, w: Workload, r: OpResult, firstSpan: Int): Map[String, Double] = {
    val mine = x.spans.drop(firstSpan).toSeq
    val flow = mine.find(s => s.parent == -1 && FlowSpans(s.name))
    flow.fold(r.layers) { f =>
      val sub = x.subtree(f)
      def wall(name: String) = mine.filter(s => sub(s.id) && s.name == name).map(_.wallMs).sum / 1000
      val jobs = x.jobsUnder(f)
      val u = Tracer.union(jobs.map(Tracer.interval)) / 1000
      val spark = Map(
        "spark.jobs" -> jobs.size.toDouble,
        "driver.self_s" -> (f.wallMs / 1000 - u),
        "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
        "spark.task_run_s" -> jobs.map(_.runMs).sum / 1000.0,
        "spark.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
        "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWriteBytes).sum.toDouble,
        "spark.shuffle_fetch_wait_s" -> jobs.map(_.fetchWaitMs).sum / 1000.0,
        "spark.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
        "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0)
      val reads = mine.filter(s => s.parent == -1 && s.name.endsWith(".read")).map(_.wallMs / 1000)
      val flowLayers = w match {
        case cw: Corpus =>
          val bySteps = jobs.groupBy(j => cw.step(j))
          def steps(p: String => Boolean) =
            Tracer.union(bySteps.filter(e => p(e._1)).values.flatten.map(Tracer.interval).toSeq) / 1000
          Map("corpus.gate_s" -> steps(_ == "corpus.gate"),
            "corpus.pairs_s" -> steps(_ == "corpus.pairs"),
            "corpus.select_s" -> steps(_ == "corpus.select"),
            "corpus.report_s" -> steps(_ == "corpus.report"),
            "index.append_s" -> steps(_ == "index.append"),
            "stream.output_write_s" -> steps(_ == "stream.output_write"),
            "stream.trigger_s" -> (f.wallMs / 1000 - steps(_ != "stream.trigger")))
        case _ =>
          Map("source.load_s" -> wall("source.load"), "extract.s" -> wall("extract"),
            "store.watermark_s" -> wall("store.watermark"), "store.merge_s" -> wall("store.merge"),
            "store.topn_s" -> median(reads))
      }
      r.layers ++ spark ++ flowLayers + ("flow_s" -> f.wallMs / 1000)
    }
  }

  /** Every per-layer metric the benchmark declares; a layer the workload
    * does not use reads 0.
    */
  val PerLayer: Seq[String] = Seq(
    "source.load_s", "source.pages_fetched", "source.pages_useful_ratio",
    "extract.s", "extract.elements", "extract.articles", "extract.keep_ratio",
    "pipeline.watermark_dropped", "pipeline.dup_rows",
    "store.merge_s", "store.buckets_rewritten", "store.write_amp", "store.watermark_s",
    "store.topn_s", "store.scan_versions", "store.files", "store.bytes_per_row",
    "stream.trigger_s", "stream.output_write_s",
    "corpus.gate_s", "corpus.pairs_s", "corpus.select_s", "corpus.report_s",
    "corpus.n_in", "corpus.n_gated_out", "corpus.n_dup_dropped", "corpus.n_kept",
    "index.append_s", "index.bytes_per_doc", "index.files", "index.day_cost_ratio",
    "spark.jobs", "driver.self_s", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.shuffle_write_bytes", "spark.shuffle_fetch_wait_s", "spark.spill_bytes",
    "spark.gc_s", "host.steal_s", "trace.overhead_ratio")

  def perLayer(perOp: Seq[Map[String, Double]], traced: Seq[OpResult],
               untraced: Seq[OpResult], steal: Double): Map[String, Double] = {
    val keys = perOp.flatMap(_.keys).distinct
    val med = keys.map(k => k -> median(perOp.flatMap(_.get(k)))).toMap
    // later days' mean cost over the earlier days' (1.0 = flat per-day cost)
    val byDay = perOp.filter(_.contains("day")).groupBy(_("day")).toSeq
      .map { case (d, ms) => d -> median(ms.map(_("flow_s"))) }.sortBy(_._1)
    val dayRatio =
      if (byDay.size < 2) 0.0
      else {
        val (early, late) = byDay.splitAt(byDay.size / 2)
        (late.map(_._2).sum / late.size) / (early.map(_._2).sum / early.size)
      }
    PerLayer.map(k => k -> med.getOrElse(k, 0.0)).toMap ++ Map(
      "index.day_cost_ratio" -> dayRatio,
      "host.steal_s" -> steal,
      // the same flow runs on both sides: traced wall over untraced wall
      "trace.overhead_ratio" ->
        traced.map(_.wallS).sum / math.max(1e-9, untraced.map(_.wallS).sum))
  }

  /** Task CPU within task run time, and every child span inside its parent. */
  def traceChecks(x: Tracer): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    val byId = x.spans.map(s => s.id -> s).toMap
    x.spans.filter(_.parent >= 0).foreach { s =>
      val p = byId(s.parent)
      if (s.startMs < p.startMs || s.endMs > p.endMs) bad += s"span ${s.name} outside ${p.name}"
    }
    x.jobs.values.foreach { j =>
      if (j.cpuNs / 1e6 > j.runMs + j.tasks) bad += s"job ${j.id}: task cpu > task run time"
      byId.get(j.spanId).foreach { p =>
        // listener stamps are whole milliseconds
        if (j.startMs < math.floor(p.startMs) - 1 || j.endMs > math.ceil(p.endMs) + 1 || j.endMs < 0)
          bad += s"job ${j.id} outside span ${p.name}"
      }
    }
    bad.toSeq
  }

  /** Spans (jobs included as children) with self times, and per-layer totals. */
  def traceDoc(x: Tracer, w: Workload): Map[String, Any] = {
    val jobLayer: JobRec => (String, String) = j => {
      val parent = x.spans.lift(j.spanId)
      w match {
        case cw: Corpus if parent.exists(_.name == "stream.runAvailableNow") =>
          val st = cw.step(j); (st, CorpusSteps.layerOf(st))
        case _ => (parent.map(_.name).getOrElse("unattributed"),
          parent.map(_.layer).getOrElse("unattributed"))
      }
    }
    val children = mutable.HashMap.empty[Int, ArrayBuffer[(Double, Double)]]
    x.spans.filter(_.parent >= 0).foreach(s =>
      children.getOrElseUpdate(s.parent, ArrayBuffer.empty) += ((s.startMs, s.endMs)))
    x.jobs.values.foreach(j =>
      children.getOrElseUpdate(j.spanId, ArrayBuffer.empty) += Tracer.interval(j))
    val selfBy = mutable.LinkedHashMap.empty[String, Double]
    val spanDocs = x.spans.map { s =>
      val self = s.wallMs - Tracer.union(children.getOrElse(s.id, ArrayBuffer.empty).toSeq
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }.filter(i => i._2 > i._1))
      selfBy(s.layer) = selfBy.getOrElse(s.layer, 0.0) + self
      Map("id" -> s"s${s.id}", "parent" -> (if (s.parent < 0) null else s"s${s.parent}"),
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> self)
    }
    val jobDocs = x.jobs.values.map { j =>
      val (name, layer) = jobLayer(j)
      selfBy(layer) = selfBy.getOrElse(layer, 0.0) + (j.endMs - j.startMs)
      Map("id" -> s"j${j.id}", "parent" -> (if (j.spanId < 0) null else s"s${j.spanId}"),
        "name" -> name, "layer" -> layer, "call_site" -> x.callSite(j),
        "sql_execution" -> j.execId, "start_ms" -> j.startMs.toDouble, "end_ms" -> j.endMs.toDouble,
        "self_ms" -> (j.endMs - j.startMs).toDouble, "tasks" -> j.tasks, "task_run_ms" -> j.runMs,
        "task_cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "shuffle_fetch_wait_ms" -> j.fetchWaitMs, "spill_bytes" -> j.spillBytes)
    }
    Map("spans" -> (spanDocs ++ jobDocs), "self_s_by_layer" -> selfBy.map { case (k, v) => k -> v / 1000 })
  }
}
