package flowbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.{HtmlExtract, SiteSpec, Sites}
import graft.model.ArticleSchema
import graft.query.{CorpusPipeline, Pipeline}
import graft.sink.{ArticleStore, SignatureIndex}
import graft.source.{FixtureFetcher, PaginatedSource}
import graft.streaming.StreamingCorpusPipeline

/** What one flow run (an ingest run or a corpus day) and the serving reads
  * after it produced. `ok` is false when any output differed from the
  * generator's truth; `readsFailed` counts reads that did.
  */
final case class OpResult(
    wallS: Double, items: Long, readsMs: Seq[Double], ok: Boolean, readsFailed: Int,
    layers: Map[String, Double] = Map.empty)

/** A workload drives the program's public flow entry points. `setup` is
  * timed and repeated, and the flow runs start from a copy of the last
  * set-up; `op` is one closed-loop flow run.
  */
trait Workload {
  /** Untimed flow runs, checks included, on a copy of the set-up state
    * before the timed loop, so that it finds the JVM and Spark's codegen
    * warm.
    */
  def warmOps: Int
  /** The fewest flow runs the timed loop makes, whatever `--seconds`. */
  def minOps: Int
  /** Load the generated inputs and build the set-up state into `dir`:
    * this is what `setup_s` times.
    */
  def setup(dir: Path): Unit
  def op(tr: Option[Tracer]): OpResult
  /** Start the next run from a fresh copy of the set-up state. */
  def reset(): Unit
  /** Failures seen while checking outputs, for the run log. */
  val problems: ArrayBuffer[String] = ArrayBuffer.empty
}

final class Ctx(val spark: SparkSession, val inputs: Path, val work: Path, val truth: JsonNode,
                val root: Path) {
  private var n = 0
  /** The set-up state every run starts from a copy of. */
  var template: Path = _
  /** A new, empty directory under the run's work dir. */
  def fresh(kind: String): Path = {
    n += 1
    val p = work.resolve(s"$kind-$n")
    Files.createDirectories(p)
    p
  }
  def input(name: String): Path = inputs.resolve(name)
}

object Util {
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.deleteIfExists)
  }

  def copyTree(from: Path, to: Path): Unit = {
    deleteTree(to)
    Files.walk(from).iterator().asScala.foreach { s =>
      val d = to.resolve(from.relativize(s).toString)
      if (Files.isDirectory(s)) Files.createDirectories(d) else Files.copy(s, d)
    }
  }

  /** (file count, bytes) of the data files under `p`. */
  def files(p: Path, ext: String = ".parquet"): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(ext)).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }
}

/** The scheduled ingestion flow: `Pipeline.runScrape` over
  * `FixtureFetcher`-served listing pages into a warm `ArticleStore`, one
  * scheduled day per flow run, then `topN(5)` serving reads. The days
  * replay in order from a fresh copy of the set-up store.
  */
final class Ingest(c: Ctx) extends Workload {
  import Util._
  private val spark = c.spark
  private val sites: Seq[(String, SiteSpec)] =
    Seq("skift" -> Sites.skift, "phocuswire" -> Sites.phocuswire)
  private val topCols = Seq(ArticleSchema.ArticleId, ArticleSchema.NewsLink,
    ArticleSchema.NewsTitle, ArticleSchema.AuthorName, ArticleSchema.NewsPublishedTime,
    ArticleSchema.SourceName)

  private def pages(name: String): IndexedSeq[String] =
    Files.readAllLines(c.input(name)).asScala.map(l => Json.mapper.readValue(l, classOf[String]))
      .toIndexedSeq

  /** Per scheduled day: the listing pages of each site and the truth after it. */
  private var runs: IndexedSeq[(Seq[IndexedSeq[String]], JsonNode)] = IndexedSeq.empty
  private var store: ArticleStore = _
  private var storeDir: Path = _
  private var next = 0

  private def loadRuns(): Unit =
    runs = c.truth.get("days").elements().asScala.zipWithIndex.map { case (t, i) =>
      (sites.map(s => pages(f"day${i + 1}%03d.${s._1}.pages.jsonl")), t)
    }.toIndexedSeq

  /** The first days: the merge, read and write paths only reach steady
    * JIT code at the store's real size.
    */
  val warmOps = 4
  /** The days are alike (the store grows ~0.3% a day), so the loop is
    * bounded by time alone.
    */
  val minOps = 1
  /** `topN(5)` serving reads after each scheduled day. */
  private val Reads = 20

  def setup(dir: Path): Unit = {
    loadRuns()
    val hist = spark.read.parquet(c.input("history.parquet").toString)
      .withColumn(ArticleSchema.NewsPublishedTime,
        to_timestamp(col(ArticleSchema.NewsPublishedTime)))
    new ArticleStore(spark, dir.toString).merge(hist)
  }

  def reset(): Unit = {
    if (storeDir != null) deleteTree(storeDir)
    storeDir = c.fresh("store")
    copyTree(c.template, storeDir)
    store = new ArticleStore(spark, storeDir.toString)
    next = 0
  }

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def rowOf(r: Row): Seq[Any] = topCols.map { c =>
    r.getAs[Any](c) match {
      case ts: java.sql.Timestamp => ts.toLocalDateTime.format(tsFmt)
      case v => v
    }
  }

  private def truthTop(t: JsonNode): Seq[Seq[Any]] =
    t.get("topn").elements().asScala.map(_.elements().asScala.map(v =>
      if (v.isNull) null else v.asText()).toSeq).toSeq

  private def topOk(rows: Array[Row], t: JsonNode): Boolean = rows.toSeq.map(rowOf) == truthTop(t)

  def op(tr: Option[Tracer]): OpResult = {
    if (runs.isEmpty) loadRuns()
    if (next >= runs.size) reset()
    val (ps, t) = runs(next)
    next += 1
    val fetchers = ps.map(new FixtureFetcher(_))
    val sources = fetchers.zip(sites).map { case (f, s) => new PaginatedSource(spark, f, s._2) }
    val (top, wall) = tr match {
      case None => time(Pipeline.runScrape(spark, store, sources, 5).collect())
      case Some(x) => time(tracedRun(x, sources))
    }
    val reads = (0 until Reads).map { _ =>
      tr match {
        case None => time(store.topN(5).collect())
        case Some(x) => time(x.span("store.topn.read", "graft.sink.ArticleStore")(
          store.topN(5).collect()))
      }
    }
    val readsFailed = reads.count(r => !topOk(r._1, t))
    val fetchedOk = fetchers.zip(Seq("Skift", "Phocuswire")).forall { case (f, s) =>
      f.fetched.size == t.get("sites").get(s).get("pages_fetched").asInt()
    }
    val count = store.read().count()
    val ok = topOk(top, t) && fetchedOk && count == t.get("rows").asLong()
    if (!ok) problems += s"ingest day $next: top=${topOk(top, t)} fetched=$fetchedOk " +
      s"rows=$count/${t.get("rows").asLong()}"
    val layers = tr.map(x => storeLayers(x, t, fetchers.zip(ps))).getOrElse(Map.empty)
    OpResult(wall, t.get("batch_rows").asLong(), reads.map(_._2 * 1000), ok, readsFailed, layers)
  }

  /** `Pipeline.runScrape`'s steps, made from the benchmark's side so that
    * each module gets its own span. Only here is the scraped batch cached
    * and counted before the merge, which gives extraction its own span.
    */
  private var lastBatch: DataFrame = _
  private var lastBatchRows = 0L
  private def tracedRun(x: Tracer, sources: Seq[PaginatedSource]): Array[Row] =
    x.span("ingest.run", "graft.query") {
      x.span("store.create", "graft.sink.ArticleStore")(store.create())
      val (wm, _) = x.span("store.watermark", "graft.sink.ArticleStore")(store.watermark())
      val dfs = sources.map(s => x.span("source.load", "graft.source")(s.load(wm)))
      val batch = Pipeline.watermarkFilter(Pipeline.unionSources(dfs), wm).cache()
      lastBatchRows = x.span("extract", "graft.extract")(batch.count())
      lastBatch = batch
      x.span("store.merge", "graft.sink.ArticleStore")(store.merge(batch))
      x.span("store.topn", "graft.sink.ArticleStore")(store.topN(5).collect())
    }

  /** Row accounting and store shape after a traced run; these jobs run
    * under an `accounting` span that no layer metric includes.
    */
  private def storeLayers(x: Tracer, t: JsonNode,
                          fetched: Seq[(FixtureFetcher, IndexedSeq[String])]): Map[String, Double] =
    x.span("accounting", "bench") {
      val wm = java.sql.Timestamp.valueOf(t.get("watermark").asText())
      var elements, articles, pagesFetched, useful = 0L
      fetched.zip(sites).foreach { case ((f, listed), (_, spec)) =>
        val html = f.fetched.toSeq.flatMap(p => listed.lift(p - 1))
        val df = spark.createDataFrame(html.map(Tuple1(_))).toDF("html")
        elements += HtmlExtract.elements(df, "html", spec).count()
        articles += HtmlExtract.articles(df, "html", spec).count()
        pagesFetched += f.fetched.size
        useful += html.count(h => PaginatedSource.pageDates(spec, h).exists(_.exists(!_.before(wm))))
      }
      val keys = lastBatch.select(ArticleSchema.ArticleId).distinct().count()
      lastBatch.unpersist()
      val base = storeDir
      val cur = new String(Files.readAllBytes(base.resolve("_CURRENT")), "UTF-8").trim.toLong
      val man = Files.readAllLines(base.resolve(s"v$cur/manifest")).asScala(1).split(",").map(_.toLong)
      val rewritten = man.count(_ == cur)
      val written = if (rewritten == 0) 0L
        else spark.read.parquet(base.resolve(s"v$cur/data").toString).count()
      val live = man.zipWithIndex.map { case (v, b) =>
        files(base.resolve(s"v$v/data/${ArticleStore.BucketCol}=$b")) }
      val rows = t.get("rows").asDouble()
      Map(
        "source.pages_fetched" -> pagesFetched.toDouble,
        "source.pages_useful_ratio" -> useful.toDouble / math.max(1L, pagesFetched),
        "extract.elements" -> elements.toDouble,
        "extract.articles" -> articles.toDouble,
        "extract.keep_ratio" -> articles.toDouble / math.max(1L, elements),
        "pipeline.watermark_dropped" -> (articles - lastBatchRows).toDouble,
        "pipeline.dup_rows" -> (lastBatchRows - keys).toDouble,
        "store.buckets_rewritten" -> rewritten.toDouble,
        "store.write_amp" -> written.toDouble / math.max(1L, keys),
        "store.scan_versions" -> man.distinct.length.toDouble,
        "store.files" -> live.map(_._1).sum.toDouble,
        "store.bytes_per_row" -> live.map(_._2).sum / math.max(1.0, rows))
    }
}

/** The daily corpus run: one parquet file lands per day and
  * `StreamingCorpusPipeline.runAvailableNow` drains it against a
  * `SignatureIndex` bootstrapped from history, with a persistent
  * checkpoint. The serving read after each day is the attrition report.
  */
final class Corpus(c: Ctx) extends Workload {
  import Util._
  private val spark = c.spark
  private val days = c.truth.get("days").elements().asScala.toIndexedSeq
  private var steps: CorpusSteps = _
  private var idxDir, landing, out, ckpt: Path = _
  private var idx: SignatureIndex = _
  private var next = 0
  /** Docs the index holds: history plus every day's kept docs so far. */
  private var indexed = 0L
  private def history = spark.read.parquet(c.input("history.parquet").toString)

  /** One pass over the days. The JIT is still warming for several days:
    * after one warm-up day the median day of two runs differed by 16%,
    * after a full pass by 3.5%.
    */
  def warmOps: Int = days.size
  /** Every run times each generated day, in order: the index grows by a
    * day's kept docs, so the days are not alike, and a run that timed only
    * the first days would not be comparable with one that timed them all.
    */
  def minOps: Int = days.size
  /** Attrition report reads after each day. */
  private val Reads = 5

  def setup(dir: Path): Unit =
    CorpusPipeline.bootstrap(new SignatureIndex(spark, dir.toString), history)

  def reset(): Unit = {
    Seq(idxDir, landing, out, ckpt).filter(_ != null).foreach(deleteTree)
    idxDir = c.fresh("index")
    copyTree(c.template, idxDir)
    idx = new SignatureIndex(spark, idxDir.toString)
    landing = c.fresh("landing")
    out = c.fresh("out")
    ckpt = c.fresh("ckpt")
    next = 0
    indexed = c.truth.get("history_docs").asLong()
  }

  private def land(day: Int): Unit = {
    val name = f"day$day%03d.parquet"
    Files.copy(c.input(name), landing.resolve(name))
  }

  private def drain(): Unit =
    StreamingCorpusPipeline.runAvailableNow(spark, idx, landing.toString, out.toString, ckpt.toString)

  private def reportRows(): Array[Row] = StreamingCorpusPipeline.results(spark, out.toString)._3
    .select("batch_id", "n_in", "n_gated_out", "n_dup_dropped", "n_kept").collect()

  def op(tr: Option[Tracer]): OpResult = {
    if (next >= days.size) reset()
    val t = days(next)
    next += 1
    land(next)
    val (_, wall) = tr match {
      case None => time(drain())
      case Some(x) =>
        if (steps == null) steps = new CorpusSteps(c.root, () => x.now())
        steps.start()
        try time(x.span("stream.runAvailableNow", "graft.streaming")(drain()))
        finally steps.stop()
    }
    val reads = (0 until Reads).map { _ =>
      tr match {
        case None => time(reportRows())
        case Some(x) => time(x.span("corpus.report.read", "graft.streaming")(reportRows()))
      }
    }
    // day d's report is the row of the newest micro-batch, and the report
    // holds exactly one row per day drained so far
    def reportOk(rows: Array[Row]): Boolean = rows.length == next && {
      val r = rows.maxBy(_.getAs[Any]("batch_id").toString.toLong)
      Seq("n_in", "n_gated_out", "n_dup_dropped", "n_kept")
        .forall(k => r.getAs[Long](k) == t.get(k).asLong())
    }
    val readsFailed = reads.count(r => !reportOk(r._1))
    val kept = spark.read.parquet(out.toString + "/kept")
    val lastBatch = kept.agg(max("batch_id")).head().get(0)
    val ids = kept.filter(col("batch_id") === lastBatch).select("doc_id").collect()
      .map(_.getLong(0)).sorted
    val planted = t.get("planted").elements().asScala.map(_.asLong()).toSet
    val digestOk = sha256(ids.mkString(",")) == t.get("kept_digest").asText()
    val conserve = reads.headOption.exists { r =>
      r._1.forall(x => x.getAs[Long]("n_in") == x.getAs[Long]("n_gated_out") +
        x.getAs[Long]("n_dup_dropped") + x.getAs[Long]("n_kept"))
    }
    val ok = digestOk && conserve && !ids.exists(planted) && reads.nonEmpty && reportOk(reads.head._1)
    if (!ok) problems += s"corpus day $next: digest=$digestOk conserve=$conserve " +
      s"planted_kept=${ids.count(planted)} report=${reads.headOption.map(r => reportOk(r._1))}"
    indexed += ids.length
    val layers = tr.map(_ => dayLayers(reads.head._1)).getOrElse(Map.empty)
    OpResult(wall, t.get("n_in").asLong(), reads.map(_._2 * 1000), ok, readsFailed, layers)
  }

  /** Attrition counts and the index's shape after a traced day. */
  private def dayLayers(report: Array[Row]): Map[String, Double] = {
    val (n, bytes) = files(idxDir)
    val r = report.maxBy(_.getAs[Any]("batch_id").toString.toLong)
    Seq("n_in", "n_gated_out", "n_dup_dropped", "n_kept")
      .map(k => s"corpus.$k" -> r.getAs[Long](k).toDouble).toMap ++ Map(
      "index.files" -> n.toDouble,
      "index.bytes_per_doc" -> bytes.toDouble / math.max(1L, indexed),
      "day" -> next.toDouble)
  }

  /** The step a job of a traced day belongs to. */
  def step(j: JobRec): String = steps.stepOf(j)
}
