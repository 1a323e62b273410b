package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.SparkEntry
import graft.baseline.OzsoyLsaSummarizer
import graft.io.ReviewSource
import graft.lsa.LocalLsa
import graft.pipeline.Pipelines
import graft.rouge.Rouge
import graft.text.TextFunctions
import graft.textrank.GroupedTextRank
import graft.tfidf.TfIdf

/** Spark task counters per program module. A job belongs to the module
  * whose source file submitted it: the first `graft.<module>` frame of
  * the job's call site, or `sink` when the harness itself submitted it
  * (its result write, which runs whatever the program left lazy). Only
  * jobs started while `active` is set are counted.
  */
final class Counters extends SparkListener {
  @volatile var active = false
  private val stageModule = mutable.Map.empty[Int, String]
  // module -> (jobs, task_s, task_cpu_s, shuffle_write_mb, spill_mb, result_mb)
  private val sums = mutable.Map.empty[String, Array[Double]]

  private def bump(m: String, i: Int, v: Double): Unit =
    sums.getOrElseUpdate(m, new Array[Double](Counters.Fields.length))(i) += v

  // SQL execution id -> module of the thread that started the execution
  private val executionModule = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionModule(s.executionId) = Counters.moduleOf(s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    // Jobs that SQL submits from its own threads (adaptive query stages,
    // broadcasts) carry no program frame; they belong to the module that
    // started their SQL execution.
    val own = Counters.moduleOf(e.stageInfos.maxBy(_.stageId).details)
    val m = if (own != "other") own else Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionModule.get(id.toLong)).getOrElse(own)
    e.stageIds.foreach(s => if (!stageModule.contains(s)) stageModule(s) = m)
    bump(m, 0, 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (m <- stageModule.get(e.stageId); tm <- Option(e.taskMetrics)) {
      bump(m, 1, tm.executorRunTime / 1e3)
      bump(m, 2, tm.executorCpuTime / 1e9)
      bump(m, 3, tm.shuffleWriteMetrics.bytesWritten / 1e6)
      bump(m, 4, tm.diskBytesSpilled / 1e6)
      bump(m, 5, tm.resultSize / 1e6)
    }

  /** Per-module sums since the previous call. */
  def take(): Map[String, Array[Double]] = {
    val out = sums.map { case (k, v) => k -> v.clone() }.toMap
    sums.clear()
    out
  }
}

object Counters {
  val Fields = Seq("jobs", "task_s", "task_cpu_s", "shuffle_write_mb", "spill_mb", "result_mb")
  private val GraftFrame = """graft\.([a-z]+)\.[A-Z].*""".r

  def moduleOf(callSite: String): String =
    callSite.split("\n").iterator.map(_.trim).collectFirst {
      case GraftFrame(m) => m
      case l if l.startsWith("perfbench.") => "sink"
    }.getOrElse("other")
}

/** One operation of a workload pass: `run` returns what the checks read. */
final case class Op(name: String, span: String, run: () => Any)

trait Workload {
  def ops: Seq[Op]
  /** Traced runs only: spans around further public calls, made after a
    * timed pass and outside its clock. */
  def extraSpans(span: (String, () => Unit) => Unit): Unit = ()
  /** Inputs the Python-side checks need, from the last pass's results. */
  def checks(last: Map[String, Any]): Map[String, Any]
}

final class BulkProduct(spark: SparkSession, input: String, out: String) extends Workload {
  private val path = s"$input/bulk0001.txt"
  private def query(name: String) = SparkEntry.allQueries(name)(spark, input)
  val ops = Seq(
    Op("lsa_summary", "pipeline.lsa_summary_s",
      () => Pipelines.lsaSummary(spark, path).collect().toSeq),
    Op("textrank_summary", "pipeline.textrank_summary_s",
      () => Pipelines.textrankSummary(spark, path).collect().toSeq)) ++
    BulkProduct.Queries.map { q =>
      Op(q, s"queries.${q}_s", () => { val df = query(q); (df.schema, df.collect().toSeq) })
    }

  override def extraSpans(span: (String, () => Unit) => Unit): Unit = {
    var sents: DataFrame = null
    var n = 0L
    span("io.sentences_s", () => {
      sents = ReviewSource.sentences(ReviewSource.reviews(spark, path)).persist()
      n = sents.count()
    })
    span("text.lsa_tokens_s", () =>
      sents.select(TextFunctions.lsaTokens(col("sentence"))).write.format("noop").mode("overwrite").save())
    span("text.textrank_tokens_s", () =>
      sents.select(TextFunctions.textrankTokens(col("sentence"))).write.format("noop").mode("overwrite").save())
    span("tfidf.tfidf_s", () =>
      TfIdf.tfidf(sents.select(col("sentence_id"), TextFunctions.lsaTokens(col("sentence")).as("tokens")),
        "sentence_id", "tokens", n).write.format("noop").mode("overwrite").save())
    sents.unpersist()
  }

  /** The last pass's registry query results are written as parquet, as
    * `graft.Verify` writes them, for the DuckDB oracle comparison. */
  def checks(last: Map[String, Any]): Map[String, Any] = Map(
    "queries" -> BulkProduct.Queries.map { q =>
      val (schema, rows) = last(q).asInstanceOf[(StructType, Seq[Row])]
      val dir = s"$out.queries/$q"
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(dir)
      Map("name" -> q, "dir" -> dir, "oracle" -> SparkEntry.oracleSql(q))
    },
    "lsa" -> last("lsa_summary").asInstanceOf[Seq[Row]].map { r =>
      Map("concept" -> r.getInt(0), "singular_value" -> r.getDouble(1),
        "keywords" -> r.getString(2).split(" ").toSeq)
    },
    "textrank" -> last("textrank_summary").asInstanceOf[Seq[Row]].map { r =>
      Map("id" -> r.getString(0), "rank" -> r.getDouble(1))
    })
}

object BulkProduct {
  /** Registry headline queries over the generated `documents` table:
    * term counts, BPE merges (eager operator jobs over a session-cached
    * word-frequency table) and paired ROUGE-2. */
  val Queries = Seq("t02_term_counts", "t15_bpe_merges", "rg02_rouge2")
}

final class Catalog(spark: SparkSession, input: String, seed: Long) extends Workload {
  private val glob = s"$input/*.txt"
  val ops = Seq(
    Op("evaluate", "pipeline.evaluate_s",
      () => Pipelines.evaluate(spark, glob).collect().toSeq),
    Op("grouped_textrank", "textrank.grouped_rank_s",
      () => GroupedTextRank.rankDocuments(
        ReviewSource.sentences(ReviewSource.reviews(spark, glob)),
        "product_id", "sentence_id", "sentence").collect().toSeq))

  /** Each product's non-blank sentences in (review_id, sent_idx) order,
    * as the grouped evaluation orders them. */
  private lazy val productSentences: Seq[(String, Seq[String])] = {
    import spark.implicits._
    ReviewSource.sentences(ReviewSource.reviews(spark, glob))
      .filter(length(trim(col("sentence"))) > 0)
      .select($"product_id", $"review_id", $"sent_idx", $"sentence")
      .as[(String, String, Int, String)].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (p, rs) => p -> rs.sortBy(r => (r._2, r._3)).map(_._4) }
  }

  override def extraSpans(span: (String, () => Unit) => Unit): Unit = {
    val products = productSentences
    span("lsa.local_concepts_s", () => products.foreach { case (_, ss) =>
      LocalLsa.concepts(ss.filter(_.split(" ", -1).length >= 5)
        .zipWithIndex.map { case (s, i) => (i + 1L, s) })
    })
    span("baseline.summarize_s", () => products.foreach { case (_, ss) =>
      OzsoyLsaSummarizer.summarize(ss, 15, 15.0)
    })
  }

  def checks(last: Map[String, Any]): Map[String, Any] = {
    val rnd = new scala.util.Random(seed)
    val products = productSentences
    val sample = rnd.shuffle(products.map(_._1)).take(2).sorted
    // The per-product route is checked on one product only: in a run it
    // is a cold code path that costs seconds per product.
    val perProduct = Pipelines.evaluate(spark, s"$input/${sample.head}.txt",
      groupedThreshold = Int.MaxValue).collect().toSeq
    def evalRows(rows: Seq[Row]) = rows.map { r =>
      Map("product_id" -> r.getString(0), "metric" -> r.getString(1),
        "precision" -> r.getDouble(2), "recall" -> r.getDouble(3), "f1" -> r.getDouble(4))
    }
    // sentence pairs within one product (shared vocabulary) and across two
    val pairs = (0 until 20).map { i =>
      val (_, a) = products(rnd.nextInt(products.size))
      val (_, b) = if (i % 2 == 0) products(rnd.nextInt(products.size)) else ("", a)
      (a(rnd.nextInt(a.size)), b(rnd.nextInt(b.size)))
    }
    def score(s: Rouge.Score) = Seq(s.precision, s.recall, s.f1)
    Map(
      "products" -> products.map(_._1),
      "evaluate" -> evalRows(last("evaluate").asInstanceOf[Seq[Row]]),
      "sample" -> sample,
      "per_product" -> evalRows(perProduct),
      "rouge" -> pairs.map { case (s, r) =>
        Map("system" -> s, "reference" -> r,
          "rouge1" -> score(Rouge.rougeN(s, r, 1)), "rouge2" -> score(Rouge.rougeN(s, r, 2)),
          "rougeL" -> score(Rouge.rougeL(s, r)))
      },
      "textrank" -> last("grouped_textrank").asInstanceOf[Seq[Row]]
        .filter(r => sample.contains(r.getString(0)))
        .map(r => Map("product_id" -> r.getString(0), "id" -> r.getString(1), "rank" -> r.getDouble(2))))
  }
}

object Harness {
  /** Untimed warm-up passes: a fixed count, so that every run times the
    * same stretch of the JIT's settling curve. */
  val Warmups = 2
  /** The fewest timed passes of a run, however short `--seconds`. */
  val MinPasses = 2

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val input = arg(args, "--input")
    val out = arg(args, "--out")
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val seed = arg(args, "--seed").toLong
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out.spark")
      .config("spark.sql.warehouse.dir", s"$out.warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val counters = new Counters
    sc.addSparkListener(counters)

    val w: Workload = workload match {
      case "bulk_product" => new BulkProduct(spark, input, out)
      case "catalog" => new Catalog(spark, input, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcSeconds: Double = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val spans = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def span(name: String, f: () => Unit): Unit = {
      val t = System.nanoTime()
      try f() finally spans.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e9
    }
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    var last = Map.empty[String, Any]

    final case class Pass(wall: Double, modules: Map[String, Array[Double]], gc: Double,
        cachedMb: Double, cachedEntries: Int)

    def clearSession(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** One pass of the workload's operations; `timed` passes record spans. */
    def runPass(timed: Boolean): Pass = {
      val gc0 = gcSeconds
      counters.take()
      counters.active = true
      val t0 = System.nanoTime()
      val results = w.ops.map { op =>
        attempted += 1
        val t = System.nanoTime()
        val r = try Some(op.run()) catch {
          case e: Throwable =>
            failed += 1
            errors += s"${op.name}: $e"
            None
        }
        System.err.println(f"[perfbench] ${op.name} ${(System.nanoTime() - t) / 1e9}%.3f s")
        if (timed && trace)
          spans.getOrElseUpdate(op.span, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e9
        op.name -> r
      }
      val wall = (System.nanoTime() - t0) / 1e9
      counters.active = false
      SparkInternals.drainListenerBus(sc)
      last = results.collect { case (n, Some(r)) => n -> r }.toMap
      val storage = sc.getRDDStorageInfo
      Pass(wall, counters.take(), gcSeconds - gc0,
        storage.map(s => s.memSize + s.diskSize).sum / 1e6, sc.getPersistentRDDs.size)
    }

    val warm = (1 to Warmups).map { _ =>
      val p = runPass(timed = false)
      clearSession()
      p.wall
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    // Each operation is attempted the same number of times in every run:
    // the warm-up and timed passes are whole rounds of the same operations.
    attempted = 0L
    failed = 0L

    val passes = mutable.ArrayBuffer.empty[Pass]
    val t1 = System.nanoTime()
    var retainedMb = 0.0
    var done = false
    while (!done) {
      val p = runPass(timed = true)
      passes += p
      done = passes.size >= MinPasses && (System.nanoTime() - t1) / 1e9 >= seconds
      if (done) {
        retainedMb = SparkInternals.retainedHeapBytes(sc) / 1e6
      }
      if (trace) w.extraSpans(span)
      clearSession()
    }
    val checkInputs = if (last.size == w.ops.size) w.checks(last) else Map.empty[String, Any]

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def total(p: Pass, field: Int) = p.modules.values.map(_(field)).sum
    val endToEnd = Map(
      "setup_s" -> setupS,
      "pass_s" -> median(passes.map(_.wall).toSeq),
      "shuffle_write_mb" -> median(passes.map(total(_, 3)).toSeq),
      "driver_result_mb" -> median(passes.map(total(_, 5)).toSeq),
      "retained_heap_mb" -> retainedMb)
    val modules = passes.flatMap(_.modules.keys).distinct.sorted
    val perLayer: Map[String, Double] =
      modules.flatMap { m =>
        Counters.Fields.zipWithIndex.map { case (f, i) =>
          s"$m.$f" -> median(passes.map(_.modules.get(m).map(_(i)).getOrElse(0.0)).toSeq)
        }
      }.toMap ++ spans.map { case (k, v) => k -> median(v.toSeq) } ++ Map(
        "session.cached_mb" -> median(passes.map(_.cachedMb).toSeq),
        "session.cached_entries" -> median(passes.map(_.cachedEntries.toDouble).toSeq),
        "session.gc_s" -> median(passes.map(_.gc).toSeq),
        "trace.pass_s" -> median(passes.map(_.wall).toSeq))

    val result = Map(
      "workload" -> workload,
      "cpus" -> cpus,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "warmup_pass_s" -> warm.toSeq,
      "pass_s" -> passes.map(_.wall).toSeq,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "checks" -> checkInputs)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(out), result)
    spark.stop()
  }
}
