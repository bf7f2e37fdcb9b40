package org.apache.spark.perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.{CodegenFallbackGate, GraftSession, SparkEntry, Tables}
import graft.functions.ArrayDot
import graft.operators.{BpeOps, TextOps}

/** One benchmark run: a closed loop with one client that runs a fixed
  * query list pass after pass against the engine exactly as
  * [[GraftSession]] configures it.
  *
  *  - set-up, timed from JVM launch: one session, with the tables and the
  *    function layer registered.
  *  - pass 0 is the cold first pass; then measured passes run until the
  *    measured seconds have elapsed, and at least three, so every query
  *    has a median of three warm executions.
  *  - the seed only permutes the query order within each pass; the engine
  *    never sees it.
  *  - a query's latency is building its DataFrame plus collecting its
  *    result. Throughput and CPU per query use each query's median over
  *    the measured passes, so one slow pass (a JIT tier-up, a host
  *    hiccup) does not move them. Outside that timed region every result is checked against
  *    the committed digest; a wrong answer or an exception counts as a
  *    failed execution and is never skipped.
  *  - with `--trace 1` a [[Tracer]] is attached and the run reports the
  *    per-layer metrics and writes its spans.
  *
  * Usage: `--mode run|answers --queries a,b,.. --seed N --seconds S
  * --trace 0|1 --data DIR --answers FILE --out FILE --trace-out FILE
  * --launch-ns EPOCH_NANOS`.
  */
object Main {
  private val MinMeasuredPasses = 3

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try {
        o("mode") match {
          case "run" => run(o)
          case "answers" => answers(o)
        }
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.exit(code)
  }

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val queries = SparkEntry.queries

  /** Build one session and register the tables and the function layer
    * (the engine registers the tpch catalog views itself, on the first
    * verbatim text). */
  private def setUp(data: String): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val spark = GraftSession("perfbench")
    val t1 = System.nanoTime()
    Tables.register(spark, data)
    val t2 = System.nanoTime()
    (spark, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def loadAnswers(path: String): Map[String, Digest.Answer] =
    Json.read(path).get("queries").fields().asScala.map { e =>
      e.getKey -> Digest.Answer(e.getValue.get("rows").asLong, e.getValue.get("sha256").asText)
    }.toMap

  private final case class Exec(name: String, pass: Int, latency: Double, cpu: Double,
      ok: Boolean, error: Option[String])

  /** Sums the executor CPU time of every finished task. */
  private final class TaskCpu extends SparkListener {
    private val ns = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) ns.addAndGet(e.taskMetrics.executorCpuTime)
    def total: Long = ns.get
  }

  private def run(o: Map[String, String]): Unit = {
    val data = o("data")
    val names = o("queries").split(',').toSeq
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val answers = loadAnswers(o("answers"))
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val (spark, createS, registerS) = setUp(data)
    val setupS = (epochNs() - o("launch-ns").toLong) / 1e9

    val tracer = if (trace) {
      CodegenFallbackGate.install()
      val t = new Tracer(spark, cores)
      t.attach()
      Some(t)
    } else None
    val workloadSpan = tracer.map(t => t.open(-1, o.getOrElse("workload", "workload"), "workload", t.nowMs))

    val thread = ManagementFactory.getThreadMXBean
    val taskCpu = new TaskCpu
    spark.sparkContext.addSparkListener(taskCpu)
    def taskCpuNs(): Long = { spark.sparkContext.listenerBus.waitUntilEmpty(); taskCpu.total }
    val execs = mutable.ArrayBuffer[Exec]()
    val records = mutable.ArrayBuffer[QueryRecord]()
    val rng = new scala.util.Random(seed)

    def runOne(name: String, pass: Int, passSpan: Int): Unit = {
      tracer.foreach(_.begin(name, pass, passSpan))
      val task0 = taskCpuNs()
      val cpu0 = thread.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      val built = try Right(queries(name)(spark, data)) catch { case e: Throwable => Left(e) }
      tracer.foreach(_.built())
      val result = built.flatMap(df => try Right(df.collect()) catch { case e: Throwable => Left(e) })
      val t1 = System.nanoTime()
      val cpu1 = thread.getCurrentThreadCpuTime
      // outside the timed region: trace bookkeeping and the answer check
      val df = built.toOption
      tracer.foreach(t => records += t.end(df, result.map(_.length.toLong).getOrElse(0L)))
      val error = result match {
        case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        case Right(rows) =>
          val got = Digest.of(df.get.columns.toSeq, rows)
          answers.get(name) match {
            case Some(want) if want == got => None
            case Some(want) => Some(s"wrong answer: got ${got.rows} rows ${got.sha256}, " +
              s"want ${want.rows} rows ${want.sha256}")
            case None => Some(s"no committed answer (got ${got.rows} rows ${got.sha256})")
          }
      }
      error.foreach(e => System.err.println(s"[perfbench] FAILED $name (pass $pass): $e"))
      val cpu = (cpu1 - cpu0 + taskCpuNs() - task0) / 1e9
      execs += Exec(name, pass, (t1 - t0) / 1e9, cpu, error.isEmpty, error)
    }

    def runPass(pass: Int): Unit = {
      val order = rng.shuffle(names)
      val passSpan = tracer.map(t => t.open(workloadSpan.get, s"pass $pass", "pass", t.nowMs))
      order.foreach(n => runOne(n, pass, passSpan.getOrElse(-1)))
      for (t <- tracer; p <- passSpan) t.close(p, t.nowMs)
    }

    runPass(0)
    val warmStart = System.nanoTime()
    var pass = 1
    while (pass <= MinMeasuredPasses || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      runPass(pass)
      pass += 1
    }
    val warmWall = (System.nanoTime() - warmStart) / 1e9
    for (t <- tracer; w <- workloadSpan) t.close(w, t.nowMs)

    val first = execs.filter(_.pass == 0)
    val warm = execs.filter(_.pass > 0)
    val perQuery = warm.groupBy(_.name).values.toSeq
    def medians(f: Exec => Double): Seq[Double] = perQuery.map(es => median(es.map(f).toSeq))
    val e2e = ListMap(
      "setup_s" -> setupS,
      "first_pass_s" -> first.map(_.latency).sum,
      "queries_per_s" -> perQuery.size / medians(_.latency).sum,
      "latency_p50_s" -> median(medians(_.latency)),
      "cpu_s_per_query" -> medians(_.cpu).sum / perQuery.size)

    val metrics: ListMap[String, Double] = tracer match {
      case None => e2e
      case Some(t) =>
        t.detach()
        val layers = t.layerMetrics(records.filter(_.pass == 0).toSeq,
          records.filter(_.pass > 0).toSeq)
        Json.write(o("trace-out"), Json.obj(
          "spans" -> t.spanTable, "queries" -> records.map(_.toMap)))
        ListMap("session.create_s" -> createS, "session.register_s" -> registerS) ++
          layers ++
          ListMap("codegen.fallbacks" -> CodegenFallbackGate.fallbacks.toDouble,
            "jvm.peak_rss_mb" -> peakRssMb()) ++
          priceFunctions(spark, data) ++
          e2e.map { case (k, v) => s"traced.$k" -> v }
    }
    val failed = execs.count(!_.ok)
    Json.write(o("out"), Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> execs.size,
      "failed" -> failed,
      "metrics" -> metrics,
      "detail" -> Json.obj(
        "measured_passes" -> (pass - 1),
        "measured_samples" -> warm.size,
        "peak_rss_mb" -> peakRssMb(),
        "measured_wall_s" -> warmWall,
        "setup" -> Json.obj("total_s" -> setupS, "create_s" -> createS,
          "register_s" -> registerS),
        "failures" -> execs.filter(!_.ok).map(e =>
          Json.obj("query" -> e.name, "pass" -> e.pass, "error" -> e.error.getOrElse(""))),
        "executions" -> execs.map(e => Json.obj(
          "query" -> e.name, "pass" -> e.pass, "latency_s" -> e.latency, "cpu_s" -> e.cpu)))))
    spark.stop()
  }

  /** The function layer priced on its own: single-expression queries over
    * the fixture columns, median of three warm executions each. */
  private def priceFunctions(spark: SparkSession, data: String): ListMap[String, Double] = {
    def time(df: DataFrame): Double = {
      df.collect()
      median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); df.collect(); (System.nanoTime() - t0) / 1e9
      })
    }
    val ranks = BpeOps.trainedMerges(spark, data)
      .map { case (rank, l, r, _) => (l, r) -> rank }.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    val bpeTokens = udf((t: String) =>
      BpeOps.words(if (t == null) "" else t).map(w => BpeOps.encode(w, bc.value).length).sum)
    val docs = spark.table("documents")
    val emb = ColumnBridge.expression(col("embedding"))
    ListMap(
      "functions.array_dot_s" -> time(spark.table("embeddings").select(sum(
        ColumnBridge.column(ArrayDot(emb, emb))))),
      "functions.bpe_encode_s" -> time(docs.select(sum(bpeTokens(col("text"))))),
      "functions.minhash_s" ->
        time(TextOps.bandedDocKeys(docs).agg(count(lit(1)), max(col("band_key")))),
      "functions.approx_set_s" ->
        time(spark.sql("SELECT cardinality(approx_set(l_partkey)) FROM lineitem")),
      "functions.tdigest_agg_s" -> time(spark.sql(
        "SELECT value_at_quantile(tdigest_agg(l_extendedprice), 0.5) FROM lineitem")))
  }

  /** Digest every listed query twice in one session, with its oracle SQL
    * when it has one; `make_answers.py` turns this into answers.json. */
  private def answers(o: Map[String, String]): Unit = {
    val data = o("data")
    val (spark, _, _) = setUp(data)
    val oracle = SparkEntry.oracleSql
    val out = o("queries").split(',').toSeq.map { name =>
      val ds = (1 to 2).map { _ =>
        val df = queries(name)(spark, data)
        Digest.of(df.columns.toSeq, df.collect())
      }
      name -> Json.obj("rows" -> ds.head.rows, "sha256" -> ds.head.sha256,
        "stable" -> (ds.distinct.size == 1), "oracle" -> oracle.get(name))
    }
    Json.write(o("out"), ListMap(out: _*))
    spark.stop()
  }
}
