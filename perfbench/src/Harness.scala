package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.engine.Sessions
import graft.plans.ProbeIndexCache

/** JVM side of the benchmark: one client, one query at a time, every output
  * column consumed by Spark's `noop` sink.
  *
  * Arguments are `key=value`: `data` (generated table directory), `out`
  * (result directory), `queries` (comma-separated names from
  * `SparkEntry.queries`), `seconds` (measuring time, at least `MinPasses`
  * passes) and `trace` (0 or 1). Writes `out/result.json`, `out/results/<query>`
  * (parquet, for the oracle gate) and, when traced, `out/spans.jsonl`.
  */
object Harness {
  val MinPasses = 4

  final case class QueryRun(name: String, startMs: Long, endMs: Long,
      seconds: Double, buildSeconds: Double, pinned: Int, error: Option[String])

  final case class Pass(runs: Seq[QueryRun], shuffleWriteBytes: Long,
      peakExecMemBytes: Long) {
    def batchSeconds: Double = runs.map(_.seconds).sum
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dataDir = opt("data")
    val out = Paths.get(opt("out"))
    val names = opt("queries").split(',').toSeq
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = Sessions.cpus.toInt
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val oracles = SparkEntry.oracleSql
    Files.createDirectories(out)

    // set-up: the session, then two untimed warm-up passes (codegen, JIT,
    // parquet footers). The first writes each result for the oracle gate,
    // so the gate needs no pass of its own and, like the oracle, sees every
    // query's first run on empty stores; the second consumes through `noop`
    // like the timed passes, which then start past most of the JIT's climb.
    // Set-up runs once per JVM: its caches are JVM-wide, so a second set-up
    // in the same JVM would not repeat the cost measured.
    val t0 = System.nanoTime()
    val spark = Sessions.build("perfbench")
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    val warmFailures = names.flatMap { n =>
      val sink: DataFrame => Unit =
        if (oracles.contains(n)) _.write.mode("overwrite").parquet(out.resolve("results").resolve(n).toString)
        else noop
      runQuery(spark, dataDir, n, all(n), None, sink).error.map(n -> _)
    }.toMap
    clearScratch(spark)
    // the exec classes each query's executed plans hold, recorded on the
    // warm-up pass that consumes like the timed ones
    val execs = names.map { n =>
      n -> executedNodes(spark)(runQuery(spark, dataDir, n, all(n), None, noop))
        .map(_.getClass.getSimpleName).distinct.sorted
    }.toMap
    val setupSeconds = (System.nanoTime() - t0) / 1e9
    val counters = new E2eCounters
    spark.sparkContext.addSparkListener(counters)

    def pass(tracer: Option[Tracer]): Pass = {
      // each repetition starts with empty persisted-index and append
      // stores, and one GC; both outside every timer
      clearScratch(spark)
      System.gc()
      Trace.drain(spark)
      counters.reset()
      val runs = names.map(n => runQuery(spark, dataDir, n, all(n), tracer, noop))
      Trace.drain(spark)
      Pass(runs, counters.shuffleWriteBytes.sum, counters.peakExecMem.get)
    }

    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.size < MinPasses || System.nanoTime() < deadline) passes += pass(None)

    val traceJson = if (!traced) Map.empty[String, Any] else {
      val tracer = new Tracer
      // traced passes alternate with untraced ones, so that the overhead
      // estimate is not biased by JIT still improving over the run
      val untraced = mutable.ArrayBuffer.empty[Pass]
      val layerSums = (1 to 2).map { _ =>
        untraced += pass(None)
        tracer.clear()
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        val b0 = ProbeIndexCache.builds.get()
        val p = pass(Some(tracer))
        spark.listenerManager.unregister(tracer)
        spark.sparkContext.removeSparkListener(tracer)
        (p, Layers.summarize(tracer, cores, p.runs) + ("plans.probe_builds" -> (ProbeIndexCache.builds.get() - b0).toDouble))
      }
      writeSpans(out.resolve("spans.jsonl"), tracer.spans.asScala.toSeq)
      // counts that must repeat exactly on the same inputs
      val exact = Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks",
        "shuffle.write_mb", "spill.memory_mb", "spill.disk_mb", "spill.tasks_spilled",
        "operators.eager_jobs", "plans.probe_builds")
      val Seq(a, b) = layerSums.map(_._2)
      val nonRepeating = exact.filter(k => a.getOrElse(k, 0.0) != b.getOrElse(k, 0.0))
      val layers = a.keySet.map { k =>
        k -> (if (exact.contains(k)) a(k) else (a(k) + b.getOrElse(k, a(k))) / 2)
      }.toMap
      Map(
        "layers" -> layers,
        "nonrepeating" -> nonRepeating,
        "traced_batch_s" -> layerSums.map(_._1.batchSeconds),
        "untraced_batch_s" -> untraced.map(_.batchSeconds).toSeq,
        "trace_pass_failures" -> (untraced.toSeq ++ layerSums.map(_._1)).flatMap(failures).toMap,
        "session_build_s" -> sessionSeconds,
        "selftest" -> consumerSelfTest(spark, dataDir, all),
        "functions" -> functionCosts(spark, dataDir, cores))
    }

    // a query without an oracle runs twice more, outside every timer, and
    // must agree with itself on row count and digest
    val digests = names.filterNot(oracles.contains).map { n =>
      clearScratch(spark)
      val r = try {
        val d1 = digest(all(n)(spark, dataDir))
        Sessions.releasePinned(spark)
        val d2 = digest(all(n)(spark, dataDir))
        if (d1 == d2 && d1._1 > 0) None else Some(s"digest mismatch: $d1 vs $d2")
      } catch { case e: Throwable => Some(s"error: ${errorText(e)}") }
      Sessions.releasePinned(spark)
      n -> r
    }.toMap
    val verify = names.map { n =>
      n -> warmFailures.get(n).map("error: " + _)
        .orElse(digests.getOrElse(n, None))
        .getOrElse(if (oracles.contains(n)) "written" else "digest_ok")
    }.toMap

    val result = Map(
      "cores" -> cores,
      "setup_s" -> setupSeconds,
      "warm_failures" -> warmFailures,
      "passes" -> passes.map(passJson).toSeq,
      "execs" -> execs,
      "verify" -> verify,
      "oracle_sql" -> names.flatMap(n => oracles.get(n).map(n -> _)).toMap) ++ traceJson
    Files.writeString(out.resolve("result.json"), json.writeValueAsString(result))
    clearScratch(spark)
    spark.stop()
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** One query: the call into its query function (build) until the sink
    * returns (consume). Pins are released after the timer stops. */
  def runQuery(spark: SparkSession, dataDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, tracer: Option[Tracer],
      sink: DataFrame => Unit): QueryRun = {
    val sc = spark.sparkContext
    tracer.foreach { t =>
      t.current = name
      t.phaseSpan = Map("query" -> t.nextId(), "build" -> t.nextId(), "consume" -> t.nextId())
      sc.setLocalProperty(Trace.QueryProp, name)
      sc.setLocalProperty(Trace.PhaseProp, "build")
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var df: DataFrame = null
    val error = try {
      df = fn(spark, dataDir)
      t1 = System.nanoTime()
      tracer.foreach(_ => sc.setLocalProperty(Trace.PhaseProp, "consume"))
      sink(df)
      None
    } catch { case e: Throwable => Some(errorText(e)) }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    val endMs = startMs + (t2 - t0) / 1000000
    val pinned = tracer.map { t =>
      sc.setLocalProperty(Trace.QueryProp, null)
      sc.setLocalProperty(Trace.PhaseProp, null)
      Trace.drain(spark)
      if (df != null) t.addDataFrameAnalysis(name, df.queryExecution)
      val ids = t.phaseSpan
      val us = (ns: Long) => startMs * 1000 + (ns - t0) / 1000
      t.spans.add(Span(ids("query"), 0, name, "query", us(t0), us(t2),
        error.map(e => Map[String, Any]("error" -> e)).getOrElse(Map.empty)))
      t.spans.add(Span(ids("build"), ids("query"), name, "operators.build", us(t0), us(t1)))
      t.spans.add(Span(ids("consume"), ids("query"), name, "consume", us(t1), us(t2)))
      t.current = ""
      sc.getPersistentRDDs.size
    }.getOrElse(0)
    Sessions.releasePinned(spark)
    System.err.println(f"[perfbench] $name%s ${(t2 - t0) / 1e9}%.3f s${error.map(" " + _).getOrElse("")}%s")
    QueryRun(name, startMs, endMs, (t2 - t0) / 1e9, (t1 - t0) / 1e9, pinned, error)
  }

  private def failures(p: Pass): Seq[(String, String)] = p.runs.flatMap(r => r.error.map(r.name -> _))

  private def passJson(p: Pass): Map[String, Any] = Map(
    "batch_s" -> p.batchSeconds,
    "query_s" -> p.runs.map(r => r.name -> r.seconds).toMap,
    "failures" -> failures(p).toMap,
    "shuffle_write_bytes" -> p.shuffleWriteBytes,
    "peak_exec_mem_bytes" -> p.peakExecMemBytes)

  /** `<java.io.tmpdir>/graft-scratch-<appId>`: the engine's per-application
    * root for persisted indexes and append stores. Deleted from outside so
    * each repetition starts empty; the engine recreates it on demand. */
  def clearScratch(spark: SparkSession): Unit = {
    val root = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-scratch-${spark.sparkContext.applicationId}")
    deleteRec(root)
  }

  private def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val st = Files.list(p)
      val children = try st.iterator().asScala.toList finally st.close()
      children.foreach(deleteRec)
    }
    Files.deleteIfExists(p)
  }

  /** (rows, order-independent sum of row hashes). */
  private def digest(df: DataFrame): (Long, String) = {
    val r = df.selectExpr("count(1)", "cast(sum(cast(xxhash64(*) as decimal(38,0))) as string)").head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** Wall nanoseconds per row of each registered SQL function, called
    * through `selectExpr` over a cached generated column (the documents,
    * repeated to about 50 k rows) into `noop`, less a trivial read of the
    * same column; medians of three runs. */
  private def functionCosts(spark: SparkSession, dataDir: String, cores: Int): Map[String, Double] = {
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    val reps = math.max(1L, 50000L / docs.count())
    val input = docs.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
      .selectExpr("concat(text, ' ', rep) as t", "split(concat(text, ' ', rep), ' ') as w",
        "transform(sequence(1, 64), i -> xxhash64(doc_id, rep, i) % 256) as a")
      .repartition(cores).cache()
    val rows = input.count().toDouble
    def median3(e: String): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        noop(input.selectExpr(e))
        (System.nanoTime() - t0).toDouble
      }.sorted
      ts(1)
    }
    // each call against a trivial read of the same input column
    val calls = Seq(
      ("dot_long", "dot_long(a, a)", "size(a)"),
      ("simhash64", "simhash64(w)", "size(w)"),
      ("minhash_sig", "minhash_sig(w, 1)", "size(w)"),
      ("chargram_minhash", "chargram_minhash(t, 5, 1)", "length(t)"),
      ("hamming_str", "hamming_str(t, reverse(t))", "length(reverse(t))"),
      ("md5_hi60", "md5_hi60(w)", "size(w)"),
      ("char_class_counts", "char_class_counts(t)", "length(t)"))
    val res = calls.map { case (fn, e, base) =>
      s"functions.$fn.ns_per_row" -> (median3(e) - median3(base)) / rows
    }.toMap
    input.unpersist(blocking = true)
    res
  }

  /** Shows that `noop` keeps what `count()` prunes: the executed plan of
    * q03 under each consumer, checked for its Sort, and q20's for its
    * Window. */
  private def consumerSelfTest(spark: SparkSession, dataDir: String,
      all: Map[String, (SparkSession, String) => DataFrame]): Map[String, Any] = {
    def ops(consume: DataFrame => Unit, q: String): Set[String] = {
      val nodes = executedNodes(spark)(consume(all(q)(spark, dataDir)))
      Sessions.releasePinned(spark)
      nodes.map(_.nodeName).toSet
    }
    val checks = Seq("q03_sort_global" -> "Sort", "q20_window_rank" -> "Window")
    checks.filter { case (q, _) => all.contains(q) }.map { case (q, op) =>
      val viaNoop = ops(noop, q)
      val viaCount = ops(_.count(), q)
      q -> Map("operator" -> op, "noop_has" -> viaNoop.contains(op), "count_has" -> viaCount.contains(op))
    }.toMap
  }

  /** Every node of the executed plans of the actions `body` runs. */
  private def executedNodes(spark: SparkSession)(body: => Any): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Trace.drain(spark)
    spark.listenerManager.register(l)
    try body finally {
      Trace.drain(spark)
      spark.listenerManager.unregister(l)
    }
    plans.asScala.toSeq.flatMap(qe => Trace.planNodes(qe.executedPlan))
  }

  private def writeSpans(p: Path, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(s => (s.startUs, s.id)).map { s =>
      json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "query" -> s.query, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs) ++ s.attrs)
    }
    Files.write(p, lines.asJava)
  }
}
