package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Graft, SparkEntry, Tables}

/** A wrong answer: counted as failed and never timed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What one run of a unit returns: its sub-measurements, and the check of
  * its output, which runs after the clock has stopped. */
final case class Done(sub: Map[String, Seq[Double]], check: () => Unit = () => ())

/** One unit of a workload's timed loop: a registered query, or one pass
  * of `rdf_ingest`. */
final case class Work(name: String, run: () => Done)

/** One execution of a unit. */
final case class Exec(name: String, ms: Double, traced: Boolean,
    ops: Map[String, Double], sub: Map[String, Seq[Double]])

/** The benchmark's JVM side. run.py starts it with
  *
  *   --mode timed|full|record --workload W --seed N --seconds S --trace 0|1
  *   --cpus C --data DIR --run-dir DIR --expected FILE [--queries Q1,Q2,...]
  *   [--corpus DIR] [--probe-corpus DIR] [--out FILE]
  *
  * and reads the result object it writes to <run-dir>/result.json. */
object Main {
  /** Query families, one per registered query; `--mode full` runs one
    * family's queries, or all of them for `queries`. */
  def familyOf(query: String): Option[String] =
    if (query.startsWith("rdf_") || query.startsWith("graphx_")) Some("sparql")
    else if (Seq("dedup_", "text_", "sim_", "mm_").exists(query.startsWith)) Some("curation")
    else if (Seq("doc_", "ev_").exists(query.startsWith) || query.matches("q\\d*_.*"))
      Some("pipelines")
    else None

  /** A timed `rdf_ingest` run does `--seconds` over this length of a
    * pass; a timed `queries` run does the queries run.py samples. */
  val SecondsPerPass = 25.0

  /** Streaming query run in every traced run so the streaming listener
    * measures something on every workload. */
  val StreamProbe = "ev_stream_window"

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = opt("mode")
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val data = opt("data")
    val runDir = opt("run-dir")
    val result = mutable.LinkedHashMap.empty[String, String]

    // set-up: session, function registration, table registration and a
    // materializing scan of every base table; run.py times it from the
    // JVM's launch to ready_epoch_ms
    val spark: SparkSession = Graft.session(s"local[$cpus]", cpus, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    Graft.registerTables(spark, data)
    val scan0 = System.nanoTime()
    Graft.TableNames.foreach { t =>
      val df = if (t == "events") Tables.events(spark, data) else Tables.table(spark, data, t)
      df.write.format("noop").mode("overwrite").save()
    }
    val scanMs = (System.nanoTime() - scan0) / 1e6
    result("ready_epoch_ms") = System.currentTimeMillis().toString

    val expected = if (mode == "record") Map.empty[String, Expected] else Check.load(opt("expected"))
    val trace = new Trace(spark)
    if (traced) trace.install()
    val failures = mutable.ArrayBuffer.empty[String]
    val execs = mutable.ArrayBuffer.empty[Exec]
    val workloadSpan = trace.newSpanId()
    val workStart = System.currentTimeMillis()

    /** Runs a unit; false if it threw or its check failed. */
    def execute(w: Work, tracedExec: Boolean, timed: Boolean = true): Boolean = {
      val spanId = trace.newSpanId()
      val stats = if (tracedExec) trace.begin(spanId) else null
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ran = try Right(w.run()) catch { case NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val w1 = System.currentTimeMillis()
      BusDrain(spark.sparkContext)
      if (tracedExec) trace.end()
      trace.addSpan(Span(spanId, workloadSpan, "unit", w.name, w0, w1))
      val outcome = ran.flatMap { d =>
        try { d.check(); Right(d.sub) } catch { case NonFatal(e) => Left(e) }
      }
      spark.catalog.clearCache()
      outcome match {
        case Right(sub) =>
          val ops = if (stats == null) Map.empty[String, Double] else stats.metrics(ms, w0, w1)
          if (timed) execs += Exec(w.name, ms, tracedExec, ops, sub)
          true
        case Left(e) =>
          failures += s"${w.name}: $e"
          System.err.println(s"perfbench: FAILED ${w.name}: $e")
          false
      }
    }

    def query(name: String): Work = Work(name, () => {
      val df: DataFrame = SparkEntry.queries(name)(spark, data)
      val rows = df.collect()
      Done(Map("result_rows" -> Seq(rows.length.toDouble)), () => expected.get(name) match {
        case Some(exp) => Check.verify(exp, rows, df.schema).foreach(m => throw new CheckFailed(m))
        case None => throw new CheckFailed("no expected output recorded")
      })
    })

    val corpus = opt.get("corpus").map(Corpus.load)
    val recorded = mutable.ArrayBuffer.empty[String]
    def record(name: String): Work = Work(name, () => {
      val df = SparkEntry.queries(name)(spark, data)
      val rows = df.collect()
      // no checksum for a query without an oracle: rows and schema only
      val sum = if (SparkEntry.oracleSql.contains(name)) Json.str(Check.checksum(rows)) else "null"
      recorded += s"${Json.str(name)}:" + Json.obj(Seq("rows" -> rows.length.toString,
        "schema" -> Json.str(Check.schema(df.schema)), "checksum" -> sum))
      Done(Map.empty)
    })

    val units: Seq[Work] = mode match {
      case "record" => SparkEntry.queries.keys.toSeq.sorted.map(record)
      case "full" =>
        SparkEntry.queries.keys.toSeq.sorted
          .filter(n => workload == "queries" || familyOf(n).contains(workload)).map(query)
      case "timed" if workload == "rdf_ingest" =>
        val ing = new RdfIngest(spark, corpus.get, s"$runDir/work")
        val passes = math.max(1, math.round(seconds / SecondsPerPass).toInt)
        (1 to passes).map(p => Work(s"pass$p", () => ing.pass(p)))
      case "timed" => opt("queries").split(",").toSeq.map(query)
    }

    if (mode == "record") {
      units.foreach(execute(_, tracedExec = false))
      Json.write(opt("out"), recorded.mkString("{\n", ",\n", "\n}\n"))
    } else if (mode == "full") {
      // every unit in name order, checked twice: a warm-up, then timed
      units.foreach { w => if (execute(w, tracedExec = false, timed = false)) execute(w, tracedExec = false) }
    } else {
      // timed: a warm-up pass over every unit (checked, not timed), then a
      // timed pass over the units that passed it, both in an order the
      // seed shuffles; a failed unit counts once in `failed`. A traced run
      // times each unit twice, once traced and once not, alternating which
      // goes first. Untraced, rdf_ingest warms up with a pass over the
      // probe corpus, so that only its timed pass runs at full size.
      val order = new scala.util.Random(seed).shuffle(units)
      val warm = if (workload == "rdf_ingest" && !traced) {
        val ing = new RdfIngest(spark, Corpus.load(opt("probe-corpus")), s"$runDir/warm-up")
        execute(Work("warm-up", () => ing.pass(0)), tracedExec = false, timed = false)
        order
      } else order.filter(execute(_, tracedExec = false, timed = false))
      warm.zipWithIndex.foreach { case (w, i) =>
        if (traced) { execute(w, i % 2 == 0); execute(w, i % 2 != 0) }
        else execute(w, tracedExec = false)
      }
    }
    trace.addSpan(Span(workloadSpan, 0, "workload", workload, workStart, System.currentTimeMillis()))

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val plain = execs.filterNot(_.traced).toSeq
    val byUnit = plain.groupBy(_.name).view.mapValues(_.map(_.ms).min).toMap
    def sub(es: Seq[Exec], k: String): Seq[Double] = es.flatMap(_.sub.getOrElse(k, Nil))
    if (workload == "rdf_ingest" && mode == "timed") {
      val phases = Seq("ingest_ms", "persist_ms", "restore_ms", "lookup_ms", "mutation_ms", "repersist_ms")
      val passMs = plain.map(e => phases.map(p => e.sub.getOrElse(p, Nil).sum).sum)
      metrics("wall_s") = median(passMs) / 1000
      // its queries are the SPARQL lookups, alone or after a mutation
      metrics("query_p50_s") = median(sub(plain, "lookup_ms") ++ sub(plain, "mutation_ms")) / 1000
    } else if (byUnit.nonEmpty) {
      metrics("wall_s") = byUnit.values.sum / 1000
      metrics("query_p50_s") = median(byUnit.values.toSeq) / 1000
    }
    metrics("peak_rss_mb") = peakRssMb()

    if (traced && mode == "timed") {
      val tr = execs.filter(_.traced).toSeq
      // operators: per unit, the mean over its traced executions; summed
      // over the units, i.e. per pass
      val perUnit = tr.groupBy(_.name).values.map { es =>
        es.head.ops.keys.map(k => k -> es.map(_.ops(k)).sum / es.size).toMap
      }
      def opSum(k: String): Double = perUnit.map(_.getOrElse(k, 0.0)).sum
      // the streaming probe, traced, so stream_* are measured on every workload
      execute(query(StreamProbe), tracedExec = true)
      val probe = execs.last
      Seq("actions", "jobs", "stages", "tasks", "analysis_ms", "optimization_ms", "planning_ms",
        "driver_gap_ms", "exchanges", "executor_run_ms", "executor_cpu_ms", "gc_ms", "scan_bytes",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes").foreach { k =>
        metrics(s"operators.$k") = opSum(k)
      }
      metrics("operators.task_skew") = opSum("task_skew_max_ms") / math.max(1e-9, opSum("task_skew_mean_ms"))
      metrics("operators.result_rows") = tr.groupBy(_.name).values.map(es => sub(es, "result_rows").sum / es.size).sum
      Seq("stream_batches", "stream_state_rows", "stream_state_bytes", "stream_commit_ms").foreach { k =>
        metrics(s"operators.$k") = opSum(k) + (if (probe.name == StreamProbe) probe.ops.getOrElse(k, 0.0) else 0.0)
      }
      val pairedPlain = plain.filter(e => tr.exists(_.name == e.name))
      metrics("trace.overhead_frac") = tr.map(_.ms).sum / pairedPlain.map(_.ms).sum - 1

      // store, query and rdf layers: the workload's own traced passes on
      // rdf_ingest, a pass over the small probe corpus elsewhere
      val storeCorpus = corpus.getOrElse(Corpus.load(opt("probe-corpus")))
      val storeRuns: Seq[Exec] = if (workload == "rdf_ingest") tr else {
        val ing = new RdfIngest(spark, storeCorpus, s"$runDir/probe")
        execute(Work("store-probe", () => ing.pass(0)), tracedExec = false)
        execs.lastOption.filter(_.name == "store-probe").toSeq
      }
      Seq("ingest_ms", "persist_ms", "restore_ms", "repersist_ms", "insert_ms", "remove_ms").foreach { k =>
        metrics(s"store.$k") = storeRuns.map(e => e.sub.getOrElse(k, Nil).sum).sum / math.max(1, storeRuns.size)
      }
      metrics("store.ingest_triples_per_s") = storeCorpus.triples / (median(sub(storeRuns, "ingest_ms")) / 1000)
      metrics("store.mutation_p50_ms") = median(sub(storeRuns, "mutation_ms"))
      metrics("store.lookup_p50_ms") = median(sub(storeRuns, "lookup_ms"))
      metrics("store.bytes_per_input_byte") = median(sub(storeRuns, "store_bytes_per_input_byte"))
      metrics("store.plan_nodes") = median(sub(storeRuns, "plan_nodes"))
      metrics("store.persisted_bytes") = median(sub(storeRuns, "persisted_bytes"))
      metrics("query.parse_us") = storeRuns.map(e => e.sub.getOrElse("parse_us", Nil).sum).sum / math.max(1, storeRuns.size)
      metrics("query.compile_ms") = storeRuns.map(e => e.sub.getOrElse("compile_ms", Nil).sum).sum / math.max(1, storeRuns.size)
      new RdfIngest(spark, storeCorpus, s"$runDir/probe").parserThroughput()
        .foreach { case (k, v) => metrics(s"rdf.$k") = v }
      FunctionCost.run(spark, data, copies = 10, reps = 3)
        .toSeq.sortBy(_._1).foreach { case (k, v) => metrics(s"functions.$k") = v }
      metrics("tables.scan_ms") = scanMs
      Json.write(s"$runDir/trace.json", Trace.toJson(trace.spans.toSeq))
    }

    result("attempted") = (execs.size + failures.size).toString
    result("failed") = failures.size.toString
    result("failures") = Json.arr(failures.map(Json.str).toSeq)
    result("units") = units.size.toString
    result("sub_ms") = Json.obj(plain.flatMap(_.sub.keys).distinct.sorted.map { k =>
      k -> Json.num(median(plain.map(_.sub.getOrElse(k, Nil).sum)))
    })
    result("executions") = Json.obj(byUnit.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    result("metrics") = Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) })
    result("heap_max_mb") = (Runtime.getRuntime.maxMemory / (1 << 20)).toString
    Json.write(s"$runDir/result.json", Json.obj(result.toSeq))
    spark.stop()
  }
}
