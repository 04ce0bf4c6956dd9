package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}
import graft.mr.{KV, MRApps, MRJob}

/** A unit of work in a lap. `build` is the call into the engine's entry
  * point; it returns the result to check afterwards, if any, and the sink
  * action.
  */
final case class Op(name: String, isMr: Boolean,
    build: SparkSession => (Option[DataFrame], () => Unit))

/** A workload's operations, the bytes of input they read, the MR corpus
  * token count (0 without MR), and its output check against an oracle.
  */
final case class Workload(ops: Seq[Op], inputBytes: Long, tokens: Long,
    check: () => Seq[(String, Boolean)])

/** Benchmark process: builds the session, runs the workload's laps and
  * prints one JSON line (the last line of stdout) with the end-to-end
  * figures, the traced per-layer figures and the output fingerprints.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR [--record]
  */
object Main {
  val Cores = 4
  private val SetupRepeats = 4
  /** Laps run after the cold lap, untimed, before measuring: the JIT keeps
    * compiling the engine's planning paths for about this long, and laps
    * inside that window run up to 30% slower than later ones.
    */
  private val WarmupSeconds = 12.0

  /** Short queries (planning, job launch, codegen, the streaming
    * micro-batch path) plus a multi-job dedup entry (eager build jobs,
    * staged parquet writes, the minhash aggregate).
    */
  val QueryMix: Seq[String] = Seq("q2_join", "q14_asof", "ann_ivf", "st_dedup", "dd_minhash_staged")
  val QueryMixTables: Seq[String] = Seq(
    "customer", "orders", "lineitem", "nation", "region", "events", "documents", "embeddings")

  val MrFiles = 16
  val MrWordsPerFile = 100000
  val MrReduce = 10

  private def arg(args: Seq[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Seq(`key`, v) => v }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val args = argv.toSeq
    val workloadName = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val record = args.contains("--record")
    val data = arg(args, "--data").getOrElse(sys.error("--data required"))
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required")))
    val runId = s"$workloadName-s$seed-t${if (trace) 1 else 0}-${System.currentTimeMillis()}"

    require(Seq("mr_wordindex", "query_mix").contains(workloadName),
      s"unknown workload $workloadName")
    val tables = if (workloadName == "query_mix") QueryMixTables else Nil

    // Set-up: session plus every table the workload reads, repeated; the
    // first repeat is timed from process entry.
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupLayers = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    var spark: SparkSession = null
    for (i <- 1 to SetupRepeats) {
      if (spark != null) spark.stop()
      val t0 = if (i == 1) entryNs else System.nanoTime()
      val s0 = System.nanoTime()
      spark = GraftSession("perfbench", s"local[$Cores]", Cores)
      val s1 = System.nanoTime()
      val tracer = if (trace) Some(new Tracer(spark)) else None
      tracer.foreach(_.attach())
      val l0 = System.currentTimeMillis()
      tables.foreach(t => Tables.load(spark, data, t))
      val t1 = System.nanoTime()
      val l1 = System.currentTimeMillis()
      setupS += (t1 - t0) / 1e9
      tracer.foreach { tr =>
        tr.detach()
        val ev = tr.take()
        setupLayers += Seq(
          "tables.session_ms" -> (s1 - s0) / 1e6,
          "tables.load_ms" -> (t1 - s1) / 1e6,
          "tables.load_jobs" -> ev.jobs.count(j => j.startMs >= l0 && j.startMs <= l1).toDouble)
      }
    }

    val genT0 = System.nanoTime()
    val workload =
      if (workloadName == "mr_wordindex") mrWorkload(work, seed)
      else queryWorkload(QueryMix, tables, data)
    val genS = (System.nanoTime() - genT0) / 1e9

    var attempted = 0L
    var threw = 0L
    val errors = mutable.LinkedHashMap.empty[String, String]
    var lastDfs = Map.empty[String, DataFrame]

    def runLap(): LapRec = {
      val l0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val dfs = mutable.LinkedHashMap.empty[String, DataFrame]
      val ops = workload.ops.map { op =>
        val o0 = System.currentTimeMillis()
        val a = System.nanoTime()
        var b = a
        var bMs = o0
        val err = try {
          val (df, sink) = op.build(spark)
          b = System.nanoTime(); bMs = System.currentTimeMillis()
          sink()
          df.foreach(dfs(op.name) = _)
          None
        } catch {
          case NonFatal(e) =>
            if (b == a) { b = System.nanoTime(); bMs = System.currentTimeMillis() }
            Some(message(e))
        }
        val c = System.nanoTime()
        attempted += 1
        err.foreach { m => threw += 1; errors.getOrElseUpdate(op.name, m) }
        OpRec(op.name, op.isMr, o0, bMs, System.currentTimeMillis(), b - a, c - b, c - a, err)
      }
      lastDfs = dfs.toMap
      LapRec(l0, System.currentTimeMillis(), System.nanoTime() - n0, ops)
    }

    // Input generation leaves garbage behind; collect it so the cold lap
    // does not pay a varying share of it.
    System.gc()
    val cold = runLap()
    val warmup = mutable.ArrayBuffer.empty[Double]
    if (!record) {
      val w0 = System.nanoTime()
      while (warmup.isEmpty || (System.nanoTime() - w0) / 1e9 < WarmupSeconds) warmup += runLap().seconds
    }

    val warm = mutable.ArrayBuffer.empty[Double]
    val opSeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val tracedLaps = mutable.ArrayBuffer.empty[Double]
    val layerLaps = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val spans = mutable.ArrayBuffer.empty[Span]
    var spanId = 0L
    val nextId = () => { spanId += 1; spanId }
    if (!record) {
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val w0 = System.nanoTime()
      def untraced(): Unit = {
        val lap = runLap()
        warm += lap.seconds
        lap.ops.foreach(o => opSeconds.getOrElseUpdate(o.name, mutable.ArrayBuffer.empty) += o.totalNs / 1e9)
      }
      def traced(tr: Tracer): Unit = {
        tr.attach()
        val lap = runLap()
        tr.detach()
        val ev = tr.take()
        tracedLaps += lap.seconds
        layerLaps += Layers.metrics(lap, ev, workload.tokens, Cores)
        spans ++= Layers.spans(tracedLaps.size, lap, ev, nextId)
      }
      var pairs = 0
      while (warm.isEmpty || (System.nanoTime() - w0) / 1e9 < seconds) {
        tracer match {
          case None => untraced()
          // Traced laps pair with untraced ones in alternating order, so
          // the overhead is measured against laps in the same JIT state.
          case Some(tr) =>
            if (pairs % 2 == 0) { untraced(); traced(tr) } else { traced(tr); untraced() }
            pairs += 1
        }
      }
    }

    // Output checks, outside every timed lap.
    val fingerprints = lastDfs.toSeq.sortBy(_._1).map { case (name, df) =>
      try { val (n, s, x) = Fingerprint(df); name -> Seq(n, s, x) }
      catch { case NonFatal(e) => name -> message(e) }
    }
    val recordDir = work.resolve("record")
    if (record) lastDfs.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(recordDir.resolve(name).toString)
    }
    val mrChecks = workload.check()
    mrChecks.filterNot(_._2).foreach { case (name, _) =>
      errors.getOrElseUpdate(name, "output differs from the sequential oracle")
    }

    val ctl = Controls.compute(spark)
    val ctl2 = Controls.shuffle(spark)
    val functions = if (trace) FunctionsBench.run(spark) else Nil

    val layers: Seq[(String, Double)] = if (!trace) Nil else {
      val lapLayers = layerLaps.head.map(_._1).map(k => k -> median(layerLaps.map(_.toMap.apply(k)).toSeq))
      val setup = setupLayers.head.map(_._1).map(k => k -> median(setupLayers.map(_.toMap.apply(k)).toSeq))
      setup ++ lapLayers ++
        functions.map { case (n, v) => s"functions.$n.rows_per_s" -> v } :+
        ("trace.overhead_frac" -> (median(tracedLaps.toSeq) / median(warm.toSeq) - 1))
    }

    if (trace) {
      val dir = Files.createDirectories(work.resolve("traces"))
      val lines = spans.map { s =>
        Json(Obj("run" -> runId, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> Obj(s.attrs: _*)))
      } :+ Json(Obj("run" -> runId, "kind" -> "self_ms", "attrs" -> Obj(Layers.selfMs(spans.toSeq): _*)))
      Files.write(dir.resolve(s"$runId.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }

    val warmS = median(warm.toSeq)
    val result = Obj(
      "workload" -> workloadName,
      "seed" -> seed,
      "attempted" -> attempted,
      "threw" -> threw,
      "errors" -> errors.toMap,
      "mr_checks" -> mrChecks.toMap,
      "fingerprints" -> Obj(fingerprints: _*),
      "oracle_sql" ->
        (if (record) SparkEntry.oracleSql.filter { case (n, _) => lastDfs.contains(n) } else Map.empty),
      "end_to_end" -> Obj(
        "setup_s" -> median(setupS.toSeq),
        "cold_lap_s" -> cold.seconds,
        "warm_lap_s" -> warmS,
        "throughput_mb_s" -> workload.inputBytes / 1e6 / warmS,
        "rss_peak_mb" -> rssPeakMb()),
      "per_layer" -> Obj(layers: _*),
      "context" -> Obj(
        "run_id" -> runId,
        "setup_s_all" -> setupS.toSeq,
        "warmup_laps_s" -> warmup.toSeq,
        "warm_laps_s" -> warm.toSeq,
        "warm_lap_samples" -> warm.size,
        "traced_laps_s" -> tracedLaps.toSeq,
        "input_gen_s" -> genS,
        "input_mb" -> workload.inputBytes / 1e6,
        "op_warm_s" -> Obj(opSeconds.toSeq.map { case (n, xs) => n -> median(xs.toSeq) }: _*),
        "ctl_compute_s" -> ctl,
        "ctl_shuffle_s" -> ctl2))
    spark.stop()
    println(Json(result))
  }

  private def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong / 1024.0
  }

  private def queryWorkload(queries: Seq[String], tables: Seq[String], data: String): Workload = {
    val ops = queries.map { q =>
      val entry = SparkEntry.queries(q)
      Op(q, isMr = false, spark => {
        val df = entry(spark, data)
        (Some(df), () => df.write.format("noop").mode("overwrite").save())
      })
    }
    val bytes = tables.map(t => Files.size(Paths.get(data, s"$t.parquet"))).sum
    Workload(ops, bytes, 0L, () => Nil)
  }

  private def mrWorkload(work: Path, seed: Long): Workload = {
    val corpusDir = work.resolve("mr").resolve("corpus")
    val files = Corpus.write(corpusDir, seed, MrFiles, MrWordsPerFile)
    val paths = files.map(_.toString)
    val tokens = files.map(p =>
      MRApps.tokenize(new String(Files.readAllBytes(p), UTF_8)).length.toLong).sum
    val apps: Seq[(String, (String, String) => Seq[KV], (String, Seq[String]) => String)] = Seq(
      ("wc", MRApps.wcMap, MRApps.wcReduce),
      ("indexer", MRApps.indexerMap, MRApps.indexerReduce))
    val ops = apps.map { case (app, mapf, reducef) =>
      val out = work.resolve("mr").resolve("out").resolve(app).toString
      Op(s"mr_$app", isMr = true, spark =>
        (None, () => MRJob.runToText(spark, paths, MrReduce, mapf, reducef, out)))
    }
    val check = () => apps.map { case (app, mapf, reducef) =>
      val want = Corpus.sequential(files, mapf, reducef)
      val got = Corpus.sinkLines(work.resolve("mr").resolve("out").resolve(app))
      s"mr_$app" -> java.util.Arrays.equals(
        want.mkString("\n").getBytes(UTF_8), got.mkString("\n").getBytes(UTF_8))
    }
    Workload(ops, files.map(Files.size(_)).sum, tokens, check)
  }
}
