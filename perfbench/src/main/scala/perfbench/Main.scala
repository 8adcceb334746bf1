package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, RainStorm, SparkEntry, Tables}
import graft.sources.Hyfs

/** The benchmark's JVM side: runs one workload against the program's
  * public entry points, checks every result, and writes the measured
  * metrics as one JSON object. `perfbench/run.py` builds the program,
  * isolates each run and turns this object into the benchmark's output.
  *
  * {{{
  * perfbench.Main --workload rainstorm_hyfs|gates_batch
  *   --seed N --seconds S --trace 0|1 --data DIR --work DIR --out FILE
  *   [--record DIR]
  * }}}
  *
  * `--record DIR` (gates_batch only) also writes each
  * query result as parquet under DIR/<query>, with the matching oracle
  * SQL in DIR/oracle_sql.json, so the fingerprints in expected.json can
  * be validated against DuckDB.
  */
object Main {
  val Gates: Seq[(String, Seq[String])] = Seq(
    "stream_ann_ivf_persisted_refresh" -> Seq("embeddings"),
    "stream_dedup_events_wm" -> Seq("events"),
    "stream_curation_pipeline" -> Seq("documents"),
    "stream_dedup_chunks" -> Seq("documents"),
    "stream_running_count" -> Seq("events"))
  val BatchQueries: Seq[(String, Seq[String])] = Seq(
    "dedup_minhash_clusters" -> Seq("documents"),
    "dedup_prefix_jaccard" -> Seq("documents"),
    "ann_ivfpq_topk" -> Seq("embeddings"),
    "q1_agg" -> Seq("lineitem"),
    "q_join_shuffle" -> Seq("lineitem", "orders"))

  /** Set-ups per run: at least SetupMinReps, and more until those after
    * the first (cold) one took SetupMinSeconds, so a ~0.1 s set-up is
    * repeated ~20 times; setup_s is their median. */
  val SetupMinReps = 3
  val SetupMinSeconds = 2.0
  /** Lines per App-2 round (one HyDFS block). */
  val BlockLines = 25000
  /** App-2 rounds before timing starts (the first query's planning and JIT). */
  val WarmRounds = 2
  /** Timed rounds at least (more if --seconds allows). */
  val MinRounds = 10
  /** Blocks App-1 reads: a fixed prefix of the round blocks (at most
    * WarmRounds + MinRounds), so its input is the same in every run. */
  val App1Blocks = 8
  val App1Reps = 5
  val Pattern = "Punched Telespar"

  final class Checks {
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    def apply(what: String)(ok: => Boolean): Unit = {
      attempted += 1
      val problem =
        try { if (ok) None else Some(what) }
        catch { case scala.util.control.NonFatal(e) => Some(s"$what: $e") }
      problem.foreach { p => failed += 1; problems += p }
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = new Trace(a("trace") == "1")
    val data = new java.io.File(a("data")).getAbsolutePath
    val work = new java.io.File(a("work")).getAbsolutePath
    val record = a.get("record")
    val checks = new Checks
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]

    val inputs = workload match {
      case "rainstorm_hyfs" => Seq.empty[String]
      case "gates_batch"    => "region" +: (Gates ++ BatchQueries).flatMap(_._2).distinct
      case w                => sys.error(s"unknown workload $w")
    }
    // set-up: start the session and touch the workload's inputs once;
    // repeated in this JVM, and the first one also timed from JVM start
    var rowsOf = Map.empty[String, Long]
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    while (setupTimes.size < SetupMinReps || setupTimes.drop(1).sum < SetupMinSeconds) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local("perfbench")
      if (workload == "rainstorm_hyfs") Hyfs.create(spark, s"$work/signs-${setupTimes.size}", "")
      else rowsOf = inputs.map(t => t -> Tables.load(spark, data, t).count()).toMap
      setupTimes += (System.nanoTime() - t0) / 1e9
      if (setupTimes.size == 1) layer("setup.cold_s") = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    }
    metrics("setup_s") = Stats.median(setupTimes.toSeq)
    trace.attach(spark)
    val gc0 = gcSeconds()
    trace.measuring(true)
    val t0 = System.nanoTime()

    workload match {
      case "rainstorm_hyfs" =>
        rainstorm(spark, s"$work/signs-${setupTimes.size - 1}", s"$work/app2-ckpt", seed, seconds,
          trace, checks, metrics, layer)
      case "gates_batch" =>
        // one pass only: the refresh gate persists its store under
        // java.io.tmpdir, so a second pass would start from the first's
        val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
        val before = Option(tmp.list()).map(_.length).getOrElse(0)
        pass(spark, Gates ++ BatchQueries, data, rowsOf, trace, checks, metrics, record)
        layer("gates.tmp_entries_created") =
          Option(tmp.list()).map(_.length).getOrElse(0) - before
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    trace.drain()
    trace.measuring(false)

    if (trace.enabled) {
      layers(trace, layer, wallS)
      layer("jvm.gc_s") = gcSeconds() - gc0
      layer("jvm.rss_peak_mb") = rssPeakMb()
      trace.writeSpans(s"$work/spans.jsonl")
    }
    spark.stop()

    val out = new java.io.PrintWriter(a("out"), "UTF-8")
    try out.println(Json.obj(Seq(
      "attempted" -> checks.attempted.toString,
      "failed" -> checks.failed.toString,
      "problems" -> checks.problems.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) }))))
    finally out.close()
  }

  /** The paper's job on the paper's storage: a closed loop of rounds,
    * each appending one generated block to a HyDFS file, draining it
    * with App-2 on one checkpoint and reading the running counts; then
    * App-1 over a fixed prefix of the file's blocks.
    */
  private def rainstorm(spark: SparkSession, file: String, ckpt: String, seed: Long,
                        seconds: Double, trace: Trace, checks: Checks,
                        metrics: mutable.Map[String, Double],
                        layer: mutable.Map[String, Double]): Unit = {
    import RainStorm.Ops._
    val gen = new Signs(seed, Pattern)
    require(App1Blocks <= WarmRounds + MinRounds)
    val numTasks = GraftSession.cpus.toInt
    val lat = mutable.ArrayBuffer.empty[Double]
    val appendMs = mutable.ArrayBuffer.empty[Double]
    var appendBytes = 0L
    val start = System.nanoTime()
    var r = 0
    while (r < WarmRounds + MinRounds || (System.nanoTime() - start) / 1e9 < seconds) {
      val content = gen.block(BlockLines)
      val expected = gen.app2Counts.toMap
      val (counts, ms) = trace.span("rainstorm.round", s"round-$r") {
        val (_, aMs) = trace.span("hyfs.append")(Hyfs.append(spark, file, content))
        appendMs += aMs
        val (q, _) = trace.span("rainstorm.stream.start")(
          RainStorm.runStreaming(spark, file, app2op1, app2op2, "app2_counts", ckpt,
            numTasks, Pattern))
        trace.span("rainstorm.stream.drain")(q.awaitTermination())
        trace.span("rainstorm.stream.collect")(
          spark.table("app2_counts").collect()
            .map(row => row.getString(0) -> row.getString(1).toLong).toMap)._1
      }
      appendBytes += content.length
      if (r >= WarmRounds) lat += ms
      checks(s"app2 round $r counts") { counts == expected }
      r += 1
    }
    val timedLines = lat.size.toLong * BlockLines
    metrics("records_per_s") = timedLines / (lat.sum / 1e3)
    metrics("op_ms") = Stats.median(lat.toSeq)
    layer("rainstorm.stream.rounds") = lat.size
    layer("rainstorm.stream.round_max_ms") = lat.max
    layer("hyfs.append_ms_p50") = Stats.median(appendMs.toSeq)
    layer("hyfs.append_mb_per_s") = appendBytes / 1e6 / (appendMs.sum / 1e3)
    layer("hyfs.blocks") = Hyfs.ls(spark, file).size

    // App-1 over the first App1Blocks round blocks (block 0 is the
    // empty block `create` wrote), addressed as one glob
    val names = Hyfs.ls(spark, file).take(App1Blocks + 1)
    val src = names.mkString(s"$file/{", ",", "}")
    val (rows, checksum) = gen.app1PerBlock.take(App1Blocks)
      .foldLeft((0L, 0L)) { case ((n, s), (bn, bs)) => (n + bn, s + bs) }
    val app1Lines = App1Blocks.toLong * BlockLines
    val app1 = (1 to App1Reps).map { rep =>
      val (row, ms) = trace.span("rainstorm.run", s"app1-$rep") {
        RainStorm.run(spark, src, app1op1, app1op2, None, numTasks, Pattern)
          .agg(count(lit(1)),
            sum(conv(substring(md5(concat_ws("\u0001", col("key"), col("value"))), 1, 10),
              16, 10).cast("long")))
          .head()
      }
      checks(s"app1 rep $rep rows/checksum") {
        row.getLong(0) == rows && row.getLong(1) == checksum
      }
      ms
    }
    metrics("pass_s") = Stats.median(app1) / 1e3
    layer("rainstorm.run.records_per_s") = app1Lines / (Stats.median(app1) / 1e3)
    layer("rainstorm.run.selectivity") = rows.toDouble / app1Lines
  }

  /** One pass over a list of registered queries: call, read the result
    * as an order-independent fingerprint, compare with expected.json.
    */
  private def pass(spark: SparkSession, queries: Seq[(String, Seq[String])], data: String,
                   rowsOf: Map[String, Long], trace: Trace, checks: Checks,
                   metrics: mutable.Map[String, Double], record: Option[String]): Unit = {
    val expected = Expected.load()
    val (times, passMs) = trace.span("pass") {
      queries.map { case (q, _) =>
        val ((df, fp), ms) = trace.span(q) {
          val (df, _) = trace.span("call")(SparkEntry.queries(q)(spark, data))
          (df, trace.span("read")(Fingerprint.of(df))._1)
        }
        checks(s"$q fingerprint ${fp.mkString("/")} vs ${expected.get(q).map(_.mkString("/"))}") {
          expected.get(q).contains(fp)
        }
        record.foreach(dir => Fingerprint.record(q, df, dir, fp))
        spark.catalog.clearCache()
        ms
      }
    }
    metrics("pass_s") = passMs / 1e3
    metrics("op_ms") = Stats.gmean(times)
    metrics("records_per_s") = queries.map(_._2.map(rowsOf).sum).sum / (passMs / 1e3)
  }

  /** Per-layer metrics from the trace: every name is reported on every
    * workload; a layer a workload does not use reports 0.
    */
  private def layers(t: Trace, layer: mutable.Map[String, Double], wallS: Double): Unit = {
    def named(n: String) = t.spans.filter(_.name == n).toSeq
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val cores = GraftSession.cpus.toDouble
    Seq("hyfs.append_ms_p50", "hyfs.append_mb_per_s", "hyfs.blocks", "rainstorm.stream.rounds",
      "rainstorm.stream.round_max_ms",
      "rainstorm.run.records_per_s", "rainstorm.run.selectivity")
      .foreach(layer.getOrElseUpdate(_, 0.0))

    // RainStorm streaming rounds (timed rounds only)
    val rounds = named("rainstorm.round").drop(WarmRounds)
    def childMs(r: Span, n: String) =
      t.spans.find(s => s.parent == r.id && s.name == n).map(_.ms).getOrElse(0.0)
    def roundBatches(r: Span) = t.batchesIn(t.subtree(r.id))
    def durP50(key: String) = p50(rounds.map(r => roundBatches(r).map(_.durations.getOrElse(key, 0L)).sum.toDouble))
    val nr = math.max(rounds.size, 1).toDouble
    layer("rainstorm.stream.start_ms_p50") = p50(rounds.map(childMs(_, "rainstorm.stream.start")))
    layer("rainstorm.stream.drain_ms_p50") = p50(rounds.map(childMs(_, "rainstorm.stream.drain")))
    layer("rainstorm.stream.collect_ms_p50") = p50(rounds.map(childMs(_, "rainstorm.stream.collect")))
    layer("rainstorm.stream.jobs_per_round") = rounds.map(r => t.jobsIn(t.subtree(r.id)).size).sum / nr
    layer("rainstorm.stream.batches_per_round") = rounds.map(roundBatches(_).size).sum / nr
    layer("rainstorm.stream.trigger_ms_p50") = durP50("triggerExecution")
    layer("rainstorm.stream.addbatch_ms_p50") = durP50("addBatch")
    layer("rainstorm.stream.planning_ms_p50") = durP50("queryPlanning")
    layer("rainstorm.stream.latestoffset_ms_p50") = durP50("latestOffset")
    layer("rainstorm.stream.walcommit_ms_p50") = durP50("walCommit")
    layer("rainstorm.stream.commitoffsets_ms_p50") = durP50("commitOffsets")
    layer("rainstorm.stream.outside_trigger_ms_p50") = p50(rounds.map(r =>
      r.ms - roundBatches(r).map(_.durations.getOrElse("triggerExecution", 0L)).sum))
    val lastState = rounds.lastOption.flatMap(roundBatches(_).lastOption)
    layer("state.rows_total") = lastState.map(_.stateRows.toDouble).getOrElse(0.0)
    layer("state.memory_bytes") = lastState.map(_.stateMemory.toDouble).getOrElse(0.0)
    layer("state.commit_ms_p50") = p50(rounds.map(r => roundBatches(r).map(_.stateCommitMs).sum.toDouble))
    layer("state.stores") = lastState.map(_.stateStores.toDouble).getOrElse(0.0)

    // RainStorm batch run (App-1): the last rep
    val run = named("rainstorm.run").lastOption
    val runIds = run.map(r => t.subtree(r.id)).getOrElse(Set.empty[Int])
    val runStages = t.stagesIn(runIds)
    layer("rainstorm.run.s") = run.map(_.ms / 1e3).getOrElse(0.0)
    layer("rainstorm.run.jobs") = t.jobsIn(runIds).size
    layer("rainstorm.run.stages") = runStages.size
    layer("rainstorm.run.tasks") = runStages.map(_.tasks).sum
    layer("rainstorm.run.input_bytes_read") = runStages.map(_.inputBytes).sum.toDouble
    layer("rainstorm.run.shuffle_write_bytes") = runStages.map(_.shuffleWriteBytes).sum.toDouble
    layer("rainstorm.run.outside_jobs_s") = run.map(t.outsideJobsS).getOrElse(0.0)

    // streaming gates
    val gateBatches = mutable.ArrayBuffer.empty[BatchRec]
    var gateJobs = 0
    var gateShuffle = 0L
    Gates.foreach { case (g, _) =>
      val sp = named(g).headOption
      val ids = sp.map(s => t.subtree(s.id)).getOrElse(Set.empty[Int])
      val bs = t.batchesIn(ids)
      gateBatches ++= bs
      gateJobs += t.jobsIn(ids).size
      gateShuffle += t.stagesIn(ids).map(_.shuffleWriteBytes).sum
      layer(s"gate.$g.s") = sp.map(_.ms / 1e3).getOrElse(0.0)
      layer(s"gate.$g.jobs") = t.jobsIn(ids).size
      layer(s"gate.$g.batches") = bs.size
      layer(s"gate.$g.outside_jobs_s") = sp.map(t.outsideJobsS).getOrElse(0.0)
    }
    def gateSum(key: String) = gateBatches.map(_.durations.getOrElse(key, 0L)).sum.toDouble
    layer("gates.jobs_per_batch") = if (gateBatches.isEmpty) 0.0 else gateJobs.toDouble / gateBatches.size
    layer("gates.addbatch_ms") = gateSum("addBatch")
    layer("gates.planning_ms") = gateSum("queryPlanning")
    layer("gates.walcommit_ms") = gateSum("walCommit")
    layer("gates.state_commit_ms") = gateBatches.map(_.stateCommitMs).sum.toDouble
    layer("gates.state_rows") = gateBatches.map(_.stateRows).sum.toDouble
    layer("gates.shuffle_write_bytes") = gateShuffle.toDouble
    layer.getOrElseUpdate("gates.tmp_entries_created", 0.0)

    // batch queries
    BatchQueries.foreach { case (q, _) =>
      val sp = named(q).headOption
      val ids = sp.map(s => t.subtree(s.id)).getOrElse(Set.empty[Int])
      val st = t.stagesIn(ids)
      val top = if (st.isEmpty) None else Some(st.maxBy(_.seconds))
      layer(s"query.$q.s") = sp.map(_.ms / 1e3).getOrElse(0.0)
      layer(s"query.$q.jobs") = t.jobsIn(ids).size
      layer(s"query.$q.outside_jobs_s") = sp.map(t.outsideJobsS).getOrElse(0.0)
      layer(s"query.$q.shuffle_write_bytes") = st.map(_.shuffleWriteBytes).sum.toDouble
      layer(s"query.$q.spill_bytes") = st.map(_.spillBytes).sum.toDouble
      layer(s"query.$q.top_stage_s") = top.map(_.seconds).getOrElse(0.0)
      layer(s"query.$q.top_stage_skew") = top.filter(_.taskMs.nonEmpty).map { s =>
        val med = Stats.median(s.taskMs.map(_.toDouble))
        if (med > 0) s.taskMs.max / med else 1.0
      }.getOrElse(0.0)
    }
    layer("exec.busy_ratio") = t.taskRunMs / 1e3 / (wallS * cores)
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }

  /** Peak resident set of this JVM (Linux /proc; 0 elsewhere). */
  private def rssPeakMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }
}

object Stats {
  /** Geometric mean: one summary of latencies that differ by orders of
    * magnitude (ten different queries) without one query dominating it. */
  def gmean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Order-independent fingerprint of a query result: its row count and
  * the sum of the first 40 bits of md5 over each row's JSON form, with
  * columns in name order (the same canonical column order the oracle
  * comparison uses).
  */
object Fingerprint {
  def of(df: DataFrame): Seq[Long] = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(to_json(struct(cols: _*)).as("j"))
      .agg(count(lit(1)), coalesce(sum(conv(substring(md5(col("j")), 1, 10), 16, 10)
        .cast("long")), lit(0L)))
      .head()
    Seq(r.getLong(0), r.getLong(1))
  }

  def record(q: String, df: DataFrame, dir: String, fp: Seq[Long]): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
    val f = new java.io.File(s"$dir/fingerprints.jsonl")
    val w = new java.io.FileWriter(f, true)
    try w.write(Json.obj(Seq("query" -> Json.str(q), "rows" -> fp(0).toString,
      "sum" -> fp(1).toString)) + "\n") finally w.close()
    val o = new java.io.FileWriter(s"$dir/oracle.jsonl", true)
    try o.write(Json.obj(Seq("query" -> Json.str(q),
      "sql" -> Json.str(SparkEntry.oracleSql(q)))) + "\n") finally o.close()
  }
}

/** expected.json next to the harness: query → [rows, sum]. */
object Expected {
  def load(): Map[String, Seq[Long]] = {
    val p = sys.props.getOrElse("perfbench.expected", "perfbench/expected.json")
    val src = scala.io.Source.fromFile(p, "UTF-8")
    val text = try src.mkString finally src.close()
    "\"([a-z0-9_]+)\"\\s*:\\s*\\[\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\]".r
      .findAllMatchIn(text).map(m => m.group(1) -> Seq(m.group(2).toLong, m.group(3).toLong))
      .toMap
  }
}
