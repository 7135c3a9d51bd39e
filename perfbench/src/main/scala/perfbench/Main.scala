package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StateOperatorProgress,
  StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType, TimestampType}

/** One benchmark run in a fresh JVM: build the session and run one
  * trivial job, then time a cold pass and warm passes over the
  * workload's queries, one call at a time (a closed loop with one
  * client). The cold pass is the first the JVM runs: it pays for class
  * loading, code generation and JIT as well as the Memo builds, as a
  * new user session does. Each call is timed from the query function's
  * invocation to the collected result; the fingerprint is computed
  * after the clock stops. Writes the raw samples to <out>/result.json;
  * perfbench/run.py turns them into metrics and checks them against
  * the oracle.
  *
  * Args: --workload W --queries q1,q2,.. --data DIR
  *       --seconds N --min-warm N --trace 0|1 --out DIR --run-id ID
  *       --timeout SECONDS_PER_CALL --cap MAX_MEASURED_SECONDS
  *
  * A name in --queries is either a query registered in
  * `SparkEntry.queries` or one of [[streamOps]]. */
object Main {
  val TagPrefix = "perfbench:"

  /** The modules that own queries, by the names the benchmark reports. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq(
      "ops.Relational" -> graft.ops.Relational.queries,
      "ops.Windows" -> graft.ops.Windows.queries,
      "ops.Text" -> graft.ops.Text.queries,
      "ops.Pipeline" -> graft.ops.Pipeline.queries,
      "sketch.Sketches" -> graft.sketch.Sketches.queries,
      "multimodal.Multimodal" -> graft.multimodal.Multimodal.queries,
      "mining.SetSimilarity" -> graft.mining.SetSimilarity.queries,
      "mining.VectorSimilarity" -> graft.mining.VectorSimilarity.queries,
      "mining.Son" -> graft.mining.Son.queries,
      "mining.Recommend" -> graft.mining.Recommend.queries,
      "graph.Graphs" -> graft.graph.Graphs.queries,
      "graph.GirvanNewman" -> graft.graph.GirvanNewman.queries,
      "cluster.KMeans" -> graft.cluster.KMeans.queries,
      "cluster.Bfr" -> graft.cluster.Bfr.queries)

  val StreamModule = "streaming.Streams"

  /** Streaming operators, each replayed on a finite file stream of the
    * documents table (`<data>/replay`, written by perfbench/gen.py: one
    * file per micro-batch, in ts order) and checked against the same
    * operator on the batch frame of the same rows. */
  val streamOps: Map[String, DataFrame => DataFrame] = Map(
    "st_exact_dedup" -> (d => graft.streaming.Streams.streamingExactDedup(d)))

  /** The replay files' schema (perfbench/gen.py `replay_parts`). */
  val ReplaySchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("ts", TimestampType)))

  def moduleOf(query: String): String =
    if (streamOps.contains(query)) StreamModule
    else modules.collectFirst { case (m, qs) if qs.contains(query) => m }
      .getOrElse(throw new IllegalArgumentException(
        s"query $query is not registered by any module"))

  def tagOf(pass: Int, query: String, phase: String): String =
    s"$TagPrefix$pass:$query:$phase"

  /** Verify's session conf (the correctness gate's), on all cores. */
  def sessionConf(cpus: Int, workDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.app.name" -> "perfbench",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.graft.autoKernel" -> "true",
    // StreamBench's state store: RocksDB, committing changelogs
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$workDir/spark-local",
    "spark.sql.warehouse.dir" -> s"$workDir/warehouse")

  final case class Call(pass: Int, query: String, module: String,
      buildS: Double, execS: Double, rows: Long, fp: String, error: String,
      memoBuilt: Map[String, Double], retainedB: Long,
      stream: Option[StreamStats])

  /** What a replay's micro-batches reported (StreamingQueryProgress). */
  final case class StreamStats(batches: Int, inputRows: Long,
      addBatchMs: Long, commitMs: Long, stateRows: Long, stateBytes: Long)

  object StreamStats {
    def of(ps: Seq[StreamingQueryProgress]): StreamStats = {
      def ms(p: StreamingQueryProgress, k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      def state(f: StateOperatorProgress => Long) =
        (0L +: ps.map(_.stateOperators.map(f).sum)).max
      StreamStats(ps.size, ps.map(_.numInputRows).sum,
        ps.map(ms(_, "addBatch")).sum,
        ps.map(p => ms(p, "walCommit") + ms(p, "commitOffsets")).sum,
        state(_.numRowsTotal), state(_.memoryUsedBytes))
    }
  }

  /** Runs `df`, a streaming frame over a finite file source, to the end
    * of its input (Trigger.AvailableNow), collecting every micro-batch's
    * rows into this JVM. */
  def replay(df: DataFrame, checkpoint: String, timeoutS: Long)
  : (Array[Row], StreamStats) = {
    val rows = mutable.ArrayBuffer.empty[Row]
    val sink: (DataFrame, Long) => Unit =
      (batch, _) => rows.synchronized(rows ++= batch.collect())
    val q = df.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint).foreachBatch(sink).start()
    try {
      if (!q.awaitTermination(timeoutS * 1000L))
        throw new java.util.concurrent.TimeoutException(
          s"replay did not finish in $timeoutS s")
    } finally q.stop()
    (rows.synchronized(rows.toArray), StreamStats.of(q.recentProgress.toSeq))
  }

  final case class Pass(index: Int, kind: String, wallS: Double,
      traced: Boolean, liveHeapB: Long)

  private def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Heap still in use after a full collection: the data the session
    * retains (Memo artifacts, checkpoint blocks, caches), without the
    * garbage whose amount depends on when the collector last ran, nor
    * the events still queued for Spark's listeners. The first
    * collection lets Spark's cleaner drop the broadcasts and blocks of
    * frames no longer referenced; the second frees them. */
  private def liveHeapBytes(sc: org.apache.spark.SparkContext): Long = {
    org.apache.spark.PerfbenchBus.drain(sc)
    System.gc()
    Thread.sleep(250)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
  }

  private def vmHwmKb(): Long = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong)
      .getOrElse(-1L)
  } catch { case _: Throwable => -1L }

  /** Traced runs attach the listener on the cold pass and the first
    * warm pass, which is still slowed by JIT; then in blocks of four warm
    * passes on, off, off, on, so a linear trend across them cancels out
    * of `trace.overhead_s`. */
  def listenerOn(pass: Int): Boolean = pass < 2 || Set(0, 3)((pass - 2) % 4)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val queries = args("queries").split(",").toSeq
    val (dataDir, outDir) = (args("data"), args("out"))
    val seconds = args("seconds").toDouble
    val minWarm = args("min-warm").toInt
    val traced = args("trace") == "1"
    val timeoutS = args("timeout").toLong
    val capS = args("cap").toDouble
    val cpus = graft.HostLoad.cpus
    val mods = queries.map(q => q -> moduleOf(q))
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = graft.HostLoad.loadavg()
    val spans = new Spans(args("run-id"))
    val root = spans.open(None, args("workload"), "workload")

    val tCreate = System.nanoTime()
    val conf = sessionConf(cpus, outDir)
    val spark = conf.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    val createS = (System.nanoTime() - tCreate) / 1e9
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer) else None

    val tFirst = System.nanoTime()
    spark.range(1).collect()
    val firstJobS = (System.nanoTime() - tFirst) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // A query builds its frame from the data directory; a stream
    // operator builds it on a file stream of the replay.
    val replayDir = s"$dataDir/replay"
    def build(q: String): DataFrame = streamOps.get(q) match {
      case Some(op) =>
        op(spark.readStream.schema(ReplaySchema)
          .option("maxFilesPerTrigger", 1).parquet(replayDir))
      case None => graft.SparkEntry.queries(q)(spark, dataDir)
    }
    var replays = 0
    def execute(df: DataFrame): (Array[Row], Option[StreamStats]) =
      if (df.isStreaming) {
        replays += 1
        val (rows, st) = replay(df, s"$outDir/checkpoints/$replays", timeoutS)
        (rows, Some(st))
      } else (df.collect(), None)


    val timer = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    def call(pass: Int, q: String, module: String, parent: Span): Call = {
      val qSpan = spans.open(Some(parent), q, s"query:$module")
      val memoBefore = graft.Memo.buildSeconds(spark)
      val storedBefore = storedBytes(spark)
      var tag = tagOf(pass, q, "build")
      sc.addJobTag(tag)
      val cancel = timer.schedule(new Runnable {
        def run(): Unit = {
          sc.cancelJobsWithTag(tagOf(pass, q, "build"))
          sc.cancelJobsWithTag(tagOf(pass, q, "exec"))
        }
      }, timeoutS, java.util.concurrent.TimeUnit.SECONDS)
      var (buildS, execS) = (0.0, 0.0)
      var df: DataFrame = null
      var rows: Array[Row] = null
      var stream: Option[StreamStats] = None
      var error: String = null
      try {
        val b = spans.open(Some(qSpan), "build", "build")
        df = build(q)
        buildS = (spans.close(b).endNs - b.startNs) / 1e9
        sc.removeJobTag(tag)
        tag = tagOf(pass, q, "exec")
        sc.addJobTag(tag)
        val e = spans.open(Some(qSpan), "exec", "exec")
        val (r, st) = execute(df)
        execS = (spans.close(e).endNs - e.startNs) / 1e9
        rows = r
        stream = st
      } catch {
        case t: Throwable =>
          error = s"${t.getClass.getSimpleName}: ${t.getMessage}"
            .linesIterator.take(3).mkString(" | ")
      } finally {
        sc.removeJobTag(tag)
        cancel.cancel(false)
        spans.close(qSpan)
      }
      val fp = if (error == null) {
        try Fingerprint.of(df.schema.fieldNames.toSeq, rows)
        catch { case t: Throwable => error = s"fingerprint: $t"; null }
      } else null
      val memoNew = graft.Memo.buildSeconds(spark) -- memoBefore.keySet
      Call(pass, q, module, buildS, execS,
        if (rows == null) -1L else rows.length.toLong, fp, error, memoNew,
        storedBytes(spark) - storedBefore, stream)
    }

    val calls = mutable.ArrayBuffer.empty[Call]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = 0
    // p is the next pass; untraced runs stop after `seconds` and
    // `minWarm` warm passes, traced runs at the end of a block of four
    // (see listenerOn) after at least one block. Past the cap a traced
    // run still makes passes 2 and 3, one with the listener and one
    // without.
    def more: Boolean =
      if (p == 0) true
      else if (elapsed >= capS) traced && p < 4
      else if (traced) p < 6 || elapsed < seconds || (p - 2) % 4 != 0
      else p <= minWarm || elapsed < seconds
    while (more) {
      val on = traced && listenerOn(p)
      tracer.foreach(t => if (on) sc.addSparkListener(t))
      val ps = spans.open(Some(root), s"pass$p", if (p == 0) "cold" else "warm")
      mods.foreach { case (q, m) => calls += call(p, q, m, ps) }
      spans.close(ps)
      if (on) tracer.foreach { t =>
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(t)
      }
      passes += Pass(p, if (p == 0) "cold" else "warm",
        (ps.endNs - ps.startNs) / 1e9, on, liveHeapBytes(sc))
      p += 1
    }
    spans.close(root)
    timer.shutdownNow()
    val loadAfter = graft.HostLoad.loadavg()

    // the stream operators' expected results: the same operator on the
    // batch frame of the replayed rows, computed after the timed passes
    val twins = queries.filter(streamOps.contains).map { q =>
      q -> (try {
        val df = streamOps(q)(spark.read.schema(ReplaySchema).parquet(replayDir))
        val rows = df.collect()
        ListMap[String, Any](
          "fp" -> Fingerprint.of(df.schema.fieldNames.toSeq, rows),
          "rows" -> rows.length)
      } catch { case t: Throwable => ListMap[String, Any]("error" -> t.toString) })
    }.toMap

    def counts(c: Option[Counts]) = c.map(_.fields.toMap)
    val result = ListMap[String, Any](
      "cpus" -> cpus, "git_sha" -> graft.GitStamp.sha,
      "load_before" -> loadBefore, "load_after" -> loadAfter,
      "session_create_s" -> createS, "first_job_s" -> firstJobS,
      "setup_s" -> setupS, "vm_hwm_kb" -> vmHwmKb(), "traced" -> traced,
      "conf" -> ListMap(spark.conf.getAll.toSeq.sortBy(_._1): _*),
      "oracle_sql" -> graft.SparkEntry.oracleSql,
      "self_gating" -> graft.SparkEntry.selfGating.toSeq.sorted,
      "twins" -> twins,
      "passes" -> passes.toSeq.map(x => ListMap[String, Any](
        "pass" -> x.index, "kind" -> x.kind, "wall_s" -> x.wallS,
        "traced" -> x.traced, "live_heap_b" -> x.liveHeapB)),
      "calls" -> calls.toSeq.map(c => ListMap[String, Any](
        "pass" -> c.pass, "query" -> c.query, "module" -> c.module,
        "build_s" -> c.buildS, "exec_s" -> c.execS, "rows" -> c.rows,
        "fp" -> c.fp, "error" -> c.error, "retained_b" -> c.retainedB,
        "memo_built" -> c.memoBuilt,
        "stream" -> c.stream.map(st => ListMap[String, Any](
          "batches" -> st.batches, "input_rows" -> st.inputRows,
          "add_batch_ms" -> st.addBatchMs, "commit_ms" -> st.commitMs,
          "state_rows" -> st.stateRows, "state_b" -> st.stateBytes)),
        "build" -> counts(tracer.flatMap(_.counts(tagOf(c.pass, c.query, "build")))),
        "exec" -> counts(tracer.flatMap(_.counts(tagOf(c.pass, c.query, "exec")))))),
      "spans" -> spans.all.map(s => ListMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start_s" -> (s.startNs - root.startNs) / 1e9,
        "end_s" -> (s.endNs - root.startNs) / 1e9, "run_id" -> spans.runId)))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(outDir, "result.json"), result)
    spark.stop()
  }
}
