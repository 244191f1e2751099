package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** JVM side of the benchmark. Reads a plan written by `perfbench/run.py`
  * (workload, generated input paths, seeded order and schedules), sets
  * the session up, runs the workload, and writes raw measurements (and,
  * in a traced run, spans) back as JSON. Metrics and correctness are
  * computed from those files by `run.py`. Nothing here reaches inside
  * the program: every timed call goes through a public entry point. */
object Main {
  val OpProperty = "graftbench.op"
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  type Rec = java.util.Map[String, Any]
  def rec(kv: (String, Any)*): Rec = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def errorOf(e: Throwable): String = {
    val c = Option(e.getCause).filter(_ => e.isInstanceOf[java.util.concurrent.ExecutionException]).getOrElse(e)
    s"${c.getClass.getName}: ${String.valueOf(c.getMessage).linesIterator.take(3).mkString(" ")}"
  }

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(Paths.get(args(0)).toFile)
    val out = Paths.get(plan.get("result_file").asText())
    val result = rec()
    plan.get("workload").asText() match {
      case "selftest" => result.put("selftest", SelfTest.run(plan))
      case w => runWorkload(w, plan, result)
    }
    Files.createDirectories(out.getParent)
    json.writeValue(out.toFile, result)
  }

  private def newSession(plan: JsonNode): SparkSession = {
    val cores = plan.get("cores").asInt()
    val tmp = plan.get("tmp_dir").asText()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.registerRules(spark)
    spark
  }

  /** One set-up: session start, the `graft.model.Tables` warm pass and
    * `Warmup.kernels` — the same sequence `graft.Bench` runs before it
    * measures. */
  private def setUp(plan: JsonNode, t0: Double): (SparkSession, Rec) = {
    val dir = plan.get("data_dir").asText()
    val spark = newSession(plan)
    val t1 = Clock.now
    graft.model.Tables.names.foreach { n =>
      val d = if (n == "events") graft.model.Tables.events(spark, dir) else graft.model.Tables.df(spark, dir, n)
      d.count()
    }
    val t2 = Clock.now
    graft.Warmup.kernels(spark)
    val t3 = Clock.now
    (spark, rec("start_s" -> (t1 - t0) / 1e3, "tables_warm_s" -> (t2 - t1) / 1e3,
      "kernels_warm_s" -> (t3 - t2) / 1e3, "total_s" -> (t3 - t0) / 1e3))
  }

  private def runWorkload(workload: String, plan: JsonNode, result: Rec): Unit = {
    val trace = plan.get("trace").asBoolean()
    // set-up, repeated: the first sample runs from process launch, so it
    // carries JVM start; the others restart the session in this JVM
    val setups = new java.util.ArrayList[Rec]()
    var (spark, first) = setUp(plan, plan.get("launch_ms").asDouble())
    setups.add(first)
    for (_ <- 1 until plan.get("setup_reps").asInt()) {
      spark.stop()
      val (s, r) = setUp(plan, Clock.now)
      spark = s
      setups.add(r)
    }
    result.put("setup", setups)
    val spans = new Spans
    val jobs = new JobRecorder(spans)
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(new PlanRecorder(spans))
    }
    workload match {
      case "registry" | "scale_up" => result.put("ops", runQueries(spark, plan, spans))
      case "stream_ingest" => StreamIngest.run(spark, plan, spans, jobs, result)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace) {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      jobs.flush()
      val w = Files.newBufferedWriter(Paths.get(plan.get("trace_file").asText()))
      try spans.all.foreach { s => w.write(json.writeValueAsString(s)); w.newLine() }
      finally w.close()
    }
    spark.stop()
  }

  /** Closed loop, one client: the plan's passes in order, each a list
    * of declared queries built through `SparkEntry.queries` and drained
    * through [[Sink]]. */
  private def runQueries(spark: SparkSession, plan: JsonNode, spans: Spans): java.util.List[Rec] = {
    val dir = plan.get("data_dir").asText()
    val registry = graft.SparkEntry.queries
    val passes = plan.get("passes").elements().asScala.map { p =>
      val listed = p.elements().asScala.map(_.asText()).toSeq
      if (listed == Seq("*")) registry.keys.toSeq.sorted else listed
    }
    val ops = new java.util.ArrayList[Rec]()
    passes.zipWithIndex.foreach { case (names, pass) =>
      names.foreach { q =>
        val tag = s"$q#$pass"
        spark.sparkContext.setLocalProperty(OpProperty, tag)
        val t0 = Clock.now
        var t1 = Double.NaN
        val r = rec("name" -> q, "pass" -> pass, "tag" -> tag)
        try {
          val df = registry(q)(spark, dir)
          t1 = Clock.now
          val d = Sink.digest(df)
          r.put("rows", d.rows); r.put("checksum", d.checksum.toString)
        } catch { case NonFatal(e) => r.put("error", errorOf(e)) }
        val t2 = Clock.now
        spark.sparkContext.setLocalProperty(OpProperty, null)
        r.put("start_ms", t0); r.put("build_end_ms", if (t1.isNaN) t2 else t1); r.put("end_ms", t2)
        spans.add("op", q, tag, t0, t2)
        spans.add("build", q, tag, t0, if (t1.isNaN) t2 else t1)
        ops.add(r)
      }
    }
    ops
  }
}

/** `stream_ingest`: open loop. A lander thread moves seeded document
  * batches into the directory `StreamOps.dedupStream` reads, each at its
  * due time; a reader thread issues `probeDedup` / `readKeys` point reads
  * on its own schedule. The stores are single-writer without snapshot
  * reads, so a batch holds the write side of a store lock from landing
  * to commit and each read holds the read side; both wait their turn,
  * and every latency is timed from when the operation was due. */
object StreamIngest {
  import Main.{Rec, rec}
  private def sleepUntil(t: Double): Unit = {
    val d = t - Clock.now
    if (d > 0) Thread.sleep(d.toLong, ((d - d.toLong) * 1e6).toInt)
  }

  /** Reader threads: reads share the store's read lock, so two can
    * overlap; a read whose lane is still busy starts late, and its
    * latency, timed from when it was due, shows it. */
  private val ReadLanes = 2

  def run(spark: SparkSession, plan: JsonNode, spans: Spans, jobs: JobRecorder, result: Rec): Unit = {
    import graft.streaming.StreamOps
    val s = plan.get("stream")
    val trace = plan.get("trace").asBoolean()
    val k = s.get("k").asInt(); val bands = s.get("bands").asInt()
    val rpb = s.get("rows_per_band").asInt(); val thr = s.get("threshold").asDouble()
    val nB = s.get("n_buckets").asInt(); val nIdx = s.get("n_idx_buckets").asInt()
    val maxTail = s.get("max_tail_batches").asInt()
    val root = Paths.get(plan.get("tmp_dir").asText(), "stream")
    val idx = root.resolve("index").toString
    jobs.indexRoot = idx
    val corp = root.resolve("corpus").toString
    val ckpt = root.resolve("checkpoint").toString
    val src = root.resolve("source")
    val staged = root.resolve("staged")
    Files.createDirectories(src); Files.createDirectories(staged)

    val corpus = spark.read.parquet(s.get("corpus").asText())
    val tb = Clock.now
    StreamOps.bootstrapDedup(corpus, idx, corp, k, bands, rpb, nB, "doc_id", "text",
      poly = false, nIdxBuckets = nIdx)
    result.put("bootstrap_s", (Clock.now - tb) / 1e3)
    result.put("store_dirs", java.util.List.of(idx, corp))

    val batches = s.get("batches").elements().asScala.toVector
    val stagedFiles = batches.zipWithIndex.map { case (b, i) =>
      val f = staged.resolve(f"batch-$i%05d.parquet")
      Files.copy(Paths.get(b.get("file").asText()), f, StandardCopyOption.REPLACE_EXISTING)
      f
    }
    val reads = s.get("reads").elements().asScala.toVector
    val emptyTail = spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      corpus.schema.add("version", "long").add("op", "string"))

    /** One lookup: `probeDedup` of the read's documents, then
      * `readKeys` of the corpus ids they matched; both answers are
      * compared with the expected rows. Returns the failure, if any. */
    def runRead(rd: JsonNode): Option[String] =
      try {
        val probe = StreamOps.probeDedup(spark.read.parquet(rd.get("file").asText()), idx, corp,
            k, bands, rpb, thr, "doc_id", "text", poly = false, nIdxBuckets = nIdx)
          .collect().map(x => (x.get(0), x.get(1)))
        val keys = spark.createDataFrame(java.util.List.of(probe.flatMap(p => Option(p._2))
            .distinct.map(v => org.apache.spark.sql.Row(v)): _*), corpus.schema.fields.take(1).foldLeft(
            new org.apache.spark.sql.types.StructType())(_ add _))
        val fetched = StreamOps.readKeys(spark, corp, keys, emptyTail, Seq("doc_id"))
          .select("doc_id", "text").collect().map(x => s"k\t${x.get(0)}\t${x.get(1)}")
        val got = (probe.map { case (d, m) => s"p\t$d\t$m" } ++ fetched).sorted.toSeq
        val want = rd.get("expect").elements().asScala.map(_.asText()).toSeq.sorted
        if (got == want) None
        else Some(s"wrong answer: ${got.size} rows, expected ${want.size}; first difference " +
          got.diff(want).headOption.orElse(want.diff(got).headOption).getOrElse(""))
      } catch { case NonFatal(e) => Some(Main.errorOf(e)) }

    val lock = new ReentrantReadWriteLock(true)
    val commits = new LinkedBlockingQueue[Rec]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        commits.put(rec("terminated" -> String.valueOf(e.exception.orNull)))
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        if (d.containsKey("addBatch")) {
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          commits.put(rec("batch_id" -> p.batchId, "trigger_start_ms" -> start,
            "commit_ms" -> (start + d.get("triggerExecution").doubleValue),
            "add_batch_ms" -> d.get("addBatch").doubleValue,
            "trigger_ms" -> d.get("triggerExecution").doubleValue,
            "rows_in" -> p.numInputRows))
        }
      }
    }
    spark.streams.addListener(listener)
    val docs = spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
    val query = StreamOps.dedupStream(docs, idx, corp, ckpt, k, bands, rpb, thr, nB,
      "doc_id", "text", poly = false, nIdxBuckets = nIdx, maxTailBatches = maxTail)

    // warm-up, untimed: one micro-batch and one lookup, so first-use
    // code generation is not charged to the measured schedule
    Files.copy(Paths.get(s.get("warmup").asText()), staged.resolve("warmup.parquet"))
    Files.move(staged.resolve("warmup.parquet"), src.resolve("warmup.parquet"), StandardCopyOption.ATOMIC_MOVE)
    val w = commits.poll(plan.get("op_timeout_s").asLong(), TimeUnit.SECONDS)
    if (w == null || w.containsKey("terminated")) throw new IllegalStateException(s"warm-up batch failed: $w")
    if (trace) result.put("warmup_tail_batches", StreamOps.dedupIndexTailBatches(spark, idx))
    reads.take(1).foreach(rd => runRead(rd))

    val t0 = Clock.now + s.get("lead_ms").asDouble()
    val batchRecs = new java.util.ArrayList[Rec]()
    val readRecs = new java.util.ArrayList[Rec]()
    val timeoutS = plan.get("op_timeout_s").asLong()
    val lander = new Thread(() => {
      var stop = false
      for ((b, i) <- batches.zipWithIndex if !stop) {
        val due = t0 + b.get("due_ms").asDouble()
        sleepUntil(due)
        val r = rec("index" -> i, "due_ms" -> due, "woke_ms" -> Clock.now,
          "rows" -> b.get("rows").asLong(), "user_bytes" -> b.get("user_bytes").asLong())
        lock.writeLock().lock()
        try {
          r.put("landed_ms", Clock.now)
          Files.move(stagedFiles(i), src.resolve(stagedFiles(i).getFileName), StandardCopyOption.ATOMIC_MOVE)
          val c = commits.poll(timeoutS, TimeUnit.SECONDS)
          if (c == null || c.containsKey("terminated")) {
            r.put("error", if (c == null) s"batch $i not committed within ${timeoutS}s"
              else s"stream terminated: ${c.get("terminated")}")
            stop = true
          } else {
            r.putAll(c)
            if (trace) r.put("tail_batches", StreamOps.dedupIndexTailBatches(spark, idx))
          }
        } catch { case NonFatal(e) => r.put("error", Main.errorOf(e)); stop = true }
        finally lock.writeLock().unlock()
        batchRecs.add(r)
      }
    }, "graftbench-lander")
    def reader(lane: Int) = new Thread(() => {
      for ((rd, i) <- reads.zipWithIndex if i % ReadLanes == lane) {
        val due = t0 + rd.get("due_ms").asDouble()
        sleepUntil(due)
        val tag = s"read-$i"
        spark.sparkContext.setLocalProperty(Main.OpProperty, tag)
        lock.readLock().lock()
        val start = Clock.now
        val r = rec("index" -> i, "due_ms" -> due, "start_ms" -> start)
        try runRead(rd).foreach(e => r.put("error", e))
        finally lock.readLock().unlock()
        val end = Clock.now
        r.put("end_ms", end)
        spans.add("op", "lookup", tag, start, end)
        spark.sparkContext.setLocalProperty(Main.OpProperty, null)
        readRecs.synchronized(readRecs.add(r))
      }
    }, s"graftbench-reader-$lane")
    val readers = (0 until ReadLanes).map(reader)
    lander.start(); readers.foreach(_.start())
    lander.join(); readers.foreach(_.join())
    query.stop()
    spark.streams.removeListener(listener)
    result.put("batches", batchRecs)
    result.put("reads", readRecs)
    val fin = rec()
    def digestOf(name: String, df: => DataFrame): Unit =
      try { val d = Sink.digest(df); fin.put(name, rec("rows" -> d.rows, "checksum" -> d.checksum.toString)) }
      catch { case NonFatal(e) => fin.put(name, rec("error" -> Main.errorOf(e))) }
    digestOf("corpus", StreamOps.readDedupCorpus(spark, corp))
    digestOf("index", spark.read.parquet(idx).select("doc_id", "band", "sig"))
    result.put("final", fin)
    batchRecs.asScala.foreach { b =>
      if (b.containsKey("trigger_start_ms"))
        spans.add("batch", s"batch-${b.get("batch_id")}", "", b.get("trigger_start_ms").asInstanceOf[Double],
          b.get("commit_ms").asInstanceOf[Double], "add_batch_ms" -> b.get("add_batch_ms"))
    }
  }
}
