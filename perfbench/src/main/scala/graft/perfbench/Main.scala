package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkEntry
import graft.enrich.Dicts
import graft.pipeline.{Engine, Pipeline, Sink}

/** One benchmark run of one workload in a fresh JVM, driving the engine
  * through its public entry points at `local[4]`.
  *
  * Writes a JSON file of raw observations: set-up time, every timed
  * operation with the values its correctness check needs, the reference
  * answers computed outside the timed window, the oracle SQL the checker
  * replays, and (traced runs) per-layer figures. Deciding correctness and
  * reducing the observations to metrics is the caller's job (`run.py`).
  *
  * Arguments: --workload W --data DIR --tail DIR --work DIR --seed N
  * --seconds S --trace 0|1 --out FILE
  *
  * Workload `tail` only writes the long-tail input to --tail, generated from
  * the seed table in --data; the other workloads read it from there.
  */
object Main {
  val Cores = 4
  val HeadTools: Seq[String] =
    Seq("palo.alto.fw", "aws.vpcflow", "linux.rsyslog", "cef.fw", "azure.signin", "unknown")
  val Queries: Seq[String] = Seq("q05_sink_counts", "q06_salted_counts", "q02_parse_core",
    "d01_exact_dedup", "d02_minhash_pairs", "r04_sessionize")
  val MinOps = 3
  val SinkOps = 3
  val ScalingPairs = 3
  /** Head replicas in the mix; traced snapshot writes take a 1/Slice sample of it. */
  val Replicas = 2
  val Slice = 3

  final case class Args(workload: String, data: String, tail: String, work: String, seed: Long,
                        seconds: Double, trace: Boolean, out: String)

  private def parseArgs(a: Array[String]): Args = {
    val kv = a.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("data"), kv("tail"), kv("work"), kv("seed").toLong,
      kv("seconds").toDouble, kv("trace") == "1", kv("out"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Rows as sorted tab-separated strings (null = \N). */
  def strings(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map(v => if (v == null) "\\N" else v.toString).mkString("\t")).sorted

  def rowsOf(df: DataFrame): Seq[String] = strings(df.collect())

  def md5(rows: Seq[String]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(rows.mkString("\n").getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  private val t0 = System.nanoTime()
  /** Progress line for the run log. */
  def note(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%.1fs: $msg")

  def secs[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    if (a.workload == "tail") {
      val spark = session(Cores, a.work)
      try Inputs.materialize(a.tail, Inputs.tail(spark, a.data), 0L, files = 8)
      finally stop(spark)
      return
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    var spark = tracer.span("setup.session")(session(Cores, a.work))
    val dicts = tracer.span("setup.dicts_build")(Dicts.build())
    tracer.span("setup.broadcast")(Pipeline.dictsBroadcast(spark))
    if (a.workload == "analyst_queries") tracer.span("setup.cache_build") {
      Inputs.registerEvents(spark, a.data)
      SparkEntry.parsed(spark, a.data).count()
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    note(s"set up in $setupS s")
    val out = ArrayBuffer[(String, Any)]("workload" -> a.workload, "setup_s" -> setupS,
      "setup_spans" -> tracer.spans.map(s => s.name -> s.ms / 1e3).toMap)
    try {
      val run = new Run(a, spark, dicts, tracer)
      out ++= (a.workload match {
        case "ingest_mix" => run.ingest()
        case "analyst_queries" => run.analyst()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      })
      spark = run.spark
      if (a.trace) Files.writeString(Paths.get(a.out + ".spans.json"), tracer.toJson)
      Files.writeString(Paths.get(a.out), Json(out.toMap))
      note("done")
    } finally stop(spark)
  }
}

/** The workloads. Each returns the observations of one run; timed windows
  * are closed loops with one client (the next operation starts when the
  * previous one returned). */
final class Run(a: Main.Args, var spark: SparkSession, dicts: Dicts, tracer: Tracer) {
  import Main._

  private type Op = Map[String, Any]
  private val listener = new StageListener
  private val layers = scala.collection.mutable.LinkedHashMap[String, Double]()

  private def sOf(op: Op): Double = op("s").asInstanceOf[Double]
  private def tagOf(op: Op): String = op("tag").toString

  /** Runs `op` in a closed loop, at least `minOps` times and until `seconds`
    * have passed. A traced op gets a span named `span` and tags its Spark
    * jobs with its own tag. */
  private def loop(phase: String, span: Option[String], minOps: Int = MinOps,
                   seconds: Double = a.seconds)(op: String => Op): Seq[Op] = {
    val ops = ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    while (ops.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tag = s"$phase-${ops.size}"
      spark.sparkContext.setLocalProperty(StageListener.OpKey, tag)
      val r = span.fold(op(tag))(n => tracer.span(n)(op(tag)))
      ops += r + ("tag" -> tag)
    }
    spark.sparkContext.setLocalProperty(StageListener.OpKey, null)
    note(s"$phase: ${ops.size} ops")
    ops.toSeq
  }

  /** Runs `f` with the listener attached; every event it caused has been
    * delivered when this returns. */
  private def listened[T](f: => T): T = {
    spark.sparkContext.addSparkListener(listener)
    try f
    finally {
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** The timed window after `warmOps` warm-up runs of the same op (a count,
    * not a time, so every run starts its window at the same JIT state
    * however fast the host is). Untraced runs give
    * the end-to-end figures. A traced run alternates untraced and traced
    * ops over twice the window, so both halves see the same JIT and host
    * state; their median ratio is the tracing overhead. */
  private def windows(warmOps: Int)(op: String => Op): Map[String, Any] = {
    loop("warm", None, warmOps, seconds = 0)(op)
    HeapWatch.arm()
    val ops = if (!a.trace) loop("plain", None)(op)
      else loop("mixed", None, 2 * MinOps, 2 * a.seconds) { tag =>
        if (tag.split('-').last.toInt % 2 == 0) op(tag) + ("traced" -> false)
        else listened(tracer.span("op")(op(tag))) + ("traced" -> true)
      }
    val (heapMb, gcS) = HeapWatch.disarm()
    val (traced, plain) = ops.partition(_.getOrElse("traced", false) == true)
    if (a.trace) {
      attachStages(traced)
      layers("trace.overhead_share") = Stats.median(traced.map(sOf)) / Stats.median(plain.map(sOf)) - 1
      layers("jvm.gc_s") = gcS / ops.size
    }
    Map("ops" -> plain, "traced_ops" -> traced, "live_heap_mb" -> heapMb)
  }

  /** Adds the completed Spark stages of each traced op as child spans,
    * named by the stage's exchange role; stages of a job submitted for one
    * query of the op go under that query's span. */
  private def attachStages(ops: Seq[Op]): Unit =
    ops.zip(tracer.named("op")).foreach { case (op, span) =>
      val queries = tracer.spans.filter(s => s.parent == span.id && s.name.startsWith("query."))
      listener.jobsOf(tagOf(op)).foreach { job =>
        val parent = queries.find(_.name == s"query.${job.part}").map(_.id).getOrElse(span.id)
        listener.stagesOf(Seq(job)).foreach { st =>
          tracer.add(s"stage.${st.role}", tracer.fromEpochMs(st.submitted), tracer.fromEpochMs(st.completed), parent)
        }
      }
    }

  private def medianOver(ops: Seq[Op])(f: String => Double): Double =
    Stats.median(ops.map(op => f(tagOf(op))))

  /** Listener totals per traced op (busy, idle, GC, exchange bytes, skew)
    * and its blocking path, from the spans below the op at any depth:
    * measured driver spans (`driver.*`: plan building, Spark's optimizer and
    * planner phases, result formatting) where no stage runs, plus the time
    * stage spans cover, in all and by role (roles may overlap). The part of
    * the op's wall time that neither covers is the unexplained share. */
  private def pipelineLayers(traced: Seq[Op]): Unit = {
    val med = medianOver(traced) _
    val wall = traced.map(op => tagOf(op) -> sOf(op)).toMap
    def stages(t: String, role: String) =
      listener.stagesOf(t).filter(s => role == "*" || s.role == role)
    def total(t: String, role: String, f: StageStats => Long): Double = stages(t, role).map(f).sum.toDouble
    layers("pipeline.kernel.stage_busy_s") = med(total(_, "mid_exchange", _.runMs) / 1e3)
    layers("pipeline.kernel.gc_s") = med(total(_, "mid_exchange", _.gcMs) / 1e3)
    layers("pipeline.kernel.task_skew") = med { t =>
      val ms = stages(t, "mid_exchange").flatMap(_.taskMs).map(_.toDouble)
      if (ms.isEmpty) 0.0 else ms.max / math.max(1.0, Stats.median(ms))
    }
    layers("pipeline.idle_core_share") = med(t => 1 - total(t, "*", _.runMs) / 1e3 / (wall(t) * Cores))
    layers("pipeline.exchange.conv_bytes") = med(total(_, "scan_exchange", _.shuffleWriteBytes))
    layers("pipeline.exchange.agg_bytes") = med(total(_, "mid_exchange", _.shuffleWriteBytes))
    layers("pipeline.exchange.spill_bytes") = med(total(_, "*", _.spillBytes))
    val roles = Seq("scan_exchange", "mid_exchange", "final", "narrow")
    val perOp = tracer.named("op").map { op =>
      val below = tracer.under(op)
      val stageSpans = below.filter(_.name.startsWith("stage."))
      val driverSpans = below.filter(_.name.startsWith("driver."))
      def covered(ks: Seq[Span]) = Tracer.unionMs(ks.map(k => (k.startMs max op.startMs, k.endMs min op.endMs)))
      val stageMs = covered(stageSpans)
      val explainedMs = covered(stageSpans ++ driverSpans)
      val byRole = roles.map(r => r -> covered(stageSpans.filter(_.name == s"stage.$r"))).toMap
      (explainedMs - stageMs, stageMs, byRole, 1 - explainedMs / op.ms)
    }
    layers("trace.blocking.driver_self_s") = Stats.median(perOp.map(_._1)) / 1e3
    layers("trace.blocking.stage_s") = Stats.median(perOp.map(_._2)) / 1e3
    roles.foreach(r => layers(s"trace.blocking.stage_${r}_s") = Stats.median(perOp.map(_._3(r))) / 1e3)
    layers("trace.blocking.unexplained_share") = Stats.median(perOp.map(_._4))
  }

  /** Spark's own timings of the phases that planned `df`'s execution
    * (analysis, optimizer, physical planner), as driver spans of the open
    * traced op. */
  private def planningSpans(df: DataFrame): Unit =
    df.queryExecution.tracker.phases.foreach { case (phase, p) =>
      tracer.addChild(s"driver.spark_$phase", p.startTimeMs, p.endTimeMs)
    }

  private def toInternal(rows: Array[org.apache.spark.sql.Row]): Array[InternalRow] = rows.map { r =>
    def u(i: Int) = if (r.isNullAt(i)) null else UTF8String.fromString(r.getString(i))
    val micros = r.get(5) match { // TIMESTAMP or TIMESTAMP_NTZ (UTC session)
      case t: java.sql.Timestamp => Math.multiplyExact(t.getTime / 1000, 1000000L) + t.getNanos / 1000
      case t: java.time.LocalDateTime =>
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
    }
    new GenericInternalRow(Array[Any](u(0), r.getInt(1), u(2), u(3), u(4), micros))
  }

  /** Driver-side layer costs on a sample of head turns and, when the input
    * has a tail, on up to 25 turns of every tail technology. Returns the
    * single-thread kernel CPU seconds they predict for the whole input. */
  private def kernelLayers(input: DataFrame): Double = {
    val isHead = col("tool").isin(HeadTools: _*)
    val turns = input.groupBy(isHead.as("head")).count().collect()
      .map(r => (if (r.getBoolean(0)) "head" else "tail") -> r.getLong(1)).toMap
    val cols = Inputs.Cols.map(col)
    val head = toInternal(input.filter(isHead).select(cols: _*).limit(3000).collect())
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("tool"))
      .orderBy(col("conv_id"), col("turn_idx"))
    val tail = toInternal(input.filter(!isHead).withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 25).select(cols: _*).collect())
    Seq("head" -> head, "tail" -> tail).filter(_._2.nonEmpty).foreach { case (k, rows) =>
      val l = KernelSample.measure(rows, dicts)
      layers(s"rules.parse_ns_per_turn.$k") = l.parse.ns
      layers(s"rules.parse_alloc_b_per_turn.$k") = l.parse.allocB
      layers(s"enrich.chain_ns_per_turn.$k") = l.enrich.ns
      layers(s"enrich.chain_alloc_b_per_turn.$k") = l.enrich.allocB
      layers(s"pipeline.kernel.flatten_ns_per_turn.$k") = l.flatten.ns
      layers(s"pipeline.kernel.flatten_alloc_b_per_turn.$k") = l.flatten.allocB
    }
    layers("rules.techs_dispatched") = input.select("tool").distinct().collect()
      .map(r => Engine.techOf(r.getString(0))._1.tech).distinct.length
    // single-thread kernel CPU seconds the samples predict for the input
    Seq("head", "tail").map(k => turns.getOrElse(k, 0L) * Seq("rules.parse_ns_per_turn",
      "enrich.chain_ns_per_turn", "pipeline.kernel.flatten_ns_per_turn")
      .map(m => layers.getOrElse(s"$m.$k", 0.0)).sum).sum / 1e9
  }

  /** Layers every traced run reports: set-up spans, the serialized size of
    * the dictionaries, and the window's op latency figures. */
  private def commonLayers(ops: Seq[Op], turns: Long): Map[String, Any] = {
    def spanS(n: String) = tracer.named(n).headOption.map(_.ms / 1e3).getOrElse(0.0)
    layers("enrich.dicts_build_s") = spanS("setup.dicts_build")
    layers("enrich.broadcast_s") = spanS("setup.broadcast")
    layers("pipeline.cache.build_s") = spanS("setup.cache_build")
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(dicts)
    oos.close()
    layers("enrich.dicts_bytes") = bos.size().toDouble
    val s = ops.map(sOf)
    if (turns > 0) layers("turns_per_s") = turns / Stats.median(s)
    layers("op_s_p90") = Stats.quantile(s, 0.9)
    layers("op_samples") = s.size
    Map("layers" -> layers.toMap)
  }

  // ---------------------------------------------------------------- ingest

  /** Head replicas of this seed's table plus the seed-independent tail
    * (written once per checkout by workload `tail`: building the generator
    * plans alone takes minutes). */
  private def mixPath(): String =
    Inputs.materialize(s"${a.data}/mix-seed${a.seed}-rep$Replicas-${Paths.get(a.tail).getParent.getFileName}",
      Inputs.head(spark, a.data, a.seed, Replicas).unionByName(spark.read.parquet(a.tail)),
      a.seed, files = 8)

  def ingest(): Seq[(String, Any)] = {
    val path = mixPath()
    // traced ops record the driver's own parts of the op as spans
    def countsOp(): Seq[String] = {
      val df = tracer.child("driver.plan")(Pipeline.sinkCounts(Pipeline.parseDf(spark, spark.read.parquet(path))))
      val rows = df.collect()
      planningSpans(df)
      tracer.child("driver.rows")(strings(rows))
    }
    val input = spark.read.parquet(path)
    val turns = input.count()
    val reference = rowsOf(Pipeline.sinkCountsFromInput(spark, input))
    val first = countsOp() // its rows go to the oracle check
    note("reference and warm-up done")
    val w = windows(warmOps = 4) { _ =>
      val (s, rows) = secs(countsOp())
      Map("s" -> s, "digest" -> md5(rows))
    }
    val trace = if (!a.trace) Map.empty[String, Any] else {
      val traced = w("traced_ops").asInstanceOf[Seq[Op]]
      pipelineLayers(traced)
      // the kernel CPU the samples predict, as a share of the task time the
      // kernel stage took; the rest is parallel slowdown and in-stage work
      // around the kernel (shuffle read, partial aggregate, shuffle write)
      layers("pipeline.kernel.sample_explained_share") =
        kernelLayers(input) / layers("pipeline.kernel.stage_busy_s")
      val sinkObs = sink(input)
      // N vs 4N: paired single-core and four-core runs in fresh sessions,
      // alternating which goes first
      val pairs = (0 until ScalingPairs).map { p =>
        (if (p % 2 == 0) Seq(1, Cores) else Seq(Cores, 1)).map { cores =>
          stop(spark)
          spark = session(cores, a.work)
          Pipeline.dictsBroadcast(spark)
          val (s, rows) = secs(countsOp())
          cores -> Map("s" -> s, "digest" -> md5(rows), "tag" -> s"scale$cores-$p")
        }.toMap
      }
      layers("scaling_eff_1_4") = Stats.median(pairs.map(p => sOf(p(1)) / sOf(p(Cores)))) / Cores
      note("scaling pairs done")
      sinkObs ++ commonLayers(w("ops").asInstanceOf[Seq[Op]], turns) ++
        Map("scale_ops" -> pairs.flatMap(_.values))
    }
    Seq("input_turns" -> turns, "replicas" -> Replicas, "reference_digest" -> md5(reference),
      "first_rows" -> first,
      "oracle_sql" -> Map("q05_sink_counts" -> SparkEntry.oracleSql("q05_sink_counts"))) ++ w ++ trace
  }

  // ------------------------------------------------------------------ sink

  private def parquetFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toVector

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) Files.walk(root).iterator().asScala.toVector.reverse.foreach(Files.delete)

  /** input_rows and routed_per_sink summed over the chunk manifests on disk. */
  private def manifests(root: String, snapshot: String): (Long, Map[String, Long]) = {
    val chunks = Files.list(Paths.get(root, "_manifests", snapshot)).iterator().asScala.toVector
      .filter(_.getFileName.toString.matches("chunk-\\d+\\.json")).map(Files.readString)
    val inRows = chunks.map(t => "\"input_rows\":\\s*(\\d+)".r.findFirstMatchIn(t).get.group(1).toLong).sum
    val routed = chunks.flatMap { t =>
      val block = "\"routed_per_sink\":\\s*\\{([^}]*)\\}".r.findFirstMatchIn(t).get.group(1)
      "\"([^\"]+)\":\\s*(\\d+)".r.findAllMatchIn(block).map(m => m.group(1) -> m.group(2).toLong)
    }.groupMapReduce(_._1)(_._2)(_ + _)
    (inRows, routed)
  }

  /** Traced snapshot writes of a seeded slice of the mix: each op writes a
    * fresh snapshot with `Sink.writeSnapshot`, resumes it (must write no
    * chunk) and reads every routed sink back with `Sink.readSink`. */
  private def sink(mix: DataFrame): Map[String, Any] = {
    val path = Inputs.materialize(s"${mixPath()}-every$Slice",
      Inputs.slice(mix, a.seed, Slice), a.seed, files = 8)
    val input = spark.read.parquet(path)
    val turns = input.count()
    val reference = Pipeline.sinkCountsFromInput(spark, input).groupBy("sink").agg(sum("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val snapRoot = Paths.get(a.work, "snapshots")
    def part[T](name: String)(f: => T): T = {
      spark.sparkContext.setLocalProperty(StageListener.PartKey, name)
      try f finally spark.sparkContext.setLocalProperty(StageListener.PartKey, null)
    }
    def snapshotOp(tag: String): Op = {
      val root = snapRoot.resolve(tag).toString
      val (s, _) = part("write")(secs(Sink.writeSnapshot(spark, input, root, "s1", numChunks = 8)))
      val (resumeS, resumed) = secs(Sink.writeSnapshot(spark, input, root, "s1", numChunks = 8))
      val (inRows, routed) = manifests(root, "s1")
      val (readS, readBack) = secs((routed.keySet ++ reference.keySet).toSeq.sorted.map { k =>
        k -> Sink.readSink(spark, root, "s1", k).count()
      }.toMap)
      val files = parquetFiles(Paths.get(root, "snapshot=s1"))
      val bytes = files.map(Files.size).sum
      deleteTree(Paths.get(root))
      Map("s" -> s, "resume_s" -> resumeS, "resume_chunks" -> resumed.size, "read_s" -> readS,
        "manifest_input_rows" -> inRows, "manifest_routed" -> routed, "read_back" -> readBack,
        "files" -> files.size, "bytes" -> bytes)
    }
    snapshotOp("sink-warm")
    listener.maxCachedBytes = 0L
    val ops = listened(loop("sink", Some("sink_op"), SinkOps, 0)(snapshotOp))
    def med(k: String) = Stats.median(ops.map(_(k).toString.toDouble))
    // writeSnapshot's jobs: the parquet write (with the stages it waits
    // on), then the metrics aggregations, which start after it has ended
    def jobsS(tag: String, metrics: Boolean): Double = {
      val js = listener.jobsOf(tag).filter(j => j.part == "write" && j.end >= 0)
      val writeEnd = js.filter(_.callSite.startsWith("parquet at")).map(_.end).maxOption.getOrElse(Long.MaxValue)
      Tracer.unionMs(js.filter(j => (j.start > writeEnd) == metrics)
        .map(j => (tracer.fromEpochMs(j.start), tracer.fromEpochMs(j.end)))) / 1e3
    }
    val writeS = ops.map(op => tagOf(op) -> sOf(op)).toMap
    layers("pipeline.sink.write_job_s") = medianOver(ops)(jobsS(_, metrics = false))
    layers("pipeline.sink.metrics_jobs_s") = medianOver(ops)(jobsS(_, metrics = true))
    layers("pipeline.sink.driver_s") =
      medianOver(ops)(t => writeS(t) - jobsS(t, metrics = false) - jobsS(t, metrics = true))
    layers("pipeline.sink.files") = med("files")
    layers("pipeline.sink.bytes") = med("bytes")
    layers("pipeline.sink.persist_bytes") = listener.maxCachedBytes.toDouble
    layers("pipeline.sink.resume_s") = med("resume_s")
    layers("sink_read_s") = med("read_s")
    layers("sink_bytes_per_turn") = med("bytes") / turns
    layers("sink_turns_per_s") = turns / med("s")
    note("sink ops done")
    Map("sink_ops" -> ops, "sink_input_turns" -> turns, "sink_reference_per_sink" -> reference)
  }

  // --------------------------------------------------------------- analyst

  def analyst(): Seq[(String, Any)] = {
    val fns = SparkEntry.queries
    val dumps = Paths.get(a.work, "query-dumps")
    // one full result per query for the checker's hash compare, untimed
    Queries.foreach(q => fns(q)(spark, a.data).write.parquet(dumps.resolve(q).toString))
    val rnd = new scala.util.Random(a.seed)
    // a query runs into the no-op sink, which evaluates every output
    // column; its row count comes from an observed metric of the same run
    def runQuery(q: String): Long = {
      val rows = Observation()
      val df = tracer.child("driver.plan")(fns(q)(spark, a.data).observe(rows, count(lit(1)).as("n")))
      df.write.format("noop").mode("overwrite").save()
      rows.get("n").asInstanceOf[Long]
    }
    def round(tag: String): Op = {
      val qs = rnd.shuffle(Queries).map { q =>
        spark.sparkContext.setLocalProperty(StageListener.PartKey, q)
        val (s, n) = secs(tracer.child(s"query.$q")(runQuery(q)))
        Map("name" -> q, "s" -> s, "rows" -> n)
      }
      spark.sparkContext.setLocalProperty(StageListener.PartKey, null)
      Map("s" -> qs.map(_("s").asInstanceOf[Double]).sum, "queries" -> qs)
    }
    note("dumps done")
    val w = windows(warmOps = 10)(round)
    val trace = if (!a.trace) Map.empty[String, Any] else {
      val traced = w("traced_ops").asInstanceOf[Seq[Op]]
      pipelineLayers(traced)
      val ops = w("ops").asInstanceOf[Seq[Op]]
      val perQuery = ops.flatMap(_("queries").asInstanceOf[Seq[Op]])
      Queries.foreach { q =>
        layers(s"query.$q.s_p50") = Stats.median(perQuery.filter(_("name") == q).map(sOf))
      }
      def queryShuffleBytes(q: String): Double =
        medianOver(traced)(t => listener.stagesOf(t, Some(q)).map(_.shuffleWriteBytes).sum.toDouble)
      layers("ml.d02.exchange_bytes") = queryShuffleBytes("d02_minhash_pairs")
      layers("pipeline.exchange.agg_bytes") = queryShuffleBytes("q05_sink_counts")
      layers("pipeline.cache.bytes") =
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
      layers("pipeline.cache.scan_s") =
        Stats.median((1 to 5).map(_ => secs(SparkEntry.parsed(spark, a.data).count())._1))
      Inputs.registerEvents(spark, a.data)
      kernelLayers(graft.gen.Transcripts.input(spark, a.data))
      commonLayers(ops, 0L)
    }
    val oracles = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    Seq("dumps" -> dumps.toString, "oracle_sql" -> oracles) ++ w ++ trace
  }
}
