package perfbench

import graft.k8s.{EventPipeline, GraftConfig, KubeEvent, KubeService, L9Event, WatchedService}
import graft.sinks.NdjsonSink
import graft.sources.k8s.HttpWatchClient
import graft.streaming.StreamPipeline
import java.io.File
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** One streaming phase: its generator, stub, query and sink dir. */
final case class Phase(name: String, gen: GenStream, stub: StubApiServer,
    q: StreamingQuery, sinkDir: String)

/** The two live workloads. Each run: three stream start-ups (set-up), a
  * backlog-drain phase (throughput), a fixed-rate phase (latency), then
  * the output checks; the traced run adds standalone per-layer probes.
  * Every phase has its own stub API server, checkpoint and sink dir.
  */
final class Live(spark: SparkSession, events: Boolean, seed: Long,
    seconds: Int, work: String, log: ProgressLog) {
  import spark.implicits._

  private val resource = if (events) "events" else "services"
  /** Fixed rate of the latency phase, lines/s. */
  private val rate = if (events) 2000 else 500
  /** Admission cap (maxEventsPerTrigger) of every micro-batch. */
  private val eventCap = 5000
  private val serviceCap = 1000
  private val cap = if (events) eventCap else serviceCap
  /** Drain backlog, in full micro-batches: the first `warmBatches` carry
    * the JIT toward its plateau and are not measured; then 3/5 ×
    * `--seconds` measured ones (~0.6 s per 5,000-event batch on 4 vCPUs at
    * the seed commit). A fixed count, so a faster engine is still measured
    * over as many batches. */
  private val warmBatches = if (events) 12 else 3
  private val measuredBatches =
    if (events) math.max(6, seconds * 3 / 5) else math.max(4, seconds / 4)
  private val backlog = (warmBatches + measuredBatches) * cap
  private val drainTimeoutMs = 90000L
  private val triggerMs = 100L
  private val setupReps = 3
  /** The fixed-rate phase takes half of `--seconds`. */
  private val fixedMs = seconds * 500L
  /** The fixed-rate lag samples are cut into this many consecutive
    * windows; lag_p99_s is the median of their p99s. */
  private val lagWindows = 5

  private val cluster = new Cluster(seed)
  private lazy val objectsDf = cluster.objectRows.toDF()
  private lazy val nodesDf = cluster.nodeRows.toDF()
  private lazy val podsDf = cluster.podRows.toDF()

  private def conf(sinkDir: String) = GraftConfig(uid = "bench", sink = "file",
    batchSize = 10000, fileSinkDir = sinkDir, gzip = true, dedupTtlSec = 60)

  private var phaseNo = 0

  private def eventGen(n: Int, salt: Int) = new EventGen(cluster, seed * 31 + salt,
    n, salt * 10000000L, 1704099600000L + salt * 100000000L, s"p$salt-")
  private def serviceGen(n: Int, salt: Int) =
    new ServiceGen(cluster, seed * 31 + salt, n, salt * 10000000L)
  private def newGen(n: Int, salt: Int): GenStream =
    if (events) eventGen(n, salt) else serviceGen(n, salt)

  /** Starts stub + query; returns once the source holds its watch open
    * and any LIST seed has landed. */
  private def start(name: String, gen: GenStream): Phase = {
    phaseNo += 1
    val dir = s"$work/live/$phaseNo-$name"
    val stub = new StubApiServer(resource, gen.lines.length)
    stub.publish(gen.lines.iterator.take(gen.preloaded))
    val reader = spark.readStream
      .format(if (events) "graft.sources.k8s.K8sEventSource" else "graft.sources.k8s.K8sServiceSource")
      .option("endpoint", stub.url)
      .option("maxEventsPerTrigger", cap.toString)
      .load()
    val c = conf(s"$dir/sink")
    val q =
      if (events) StreamPipeline.runV2(reader, objectsDf, nodesDf, c, s"$dir/ckpt", Some(triggerMs))
      else StreamPipeline.runServicesWatched(reader.as[WatchedService], podsDf, c,
        s"$dir/ckpt", Some(triggerMs))
    log.watch(q.runId, () => stub.maxPublishedRv)
    require(Clock.await(60000)(stub.watchRequests.get > 0 || q.exception.isDefined),
      s"$name: the source never opened its watch")
    q.exception.foreach(e => throw e)
    if (gen.preloaded > 0) awaitCommitted(q, stub.maxPublishedRv, 60000)
    Phase(name, gen, stub, q, s"$dir/sink")
  }

  private def lastCommitted(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.sources.headOption)
      .map(s => ProgressLog.rv(s.endOffset)).getOrElse(0L)

  private def awaitCommitted(q: StreamingQuery, rv: Long, ms: Long): Boolean =
    Clock.await(ms)(lastCommitted(q) >= rv || q.exception.isDefined)

  private def stop(p: Phase): IndexedSeq[Batch] = {
    p.q.stop()
    p.stub.stop()
    p.q.exception.foreach(e => throw e)
    log.of(p.q.runId, Option(p.q.lastProgress).map(_.batchId).getOrElse(-1L))
  }

  /** One set-up: stub, query, first landed batch of one batch's worth of
    * lines (the set-up time). The three set-ups also show the pipeline to
    * the JIT before the measured phases. */
  private def setupOnce(i: Int): Double = {
    val t0 = System.nanoTime()
    val gen = newGen(cap, 90 + i)
    val p = start(s"setup$i", gen)
    p.stub.publish(gen.lines.iterator.drop(gen.preloaded))
    Clock.await(60000)(p.q.recentProgress.exists(_.numInputRows > 0) || p.q.exception.isDefined)
    val dt = Clock.secondsSince(t0)
    awaitCommitted(p.q, p.stub.maxPublishedRv, 30000)
    stop(p)
    dt
  }

  // ------------------------------------------------------------- phases

  /** Open-loop generator at `rate` lines/s for the phase; returns the
    * scheduled wall time (ms) of every generated line and how late the
    * generator ran (ms, per publish tick). */
  private def fixedRate(p: Phase): (Array[Double], Seq[Double]) = {
    val lines = p.gen.lines.drop(p.gen.preloaded)
    val n = math.min(lines.length, (rate * fixedMs / 1000).toInt)
    val sched = new Array[Double](n)
    val lateness = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.currentTimeMillis() + 20
    for (i <- 0 until n) sched(i) = t0 + i * 1000.0 / rate
    val th = new Thread(() => {
      var i = 0
      while (i < n) {
        val now = System.currentTimeMillis()
        if (sched(i) > now) Thread.sleep(math.max(1L, (sched(i) - now).toLong))
        else {
          var j = i
          val t = System.currentTimeMillis()
          while (j < n && sched(j) <= t) j += 1
          lateness += (t - sched(i))
          p.stub.publish(lines.iterator.slice(i, j))
          i = j
        }
      }
    }, "bench-generator")
    th.start(); th.join()
    (sched, lateness.toSeq)
  }

  private def countIn(sorted: Array[Long], lo: Long, hi: Long): Long = {
    def idx(v: Long) = { // first index with value > v
      var a = 0; var b = sorted.length
      while (a < b) { val m = (a + b) >>> 1; if (sorted(m) > v) b = m else a = m + 1 }
      a
    }
    (idx(hi) - idx(lo)).toLong
  }

  // -------------------------------------------------------------- checks

  /** Checks the landed output of the measured phases; returns
    * (attempted, failed, per-phase counts). Each phase must land exactly
    * the records whose first rv is at or below the highest rv it landed
    * or committed; live_events records must also equal the batch-form
    * EventPipeline.events over the same input. */
  private def check(phases: Seq[(Phase, IndexedSeq[Batch])]): (Long, Long, Map[String, Any]) = {
    val tIds = System.nanoTime()
    val perPhase = phases.map { case (p, batches) =>
      val glob = if (events) s"${p.sinkDir}/bench/part-*.log.gz" else s"${p.sinkDir}/bench_*/part-*"
      val landed = landedLines(p.sinkDir)
      val ids = landed.map(idOf)
      val exp = p.gen.expectedFirstRv
      val committed = batches.lastOption.map(_.endRv).getOrElse(0L)
      val x = (ids.iterator.flatMap(exp.get) ++ Iterator(committed)).max
      val expIds = exp.iterator.collect { case (id, rv) if rv <= x => id }.toSet
      val idSet = ids.toSet
      val counts = Map("expected" -> expIds.size.toLong, "landed" -> ids.length.toLong,
        "missing" -> (expIds -- idSet).size.toLong, "extra" -> (idSet -- exp.keySet).size.toLong,
        "duplicated" -> (ids.length - idSet.size).toLong)
      (p, glob, landed.zip(ids), x, counts)
    }
    val idsS = Clock.secondsSince(tIds)
    val tRecords = System.nanoTime()
    val wrong: Map[String, Long] =
      if (events) {
        // One batch-form job over both phases (their uids are disjoint).
        val input = perPhase.map { case (p, _, _, x, _) =>
          val g = p.gen.asInstanceOf[EventGen]
          g.events.iterator.zip(g.lines.iterator).collect { case (e, l) if l.rv <= x => e }.toSeq
        }.reduce(_ ++ _)
        val raw = spark.createDataset(spark.sparkContext.parallelize(input,
          spark.sparkContext.defaultParallelism))(Encoders.product[KubeEvent]).toDF()
        val l9 = EventPipeline.events(raw, objectsDf, nodesDf, conf(work)).toDF()
        val want = l9.select(col("id"), to_json(struct(l9.columns.toIndexedSeq.map(col): _*)))
          .as[(String, String)].collect().toMap
        Map("all" -> perPhase.map(_._3.count { case (line, id) => want.get(id).exists(_ != line) })
          .sum.toLong)
      } else perPhase.map { case (p, glob, _, _, _) =>
        val g = p.gen.asInstanceOf[ServiceGen]
        val recs = if (dirStats(p.sinkDir, _.startsWith("part-"))._2 == 0) Array.empty[(String, String, Int)]
          else spark.read.schema(Encoders.product[L9Event].schema).json(glob)
            .select(col("id"), col("reason"), size(col("pod"))).as[(String, String, Int)].collect()
        p.name -> recs.count { case (id, reason, pods) =>
          g.expectedRecord.get(id).exists(_ != ((reason, pods)))
        }.toLong
      }.toMap
    val recordsS = Clock.secondsSince(tRecords)
    val attempted = perPhase.map(_._5("expected")).sum
    val failed = perPhase.map { case (_, _, _, _, c) =>
      c("missing") + c("extra") + c("duplicated") }.sum + wrong.values.sum
    (attempted, failed, perPhase.map { case (p, _, _, _, c) => p.name -> c }.toMap ++
      Map("wrong" -> wrong, "ids_s" -> idsS, "records_s" -> recordsS))
  }

  /** The landed NDJSON lines of a sink dir, read in this JVM: the part
    * files of runV2's `bench/` dir (events) or of NdjsonSink's `bench_*`
    * dirs (services), gzip or plain by extension. */
  private def landedLines(sinkDir: String): Array[String] = {
    def ls(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten.sortBy(_.getName)
    val dirs = if (events) Seq(new File(sinkDir, "bench"))
      else ls(new File(sinkDir)).filter(d => d.isDirectory && d.getName.startsWith("bench_"))
    dirs.flatMap(ls).filter(f => f.isFile && f.getName.startsWith("part-") &&
        (!events || f.getName.endsWith(".log.gz"))).flatMap { f =>
      val raw = new java.io.FileInputStream(f)
      val in = if (f.getName.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw, 1 << 16) else raw
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    }.toArray
  }

  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** The top-level "id" field of one JSON line (null if it has none). */
  private def idOf(line: String): String = {
    import com.fasterxml.jackson.core.JsonToken
    val p = jsonFactory.createParser(line)
    try {
      var id: String = null
      if (p.nextToken() == JsonToken.START_OBJECT)
        while (id == null && p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.getCurrentName
          p.nextToken()
          if (name == "id") id = p.getValueAsString else p.skipChildren()
        }
      id
    } finally p.close()
  }

  private def dirStats(dir: String, part: String => Boolean): (Double, Double) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(dir)).filter(f => part(f.getName))
    (fs.map(_.length).sum.toDouble, fs.length.toDouble)
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
  }

  // ----------------------------------------------------------------- run

  def run(sessionS: Double, engine: Option[EngineProbe]): Outcome = {
    val tFix = System.nanoTime()
    val genA = newGen((rate * fixedMs / 1000).toInt, 1)
    val genB = newGen(backlog, 2)
    val fixtureS = Clock.secondsSince(tFix)
    val tSetup = System.nanoTime()
    val setups = (1 to setupReps).map(setupOnce)
    val setupS = sessionS + fixtureS + Stats.median(setups)

    val setupWallS = Clock.secondsSince(tSetup)
    val tPhases = System.nanoTime()
    val eng0 = engine.map(_.snapshot())
    val gc0 = gcSeconds()
    // Drain phase: the whole backlog is published at once; throughput
    // over the steady batches (all after the JIT warm-up ones, except a
    // short last one).
    val b = start("drain", genB)
    b.stub.publish(b.gen.lines.iterator.drop(b.gen.preloaded))
    val pubB = b.stub.maxPublishedRv
    Clock.await(drainTimeoutMs)(lastCommitted(b.q) >= pubB || b.q.exception.isDefined)
    val batchesB = stop(b).filter(_.rows > 0)
    // Fixed-rate phase: lag per line from its scheduled time to the
    // commit of the batch holding its rv.
    val a = start("fixed", genA)
    val (sched, lateness) = fixedRate(a)
    val pubA = a.stub.maxPublishedRv
    awaitCommitted(a.q, pubA, 30000)
    val stopA = System.currentTimeMillis()
    val batchesA = stop(a)
    val linesA = a.gen.lines.drop(a.gen.preloaded)
    val warmEnd = sched.headOption.getOrElse(0.0) + fixedMs * 0.3
    var seenRv = a.gen.lines.take(a.gen.preloaded).map(_.rv).maxOption.getOrElse(0L)
    val lags = sched.indices.flatMap { i =>
      val rv = linesA(i).rv
      val fresh = rv > seenRv // a stale re-delivery repeats an old rv
      seenRv = math.max(seenRv, rv)
      if (!fresh || sched(i) < warmEnd) None
      else {
        val commit = batchesA.find(b => b.rows > 0 && b.startRv < rv && rv <= b.endRv)
          .map(_.commitMs.toDouble).getOrElse(stopA.toDouble)
        Some((commit - sched(i)) / 1000.0)
      }
    }

    val eng1 = engine.map(_.snapshot())
    val gc1 = gcSeconds()
    val rss = Rss.peakMb()
    val seedRv = b.gen.lines.take(b.gen.preloaded).map(_.rv).maxOption.getOrElse(0L)
    val drainBatches = batchesB.filter(_.endRv > seedRv)
    val steady = {
      val body = drainBatches.drop(warmBatches)
      if (body.length > 1 && body.last.rows < cap) body.dropRight(1) else body
    }
    // Per steady batch: records it landed over the time since the previous
    // batch committed; the median keeps a short host stall from moving it.
    val firstRvs = b.gen.expectedFirstRv.valuesIterator.toArray.sorted
    val landed = steady.map(x => countIn(firstRvs, x.startRv, x.endRv))
    val eps = Stats.median(drainBatches.drop(warmBatches - 1).zip(steady).zip(landed).map {
      case ((prev, x), n) => n / ((x.commitMs - prev.commitMs) / 1000.0)
    })
    val full = steady.filter(_.rows >= cap)
    val passS = Stats.median((if (full.nonEmpty) full else steady)
      .map(_.durations.getOrElse("triggerExecution", 0L) / 1000.0))

    val phasesS = Clock.secondsSince(tPhases)
    val tCheck = System.nanoTime()
    val (attempted, failed, checkInfo) = check(Seq(a -> batchesA, b -> batchesB))
    val checkS = Clock.secondsSince(tCheck)
    val tTrace = System.nanoTime()

    val e2e = Map(
      "setup_s" -> setupS,
      "sustained_eps" -> eps,
      "lag_p50_s" -> Stats.quantile(lags, 0.5),
      "lag_p99_s" -> Stats.median(lags.grouped(math.max(1, (lags.length + lagWindows - 1) / lagWindows))
        .map(Stats.quantile(_, 0.99)).toSeq),
      "pass_s" -> passS,
      "rss_peak_mb" -> rss)

    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (engine.isDefined) {
      def med(xs: Seq[Batch], f: Batch => Double) = Stats.median(xs.map(f))
      def dur(k: String)(x: Batch) = x.durations.getOrElse(k, 0L).toDouble
      val nonEmptyA = batchesA.filter(_.rows > 0)
      layers("sources.k8s.decode_eps") = decodeEps(genB)
      layers("sources.k8s.latest_offset_ms_p50") = med(nonEmptyA, dur("latestOffset"))
      layers("sources.k8s.get_batch_ms_p50") = med(nonEmptyA, dur("getBatch"))
      layers("sources.k8s.offset_lag_p50") = med(nonEmptyA, x => (x.genMaxRv - x.endRv).toDouble)
      layers("sources.k8s.watch_requests") = (a.stub.watchRequests.get + b.stub.watchRequests.get).toDouble
      layers("sources.k8s.list_requests") = (a.stub.listRequests.get + b.stub.listRequests.get).toDouble
      layers("sources.k8s.bytes_served") = (a.stub.bytesServed.get + b.stub.bytesServed.get).toDouble
      layers("streaming.batches") = (nonEmptyA.length + batchesB.length).toDouble
      layers("streaming.rows_per_batch_p50") = med(steady, _.rows.toDouble)
      layers("streaming.trigger_ms_p50") = med(nonEmptyA, dur("triggerExecution"))
      layers("streaming.trigger_ms_p99") = Stats.quantile(nonEmptyA.map(dur("triggerExecution")), 0.99)
      layers("streaming.planning_ms_p50") = med(nonEmptyA, dur("queryPlanning"))
      layers("streaming.commit_ms_p50") = med(nonEmptyA, dur("commitOffsets"))
      layers("streaming.add_batch_ms_p50") = med(steady, dur("addBatch"))
      layers("streaming.state_rows") = batchesB.map(_.stateRows.toDouble).maxOption.getOrElse(0.0)
      layers("streaming.state_mem_bytes") = batchesB.map(_.stateMemBytes.toDouble).maxOption.getOrElse(0.0)
      layers("streaming.state_commit_ms_p50") = med(steady, _.stateCommitMs.toDouble)
      layers("streaming.dropped_by_watermark") = (batchesA ++ batchesB).map(_.droppedByWatermark).sum.toDouble
      // Both live workloads run the batch-form stage probes of both
      // pipelines: on its own drain input, and on a fresh seeded stream
      // of the other kind.
      layers ++= eventStages(if (events) genB.asInstanceOf[EventGen] else eventGen(4 * eventCap, 3))
      layers ++= serviceStages(if (events) serviceGen(4 * serviceCap, 3) else genB)
      val (bytes, files) = Seq(a.sinkDir, b.sinkDir).map(dirStats(_, _.startsWith("part-")))
        .foldLeft((0.0, 0.0)) { case ((x, y), (u, v)) => (x + u, y + v) }
      val (probeBytes, probeFiles) = dirStats(s"$work/stages", _.startsWith("part-"))
      layers("sources.ndjson.bytes_written") = if (events) bytes else 0.0
      layers("sources.ndjson.files_written") = if (events) files else 0.0
      layers("sinks.bytes_written") = if (events) probeBytes else bytes
      layers("sinks.files_written") = if (events) probeFiles else files
      layers ++= EngineProbe.delta(eng0.get, eng1.get)
    }
    Outcome(e2e, layers.toMap, attempted, failed, Map(
      "setup_runs_s" -> setups, "session_s" -> sessionS, "fixture_s" -> fixtureS,
      "setup_wall_s" -> setupWallS, "phases_wall_s" -> phasesS,
      "check_wall_s" -> checkS, "trace_wall_s" -> Clock.secondsSince(tTrace),
      "fixed_rate_lines_per_s" -> rate, "fixed_rate_lines" -> sched.length,
      "lag_samples" -> lags.length,
      "generator_late_ms_p99" -> Stats.quantile(lateness, 0.99),
      "generator_late_ms_max" -> lateness.maxOption.getOrElse(0.0),
      "drain_backlog" -> backlog, "max_events_per_trigger" -> cap,
      "drain_warm_batches" -> warmBatches, "lag_p99_all_s" -> Stats.quantile(lags, 0.99),
      "trigger_ms" -> triggerMs, "drain_batches" -> drainBatches.length,
      "steady_batches" -> steady.length, "steady_landed" -> landed.sum,
      "check" -> checkInfo,
      "jvm_gc_s" -> (gc1 - gc0),
      "drain_batch_ms" -> drainBatches.map(x => Seq(x.rows, x.durations.getOrElse("triggerExecution", 0L), x.durations.getOrElse("addBatch", 0L))),
      "fixed_batch_ms" -> batchesA.filter(_.rows > 0).map(x => Seq(x.rows, x.durations.getOrElse("triggerExecution", 0L)))))
  }

  // ------------------------------------------------------- traced probes

  /** Standalone HttpWatchClient drain of the drain phase's own lines. */
  private def decodeEps(g: GenStream): Double = {
    val stub = new StubApiServer(resource, g.lines.length)
    stub.publish(g.lines.iterator.take(g.preloaded))
    val client =
      if (events) HttpWatchClient.events(stub.url)
      else HttpWatchClient.services(stub.url)
    try {
      Clock.await(30000)(stub.watchRequests.get > 0)
      Clock.await(30000)(client.latestRv() >= stub.maxPublishedRv)
      val t0 = System.nanoTime()
      stub.publish(g.lines.iterator.drop(g.preloaded))
      val target = stub.maxPublishedRv
      Clock.await(60000, 1)(client.latestRv() >= target)
      (g.lines.length - g.preloaded) / Clock.secondsSince(t0)
    } finally { client.close(); stub.stop() }
  }

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    Clock.secondsSince(t0)
  }

  /** Batch-form k8s stages on micro-batch-sized chunks of the drain input;
    * each stage is cached and materialized on its own, so its time
    * excludes the stages before it. */
  private def eventStages(g: EventGen): Map[String, Double] = {
    val chunks = g.events.grouped(eventCap).take(4).toSeq
    val c = conf(s"$work/stages")
    val rows = chunks.map { chunk =>
      val raw = spark.createDataset(chunk.toSeq)(Encoders.product[KubeEvent]).toDF().cache()
      val nRaw = raw.count()
      val el = EventPipeline.eligible(raw, c).cache(); val tEl = noop(el)
      val de = EventPipeline.dedupEvents(el).cache(); val tDe = noop(de)
      val en = EventPipeline.enrich(de, objectsDf, nodesDf).cache(); val tEn = noop(en)
      val tPr = noop(EventPipeline.projectL9(en).toDF())
      val nEl = el.count(); val nDe = de.count()
      val hits = en.filter(col("__obj_uid").isNotNull).count()
      Seq(raw, el, de, en).foreach(_.unpersist(blocking = true))
      (tEl, tDe, tEn, tPr, nRaw, nEl, nDe, hits)
    }
    val tail = rows.drop(1) // the first chunk carries codegen
    Map(
      "k8s.eligible_s" -> Stats.median(tail.map(_._1)),
      "k8s.dedup_s" -> Stats.median(tail.map(_._2)),
      "k8s.enrich_s" -> Stats.median(tail.map(_._3)),
      "k8s.project_s" -> Stats.median(tail.map(_._4)),
      "k8s.filter_pass_ratio" -> rows.map(_._6).sum.toDouble / rows.map(_._5).sum,
      "k8s.dedup_keep_ratio" -> rows.map(_._7).sum.toDouble / rows.map(_._6).sum,
      "k8s.enrich_hit_ratio" -> rows.map(_._8).sum.toDouble / rows.map(_._7).sum)
  }

  private def serviceStages(g: GenStream): Map[String, Double] = {
    val svcs = g.lines.map { l =>
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l.obj)
      def m(x: com.fasterxml.jackson.databind.JsonNode): Map[String, String] = {
        val b = Map.newBuilder[String, String]
        x.properties().forEach(e => b += e.getKey -> e.getValue.asText())
        b.result()
      }
      val meta = n.path("metadata")
      KubeService(meta.path("uid").asText(), meta.path("resourceVersion").asText(),
        meta.path("name").asText(), meta.path("namespace").asText(),
        m(meta.path("labels")), m(meta.path("annotations")), m(n.path("spec").path("selector")))
    }
    val chunks = svcs.drop(g.preloaded).grouped(serviceCap).take(4).toSeq
    val rows = chunks.zipWithIndex.map { case (chunk, i) =>
      val df = chunk.toDF().cache(); df.count()
      val sp = EventPipeline.servicePods(df, podsDf).cache()
      val tSp = noop(sp)
      val pairs = sp.count()
      val se = EventPipeline.serviceEvents(df, podsDf, "updatedService").toDF().cache()
      val tSe = noop(se)
      val t0 = System.nanoTime()
      NdjsonSink.write(se, s"$work/stages", "svc", i.toLong, 10000, gzip = true)
      val tW = Clock.secondsSince(t0)
      Seq(df, sp, se).foreach(_.unpersist(blocking = true))
      (tSp, tSe, tW, pairs)
    }
    val tail = rows.drop(1)
    Map(
      "k8s.service_pods_s" -> Stats.median(tail.map(_._1)),
      "k8s.service_events_s" -> Stats.median(tail.map(_._2)),
      "k8s.selector_pairs" -> Stats.median(rows.map(_._4.toDouble)),
      "sinks.write_s" -> Stats.median(tail.map(_._3)))
  }
}
