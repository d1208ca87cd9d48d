package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.codec.ConfluentWire
import graft.core.{ArtifactCost, Sessions}
import graft.gen.{EventGenerator, KafkaEnvelope, ProductEvent}
import graft.ingest.RawIngest
import graft.medallion.TxMedallion
import graft.pipeline.Pipeline
import graft.schema.InMemorySchemaRegistry

/** One benchmark run in its own JVM: set up, measure one workload
  * through graft's public entry points for a given number of seconds,
  * check every output, and write `result.json` (plus `spans.json` when
  * traced) into the output directory. `run.py` drives it; see there for
  * the workloads and metrics.
  *
  * Every workload is a closed loop on one driver thread. Inputs are
  * generated from the seed before each timer starts.
  */
object Main {

  final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                          out: String, data: String, events: Int, arrival: Int,
                          setups: Int, stride: Int, extra: Seq[String], minOps: Int)

  /** One timed operation: wall seconds and this JVM's CPU seconds (all
    * threads, so JIT, GC and Spark's executors count too).
    */
  final case class Op(name: String, seconds: Double, cpu: Double, traced: Boolean,
                      failure: Option[String])

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  val DayStart = new java.sql.Timestamp(java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli)
  val DayStartSec: Long = DayStart.getTime / 1000L

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // every flag is required: run.py owns the sizes
    val cfg = Config(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("out"), kv("data"), kv("events").toInt, kv("arrival").toInt,
      kv("setups").toInt, kv("stride").toInt, kv("extra").split(",").toSeq.filter(_.nonEmpty),
      kv("min-ops").toInt)
    val run = new Run(cfg)
    val result = cfg.workload match {
      case "medallion_backfill" => run.backfill()
      case "medallion_incremental" => run.incremental()
      case "operator_suite" => run.suite()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Json.write(s"${cfg.out}/result.json", result ++ Map("peak_rss_mb" -> peakRssMb))
    if (cfg.trace) Json.write(s"${cfg.out}/spans.json", run.spans.toJson)
    run.stop()
  }

  /** High-water resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest order statistic with at least ten samples beyond it,
    * never below the upper median: with fewer than 21 samples that is
    * the upper median (or the maximum for one or two samples). Returns
    * (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val i = math.max(s.size - 11, s.size / 2)
    (s(i), 100.0 * (i + 1) / s.size)
  }

  def cause(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getName}: ${Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString}"
      .take(400)
  }
}

final class Run(cfg: Main.Config) {
  import Main._

  val spans = new Spans(cfg.trace)
  private var spark: SparkSession = _
  private var recorder: Recorder = _
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val tracedWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val setupTimes = mutable.ArrayBuffer.empty[Double]
  private val tmpRoot = Files.createTempDirectory("graftbench").toString

  def stop(): Unit = if (spark != null) spark.stop()

  private def freshDir(tag: String): String = Files.createTempDirectory(Paths.get(tmpRoot), tag).toString

  private def deleteDir(p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
  }

  /** Start a session `cfg.setups` times and keep the last. Warm-ups
    * are not part of set-up: the first op of each workload runs in the
    * cold process and is reported on its own as `first_s`.
    */
  private def setUp(): Unit = {
    (1 to cfg.setups).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = spans("setup")(Sessions.local("graftbench"))
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    recorder = new Recorder(spark)
  }

  /** Time one operation; listeners are attached only when `traced`. A
    * throw or a failed check (`Some(cause)`) counts as a failed op.
    */
  private def timeOp(name: String, traced: Boolean)(body: => Option[String]): Op = {
    val c0 = cpuSeconds
    val t0 = System.nanoTime()
    val failure =
      try spans(name)(if (traced) recorder.traced(body) else body)
      catch { case t: Throwable => Some(cause(t)) }
    val t1 = System.nanoTime()
    if (traced) tracedWindows += (t0 -> t1)
    val op = Op(name, (t1 - t0) / 1e9, cpuSeconds - c0, traced, failure)
    ops += op
    op
  }

  /** Durations (s) of the spans named `name` inside traced ops. */
  private def tracedSpans(name: String): Seq[Double] =
    spans.named(name).filter(s => tracedWindows.exists { case (a, b) => s.startNs >= a && s.endNs <= b })
      .map(_.seconds)

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The measured loop runs for `cfg.seconds` and for at least
    * `cfg.minOps` ops after the first (two when traced, so that both a
    * traced and an untraced op exist).
    */
  private def measuredEnough(done: Int, t0: Long): Boolean =
    done > math.max(cfg.minOps, if (cfg.trace) 2 else 1) &&
      (System.nanoTime() - t0) / 1e9 >= cfg.seconds

  private def common(extra: Map[String, Any]): Map[String, Any] = Map(
    "workload" -> cfg.workload,
    "seed" -> cfg.seed,
    "setup_s" -> median(setupTimes.toSeq),
    "setup_runs_s" -> setupTimes.toSeq,
    "attempted" -> ops.size,
    "failures" -> ops.collect { case Op(n, _, _, _, Some(c)) => Map("op" -> n, "cause" -> c) },
    "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "traced" -> o.traced)),
  ) ++ extra

  /** e2e op statistics: the first op runs in a cold process and is
    * reported alone as `first_s`; the others are warm, and their
    * statistics use the untraced ones. The trace overhead is the
    * traced-minus-untraced median of the warm ops.
    */
  private def opStats(measured: Seq[Op]): Map[String, Any] = {
    val warm = measured.drop(1)
    val plain = warm.filterNot(_.traced).map(_.seconds)
    val (t, p) = tail(plain)
    val traced = warm.filter(_.traced).map(_.seconds)
    Map("first_s" -> measured.head.seconds, "first_cpu_s" -> measured.head.cpu,
      "op_cpu_s" -> mean(warm.filterNot(_.traced).map(_.cpu)),
      "op_p50_s" -> median(plain), "op_mean_s" -> mean(plain),
      "op_tail_s" -> t, "op_tail_pct" -> p, "ops_n" -> plain.size,
      "trace_overhead_s" -> (if (traced.nonEmpty) median(traced) - median(plain) else 0.0))
  }

  private def e2e(stats: Map[String, Any]): Map[String, Any] =
    Map("setup_s" -> median(setupTimes.toSeq)) ++
      Seq("first_s", "first_cpu_s", "op_p50_s", "op_mean_s", "op_tail_s", "op_cpu_s").map(k => k -> stats(k))

  private def sparkLayers(perOp: Double): Map[String, Double] = {
    val r = recorder
    val keys = Seq("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes")
    keys.map(k => s"spark.$k" -> r.totals(k) / perOp).toMap ++ Map(
      "spark.task_skew" -> r.taskSkew,
      "spark.driver_only_ms" -> r.driverOnlyMs / perOp,
      "plans.analysis_ms" -> r.totals("analysis_ms") / perOp,
      "plans.optimization_ms" -> r.totals("optimization_ms") / perOp,
      "plans.planning_ms" -> r.totals("planning_ms") / perOp,
      "plans.executions" -> r.totals("executions") / perOp)
  }

  // ---------------------------------------------------------------
  // medallion: input generation and the two chains
  // ---------------------------------------------------------------

  private def stream(envs: Seq[KafkaEnvelope]): MemoryStream[KafkaEnvelope] = {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val st = MemoryStream[KafkaEnvelope]
    st.addData(envs)
    st
  }

  /** The reference's 4-query parquet DAG over `envs`; returns gold. */
  private def parquetChain(envs: Seq[KafkaEnvelope], reg: InMemorySchemaRegistry): Array[Row] = {
    val st = stream(envs)
    val base = freshDir("pq")
    val rows = spans("pipeline.run")(
      Pipeline.run(spark, st.toDF(), reg, ConfluentWire, Pipeline.Paths(base), DayStart)
    )
    val out = spans("gold.read")(rows.collect())
    deleteDir(base)
    out
  }

  /** RawIngest.run + TxMedallion.run over fresh tables; returns gold. */
  private def txChain(envs: Seq[KafkaEnvelope], reg: InMemorySchemaRegistry): Array[Row] = {
    val st = stream(envs)
    val base = freshDir("tx")
    spans("ingest.run")(RawIngest.run(st.toDF(), reg, ConfluentWire, s"$base/raw",
      s"$base/_checkpoints/raw").awaitTermination())
    val t = TxMedallion.tables(spark, base)
    spans("medallion.tx.run")(TxMedallion.run(spark, s"$base/raw", t, s"$base/_checkpoints", DayStart))
    val out = spans("gold.read")(t.gold.read().collect())
    deleteDir(base)
    out
  }

  def backfill(): Map[String, Any] = {
    setUp()
    val gen = new EventGenerator(seed = cfg.seed)
    val reg = new InMemorySchemaRegistry
    val events = gen.events(cfg.events, duplicateEvery = 9)
    val envs = gen.envelopes(events, reg, ConfluentWire)
    val expected = ExpectedGold.of(events, DayStartSec)
    val pq = mutable.ArrayBuffer.empty[Double]
    val tx = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (!measuredEnough(i, t0)) {
      val traced = cfg.trace && i % 2 == 0 && i > 0
      timeOp("backfill", traced) {
        val a0 = System.nanoTime()
        val g1 = parquetChain(envs, reg)
        val a1 = System.nanoTime()
        val g2 = txChain(envs, reg)
        val a2 = System.nanoTime()
        if (!traced && i > 0) { pq += (a1 - a0) / 1e9; tx += (a2 - a1) / 1e9 }
        ExpectedGold.diff(expected, ExpectedGold.fromSpark(g1)).map("parquet chain: " + _)
          .orElse(ExpectedGold.diff(expected, ExpectedGold.fromSpark(g2)).map("tx chain: " + _))
      }
      i += 1
    }
    val measured = ops.toSeq
    val stats = opStats(measured)
    val nTraced = math.max(1, measured.count(_.traced)).toDouble
    val layers = if (!cfg.trace) Map.empty[String, Double] else
      medallionLayers(nTraced) ++ ingestLayers(nTraced) ++ txLayers(nTraced) ++ sparkLayers(nTraced) ++
        Map("trace.overhead_s" -> stats("trace_overhead_s").asInstanceOf[Double])
    common(Map(
      "e2e" -> e2e(stats),
      "named" -> Map(
        "backfill_events_per_s" -> (if (pq.isEmpty) 0.0 else cfg.events / median(pq.toSeq)),
        "backfill_tx_events_per_s" -> (if (tx.isEmpty) 0.0 else cfg.events / median(tx.toSeq)),
        "events" -> cfg.events),
      "stats" -> stats,
      "layers" -> layers))
  }

  private def ingestLayers(n: Double): Map[String, Double] = {
    val r = recorder
    val q = "graftRawIngest"
    Map(
      "ingest.wall_s" -> mean(tracedSpans("ingest.run")),
      "ingest.rows" -> r.stream(q, "numInputRows") / n,
      "ingest.add_batch_ms" -> r.stream(q, "addBatch") / n,
      "ingest.query_planning_ms" -> r.stream(q, "queryPlanning") / n,
      "ingest.wal_commit_ms" -> r.stream(q, "walCommit") / n,
      "ingest.latest_offset_ms" -> r.stream(q, "latestOffset") / n)
  }

  private def medallionLayers(n: Double): Map[String, Double] = {
    val r = recorder
    val stages = Seq("bronze" -> "graftBronze", "silver" -> "graftSilver", "gold" -> "graftGold")
    stages.flatMap { case (s, q) =>
      Seq(s"medallion.$s.trigger_ms" -> r.stream(q, "triggerExecution") / n,
        s"medallion.$s.add_batch_ms" -> r.stream(q, "addBatch") / n)
    }.toMap ++ Map(
      "medallion.silver.rows_in" -> r.stream("graftSilver", "numInputRows") / n,
      "medallion.silver.state_rows" -> r.stream("graftSilver", "state_rows"),
      "medallion.silver.state_bytes" -> r.stream("graftSilver", "state_bytes"),
      "medallion.silver.state_commit_ms" -> r.stream("graftSilver", "state_commit_ms") / n,
      "medallion.gold.state_rows" -> r.stream("graftGold", "state_rows"),
      "medallion.planning_ms" -> stages.map(s => r.stream(s._2, "queryPlanning")).sum / n,
      "medallion.wal_ms" -> stages.map(s => r.stream(s._2, "walCommit")).sum / n)
  }

  /** TxMedallion.run split into bronze (its streaming query's progress)
    * and the remainder (silver increment + gold rebuild), per traced op.
    */
  private def txLayers(n: Double): Map[String, Double] = {
    val wall = mean(tracedSpans("medallion.tx.run"))
    val bronzeMs = recorder.stream("graftTxBronze", "triggerExecution") / n
    val perTrigger = txSilverGold.toSeq
    val tenth = math.max(1, perTrigger.size / 10)
    val growth =
      if (perTrigger.size < 2) 0.0
      else median(perTrigger.takeRight(tenth)) / math.max(1e-9, median(perTrigger.take(tenth)))
    Map("medallion.tx.wall_s" -> wall,
      "medallion.tx.bronze_ms" -> bronzeMs,
      "medallion.tx.silver_gold_ms" -> (if (perTrigger.nonEmpty) median(perTrigger) else math.max(0.0, wall * 1000 - bronzeMs)),
      "medallion.tx.growth" -> growth)
  }

  /** silver_gold_ms of each traced trigger, in order (incremental). */
  private val txSilverGold = mutable.ArrayBuffer.empty[Double]

  // ---------------------------------------------------------------
  // medallion_incremental
  // ---------------------------------------------------------------

  /** Arrival `i`: fresh events (timestamps continue after the previous
    * arrival), ~10% stamped before dayStart, ~5% exact replays of
    * earlier arrivals' events, and a within-arrival replay every 9th.
    */
  private final class Arrivals(seed: Long, size: Int) {
    private val gen = new EventGenerator(seed, DayStartSec)
    private val early = new EventGenerator(seed ^ 0xea71L, DayStartSec - 86400L)
    private val rnd = new Random(seed)
    private val seen = mutable.ArrayBuffer.empty[ProductEvent]
    val registry = new InMemorySchemaRegistry
    private var offset = 0L

    def next(): (Seq[ProductEvent], Seq[KafkaEnvelope]) = {
      val nEarly = size / 10
      val nReplay = if (seen.isEmpty) 0 else size / 20
      val fresh = gen.events(size - nEarly - nReplay, duplicateEvery = 9)
        .map(e => e.copy(timestamp = e.timestamp + offset))
      val pre = early.events(nEarly)
      val replays = Seq.fill(nReplay)(seen(rnd.nextInt(seen.size)))
      val batch = rnd.shuffle(fresh ++ pre ++ replays)
      seen ++= fresh ++ pre
      val envs = gen.envelopes(batch, registry, ConfluentWire, offset)
      offset += batch.size
      (batch, envs)
    }
  }

  private final class Chain(base: String) {
    val t: TxMedallion.Tables = TxMedallion.tables(spark, base)
    private val st = {
      val s = spark
      import s.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      MemoryStream[KafkaEnvelope]
    }
    def trigger(envs: Seq[KafkaEnvelope], reg: InMemorySchemaRegistry): Array[Row] = {
      st.addData(envs)
      spans("ingest.run")(RawIngest.run(st.toDF(), reg, ConfluentWire, s"$base/raw",
        s"$base/_checkpoints/raw").awaitTermination())
      spans("medallion.tx.run")(TxMedallion.run(spark, s"$base/raw", t, s"$base/_checkpoints", DayStart))
      spans("gold.read")(t.gold.read().collect())
    }
  }

  def incremental(): Map[String, Any] = {
    setUp()
    val arrivals = new Arrivals(cfg.seed, cfg.arrival)
    val chain = new Chain(freshDir("inc"))
    val expected = new ExpectedGold.State
    val stateMs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (!measuredEnough(i, t0)) {
      val (events, envs) = arrivals.next()
      expected.add(events)
      val traced = cfg.trace && i % 2 == 0 && i > 0
      val bronzeBefore = if (traced) recorder.stream("graftTxBronze", "triggerExecution") else 0.0
      timeOp("trigger", traced) {
        val gold = chain.trigger(envs, arrivals.registry)
        ExpectedGold.diff(expected.gold(DayStartSec), ExpectedGold.fromSpark(gold))
      }
      if (traced) {
        val wall = spans.named("medallion.tx.run").last.seconds * 1000
        txSilverGold += math.max(0.0, wall - (recorder.stream("graftTxBronze", "triggerExecution") - bronzeBefore))
        stateMs += spans("core.tx.state") {
          val s0 = System.nanoTime(); chain.t.silver.state(); (System.nanoTime() - s0) / 1e6
        }
      }
      i += 1
    }
    val measured = ops.toSeq
    val stats = opStats(measured)
    val nTraced = math.max(1, measured.count(_.traced)).toDouble
    val layers = if (!cfg.trace) Map.empty[String, Double] else {
      val t = chain.t
      val (sv, bv, gv) = (t.silver.state(), t.bronze.state(), t.gold.version)
      ingestLayers(nTraced) ++ txLayers(nTraced) ++ sparkLayers(nTraced) ++ Map(
        "core.tx.state_ms" -> median(stateMs.toSeq),
        "core.tx.silver_versions" -> (sv.version + 1).toDouble,
        "core.tx.silver_files" -> sv.files.size.toDouble,
        "core.tx.bronze_files" -> bv.files.size.toDouble,
        "core.tx.commits" -> (sv.version + bv.version + gv + 3).toDouble,
        "trace.overhead_s" -> stats("trace_overhead_s").asInstanceOf[Double])
    }
    common(Map(
      "e2e" -> e2e(stats),
      "named" -> Map("trigger_p50_s" -> stats("op_p50_s"), "trigger_tail_s" -> stats("op_tail_s"),
        "triggers" -> stats("ops_n"), "arrival_events" -> cfg.arrival),
      "stats" -> stats,
      "layers" -> layers))
  }

  // ---------------------------------------------------------------
  // operator_suite
  // ---------------------------------------------------------------

  /** SparkEntry's 23 modules, by name, in SparkEntry's order. */
  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = {
    import graft.ext._
    Seq(
      "Relational" -> Relational.queries,
      "TpchExtra" -> TpchExtra.queries,
      "EventQueries" -> EventQueries.queries,
      "TextAnalysis" -> TextAnalysis.queries,
      "Similarity" -> Similarity.queries,
      "MinHashDedup" -> MinHashDedup.queries,
      "IvfIndex" -> IvfIndex.queries,
      "PqIndex" -> PqIndex.queries,
      "SqIndex" -> SqIndex.queries,
      "AsofJoin" -> AsofJoin.queries,
      "ScaleOps" -> ScaleOps.queries,
      "DedupClusters" -> DedupClusters.queries,
      "Multimodal" -> Multimodal.queries,
      "LangTools" -> LangTools.queries,
      "Curation" -> Curation.queries,
      "GraphRank" -> GraphRank.queries,
      "IncrementalDedup" -> IncrementalDedup.queries,
      "WarcIngest" -> WarcIngest.queries,
      "JsonlIngest" -> JsonlIngest.queries,
      "UrlOps" -> UrlOps.queries,
      "CrawlRefresh" -> CrawlRefresh.queries,
      "CsvIngest" -> CsvIngest.queries,
      "CorpusBuild" -> CorpusBuild.queries,
    )
  }

  def suite(): Map[String, Any] = {
    val dir = cfg.data
    setUp()
    val all = graft.SparkEntry.queries
    val moduleOf = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    val oracle = graft.SparkEntry.oracleSql
    // every `stride`-th query in name order (a fixed, speed-blind
    // sample) plus the named extras
    val unknown = cfg.extra.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names = (all.keys.toSeq.sorted.zipWithIndex.collect { case (q, i) if i % cfg.stride == 0 => q }
      ++ cfg.extra).distinct.sorted

    type Result = (Double, Option[(Array[Row], org.apache.spark.sql.types.StructType)])
    def pass(tag: String, traced: Boolean): Map[String, Result] = {
      def body = names.map { q =>
        var out: Option[(Array[Row], org.apache.spark.sql.types.StructType)] = None
        val op = timeOp(s"query:$q", traced = false) {
          val df = all(q)(spark, dir)
          out = Some((spans(s"$tag.$q")(df.collect()), df.schema))
          None
        }
        q -> ((op.seconds, if (op.failure.isEmpty) out else None))
      }.toMap
      if (traced) recorder.traced(body) else body
    }

    val buildsBefore = ArtifactCost.snapshot.values.sum
    val t0 = System.nanoTime()
    val first = pass("first", cfg.trace)
    val firstTotals = if (cfg.trace) recorder.totals.clone() else mutable.Map.empty[String, Double]
    val buildsS = ArtifactCost.snapshot.values.sum - buildsBefore
    if (cfg.trace) { recorder = new Recorder(spark) }
    val steady = mutable.ArrayBuffer.empty[Map[String, Result]]
    while (steady.size < cfg.minOps || (System.nanoTime() - t0) / 1e9 < cfg.seconds)
      steady += pass("steady", traced = false)
    val tracedSteady = if (cfg.trace) Some(pass("steady_traced", traced = true)) else None
    val firstOps = ops.take(names.size).toSeq
    // results of the last steady pass are the ones checked
    val last = steady.last
    val outDir = s"${cfg.out}/results"
    val checks = names.flatMap { q =>
      last(q)._2.map { case (rows, schema) =>
        if (oracle.contains(q)) {
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
          q -> "oracle"
        } else q -> (if (rows.nonEmpty) "rows" else "empty")
      }
    }.toMap
    val emptyFailures = checks.collect { case (q, "empty") =>
      Map("op" -> s"check:$q", "cause" -> "rows-only query returned 0 rows")
    }
    val perQuery = names.map { q =>
      val st = steady.flatMap(_.get(q)).map(_._1).toSeq
      q -> Map("module" -> moduleOf.getOrElse(q, "other"), "first_s" -> first(q)._1,
        "steady_s" -> median(st), "steady_runs_s" -> st,
        "rows" -> last(q)._2.map(_._1.length.toLong).getOrElse(-1L),
        "check" -> checks.getOrElse(q, "failed"))
    }.toMap
    val passTotals = steady.map(_.values.map(_._1).sum).toSeq
    val steadyPerQuery = names.map(q => median(steady.flatMap(_.get(q)).map(_._1).toSeq))
    val evaluations = steady.flatMap(_.values.map(_._1)).toSeq
    val (tl, tp) = tail(evaluations)
    val firstTotal = firstOps.map(_.seconds).sum
    val steadyCpu = ops.drop(names.size).take(names.size * steady.size).map(_.cpu).toSeq
    val geomean = math.exp(steadyPerQuery.map(v => math.log(math.max(v, 1e-6))).sum / steadyPerQuery.size)
    val layers: Map[String, Double] = if (!cfg.trace) Map.empty else {
      val ext = modules.flatMap { case (m, _) =>
        val qs = names.filter(q => moduleOf.get(q).contains(m))
        Seq(s"ext.$m.first_s" -> qs.map(q => first(q)._1).sum,
          s"ext.$m.steady_s" -> qs.map(q => median(steady.flatMap(_.get(q)).map(_._1).toSeq)).sum)
      }.toMap
      val tracedTotal = tracedSteady.map(_.values.map(_._1).sum).getOrElse(0.0)
      ext ++ sparkLayers(1.0) ++ Map(
        "core.artifact_builds_s" -> buildsS,
        "spark.first.executor_run_ms" -> firstTotals.getOrElse("executor_run_ms", 0.0),
        "spark.first.shuffle_write_bytes" -> firstTotals.getOrElse("shuffle_write_bytes", 0.0),
        "spark.first.output_bytes" -> firstTotals.getOrElse("output_bytes", 0.0),
        "trace.overhead_s" -> (tracedTotal - median(passTotals)))
    }
    common(Map(
      "failures" -> (ops.collect { case Op(n, _, _, _, Some(c)) => Map("op" -> n, "cause" -> c) } ++ emptyFailures),
      "e2e" -> e2e(Map("first_s" -> firstTotal, "first_cpu_s" -> firstOps.map(_.cpu).sum,
        "op_p50_s" -> median(evaluations), "op_mean_s" -> mean(evaluations), "op_tail_s" -> tl,
        "op_cpu_s" -> mean(steadyCpu))),
      "named" -> Map("suite_first_s" -> firstTotal, "suite_steady_s" -> median(passTotals),
        "suite_steady_geomean_s" -> geomean, "queries" -> names.size,
        "steady_passes" -> steady.size,
        "artifact_builds_s" -> buildsS),
      "stats" -> Map("ops_n" -> evaluations.size, "op_tail_pct" -> tp),
      "per_query" -> perQuery,
      "oracle" -> names.filter(q => checks.get(q).contains("oracle")).map(q => q -> oracle(q)).toMap,
      "layers" -> layers))
  }
}
