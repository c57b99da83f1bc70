package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{CdcPipeline, CdcPipelineConfig}
import graft.sources.Debezium
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's entry point: one workload per JVM.
  *
  *   java graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *        <work dir> <trace file> [rate events/s]
  *
  * Prints `# name value unit` lines and, last, `RESULT {json}`. Every
  * number is taken from outside the program: wall time around the
  * benchmark's own calls into the engine's public functions, and Spark's
  * listener APIs (see [[Probes]]). */
object Main {

  // Bench's session shape, at the core count this benchmark pins
  val Cores = 4
  val Shuffle = 8
  // backfill: two fifteenths of the sf0.1 row counts for orders and customers,
  // then three times as many changes, so a run holds several passes within
  // the benchmark's time budget; a run measures passes for its seconds,
  // at least MinPasses of them, after one untimed full-size pass
  val NOrders = 20000
  val NCustomers = 2000
  val BackfillChangeFactor = 3
  val MinPasses = 2
  // stream: a tenth of sf0.1, an open-loop rate in events/s (from the
  // committed rate sweep) and the generator's publish period
  val StreamOrders = 15000
  val StreamCustomers = 1500
  val StreamRate = 800
  val TickMs = 1000
  // state buckets of the upsert sink and the bucketed join view, scaled to
  // the stream's state by the engine's own sizing (`cdc_sink_upsert` gives
  // its ~37k-key state 16 buckets)
  val StateBuckets = 8
  val SetupSamples = 3
  val EndToEnd = Seq("ops_per_s", "latency_p50_ms", "latency_p90_ms")

  val tables: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate_us", "o_orderpriority"),
    "customers" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment"))

  def pipelineConfig(keepTombstones: Boolean): CdcPipelineConfig =
    CdcPipelineConfig(
      tables = Map("orders" -> Debezium.ordersRowSchema,
        "customers" -> Debezium.customerRowSchema),
      keyColumns = Map("orders" -> Seq("o_orderkey"),
        "customers" -> Seq("c_custkey")),
      keepTombstones = keepTombstones)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString

  def nowMs: Double = System.nanoTime() / 1e6
  // wall-clock ms for comparison with listener timestamps
  def wallMs: Long = System.currentTimeMillis()

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length

  /** Metrics of one run: name → (value, unit). */
  final class Metrics {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, vu: (Double, String)): Unit = m(name) = vu
  }

  final case class Outcome(attempted: Int, failed: Int, checks: Seq[String])

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Shuffle.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Kafka-archive change log read through the engine's `debezium-json`
    * source, projected to the raw record columns the pipeline parses. */
  def rawArchive(s: SparkSession, dir: File): DataFrame =
    s.read.format("debezium-json").load(dir.getPath)
      .select("topic", "key", "value")

  /** `(rows, Σ crc32(row text))` of `df`, the Spark twin of [[Gen.digest]]. */
  def sparkDigest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.select(crc32(concat_ws("|", cols.map(c => col(c).cast("string")): _*)
        .cast("binary")).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** One backfill: both tables' current state through `CdcPipeline.table`
    * written as parquet; `onTable` gets each table's start and end (ms). */
  def backfill(s: SparkSession, archive: File, out: File,
      onTable: (String, Double, Double) => Unit = (_, _, _) => ()): Unit = {
    val pipe = new CdcPipeline(pipelineConfig(keepTombstones = true))
    Seq("orders", "customers").foreach { t =>
      val t0 = nowMs
      s.sparkContext.addJobTag(s"bench:table:$t")
      try pipe.table(rawArchive(s, archive), t)
        .write.mode("overwrite").parquet(new File(out, t).getPath)
      finally s.sparkContext.removeJobTag(s"bench:table:$t")
      onTable(t, t0, nowMs)
    }
  }

  /** Session start plus the workload's fixed warm-up. */
  def setUp(work: File, input: Input): (SparkSession, Double) = {
    val t0 = nowMs
    val s = session(work)
    val t1 = nowMs
    input.warmUp(s)
    println(f"# setup_split_s session ${(t1 - t0) / 1e3}%.2f warm-up ${(nowMs - t1) / 1e3}%.2f")
    (s, (nowMs - t0) / 1e3)
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val toMain = (wallMs - jvmStart) / 1e3
    val Array(workload, seedS, secondsS, traceS, workS, traceOutS) = argv.take(6)
    val rate = argv.lift(6).map(_.toInt).getOrElse(StreamRate)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val work = new File(workS)
    val metrics = new Metrics

    // ---- inputs (not part of setup_s)
    val g0 = nowMs
    val input: Input = workload match {
      case "cdc_backfill" => BackfillInput.make(seed, work)
      case "cdc_stream" => StreamInput.make(seed, work, rate, seconds, snapshot = false)
      case "cdc_stream_snapshot" => StreamInput.make(seed, work, rate, seconds, snapshot = true)
      case "catalog" => CatalogInput.make(work)
      case other =>
        System.err.println(s"unknown workload '$other'")
        sys.exit(2)
    }
    val genS = (nowMs - g0) / 1e3

    val noise = noiseProbe()

    // ---- setup: JVM start → session ready → warm-up done
    val (spark0, firstSetup) = setUp(work, input)
    val setups = mutable.ArrayBuffer(toMain + firstSetup)
    val probes = new Probes
    if (traced) probes.install(spark0)
    val trace = new ChromeTrace

    val heap = new HeapPeak
    heap.start()
    val outcome = input.run(spark0, seconds, metrics, probes, trace, traced)
    val (heapMb, collections) = heap.stop()
    metrics("spark.heap_live_peak_mb") = (heapMb, "MB")
    if (traced) {
      probes.uninstall(spark0)
      trace.write(new File(traceOutS))
    }

    // further set-ups in this JVM: stop the session, start a new one,
    // re-run the warm-up
    spark0.stop()
    (2 to SetupSamples).foreach { _ =>
      val (s, t) = setUp(work, input)
      setups += t
      s.stop()
    }

    val out = new Metrics
    if (!traced) {
      out("setup_s") = (median(setups.toSeq), "s")
      EndToEnd.foreach(k => out(k) = metrics.m(k))
    } else {
      out("setup.cold_s") = (setups.head, "s")
      out("gen_s") = (genS, "s")
      out("host.noise_probe_s") = (noise, "s")
      metrics.m.foreach { case (k, v) => if (!EndToEnd.contains(k)) out(k) = v }
    }
    val attempted = outcome.attempted
    val failed = outcome.failed
    println(f"# workload $workload seed $seed seconds $seconds%.0f " +
      s"trace ${if (traced) 1 else 0}")
    println(f"# gen_s ${num(genS)} s")
    println(s"# setup_samples_s ${setups.map(num).mkString(",")}")
    println(s"# noise_probe_s ${num(noise)} s")
    println(s"# heap_live_peak_mb ${num(heapMb)} MB over $collections collections")
    outcome.checks.foreach(c => println(s"# check $c"))
    println(s"# error_rate ${num(failed.toDouble / math.max(1, attempted))} fraction " +
      s"($failed failed of $attempted attempted)")
    out.m.foreach { case (k, (v, u)) =>
      println(s"# $k ${num(v)} $u")
    }
    val ms = out.m.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""RESULT {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
    System.out.flush()
    sys.exit(0)
  }

  /** Host-noise probe (Bench's idea): a fixed single-threaded busy loop.
    * Its time is a host constant on a quiet machine and stretches under
    * co-tenant CPU load, so a run with a slow probe ran on a busy host. */
  def noiseProbe(): Double = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 200000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("")
    dt
  }

  /** Layer metrics every workload reports from the Spark listener:
    * totals over the stages of `jobIds`, per operation. */
  def sparkLayer(m: Metrics, p: Probes, jobIds: Set[Int], ops: Int,
      wallS: Double): Unit = {
    val js = p.jobs.asScala.filter(j => jobIds(j.id)).toSeq
    val st = p.stages.asScala.filter(s => jobIds(s.jobId)).toSeq
    val n = math.max(1, ops).toDouble
    val run = st.map(_.runS).sum
    m("spark.jobs") = (js.size / n, "1/op")
    m("spark.stages") = (st.size / n, "1/op")
    m("spark.tasks") = (st.map(_.tasks).sum / n, "1/op")
    m("spark.task_run_s") = (run / n, "s/op")
    m("spark.task_cpu_s") = (st.map(_.cpuS).sum / n, "s/op")
    m("spark.core_busy_frac") = (run / math.max(1e-9, wallS * Cores), "fraction")
    m("spark.gc_s") = (st.map(_.gcS).sum / n, "s/op")
    m("spark.shuffle_write_mb") = (st.map(_.shuffleWriteBytes).sum / 1048576.0 / n, "MB/op")
    m("spark.shuffle_read_mb") = (st.map(_.shuffleReadBytes).sum / 1048576.0 / n, "MB/op")
    m("spark.spill_mb") = (st.map(_.spillBytes).sum / 1048576.0 / n, "MB/op")
    m("spark.input_mb") = (st.map(_.inputBytes).sum / 1048576.0 / n, "MB/op")
    m("spark.output_mb") = (st.map(_.outputBytes).sum / 1048576.0 / n, "MB/op")
    val scans = st.filter(_.isScanToExchange)
    m("sources.scan_parse_stage_s") = (scans.map(_.wallS).sum / n, "s/op")
    m("sources.scan_parse_stage_cpu_s") = (scans.map(_.cpuS).sum / n, "s/op")
    m("sources.records_in") = (scans.map(_.inputRecords).sum / n, "1/op")
  }

  /** The cache layer (`BoundedDfCache`, `Prewarm`): build jobs found by
    * stage call site anywhere in the run but in `unmeasured`, per measured
    * pass, and their share of the task time of `jobIds`. */
  def cacheLayer(m: Metrics, p: Probes, jobIds: Set[Int], passes: Int,
      unmeasured: Set[Int] = Set.empty): Unit = {
    val stages = p.stages.asScala.filterNot(x => unmeasured(x.jobId)).toSeq
    val buildIds = stages.filter(_.isCacheBuild).map(_.jobId).toSet
    val buildStages = stages.filter(x => buildIds(x.jobId))
    val n = math.max(1, passes).toDouble
    val buildRun = buildStages.map(_.runS).sum
    val run = stages.filter(x => jobIds(x.jobId)).map(_.runS).sum
    m("cache.build_jobs") = (buildIds.size / n, "1/pass")
    m("cache.build_task_s") = (buildRun / n, "s/pass")
    m("cache.build_task_share") = (buildRun / math.max(1e-9, run), "fraction")
  }

  /** Job spans with their tags, summed task metrics and the top SQL
    * operators of the plans that finished inside them. */
  def jobTrace(p: Probes, trace: ChromeTrace, ids: Set[Int]): Unit = {
    val sqls = p.sqls.asScala.toSeq
    p.jobs.asScala.filter(j => ids(j.id)).foreach { j =>
      val st = p.stages.asScala.filter(_.jobId == j.id).toSeq
      val ops = sqls.filter(q => q.atMs >= j.startMs && q.atMs <= j.endMs + 50)
        .flatMap(_.top).sortBy(-_._2).take(3)
      trace.span(s"job ${j.id}", "jobs", j.startMs, j.endMs, Seq(
        "tags" -> j.tags.mkString(","),
        "task_run_s" -> st.map(_.runS).sum, "task_cpu_s" -> st.map(_.cpuS).sum,
        "shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / 1048576.0,
        "input_records" -> st.map(_.inputRecords).sum,
        "top_operators" -> ops.map { case (o, ms) => f"$o:$ms%.0fms" }.mkString(" ")))
      st.foreach(x => trace.span(s"stage ${x.stageId}", "stages", x.startMs,
        x.endMs, Seq("job" -> j.id, "tasks" -> x.tasks, "run_s" -> x.runS,
          "scan" -> x.isScan.toString)))
    }
  }
}

/** A generated workload input that knows how to run itself. */
trait Input {
  /** The fixed warm-up every set-up ends with. */
  def warmUp(s: SparkSession): Unit
  def run(s: SparkSession, seconds: Double, m: Main.Metrics, p: Probes,
      trace: ChromeTrace, traced: Boolean): Main.Outcome
}
