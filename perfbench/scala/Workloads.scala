package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.CdcPipeline
import graft.streaming.{BucketedJoinView, IncrementalJoinView, Sinks}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import Main._

/** Per-layer metric names every traced run of `cdc_stream` and `catalog`
  * reports; a layer a workload does not exercise reads 0 there. */
object Layers {
  val Consumers = Seq("upsert", "ivm_join", "ivm_join_bucketed")
  private val consumerMetrics = Seq("batch_p50_ms", "batch_p90_ms",
    "add_batch_p50_ms", "lag_p50_ms", "batches", "jobs_per_batch",
    "rows_rewritten_per_event", "state_mb")
  val units: Map[String, String] = (Seq(
    "cache.build_jobs" -> "1/pass",
    "cache.build_task_s" -> "s/pass",
    "cache.build_task_share" -> "fraction",
    "cache.storage_mb_peak" -> "MB",
    "streaming.wal_commit_p50_ms" -> "ms",
    "streaming.add_batch_share" -> "fraction",
    "streaming.bootstrap_s" -> "s",
    "streaming.gen_late_p99_ms" -> "ms") ++
    Consumers.flatMap(c => consumerMetrics.map(k => s"streaming.$c.$k" -> (k match {
      case "batches" => "count"
      case "jobs_per_batch" => "1/batch"
      case "rows_rewritten_per_event" => "ratio"
      case "state_mb" => "MB"
      case _ => "ms"
    }))) ++
    CatalogInput.Groups.flatMap(g => Seq(s"catalog.$g.wall_s" -> "s/pass",
      s"catalog.$g.task_cpu_s" -> "s/pass"))).toMap

  def zeroFill(m: Metrics): Unit =
    units.toSeq.sortBy(_._1).foreach { case (k, u) =>
      if (!m.m.contains(k)) m(k) = (0.0, u)
    }
}

/** `cdc_backfill`: an `op=r` snapshot of `orders` and `customers` plus
  * three times as many changes, archived as Kafka-archive JSON lines and
  * turned into current state by `CdcPipeline.table`: one untimed pass,
  * then measured passes for the run's seconds. Only the fold's digests are
  * kept, so no benchmark data stays on the heap. */
final class BackfillInput(archive: File, records: Long,
    expected: Map[String, (Long, Long)], work: File) extends Input {

  /** One scan of the input, as `graft.Bench` scans its tables. */
  def warmUp(s: SparkSession): Unit = rawArchive(s, archive).count()

  def run(s: SparkSession, seconds: Double, m: Metrics, p: Probes,
      trace: ChromeTrace, traced: Boolean): Outcome = {
    val out = new File(work, "backfill-out")
    val passMs = mutable.ArrayBuffer.empty[Double]
    val tableMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var attempted = 0
    var failed = 0
    val checks = mutable.ArrayBuffer.empty[String]
    // one pass that commits both tables before anything is measured: the
    // code paths are JIT-compiled at full size, so the measured passes run
    // at steady state
    val warm0 = nowMs
    val warmOk = pass(s, -1, out, expected, checks, trace, traced, (_, _, _) => ())
    attempted += 2
    failed += 2 - warmOk
    println(s"# warm_pass_ms ${num(nowMs - warm0)}")
    val w0 = nowMs
    while (passMs.size < MinPasses || nowMs - w0 < seconds * 1e3) {
      val t0 = nowMs
      val ok = pass(s, passMs.size, out, expected, checks, trace, traced, (t, a, b) =>
        tableMs.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += (b - a))
      passMs += (nowMs - t0)
      attempted += 2
      failed += 2 - ok
    }
    println(s"# pass_ms ${passMs.map(num).mkString(",")}")
    if (failed == 0) checks += s"all $attempted table commits equal the fold " +
      s"(orders ${expected("orders")._1} rows, customers ${expected("customers")._1} rows)"

    val passS = passMs.map(_ / 1e3).toSeq
    // events read over the wall time of a pass that reads them all; every
    // event of a pass becomes current when the pass commits
    m("ops_per_s") = (records / median(passS), "1/s")
    m("latency_p50_ms") = (median(passMs.toSeq), "ms")
    m("latency_p90_ms") = (quantile(passMs.toSeq, 0.9), "ms")
    if (traced) {
      val ids = p.jobs.asScala.filter(j => j.tags.exists(_.startsWith("bench:table:")) &&
        !j.tags.contains("bench:warm")).map(_.id).toSet
      val n = passMs.size.toDouble
      sparkLayer(m, p, ids, passMs.size, passMs.sum / 1e3)
      cacheLayer(m, p, ids, passMs.size)
      m("pipeline.table_s.orders") = (median(tableMs("orders").toSeq) / 1e3, "s")
      m("pipeline.table_s.customers") = (median(tableMs("customers").toSeq) / 1e3, "s")
      val st = p.stages.asScala.filter(x => ids(x.jobId)).toSeq
      val compact = st.filter(_.isExchangeToOutput)
      m("operators.compact_stage_s") = (compact.map(_.wallS).sum / n, "s/op")
      m("operators.compact_stage_cpu_s") = (compact.map(_.cpuS).sum / n, "s/op")
      m("operators.compact_spill_mb") =
        (compact.map(_.spillBytes).sum / 1048576.0 / n, "MB/op")
      m("operators.compact_rows_out_per_event") =
        (compact.map(_.outputRecords).sum / n / records, "ratio")
      // scan→exchange and exchange→output stages against every stage of
      // the measured table jobs: extra exchanges, sampling or listing jobs
      // and re-scans would fall outside both
      val run = st.map(_.runS).sum
      m("operators.layer_task_share") =
        ((st.filter(_.isScanToExchange).map(_.runS).sum + compact.map(_.runS).sum) /
          math.max(1e-9, run), "fraction")
      m("e2e.ops_per_s") = (m.m("ops_per_s")._1, "1/s")
      m("e2e.latency_p50_ms") = (m.m("latency_p50_ms")._1, "ms")
      Layers.zeroFill(m)
      jobTrace(p, trace, ids)
    }
    Outcome(attempted, failed, checks.toSeq)
  }

  /** One backfill pass and its output check (not timed); the number of
    * tables that committed and equal the fold. Pass -1 is the warm pass. */
  private def pass(s: SparkSession, i: Int, out: File,
      expected: Map[String, (Long, Long)], checks: mutable.ArrayBuffer[String],
      trace: ChromeTrace, traced: Boolean,
      onTable: (String, Double, Double) => Unit): Int = {
    val wall0 = wallMs
    if (i < 0) s.sparkContext.addJobTag("bench:warm")
    val ok = try {
      backfill(s, archive, out, (t, a, b) => {
        onTable(t, a, b)
        if (traced) trace.span(s"CdcPipeline.table $t", "bench", wallMsAt(a),
          wallMsAt(b), Seq("pass" -> i, "tag" -> s"bench:table:$t"))
      })
      true
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] backfill pass $i failed: $e"); false
    } finally if (i < 0) s.sparkContext.removeJobTag("bench:warm")
    if (traced) trace.span(if (i < 0) "warm pass" else s"backfill pass $i", "passes",
      wall0, wallMs)
    if (!ok) 0
    else {
      s.sparkContext.addJobTag("bench:check")
      try expected.count { case (t, want) =>
        val got = sparkDigest(s.read.parquet(new File(out, t).getPath), tables(t))
        if (got != want) checks += s"pass $i $t FAILED: digest $got, fold $want"
        got == want
      } finally s.sparkContext.removeJobTag("bench:check")
    }
  }

  private val nanoOrigin = System.nanoTime() / 1e6
  private val wallOrigin = System.currentTimeMillis()
  private def wallMsAt(nano: Double): Long = wallOrigin + (nano - nanoOrigin).toLong
}

object BackfillInput {
  def make(seed: Long, work: File): BackfillInput = {
    val w = new Gen.World(seed, NOrders, NCustomers)
    val recs = w.arrive(w.snapshot() ++
      w.changes(BackfillChangeFactor * (NOrders + NCustomers)))
    val archive = new File(work, "backfill-archive")
    // several files, so the scan plans in parallel from the first split
    val parts = 8
    val per = (recs.size + parts - 1) / parts
    recs.grouped(per).zipWithIndex.foreach { case (g, i) =>
      Gen.write(g, new File(archive, f"part-$i%05d.json"))
    }
    val fold = new Gen.Fold().addAll(recs)
    new BackfillInput(archive, recs.size.toLong, Map(
      "orders" -> Gen.ordersDigest(fold.orders),
      "customers" -> Gen.customersDigest(fold.customers)), work)
  }
}

/** `cdc_stream`: the current state as the insert history that created it
  * (`cdc_stream_snapshot`: as an `op=r` snapshot), then changes published
  * every [[TickMs]] on a fixed open-loop schedule to the raw multi-topic
  * archive that three standing consumers tail. Only the fold's digests and
  * view rows are kept. */
final class StreamInput(archive: File, staging: File, initialFiles: Int,
    tickRecords: IndexedSeq[Int], wantOrders: (Long, Long), wantView: (Long, Long),
    foldView: Seq[String], work: File) extends Input {

  /** One scan of the initial rows, as `graft.Bench` scans its tables. */
  def warmUp(s: SparkSession): Unit = rawArchive(s, archive).count()

  private def tickName(i: Int) = f"tick-$i%05d.json"

  def run(s: SparkSession, seconds: Double, m: Metrics, p: Probes,
      trace: ChromeTrace, traced: Boolean): Outcome = {
    // progress is needed for lag even when untraced
    if (!traced) s.streams.addListener(p.streaming)
    val raw = s.readStream.format("debezium-json").load(archive.getPath)
      .select("topic", "key", "value")
    val dirs = Layers.Consumers.map(c => c -> new File(work, s"state-$c")).toMap
    def ck(c: String) = new File(work, s"checkpoint-$c").getPath
    def started(c: String)(body: => StreamingQuery): StreamingQuery = {
      s.sparkContext.addJobTag(s"bench:consumer:$c")
      try body finally s.sparkContext.removeJobTag(s"bench:consumer:$c")
    }
    val unwrapped = new CdcPipeline(pipelineConfig(keepTombstones = false))
      .unwrapped(raw, "orders")
    val queries = Seq(
      started("upsert")(Sinks.upsertByKey(unwrapped, dirs("upsert").getPath,
        "o_orderkey", "_lsn", StateBuckets).option("checkpointLocation", ck("upsert"))
        .queryName("upsert").start()),
      started("ivm_join")(IncrementalJoinView.maintain(raw,
        dirs("ivm_join").getPath, Some(ck("ivm_join")))
        .queryName("ivm_join").start()),
      started("ivm_join_bucketed")(BucketedJoinView.maintain(raw,
        dirs("ivm_join_bucketed").getPath, Some(ck("ivm_join_bucketed")),
        StateBuckets)
        .queryName("ivm_join_bucketed").start()))

    // files each progress event admitted, parsed once per event
    val admitted = new java.util.IdentityHashMap[Probes.Progress, Seq[String]]()
    def freshNames(x: Probes.Progress): Seq[String] = {
      val got = admitted.get(x)
      if (got != null) got
      else {
        val n = StreamInput.fresh(x).map(new File(_).getName)
        admitted.put(x, n); n
      }
    }
    def covered(c: String): Set[String] =
      p.progress.asScala.filter(_.name == c).flatMap(freshNames).toSet
    def failedQueries = queries.filter(_.exception.isDefined)
    def waitFor(files: Set[String], timeoutMs: Double): Boolean = {
      val t0 = nowMs
      while (nowMs - t0 < timeoutMs && failedQueries.isEmpty &&
          !Layers.Consumers.forall(c => files.subsetOf(covered(c))))
        Thread.sleep(100)
      Layers.Consumers.forall(c => files.subsetOf(covered(c)))
    }

    // bootstrap: every consumer loads the initial rows (batch 0)
    val b0 = nowMs
    val initNames = (0 until initialFiles).map(i => f"init-$i%05d.json").toSet
    val booted = waitFor(initNames, 120000)
    val bootS = (nowMs - b0) / 1e3

    // open loop: tick i is due at t0 + i·TickMs, whatever the consumers do
    val nTicks = tickRecords.size
    val due = new Array[Long](nTicks)
    val late = new Array[Double](nTicks)
    val t0Wall = wallMs + 200
    val gen = new Thread(() => {
      var i = 0
      while (i < nTicks) {
        val d = t0Wall + i.toLong * TickMs
        var now = wallMs
        while (now < d) { Thread.sleep(math.min(5L, d - now)); now = wallMs }
        val f = new File(staging, tickName(i))
        f.setLastModified(now)
        if (!f.renameTo(new File(archive, tickName(i))))
          throw new java.io.IOException(s"cannot publish $f")
        due(i) = d
        late(i) = (wallMs - d).toDouble
        i += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    if (booted) { gen.start(); gen.join() }
    val tickNames = (0 until nTicks).map(tickName).toSet
    val drained = booted && waitFor(tickNames, 60000)
    queries.foreach(q => scala.util.Try(q.stop()))
    if (!traced) s.streams.removeListener(p.streaming)

    // ---- lag: a tick's events are visible when the last consumer commits
    // the batch holding its file
    val progress = p.progress.asScala.toSeq
    val batches = Layers.Consumers.map { c =>
      c -> progress.filter(_.name == c).map(x => (x,
        freshNames(x).filter(tickNames))).filter(_._2.nonEmpty)
        .groupBy(_._1.batchId).map(_._2.head).toSeq.sortBy(_._1.batchId)
    }.toMap
    def commitOf(c: String): Map[String, Long] =
      batches(c).flatMap { case (x, fs) => fs.map(_ -> x.commitMs) }.toMap
    val commits = Layers.Consumers.map(c => c -> commitOf(c)).toMap
    val tickLag = (0 until nTicks).flatMap { i =>
      val n = tickName(i)
      val cs = Layers.Consumers.flatMap(c => commits(c).get(n))
      if (cs.size == Layers.Consumers.size)
        Some((cs.max - due(i)).toDouble -> tickRecords(i))
      else None
    }
    def weighted(xs: Seq[(Double, Int)], q: Double): Double = {
      val s = xs.sortBy(_._1)
      val total = s.map(_._2.toLong).sum
      if (total == 0) 0.0
      else {
        var acc = 0L
        s.find { case (_, w) => acc += w; acc >= q * total }.map(_._1).getOrElse(s.last._1)
      }
    }
    val lastCommit = if (commits.values.exists(_.isEmpty)) t0Wall
      else commits.values.map(_.values.max).max
    val windowS = math.max(1e-3, (lastCommit - t0Wall) / 1e3)
    val visibleEvents = tickLag.map(_._2.toLong).sum
    m("ops_per_s") = (visibleEvents / windowS, "1/s")
    m("latency_p50_ms") = (weighted(tickLag, 0.5), "ms")
    m("latency_p90_ms") = (weighted(tickLag, 0.9), "ms")

    // ---- output checks (attempted ops = consumer batches + final checks)
    val checks = mutable.ArrayBuffer.empty[String]
    var failed = failedQueries.size
    failedQueries.foreach(q => checks += s"${q.name} FAILED: ${q.exception.get}")
    if (!booted) checks += "bootstrap did not finish within 120 s"
    if (!drained) { failed += 1; checks += "consumers did not drain within 60 s" }
    val viewCols = Seq("seg", "revenue_cents", "n_orders")
    def check(name: String, want: (Long, Long))(got: => (Long, Long)): Option[(Long, Long)] = {
      val r = scala.util.Try(got)
      r.failed.foreach(e => { failed += 1; checks += s"$name FAILED: $e" })
      r.toOption.map { g =>
        if (g != want) { failed += 1; checks += s"$name FAILED: digest $g, fold $want" }
        else checks += s"$name equals the fold (${g._1} rows)"
        g
      }
    }
    s.sparkContext.addJobTag("bench:check")
    check("upsert sink state", wantOrders)(sparkDigest(
      Sinks.readState(s, dirs("upsert").getPath).filter(col("__deleted") =!= "true"),
      tables("orders")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("seg").collect().map(_.mkString("|")).mkString(", ")
    val views = Seq(
      "IncrementalJoinView" -> (() => IncrementalJoinView.readView(s, dirs("ivm_join").getPath).get),
      "BucketedJoinView" -> (() => BucketedJoinView.readView(s, dirs("ivm_join_bucketed").getPath).get))
    val Seq(v1, v2) = views.map { case (name, view) =>
      val d = check(name, wantView)(sparkDigest(view(), viewCols))
      if (d.exists(_ != wantView))
        checks += s"$name rows: ${rows(view())}; fold: ${foldView.mkString(", ")}"
      d
    }
    if (v1.isDefined && v1 != v2) {
      failed += 1; checks += "the two join views differ from each other"
    }
    s.sparkContext.removeJobTag("bench:check")
    val nBatches = batches.values.map(_.size).sum
    val attempted = nBatches + 4

    if (traced) {
      val jobs = p.jobs.asScala.toSeq
      val qid = queries.map(q => q.id.toString -> q.name).toMap
      def batchJobs(c: String) = {
        val ids = batches(c).map(_._1.batchId).toSet
        jobs.filter(j => j.queryId.flatMap(qid.get).contains(c) &&
          j.batchId.exists(ids))
      }
      val allIds = Layers.Consumers.flatMap(batchJobs).map(_.id).toSet
      sparkLayer(m, p, allIds, nBatches, windowS)
      cacheLayer(m, p, allIds, nBatches)
      val stagesByJob = p.stages.asScala.toSeq.groupBy(_.jobId)
      Layers.Consumers.foreach { c =>
        val bs = batches(c)
        val js = batchJobs(c)
        val events = bs.map(_._2.toSeq.map(n => tickRecords(n.drop(5).take(5).toInt)).sum).sum
        val written = js.flatMap(j => stagesByJob.getOrElse(j.id, Nil)).map(_.outputRecords).sum
        m(s"streaming.$c.batch_p50_ms") = (median(bs.map(_._1.triggerMs.toDouble)), "ms")
        m(s"streaming.$c.batch_p90_ms") = (quantile(bs.map(_._1.triggerMs.toDouble), 0.9), "ms")
        m(s"streaming.$c.add_batch_p50_ms") = (median(bs.map(_._1.addBatchMs.toDouble)), "ms")
        m(s"streaming.$c.lag_p50_ms") = (weighted((0 until nTicks).flatMap(i =>
          commits(c).get(tickName(i)).map(t => (t - due(i)).toDouble -> tickRecords(i))), 0.5), "ms")
        m(s"streaming.$c.batches") = (bs.size.toDouble, "count")
        m(s"streaming.$c.jobs_per_batch") = (js.size.toDouble / math.max(1, bs.size), "1/batch")
        m(s"streaming.$c.rows_rewritten_per_event") =
          (written.toDouble / math.max(1, events), "ratio")
        m(s"streaming.$c.state_mb") = (treeBytes(dirs(c)) / 1048576.0, "MB")
        bs.foreach { case (x, fs) =>
          val st = js.filter(_.batchId.contains(x.batchId))
            .flatMap(j => stagesByJob.getOrElse(j.id, Nil))
          trace.span(s"$c batch ${x.batchId}", c, x.startMs, x.commitMs, Seq(
            "tag" -> s"bench:consumer:$c", "ticks" -> fs.size,
            "add_batch_ms" -> x.addBatchMs, "wal_commit_ms" -> x.walCommitMs,
            "jobs" -> st.map(_.jobId).distinct.size,
            "task_run_s" -> st.map(_.runS).sum, "task_cpu_s" -> st.map(_.cpuS).sum,
            "rows_written" -> st.map(_.outputRecords).sum))
        }
      }
      val all = batches.values.flatten.map(_._1).toSeq
      m("streaming.wal_commit_p50_ms") = (median(all.map(_.walCommitMs.toDouble)), "ms")
      m("streaming.add_batch_share") = (all.map(_.addBatchMs).sum.toDouble /
        math.max(1L, all.map(_.triggerMs).sum), "fraction")
      m("streaming.bootstrap_s") = (bootS, "s")
      m("streaming.gen_late_p99_ms") = (quantile(late.toSeq, 0.99), "ms")
      m("e2e.ops_per_s") = (m.m("ops_per_s")._1, "1/s")
      m("e2e.latency_p50_ms") = (m.m("latency_p50_ms")._1, "ms")
      Layers.zeroFill(m)
      jobTrace(p, trace, allIds)
      (0 until nTicks).foreach(i => trace.span(s"publish ${tickName(i)}",
        "generator", due(i), due(i) + late(i), Seq("records" -> tickRecords(i))))
      p.sqls.asScala.foreach(q => trace.instant(q.func, "sql", q.atMs.toDouble,
        Seq("ms" -> q.ms, "top_operators" ->
          q.top.map { case (o, ms) => f"$o:$ms%.0fms" }.mkString(" "))))
    }
    Outcome(attempted, failed, checks.toSeq)
  }
}

object StreamInput {
  /** `snapshot` starts from the `op=r` snapshot instead of the insert
    * history: the join views then fail their checks, because their replay
    * dedup keys an order by its customer and the snapshot's one shared
    * source position, so they keep one snapshot order per customer. */
  def make(seed: Long, work: File, rate: Int, seconds: Double,
      snapshot: Boolean): StreamInput = {
    val w = new Gen.World(seed, StreamOrders, StreamCustomers)
    val archive = new File(work, "stream-archive")
    val staging = new File(work, "stream-staging")
    val fold = new Gen.Fold()
    val init = w.arrive(if (snapshot) w.snapshot() else w.history())
    fold.addAll(init)
    val initialFiles = 4
    init.grouped((init.size + initialFiles - 1) / initialFiles).zipWithIndex
      .foreach { case (g, i) => Gen.write(g, new File(archive, f"init-$i%05d.json")) }
    val nTicks = math.max(1, (seconds * 1000 / TickMs).toInt)
    val perTick = math.max(1, rate * TickMs / 1000)
    val counts = (0 until nTicks).map { i =>
      val recs = w.arrive(w.changes(perTick))
      fold.addAll(recs)
      Gen.write(recs, new File(staging, f"tick-$i%05d.json"))
      recs.size
    }
    val view = fold.joinView
    new StreamInput(archive, staging, initialFiles, counts,
      Gen.ordersDigest(fold.orders), Gen.viewDigest(view),
      view.toSeq.sortBy(_._1).map { case (sg, (r, n)) => s"$sg|$r|$n" }, work)
  }

  /** Archive files a micro-batch admitted: those its end offset lists
    * that its start offset had not seen (the source's compacted offset
    * is `{cutoffMs, recent: [[file, modTime]…]}`). */
  def fresh(x: Probes.Progress): Seq[String] = {
    if (x.endOffset == null) return Nil
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(j: String): (Long, Seq[(String, Long)]) =
      if (j == null) (Long.MinValue, Nil)
      else {
        val n = om.readTree(j)
        val r = n.get("recent")
        (n.get("cutoffMs").asLong(), (0 until r.size()).map(i =>
          (r.get(i).get(0).asText(), r.get(i).get(1).asLong())))
      }
    val (sc, sr) = parse(x.startOffset)
    val seen = sr.map(_._1).toSet
    parse(x.endOffset)._2.filter { case (f, mt) => !(mt <= sc || seen(f)) }.map(_._1)
  }
}
