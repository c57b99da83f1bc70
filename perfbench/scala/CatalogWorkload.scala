package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{BoundedDfCache, SparkEntry}
import graft.operators.CdcOps
import graft.sources.Tables
import org.apache.spark.sql.{Row, SparkSession}

import Main._

/** `catalog`: a fixed, family-stratified subset of `SparkEntry.queries`
  * over the committed corpus in `perfbench/corpus`, run in sorted order,
  * each query's full result collected and checked against the digest
  * recorded when the benchmark was defined. Every pass starts with the
  * graded cache cold (`BoundedDfCache.clearGraded`, as `graft.Bench` does
  * per rep), so each pass pays the shared builds its queries consume; the
  * synthesized change log (test input) is built before the first pass and
  * kept. `Prewarm` stays off (see the README). */
final class CatalogInput(dir: String, want: Map[String, (Long, Long)]) extends Input {
  import CatalogInput._

  /** `graft.Bench`'s warm-up: one scan of every table. */
  def warmUp(s: SparkSession): Unit = Tables.all.foreach(t => Tables.scan(s, dir, t).count())

  def run(s: SparkSession, seconds: Double, m: Metrics, p: Probes,
      trace: ChromeTrace, traced: Boolean): Outcome = {
    val fns = SparkEntry.queries
    val fam = SparkEntry.families
    var attempted = 0
    var failed = 0
    val checks = mutable.ArrayBuffer.empty[String]
    var storagePeak = 0L
    // per measured pass: query → wall ms
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val passMs = mutable.ArrayBuffer.empty[Double]

    def runPass(i: Int): Map[String, Double] = {
      BoundedDfCache.clearGraded()
      Subset.map { q =>
        val tag = s"bench:query:$q"
        s.sparkContext.addJobTag(tag)
        val wall0 = wallMs
        val t0 = nowMs
        val got = try Right(digest(fns(q)(s, dir).collect()))
          catch { case e: Exception => Left(e) }
        val ms = nowMs - t0
        s.sparkContext.removeJobTag(tag)
        attempted += 1
        got match {
          case Left(e) => failed += 1; checks += s"$q FAILED: $e"
          case Right(d) if d != want(q) =>
            failed += 1; checks += s"$q FAILED: digest $d, recorded ${want(q)}"
          case _ =>
        }
        storagePeak = math.max(storagePeak, s.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum)
        if (traced) trace.span(q, "queries", wall0, wallMs,
          Seq("pass" -> i, "family" -> fam(q), "tag" -> tag))
        q -> ms
      }.toMap
    }

    // test input, as a deployment reads its change log from Kafka: the
    // synthesized orders change log the cdc queries parse, kept on disk and
    // across passes by the cache's fixture layer
    val f0 = nowMs
    s.sparkContext.addJobTag("bench:fixture")
    CdcOps.synthOrdersChangelog(s, dir)
    s.sparkContext.removeJobTag("bench:fixture")
    println(s"# fixture_s ${num((nowMs - f0) / 1e3)} s")
    val m0 = nowMs
    while (passes.size < MinCatalogPasses || nowMs - m0 < seconds * 1e3) {
      val t0 = nowMs
      passes += runPass(passes.size)
      passMs += nowMs - t0
    }
    println(s"# pass_ms ${passMs.map(num).mkString(",")}")
    println(s"# query_ms ${Subset.map(q => s"$q=${num(math.rint(passes.head(q)))}").mkString(",")}")
    if (failed == 0) checks += s"all $attempted query results equal their recorded digests"

    val queryMs = passes.flatMap(_.values).toSeq
    m("ops_per_s") = (Subset.size / (median(passMs.toSeq) / 1e3), "1/s")
    m("latency_p50_ms") = (median(queryMs), "ms")
    m("latency_p90_ms") = (quantile(queryMs, 0.9), "ms")
    if (traced) {
      val jobs = p.jobs.asScala.toSeq
      val ids = jobs.filter(_.tags.exists(_.startsWith("bench:query:"))).map(_.id).toSet
      sparkLayer(m, p, ids, attempted, passMs.sum / 1e3)
      // the fixture's build is input generation, not measured
      val fixtureIds = jobs.filter(_.tags.contains("bench:fixture")).map(_.id).toSet
      cacheLayer(m, p, ids, passes.size, fixtureIds)
      m("cache.storage_mb_peak") = (storagePeak / 1048576.0, "MB")
      val stagesByJob = p.stages.asScala.toSeq.groupBy(_.jobId)
      val n = passes.size.toDouble
      Groups.foreach { g =>
        val qs = Subset.filter(fam(_) == g)
        m(s"catalog.$g.wall_s") =
          (median(passes.map(ps => qs.map(ps).sum / 1e3).toSeq), "s/pass")
        val cpu = jobs.filter(j => j.tags.exists(t => qs.exists(q => t == s"bench:query:$q")))
          .flatMap(j => stagesByJob.getOrElse(j.id, Nil)).map(_.cpuS).sum
        m(s"catalog.$g.task_cpu_s") = (cpu / n, "s/pass")
      }
      m("e2e.ops_per_s") = (m.m("ops_per_s")._1, "1/s")
      m("e2e.latency_p50_ms") = (m.m("latency_p50_ms")._1, "ms")
      Layers.zeroFill(m)
      jobTrace(p, trace, ids)
    }
    Outcome(attempted, failed, checks.toSeq)
  }
}

object CatalogInput {
  /** The committed corpus, relative to the root of the checkout. */
  val Corpus = "perfbench/corpus/sf0.01"
  val DigestFile = "perfbench/catalog_digests.json"
  val MinCatalogPasses = 1

  /** One query per `QueryGroup`, two for `CdcQueries`, in sorted order.
    * Where a group owns a shared build of `BoundedDfCache` that costs at
    * most about a second on 4 cores, its query consumes one; otherwise the
    * query is one of the group's cheapest, so that a cold pass stays near
    * 20 s. The cdc pair covers `CdcOps` compaction over the parsed bronze
    * stage and `CdcPipeline.table`. */
  val Subset: Seq[String] = Seq(
    "agg_histogram",
    "cdc_compact", // cdc:parsed-inserts, cdc:parsed-tail
    "cdc_rest_provision", // CdcPipeline.table
    "curate_dup_weights", // dedup:groups
    "dedup_ngram_jaccard",
    "filter_pred",
    "fn_string",
    "join_inner",
    "mm_meta",
    "pipeline_source_filter",
    "sample_stratified",
    "sim_ann_lsh_pinned", // sim:lshpin
    "stream_tumbling",
    "text_classifier_calibration", // text:clf
    "ts_changepoint", // ts:hourly
    "window_rank")

  val Groups: Seq[String] = SparkEntry.families.values.toSeq.distinct.sorted

  /** Order-independent digest `(rows, Σ crc32(row text))` of a result. */
  def digest(rows: Array[Row]): (Long, Long) =
    Gen.digest(rows.iterator.map(_.toString))

  def make(work: File): CatalogInput = {
    val dir = new File(Corpus).getAbsolutePath
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val q = om.readTree(new File(DigestFile)).get("queries")
    val want = Subset.map { n =>
      val d = q.get(n)
      require(d != null, s"no recorded digest for $n in $DigestFile")
      n -> (d.get(0).asLong(), d.get(1).asLong())
    }.toMap
    new CatalogInput(dir, want)
  }

  /** Record the subset's digests: `RecordDigests <out.json> <note>`, run
    * from the root of the checkout on a fresh JVM. */
  def record(out: File, note: String): Unit = {
    val s = session(new File(".bench_build/record"))
    val dir = new File(Corpus).getAbsolutePath
    val fns = SparkEntry.queries
    val ds = Subset.map(q => q -> digest(fns(q)(s, dir).collect()))
    s.stop()
    val body = ds.map { case (q, (n, h)) => s"""    "$q": [$n, $h]""" }.mkString(",\n")
    java.nio.file.Files.write(out.toPath,
      s"""{
         |  "corpus": "$Corpus",
         |  "note": "$note",
         |  "queries": {
         |$body
         |  }
         |}
         |""".stripMargin.getBytes(StandardCharsets.UTF_8))
  }
}

object RecordDigests {
  def main(args: Array[String]): Unit = CatalogInput.record(new File(args(0)), args(1))
}
