package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The delta algebra of incremental maintenance for a TWO-TABLE
  * equi-join view — the reference's declared "enriched data" path
  * (reference README.md:77: CDC events joined to a dimension before
  * aggregation): keep
  *
  *   W = SELECT seg, SUM(order cents), COUNT(orders)
  *       FROM orders JOIN customers USING (custkey) GROUP BY seg
  *
  * continuously correct from the CHANGELOGS of both tables, without
  * recomputing the join.
  *
  * Classic bilinear delta propagation (the signed-multiset algebra of
  * DBSP / differential dataflow, both published): with A = the orders
  * side folded to per-custkey partial aggregates and B = the customer
  * dimension, the join is bilinear, so
  *
  *   Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
  *
  * and the view merge is `W ⊎ Agg(Δ(A ⋈ B))`. The cross term is what
  * makes same-batch coincidences exact: an order deleted in the same
  * batch as its customer is subtracted by BOTH unary terms and added
  * back once by ΔA ⋈ ΔB — signed multiplicities cancel to exactly one
  * removal.
  *
  * The state (A, B, W) and its exactly-once commit live in
  * [[BucketedJoinView]], the one store; `nBuckets = 1` is the
  * whole-state-rewrite case. Measures are exact integers (price cents as
  * long, signed counts), so merge order can never perturb the result: the
  * maintained view is bit-identical to the from-scratch recompute, which
  * is what IvmSpec and the `cdc_ivm_join_*` oracles assert.
  */
object IncrementalJoinView {

  private def cents(row: org.apache.spark.sql.Column) =
    (row.getField("o_totalprice").cast(DecimalType(12, 2)) * 100)
      .cast(LongType)

  /** The narrow deduped fact-side event projection — exposed (like
    * [[IncrementalView.eventsOf]]) so a caller replaying several
    * op-sliced batches out of one parsed changelog computes the
    * projection + dedup ONCE and slices it per batch; `op` is in the
    * dedup key, so global dedup equals per-slice dedup. */
  def factEvents(parsed: DataFrame): DataFrame =
    dedup(parsed,
      coalesce(col("env.after.o_orderkey"), col("env.before.o_orderkey")),
      before = Seq(col("env.before.o_custkey").as("b_k"),
        cents(col("env.before")).as("b_c")),
      after = Seq(col("env.after.o_custkey").as("a_k"),
        cents(col("env.after")).as("a_c")))

  /** The deduped dimension-side event projection (same sharing contract
    * as [[factEvents]]). */
  def dimEvents(parsed: DataFrame): DataFrame =
    dedup(parsed,
      coalesce(col("env.after.c_custkey"), col("env.before.c_custkey")),
      before = Seq(
        col("env.before.c_custkey").as("b_k"),
        col("env.before.c_mktsegment").as("b_s")),
      after = Seq(
        col("env.after.c_custkey").as("a_k"),
        col("env.after.c_mktsegment").as("a_s")))

  /** Signed per-custkey fact deltas `(k, d_cents, d_rows)` of a
    * [[factEvents]] projection (a status-only update nets to zero here
    * and is dropped — the join view keys on custkey, so it genuinely
    * contributes nothing). */
  def factDeltaOfEvents(ev: DataFrame): DataFrame = {
    val minus = ev.filter(col("op").isin("u", "d") && col("b_k").isNotNull)
      .select(col("b_k").as("k"), (-col("b_c")).as("d_cents"),
        lit(-1L).as("d_rows"))
    val plus = ev.filter(col("op").isin("c", "r", "u") && col("a_k").isNotNull)
      .select(col("a_k").as("k"), col("a_c").as("d_cents"),
        lit(1L).as("d_rows"))
    plus.unionByName(minus).groupBy("k")
      .agg(sum("d_cents").as("d_cents"), sum("d_rows").as("d_rows"))
      .filter(col("d_cents") =!= 0L || col("d_rows") =!= 0L)
  }

  /** Signed dimension deltas `(k, seg, d_m)` of a [[dimEvents]]
    * projection: an update contributes −(old seg) +(new seg), moving
    * every joined fact row's measures across groups. */
  def dimDeltaOfEvents(ev: DataFrame): DataFrame = {
    val minus = ev.filter(col("op").isin("u", "d") && col("b_k").isNotNull)
      .select(col("b_k").as("k"), col("b_s").as("seg"), lit(-1L).as("d_m"))
    val plus = ev.filter(col("op").isin("c", "r", "u") && col("a_k").isNotNull)
      .select(col("a_k").as("k"), col("a_s").as("seg"), lit(1L).as("d_m"))
    plus.unionByName(minus).groupBy("k", "seg")
      .agg(sum("d_m").as("d_m")).filter(col("d_m") =!= 0L)
  }

  /** Narrow projection + batch-local at-least-once dedup, shared by both
    * event projections — the same (row key, position, op) identity
    * [[IncrementalView.eventsOf]] documents. The row key is the source
    * table's primary key, not the join key: the rows of a Debezium
    * snapshot (`op=r`) share one source position, so keying on the join
    * key would keep one order per customer. */
  private def dedup(parsed: DataFrame, rowKey: org.apache.spark.sql.Column,
      before: Seq[org.apache.spark.sql.Column],
      after: Seq[org.apache.spark.sql.Column]): DataFrame =
    parsed
      .filter(!col("_corrupt") && !col("_tombstone"))
      .select(col("env.op").as("op") +: rowKey.as("_row") +: (before ++ after) :+
        col("env.source.lsn").as("lsn") :+ col("env.source.file").as("file") :+
        col("env.source.pos").as("pos") :+ col("env.source.ts_ms").as("ts"): _*)
      .dropDuplicates("_row", "op", "lsn", "file", "pos", "ts")
      .drop("_row")

  /** One bilinear term: a signed fact stream (k, d_cents, d_rows) joined
    * to a signed dimension stream (k, seg, d_m) → signed (seg, c, r)
    * contributions. */
  private[streaming] def term(aSide: DataFrame, bSide: DataFrame): DataFrame =
    aSide.join(bSide, "k").select(col("seg"),
      (col("d_cents") * col("d_m")).as("c"),
      (col("d_rows") * col("d_m")).as("r"))

  /** Additive outer merge `prev ⊎ delta` on `keys`; `cols` maps each
    * output measure to its delta column. */
  private[streaming] def merge(prev: Option[DataFrame], delta: DataFrame,
      keys: Seq[String], cols: Seq[(String, String)]): DataFrame =
    prev match {
      case None =>
        delta.select(keys.map(col) ++
          cols.map { case (o, d) => col(d).as(o) }: _*)
      case Some(p) =>
        p.join(delta, keys, "full")
          .select(keys.map(col) ++ cols.map { case (o, d) =>
            (coalesce(col(o), lit(0L)) + coalesce(col(d), lit(0L))).as(o)
          }: _*)
    }

  /** [[BucketedJoinView.maintain]] with one bucket. */
  def maintain(rawStream: DataFrame, path: String,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    BucketedJoinView.maintain(rawStream, path, checkpoint, nBuckets = 1)

  /** Split one multi-topic micro-batch into its parsed orders/customers
    * halves — the production feed shape (one Kafka subscription carries
    * both tables' envelopes). */
  private[streaming] def splitAndParse(batch: DataFrame)
      : (DataFrame, DataFrame) = (
    graft.sources.Debezium.parseEnvelope(
      batch.filter(col("topic").endsWith(".orders")),
      graft.sources.Debezium.ordersRowSchema),
    graft.sources.Debezium.parseEnvelope(
      batch.filter(col("topic").endsWith(".customers")),
      graft.sources.Debezium.customerRowSchema))

  /** [[BucketedJoinView.readView]]. */
  def readView(spark: SparkSession, path: String): Option[DataFrame] =
    BucketedJoinView.readView(spark, path)
}
