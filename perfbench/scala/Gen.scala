package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Seeded Debezium change-log generator and its expected-state fold.
  *
  * Plain Scala on purpose: nothing here calls the engine (`CdcOps`,
  * `Debezium`, `CdcPipeline`), so the fold is an independent reference the
  * engine's outputs are checked against.
  *
  * The log models a Postgres connector with `snapshot.mode=initial` over
  * two tables, `orders` and `customers`: an `op=r` snapshot of every row,
  * then a change stream with these traffic dimensions, all drawn from the
  * seed:
  *   - Zipf-skewed order updates (hot keys spread over the key space by a
  *     seeded permutation, so they do not share one state bucket);
  *   - order inserts of new keys;
  *   - order deletes, each followed by a tombstone (`drop.tombstones=false`);
  *   - customer segment changes (the A⋈ΔB term of the join views);
  *   - at-least-once verbatim replays of earlier records;
  *   - out-of-order arrival within a bounded window of records.
  * Source positions (`lsn`) follow commit order; arrival order differs
  * from it only by the replays and the bounded shuffle.
  *
  * The initial rows come in one of two forms: the `op=r` snapshot, in
  * which every row shares the snapshot's source position, or the insert
  * history that created them (`op=c`, one position each), the log of a
  * connector that captured the tables from their creation, as the
  * engine's own join-view fixture (`CdcOps`) is shaped.
  */
object Gen {

  final case class Order(key: Long, cust: Long, status: String,
      priceCents: Long, dateUs: Long, prio: String)
  final case class Customer(key: Long, name: String, nation: Int,
      balCents: Long, seg: String)

  /** One change event in commit order. `table` is "orders" or "customers";
    * `kind` names the traffic dimension that produced it. */
  final case class Event(table: String, op: Char, key: Long,
      before: Option[Product], after: Option[Product], lsn: Long,
      tsMs: Long, kind: String)

  /** One archived record in arrival order: an event, its tombstone, or a
    * verbatim replay of an earlier record. */
  final case class Rec(ev: Event, tombstone: Boolean, replay: Boolean)

  /** Traffic mix, derived from the engine's own change-log fixtures
    * (`CdcOps.buildOrdersChangelog` for orders, the customer dimension log
    * next to it) with TPC-H's 10 orders per customer:
    *   - per order key the fixture updates 1 in 10 (`k % 10`) and deletes
    *     1 in 7 (`k % 7`), each delete followed by a tombstone; its updates
    *     flip the status and never move an order to another customer;
    *   - per customer key it moves 1 in 4 (`k % 4`) to another segment,
    *     1 in 40 per order key;
    *   - inserts of new keys equal deletes, as TPC-H's refresh functions
    *     RF1/RF2 insert and delete the same number of orders, so the
    *     table keeps its size;
    *   - it replays the record of 1 order key in 20 (`k % 20`) verbatim;
    *     here 1 event in 20 is followed by a replay of a recent record.
    * Unlike the fixture, an update here also reprices the order, so
    * updates change the join view's revenue.
    * Shares of change events are those rates over their sum. Hot keys
    * follow a Zipf law with YCSB's default constant 0.99. Arrival is
    * shuffled within windows of 12 records, one per partition of the
    * 12-partition keyed topic the engine's fixture layout models. */
  private val PerKey = Seq(1.0 / 10, 1.0 / 7, 1.0 / 7, 1.0 / 40)
  val UpdateShare: Double = PerKey(0) / PerKey.sum
  val InsertShare: Double = PerKey(1) / PerKey.sum
  val DeleteShare: Double = PerKey(2) / PerKey.sum
  val SegmentShare: Double = PerKey(3) / PerKey.sum
  val ZipfS = 0.99
  val ReplayShare: Double = 1.0 / 20
  val ReorderWindow = 12

  val Segments: Array[String] =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Statuses = Array("O", "F", "P")
  private val Prios =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val OrdersTopic = "bench.public.orders"
  val CustomersTopic = "bench.public.customers"
  private val BaseMs = 1767225600000L // 2026-01-01T00:00:00Z

  /** Generator state: current rows plus the key pools the samplers draw
    * from. Every call of [[changes]] advances it in commit order. */
  final class World(seed: Long, val nOrders: Int, val nCustomers: Int) {
    val rnd = new java.util.SplittableRandom(seed)
    val orders = mutable.LongMap.empty[Order]
    val customers = mutable.LongMap.empty[Customer]
    // live order keys, swap-remove for O(1) uniform sampling
    private var live = new Array[Long](nOrders * 2)
    private var nLive = 0
    private val slot = mutable.LongMap.empty[Int]
    private var nextOrderKey = nOrders.toLong + 1
    // the insert history takes positions 8, 16, …; the snapshot's
    // position and the change stream follow it
    private val snapshotLsn = 8L * (nOrders + nCustomers) + 1000
    private var lsn = snapshotLsn + 1000
    // Zipf over the initial order ranks, rank → key through a seeded
    // permutation
    private val zipfCdf: Array[Double] = {
      val c = new Array[Double](nOrders)
      var acc = 0.0
      var i = 0
      while (i < nOrders) {
        acc += 1.0 / math.pow(i + 1, ZipfS); c(i) = acc; i += 1
      }
      i = 0
      while (i < nOrders) { c(i) /= acc; i += 1 }
      c
    }
    private val rankToKey: Array[Long] = {
      val a = Array.tabulate(nOrders)(i => i.toLong + 1)
      var i = a.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a
    }

    private def addLive(k: Long): Unit = {
      if (nLive == live.length) live = java.util.Arrays.copyOf(live, nLive * 2)
      live(nLive) = k; slot(k) = nLive; nLive += 1
    }
    private def removeLive(k: Long): Unit = {
      val i = slot(k); val last = live(nLive - 1)
      live(i) = last; slot(last) = i; nLive -= 1; slot.remove(k)
    }

    private def price(): Long = 10000L + rnd.nextLong(49990000L)
    private def newOrder(k: Long): Order = Order(k,
      1L + rnd.nextInt(nCustomers), Statuses(rnd.nextInt(3)), price(),
      (BaseMs - rnd.nextLong(86400000L * 365)) * 1000L, Prios(rnd.nextInt(5)))

    // initial rows
    (1L to nCustomers.toLong).foreach { k =>
      customers(k) = Customer(k, "Customer#" + ("%09d".format(k)), rnd.nextInt(25),
        rnd.nextLong(1099999L) - 99999L, Segments(rnd.nextInt(5)))
    }
    (1L to nOrders.toLong).foreach { k => orders(k) = newOrder(k); addLive(k) }

    private def currentRows: IndexedSeq[(String, Long, Product)] =
      customers.keys.toIndexedSeq.sorted.map(k => ("customers", k, customers(k): Product)) ++
        orders.keys.toIndexedSeq.sorted.map(k => ("orders", k, orders(k): Product))

    /** `op=r` snapshot of the current rows, customers first, all at the
      * snapshot's source position. */
    def snapshot(): IndexedSeq[Event] = currentRows.map { case (t, k, row) =>
      Event(t, 'r', k, None, Some(row), snapshotLsn, BaseMs, "snapshot")
    }

    /** The insert history of the current rows, customers first: one
      * `op=c` event per row, each at its own source position, all before
      * the snapshot's. Call it before [[changes]]. */
    def history(): IndexedSeq[Event] = currentRows.zipWithIndex.map {
      case ((t, k, row), i) =>
        val at = 8L * (i + 1)
        Event(t, 'c', k, None, Some(row), at, BaseMs + at, "history")
    }

    private def zipfKey(): Long = {
      var tries = 0
      while (tries < 8) {
        val u = rnd.nextDouble()
        var i = java.util.Arrays.binarySearch(zipfCdf, u)
        if (i < 0) i = -i - 1
        val k = rankToKey(math.min(i, nOrders - 1))
        if (orders.contains(k)) return k
        tries += 1
      }
      live(rnd.nextInt(nLive))
    }

    /** `n` change events in commit order, advancing the state. */
    def changes(n: Int): IndexedSeq[Event] = {
      val out = new mutable.ArrayBuffer[Event](n)
      while (out.size < n) {
        lsn += 8
        val ts = BaseMs + lsn
        val u = rnd.nextDouble()
        if (u < UpdateShare && nLive > 0) {
          val k = zipfKey()
          val o = orders(k)
          val n2 = o.copy(status = Statuses(rnd.nextInt(3)), priceCents = price())
          orders(k) = n2
          out += Event("orders", 'u', k, Some(o), Some(n2), lsn, ts, "update")
        } else if (u < UpdateShare + InsertShare) {
          val k = nextOrderKey; nextOrderKey += 1
          val o = newOrder(k)
          orders(k) = o; addLive(k)
          out += Event("orders", 'c', k, None, Some(o), lsn, ts, "insert")
        } else if (u < UpdateShare + InsertShare + DeleteShare &&
            nLive > 1) {
          val k = live(rnd.nextInt(nLive))
          val o = orders(k)
          orders.remove(k); removeLive(k)
          out += Event("orders", 'd', k, Some(o), None, lsn, ts, "delete")
        } else {
          val k = 1L + rnd.nextInt(nCustomers)
          val c = customers(k)
          var seg = Segments(rnd.nextInt(5))
          while (seg == c.seg) seg = Segments(rnd.nextInt(5))
          val c2 = c.copy(seg = seg)
          customers(k) = c2
          out += Event("customers", 'u', k, Some(c), Some(c2), lsn, ts,
            "segment")
        }
      }
      out.toIndexedSeq
    }

    /** Arrival order of `evs`: a bounded shuffle (each record moves at
      * most one reorder window), a tombstone right after each delete, and
      * verbatim replays of records already delivered within the window. */
    def arrive(evs: IndexedSeq[Event]): IndexedSeq[Rec] = {
      val w = ReorderWindow
      val shuffled = evs.grouped(w).flatMap { g =>
        val a = g.toArray
        var i = a.length - 1
        while (i > 0) {
          val j = rnd.nextInt(i + 1)
          val t = a(i); a(i) = a(j); a(j) = t
          i -= 1
        }
        a
      }.toIndexedSeq
      val out = new mutable.ArrayBuffer[Rec](evs.size * 5 / 4)
      var i = 0
      while (i < shuffled.size) {
        val e = shuffled(i)
        out += Rec(e, tombstone = false, replay = false)
        if (e.op == 'd') out += Rec(e, tombstone = true, replay = false)
        if (rnd.nextDouble() < ReplayShare) {
          // replay one of the last few delivered records verbatim
          val back = math.min(out.size, 1 + rnd.nextInt(8))
          val r = out(out.size - back)
          out += r.copy(replay = true)
        }
        i += 1
      }
      out.toIndexedSeq
    }
  }

  // ---------------------------------------------------------------- JSON

  private def cents(c: Long): String = {
    val a = math.abs(c)
    val frac = a % 100
    (if (c < 0) "-" else "") + (a / 100) + (if (frac < 10) ".0" else ".") + frac
  }

  // JSON writers over one StringBuilder; `qt` is the quote, `\"` inside
  // the envelope, which travels as a JSON string within the record
  private final class Json(sb: java.lang.StringBuilder, qt: String) {
    def str(k: String, v: String): this.type = {
      sb.append(qt).append(k).append(qt).append(':').append(qt).append(v).append(qt); this
    }
    def num(k: String, v: Long): this.type = {
      sb.append(qt).append(k).append(qt).append(':').append(v); this
    }
    def key(k: String): this.type = { sb.append(qt).append(k).append(qt).append(':'); this }
    def c(ch: Char): this.type = { sb.append(ch); this }
    def row(p: Option[Product]): this.type = p match {
      case None => sb.append("null"); this
      case Some(o: Order) =>
        c('{').num("o_orderkey", o.key).c(',').num("o_custkey", o.cust).c(',')
          .str("o_orderstatus", o.status).c(',').str("o_totalprice", cents(o.priceCents))
          .c(',').num("o_orderdate_us", o.dateUs).c(',').str("o_orderpriority", o.prio).c('}')
      case Some(cu: Customer) =>
        c('{').num("c_custkey", cu.key).c(',').str("c_name", cu.name).c(',')
          .num("c_nationkey", cu.nation).c(',').str("c_acctbal", cents(cu.balCents))
          .c(',').str("c_mktsegment", cu.seg).c('}')
      case Some(other) => sys.error(s"not a row: $other")
    }
  }

  /** Kafka-archive line: `{"topic","key","value":"<envelope>"}`, the
    * envelope a JSON string; a tombstone omits `value`. */
  def line(r: Rec): String = {
    val e = r.ev
    val sb = new java.lang.StringBuilder(640)
    val out = new Json(sb, "\"")
    val in = new Json(sb, "\\\"")
    out.c('{').str("topic", if (e.table == "orders") OrdersTopic else CustomersTopic)
      .c(',').key("key").c('"').c('{')
    in.num(if (e.table == "orders") "o_orderkey" else "c_custkey", e.key)
    out.c('}').c('"')
    if (!r.tombstone) {
      out.c(',').key("value").c('"')
      in.c('{').key("before").row(e.before).c(',').key("after").row(e.after).c(',')
        .key("source").c('{').str("version", "2.4.0.Final").c(',')
        .str("connector", "postgresql").c(',').str("name", "bench").c(',')
        .num("ts_ms", e.tsMs).c(',').str("db", "shop").c(',').str("schema", "public")
        .c(',').str("table", e.table).c(',').num("txId", e.lsn / 8).c(',')
        .num("lsn", e.lsn).c(',').str("snapshot", (e.op == 'r').toString).c('}').c(',')
        .str("op", e.op.toString).c(',').num("ts_ms", e.tsMs).c('}')
      out.c('"')
    }
    out.c('}')
    sb.toString
  }

  /** Write records as newline-delimited archive lines. */
  def write(recs: Iterable[Rec], f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
    try recs.foreach { r => w.write(line(r)); w.write('\n') }
    finally w.close()
  }

  // ---------------------------------------------------------------- fold

  /** Expected current state: per table, key → row, folding records in
    * ARRIVAL order with a position guard (a record applies only when its
    * lsn is newer than the key's last applied one), so replays and
    * reordering are no-ops exactly as the CDC contract requires. */
  final class Fold {
    val orders = mutable.LongMap.empty[Order]
    val customers = mutable.LongMap.empty[Customer]
    private val pos = mutable.HashMap.empty[(String, Long), Long]
    def add(r: Rec): Unit = if (!r.tombstone) {
      val e = r.ev
      val id = (e.table, e.key)
      if (pos.get(id).forall(_ < e.lsn)) {
        pos(id) = e.lsn
        (e.table, e.after) match {
          case ("orders", Some(o: Order)) => orders(e.key) = o
          case ("orders", None) => orders.remove(e.key)
          case ("customers", Some(c: Customer)) => customers(e.key) = c
          case ("customers", None) => customers.remove(e.key)
          case other => sys.error(s"bad event $other")
        }
      }
    }
    def addAll(rs: Iterable[Rec]): this.type = { rs.foreach(add); this }

    /** The join view `seg → (revenue_cents, n_orders)` over live orders
      * joined to live customers. */
    def joinView: Map[String, (Long, Long)] = {
      val acc = mutable.HashMap.empty[String, (Long, Long)]
      orders.valuesIterator.foreach { o =>
        customers.get(o.cust).foreach { c =>
          val (r, n) = acc.getOrElse(c.seg, (0L, 0L))
          acc(c.seg) = (r + o.priceCents, n + 1)
        }
      }
      acc.toMap
    }
  }

  /** Brute-force reference for [[Fold]]: per key, the newest-position
    * record wins; a delete leaves the key absent. */
  def bruteForce(rs: Iterable[Rec]): (Map[Long, Order], Map[Long, Customer]) = {
    val latest = rs.filterNot(_.tombstone).groupBy(r => (r.ev.table, r.ev.key))
      .map { case (id, g) => id -> g.maxBy(_.ev.lsn).ev }
    val o = latest.collect {
      case (("orders", k), e) if e.after.isDefined =>
        k -> e.after.get.asInstanceOf[Order]
    }
    val c = latest.collect {
      case (("customers", k), e) if e.after.isDefined =>
        k -> e.after.get.asInstanceOf[Customer]
    }
    (o, c)
  }

  // ------------------------------------------------------------ digests

  /** Order-independent digest `(rows, Σ crc32(row text))` of a table's
    * current state; the workloads compute the same sum in Spark over the
    * engine's output with `crc32(concat_ws('|', …))`. */
  def orderText(o: Order): String =
    s"${o.key}|${o.cust}|${o.status}|${cents(o.priceCents)}|${o.dateUs}|${o.prio}"
  def customerText(c: Customer): String =
    s"${c.key}|${c.name}|${c.nation}|${cents(c.balCents)}|${c.seg}"
  def viewText(seg: String, rev: Long, n: Long): String = s"$seg|$rev|$n"

  def digest(texts: Iterator[String]): (Long, Long) = {
    var n = 0L; var s = 0L
    val crc = new java.util.zip.CRC32
    texts.foreach { t =>
      crc.reset(); crc.update(t.getBytes(StandardCharsets.UTF_8))
      s += crc.getValue; n += 1
    }
    (n, s)
  }

  def ordersDigest(m: collection.Map[Long, Order]): (Long, Long) =
    digest(m.valuesIterator.map(orderText))
  def customersDigest(m: collection.Map[Long, Customer]): (Long, Long) =
    digest(m.valuesIterator.map(customerText))
  def viewDigest(v: Map[String, (Long, Long)]): (Long, Long) =
    digest(v.iterator.map { case (s, (r, n)) => viewText(s, r, n) })
}
