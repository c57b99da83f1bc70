package graft.perfbench

import java.io.File
import java.nio.file.Files

/** Tests of the generator and its fold (no Spark). Run with
  * `python3 perfbench/test_gen.py`; exits non-zero on the first failure.
  *   1. the same seed gives identical archive bytes, another seed does not;
  *   2. the fold equals a brute-force per-key replay and the generator's
  *      own final state;
  *   3. each traffic dimension appears at its configured share;
  *   4. the insert history folds to the same rows as the snapshot, with a
  *      source position of its own per row, all before the changes'. */
object GenCheck {
  private var failures = 0
  private def check(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def log(seed: Long, nChanges: Int): (Gen.World, IndexedSeq[Gen.Rec]) = {
    val w = new Gen.World(seed, 5000, 500)
    (w, w.arrive(w.snapshot() ++ w.changes(nChanges)))
  }

  def main(args: Array[String]): Unit = {
    val dir = new File(args.headOption.getOrElse(".bench_build/gencheck"))
    dir.mkdirs()
    def bytes(seed: Long, name: String): Array[Byte] = {
      val f = new File(dir, name)
      Gen.write(log(seed, 20000)._2, f)
      Files.readAllBytes(f.toPath)
    }
    val a = bytes(7, "a.json")
    check(java.util.Arrays.equals(a, bytes(7, "b.json")),
      s"seed 7 twice gives identical bytes (${a.length} bytes)")
    check(!java.util.Arrays.equals(a, bytes(8, "c.json")),
      "seed 8 gives different bytes")

    Seq(1L, 2L, 3L).foreach { seed =>
      val (w, recs) = log(seed, 30000)
      val fold = new Gen.Fold().addAll(recs)
      val (bo, bc) = Gen.bruteForce(recs)
      check(fold.orders.toMap == bo && fold.customers.toMap == bc,
        s"seed $seed: fold equals brute-force replay (${bo.size} orders)")
      check(fold.orders.toMap == w.orders.toMap &&
        fold.customers.toMap == w.customers.toMap,
        s"seed $seed: fold equals the generator's final state")
    }

    {
      val w = new Gen.World(5, 5000, 500)
      val snap = w.snapshot()
      val hist = w.history()
      val first = w.changes(1).head.lsn
      val a = new Gen.Fold().addAll(w.arrive(snap))
      val b = new Gen.Fold().addAll(w.arrive(hist))
      check(a.orders.toMap == b.orders.toMap && a.customers.toMap == b.customers.toMap &&
        b.orders.size == 5000 && b.customers.size == 500,
        s"the insert history folds to the snapshot's rows (${hist.size} rows)")
      check(hist.forall(_.op == 'c') && hist.map(_.lsn).distinct.size == hist.size &&
        hist.map(_.lsn).max < snap.head.lsn && snap.head.lsn < first,
        "history positions are distinct and precede the snapshot's and the changes'")
    }

    val w = new Gen.World(11, 20000, 2000)
    val n = 200000
    val evs = w.changes(n)
    val recs = w.arrive(evs)
    def share(kind: String) = evs.count(_.kind == kind).toDouble / n
    Seq("update" -> Gen.UpdateShare, "insert" -> Gen.InsertShare,
      "delete" -> Gen.DeleteShare, "segment" -> Gen.SegmentShare).foreach {
      case (k, want) =>
        val got = share(k)
        check(math.abs(got - want) < 0.01, f"$k share $got%.4f ~ $want%.4f")
    }
    val deletes = evs.count(_.op == 'd')
    val tombs = recs.filter(_.tombstone)
    check(tombs.count(!_.replay) == deletes, s"one tombstone per delete ($deletes)")
    check(recs.indices.forall(i => !recs(i).tombstone || recs(i).replay ||
      (i > 0 && recs(i - 1).ev == recs(i).ev && recs(i - 1).ev.op == 'd')),
      "every tombstone directly follows its delete")
    val replays = recs.count(_.replay).toDouble / n
    check(math.abs(replays - Gen.ReplayShare) < 0.005,
      f"replay share $replays%.4f ~ ${Gen.ReplayShare}")
    val firsts = recs.filterNot(r => r.replay || r.tombstone).map(_.ev.lsn)
    val inversions = firsts.sliding(2).count { case Seq(x, y) => y < x }
    check(inversions > n / 4, s"out-of-order arrivals ($inversions inversions)")
    val lsnRank = evs.map(_.lsn).zipWithIndex.toMap
    val displacement = firsts.zipWithIndex.map { case (l, i) => math.abs(lsnRank(l) - i) }.max
    check(displacement < Gen.ReorderWindow,
      s"reordering stays within the window (max displacement $displacement)")
    val hot = evs.filter(_.kind == "update").groupBy(_.key).values.map(_.size)
      .toSeq.sorted.reverse
    check(hot.head > 20 * hot(hot.size / 2),
      s"updates are skewed (hottest key ${hot.head}, median ${hot(hot.size / 2)})")
    val segMoves = evs.filter(_.kind == "segment")
    check(segMoves.forall(e => e.before.get.asInstanceOf[Gen.Customer].seg !=
      e.after.get.asInstanceOf[Gen.Customer].seg), "every segment change moves segment")

    if (failures > 0) { println(s"$failures FAILED"); sys.exit(1) }
    println("all generator checks passed")
  }
}
