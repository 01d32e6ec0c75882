package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** q-digest contracts the declared oracle row cannot express: the
  * per-partition build + order-free merge path for unbounded domains,
  * the rank-error guarantee under ARBITRARY splits, the size bound,
  * and multiset determinism (the property that puts the sketch under
  * the cross-engine hash gate at all). */
class QDigestSpec extends AnyFunSuite {

  private def rng(seed: Long) = new scala.util.Random(seed)

  /** Exclusive/inclusive exact ranks of v in vs. */
  private def ranks(vs: Seq[Int], v: Int): (Long, Long) =
    (vs.count(_ < v).toLong, vs.count(_ <= v).toLong)

  private def checkBounds(vs: Seq[Int], dig: Map[Long, Long], k: Int,
      slackCompressions: Int): Unit = {
    val n = vs.size.toLong
    val t = math.max(1L, n / k)
    val bound = 16L * t * slackCompressions
    for (q <- Seq(1L, 10L, 50L, 90L, 99L)) {
      val target = (n * q + 99L) / 100L
      val est = QDigest.quantile(dig, target)
      val (lt, le) = ranks(vs, est)
      assert(le >= target,
        s"q=$q: inclusive rank $le under target $target (est $est)")
      assert(lt <= target + bound,
        s"q=$q: exclusive rank $lt over target $target + $bound (est $est)")
    }
  }

  test("single build: rank guarantee and size bound across distributions") {
    val k = 64
    val dists: Seq[(String, Seq[Int])] = Seq(
      ("uniform", Seq.fill(20000)(rng(1).nextInt(QDigest.U))),
      ("skewed-low", Seq.fill(20000)(
        math.min(QDigest.U - 1, (math.abs(rng(2).nextGaussian()) * 40).toInt)),
      ),
      ("heavy-point", Seq.fill(15000)(7) ++ Seq.fill(5000)(
        rng(3).nextInt(QDigest.U))),
      ("tiny", Seq(1, 2, 3)),
      ("constant", Seq.fill(500)(QDigest.U - 1)))
    dists.foreach { case (name, vsRaw) =>
      val vs = vsRaw.map(v => math.max(0, math.min(QDigest.U - 1, v)))
      val (dig, n) = QDigest.fromValues(vs.iterator, k)
      assert(n == vs.size)
      assert(QDigest.size(dig) <= 3 * k, s"$name: ${QDigest.size(dig)} nodes")
      checkBounds(vs, dig, k, slackCompressions = 1)
    }
  }

  test("merge law: bounds survive arbitrary splits; merge is order-free") {
    val k = 64
    val vs = Seq.fill(30000)(rng(7).nextInt(1000)) ++
      Seq.fill(3000)(rng(8).nextInt(QDigest.U))
    // split into 7 uneven parts, digest each, merge in two different
    // orders — the merged count maps must be IDENTICAL (sums are
    // order-free and compression is canonical), and the bounds must
    // hold with the extra per-part compression slack
    val parts = vs.grouped(5000).toSeq
    val digs = parts.map(p => QDigest.fromValues(p.iterator, k)._1)
    val mergedLtr = digs.reduceLeft((a, b) => QDigest.merge(a, b, k))
    val mergedRtl = digs.reduceRight((a, b) => QDigest.merge(a, b, k))
    // not necessarily equal (different intermediate n at recompress),
    // but BOTH must satisfy the guarantee; the one-shot merge of the
    // raw count sums IS order-free, so check exact equality there
    val summed = digs.reduce { (a, b) =>
      (a.keySet ++ b.keySet).map(id =>
        id -> (a.getOrElse(id, 0L) + b.getOrElse(id, 0L))).toMap
    }
    val once = QDigest.compress(summed, vs.size.toLong, k)
    val summedRev = digs.reverse.reduce { (a, b) =>
      (a.keySet ++ b.keySet).map(id =>
        id -> (a.getOrElse(id, 0L) + b.getOrElse(id, 0L))).toMap
    }
    assert(QDigest.compress(summedRev, vs.size.toLong, k) == once,
      "canonical compress of the order-free sum must be identical")
    checkBounds(vs, mergedLtr, k, slackCompressions = parts.size + 7)
    checkBounds(vs, mergedRtl, k, slackCompressions = parts.size + 7)
    checkBounds(vs, once, k, slackCompressions = parts.size + 1)
    assert(QDigest.size(mergedLtr) <= 3 * k)
  }

  test("determinism: same multiset, any order -> identical digest") {
    val vs = Seq.fill(5000)(rng(11).nextInt(300))
    val a = QDigest.fromValues(vs.iterator, 64)._1
    val b = QDigest.fromValues(rng(12).shuffle(vs).iterator, 64)._1
    assert(a == b, "digest must be a pure function of the multiset")
  }

  test("node geometry: leaf/level/range round-trips") {
    assert(QDigest.levelOf(1L) == 0)
    assert(QDigest.levelOf(QDigest.leafId(0)) == QDigest.Bits)
    for (v <- Seq(0, 1, 7, 12345, QDigest.U - 1)) {
      val id = QDigest.leafId(v)
      assert(QDigest.loOf(id) == v && QDigest.hiOf(id) == v)
    }
    // root covers everything
    assert(QDigest.loOf(1L) == 0 && QDigest.hiOf(1L) == QDigest.U - 1)
    // an internal node's children partition its range
    val id = (1L << 5) + 13
    assert(QDigest.loOf(id) == QDigest.loOf(2 * id))
    assert(QDigest.hiOf(id) == QDigest.hiOf(2 * id + 1))
    assert(QDigest.hiOf(2 * id) + 1 == QDigest.loOf(2 * id + 1))
  }
}
