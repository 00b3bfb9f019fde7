package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Off-fixture validation of the r8 catalog-index swap: the dense
  * item index that [[graft.operators.Training.negativeSample]] maps
  * hash draws into used to be a catalog-wide
  * `row_number() OVER (ORDER BY item_id)` — the one place a frame
  * that genuinely grows with the catalog met a single-task global
  * window. It now rides [[graft.operators.Relational.denseIndexOf]]'s
  * [[graft.operators.RankPrefix.before]] prefix; this spec measures (not argues)
  * that the swap is exact at ≥10⁶ catalog rows:
  *
  *  - denseIndexOf on 1.5M SCATTERED all-distinct keys (id·K mod P —
  *    injective below P, so ranks are a pure permutation) must equal
  *    the flat local sort's 0-based ranks row-for-row, and its plan
  *    must carry NO unpartitioned window;
  *  - negativeSampleOf end-to-end on a 1.2M-item catalog: every
  *    user's negative list replayed bit-exactly from a driver-side
  *    MessageDigest md5 of the same "user-slot-neg" draw strings
  *    (the engine-portable h32 idiom), including min-slot dedup,
  *    positive anti-join, and the (slot, item) top-K cut.
  */
class CatalogIndexScaleSpec extends AnyFunSuite with SparkFixture {

  import operators.{Relational, Training}

  private val MulK = 2654435761L // Knuth's 2^32 golden-ratio multiplier
  private val P = 999999937L

  test("denseIndexOf: 1.5M scattered keys rank exactly, no global window", ScaleTest) {
    val n = 1500000
    val keys = spark.range(0L, n.toLong)
      .select(expr(s"(id * ${MulK}L) % ${P}L").as("item_id"))
    val idx = Relational.denseIndexOf(keys, "item_id", "idx")

    val plan = idx.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val globalWin = """windowspecdefinition\([^(),]*#\d+L? (ASC|DESC)""".r
    assert(globalWin.findFirstIn(plan).isEmpty,
      "denseIndexOf must not plan an unpartitioned window")

    val raw = Array.tabulate(n)(i => (i.toLong * MulK) % P)
    assert(raw.distinct.length === n)
    val sorted = raw.sorted
    val got = idx.orderBy("item_id").collect()
    assert(got.length === n)
    var i = 0
    while (i < n) {
      val r = got(i)
      assert(r.getLong(0) === sorted(i), s"key at rank $i")
      assert(r.getLong(1) === i.toLong, s"idx of key ${sorted(i)}")
      i += 1
    }
  }

  test("popMassCumOf + negativeSamplePopOf: 1M-item weighted catalog, exact inverse-CDF replay", ScaleTest) {
    val nItems = 1000000
    val nUsers = 500
    // scattered distinct item ids with a planted popularity pattern
    val counts = spark.range(0L, nItems.toLong)
      .select(expr(s"(id * ${MulK}L) % ${P}L").as("item_id"),
        expr("(id % 97) + 1").as("cnt"))
    val cum = Training.popMassCumOf(counts)

    val plan = cum.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val globalWin = """windowspecdefinition\([^(),]*#\d+L? (ASC|DESC)""".r
    assert(globalWin.findFirstIn(plan).isEmpty,
      "the cumulative-mass index must not plan an unpartitioned window")

    // local ground truth: mass + prefix in item_id order
    val cntOf = new java.util.HashMap[Long, Long](nItems * 2)
    val itemsArr = new Array[Long](nItems)
    var i = 0
    while (i < nItems) {
      val it = (i.toLong * MulK) % P
      itemsArr(i) = it
      cntOf.put(it, (i.toLong % 97) + 1)
      i += 1
    }
    val sortedItems = itemsArr.sorted
    val massArr = sortedItems.map { it =>
      val c = cntOf.get(it).toDouble
      math.round(math.sqrt(c * math.sqrt(c)) * Training.PopMassScale)
    }
    val cumLo = massArr.scanLeft(0L)(_ + _)
    val tot = cumLo.last

    // engine cum table must match the local prefix row-for-row
    val gotCum = cum.orderBy("item_id").collect()
    assert(gotCum.length === nItems)
    i = 0
    while (i < nItems) {
      val r = gotCum(i)
      assert(r.getLong(0) === sortedItems(i), s"item at position $i")
      assert(r.getLong(1) === massArr(i), s"mass of item ${sortedItems(i)}")
      assert(r.getLong(2) === cumLo(i), s"cum_lo of item ${sortedItems(i)}")
      i += 1
    }

    // end-to-end weighted draws replayed exactly
    val posRows = (0 until nUsers).flatMap { u =>
      (0 until 3).map { j =>
        (u.toLong, sortedItems(((u.toLong * 17 + j * 330000L) % nItems).toInt))
      }
    }
    import spark.implicits._
    val posDf = posRows.toDF("user_id", "item_id")
    val got = Training.negativeSamplePopOf(posDf, countsOpt = Some(counts))
      .orderBy("user_id").collect()

    val md = MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def itemAt(u: Long): Long = {
      var lo = 0; var hi = nItems - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (cumLo(mid) <= u) lo = mid else hi = mid - 1
      }
      sortedItems(lo)
    }
    val posSet = posRows.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).toSet }
    val expected = (0 until nUsers).map { u =>
      val draws = (0 until Training.NegSlots).map { slot =>
        (itemAt(h60(s"$u-$slot-negpop") % tot), slot)
      }
      val dedup = draws.groupBy(_._1).map { case (it, xs) => (it, xs.map(_._2).min) }
      val negs = dedup.toSeq
        .filterNot { case (it, _) => posSet(u.toLong).contains(it) }
        .sortBy { case (it, slot) => (slot, it) }
        .take(Training.NegK)
        .map(_._1)
      (u.toLong, negs.length.toLong, negs.sum, negs.mkString(","))
    }
    assert(got.length === nUsers)
    expected.zip(got).foreach { case ((u, nNeg, ck, itemsCsv), row) =>
      assert(row.getLong(0) === u)
      assert(row.getLong(1) === nNeg, s"n_neg of user $u")
      assert(row.getLong(2) === ck, s"neg_checksum of user $u")
      assert(row.getString(3) === itemsCsv, s"neg_items of user $u")
    }
  }

  test("negativeSampleOf: 1.2M-item catalog, exact md5 replay per user", ScaleTest) {
    val nItems = 1200000
    val nUsers = 800
    val catalog = spark.range(0L, nItems.toLong)
      .select(expr(s"(id * ${MulK}L) % ${P}L").as("item_id"))
    val sortedItems = Array.tabulate(nItems)(i => (i.toLong * MulK) % P).sorted
    // positives: 3 deterministic catalog items per user, built from
    // the local sorted array (nUsers·3 rows, driver-side test input)
    val posRows = (0 until nUsers).flatMap { u =>
      (0 until 3).map { j =>
        (u.toLong, sortedItems(((u.toLong * 17 + j * 400000L) % nItems).toInt))
      }
    }
    import spark.implicits._
    val posDf = posRows.toDF("user_id", "item_id")

    val got = Training.negativeSampleOf(posDf, catalog)
      .orderBy("user_id").collect()

    // driver-side exact replay of the engine's draw pipeline
    val md = MessageDigest.getInstance("MD5")
    def h32(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val posSet = posRows.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).toSet }
    val expected = (0 until nUsers).map { u =>
      val draws = (0 until Training.NegSlots).map { slot =>
        val idx = (h32(s"$u-$slot-neg") % nItems).toInt
        (sortedItems(idx), slot)
      }
      val dedup = draws.groupBy(_._1).map { case (it, xs) => (it, xs.map(_._2).min) }
      val negs = dedup.toSeq
        .filterNot { case (it, _) => posSet(u.toLong).contains(it) }
        .sortBy { case (it, slot) => (slot, it) }
        .take(Training.NegK)
        .map(_._1)
      (u.toLong, negs.length.toLong, negs.sum, negs.mkString(","))
    }
    assert(got.length === nUsers)
    expected.zip(got).foreach { case ((u, nNeg, ck, itemsCsv), row) =>
      assert(row.getLong(0) === u)
      assert(row.getLong(1) === nNeg, s"n_neg of user $u")
      assert(row.getLong(2) === ck, s"neg_checksum of user $u")
      assert(row.getString(3) === itemsCsv, s"neg_items of user $u")
    }
  }
}
