package graft.sources.v2

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The [[MemHist]] contracts the oracle-gated query (`dsv2_hist_cbo`)
  * rides on: the bucketing is a total, order-preserving, contiguous
  * partition of the signed-long domain; encode/decode round-trips;
  * merge is exact (counts add); the equi-height collapse conserves
  * mass-proportional bin counts; and the manifest token survives a real
  * write → OPTIMIZE rewrite cycle with its mass intact.
  */
class MemHistSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  test("bucketing: every value lands in exactly the bucket whose edges contain it") {
    val probes = Seq(Long.MinValue + 1, -1000000007L, -65536L, -17L, -2L, -1L,
      0L, 1L, 7L, 15L, 16L, 17L, 31L, 32L, 1023L, 1024L, 999983L,
      1000000L, (1L << 40) + 12345L, Long.MaxValue - 1)
    probes.foreach { v =>
      val i = MemHist.idx(v)
      val (lo, hi) = MemHist.edges(i)
      // upper bound inclusive only at the clamped domain extremes, where
      // Long.MaxValue.toDouble rounds onto the edge itself
      assert(lo <= v.toDouble && v.toDouble <= hi,
        s"v=$v idx=$i edges=($lo, $hi)")
    }
  }

  test("bucketing is order-preserving and contiguous") {
    // order: larger value -> same-or-larger index
    val vals = Seq(-100000L, -50L, -16L, -15L, -1L, 0L, 1L, 8L, 15L, 16L,
      17L, 100L, 5000L, 1000000L, 123456789L)
    vals.sliding(2).foreach { case Seq(a, b) =>
      assert(MemHist.idx(a) <= MemHist.idx(b), s"order broken at ($a, $b)")
    }
    // contiguity: bucket i's upper edge is bucket i+1's lower edge
    (-40 to 40).sliding(2).foreach { case Seq(i, j) =>
      assert(MemHist.edges(i)._2 == MemHist.edges(j)._1,
        s"gap between buckets $i and $j")
    }
    // relative bucket width is bounded by 2^-SubBits above the exact region
    Seq(100L, 12345L, 999999L, (1L << 50) + 7L).foreach { v =>
      val (lo, hi) = MemHist.edges(MemHist.idx(v))
      assert((hi - lo) / math.max(1.0, lo) <= 1.0 / (1 << MemHist.SubBits) + 1e-9,
        s"bucket too wide at $v: [$lo, $hi)")
    }
  }

  test("encode/decode round-trips; merge adds counts exactly") {
    val a = Map(MemHist.idx(3L) -> 10L, MemHist.idx(1000000L) -> 2L)
    val b = Map(MemHist.idx(3L) -> 5L, MemHist.idx(-9L) -> 7L)
    assert(MemHist.decode(MemHist.encode(a)) == a)
    val m = MemHist.merge(Seq(MemHist.encode(a), MemHist.encode(b)))
    assert(m(MemHist.idx(3L)) == 15L && m(MemHist.idx(1000000L)) == 2L &&
      m(MemHist.idx(-9L)) == 7L)
    assert(m.values.sum == 24L, "merge must conserve total mass")
    // merge of splits == count of the whole, however the rows were split
    val vals = (0 until 500).map(i => if (i % 20 == 0) 1000000L + i * 3000L else (i % 8).toLong)
    val whole = new MemHist.Tracker
    vals.foreach(whole.add)
    val parts = vals.grouped(137).map { chunk =>
      val t = new MemHist.Tracker; chunk.foreach(t.add); MemHist.encode(t.snapshot)
    }.toSeq
    assert(MemHist.merge(parts) == whole.snapshot, "layout-invariant merge")
  }

  test("equi-height: bin count tracks row mass, not value range") {
    // 95% of rows at v=3, 5% spread over the tail: the heavy value must
    // absorb ~95% of the bins (repeated bins), the tail ~5% — this is
    // the property that makes range selectivity skew-proof
    val t = new MemHist.Tracker
    (0 until 9500).foreach(_ => t.add(3L))
    (0 until 500).foreach(i => t.add(1000000L + i * 3000L))
    val (height, bins) = MemHist.equiHeight(t.snapshot)
    assert(bins.size == MemHist.Bins)
    assert(math.abs(height - 10000.0 / MemHist.Bins) < 1e-9)
    val tailBins = bins.count(_._2 > 999999.0)
    assert(tailBins >= 2 && tailBins <= 6,
      s"5% of mass must occupy ~5% of bins, got $tailBins of ${bins.size}")
    // the heavy hitter emits ANALYZE's zero-width repeated bins at its
    // exact value — equality estimation still sees its mass
    val heavyBins = bins.count(b => b._1 >= 3.0 - 1e-9 && b._2 <= 4.0 + 1e-9)
    assert(heavyBins >= MemHist.Bins - 6,
      s"95% of mass must occupy ~95% of bins, got $heavyBins")
    assert(bins.count(b => b._1 == 3.0 && b._2 == 3.0) >= MemHist.Bins / 2,
      "heavy-hitter bins must sit AT the exact value (lo == hi == v)")
    // bin bounds are non-decreasing (repeated heavy-hitter bins overlap
    // on the heavy bucket's range, exactly like ANALYZE's equal bins)
    bins.sliding(2).foreach { case Seq(x, y) =>
      assert(x._1 <= y._1 + 1e-9 && x._2 <= y._2 + 1e-9)
    }
    assert(bins.head._1 <= 3.0 && bins.last._2 >= 1000000.0)
  }

  test("hist tokens survive write, INSERT, and OPTIMIZE with mass intact") {
    val cat = {
      val name = "graftmemspec_hist"
      val root = tempDir("graft-memcat-spec-hist")
      spark.conf.set(s"spark.sql.catalog.$name", classOf[MemCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
      (name, root)
    }
    val (name, root) = cat
    spark.sql(s"CREATE TABLE $name.t.h TBLPROPERTIES ('histFor'='v', " +
      "'clusterBy'='v', 'clusterParts'='3') AS " +
      "SELECT id AS k, CAST(id % 11 AS BIGINT) AS v FROM range(300)")
    spark.sql(s"INSERT INTO $name.t.h SELECT id, CAST(id AS BIGINT) FROM range(50)")
    val dir = root.resolve("t__h")
    def mass(): Long = {
      val es = MemCatalog.liveEntries(dir)
      assert(es.forall(_.hists.contains("v")), "every live file carries the token")
      MemHist.merge(es.map(_.hists("v"))).values.sum
    }
    assert(mass() == 350L, "merged counts == non-null rows across commits")
    MemCatalog.compact(dir)
    assert(mass() == 350L, "OPTIMIZE rebuilds the sketches with identical mass")
  }
}
