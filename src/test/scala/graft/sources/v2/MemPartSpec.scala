package graft.sources.v2

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Multi-transform + string-typed partition specs ([[MemPart]]): the
  * parser/arithmetic contracts the oracle-gated `dsv2_partition_multi`
  * and `dsv2_partition_string` queries build on, plus the seams they
  * don't cover — CTAS routing, OPTIMIZE re-stamping under a
  * multi-transform spec, DDL-time validation refusals, and vacuum's
  * reclamation of promoted-* clone copies.
  */
class MemPartSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def fresh(tag: String): (String, java.nio.file.Path) = {
    val name = s"graftpartspec_$tag"
    val root = tempDir(s"graft-part-spec-$tag")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[MemCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
    (name, root)
  }

  test("parseMulti splits on top-level commas only") {
    val specs = MemPart.parseMulti("days(ts),bucket(8,k),truncate(3,name)")
    assert(specs.map(_.render) ==
      Seq("days(ts)", "bucket(8,k)", "truncate(3,name)"))
    assert(MemPart.parseMulti("bucket(8,k)").map(_.render) == Seq("bucket(8,k)"))
    assert(MemPart.parseMulti("identity(a), days(b)").map(_.render) ==
      Seq("identity(a)", "days(b)"))
  }

  test("specsOf validates: days refuses strings, duplicates refuse, junk refuses") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ts", LongType), StructField("lang", StringType)))
    assert(MemPart.specsOf(
      Map("graft.partition" -> "days(ts),bucket(4,lang)"), schema).size == 2)
    val eDays = intercept[IllegalArgumentException](MemPart.specsOf(
      Map("graft.partition" -> "days(lang)"), schema))
    assert(eDays.getMessage.contains("does not apply"))
    val eDup = intercept[IllegalArgumentException](MemPart.specsOf(
      Map("graft.partition" -> "days(ts),days(ts)"), schema))
    assert(eDup.getMessage.contains("duplicate"))
    val eJunk = intercept[IllegalArgumentException](MemPart.specsOf(
      Map("graft.partition" -> "year(ts)"), schema))
    assert(eJunk.getMessage.contains("unsupported"))
    val eMissing = intercept[IllegalArgumentException](MemPart.specsOf(
      Map("graft.partition" -> "days(nope)"), schema))
    assert(eMissing.getMessage.contains("not in schema"))
  }

  test("PROPERTY: prefixCode monotone + truncate monotone over random strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // unicode-ish generator: ASCII, multibyte, shared prefixes, empties
    val strGen: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)),
      Gen.listOfN(4, Gen.oneOf("a", "ab", "日", "本", "ß", "", "zz")).map(_.mkString),
      Gen.asciiPrintableStr.map(_.take(10)))
    def samples(n: Int): Seq[String] =
      (1 to n).flatMap(i => strGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    val xs = (samples(300) ++ Seq("", "a")).distinct
    def utf8Lt(a: String, b: String): Boolean =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    val sorted = xs.sortWith(utf8Lt)
    // a <= b (binary order) ==> code(a) <= code(b), for EVERY adjacent
    // pair — the exact soundness condition string RANGE pruning rests on
    val codes = sorted.map(s => MemPart.prefixCode(s.getBytes("UTF-8")))
    sorted.indices.drop(1).foreach { i =>
      assert(codes(i - 1) <= codes(i),
        s"prefixCode order violated: '${sorted(i - 1)}' -> '${sorted(i)}'")
    }
    // truncate composes: monotone at every width
    Seq(1, 2, 5).foreach { w =>
      val t = MemPart.Truncate(w, "s")
      val tc = sorted.map(t.evalStr(_))
      sorted.indices.drop(1).foreach { i =>
        assert(tc(i - 1) <= tc(i),
          s"truncate($w) order violated: '${sorted(i - 1)}' -> '${sorted(i)}'")
      }
    }
    // bucket stays in range on everything
    val b = MemPart.Bucket(16, "s")
    xs.foreach(s => assert { val v = b.evalStr(s); v >= 0 && v < 16 })
  }

  test("prefixCode preserves binary string order (range-pruning soundness)") {
    // includes prefix-of relationships, shared 8-byte prefixes (where the
    // code COLLIDES — allowed, equal is still non-decreasing), and
    // multibyte UTF-8 (which sorts above ASCII in both orders)
    val samples = Seq("", "a", "aa", "ab", "abcdefgh", "abcdefghA",
      "abcdefghB", "b", "de", "en", "fr", "ja", "zh", "日本", "한국")
    val sorted = samples.sortWith((x, y) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0)
    val codes = sorted.map(s => MemPart.prefixCode(s.getBytes("UTF-8")))
    assert(codes == codes.sorted,
      s"prefix codes must be non-decreasing along string order: $sorted -> $codes")
    // equality is exact: distinct short strings get distinct codes
    assert(Seq("en", "de", "fr", "ja", "zh")
      .map(s => MemPart.prefixCode(s.getBytes("UTF-8"))).distinct.size == 5)
  }

  test("truncate: integral width-floor is monotone; string cut is per codepoint") {
    val t = MemPart.Truncate(10, "v")
    assert(t.eval(37) == 30 && t.eval(-7) == -10 && t.eval(40) == 40)
    val ts = MemPart.Truncate(2, "s")
    // 2 codepoints of a 3-codepoint multibyte string — never a torn byte
    assert(ts.evalStr("日本語") == MemPart.prefixCode("日本".getBytes("UTF-8")))
    assert(ts.evalStr("en") == MemPart.prefixCode("en".getBytes("UTF-8")))
    assert(ts.evalStr("e") == MemPart.prefixCode("e".getBytes("UTF-8")))
    // monotone through truncation: a <= b  ==>  t(a) <= t(b)
    val xs = Seq("", "a", "ab", "abc", "abd", "b", "ba", "日本", "日本語")
    val codes = xs.map(ts.evalStr(_))
    assert(codes == codes.sorted)
  }

  test("bucket over strings = FNV-1a 64 mod n, never negative") {
    val b = MemPart.Bucket(7, "s")
    Seq("", "en", "de", "a-rather-longer-tenant-key", "日本語").foreach { s =>
      val v = b.evalStr(s)
      assert(v >= 0 && v < 7)
      assert(v == java.lang.Math.floorMod(MemPart.fnv1a64(s.getBytes("UTF-8")), 7L))
    }
  }

  test("routed CTAS yields partition-pure files (same contract as INSERT)") {
    val (cat, root) = fresh("ctas")
    spark.sql(
      s"""CREATE TABLE $cat.t.c
         |TBLPROPERTIES ('graft.partition'='bucket(4,k)',
         |               'graft.partitionRoute'='true', 'clusterParts'='4')
         |AS SELECT id AS k, id * 3 AS v FROM range(0, 60)""".stripMargin)
    val entries = MemCatalog.liveEntries(root.resolve("t__c"))
    val ranges = entries.flatMap(_.stats.get("pt:bucket(4,k)"))
    assert(entries.nonEmpty && ranges.size == entries.size,
      s"every CTAS file must carry a pt stamp: ${entries.map(_.stats)}")
    assert(ranges.forall { case (lo, hi) => lo == hi },
      s"CTAS files must be partition-pure, got $ranges")
    assert(ranges.map(_._1).toSet == Set(0L, 1L, 2L, 3L))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.c").head().getLong(0) == 60)
  }

  test("routed CTAS enforces the same refusals as INSERT") {
    val (cat, _) = fresh("ctasbad")
    val e = intercept[Exception](spark.sql(
      s"""CREATE TABLE $cat.t.bad
         |TBLPROPERTIES ('graft.partitionRoute'='true')
         |AS SELECT id AS k FROM range(0, 5)""".stripMargin))
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("requires a 'graft.partition' spec"), rootMsg(e))
  }

  test("OPTIMIZE re-stamps EVERY transform of a multi-spec on merged files") {
    val (cat, root) = fresh("opt")
    spark.sql(
      s"""CREATE TABLE $cat.t.m (ts BIGINT, k BIGINT)
         |TBLPROPERTIES ('graft.partition'='days(ts),bucket(2,k)')""".stripMargin)
    // several tiny unrouted commits, all of one (day, bucket) partition
    // so the merged output stays pure under both transforms
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO $cat.t.m VALUES (CAST(${100 + i} AS BIGINT), CAST(2 AS BIGINT))"))
    val dir = root.resolve("t__m")
    MemCatalog.compact(dir)
    val entries = MemCatalog.liveEntries(dir)
    assert(entries.size == 1, s"expected one merged file, got ${entries.map(_.name)}")
    val stats = entries.head.stats
    assert(stats.get("pt:days(ts)").contains((0L, 0L)), stats)
    val b2 = java.lang.Math.floorMod(2L * 2654435761L, 2L)
    assert(stats.get("pt:bucket(2,k)").contains((b2, b2)), stats)
  }

  test("routing through truncate over strings: one file per prefix group") {
    val (cat, root) = fresh("trunc")
    spark.sql(
      s"""CREATE TABLE $cat.t.tr (lang STRING, n BIGINT)
         |TBLPROPERTIES ('graft.partition'='truncate(1,lang)',
         |               'graft.partitionRoute'='true', 'clusterParts'='4')""".stripMargin)
    // 6 languages, 4 distinct first letters: de, dk → 'd'; en, es → 'e'
    spark.sql(s"INSERT INTO $cat.t.tr SELECT " +
      "element_at(array('de','dk','en','es','fr','ja'), CAST(id % 6 AS INT) + 1), id " +
      "FROM range(0, 60)")
    val entries = MemCatalog.liveEntries(root.resolve("t__tr"))
    val ranges = entries.flatMap(_.stats.get("pt:truncate(1,lang)"))
    assert(entries.size == 4 && ranges.size == 4,
      s"expected one file per first-letter group, got ${entries.size}")
    assert(ranges.forall { case (lo, hi) => lo == hi }, ranges.toString)
    assert(ranges.map(_._1).toSet ==
      Set("d", "e", "f", "j").map(s => MemPart.prefixCode(s.getBytes("UTF-8"))))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.tr").head().getLong(0) == 60)
  }

  test("multi-spec routing with a string dimension: (day, lang) tuple fanout") {
    val (cat, root) = fresh("mixed")
    spark.sql(
      s"""CREATE TABLE $cat.t.mx (ts BIGINT, lang STRING, n BIGINT)
         |TBLPROPERTIES ('graft.partition'='days(ts),identity(lang)',
         |               'graft.partitionRoute'='true', 'clusterParts'='6')""".stripMargin)
    // 2 days × 3 languages, every pair occupied
    spark.sql(s"INSERT INTO $cat.t.mx SELECT (id % 2) * 86400 + id, " +
      "element_at(array('en','de','fr'), CAST(id % 3 AS INT) + 1), id FROM range(0, 60)")
    val entries = MemCatalog.liveEntries(root.resolve("t__mx"))
    val pairs = entries.flatMap { e =>
      for {
        d <- e.stats.get("pt:days(ts)") if d._1 == d._2
        l <- e.stats.get("pt:identity(lang)") if l._1 == l._2
      } yield (d._1, l._1)
    }
    assert(entries.size == 6 && pairs.size == 6, entries.map(_.stats).toString)
    assert(pairs.toSet == (for {
      d <- 0L to 1L
      l <- Seq("en", "de", "fr")
    } yield (d, MemPart.prefixCode(l.getBytes("UTF-8")))).toSet)
  }

  test("OPTIMIZE bins per partition tuple: merged files stay partition-pure") {
    val (cat, root) = fresh("pbin")
    spark.sql(
      s"""CREATE TABLE $cat.t.pb (d BIGINT, k BIGINT)
         |TBLPROPERTIES ('graft.partition'='identity(d)',
         |               'graft.partitionRoute'='true', 'clusterParts'='2')""".stripMargin)
    // 4 small routed commits, each writing both partitions → 8 tiny
    // pure files (4 per partition value)
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO $cat.t.pb SELECT id % 2, $i * 100 + id FROM range(0, 20)"))
    val dir = root.resolve("t__pb")
    val pre = MemCatalog.liveEntries(dir)
    assert(pre.size == 8 &&
      pre.forall(_.stats.get("pt:identity(d)").exists(r => r._1 == r._2)),
      s"setup: expected 8 pure files, got ${pre.map(_.stats.get("pt:identity(d)"))}")
    MemCatalog.compact(dir)
    val post = MemCatalog.liveEntries(dir)
    // merged DOWN (per-partition small-file debt paid)...
    assert(post.size < pre.size, s"compaction must merge: ${post.size} files")
    // ...but NEVER across the tuple boundary: every output stays pure
    assert(post.forall(_.stats.get("pt:identity(d)").exists(r => r._1 == r._2)),
      s"merged files must stay partition-pure, got ${post.map(_.stats.get("pt:identity(d)"))}")
    assert(post.flatMap(_.stats.get("pt:identity(d)")).map(_._1).toSet == Set(0L, 1L))
    // rollup has no NULL group and rows are intact
    val rollup = spark.sql(s"SELECT part, n_rows FROM $cat.t.pb.partitions").collect()
    assert(rollup.forall(!_.isNullAt(0)), rollup.mkString(", "))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.pb").head().getLong(0) == 80)
  }

  test("string-typed pt stamps survive a row-level DELETE rewrite") {
    val (cat, root) = fresh("del")
    spark.sql(
      s"""CREATE TABLE $cat.t.d (lang STRING, n BIGINT)
         |TBLPROPERTIES ('graft.partition'='identity(lang)')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t.d SELECT 'en', id FROM range(0, 10)")
    spark.sql(s"DELETE FROM $cat.t.d WHERE n IN (3, 4)")
    val entries = MemCatalog.liveEntries(root.resolve("t__d"))
    val code = MemPart.prefixCode("en".getBytes("UTF-8"))
    // the DELETE-rewritten survivor and the untouched files alike must
    // all carry the string transform's point stamp
    assert(entries.nonEmpty &&
      entries.forall(_.stats.get("pt:identity(lang)").contains((code, code))),
      entries.map(_.stats).toString)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.d").head().getLong(0) == 8)
  }

  test("evolution single → multi spec: old files prune under old, new under both") {
    val (cat, root) = fresh("evo")
    spark.sql(
      s"""CREATE TABLE $cat.t.e (ts BIGINT, k BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(2,k)',
         |               'graft.partitionRoute'='true', 'clusterParts'='2')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.t.e SELECT id, id FROM range(0, 20)") // wave 1
    // EVOLVE: metadata only — the multi spec stamps only future files
    spark.sql(s"ALTER TABLE $cat.t.e SET TBLPROPERTIES " +
      "('graft.partition'='days(ts),bucket(2,k)')")
    spark.sql(s"INSERT INTO $cat.t.e " +
      "SELECT 86400 + id, id FROM range(20, 40)") // wave 2, day 1
    val dir = root.resolve("t__e")
    val entries = MemCatalog.liveEntries(dir)
    // wave-1 files carry ONLY the old spec's stamp; wave-2 files carry BOTH
    val wave1 = entries.filter(e => e.stats.contains("pt:bucket(2,k)") &&
      !e.stats.contains("pt:days(ts)"))
    val wave2 = entries.filter(_.stats.contains("pt:days(ts)"))
    assert(wave1.size == 2 && wave2.size == 2,
      entries.map(e => e.name -> e.stats.keys.filter(_.startsWith("pt:"))).toString)
    assert(wave2.forall(e => e.stats.contains("pt:bucket(2,k)")),
      "evolved files must stamp every CURRENT transform")
    // a day-range predicate prunes wave-2 by days AND never loses rows
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.e WHERE ts >= 86400")
      .head().getLong(0) == 20)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.e WHERE k = 7")
      .head().getLong(0) == 1)
  }

  test("days over TIMESTAMP: µs divisor everywhere, one arithmetic") {
    val d = MemPart.Days("ts")
    assert(d.evalTsMicros(0L) == 0L)
    assert(d.evalTsMicros(86400000000L - 1) == 0L)
    assert(d.evalTsMicros(86400000000L) == 1L)
    assert(d.evalTsMicros(-1L) == -1L) // floor, pre-epoch days
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // evalAt routes bare Longs by the COLUMN type (micros vs seconds)
    assert(MemPart.evalAt(d, TimestampType, java.lang.Long.valueOf(86400000000L))
      .contains(1L))
    assert(MemPart.evalAt(d, LongType, java.lang.Long.valueOf(86400L)).contains(1L))
    // filter-side Timestamp objects are self-describing
    val t = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(86400L))
    assert(d.evalAny(t).contains(1L))
    // the SQL function twin agrees
    assert(new MemCatalog.DaysTsBound().invoke(86400000000L) == 1L)

    // every bound SQL function evaluates its spec: `invoke` (the codegen
    // path) and `produceResult` (the interpreted path), on negatives and
    // at both ends of the range (where a spec throws, the twin throws too)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.catalog.functions.ScalarFunction
    import org.apache.spark.sql.types.{DataType, DateType, IntegerType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    def check(what: String, got: => Long, want: => Long): Unit =
      assert(scala.util.Try(got).toOption == scala.util.Try(want).toOption, what)
    def bound(fn: org.apache.spark.sql.connector.catalog.functions.UnboundFunction,
        in: DataType*): ScalarFunction[java.lang.Long] =
      fn.bind(StructType(in.zipWithIndex.map { case (t, i) => StructField(s"a$i", t) }))
        .asInstanceOf[ScalarFunction[java.lang.Long]]
    val longs = Seq(Long.MinValue, -86400000001L, -86401L, -86400L, -1L, 0L, 1L,
      86399L, 86400L, 86400000000L, Long.MaxValue)
    for (v <- longs) {
      for (n <- Seq(1, 7, 16)) {
        val (b, t) = (MemPart.Bucket(n, "k"), MemPart.Truncate(n, "k"))
        check(s"bucket($n, $v)", new MemCatalog.BucketBound().invoke(n, v), b.eval(v))
        check(s"bucket($n, $v) row", bound(MemCatalog.BucketFn, IntegerType, LongType)
          .produceResult(InternalRow(n, v)), b.eval(v))
        check(s"truncate($n, $v)", new MemCatalog.TruncateBound().invoke(n, v), t.eval(v))
        check(s"truncate($n, $v) row", bound(MemCatalog.TruncateFn, IntegerType, LongType)
          .produceResult(InternalRow(n, v)), t.eval(v))
      }
      check(s"days($v)", new MemCatalog.DaysBound().invoke(v), d.eval(v))
      check(s"days($v) row", bound(MemCatalog.DaysFn, LongType)
        .produceResult(InternalRow(v)), d.eval(v))
      check(s"days(ts $v)", new MemCatalog.DaysTsBound().invoke(v), d.evalTsMicros(v))
      check(s"days(ts $v) row", bound(MemCatalog.DaysFn, TimestampType)
        .produceResult(InternalRow(v)), d.evalTsMicros(v))
      Seq(MemCatalog.HoursFn -> MemPart.Hours("ts"), MemCatalog.MonthsFn -> MemPart.Months("ts"),
          MemCatalog.YearsFn -> MemPart.Years("ts")).foreach { case (fn, spec) =>
        check(s"${fn.name()}($v)", bound(fn, LongType).produceResult(InternalRow(v)), spec.eval(v))
        check(s"${fn.name()}(ts $v)", bound(fn, TimestampType).produceResult(InternalRow(v)),
          spec.evalTsMicros(v))
      }
    }
    for (day <- Seq(Int.MinValue, -719528, -1, 0, 1, 19000, Int.MaxValue)) {
      Seq(MemCatalog.DaysFn -> d, MemCatalog.MonthsFn -> MemPart.Months("ts"),
          MemCatalog.YearsFn -> MemPart.Years("ts")).foreach { case (fn, spec) =>
        check(s"${fn.name()}(date $day)", bound(fn, DateType).produceResult(InternalRow(day)),
          spec.evalDateDays(day.toLong))
      }
    }
    for (str <- Seq("", "a", "Kelvin \u212A", "İstanbul", "x" * 40); n <- Seq(1, 3, 16)) {
      val u = UTF8String.fromString(str)
      val (b, t) = (MemPart.Bucket(n, "k"), MemPart.Truncate(n, "k"))
      check(s"bucket($n, '$str')", new MemCatalog.BucketStrBound().invoke(n, u), b.evalStr(u))
      check(s"bucket($n, '$str') row", bound(MemCatalog.BucketFn, IntegerType, StringType)
        .produceResult(InternalRow(n, u)), b.evalStr(u))
      check(s"truncate($n, '$str')", new MemCatalog.TruncateStrBound().invoke(n, u), t.evalStr(u))
      check(s"truncate($n, '$str') row", bound(MemCatalog.TruncateFn, IntegerType, StringType)
        .produceResult(InternalRow(n, u)), t.evalStr(u))
    }
  }

  test("TIMESTAMP columns carry zone maps and survive row-level DELETE") {
    val (cat, root) = fresh("tscol")
    spark.sql(s"CREATE TABLE $cat.t.ev (ts TIMESTAMP, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t.ev " +
      "SELECT timestamp_micros(id * 1000000), id FROM range(0, 10)")
    val dir = root.resolve("t__ev")
    val stats = MemCatalog.liveEntries(dir).flatMap(_.stats.get("ts"))
    assert(stats.nonEmpty && stats.map(_._1).min == 0L &&
      stats.map(_._2).max == 9000000L,
      s"ts zone maps must stamp micros: $stats")
    spark.sql(s"DELETE FROM $cat.t.ev WHERE v IN (0, 1)")
    // the survivor file re-stamps the ts zone map over the kept rows
    val post = MemCatalog.liveEntries(dir).flatMap(_.stats.get("ts"))
    assert(post.nonEmpty && post.map(_._1).min == 2000000L, post.toString)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.ev " +
      "WHERE ts >= TIMESTAMP'1970-01-01 00:00:05'").head().getLong(0) == 5)
  }

  test("hours/months/years: calendar arithmetic, monotone, both units") {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val h = MemPart.Hours("ts")
    assert(h.eval(3599L) == 0L && h.eval(3600L) == 1L)
    assert(h.evalTsMicros(3600000000L) == 1L)
    val m = MemPart.Months("ts")
    assert(m.eval(0L) == 0L) // 1970-01
    assert(m.eval(31L * 86400) == 1L) // 1970-02-01
    assert(m.eval(365L * 86400) == 12L) // 1971-01
    assert(m.eval(-1L) == -1L) // 1969-12
    val y = MemPart.Years("ts")
    assert(y.eval(0L) == 0L && y.eval(365L * 86400) == 1L && y.eval(-1L) == -1L)
    // leap-year correctness: 1972-02-29 is month ordinal 25
    val feb29_1972 = java.time.LocalDate.of(1972, 2, 29)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    assert(m.eval(feb29_1972) == 25L && y.eval(feb29_1972) == 2L)
    // monotone across a random walk of instants
    val secs = (0 until 200).scanLeft(-50000000L)((a, i) => a + (i * 7919L % 900000L))
    Seq[MemPart.Spec](h, m, y).foreach { s =>
      val vals = secs.map(s.eval)
      assert(vals == vals.sorted, s"${s.render} not monotone")
      // micros path agrees with the seconds path on whole seconds
      secs.foreach(v => assert(s.evalTsMicros(v * 1000000L) == s.eval(v)))
    }
    // parse + validation: time transforms refuse strings
    assert(MemPart.parseMulti("months(ts),bucket(4,k)").map(_.render) ==
      Seq("months(ts)", "bucket(4,k)"))
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("lang", StringType)))
    val e = intercept[IllegalArgumentException](MemPart.specsOf(
      Map("graft.partition" -> "hours(lang)"), schema))
    assert(e.getMessage.contains("does not apply"))
  }

  test("routing through months over TIMESTAMP: one file per calendar month") {
    val (cat, root) = fresh("months")
    spark.sql(
      s"""CREATE TABLE $cat.t.mo (ts TIMESTAMP, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='months(ts)',
         |               'graft.partitionRoute'='true', 'clusterParts'='3')""".stripMargin)
    // Jan/Feb/Mar 1970: day (id%3)*31 is inside month id%3 for 1970
    spark.sql(s"INSERT INTO $cat.t.mo SELECT " +
      "timestamp_micros(CAST((id % 3) * 31 + 1 AS BIGINT) * 86400000000 + id), id " +
      "FROM range(0, 60)")
    val entries = MemCatalog.liveEntries(root.resolve("t__mo"))
    val ranges = entries.flatMap(_.stats.get("pt:months(ts)"))
    assert(entries.size == 3 && ranges.size == 3 &&
      ranges.forall(r => r._1 == r._2) &&
      ranges.map(_._1).sorted == Seq(0L, 1L, 2L),
      entries.map(_.stats).toString)
    // the SQL function agrees on every row
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.mo " +
      s"WHERE $cat.sys.months(ts) <> CAST(v % 3 AS BIGINT)").head().getLong(0) == 0L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.mo").head().getLong(0) == 60)
  }

  test("DATE sources: day ordinal is the value; months/years calendar-correct") {
    import org.apache.spark.sql.types.DateType
    val d = MemPart.Days("d")
    assert(MemPart.evalAt(d, DateType, java.lang.Integer.valueOf(400)).contains(400L))
    val m = MemPart.Months("d")
    assert(m.evalDateDays(0L) == 0L && m.evalDateDays(31L) == 1L)
    assert(m.evalDateDays(365L) == 12L)
    val y = MemPart.Years("d")
    assert(y.evalDateDays(365L) == 1L && y.evalDateDays(-1L) == -1L)
    // filter-side java.sql.Date / LocalDate convert to day ordinals
    assert(m.evalAny(java.time.LocalDate.of(1970, 2, 3)).contains(1L))
    // hours refuses DATE (sub-day grain on a day-grain type is a lie)
    import org.apache.spark.sql.types.{StructField, StructType}
    val schema = StructType(Seq(StructField("d", DateType)))
    val e = intercept[IllegalArgumentException](MemPart.specsOf(
      Map("graft.partition" -> "hours(d)"), schema))
    assert(e.getMessage.contains("does not apply"))
    assert(MemPart.specsOf(Map("graft.partition" -> "years(d)"), schema).size == 1)
  }

  test("concurrent routed INSERTs race cleanly: both commit, purity holds") {
    val (cat, root) = fresh("race")
    spark.sql(
      s"""CREATE TABLE $cat.t.rc (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('graft.partition'='bucket(2,k)',
         |               'graft.partitionRoute'='true', 'clusterParts'='2')""".stripMargin)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = (0 until 4).map(i => Future {
      spark.sql(s"INSERT INTO $cat.t.rc SELECT id, $i * 1000 + id FROM range(0, 20)")
    })
    Await.result(Future.sequence(writes), 120.seconds)
    val dir = root.resolve("t__rc")
    val entries = MemCatalog.liveEntries(dir)
    // every commit's fanout yields pure files; the optimistic manifest
    // loop must have serialized all four (4 commits × 2 buckets)
    assert(entries.size == 8, entries.map(_.name).toString)
    assert(entries.forall(_.stats.get("pt:bucket(2,k)").exists(r => r._1 == r._2)),
      entries.map(_.stats).toString)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.rc").head().getLong(0) == 80)
    // and the partitions rollup sees two clean groups, 40 rows each
    val roll = spark.sql(s"SELECT part, n_rows FROM $cat.t.rc.partitions")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(roll.toSeq == Seq((0L, 40L), (1L, 40L)), roll.mkString(", "))
  }

  test("vacuum reclaims unreferenced promoted-* data files and promoted-dv-* sidecars") {
    val (cat, root) = fresh("vac")
    spark.sql(s"CREATE TABLE $cat.t.v (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t.v VALUES (1)")
    val dir = root.resolve("t__v")
    // simulate a clone-promotion interim copy: a promoted-* data file
    // referenced by the current manifest, plus a promoted-dv-* sidecar
    val live = MemCatalog.liveEntries(dir)
    val src = dir.resolve(live.head.name)
    java.nio.file.Files.copy(src, dir.resolve("promoted-abc-copy.bin"))
    java.nio.file.Files.write(dir.resolve("promoted-dv-xyz-copy.bin"), Array[Byte](1))
    MemCatalog.commitManifest(dir, "promote")(entries =>
      entries :+ MemCatalog.FileEntry("promoted-abc-copy.bin", Map.empty,
        dv = Some("promoted-dv-xyz-copy.bin")))
    // while referenced, vacuum must keep BOTH
    MemCatalog.vacuum(dir, keepVersions = 1)
    assert(java.nio.file.Files.exists(dir.resolve("promoted-abc-copy.bin")))
    assert(java.nio.file.Files.exists(dir.resolve("promoted-dv-xyz-copy.bin")))
    // retire the promoted entry (what OPTIMIZE's merge does), vacuum again:
    // the unreferenced copies must be reclaimed from DISK, not just the
    // manifest — the round-12 leak this pins down
    MemCatalog.commitManifest(dir, "retire")(entries =>
      entries.filterNot(_.name.startsWith("promoted-")))
    MemCatalog.vacuum(dir, keepVersions = 1)
    assert(!java.nio.file.Files.exists(dir.resolve("promoted-abc-copy.bin")),
      "unreferenced promoted-* data file must be reclaimed")
    assert(!java.nio.file.Files.exists(dir.resolve("promoted-dv-xyz-copy.bin")),
      "unreferenced promoted-dv-* sidecar must be reclaimed")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.v").head().getLong(0) == 1)
  }

  private def hideDirs(): Set[String] = {
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("graft-") && n.contains("-hide")).toSet
    finally ls.close()
  }

  test("dsv2_partition_multi and dsv2_partition_date prove pruning and leave no stash dir") {
    val before = hideDirs()
    val multi = graft.SparkEntry.queries("dsv2_partition_multi")(spark, TestSpark.sf).collect()
    assert(multi.nonEmpty && multi.forall(r =>
      Seq("pruned_days", "pruned_bucket", "pruned_conjunction").forall(c => r.getAs[Boolean](c))))
    val date = graft.SparkEntry.queries("dsv2_partition_date")(spark, TestSpark.sf).collect()
    assert(date.nonEmpty && date.forall(_.getAs[Boolean]("pruned_date_range")))
    val left = hideDirs() diff before
    assert(left.isEmpty, s"stash directories left behind: $left")
  }

  test("proveFilesPruned is false when the probe needs a hidden file, and restores it") {
    val (cat, root) = fresh("prove")
    spark.sql(s"CREATE TABLE $cat.t.p (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t.p VALUES (1)")
    spark.sql(s"INSERT INTO $cat.t.p VALUES (2)")
    val dir = root.resolve("t__p")
    val live = MemCatalog.liveEntries(dir)
    assert(live.size == 2)
    val before = hideDirs()
    // a predicate no file statistic can answer, so the scan must open files
    assert(!MemCatalog.proveFilesPruned(spark, dir, live,
      s"SELECT count(*) FROM $cat.t.p WHERE k % 2 = 0"))
    assert(live.forall(e => java.nio.file.Files.exists(dir.resolve(e.name))))
    assert(hideDirs() == before)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t.p").head().getLong(0) == 2)
  }
}
