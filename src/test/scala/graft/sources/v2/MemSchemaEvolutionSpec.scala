package graft.sources.v2

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Field-id schema evolution ([[MemSchema]] / [[MemCodec.FileMagic2]]):
  * RENAME and DROP COLUMN without rewriting history — files written
  * under any earlier schema keep resolving by field id under the final
  * one, time travel reads old snapshots under the CURRENT schema
  * (Iceberg semantics), and referenced columns refuse to evolve.
  */
class MemSchemaEvolutionSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def fresh(tag: String): (String, java.nio.file.Path) = {
    val name = s"graftevospec_$tag"
    val root = tempDir(s"graft-evo-spec-$tag")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[MemCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
    (name, root)
  }

  test("create→write→rename→write→drop→write→add: all files resolve under the final schema") {
    val (cat, _) = fresh("full")
    spark.sql(s"CREATE TABLE $cat.t.e (a BIGINT, b STRING, c BIGINT)")
    spark.sql(s"INSERT INTO $cat.t.e VALUES (1, 'one', 100)") // v1 file: ids (1,2,3)
    spark.sql(s"ALTER TABLE $cat.t.e RENAME COLUMN b TO label")
    spark.sql(s"INSERT INTO $cat.t.e VALUES (2, 'two', 200)") // ids (1,2,3), new name
    spark.sql(s"ALTER TABLE $cat.t.e DROP COLUMN c")
    spark.sql(s"INSERT INTO $cat.t.e VALUES (3, 'three')") // ids (1,2)
    spark.sql(s"ALTER TABLE $cat.t.e ADD COLUMN d BIGINT")
    spark.sql(s"INSERT INTO $cat.t.e VALUES (4, 'four', 40)") // ids (1,2,4)

    assert(spark.table(s"$cat.t.e").schema.fieldNames.toSeq == Seq("a", "label", "d"))
    val rows = spark.sql(s"SELECT a, label, d FROM $cat.t.e ORDER BY a")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(rows == Seq((1L, "one", -1L), (2L, "two", -1L),
      (3L, "three", -1L), (4L, "four", 40L)),
      s"old files must resolve by field id (rename invisible, drop discarded, " +
        s"add null-backfilled): $rows")
    // the dropped id is never reused: d got a FRESH id, so the v1-era
    // files' id-3 bytes (column c) never leak into d
    val d = spark.sql(s"SELECT d FROM $cat.t.e WHERE a = 1").head()
    assert(d.isNullAt(0), "dropped column's bytes must not resurface under a new column")
  }

  test("time travel reads old snapshots under the CURRENT schema") {
    val (cat, _) = fresh("tt")
    spark.sql(s"CREATE TABLE $cat.t.e (k BIGINT, gone BIGINT)")
    spark.sql(s"INSERT INTO $cat.t.e VALUES (1, 10), (2, 20)") // v1
    spark.sql(s"ALTER TABLE $cat.t.e DROP COLUMN gone")
    spark.sql(s"ALTER TABLE $cat.t.e RENAME COLUMN k TO key")
    // the v1 snapshot, read TODAY: current schema (key), old bytes
    val tt = spark.sql(s"SELECT * FROM $cat.t.e VERSION AS OF 1")
    assert(tt.schema.fieldNames.toSeq == Seq("key"))
    assert(tt.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("referenced columns refuse to evolve; the reference names the surface") {
    val (cat, _) = fresh("guard")
    spark.sql(
      s"""CREATE TABLE $cat.t.g (k BIGINT, v BIGINT, lang STRING)
         |TBLPROPERTIES ('graft.partition'='identity(lang)',
         |               'check.pos'='v >= 0')""".stripMargin)
    def refuses(sql: String, want: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage != null && e.getMessage.contains(want),
        s"expected '$want' in: ${e.getMessage}")
    }
    refuses(s"ALTER TABLE $cat.t.g DROP COLUMN lang", "partition spec")
    refuses(s"ALTER TABLE $cat.t.g RENAME COLUMN lang TO language", "partition spec")
    refuses(s"ALTER TABLE $cat.t.g DROP COLUMN v", "CHECK constraint")
    // dropping the reference re-enables the evolution
    spark.sql(s"ALTER TABLE $cat.t.g UNSET TBLPROPERTIES ('check.pos')")
    spark.sql(s"ALTER TABLE $cat.t.g DROP COLUMN v")
    assert(spark.table(s"$cat.t.g").schema.fieldNames.toSeq == Seq("k", "lang"))
    // retype/reposition stay refused
    refuses(s"ALTER TABLE $cat.t.g ALTER COLUMN k TYPE STRING", "unsupported ALTER")
  }

  test("evolution composes with DML and maintenance (update, delete, optimize)") {
    val (cat, root) = fresh("dml")
    spark.sql(s"CREATE TABLE $cat.t.m (k BIGINT, junk STRING, cents BIGINT)")
    spark.sql(s"INSERT INTO $cat.t.m SELECT id, concat('j', id), id * 10 FROM range(0, 50)")
    spark.sql(s"ALTER TABLE $cat.t.m DROP COLUMN junk")
    spark.sql(s"ALTER TABLE $cat.t.m RENAME COLUMN cents TO amount")
    // COW update + delete over files that still carry the dropped bytes
    spark.sql(s"UPDATE $cat.t.m SET amount = amount + 1 WHERE k < 10")
    spark.sql(s"DELETE FROM $cat.t.m WHERE k >= 40")
    val got = spark.sql(s"SELECT count(*), sum(amount) FROM $cat.t.m").head()
    // 0..39 survive; sum = sum(10k) + 10 (the +1 on k<10)
    assert(got.getLong(0) == 40L)
    assert(got.getLong(1) == (0 until 40).map(_ * 10L).sum + 10L)
    // OPTIMIZE rewrites under the current schema — post-compaction reads agree
    MemCatalog.compact(root.resolve("t__m"), 1L << 20)
    val opt = spark.sql(s"SELECT count(*), sum(amount) FROM $cat.t.m").head()
    assert(opt.getLong(0) == 40L && opt.getLong(1) == got.getLong(1))
  }
}
