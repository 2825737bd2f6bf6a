package graft.sources.v2

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Branch-staged row-level DML (`<table>.branch_<name>` handles) — the
  * seams the oracle-gated query (`dsv2_branch_mor`) doesn't isolate:
  * the carried deletion vector is live on main IMMEDIATELY after
  * fast-forward (no compaction needed), and the two refusal edges
  * (copy-on-write tables, streaming writes) fail loudly.
  */
class MemBranchMorSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def freshCatalog(tag: String): (String, java.nio.file.Path) = {
    val name = s"graftmemspec_bm$tag"
    val root = tempDir(s"graft-memcat-spec-bm$tag")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[MemCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
    (name, root)
  }

  test("a branch DELETE composes a vector on the branch only; fast-forward " +
    "carries it to main uncompacted") {
    val (cat, root) = freshCatalog("dv")
    spark.sql(s"CREATE TABLE $cat.t.b TBLPROPERTIES ('graft.dml'='mor') AS " +
      "SELECT CAST(id AS BIGINT) AS k, CAST(id * 10 AS BIGINT) AS v FROM range(30)")
    val dir = root.resolve("t__b")
    MemCatalog.createBranch(dir, "stage")
    spark.sql(s"DELETE FROM $cat.t.b.branch_stage WHERE k >= 20")
    // staged: branch head carries the vector, main does not
    assert(MemCatalog.branchManifest(dir, "stage").files.exists(_.dv.nonEmpty))
    assert(MemCatalog.liveEntries(dir).forall(_.dv.isEmpty))
    assert(spark.table(s"$cat.t.b").count() == 30, "main unaffected while staged")
    assert(spark.table(s"$cat.t.b.branch_stage").count() == 20, "branch sees the delete")
    // publish: the SAME part file is live with the branch's vector — the
    // rows vanish from main with zero data files rewritten
    val preNames = MemCatalog.liveEntries(dir).map(_.name).toSet
    MemCatalog.fastForward(dir, "stage")
    MemCatalog.dropBranch(dir, "stage")
    val post = MemCatalog.liveEntries(dir)
    assert(post.map(_.name).toSet == preNames, "publish rewrote no data file")
    assert(post.exists(_.dv.nonEmpty), "the vector came across")
    assert(spark.table(s"$cat.t.b").count() == 20)
  }

  test("row-level DML on a branch of a COPY-ON-WRITE table refuses loudly") {
    val (cat, root) = freshCatalog("cow")
    spark.sql(s"CREATE TABLE $cat.t.c AS " +
      "SELECT CAST(id AS BIGINT) AS k FROM range(10)") // no graft.dml=mor
    MemCatalog.createBranch(root.resolve("t__c"), "stage")
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.t.c.branch_stage WHERE k = 3").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("graft.dml")),
      s"expected the MoR-required refusal, got: ${messages(e).mkString(" | ")}")
    assert(spark.table(s"$cat.t.c").count() == 10)
  }

  test("streaming into a branch handle refuses (fast-forward first)") {
    val (cat, root) = freshCatalog("st")
    spark.sql(s"CREATE TABLE $cat.t.s TBLPROPERTIES ('graft.dml'='mor') AS " +
      "SELECT CAST(id AS BIGINT) AS id, CAST(id AS BIGINT) AS val, " +
      "CAST(id % 4 AS BIGINT) AS bucket FROM range(5)")
    MemCatalog.createBranch(root.resolve("t__s"), "stage")
    val ckpt = tempDir("graft-bmor-ckpt")
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft.sources.v2.SeqStreamSource")
        .option("n", "100").option("step", "100").option("parts", "1").load()
        .writeStream.option("checkpointLocation", ckpt.toString)
        .toTable(s"$cat.t.s.branch_stage")
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("cannot stream into a branch")),
      s"expected the streaming refusal, got: ${messages(e).mkString(" | ")}")
  }
}
