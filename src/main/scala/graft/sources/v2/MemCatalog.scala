package graft.sources.v2

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, StagingTableCatalog, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DateType, DoubleType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sparkutil.ScanMetrics

/** WRITABLE V2 catalog with ATOMIC CTAS/RTAS — the last direction of the
  * connector matrix ([[SeqCatalog]] reads by identifier, [[AuditSink]]
  * writes with a two-phase commit; this one owns TABLES end-to-end:
  * CREATE/CTAS/REPLACE/INSERT/DROP through Spark's CatalogManager).
  *
  * The defining feature is [[StagingTableCatalog]]: `CREATE TABLE ... AS
  * SELECT` writes every part file into a STAGING directory that no reader
  * can resolve, and only `commitStagedChanges()` publishes it with an
  * atomic directory move — a failed or aborted CTAS leaves NO table, and a
  * failed `REPLACE ... AS SELECT` leaves the OLD table intact. This is the
  * catalog-level transactionality Iceberg/Delta provide via metadata
  * swaps, realized here with filesystem renames. One honest caveat a
  * metadata-pointer swap doesn't have: the RTAS publish is TWO renames
  * (target -> .old-uuid, staging -> target), so a reader racing the
  * instant between them sees NoSuchTable rather than the old version, and
  * a crash there strands the old table in the .old- dir — `loadTable`
  * repairs that case by restoring the stranded directory, so the
  * previously committed table is never lost, merely briefly unresolvable.
  *
  * Storage is the connector's own format (a length-prefixed binary row
  * codec + a JSON schema manifest): a catalog owns its layout — Spark only
  * sees the Table/Scan/Write SPI. Appends (`INSERT INTO`) stage per-task
  * part files under a staging dir of their own write (`_inflight-<queryId>`;
  * streaming epochs, COW and MoR DML likewise) and move them in at driver
  * commit, the [[AuditSink]] contract; an abort deletes the staged files
  * and the dir. Reads plan one partition per part file.
  *
  * TIME TRAVEL (`VERSION AS OF` / `TIMESTAMP AS OF`): tables are
  * SNAPSHOT-VERSIONED the way Iceberg/Delta are — data files are
  * immutable once committed, every committing statement (CTAS, INSERT,
  * UPDATE/MERGE/DELETE) publishes a new `_v<N>.manifest` snapshot (the live
  * file list + a commit timestamp) with an atomic create-new move, and
  * reads plan from a manifest, never from a directory listing. DML
  * therefore RETIRES files from the manifest instead of deleting them,
  * so `loadTable(ident, version)` just pins an older manifest — the
  * versioned-read SPI Spark's `FOR SYSTEM_VERSION AS OF` resolves
  * through. Concurrent commits race on the next manifest number
  * (create-new fails for the loser) and retry against the refreshed
  * file list — optimistic concurrency at the commit pointer, the
  * Iceberg model. REPLACE TABLE resets history (the old directory is
  * retired wholesale); `DROP TABLE` deletes history. Retired files
  * accumulate until drop — the VACUUM trade-off, documented not hidden.
  *
  * Scale posture: writer tasks are independent until the O(#tasks) driver
  * commit; the commit itself moves directory entries, never bytes. Reads
  * prune columns at decode (`SupportsPushDownRequiredColumns`).
  */
class MemCatalog extends TableCatalog with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName = "graftmem"
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).map(Paths.get(_)).getOrElse(MemCatalog.jvmRoot(name))
    Files.createDirectories(root)
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): Path = {
    val flat = (ident.namespace() :+ ident.name()).mkString("__")
    require(flat.matches("[A-Za-z0-9_]+"), s"unsupported identifier: $ident")
    root.resolve(flat)
  }

  // ---- FunctionCatalog: the partition-transform SYSTEM FUNCTIONS ----
  // `bucket(N, col)` / `days(col)` — the same arithmetic [[MemPart]]
  // stamps in per-file `pt:` stats, exposed the Iceberg way: (a) SQL can
  // compute the transform (`graftmem.ns.bucket(4, k)`), and (b) Spark's
  // write-distribution resolution (SPARK-39607) finds them when a write
  // requests `Distributions.clustered(bucket(N, col))` — what routes a
  // plain INSERT's rows so each task receives whole partitions. Name
  // match is namespace-independent (system functions, like Iceberg's).

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array("bucket", "days", "hours", "months", "years", "truncate")
      .map(Identifier.of(namespace, _))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name() match {
      case "bucket" => MemCatalog.BucketFn
      case "days" => MemCatalog.DaysFn
      case "hours" => MemCatalog.HoursFn
      case "months" => MemCatalog.MonthsFn
      case "years" => MemCatalog.YearsFn
      case "truncate" => MemCatalog.TruncateFn
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val prefix = (namespace :+ "").mkString("__")
    import scala.jdk.CollectionConverters._
    val ls = Files.list(root)
    try ls.iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(prefix)
        && !p.getFileName.toString.contains(".staging-")
        && !p.getFileName.toString.contains(".old-"))
      .map(p => Identifier.of(namespace, p.getFileName.toString.stripPrefix(prefix)))
      .toArray
    finally ls.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val d = dirOf(ident)
    if (!Files.exists(d.resolve("_schema.json"))) {
      // BRANCH identifier (the Iceberg convention `<table>.branch_<name>`):
      // no directory of that flat name exists, the trailing segment names
      // a live branch of the PARENT table — return a branch-pinned handle
      // whose reads, appends, and MoR row-level DML all target the branch
      if (ident.name.startsWith("branch_") && ident.namespace().nonEmpty) {
        val parent = Identifier.of(ident.namespace().init, ident.namespace().last)
        val pd = dirOf(parent)
        val b = ident.name.stripPrefix("branch_")
        if (Files.exists(pd.resolve("_schema.json")) &&
          MemCatalog.branches(pd).contains(b))
          return new MemTable(parent.toString, pd, MemCatalog.readSchema(pd),
            props = MemCatalog.readProps(pd), branch = Some(b))
      }
      // METADATA-TABLE identifier (the Iceberg convention
      // `<table>.history` / `<table>.files`): the trailing segment names
      // an inspection relation of the PARENT table — see [[MemMetaTable]]
      if (MemMetaTable.Kinds(ident.name) && ident.namespace().nonEmpty) {
        val parent = Identifier.of(ident.namespace().init, ident.namespace().last)
        val pd = dirOf(parent)
        if (Files.exists(pd.resolve("_schema.json")))
          return MemMetaTable(parent.toString, ident.name, pd)
        // branch-scoped inspection: `<table>.branch_<b>.files` — the
        // parent is itself a branch handle of the GRANDPARENT table, and
        // the relation reads the BRANCH manifest chain (mid-audit state)
        if (parent.name.startsWith("branch_") && parent.namespace().nonEmpty) {
          val gp = Identifier.of(parent.namespace().init, parent.namespace().last)
          val gd = dirOf(gp)
          val b = parent.name.stripPrefix("branch_")
          if (Files.exists(gd.resolve("_schema.json")) &&
            MemCatalog.branches(gd).contains(b))
            return MemMetaTable(parent.toString, ident.name, gd, branch = Some(b))
        }
      }
      // CHANGE-WINDOW identifier (`<table>.changes_<start>[_<end>]`, end
      // defaulting to the head at resolution): the STREAMING twin of the
      // `table_changes(...)` TVF — `spark.readStream.table(...)` over it
      // drains the bounded window commit-by-commit (maxVersionsPerTrigger
      // paced) and `spark.read.table(...)` is the TVF's exact batch
      // window. Same suffix-resolution seam as `.branch_<b>` / metadata
      // tables: engages only when no real table of the flat name exists.
      locally {
        val ChangesRe = """changes_(\d+)(?:_(\d+))?""".r
        ident.name match {
          case ChangesRe(s, e) if ident.namespace().nonEmpty =>
            val parent = Identifier.of(ident.namespace().init, ident.namespace().last)
            val pd = dirOf(parent)
            if (Files.exists(pd.resolve("_schema.json"))) {
              val head = MemCatalog.currentVersion(pd)
              val start = s.toInt
              val end = Option(e).map(_.toInt).getOrElse(head)
              require(start <= head,
                s"graft mem catalog: change window start v$start is beyond head v$head")
              require(end >= start && end <= head,
                s"graft mem catalog: invalid change window [v$start, v$end] (head v$head)")
              return new MemChangesTable(parent.toString, pd,
                MemCatalog.readSchema(pd), start, end)
            }
          case _ => ()
        }
      }
      // crash recovery for the RTAS publish window: if the process died
      // between (target -> .old-) and (.staging -> target), the committed
      // old table is stranded in a .old-<uuid> sibling — restore it so a
      // failed REPLACE never loses the previously published table.
      // The restore is GATED on the publish marker: a LIVE publish holds a
      // fresh `.publish-inprogress` marker for exactly that two-rename
      // window, and restoring then would steal the target slot and fail a
      // healthy REPLACE — so a fresh marker means "commit in flight, the
      // table is briefly unresolvable" (the documented caveat), and only a
      // STALE marker (crashed publisher) or no marker permits the restore.
      val fresh = MemCatalog.publishMarker(root, d).exists { m =>
        System.currentTimeMillis() - Files.getLastModifiedTime(m).toMillis <
          MemCatalog.PublishGraceMs
      }
      MemCatalog.strandedOld(root, d) match {
        case Some(old) if !fresh && !Files.exists(d) =>
          try {
            Files.move(old, d, StandardCopyOption.ATOMIC_MOVE)
            MemCatalog.publishMarker(root, d).foreach(Files.deleteIfExists(_))
          } catch {
            // two concurrent loadTables can both attempt the restore; the
            // loser's move fails AFTER the winner already republished the
            // table — fall through and load it (or report NoSuchTable if
            // the target is still absent, never a raw filesystem error)
            case _: java.nio.file.FileSystemException
              if Files.exists(d.resolve("_schema.json")) => ()
            case _: java.nio.file.FileSystemException =>
              throw new NoSuchTableException(ident)
          }
        case _ => throw new NoSuchTableException(ident)
      }
    }
    new MemTable(ident.toString, d, MemCatalog.readSchema(d),
      props = MemCatalog.readProps(d))
  }

  /** `VERSION AS OF n` — pin the scan to manifest `_v<n>.manifest`; a
    * non-numeric argument resolves as a named TAG (`VERSION AS OF
    * 'audit-2026q3'` — the Iceberg ref form of time travel: snapshots
    * addressed by what they MEAN, not by a number someone wrote down).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val d = dirOf(ident)
    if (!Files.exists(d.resolve("_schema.json"))) throw new NoSuchTableException(ident)
    val v = try version.toInt catch {
      case _: NumberFormatException =>
        MemCatalog.tags(d).getOrElse(version, throw new IllegalArgumentException(
          s"graft mem catalog: no tag '$version' on $ident " +
            s"(tags: ${MemCatalog.tags(d).keys.toSeq.sorted.mkString(", ")})"))
    }
    require(Files.exists(d.resolve(s"_v$v.manifest")),
      s"graft mem catalog: no version $v for $ident (latest: ${MemCatalog.currentVersion(d)})")
    new MemTable(ident.toString, d, MemCatalog.readSchema(d), Some(v),
      props = MemCatalog.readProps(d))
  }

  /** `TIMESTAMP AS OF t` (micros since epoch, per the SPI contract) —
    * resolve to the NEWEST manifest committed at or before `t`, exactly
    * the lakehouse snapshot-by-time rule.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val d = dirOf(ident)
    if (!Files.exists(d.resolve("_schema.json"))) throw new NoSuchTableException(ident)
    val v = MemCatalog.versionAt(d, timestamp).getOrElse(throw new IllegalArgumentException(
      s"graft mem catalog: no snapshot of $ident at or before timestamp $timestamp"))
    new MemTable(ident.toString, d, MemCatalog.readSchema(d), Some(v),
      props = MemCatalog.readProps(d))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    // refuse rather than silently ignore: this catalog's layout control
    // is clusterBy (value clustering + zone-map skipping), not hive-style
    // partition directories — accepting PARTITIONED BY and not honoring
    // it would misrepresent the on-disk layout
    require(partitions.isEmpty,
      "graft mem catalog: PARTITIONED BY is not supported — use " +
        "TBLPROPERTIES ('clusterBy'='col') for clustered layout + file skipping")
    val d = dirOf(ident)
    if (Files.exists(d)) throw new TableAlreadyExistsException(ident)
    Files.createDirectories(d)
    // a new table is a new field-id space: scrub any ids the DDL schema
    // inherited from source tables before assignment stamps 1..n
    MemCatalog.writeSchema(d, MemSchema.scrubIds(schema))
    MemCatalog.writeProps(d, properties, schema)
    MemCatalog.writeManifest(d, 0, Seq.empty, op = "create")
    new MemTable(ident.toString, d, schema, props = MemCatalog.readProps(d))
  }

  /** SCHEMA EVOLUTION — ADD COLUMN, RENAME COLUMN and DROP COLUMN, the
    * Iceberg way: every column carries a stable FIELD ID
    * ([[MemSchema]]), every v2 data file records the (id, type) of each
    * column it was written with ([[MemCodec.FileMagic2]]), and readers
    * resolve by id — a rename never touches data (the id is unchanged),
    * a drop retires the id (readers decode then discard those bytes),
    * an add allocates a fresh id that old files simply lack (null
    * backfill). No rewrite of history; old snapshots and time travel
    * read under the current schema. Retype/reposition stay refused.
    *
    * RENAME/DROP refuse while the column is REFERENCED — by the
    * partition spec, cluster key, bloom/ndv/hist configs, CHECK
    * constraints, row policy, column masks, or an outstanding equality
    * delete: those surfaces address columns by NAME, and silently
    * unbinding them would flip governance/layout behavior. Drop the
    * referencing property (or let the delete retire) first.
    */
  private def guardUnreferenced(d: Path, props: Map[String, String],
      verb: String, col: String): Unit = {
    val leadIdent = """^\s*([A-Za-z_][A-Za-z0-9_]*)""".r
    def referenced(surface: String, cols: Iterable[String]): Unit =
      require(!cols.exists(_ == col),
        s"graft mem catalog: cannot $verb column '$col' — referenced by " +
          s"$surface; drop that reference first")
    referenced("clusterBy", props.get("clusterBy").toSeq
      .flatMap(_.split(",").map(_.trim)))
    referenced("the partition spec", props.get("graft.partition").toSeq
      .flatMap(MemPart.parseMulti).map(_.src))
    referenced("bloomFor", MemBloom.colsOf(props))
    referenced("ndvFor", MemNdv.colsOf(props))
    referenced("histFor", MemHist.colsOf(props))
    referenced("a CHECK constraint", props.collect {
      case (k, v) if k.startsWith("check.") =>
        leadIdent.findFirstMatchIn(v).map(_.group(1))
    }.flatten)
    referenced("the row policy (graft.policy)", props.get("graft.policy").toSeq
      .flatMap(v => leadIdent.findFirstMatchIn(v).map(_.group(1))))
    referenced("a column mask (graft.mask)", props.get("graft.mask").toSeq
      .flatMap(_.split(",").map(_.trim)))
    referenced("an outstanding equality delete",
      MemCatalog.eqDeletes(d).flatMap(_.cols))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val d = dirOf(ident)
    if (!Files.exists(d.resolve("_schema.json"))) throw new NoSuchTableException(ident)
    var schema = MemCatalog.readSchema(d)
    var props = MemCatalog.readProps(d)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft mem catalog: no nested columns")
        require(add.position() == null,
          "graft mem catalog: ADD COLUMN appends only (no FIRST/AFTER)")
        require(add.isNullable,
          "graft mem catalog: added columns must be nullable (existing rows backfill NULL)")
        MemCatalog.checkSupported(new StructType().add(add.fieldNames()(0), add.dataType()))
        schema = schema.add(add.fieldNames()(0), add.dataType(), nullable = true)
      case set: TableChange.SetProperty =>
        // adding a CHECK constraint validates EXISTING rows first —
        // Delta's ADD CONSTRAINT rule: an invariant that is already
        // false is refused, never silently declared
        if (set.property.startsWith("check.")) {
          val rule = MemCheck.parse(
            set.property.stripPrefix("check."), set.value, schema)
          MemCatalog.firstViolation(d, schema, rule).foreach(bad =>
            throw new IllegalArgumentException(
              s"graft mem catalog: cannot add CHECK constraint '${rule.name}' " +
                s"(${rule.expr}) — existing row violates it: " +
                bad.mkString("[", ", ", "]")))
        }
        props = props + (set.property -> set.value)
      case rm: TableChange.RemoveProperty =>
        props = props - rm.property
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1, "graft mem catalog: no nested columns")
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        require(schema.fieldNames.contains(from),
          s"graft mem catalog: no such column '$from'")
        require(!schema.fieldNames.contains(to),
          s"graft mem catalog: column '$to' already exists")
        guardUnreferenced(d, props, "RENAME", from)
        // same field id, new name: every existing file keeps resolving
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1, "graft mem catalog: no nested columns")
        val col = del.fieldNames()(0)
        if (!schema.fieldNames.contains(col)) {
          if (!del.ifExists())
            throw new IllegalArgumentException(
              s"graft mem catalog: no such column '$col'")
        } else {
          require(schema.length > 1,
            "graft mem catalog: cannot drop the only column")
          guardUnreferenced(d, props, "DROP", col)
          // the field id retires with the column (never reused): files
          // decode the dropped bytes by their recorded type and discard
          // them (see MemCodec)
          schema = StructType(schema.fields.filterNot(_.name == col))
        }
      case other => throw new UnsupportedOperationException(
        s"graft mem catalog: unsupported ALTER: $other")
    }
    MemCatalog.writeSchema(d, schema)
    val pm = new util.HashMap[String, String]()
    props.foreach { case (k, v) => pm.put(k, v) }
    MemCatalog.writeProps(d, pm, schema)
    new MemTable(ident.toString, d, schema, props = props)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = dirOf(ident)
    if (!Files.exists(d)) false
    else {
      MemCatalog.clearHookState(d)
      MemCatalog.deleteRecursively(d); true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft mem catalog: no RENAME")

  // ---- namespaces (SupportsNamespaces) ----
  // One level deep, matching the flat `ns__table` directory encoding.
  // A namespace exists if it was explicitly created (a `_ns_<name>`
  // marker dir) OR any table implies it — tables created without an
  // explicit CREATE NAMESPACE keep working (the lenient historical
  // behavior), while SHOW/CREATE/DROP NAMESPACE now resolve properly.

  private def nsMarker(ns: Array[String]): Path = {
    require(ns.length == 1 && ns(0).matches("[A-Za-z0-9_]+"),
      s"graft mem catalog: single-level namespaces only, got ${ns.mkString(".")}")
    root.resolve(s"_ns_${ns(0)}")
  }

  private def impliedNamespaces(): Set[String] = {
    import scala.jdk.CollectionConverters._
    val ls = Files.list(root)
    try ls.iterator().asScala.flatMap { p =>
      val n = p.getFileName.toString
      if (Files.isDirectory(p) && n.startsWith("_ns_")) Some(n.stripPrefix("_ns_"))
      else if (Files.isDirectory(p) && n.contains("__")
        && !n.contains(".staging-") && !n.contains(".old-")) Some(n.split("__", 2)(0))
      else None
    }.toSet
    finally ls.close()
  }

  override def listNamespaces(): Array[Array[String]] =
    impliedNamespaces().toArray.sorted.map(Array(_))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (impliedNamespaces()(namespace.mkString("."))) Array.empty // no nesting
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && impliedNamespaces()(namespace(0))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(nsMarker(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft mem catalog: no ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val tables = listTables(namespace)
    if (tables.nonEmpty) {
      require(cascade,
        s"graft mem catalog: namespace ${namespace.mkString(".")} has " +
          s"${tables.length} tables — use DROP NAMESPACE ... CASCADE")
      tables.foreach(dropTable)
    }
    MemCatalog.deleteRecursively(nsMarker(namespace))
    true
  }

  // ---- atomic CTAS / RTAS ----

  private def stage(ident: Identifier, schema: StructType,
      replace: Boolean, orCreate: Boolean,
      properties: util.Map[String, String],
      partitions: Array[Transform]): StagedTable = {
    require(partitions.isEmpty,
      "graft mem catalog: PARTITIONED BY is not supported — use " +
        "TBLPROPERTIES ('clusterBy'='col') for clustered layout + file skipping")
    val target = dirOf(ident)
    if (!replace && Files.exists(target)) throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !Files.exists(target)) throw new NoSuchTableException(ident)
    val staging = root.resolve(
      target.getFileName.toString + ".staging-" + java.util.UUID.randomUUID())
    Files.createDirectories(staging)
    MemCatalog.writeProps(staging, properties, schema) // publishes with the dir
    new StagedMemTable(ident.toString, staging, target, schema)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, replace = false, orCreate = false, properties, partitions)

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, replace = true, orCreate = false, properties, partitions)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, replace = true, orCreate = true, properties, partitions)
}

object MemCatalog {
  private val jvmRoots = new java.util.concurrent.ConcurrentHashMap[String, Path]()

  /** The default root of the catalog `name`: one fresh
    * `java.io.tmpdir/graft-memcat-<name>-<random>` dir per JVM, shared by
    * every session (and clone) in it and deleted when the JVM exits, so
    * two JVMs on one host (a bench and a test run) never share tables.
    */
  private def jvmRoot(name: String): Path = jvmRoots.computeIfAbsent(name, n => {
    val d = Files.createTempDirectory(Paths.get(sys.props("java.io.tmpdir")), s"graft-memcat-$n-")
    org.apache.spark.sql.graftshim.GraftShim.deleteOnShutdown(d)
    d
  })

  /** A row-level COW statement lost an optimistic-concurrency race: a file
    * its scan planned was already rewritten by a concurrent committed
    * statement. Iceberg's model REJECTS such commits (composing two COW
    * post-images of the same file duplicates its untouched rows); the
    * statement fails and must rerun against the new snapshot.
    */
  class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** `bucket(n, v)` as a V2 catalog function: [[MemPart.Bucket]]'s
    * arithmetic, which the write router, the per-file `pt:` stats and the
    * metadata rollup use too.
    */
  object BucketFn
      extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n INT, v BIGINT|STRING): the catalog's partition-transform hash"
    override def bind(inputType: StructType)
        : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
      require(inputType.length == 2 && inputType.head.dataType == IntegerType,
        s"bucket expects (INT, BIGINT|INT|STRING), got ${inputType.simpleString}")
      inputType(1).dataType match {
        case LongType | IntegerType => new BucketBound
        case StringType => new BucketStrBound
        case other => throw new IllegalArgumentException(
          s"bucket expects (INT, BIGINT|INT|STRING), got $other for the value")
      }
    }
  }

  /** Named public class — the MAGIC `invoke` lookup reflects on the
    * bound class (an anonymous one defeats the MethodHandles lookup).
    */
  class BucketBound
      extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
    override def resultType(): DataType = LongType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graftmem.bucket"
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long =
      invoke(input.getInt(0), input.getLong(1))
    /** Magic method: codegen calls this with unboxed primitives. */
    def invoke(n: Int, v: Long): Long = MemPart.Bucket(n, "").eval(v)
  }

  /** `bucket(n, s)` over strings: FNV-1a 64 over the UTF-8 bytes, mod n. */
  class BucketStrBound
      extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
    override def resultType(): DataType = LongType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graftmem.bucket.str"
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long =
      invoke(input.getInt(0), input.getUTF8String(1))
    def invoke(n: Int, v: UTF8String): Long = MemPart.Bucket(n, "").evalStr(v)
  }

  /** `truncate(n, v)` — [[MemPart.Truncate]]'s width-floor (integral) /
    * codepoint-prefix-code (string), same one-arithmetic contract as
    * bucket/days: the router, the `pt:` stats and SQL all agree.
    */
  object TruncateFn
      extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
    override def name(): String = "truncate"
    override def description(): String =
      "truncate(n INT, v BIGINT|STRING): the catalog's width/prefix partition transform"
    override def bind(inputType: StructType)
        : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
      require(inputType.length == 2 && inputType.head.dataType == IntegerType,
        s"truncate expects (INT, BIGINT|INT|STRING), got ${inputType.simpleString}")
      inputType(1).dataType match {
        case LongType | IntegerType => new TruncateBound
        case StringType => new TruncateStrBound
        case other => throw new IllegalArgumentException(
          s"truncate expects (INT, BIGINT|INT|STRING), got $other for the value")
      }
    }
  }

  class TruncateBound
      extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
    override def resultType(): DataType = LongType
    override def name(): String = "truncate"
    override def canonicalName(): String = "graftmem.truncate"
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long =
      invoke(input.getInt(0), input.getLong(1))
    def invoke(n: Int, v: Long): Long = MemPart.Truncate(n, "").eval(v)
  }

  class TruncateStrBound
      extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
    override def resultType(): DataType = LongType
    override def name(): String = "truncate"
    override def canonicalName(): String = "graftmem.truncate.str"
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long =
      invoke(input.getInt(0), input.getUTF8String(1))
    def invoke(n: Int, v: UTF8String): Long = MemPart.Truncate(n, "").evalStr(v)
  }

  /** The TIME-transform system-function family beyond days —
    * `hours`/`months`/`years` over epoch-second integrals or TIMESTAMP,
    * each evaluating its [[MemPart]] spec (one arithmetic for the router,
    * the stats and SQL). One generic bound class per
    * (function, input) pair; `produceResult` is the evaluation surface
    * the write-distribution resolution uses.
    */
  class TimeBound(nm: String, canon: String, in: DataType, f: Long => Long)
      extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(in)
    override def resultType(): DataType = LongType
    override def name(): String = nm
    override def canonicalName(): String = canon
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long = f(input.getLong(0))
  }

  /** DATE-input twin of [[TimeBound]] (DATE's physical value is an Int
    * of epoch days, so the extraction differs).
    */
  class TimeDateBound(nm: String, canon: String, f: Long => Long)
      extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(DateType)
    override def resultType(): DataType = LongType
    override def name(): String = nm
    override def canonicalName(): String = canon
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long = f(input.getInt(0).toLong)
  }

  class TimeFn(nm: String, secs: Long => Long, micros: Long => Long,
      dateDays: Option[Long => Long] = None)
      extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
    override def name(): String = nm
    override def description(): String =
      s"$nm(v BIGINT|INT|TIMESTAMP|DATE): the catalog's $nm partition transform"
    override def bind(inputType: StructType)
        : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
      require(inputType.length == 1,
        s"$nm expects one argument, got ${inputType.simpleString}")
      (inputType.head.dataType, dateDays) match {
        case (LongType | IntegerType, _) => new TimeBound(nm, s"graftmem.$nm", LongType, secs)
        case (TimestampType, _) => new TimeBound(nm, s"graftmem.$nm.ts", TimestampType, micros)
        case (DateType, Some(f)) => new TimeDateBound(nm, s"graftmem.$nm.date", f)
        case (other, _) => throw new IllegalArgumentException(
          s"$nm expects BIGINT|INT|TIMESTAMP" +
            (if (dateDays.isDefined) "|DATE" else "") + s", got $other")
      }
    }
  }

  val HoursFn = new TimeFn("hours",
    MemPart.Hours("").eval, MemPart.Hours("").evalTsMicros)
  val MonthsFn = new TimeFn("months",
    MemPart.Months("").eval, MemPart.Months("").evalTsMicros,
    Some(MemPart.Months("").evalDateDays))
  val YearsFn = new TimeFn("years",
    MemPart.Years("").eval, MemPart.Years("").evalTsMicros,
    Some(MemPart.Years("").evalDateDays))

  /** `days(v)` — [[MemPart.Days.eval]]'s floor-division, same contract. */
  object DaysFn
      extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
    override def name(): String = "days"
    override def description(): String =
      "days(v BIGINT): the catalog's day partition transform"
    override def bind(inputType: StructType)
        : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
      require(inputType.length == 1, s"days expects one argument, got ${inputType.simpleString}")
      inputType.head.dataType match {
        case LongType | IntegerType => new DaysBound
        case TimestampType => new DaysTsBound
        // a DATE already IS the day ordinal
        case DateType => new TimeDateBound("days", "graftmem.days.date", identity)
        case other => throw new IllegalArgumentException(
          s"days expects BIGINT|INT|TIMESTAMP|DATE, got $other")
      }
    }
  }

  /** `days(ts TIMESTAMP)`: the µs→day divisor (a timestamp's physical
    * value IS micros).
    */
  class DaysTsBound
      extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(TimestampType)
    override def resultType(): DataType = LongType
    override def name(): String = "days"
    override def canonicalName(): String = "graftmem.days.ts"
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long =
      invoke(input.getLong(0))
    def invoke(us: Long): Long = MemPart.Days("").evalTsMicros(us)
  }

  class DaysBound
      extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(LongType)
    override def resultType(): DataType = LongType
    override def name(): String = "days"
    override def canonicalName(): String = "graftmem.days"
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long =
      invoke(input.getLong(0))
    def invoke(v: Long): Long = MemPart.Days("").eval(v)
  }

  def writeSchema(dir: Path, schema: StructType): Unit = {
    val tmp = Files.createTempFile(dir, "_schema", ".tmp")
    // stamp stable field ids ([[MemSchema]]): creation gets 1..n, later
    // ADDs extend, RENAME keeps, DROP retires — data files resolve by id
    Files.write(tmp, MemSchema.assignIds(dir, schema).json.getBytes("UTF-8"))
    Files.move(tmp, dir.resolve("_schema.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def readSchema(dir: Path): StructType =
    DataType.fromJson(new String(Files.readAllBytes(dir.resolve("_schema.json")), "UTF-8"))
      .asInstanceOf[StructType]

  /** Table properties (`TBLPROPERTIES`): only `clusterBy` is meaningful —
    * a comma-separated column list the WRITE requests as its clustering
    * distribution + sort order (validated against the schema at DDL
    * time). Persisted as `key=value` lines in `_props`.
    */
  def writeProps(dir: Path, properties: util.Map[String, String],
      schema: StructType): Unit = {
    import scala.jdk.CollectionConverters._
    val props = properties.asScala.filterNot(_._1.startsWith("option."))
      .filterNot(p => Seq("owner", "provider", "location", "external").contains(p._1))
    props.get("clusterBy").foreach { cb =>
      cb.split(",").map(_.trim).foreach(c => require(schema.fieldNames.contains(c),
        s"graft mem catalog: clusterBy column '$c' not in schema"))
    }
    // CHECK constraints must parse at DDL time — a declared-but-
    // unenforceable invariant would be a silent lie
    props.filter(_._1.startsWith("check.")).foreach { case (k, v) =>
      MemCheck.parse(k.stripPrefix("check."), v, schema)
    }
    MemBloom.colsOf(props.toMap).foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"graft mem catalog: bloomFor column '$c' not in schema"))
      require(f.dataType == LongType || f.dataType == IntegerType || f.dataType == StringType,
        s"graft mem catalog: bloomFor column '$c' must be integral or string")
    }
    // partition transforms must parse and bind at DDL time — a declared-
    // but-unstampable spec would silently produce unprunable files
    MemPart.specsOf(props.toMap, schema)
    if (props.nonEmpty) {
      val tmp = Files.createTempFile(dir, "_props", ".tmp")
      Files.write(tmp, props.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, dir.resolve("_props"),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } else Files.deleteIfExists(dir.resolve("_props")) // UNSET of the last prop
  }

  /** First live row violating `rule`, decoded, with deletion vectors
    * applied (MoR-masked rows are not data) — the existing-data scan an
    * ADD CONSTRAINT must pass. Driver-side full read: the same cost
    * Delta pays, and constraint DDL is administrative, not a hot path.
    */
  def firstViolation(dir: Path, schema: StructType,
      rule: MemCheck.Rule): Option[Array[Any]] = {
    val dels = eqDeletes(dir)
    liveEntries(dir).iterator.flatMap { e =>
      val masked = e.dv.fold(Set.empty[Long])(d => readDv(dir.resolve(d)))
      val visible = eqMask(schema,
        eqDeletesFor(e, dels).map(d => (d.cols, dir.resolve(d.file))))
      val in = MemCodec.open(dir.resolve(e.name), schema)
      try {
        Iterator.continually(in.readRow()).takeWhile(_ != null)
          .zipWithIndex
          .collectFirst { case (vals, i)
            if !masked.contains(i.toLong) && visible(vals) && !rule.okVals(vals) => vals }
      } finally in.close()
    }.take(1).toSeq.headOption
  }

  def readProps(dir: Path): Map[String, String] = {
    val f = dir.resolve("_props")
    if (!Files.exists(f)) Map.empty
    else new String(Files.readAllBytes(f), "UTF-8").split("\n").filter(_.nonEmpty)
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
  }

  // ---- READ-SURFACE GOVERNANCE (row-access policy + tokenization) ----
  // `TBLPROPERTIES ('graft.policy'='<predicate>')` hides non-matching
  // rows from EVERY query reader (batch scan, streaming tail, change
  // feed) — Snowflake/Unity row access policies, evaluated at query
  // time from the CURRENT properties (a policy change is one metadata
  // commit and applies to time-travel reads too). `'graft.mask'=
  // 'col[,col…]'` replaces STRING column values with their md5 hex
  // token at the same seam: DETERMINISTIC tokenization, so equality,
  // grouping and joins on masked columns keep working
  // (referential-integrity-preserving PII protection — the shape a
  // 100 TB training-data pipeline actually ships). Maintenance and DML
  // internals (COW/MoR rewrite scans, compact, deleteWhere,
  // fastForward) read RAW rows: a policy hides data, it never destroys
  // it, and a masked value must never be written back as data.
  // Metadata-only answers REFUSE under a policy (row counts and
  // extremes become data questions).

  def policyOf(props: Map[String, String], schema: StructType): Option[MemCheck.Rule] =
    props.get("graft.policy").map(MemCheck.parse("policy", _, schema))

  def maskIdxOf(props: Map[String, String], schema: StructType): Set[Int] =
    props.get("graft.mask").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).map { c =>
        val i = schema.fieldNames.indexOf(c)
        require(i >= 0, s"graft mem catalog: mask column '$c' not in schema")
        require(schema.fields(i).dataType == StringType,
          s"graft mem catalog: mask column '$c' must be STRING — " +
            "tokenization is defined on strings")
        i
      }.toSet

  /** md5-hex token of a string value (null-preserving): deterministic,
    * so masked columns stay joinable/groupable.
    */
  def tokenize(v: Any): Any = v match {
    case null => null
    case s: UTF8String =>
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
      UTF8String.fromString(d.map("%02x".format(_)).mkString)
    case other => other
  }

  /** The directory backing the table `name` (`catalog.ns.table`), looked up
    * through `spark`'s catalog manager: the one place outside the catalog
    * instance that maps a table name to its files.
    */
  def tableDir(spark: org.apache.spark.sql.SparkSession, name: String): Path = {
    val parts = name.split("\\.")
    require(parts.length >= 3,
      s"table name must be fully qualified ('catalog.namespace.table'), got '$name'")
    spark.sessionState.catalogManager.catalog(parts(0)) match {
      case m: MemCatalog => m.dirOf(Identifier.of(parts.slice(1, parts.length - 1), parts.last))
      case other => throw new IllegalArgumentException(
        s"catalog '${parts(0)}' is not a graft mem catalog (got ${other.getClass.getName})")
    }
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** How long a `.publish-inprogress` marker is considered LIVE: within
    * this window an absent target + stranded .old- reads as "REPLACE
    * publish in flight" (loadTable throws NoSuchTable rather than
    * restoring); past it, the publisher is presumed crashed and the
    * stranded table is restored.
    */
  private[v2] val PublishGraceMs = 10000L

  private[v2] def publishMarkerPath(root: Path, targetName: String): Path =
    root.resolve(targetName + ".publish-inprogress")

  private[v2] def publishMarker(root: Path, target: Path): Option[Path] = {
    val m = publishMarkerPath(root, target.getFileName.toString)
    if (Files.exists(m)) Some(m) else None
  }

  /** The newest stranded `.old-<uuid>` sibling for a target dir, if any —
    * only meaningful when the target itself is absent (RTAS crash window).
    */
  private[v2] def strandedOld(root: Path, target: Path): Option[Path] = {
    import scala.jdk.CollectionConverters._
    val prefix = target.getFileName.toString + ".old-"
    val ls = Files.list(root)
    try ls.iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(prefix)
        && Files.exists(p.resolve("_schema.json")))
      .toSeq.sortBy(_.getFileName.toString).lastOption
    finally ls.close()
  }

  /** Every DATA-bearing file in the directory: ordinary `part-*` files
    * plus `promoted-*` clone-promotion interim copies (which carry rows
    * under a non-part name until OPTIMIZE rewrites them). `promoted-dv-*`
    * is NOT data — it's a deletion-vector sidecar referenced through
    * `entry.dv`, reclaimed by vacuum's dv pass, and including it here
    * would let the data-file pass delete a LIVE vector (dv names never
    * appear in the name-referenced set).
    */
  def partFiles(dir: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(dir)) Seq.empty
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") ||
            (n.startsWith("promoted-") && !n.startsWith("promoted-dv-"))
        }.toSeq.sortBy(_.toString)
      finally ls.close()
    }
  }

  // ---- snapshot manifests (time travel + data skipping) ----
  // `_v<N>.manifest`: line 1 = commit time (epoch millis), then one live
  // part file per line — NAME, optionally followed by tab-separated
  // per-column `col=lo..hi` MIN/MAX stats (integral columns only; the
  // zone-map metadata Iceberg/Delta keep per data file, what the scan's
  // file skipping reads). Written create-new + atomic-move so two racing
  // commits can't both claim version N.

  /** One live data file in a snapshot: name + per-column min/max stats +
    * an optional positional DELETION VECTOR sidecar (`dv@<file>` token —
    * the merge-on-read half of the DML contract: the base file is
    * immutable, the DV lists the row positions a MoR DELETE/UPDATE
    * removed, and readers subtract them at scan time; Iceberg's
    * positional delete files / Delta's deletion vectors). An entry
    * without a `dv@` token reads the whole file — old manifests parse
    * unchanged, and a pre-DV reader ignores the token (it has no `=`).
    * Every entry of a written file gets its stats, partition stamps and
    * sketches from [[MemFileWriter]], whichever statement wrote it.
    */
  /** `sortedBy`: the cluster key this file's ROWS are ordered by (a
    * `sort@col1,col2` token) — the per-file SORT-ORDER metadata Iceberg
    * records as `sort_order_id`. It is what makes cluster-key EVOLUTION
    * cheap: `ALTER TABLE ... SET TBLPROPERTIES('clusterBy'=...)` only
    * changes the table property; every file keeps the token of the order
    * it was actually written in, and the next OPTIMIZE treats
    * `sortedBy != current key` as a rewrite trigger (re-sorting into the
    * new order). Old manifests parse to None — "order unknown", which
    * conservatively makes the file a re-cluster candidate.
    */
  /** `ndvs`: per-column K-minimum-values distinct sketches
    * (`ndv:<col>@<base64>` tokens — [[MemNdv]]), merged at plan time
    * into the CBO's column-level distinct counts.
    */
  /** `hists`: per-column VALUE-DISTRIBUTION sketches (`hist:<col>@
    * <base64>` tokens — [[MemHist]]): sparse counts over a fixed
    * deterministic log-bucketing of the column's values, merged exactly
    * at plan time (counts add) into the equi-height histogram the CBO's
    * range-selectivity estimation reads. NDV answers "how selective is
    * `col = ?`"; this answers "how selective is `col BETWEEN ? AND ?`"
    * on SKEWED data, where min/max uniform interpolation is arbitrarily
    * wrong.
    */
  case class FileEntry(name: String, stats: Map[String, (Long, Long)],
      dv: Option[String] = None, blooms: Map[String, String] = Map.empty,
      sortedBy: Option[String] = None, ndvs: Map[String, String] = Map.empty,
      hists: Map[String, String] = Map.empty,
      // RAW partition values for files PURE under a string-sourced
      // identity transform (`ptv:identity(c)` → the one string every
      // row holds): the 8-byte prefix CODE the `pt:` range carries is
      // lossy, so storage-partitioned joins on string keys need the
      // exact value — base64 in the manifest (tab/`=`-safe)
      ptvs: Map[String, String] = Map.empty) {
    def render: String =
      (name +: (dv.map("dv@" + _).toSeq ++
        sortedBy.map("sort@" + _).toSeq ++
        blooms.toSeq.sorted.map { case (c, b) => s"bloom:$c@$b" } ++
        ndvs.toSeq.sorted.map { case (c, b) => s"ndv:$c@$b" } ++
        hists.toSeq.sorted.map { case (c, b) => s"hist:$c@$b" } ++
        ptvs.toSeq.sorted.map { case (k, v) =>
          s"ptv:$k@${java.util.Base64.getEncoder.encodeToString(v.getBytes("UTF-8"))}" } ++
        stats.toSeq.sorted
          .map { case (c, (lo, hi)) => s"$c=$lo..$hi" })).mkString("\t")
  }

  object FileEntry {
    /** Prefixes of the `<prefix><key>@<payload>` token kinds. */
    private val Keyed = Seq("bloom:", "ndv:", "hist:", "ptv:")

    def parse(line: String): FileEntry = {
      val parts = line.split("\t")
      val toks = parts.tail
      def single(prefix: String): Option[String] =
        toks.find(_.startsWith(prefix)).map(_.stripPrefix(prefix))
      def keyed(prefix: String): Map[String, String] =
        toks.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).split("@", 2))
          .collect { case Array(k, v) => k -> v }.toMap
      val stats = toks
        .filterNot(t => t.startsWith("dv@") || t.startsWith("sort@") || Keyed.exists(t.startsWith))
        .flatMap { kv =>
          kv.split("=", 2) match {
            case Array(c, range) => range.split("\\.\\.", 2) match {
              case Array(lo, hi) => Some(c -> (lo.toLong, hi.toLong))
              case _ => None
            }
            case _ => None
          }
        }.toMap
      FileEntry(parts.head, stats, single("dv@"), keyed("bloom:"), single("sort@"),
        keyed("ndv:"), keyed("hist:"),
        keyed("ptv:").map { case (k, b) =>
          k -> new String(java.util.Base64.getDecoder.decode(b), "UTF-8") })
    }
  }

  /** The table's current cluster key in canonical form (trimmed,
    * comma-joined) — the value `sortedBy` tokens are compared against.
    */
  def sortKeyOf(props: Map[String, String]): Option[String] =
    props.get("clusterBy").map(_.split(",").map(_.trim).filter(_.nonEmpty).mkString(","))

  /** Lexicographic ordering over decoded cluster-key values (nulls
    * first, then typed compare) — the comparator compact's re-cluster
    * sort uses. Matches the NULLS FIRST ASC order the write path
    * requests via RequiresDistributionAndOrdering.
    */
  private[v2] object SortKeyOrdering extends Ordering[Seq[Any]] {
    private def cmp(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
      case (x: java.lang.Integer, y: java.lang.Integer) => Integer.compare(x, y)
      case (x: java.lang.Number, y: java.lang.Number) =>
        java.lang.Double.compare(x.doubleValue(), y.doubleValue())
      case (x: UTF8String, y: UTF8String) => x.compareTo(y)
      case (x: String, y: String) => x.compareTo(y)
      case (x: java.lang.Boolean, y: java.lang.Boolean) => java.lang.Boolean.compare(x, y)
      case _ => 0
    }
    override def compare(x: Seq[Any], y: Seq[Any]): Int = {
      var i = 0
      while (i < x.length && i < y.length) {
        val c = cmp(x(i), y(i))
        if (c != 0) return c
        i += 1
      }
      0
    }
  }

  /** Write a deletion-vector sidecar (`_dv-*`, sorted base-file row
    * positions) and return its name. The sidecar is fully written before
    * any manifest references it — same publish-then-commit discipline as
    * part files; orphans from a lost commit race are vacuum-reclaimed.
    */
  def writeDv(dir: Path, positions: Iterable[Long]): String = {
    val f = Files.createTempFile(dir, "_dv-", ".txt")
    Files.write(f, positions.toSeq.sorted.distinct.mkString("\n").getBytes("UTF-8"))
    f.getFileName.toString
  }

  def readDv(path: Path): Set[Long] =
    if (!Files.exists(path)) Set.empty
    else new String(Files.readAllBytes(path), "UTF-8").split("\n")
      .filter(_.nonEmpty).map(_.toLong).toSet

  // ---- EQUALITY DELETES (Iceberg v2 equality delete files) ----
  // The write-cheap half of merge-on-read DML that positional vectors
  // can't give: a positional delete must READ the base files to mint
  // (file, pos) ids, so `DELETE WHERE k = 5` on a 100 TB table still
  // scans. An EQUALITY delete records only the KEY VALUES (one sidecar
  // listing deleted key tuples) plus a SEQUENCE number, and readers drop
  // matching rows of every file with a SMALLER sequence at scan time —
  // zero base-file reads at write time, exactly Iceberg's equality
  // delete files (the format CDC/upsert writers use). Sequencing rule:
  // `#seq` in a file entry's stats is the manifest version that first
  // committed it (stamped by [[commitManifestEq]]; pre-seq entries read
  // as 0 = oldest); a delete at sequence S masks only files with
  // seq < S, so a row re-inserted AFTER the delete survives it.

  /** One equality delete: commit sequence, the key columns, and the
    * sidecar file (`_eq-*`) listing deleted key tuples — carried as a
    * `#eqdel:<seq>:<cols>@<file>` manifest meta line, snapshot-versioned
    * like everything else (time travel to a pre-delete version sees the
    * rows; rollback restores the target's delete set).
    */
  case class EqDelete(seq: Long, cols: Seq[String], file: String) {
    def render: String = s"#eqdel:$seq:${cols.mkString(",")}@$file"
  }

  object EqDelete {
    def parse(line: String): Option[EqDelete] =
      line.stripPrefix("#eqdel:").split(":", 2) match {
        case Array(seq, rest) => rest.split("@", 2) match {
          case Array(cols, file) =>
            Some(EqDelete(seq.toLong, cols.split(",").toSeq.filter(_.nonEmpty), file))
          case _ => None
        }
        case _ => None
      }
  }

  /** Canonical string form of one key value — the shared encoding the
    * delete writer and every reader compare through. Strings URL-encode
    * (so a tab/newline in a key can't corrupt the sidecar's line
    * format); integral values render as decimal, which is identical for
    * the Long and Int columns the key restriction allows.
    */
  def canonEq(v: Any): String = v match {
    case u: UTF8String => java.net.URLEncoder.encode(u.toString, "UTF-8")
    case s: String => java.net.URLEncoder.encode(s, "UTF-8")
    case x => String.valueOf(x)
  }

  /** Write an equality-delete sidecar (`_eq-*`): one deleted key tuple
    * per line, values canonical-encoded and tab-joined. Published fully
    * before any manifest references it, like DV sidecars; orphans from a
    * lost commit race are vacuum-reclaimed.
    */
  def writeEqDelete(dir: Path, rows: Iterable[Seq[String]]): String = {
    val f = Files.createTempFile(dir, "_eq-", ".txt")
    Files.write(f, rows.map(_.mkString("\t")).toSeq.sorted.distinct
      .mkString("\n").getBytes("UTF-8"))
    f.getFileName.toString
  }

  /** The sidecar's key tuples as their canonical tab-joined lines. */
  def readEqDelete(path: Path): Set[String] =
    if (!Files.exists(path)) Set.empty
    else new String(Files.readAllBytes(path), "UTF-8").split("\n")
      .filter(_.nonEmpty).toSet

  /** A file entry's data sequence: the version that committed it, 0 for
    * pre-seq manifests (oldest — subject to every equality delete).
    */
  def seqOf(e: FileEntry): Long = e.stats.get("#seq").fold(0L)(_._1)

  /** The equality deletes that apply to `e`: strictly newer sequence. */
  def eqDeletesFor(e: FileEntry, dels: Seq[EqDelete]): Seq[EqDelete] =
    dels.filter(_.seq > seqOf(e))

  /** The current (or pinned) snapshot's equality deletes. */
  def eqDeletes(dir: Path, version: Option[Int] = None): Seq[EqDelete] = {
    val v = version.getOrElse(currentVersion(dir))
    if (v < 0) Seq.empty else readManifestFull(dir, v).eqDels
  }

  /** Row-visibility mask from the equality deletes applicable to one
    * file: loads each sidecar once, then tests the row's canonical key
    * tuple against every set. A row with a NULL key value is never
    * masked (`k = 5` can't match NULL — SQL equality), and a delete
    * whose key column no longer resolves in the schema masks nothing
    * (schema evolution is append-only here, so this is purely
    * defensive). Returns a constant-true fast path when nothing applies.
    */
  def eqMask(schema: StructType, eq: Seq[(Seq[String], Path)]): Array[Any] => Boolean =
    if (eq.isEmpty) _ => true
    else {
      val compiled: Seq[(Array[Int], Set[String])] = eq.flatMap { case (cols, p) =>
        val idx = cols.map(c => schema.fieldNames.indexOf(c))
        if (idx.exists(_ < 0)) None else Some((idx.toArray, readEqDelete(p)))
      }
      vals => !compiled.exists { case (idx, set) =>
        !idx.exists(i => vals(i) == null) &&
          set.contains(idx.map(i => canonEq(vals(i))).mkString("\t"))
      }
    }

  private def manifestPath(dir: Path, v: Int): Path = dir.resolve(s"_v$v.manifest")

  // ---- named snapshot TAGS (Iceberg refs, immutable flavor) ----
  // One `_tag-<name>` file per tag holding the pinned version: CREATE-NEW
  // publish makes two racing creates of the SAME tag resolve loudly (the
  // loser gets FileAlreadyExistsException), independent tags never
  // conflict, and drop is a plain delete — the same commit discipline as
  // manifests, with no shared refs file to lose a race on. Tags are
  // immutable pointers (retag = drop + create); vacuum KEEPS tagged
  // manifests and every file they reference, which is the entire point:
  // a tag is a retention lease on a snapshot ("audit-2026Q3 must stay
  // reproducible") that survives retention policy.

  private def tagPath(dir: Path, name: String): Path = dir.resolve(s"_tag-$name")

  /** Valid tag: filesystem-safe, and not parseable as a version number
    * (so `VERSION AS OF <x>` stays unambiguous).
    */
  private def validTag(name: String): Boolean =
    name.nonEmpty && name.matches("[A-Za-z0-9._-]+") && !name.forall(_.isDigit)

  def createTag(dir: Path, name: String, version: Int): Unit = {
    require(validTag(name),
      s"graft mem catalog: invalid tag name '$name' — [A-Za-z0-9._-]+, not all digits")
    require(Files.exists(manifestPath(dir, version)),
      s"graft mem catalog: cannot tag version $version — no such retained snapshot")
    val tmp = Files.createTempFile(dir, "_tagw", ".tmp")
    Files.write(tmp, version.toString.getBytes("UTF-8"))
    try Files.createLink(tagPath(dir, name), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"graft mem catalog: tag '$name' already exists (tags are immutable — drop it first)")
    } finally Files.deleteIfExists(tmp)
  }

  def dropTag(dir: Path, name: String): Boolean =
    Files.deleteIfExists(tagPath(dir, name))

  /** All tags of a table: name → pinned version. */
  def tags(dir: Path): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(dir)) Map.empty
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith("_tag-"))
        .map(p => p.getFileName.toString.stripPrefix("_tag-") ->
          new String(Files.readAllBytes(p), "UTF-8").trim.toInt)
        .toMap
      finally ls.close()
    }
  }

  // ---- named BRANCHES (Iceberg refs, mutable flavor) + WAP ----
  // The WRITE-AUDIT-PUBLISH pattern needs a ref writes can land on
  // without touching what readers see: a BRANCH. A branch is a fork of
  // main at a recorded BASE version (`_branch-<name>` ref file, CREATE-
  // NEW like tags) with its own manifest chain (`_bv<K>-<name>.manifest`,
  // K=0 is a copy of main's base snapshot) sharing the table's data
  // directory — branch part files are ordinary part files no MAIN
  // manifest references, invisible to every main reader and protected
  // from vacuum because branch manifests count as retention roots (the
  // tag rule, mutable flavor). Publishing is FAST-FORWARD only: main
  // must still be at the branch's base — then one create-new commit of
  // the branch head's live set lands at base+1, and a main that advanced
  // during the audit fails the publish loudly (the version slot is
  // taken; no retry-compose, exactly [[rollback]]'s rule).

  private def branchRefPath(dir: Path, name: String): Path = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"graft mem catalog: invalid branch name '$name'")
    dir.resolve(s"_branch-$name")
  }

  private[v2] def branchManifestPath(dir: Path, name: String, k: Int): Path =
    dir.resolve(s"_bv$k-$name.manifest")

  /** Fork a branch at main's current head; returns the base version.
    * CREATE-NEW on the ref file: racing creates of one name lose loudly.
    */
  def createBranch(dir: Path, name: String): Int = {
    val base = currentVersion(dir)
    require(base >= 0, s"graft mem catalog: cannot branch an uncommitted table $dir")
    val m = readManifestFull(dir, base)
    val tmp = Files.createTempFile(dir, "_branch", ".tmp")
    Files.write(tmp, base.toString.getBytes("UTF-8"))
    try Files.createLink(branchRefPath(dir, name), tmp)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"graft mem catalog: branch '$name' already exists on $dir", e)
    } finally Files.deleteIfExists(tmp)
    publishManifestAt(dir, branchManifestPath(dir, name, 0), m.files,
      Map.empty, s"branch-$name", m.eqDels)
    base
  }

  /** name → base version of every live branch. */
  def branches(dir: Path): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(dir)) Map.empty
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith("_branch-"))
        .map(p => p.getFileName.toString.stripPrefix("_branch-") ->
          new String(Files.readAllBytes(p), "UTF-8").trim.toInt)
        .toMap
      finally ls.close()
    }
  }

  def branchBase(dir: Path, name: String): Int = {
    val ref = branchRefPath(dir, name)
    require(Files.exists(ref), s"graft mem catalog: no branch '$name' on $dir")
    new String(Files.readAllBytes(ref), "UTF-8").trim.toInt
  }

  /** Highest committed branch manifest ordinal. */
  def branchHead(dir: Path, name: String): Int = {
    import scala.jdk.CollectionConverters._
    val M = s"""_bv(\\d+)-${java.util.regex.Pattern.quote(name)}\\.manifest""".r
    val ls = Files.list(dir)
    try ls.iterator().asScala
      .flatMap(p => p.getFileName.toString match { case M(k) => Some(k.toInt); case _ => None })
      .foldLeft(-1)(math.max)
    finally ls.close()
  }

  /** The branch head's snapshot. */
  def branchManifest(dir: Path, name: String): Manifest = {
    val k = branchHead(dir, name)
    require(k >= 0, s"graft mem catalog: no branch '$name' on $dir")
    readManifestPath(branchManifestPath(dir, name, k))
  }

  /** PUBLISH the audited branch: fast-forward main to the branch head in
    * ONE create-new commit at base+1. Fails with
    * [[CommitConflictException]] when main advanced past the base during
    * the audit — publishing anyway would silently drop the concurrent
    * commit (the branch never saw it), so the WAP loop must re-branch
    * and re-audit against the new head. Entries born on the branch are
    * re-stamped `#seq` = the published version, restoring main's
    * equality-delete sequencing invariant (#seq == committing version);
    * branch-born EQUALITY DELETES are converted to positional deletion
    * vectors at publish (see the inline rationale below) so the carried
    * #eqdel lines are exactly the fork-inherited ones.
    */
  def fastForward(dir: Path, name: String): Int = {
    val base = branchBase(dir, name)
    val head = branchManifest(dir, name)
    val cur = currentVersion(dir)
    if (cur != base) throw new CommitConflictException(
      s"graft mem catalog: fast-forward conflict — main advanced v$base -> v$cur " +
        s"while branch '$name' was being audited; re-branch from the new head")
    val baseNames = readManifestFull(dir, base).files.map(_.name).toSet
    val v = (base + 1).toLong
    // BRANCH-BORN equality deletes (seq > base) cannot ride to main as
    // #eqdel lines: their branch-relative sequences (base+2, base+3, …)
    // would outrank files of FUTURE main commits at those versions — a
    // silent forward mask. The publish CONVERTS them into POSITIONAL
    // deletion vectors on exactly the files they applied to at the
    // branch head (applicability computed against the branch-relative
    // #seq order BEFORE the re-stamp below erases it): a one-time
    // O(affected files) read at publish, zero data files rewritten —
    // Iceberg's rewrite-delete-files maintenance folded into the
    // fast-forward, after which main's sequencing invariant (#eqdel seq
    // == committing version) holds untouched. Fork-inherited deletes
    // (seq ≤ base) are already sequenced for main and carry as lines.
    val bornEq = head.eqDels.filter(_.seq > base)
    val bornMasks: Map[String, Set[Long]] = if (bornEq.isEmpty) Map.empty else {
      val schema = readSchema(dir)
      head.files.flatMap { e =>
        val applicable = eqDeletesFor(e, bornEq)
        if (applicable.isEmpty) None
        else {
          val visible = eqMask(schema,
            applicable.map(d => (d.cols, dir.resolve(d.file))))
          val hit = scala.collection.mutable.Set.empty[Long]
          val in = MemCodec.open(dir.resolve(e.name), schema)
          try {
            var pos = -1L
            var vals = in.readRow()
            while (vals != null) {
              pos += 1
              if (!visible(vals)) hit += pos
              vals = in.readRow()
            }
          } finally in.close()
          if (hit.isEmpty) None else Some(e.name -> hit.toSet)
        }
      }.toMap
    }
    val files = head.files.map { e0 =>
      val e = bornMasks.get(e0.name) match {
        case None => e0
        case Some(pos) =>
          val existing = e0.dv.fold(Set.empty[Long])(d => readDv(dir.resolve(d)))
          e0.copy(dv = Some(writeDv(dir, existing ++ pos)))
      }
      if (!baseNames(e.name)) e.copy(stats = e.stats + ("#seq" -> (v, v)))
      else e
    }
    val mainTxns = readManifestFull(dir, base).txns
    try writeManifest(dir, base + 1, files, mainTxns, s"fastforward-$name",
      head.eqDels.filter(_.seq <= base))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"graft mem catalog: fast-forward conflict — a commit raced the " +
            s"publish of branch '$name'; re-branch from the new head")
    }
    base + 1
  }

  /** Drop the branch: ref + chain removed; its unpublished part files
    * become unreferenced and the next vacuum reclaims them.
    */
  def dropBranch(dir: Path, name: String): Unit = {
    Files.deleteIfExists(branchRefPath(dir, name))
    (0 to math.max(0, branchHead(dir, name)))
      .foreach(k => Files.deleteIfExists(branchManifestPath(dir, name, k)))
  }

  /** A snapshot: commit time, live files, per-streaming-query
    * transaction watermarks (`#<queryId>=<epochId>` lines — the Delta
    * sink's txn-version idempotence record: an epoch at or below the
    * watermark is a replay and must commit nothing), and the OPERATION
    * that produced the commit (`#op:<kind>` line — what Delta records as
    * `operation` in its commitInfo action: the commit log doubles as the
    * table's audit history, and the change-feed reader classifies a
    * commit's row delta by it — update_pre/postimage vs delete vs
    * insert). Empty for pre-tag manifests (readers must treat "" as
    * unknown).
    */
  case class Manifest(ts: Long, files: Seq[FileEntry], txns: Map[String, Long],
      op: String = "", eqDels: Seq[EqDelete] = Seq.empty)

  /** Publish version `v` with CREATE-NEW semantics: the fully-written
    * temp file is HARD-LINKED to the manifest name — link(2) is atomic
    * and FAILS if the target exists, unlike rename(2), which silently
    * REPLACES it (a rename-based publish let two racing commits both
    * "win" version N, losing one commit's edit — caught by the
    * MemCatalogSpec thread-race test). Readers never see a torn file:
    * the content is complete before the link appears.
    */
  def writeManifest(dir: Path, v: Int, files: Seq[FileEntry],
      txns: Map[String, Long] = Map.empty, op: String = "",
      eqDels: Seq[EqDelete] = Seq.empty): Unit = {
    publishManifestAt(dir, manifestPath(dir, v), files, txns, op, eqDels)
    fireCommitHooks(dir) // only after the link WON — a lost race throws above
  }

  // ---------------------------------------------------------------------
  // COMMIT HOOKS — the catalog-side trigger for event-driven maintenance
  // (Snowflake's MV background refresh, Delta's commit hooks / OPTIMIZE
  // triggers): a callback registered per table dir fires after every MAIN
  // snapshot publish (writeManifest is the single main-chain choke point;
  // branch manifests bypass it by design — branch work is unpublished
  // until fastForward, which lands here like any commit). Hooks run
  // ASYNCHRONOUSLY on a dedicated daemon thread with COALESCING: the
  // committing thread only flips a dirty bit (a commit never waits on, or
  // fails because of, maintenance), and N commits during one hook run
  // collapse into exactly one follow-up run — the hook contract is
  // "called at least once after the last commit", which is all a
  // maintenance cycle needs since each run drains EVERYTHING unabsorbed.
  // At 100 TB the async seam is the difference between "every ingest
  // epoch pays the MV fold inline" and "ingest is never throttled by
  // maintenance"; coalescing bounds maintenance work under commit storms.
  // ---------------------------------------------------------------------

  private final class HookState {
    val dirty = new java.util.concurrent.atomic.AtomicBoolean(false)
  }
  private val commitHooks = new java.util.concurrent.ConcurrentHashMap[Path, () => Unit]()
  private val hookStates = new java.util.concurrent.ConcurrentHashMap[Path, HookState]()
  private lazy val hookExec = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-commit-hooks")
      t.setDaemon(true)
      t
    })

  /** Register `hook` to run after every main-chain commit on `dir`
    * (replacing any previous hook for the dir). The hook runs on the
    * shared maintenance thread — it may itself commit (to OTHER tables;
    * a hook committing to its own table would re-trigger itself forever).
    */
  def onCommit(dir: Path)(hook: () => Unit): Unit =
    commitHooks.put(dir.toAbsolutePath.normalize, hook)

  def dropCommitHook(dir: Path): Unit = {
    val d = dir.toAbsolutePath.normalize
    commitHooks.remove(d)
    hookStates.remove(d)
  }

  /** DECLARATIVE RETENTION — `TBLPROPERTIES('graft.autoVacuumKeep'='N')`:
    * the table itself declares its snapshot retention and every commit
    * enforces it through the maintenance thread (Delta's
    * `delta.logRetentionDuration` + auto-cleanup, as a version count).
    * Read at RUN time from current properties, so attaching or dropping
    * the policy is one metadata flip; it takes effect at the next data
    * commit (a props-only ALTER publishes no manifest and fires no hook).
    * Tags and branches remain retention leases — [[vacuum]] never drops
    * them — and vacuum publishes no manifest, so the policy can never
    * retrigger itself.
    */
  private def retentionPolicy(d: Path): Option[Int] =
    readProps(d).get("graft.autoVacuumKeep").flatMap(_.toIntOption)

  // Per-dir (props-file stamp → policy) memo so the commit hot path pays
  // a file STAT, not a read+parse, to learn "no policy here". The stamp
  // is (full-precision FileTime, file size) — millisecond mtime alone is
  // too coarse: two writeProps inside one clock granule (or one
  // filesystem mtime granule) would leave a stale cached policy and
  // fireCommitHooks could skip (or keep) auto-vacuum scheduling until
  // the next props touch. Size breaks the tie for same-granule rewrites
  // of different content; ("", -1) = absent. It needs no invalidation
  // seam — it stays correct under ALTER (writeProps is an atomic
  // replace, fresh stamp) and under RTAS dir swaps (the published
  // _props arrives with its own stamp). The maintenance thread still
  // reads live props at RUN time; this only gates whether a maintenance
  // run is scheduled at all.
  private val retentionMemo =
    new java.util.concurrent.ConcurrentHashMap[Path, ((String, Long), Option[Int])]()
  private def retentionPolicyCached(d: Path): Option[Int] = {
    val f = d.resolve("_props")
    val stamp =
      try (Files.getLastModifiedTime(f).toString, Files.size(f))
      catch { case _: java.io.IOException => ("", -1L) }
    val cached = retentionMemo.get(d)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val p = if (stamp._2 < 0) None else retentionPolicy(d)
      retentionMemo.put(d, (stamp, p))
      p
    }
  }

  /** Drop all maintenance bookkeeping for a table dir — called on DROP
    * TABLE so hookStates/retentionMemo entries don't outlive the table.
    */
  def clearHookState(dir: Path): Unit = {
    val d = dir.toAbsolutePath.normalize
    commitHooks.remove(d)
    hookStates.remove(d)
    retentionMemo.remove(d)
    ()
  }

  private def fireCommitHooks(dir: Path): Unit = {
    val d = dir.toAbsolutePath.normalize
    if (commitHooks.containsKey(d) || retentionPolicyCached(d).isDefined) {
      val st = hookStates.computeIfAbsent(d, _ => new HookState)
      st.dirty.set(true)
      hookExec.submit(new Runnable {
        override def run(): Unit =
          // drain-while-dirty: a commit landing mid-run re-queues; the
          // queued twin then finds dirty=false and no-ops (coalescing)
          while (st.dirty.compareAndSet(true, false)) {
            val h = commitHooks.get(d)
            if (h != null) {
              try h()
              catch { // the commit already succeeded; maintenance failure
                      // must surface in the maintenance job, never rethrow
                      // into unrelated hook runs queued behind it
                case scala.util.control.NonFatal(e) =>
                  logWarning(s"graft commit hook failed for $d: $e")
              }
            }
            retentionPolicy(d).foreach { keep =>
              try { vacuum(d, keep); () }
              catch {
                case scala.util.control.NonFatal(e) =>
                  logWarning(s"graft auto-vacuum failed for $d: $e")
              }
            }
          }
      })
      ()
    }
  }

  private def logWarning(msg: String): Unit =
    System.err.println(s"WARN MemCatalog: $msg")

  /** AUTO-OPTIMIZE — the first consumer of the commit-hook seam beyond
    * MV maintenance: once the live-file count exceeds `maxFiles`, the
    * hook runs [[compact]] (small-file bin-packing + DV/eq-delete
    * materialization + re-clustering, whatever applies). Event-driven
    * compaction is how Delta's auto-optimize and Iceberg's
    * commit-triggered rewrite policies work: ingest never schedules
    * maintenance, maintenance never scans for work — the commit that
    * created the debt triggers the payment, asynchronously. SELF-
    * TERMINATION is structural, not tuned: the compaction's own commit
    * re-fires the hook, but the re-run sees the collapsed file count (or
    * a converged layout — [[compact]] returns without committing when it
    * has nothing to do) and no-ops, so the drain loop exits after at
    * most one extra pass. At 100 TB this is the difference between a
    * streaming table accumulating millions of micro-batch files and one
    * that continuously converges to its target layout.
    */
  def autoCompact(dir: Path, maxFiles: Int, targetBytes: Long = 1L << 20): Unit =
    onCommit(dir) { () =>
      if (liveEntries(dir).size > maxFiles) {
        compact(dir, targetBytes)
        ()
      }
    }

  /** Block until every hook run triggered by ALREADY-PUBLISHED commits
    * has completed (test/demo determinism; production never calls this).
    * The executor is single-threaded FIFO, so a marker task completes
    * only after all previously queued drains; hooks that commit to other
    * hooked tables re-queue, hence the outer loop until nothing is dirty.
    */
  def awaitCommitHooks(): Unit = {
    import scala.jdk.CollectionConverters._
    var spin = true
    while (spin) {
      hookExec.submit(new Runnable { override def run(): Unit = () }).get()
      spin = hookStates.values().asScala.exists(_.dirty.get())
    }
  }

  /** The create-new publish core, target-path-parameterized so MAIN
    * manifests (`_v<N>`) and BRANCH manifests (`_bv<K>-<name>`) share one
    * discipline: fully-written temp, hard-linked into place, loud
    * FileAlreadyExistsException for the loser of a version race.
    */
  private val MainManifestRe = """_v(\d+)\.manifest""".r
  private val BranchManifestRe = """_bv(\d+)-(.+)""".r

  /** The predecessor manifest's commit millis, by target-name arithmetic
    * (`_v<N>` → `_v<N-1>`, `_bv<K>-b` → `_bv<K-1>-b`) — first line only.
    * None for v0, a vacuumed predecessor, or a parse miss.
    */
  private def prevCommitTs(target: Path): Option[Long] = {
    val prev = target.getFileName.toString match {
      case MainManifestRe(n) if n.toInt > 0 =>
        Some(target.resolveSibling(s"_v${n.toInt - 1}.manifest"))
      case BranchManifestRe(k, b) if k.toInt > 0 =>
        Some(target.resolveSibling(s"_bv${k.toInt - 1}-$b"))
      case _ => None
    }
    prev.filter(Files.exists(_)).flatMap { p =>
      val in = Files.newBufferedReader(p)
      try scala.util.Try(in.readLine().trim.toLong).toOption
      finally in.close()
    }
  }

  private def publishManifestAt(dir: Path, target: Path, files: Seq[FileEntry],
      txns: Map[String, Long], op: String, eqDels: Seq[EqDelete]): Unit = {
    val tmp = Files.createTempFile(dir, "_manifest", ".tmp")
    val opLines = if (op.isEmpty) Seq.empty else Seq(s"#op:$op")
    val eqLines = eqDels.map(_.render)
    val txnLines = txns.toSeq.sorted.map { case (q, e) => s"#$q=$e" }
    // MONOTONE COMMIT CLOCK (the Delta in-commit-timestamp discipline):
    // stamp max(now, predecessor's ts) so commit times never regress
    // along a manifest chain. Time travel, retention and the change
    // feed's timestamp-window narrowing all lean on this — in
    // particular it is what lets the TVF bound a VACUUMED version's
    // unknown commit time by its surviving neighbors.
    val ts = math.max(System.currentTimeMillis(), prevCommitTs(target).getOrElse(Long.MinValue))
    Files.write(tmp,
      (ts.toString +: (opLines ++ eqLines ++ txnLines ++ files.map(_.render)))
        .mkString("\n").getBytes("UTF-8"))
    try Files.createLink(target, tmp)
    finally Files.deleteIfExists(tmp)
  }

  /** Parse any manifest file (main or branch) — the read core
    * [[readManifestFull]] wraps for main versions.
    */
  def readManifestPath(p: Path): Manifest = {
    val lines = new String(Files.readAllBytes(p), "UTF-8").split("\n").toSeq
    val (metaLines, entryLines) = lines.tail.filter(_.nonEmpty).partition(_.startsWith("#"))
    val (opLines, rest) = metaLines.partition(_.startsWith("#op:"))
    val (eqLines, txnLines) = rest.partition(_.startsWith("#eqdel:"))
    val txns = txnLines.flatMap(_.stripPrefix("#").split("=", 2) match {
      case Array(q, e) => Some(q -> e.toLong)
      case _ => None
    }).toMap
    Manifest(lines.head.toLong, entryLines.map(FileEntry.parse), txns,
      opLines.headOption.fold("")(_.stripPrefix("#op:")),
      eqLines.flatMap(EqDelete.parse))
  }

  def readManifestFull(dir: Path, v: Int): Manifest =
    readManifestPath(manifestPath(dir, v))

  /** (commit millis, live file entries) of version `v`. */
  def readManifest(dir: Path, v: Int): (Long, Seq[FileEntry]) = {
    val m = readManifestFull(dir, v)
    (m.ts, m.files)
  }

  /** Highest committed manifest number, or -1 for a pre-manifest dir. */
  def currentVersion(dir: Path): Int = {
    import scala.jdk.CollectionConverters._
    val M = """_v(\d+)\.manifest""".r
    val ls = Files.list(dir)
    try ls.iterator().asScala
      .flatMap(p => p.getFileName.toString match { case M(n) => Some(n.toInt); case _ => None })
      .foldLeft(-1)(math.max)
    finally ls.close()
  }

  /** Newest version committed at or before `tsMicros` (the
    * `TIMESTAMP AS OF` rule; the SPI hands micros, manifests store millis).
    */
  def versionAt(dir: Path, tsMicros: Long): Option[Int] = {
    val cur = currentVersion(dir)
    // skip vacuumed manifests: resolution walks only RETAINED snapshots,
    // so a timestamp older than retention resolves to none (loud error at
    // the caller) instead of a raw NoSuchFileException mid-scan
    (cur to 0 by -1).find(v => Files.exists(manifestPath(dir, v)) &&
      readManifest(dir, v)._1 * 1000L <= tsMicros)
  }

  /** Live file entries of a version (current when `version` is None).
    * Falls back to the directory listing for pre-manifest dirs (a staged
    * CTAS dir before its publishing commit writes `_v0`).
    */
  def liveEntries(dir: Path, version: Option[Int] = None): Seq[FileEntry] = {
    val v = version.getOrElse(currentVersion(dir))
    if (v < 0) partFiles(dir).map(p => FileEntry(p.getFileName.toString, Map.empty))
    else readManifest(dir, v)._2.sortBy(_.name)
  }

  def liveFiles(dir: Path, version: Option[Int] = None): Seq[Path] =
    liveEntries(dir, version).map(e => dir.resolve(e.name))

  /** STRUCTURAL pruning proof, race-free under concurrent queries (no
    * shared plan-count seam): run the count query `probeSql`, move the
    * `hidden` files of `tableDir` into a stash, run it again and require
    * the same count. A scan that prunes them never opens the missing
    * paths; one that does not fails, which reads as `false`. The files go
    * back and the stash dir is deleted whatever happens.
    */
  def proveFilesPruned(spark: org.apache.spark.sql.SparkSession, tableDir: Path,
      hidden: Seq[FileEntry], probeSql: String): Boolean = {
    val want = spark.sql(probeSql).head().getLong(0)
    val stash = Files.createTempDirectory("graft-prune-hide")
    try {
      hidden.foreach(e => Files.move(tableDir.resolve(e.name), stash.resolve(e.name)))
      try spark.sql(probeSql).head().getLong(0) == want
      catch { case _: Throwable => false }
    } finally {
      hidden.foreach { e =>
        if (Files.exists(stash.resolve(e.name)))
          Files.move(stash.resolve(e.name), tableDir.resolve(e.name))
      }
      Files.delete(stash)
    }
  }

  /** VACUUM — the retention side of time travel: drop every manifest
    * older than the last `keepVersions` and delete any part file no KEPT
    * manifest references. Time travel to a vacuumed version then fails
    * (its manifest is gone) while kept versions and the current read are
    * byte-identical — the Delta/Iceberg retention contract. Returns
    * (manifests dropped, files deleted). Driver-side O(#files); staged
    * subtrees (`_inflight-*`, `_cow-*`) live in subdirectories and are
    * never touched.
    */
  def vacuum(dir: Path, keepVersions: Int = 1): (Int, Int) = {
    val cur = currentVersion(dir)
    if (cur < 0) return (0, 0)
    val keepFrom = math.max(0, cur - math.max(1, keepVersions) + 1)
    // a TAG is a retention lease: tagged snapshots (and every file they
    // reference) survive any keepVersions policy until the tag is dropped
    val tagged = tags(dir).values.toSet
    def retained(v: Int): Boolean = v >= keepFrom || tagged(v)
    val keptManifests = (0 to cur).filter(retained)
      .filter(v => Files.exists(manifestPath(dir, v)))
      .map(v => readManifestFull(dir, v)) ++
      // a BRANCH is a retention root like a tag, mutable flavor: every
      // branch manifest's files (unpublished audit writes included) and
      // eq sidecars survive until the branch is dropped
      branches(dir).keys.toSeq.flatMap { b =>
        (0 to branchHead(dir, b)).map(k => branchManifestPath(dir, b, k))
          .filter(Files.exists(_)).map(readManifestPath)
      }
    val keptEntries = keptManifests.flatMap(_.files)
    val referenced = keptEntries.map(_.name).toSet
    val droppedFiles = partFiles(dir).filterNot(p => referenced(p.getFileName.toString))
    droppedFiles.foreach(Files.deleteIfExists(_))
    // CDC sidecars belong to their commit: `_cdc-v<K>-*` drops with
    // manifest K (a feed replaying a vacuumed version fails loudly
    // before it would look for the sidecar), and `_cdcstage-*` temps are
    // lost-race leftovers
    locally {
      import scala.jdk.CollectionConverters._
      val CdcRe = """_cdc-v(\d+)-(?:pre|post)\.bin""".r
      val ls = Files.list(dir)
      try ls.iterator().asScala.filter { p =>
        p.getFileName.toString match {
          // this runs BEFORE the manifest deletion below: use the same
          // retention rule, plus the already-gone case (a rollback can
          // delete manifests outside vacuum)
          case CdcRe(v) =>
            !retained(v.toInt) || !Files.exists(manifestPath(dir, v.toInt))
          case n => n.startsWith("_cdcstage-")
        }
      }.toSeq.foreach(Files.deleteIfExists(_))
      finally ls.close()
    }
    // deletion-vector sidecars are referenced THROUGH entries (`dv@`):
    // reclaim any `_dv-*` no kept manifest points at (superseded vectors
    // from later MoR deletes, orphans from lost commit races)
    val referencedDv = keptEntries.flatMap(_.dv).toSet
    val droppedDv = {
      import scala.jdk.CollectionConverters._
      val ls = Files.list(dir)
      try ls.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          // promoted-dv-* clone copies are dv sidecars too (referenced
          // through entry.dv like _dv-*) — reclaim them when superseded
          (n.startsWith("_dv-") || n.startsWith("promoted-dv-")) &&
            !referencedDv(n)
        }.toSeq
      finally ls.close()
    }
    droppedDv.foreach(Files.deleteIfExists(_))
    // equality-delete sidecars follow the DV rule: any `_eq-*` no kept
    // manifest's #eqdel lines reference (materialized-and-GC'd by
    // OPTIMIZE, or orphaned by a lost commit race) is reclaimed
    val referencedEq = keptManifests.flatMap(_.eqDels).map(_.file).toSet
    val droppedEq = {
      import scala.jdk.CollectionConverters._
      val ls = Files.list(dir)
      try ls.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("_eq-") &&
          !referencedEq(p.getFileName.toString)).toSeq
      finally ls.close()
    }
    droppedEq.foreach(Files.deleteIfExists(_))
    // count ACTUAL deletions, not keepFrom: a second vacuum at the same
    // retention finds the old manifests already gone and must report 0
    val droppedManifests =
      (0 until keepFrom).filterNot(tagged)
        .count(v => Files.deleteIfExists(manifestPath(dir, v)))
    (droppedManifests, droppedFiles.size + droppedDv.size + droppedEq.size)
  }

  /** OPTIMIZE-style small-file COMPACTION — the maintenance op that keeps
    * a frequently-appended table readable: every streaming epoch and
    * small INSERT leaves one part file per writer task, and a scan plans
    * one partition per file, so a long-lived table degrades into
    * thousands of tiny reads. `compact` BIN-PACKS live files smaller than
    * `targetBytes` into groups of cumulative size ≤ `targetBytes`,
    * rewrites each ≥2-file group into ONE new part file, and publishes
    * the whole rewrite as a SINGLE manifest commit that RETIRES the
    * inputs — never deletes them, so every pre-compaction snapshot stays
    * byte-identical under time travel and a concurrent reader (planning
    * from whichever manifest it loaded) never observes a partial state:
    * the outputs are fully written and fsync-visible before the commit,
    * and the commit is the usual atomic create-new manifest.
    *
    * Zone-map stats are RECOMPUTED exactly during the rewrite (the rows
    * stream through anyway), and when the table declares `clusterBy` the
    * candidates are packed in cluster-key order (by each file's recorded
    * min of the first cluster column) so merged files remain contiguous
    * key ranges and data skipping keeps its selectivity.
    *
    * Concurrency follows the COW conflict rule: if any input file was
    * retired by a concurrent committed statement, the commit FAILS with
    * [[CommitConflictException]] (rerun compaction against the new
    * snapshot) — composing would resurrect rows the winner rewrote. The
    * orphaned output files are unreferenced and reclaimed by vacuum.
    *
    * Returns (files compacted away, files created). Generalizes the
    * reference's whole-output overwrite contract (greeter_server.cc:116)
    * to in-place maintenance: same publish-then-swap discipline, at file
    * group granularity.
    */
  /** Open codec readers + spill files of one re-cluster unit, so an IO
    * failure mid-sort/mid-merge (disk full inside a spill write, a torn
    * row mid-stream) can close every reader and delete every temp spill
    * in a `finally` — nothing leaks file handles or `graft-sortspill-*`
    * files. Readers that drain normally close themselves first; closing
    * a closed stream is a no-op.
    */
  private final class SpillTracker {
    val spills = scala.collection.mutable.ArrayBuffer.empty[Path]
    val readers = scala.collection.mutable.ArrayBuffer.empty[MemCodec.FileReader]
    def close(): Unit = {
      readers.foreach(r => try r.close() catch { case _: java.io.IOException => () })
      spills.foreach(p => try Files.deleteIfExists(p)
      catch { case _: java.io.IOException => () })
    }
  }

  /** Run `f` over `items` on a bounded pool — the wave/range parallelism
    * of the incremental re-cluster. Results keep input order; the first
    * failure propagates (unwrapped) after the pool drains.
    */
  private def inParallel[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[B] =
    if (items.size <= 1 || threads <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, items.size))
      try items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = f(a)
      })).map(fut => try fut.get() catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      })
      finally pool.shutdown()
    }

  /** Maintenance parallelism: bounded below the host's cores (OPTIMIZE
    * shares the machine with query tasks), capped at 16.
    */
  private def maintenancePoolSize: Int =
    math.min(16, math.max(1, Runtime.getRuntime.availableProcessors() - 2))

  /** OPTIMIZE / compaction / re-cluster.
    *
    * `spillRows` bounds the rows held in memory per external-sort unit
    * (the spec passes a tiny value to force multi-chunk merges — a
    * parameter, not a shared mutable knob, so concurrent compactions of
    * different tables can't race each other's memory bound). When waves
    * sort in parallel the per-wave bound divides by the pool size, so
    * total re-cluster memory stays ≤ `spillRows` rows regardless of
    * parallelism.
    *
    * `waveBytes` bounds one re-cluster WAVE's input bytes (sort-order
    * evolution only). The default (one unbounded wave) is the GLOBAL
    * re-cluster: a single external-merge-sorted run rolled into
    * target-size files — one OPTIMIZE converges. A finite `waveBytes`
    * is the INCREMENTAL path for tables whose stale tail dwarfs one
    * maintenance window: each call re-sorts bounded waves of stale files
    * into SORTED RUNS (each run = target-size files with disjoint
    * in-run key ranges, marked `#run` in the manifest stats), committed
    * per call — old snapshots intact, per-file zone maps exact
    * mid-convergence (a run file is genuinely sorted; only cross-RUN
    * ranges overlap until the merge). The NEXT call k-way-MERGES the
    * runs (no re-sort — streaming heap merge with run-ordinal
    * tie-break) back into one converged layout. Because the in-wave
    * sort is stable and the merge tie-breaks by run ordinal, the
    * converged layout is BYTE-IDENTICAL to what the global path
    * produces (MemCatalogSpec proves it file-for-file); with
    * `mergeFanout > 1` (or the auto default on an integral first
    * cluster column) the merge itself parallelizes across disjoint
    * key ranges — same row order per range, file boundaries cut at
    * range edges instead of one continuous roll.
    */
  /** `onBeforeCommit` runs after every rewrite is written but before the
    * manifest commit — the deterministic interleaving seam the conflict
    * specs inject a racing statement through (a hook parameter, not
    * shared mutable state, for the same reason `spillRows` is one).
    */
  def compact(dir: Path, targetBytes: Long = 1L << 20,
      spillRows: Int = 1 << 20, waveBytes: Long = Long.MaxValue,
      mergeFanout: Int = 0, onBeforeCommit: () => Unit = () => ()): (Int, Int) = {
    val schema = readSchema(dir)
    val props = readProps(dir)
    // the CURRENT cluster key — the sort order this OPTIMIZE re-clusters
    // into (cluster-key EVOLUTION: after ALTER TABLE changes 'clusterBy',
    // files sorted under the old key carry a stale sort@ token and become
    // rewrite candidates at any size)
    val sortKey = sortKeyOf(props)
    val declaredKeyCols = sortKey.toSeq.flatMap(_.split(",").toSeq).filter(_.nonEmpty)
    val resolvedKeyCols = declaredKeyCols.filter(schema.fieldNames.contains)
    val sortIdx: Seq[Int] = resolvedKeyCols.map(c => schema.fieldNames.indexOf(c))
    // rewritten files are stamped with the key they were ACTUALLY sorted
    // by — the RESOLVED columns only. If a declared key column is missing
    // from the current schema, stamping the full key would falsely mark
    // partially-sorted files as converged; the partial stamp keeps them
    // re-cluster candidates until the layout can genuinely satisfy the
    // declared key.
    val stampKey: Option[String] =
      if (resolvedKeyCols.isEmpty) None else Some(resolvedKeyCols.mkString(","))
    val clusterCol = sortKey.flatMap(_.split(",").headOption)
    def outOfOrder(e: FileEntry): Boolean =
      sortKey.isDefined && e.sortedBy != sortKey
    // an unmerged sorted RUN from a prior incremental re-cluster wave:
    // stats carry "#run" -> (run ordinal, file sequence within the run)
    def runTag(e: FileEntry): Option[(Long, Long)] =
      if (outOfOrder(e)) None else e.stats.get("#run")
    val live = liveEntries(dir)
    val scanEq = eqDeletes(dir)
    // a deletion-vector-carrying file is a compaction candidate at ANY
    // size (OPTIMIZE is where merge-on-read's accumulated read tax gets
    // materialized back into clean files — Iceberg's rewrite_data_files /
    // Delta's PURGE semantics); so is a file an EQUALITY DELETE still
    // applies to (rewriting it materializes the mask, and once no live
    // file is subject to a delete the commit below GCs it); so is a file
    // whose recorded sort order differs from the current cluster key
    // (sort-order evolution: OPTIMIZE is also where the table's layout
    // converges to the key), and so is an unmerged run file
    // (mid-convergence state)
    def eqApplies(e: FileEntry): Boolean = eqDeletesFor(e, scanEq).nonEmpty
    // a `promoted-*` file is a clone-promotion interim copy: OPTIMIZE
    // rewrites it at any size so the promoted clone converges to the
    // uniform part naming and vacuum reclaims the interim copy —
    // promote → OPTIMIZE → vacuum leaves no `promoted-*` residue
    def promoted(e: FileEntry): Boolean = e.name.startsWith("promoted-")
    val candidates = live.filter { e =>
      val p = dir.resolve(e.name)
      Files.exists(p) && (Files.size(p) < targetBytes || e.dv.nonEmpty ||
        eqApplies(e) || outOfOrder(e) || runTag(e).isDefined || promoted(e))
    }
    val stale = candidates.filter(outOfOrder)
    val runFiles = candidates.filter(e => runTag(e).isDefined)
    val binsInput = candidates.filterNot(e => outOfOrder(e) || runTag(e).isDefined)
    // pack in cluster-key order when the layout is value-clustered, so a
    // merged file spans one contiguous key range, not a union of islands
    def canonical(es: Seq[FileEntry]): Seq[FileEntry] = clusterCol match {
      case Some(c) if es.forall(_.stats.contains(c)) =>
        es.sortBy(e => (e.stats(c)._1, e.name))
      case _ => es.sortBy(_.name)
    }
    // PARTITION-AWARE BINNING: under a declared partition spec, a file
    // that is PURE under every transform (each `pt:` range a point) bins
    // only with files of the SAME partition tuple — merging across
    // tuples would re-widen the transform ranges a routed write
    // collapsed, demoting the file to the rollup's NULL group and
    // blunting plan-time pruning (Iceberg's rewrite_data_files groups by
    // partition for exactly this reason). Mixed/pre-routing files (no
    // point stamp) bin among themselves; tables with no spec get one
    // global group, the original behavior.
    val curSpecs = MemPart.specsOf(props, schema)
    def tupleOf(e: FileEntry): Option[Seq[Long]] =
      if (curSpecs.isEmpty) Some(Seq.empty)
      else {
        val pts = curSpecs.map(s => e.stats.get(s.statKey))
        if (pts.forall(_.exists(r => r._1 == r._2))) Some(pts.map(_.get._1))
        else None
      }
    val binGroups: Seq[Seq[FileEntry]] = canonical(binsInput)
      .groupBy(tupleOf).toSeq
      .sortBy { case (t, _) => t.map(_.mkString(",")).getOrElse("￿") }
      .map(_._2)
    // first-fit bin packing over the ordered in-order candidates,
    // restarted per partition group so no bin straddles a tuple boundary
    val bins = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[FileEntry]]
    binGroups.foreach { group =>
      var groupStart = true // force a fresh bin at each group boundary
      var binBytes = 0L
      group.foreach { e =>
        val sz = Files.size(dir.resolve(e.name))
        if (groupStart || binBytes + sz > targetBytes) {
          bins += scala.collection.mutable.ArrayBuffer(e)
          binBytes = sz
          groupStart = false
        } else {
          bins.last += e
          binBytes += sz
        }
      }
    }
    // a merge needs >=2 inputs, but a DV-carrying file is rewritable even
    // ALONE in its bin: OPTIMIZE's contract is "every vector
    // materializes", and a singleton would otherwise keep its read tax
    // forever; a promoted-* interim copy likewise converges alone
    val groups = bins.filter(b =>
      b.size >= 2 || b.exists(e => e.dv.nonEmpty || eqApplies(e) || promoted(e)))
      .map(_.toSeq).toSeq
    if (groups.isEmpty && stale.isEmpty && runFiles.isEmpty) return (0, 0)
    // write every merged output BEFORE the commit — readers can't see
    // them until the manifest does. Zone maps and bloom, NDV and
    // histogram sketches rebuild exactly during the rewrite, and the
    // hidden-partitioning transform range re-stamps under the CURRENT
    // spec (rewritten files are new files of the current layout)
    val policy = MemWritePolicy.of(props, schema)
    val pool = maintenancePoolSize
    // the group's VISIBLE rows (dv-masked rows dropped: the rewrite
    // MATERIALIZES the deletion vector, so the output carries no dv and
    // reads of the new snapshot pay zero MoR tax for this group)
    // visibility = dv positions subtracted AND applicable equality
    // deletes filtered: the rewrite MATERIALIZES both (the output file
    // carries no dv, and its fresh `#seq` — the optimize commit's
    // version — exempts it from every delete read here)
    def eqVisible(e: FileEntry): Array[Any] => Boolean =
      eqMask(schema, eqDeletesFor(e, scanEq).map(d => (d.cols, dir.resolve(d.file))))
    def readVisible(group: Seq[FileEntry]): scala.collection.mutable.ArrayBuffer[Array[Any]] = {
      val buffered = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
      group.foreach { e =>
        val masked = e.dv.fold(Set.empty[Long])(d => readDv(dir.resolve(d)))
        val visible = eqVisible(e)
        var pos = -1L
        val in = MemCodec.open(dir.resolve(e.name), schema)
        try {
          var vals = in.readRow()
          pos += 1
          while (vals != null) {
            if (!masked.contains(pos) && visible(vals)) buffered += vals
            vals = in.readRow()
            pos += 1
          }
        } finally in.close()
      }
      buffered
    }
    // lazily stream the group's VISIBLE rows (dv positions subtracted);
    // every opened reader registers with the tracker so an abandoned or
    // failed scan still closes them
    def visibleRowIter(group: Seq[FileEntry], tracker: SpillTracker): Iterator[Array[Any]] =
      group.iterator.flatMap { e =>
        val masked = e.dv.fold(Set.empty[Long])(d => readDv(dir.resolve(d)))
        val visible = eqVisible(e)
        val in = MemCodec.open(dir.resolve(e.name), schema)
        tracker.readers += in
        var pos = -1L
        Iterator.continually(in.readRow()).takeWhile { v =>
          if (v == null) in.close()
          v != null
        }.filter { v => pos += 1; !masked.contains(pos) && visible(v) }
      }
    def keyOf(v: Array[Any]): Seq[Any] = sortIdx.map(v(_))
    // k-way streaming heap merge over per-source SORTED iterators: the
    // source-ordinal tie-break keeps equal keys in source order, so
    // composing stable in-chunk sorts through this merge reproduces the
    // stable global sort BYTE-FOR-BYTE — the property both the external
    // sort's spill merge and the incremental re-cluster's run merge
    // depend on
    def kwayMerge(iters: Seq[Iterator[Array[Any]]]): Iterator[Array[Any]] = {
      implicit val heapOrd: Ordering[(Array[Any], Int)] =
        Ordering.Tuple2(SortKeyOrdering.on[Array[Any]](keyOf), Ordering.Int).reverse
      val heap = scala.collection.mutable.PriorityQueue.empty[(Array[Any], Int)]
      iters.zipWithIndex.foreach { case (it, i) =>
        if (it.hasNext) heap.enqueue((it.next(), i))
      }
      new Iterator[Array[Any]] {
        override def hasNext: Boolean = heap.nonEmpty
        override def next(): Array[Any] = {
          val (v, i) = heap.dequeue()
          if (iters(i).hasNext) heap.enqueue((iters(i).next(), i))
          v
        }
      }
    }
    // EXTERNAL MERGE SORT over one re-cluster unit's rows — the rewrite
    // must not assume its input fits in memory: rows stream into sorted
    // spill chunks of ≤ chunkRows (the stable in-chunk sort + chunk-index
    // tie-break reproduce the in-memory stable sort), and a k-way heap
    // merge streams them back out. ≤ 1 chunk short-circuits to the plain
    // in-memory path. Spills live in the system temp dir (never the
    // table dir — nothing there may look like a part file), are deleted
    // as each drains, and the TRACKER deletes whatever a mid-merge IO
    // failure leaves behind.
    def externalSorted(rows: Iterator[Array[Any]], tracker: SpillTracker,
        chunkRows: Int): Iterator[Array[Any]] = {
      def writeSpill(chunk: scala.collection.mutable.ArrayBuffer[Array[Any]]): Unit = {
        val f = Files.createTempFile("graft-sortspill-", ".bin")
        tracker.spills += f // registered before writing: a failed write still deletes
        val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          Files.newOutputStream(f)))
        try {
          MemCodec.writeHeader(out, schema)
          chunk.foreach(v => MemCodec.writeRow(out, InternalRow.fromSeq(v.toSeq), schema))
        } finally out.close()
      }
      var chunk = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
      rows.foreach { v =>
        chunk += v
        if (chunk.size >= chunkRows) {
          writeSpill(chunk.sortBy(keyOf)(SortKeyOrdering))
          chunk = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
        }
      }
      val lastSorted = chunk.sortBy(keyOf)(SortKeyOrdering)
      if (tracker.spills.isEmpty) lastSorted.iterator
      else {
        if (lastSorted.nonEmpty) writeSpill(lastSorted)
        kwayMerge(tracker.spills.toSeq.map { f =>
          val in = MemCodec.open(f, schema)
          tracker.readers += in
          Iterator.continually(in.readRow()).takeWhile { v =>
            if (v == null) { in.close(); Files.deleteIfExists(f) } // drained: reclaim now
            v != null
          }
        })
      }
    }
    // write an ordered row run into one file, or — when `roll` — into a
    // chain of ≈targetBytes files (the rolling split that turns a
    // re-cluster sort back into target-sized, disjoint-key-range files).
    // `runId` marks the outputs as one UNMERGED SORTED RUN of the
    // incremental re-cluster ("#run" -> (run ordinal, file sequence)):
    // sorted and exactly-stat'd like any file, but overlapping other
    // runs' key ranges until the merge pass retires the marker.
    // `rollBytes` is the roll threshold: runs roll FINER than the final
    // target so each run lands as several disjoint-range files and the
    // range-parallel merge can prune to the files overlapping its range
    // instead of decoding every run in every range.
    def writeRun(rows: Iterator[Array[Any]], roll: Boolean,
        runId: Option[Long] = None, rollBytes: Long = targetBytes): Seq[FileEntry] = {
      val outs = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
      def open() = new MemFileWriter(Files.createTempFile(dir, "part-opt-", ".bin"), schema, policy)
      // stamped with the RESOLVED key only (stampKey): a file can't
      // honestly claim an order over columns the schema no longer has
      def close(w: MemFileWriter): Unit = w.finish().foreach { e =>
        outs += e.copy(sortedBy = stampKey,
          stats = e.stats ++ runId.map(r => "#run" -> (r, outs.size.toLong)))
      }
      var w = open()
      rows.foreach { vals =>
        w.write(InternalRow.fromSeq(vals.toSeq))
        if (roll && w.bytes >= rollBytes) { close(w); w = open() }
      }
      close(w)
      outs.toSeq
    }
    def sorted(rows: scala.collection.mutable.ArrayBuffer[Array[Any]]) =
      if (sortIdx.isEmpty) rows
      else rows.sortBy(v => sortIdx.map(v(_)))(SortKeyOrdering)

    // ---- phase 1 of the re-cluster: SORT the stale tail, in WAVES ----
    // Sort-order evolution cannot re-cluster bin-locally (every merged
    // file would still span the full new-key range), so stale files sort
    // as whole RUNS. With the default unbounded waveBytes that is ONE
    // external-sorted run rolled straight into converged files (the
    // global path — one OPTIMIZE call converges). With a finite
    // waveBytes, the stale tail splits into bounded waves that sort IN
    // PARALLEL, each publishing one `#run`-marked sorted run; the merge
    // phase below converges them on the NEXT call. Bin groups stay on
    // the in-memory sort: a bin is ≤ targetBytes by construction.
    val staleRewrites: Seq[(Seq[String], Seq[FileEntry])] =
      if (stale.isEmpty || sortIdx.isEmpty) Seq.empty
      else {
        val orderedStale = canonical(stale)
        val waves = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer.empty[FileEntry])
        var wb = 0L
        orderedStale.foreach { e =>
          val sz = Files.size(dir.resolve(e.name))
          if (waves.last.nonEmpty && wb + sz > waveBytes) {
            waves += scala.collection.mutable.ArrayBuffer(e)
            wb = sz
          } else { waves.last += e; wb += sz }
        }
        val single = waves.size == 1
        // run ordinals continue past any live run's (a second evolution
        // mid-convergence restales old runs; their replacements must not
        // collide with surviving ordinals)
        val runBase = live.flatMap(_.stats.get("#run")).map(_._1)
          .foldLeft(-1L)(math.max) + 1L
        // parallel waves split the memory bound, so total in-flight rows
        // stay ≤ spillRows no matter the pool size
        val chunkRows =
          if (single) spillRows
          else math.max(1024, spillRows / math.min(pool, waves.size))
        // multi-wave runs roll FINER than the final target (÷pool) so
        // their files carry narrow key ranges the range-parallel merge
        // can prune on; the single-wave global path keeps the exact
        // target roll (it IS the converged layout)
        val runRoll = if (single) targetBytes
          else math.max(4096L, targetBytes / pool)
        inParallel(waves.toSeq.map(_.toSeq).zipWithIndex, pool) { case (wave, i) =>
          val tr = new SpillTracker
          try (wave.map(_.name),
            writeRun(externalSorted(visibleRowIter(wave, tr), tr, chunkRows),
              roll = true, runId = if (single) None else Some(runBase + i),
              rollBytes = runRoll))
          finally tr.close()
        }
      }

    // ---- phase 2: MERGE the sorted runs back into one layout ----
    // Runs only merge once no stale file remains (a wave pass and a
    // merge pass never share a commit — each call does bounded work).
    // A single surviving run IS the global sort already: its marker
    // strips metadata-only, zero bytes rewritten. Multiple runs stream
    // through the k-way heap merge — no re-sort, memory O(#runs) rows —
    // rolled back into target-size files; with fanout > 1 the key
    // domain splits at run-file zone-map boundaries and the disjoint
    // ranges merge in parallel (each range reads only the run files
    // overlapping it).
    val (mergeRewrites, stripMarkers): (Seq[(Seq[String], Seq[FileEntry])], Set[String]) =
      if (stale.nonEmpty || runFiles.isEmpty || sortIdx.isEmpty) (Seq.empty, Set.empty)
      else {
        val runsOrdered: Seq[Seq[FileEntry]] = runFiles
          .groupBy(e => runTag(e).get._1).toSeq.sortBy(_._1)
          .map(_._2.sortBy(e => runTag(e).get._2))
        if (runsOrdered.size == 1) (Seq.empty, runFiles.map(_.name).toSet)
        else {
          val firstIdx = sortIdx.head
          val firstIntegral = schema.fields(firstIdx).dataType == LongType ||
            schema.fields(firstIdx).dataType == IntegerType
          val firstColName = schema.fieldNames(firstIdx)
          val allHaveStats = firstIntegral &&
            runFiles.forall(_.stats.contains(firstColName))
          val fan = if (mergeFanout > 0) mergeFanout
            else if (allHaveStats) pool else 1
          def firstVal(v: Array[Any]): Long = v(firstIdx) match {
            case l: java.lang.Long => l.longValue()
            case n: java.lang.Integer => n.toLong
            case _ => Long.MinValue // nulls sort first → lowest range
          }
          // EVEN VALUE cuts over the observed key domain (file lo/hi
          // bounds alone collapse to nothing in the typical
          // post-evolution state, where every run spans the full
          // range). Value-based, so equal first-key rows land in ONE
          // range and the per-range merges stay independently stable;
          // a skewed domain merely unbalances ranges, never correctness.
          val cuts: Seq[Long] =
            if (fan <= 1 || !allHaveStats) Seq.empty
            else {
              val domLo = runFiles.map(_.stats(firstColName)._1).min
              val domHi = runFiles.map(_.stats(firstColName)._2).max
              val span = domHi.toDouble - domLo.toDouble
              (1 until fan).map(j => domLo + math.round(span * j / fan))
                .filter(c => c > domLo && c <= domHi).distinct.sorted
            }
          val ranges: Seq[(Option[Long], Option[Long])] =
            ((None +: cuts.map(Some(_))) zip (cuts.map(Some(_)) :+ None))
          val outs = inParallel(ranges, pool) { case (rlo, rhi) =>
            val tr = new SpillTracker
            try {
              val perRun = runsOrdered.map { run =>
                val overlapping = run.filter { e =>
                  val (flo, fhi) = e.stats.getOrElse(firstColName,
                    (Long.MinValue, Long.MaxValue))
                  rlo.forall(fhi >= _) && rhi.forall(flo < _)
                }
                visibleRowIter(overlapping, tr).filter { v =>
                  val x = firstVal(v)
                  rlo.forall(x >= _) && rhi.forall(x < _)
                }
              }
              writeRun(kwayMerge(perRun), roll = true)
            } finally tr.close()
          }.flatten
          (Seq((runFiles.map(_.name), outs)), Set.empty[String])
        }
      }

    val binRewrites: Seq[(Seq[String], Seq[FileEntry])] =
      groups.map(group =>
        (group.map(_.name), writeRun(sorted(readVisible(group)).iterator, roll = false)))
    val rewrites = staleRewrites ++ mergeRewrites ++ binRewrites
    val retired = rewrites.flatMap(_._1).toSet
    if (retired.isEmpty && stripMarkers.isEmpty) return (0, 0)
    // conflict unit is (name, dv) — a concurrent MoR delete that composed
    // a NEW deletion vector onto an input invalidates our rewrite too
    // (we materialized the OLD vector; committing would resurrect the
    // newly-deleted rows)
    val inputDv: Map[String, Option[String]] =
      (groups.flatten ++ stale ++ runFiles).map(e => e.name -> e.dv).toMap
    onBeforeCommit()
    commitManifestEq(dir, "optimize") { (current, curEq, v) =>
      val liveByName = current.map(e => e.name -> e.dv).toMap
      val gone = retired.filter(n => !liveByName.get(n).contains(inputDv(n))).toSeq.sorted
      if (gone.nonEmpty) throw new CommitConflictException(
        s"graft mem catalog: compaction conflict — input file(s) " +
          s"${gone.mkString(", ")} were rewritten by a concurrent committed " +
          "statement; rerun OPTIMIZE against the new snapshot")
      // conflict unit extends to (name, dv, equality deletes): an
      // equality delete committed AFTER our scan has a sequence newer
      // than every input — our rewrite read rows it masks, and the
      // output's fresh #seq would exempt them from it (resurrection).
      // The loser fails; rerunning materializes the new delete too.
      val freshEq = curEq.filterNot(d => scanEq.exists(_.file == d.file))
      if (freshEq.nonEmpty) throw new CommitConflictException(
        s"graft mem catalog: compaction conflict — equality delete(s) " +
          s"${freshEq.map(_.file).mkString(", ")} committed after the " +
          "compaction scan; rerun OPTIMIZE against the new snapshot")
      val nextFiles = current.flatMap { e =>
        if (retired(e.name)) None
        // the single-run marker strip keeps the entry (and any dv a
        // concurrent MoR delete composed meanwhile) — metadata-only
        else if (stripMarkers(e.name)) Some(e.copy(stats = e.stats - "#run"))
        else Some(e)
      } ++ rewrites.flatMap(_._2)
      // GC: a delete no remaining live file is subject to has been fully
      // materialized — drop its manifest line (vacuum reclaims the
      // sidecar once no retained snapshot references it). Rewrites are
      // stamped #seq = v after this fn returns, so they count as v here.
      val curNames = current.map(_.name).toSet
      def effSeq(e: FileEntry): Long =
        if (e.stats.contains("#seq")) seqOf(e)
        else if (curNames(e.name)) 0L else v.toLong
      val keptEq = curEq.filter(d => nextFiles.exists(e => effSeq(e) < d.seq))
      (nextFiles, keptEq)
    }
    (retired.size, rewrites.map(_._2.size).sum)
  }

  /** ROLLBACK to a retained snapshot (Iceberg's `rollback_to_snapshot`,
    * the undo verb of write-audit-publish): publish a NEW snapshot whose
    * live set is exactly version `toVersion`'s — history is never
    * rewritten (the rolled-back commits stay time-travelable; audit
    * trails don't get edited), the bad commits' files merely stop being
    * live, and vacuum reclaims them once retention passes. Unlike the
    * ordinary commit loop, rollback must NOT retry-compose: its update
    * is not a function of the live set (it REPLACES it), so a concurrent
    * commit racing the rollback would be silently dropped by a retry —
    * instead the version slot is attempted ONCE and a lost race throws
    * [[CommitConflictException]] (re-audit against the new head, the
    * Iceberg ref-update semantic).
    *
    * STREAMING TXN WATERMARKS carry forward from the rolled-back HEAD,
    * deliberately: an epoch whose data the rollback removed stays marked
    * committed, so a recovering streaming writer replaying that epoch
    * publishes NOTHING — rolled-back data stays rolled back (Delta
    * RESTORE's duplicate-prevention semantic). The alternative (merging
    * the TARGET version's watermarks so replays re-append) would let a
    * driver recovery silently undo the rollback's audit decision; a
    * stream that should re-deliver restarts from a retained
    * startingVersion instead. Returns the new head version.
    */
  def rollback(dir: Path, toVersion: Int): Int = {
    require(Files.exists(manifestPath(dir, toVersion)),
      s"graft mem catalog: cannot roll back to version $toVersion — " +
        "no such retained snapshot (vacuumed or never committed)")
    val cur = currentVersion(dir)
    require(toVersion <= cur,
      s"graft mem catalog: cannot roll back to future version $toVersion (head is $cur)")
    val m = readManifestFull(dir, cur)
    // the live set AND the equality-delete set restore to the target's:
    // an eq-delete added by a rolled-back commit was part of the bad
    // change, and one the target already had must keep masking
    val target = readManifestFull(dir, toVersion)
    try {
      writeManifest(dir, cur + 1, target.files, m.txns, "rollback", target.eqDels)
      cur + 1
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"graft mem catalog: rollback conflict — the table advanced past " +
            s"v$cur during the rollback; re-audit against the new head")
    }
  }

  /** Publish the next snapshot: read the current live set, apply
    * `update`, attempt `_v<cur+1>`; if a concurrent commit claimed that
    * number first, re-read and retry — each committer's update is a pure
    * function of the live set (appends add their own files, DML retires
    * the files its scan planned), so the retry composes both edits.
    */
  def commitManifest(dir: Path, op: String = "")(
      update: Seq[FileEntry] => Seq[FileEntry]): Int =
    commitManifestEq(dir, op) { (files, eq, _) => (update(files), eq) }

  /** The optimistic commit loop every commit runs through. Each attempt
    * reads the head — main's `_v<N>`, or with `branch` that branch's
    * `_bv<K>-<name>` chain — hands `update` (live files, current equality
    * deletes, the sequence this attempt would publish at) and publishes
    * the result create-new in the next slot; a lost race re-reads and
    * retries. Equality deletes carry forward by default
    * ([[commitManifest]]) and are edited only by the eq-delete writers
    * and OPTIMIZE. Every NEW entry (name absent from the head, no `#seq`
    * stat yet) is stamped `#seq` = the sequence — the Iceberg
    * data-sequence-number that scopes equality deletes to strictly-older
    * data. On main the sequence is the published version; on a branch it
    * is base + K: strictly newer than every sequence the forked eq-delete
    * set can carry (all ≤ base), and re-stamped to the published main
    * version at [[fastForward]]. Stamping re-runs per retry attempt so
    * the recorded sequence always matches the slot actually won.
    *
    * `epoch` = (queryId, epochId) makes this a streaming epoch's commit:
    * when the head's `queryId` txn watermark already covers the epoch, the
    * engine is replaying a committed batch after a driver failure and the
    * call publishes nothing (exactly-once); otherwise the watermark
    * advances in the same commit. Main commits publish through
    * [[writeManifest]], so commit hooks fire; branch commits do not.
    * Returns the published version (branch: ordinal K), or -1 for a
    * replayed epoch.
    */
  def commitManifestEq(dir: Path, op: String = "", branch: Option[String] = None,
      epoch: Option[(String, Long)] = None)(
      update: (Seq[FileEntry], Seq[EqDelete], Long) => (Seq[FileEntry], Seq[EqDelete])): Int = {
    val base = branch.fold(0)(branchBase(dir, _))
    while (true) {
      val (head, m) = branch match {
        case Some(b) =>
          val k = branchHead(dir, b)
          require(k >= 0, s"graft mem catalog: no branch '$b' on $dir")
          (k, readManifestPath(branchManifestPath(dir, b, k)))
        case None =>
          val cur = currentVersion(dir)
          (cur, if (cur >= 0) readManifestFull(dir, cur) else Manifest(0L,
            partFiles(dir).map(p => FileEntry(p.getFileName.toString, Map.empty)), Map.empty))
      }
      if (epoch.exists { case (q, e) => m.txns.getOrElse(q, -1L) >= e }) return -1
      val seq = (base + head + 1).toLong
      val (files, eq) = update(m.files, m.eqDels, seq)
      val prior = m.files.map(_.name).toSet
      val next = files.distinctBy(_.name).map { e =>
        if (!prior(e.name) && !e.stats.contains("#seq"))
          e.copy(stats = e.stats + ("#seq" -> (seq, seq)))
        else e
      }
      val txns = m.txns ++ epoch // watermarks carry forward
      try {
        branch match {
          case Some(b) =>
            publishManifestAt(dir, branchManifestPath(dir, b, head + 1), next, txns, op, eq)
          case None => writeManifest(dir, head + 1, next, txns, op, eq)
        }
        return head + 1
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => // lost the race; retry
      }
    }
    -1 // unreachable
  }

  /** One streaming epoch's commit: append `fresh` and record the epoch
    * watermark for `queryId`; a replayed epoch commits nothing.
    * Returns true iff this call published.
    */
  def commitStreamingEpoch(dir: Path, queryId: String, epochId: Long,
      fresh: Seq[FileEntry]): Boolean =
    commitManifestEq(dir, "streaming-append", epoch = Some(queryId -> epochId)) {
      (files, eq, _) => (files ++ fresh, eq)
    } >= 0

  /** One CDC-APPLY epoch's commit on the TARGET table, on main or on the
    * `branch` given: append the epoch's insert part files AND the epoch's
    * equality delete in ONE manifest commit (the delete's sequence = the
    * commit's, so it masks strictly-older data while the same epoch's
    * inserts — whose `#seq` stamps to the same sequence — survive it:
    * within-epoch upserts work, reinserts after an earlier epoch's delete
    * work). Replay-idempotent exactly like [[commitStreamingEpoch]]: the
    * `queryId -> epochId` txn watermark makes a recovering driver's
    * re-commit a no-op. On a branch — the write-audit-publish shape for
    * CDC ingestion (Iceberg's `spark.wap.branch` applied to a changelog
    * pipeline) — epochs land on an UNPUBLISHED audit chain that main
    * readers never see, [[fastForward]] publishes the audited result in
    * one commit (converting the branch-born eq-deletes to positional
    * vectors, so main's sequencing invariant survives), and idempotence
    * is BRANCH-LOCAL: the watermark rides the branch chain, while the
    * fork-point watermarks inherited from main keep a pre-existing main
    * pipeline's replays correct too. Returns true iff this call published.
    */
  def commitStreamingEpochCdc(dir: Path, branch: Option[String], queryId: String,
      epochId: Long, fresh: Seq[FileEntry], eqCols: Seq[String],
      delFile: Option[String]): Boolean =
    commitManifestEq(dir, "streaming-cdc-apply", branch, Some(queryId -> epochId)) {
      (files, eq, seq) => (files ++ fresh, eq ++ delFile.map(EqDelete(seq, eqCols, _)))
    } >= 0

  /** SHALLOW CLONE — Delta's `CREATE TABLE ... SHALLOW CLONE`: a new
    * table whose v0 manifest REFERENCES the source's live files by
    * absolute path — zero data bytes copied, O(live files) manifest work
    * at any table size. Entry names resolve through the same
    * `dir.resolve(name)` seam every reader/DML/compaction uses (an
    * absolute path resolves to itself), so the clone reads, updates
    * (COW retires references, writes its own files), compacts and
    * vacuums like any table; clone-local vacuum only ever deletes files
    * under the clone's own dir, so the source is untouchable from the
    * clone. Divergence is two-way by construction: the clone pins the
    * source's FILE LIST (not its manifest), so later source commits
    * never appear in the clone and vice versa. Caveats, both Delta's own:
    * vacuuming the SOURCE can reclaim files a shallow clone still
    * references (documented, not prevented — track clones operationally);
    * and a source with PENDING equality deletes refuses to clone
    * (eq-delete sequences are sequence-scoped and cannot survive the
    * re-stamp — OPTIMIZE the source first; positional vectors ride along
    * fine). Cloned entries re-stamp `#seq` to 0 so the clone's own
    * sequencing invariant (#seq == committing version) starts clean.
    */
  def cloneTable(src: Path, dst: Path): Unit = {
    require(Files.exists(src.resolve("_schema.json")),
      s"graft mem catalog: clone source $src does not exist")
    val m = readManifestFull(src, currentVersion(src))
    require(m.eqDels.isEmpty,
      "graft mem catalog: cannot shallow-clone a table with pending " +
        "equality deletes — run OPTIMIZE on the source first (compact " +
        "materializes them; eq-delete sequences do not survive re-stamping)")
    Files.createDirectories(dst)
    Files.copy(src.resolve("_schema.json"), dst.resolve("_schema.json"),
      StandardCopyOption.REPLACE_EXISTING)
    // the field-id watermark travels with the schema: without it a later
    // ADD on the clone could reuse an id the SOURCE's history dropped,
    // and the clone's shared files would resurface those bytes
    if (Files.exists(src.resolve("_fieldid")))
      Files.copy(src.resolve("_fieldid"), dst.resolve("_fieldid"),
        StandardCopyOption.REPLACE_EXISTING)
    if (Files.exists(src.resolve("_props")))
      Files.copy(src.resolve("_props"), dst.resolve("_props"),
        StandardCopyOption.REPLACE_EXISTING)
    val entries = m.files.map { e =>
      e.copy(name = src.resolve(e.name).toAbsolutePath.toString,
        dv = e.dv.map(d => src.resolve(d).toAbsolutePath.toString),
        stats = e.stats + ("#seq" -> (0L, 0L)))
    }
    writeManifest(dst, 0, entries, op = "clone")
  }

  /** PROMOTE a shallow clone to a SELF-CONTAINED table: copy every
    * still-referenced absolute-path file (and its deletion vector) into
    * the clone's own dir and commit a manifest that references the local
    * copies — cutting the source dependency and with it the documented
    * source-vacuum caveat. Delta's `CLONE` deep/shallow distinction as a
    * LAZY upgrade: start zero-copy, promote only if the clone outlives
    * the experiment. Cost is O(still-referenced bytes) — references the
    * clone's own DML already retired cost nothing, so promoting late is
    * cheaper than cloning deep early. Copies land under fresh local
    * names BEFORE the commit; a lost commit race retries against the new
    * live set (already-local entries pass through unchanged), and
    * orphaned copies from an abandoned attempt are ordinary
    * vacuum-reclaimable unreferenced files. Returns the number of
    * entries localized.
    */
  def promoteClone(dir: Path): Int = {
    // Copy through a unique temp name and ATOMIC_MOVE into the final one:
    // a crash mid-copy leaves only a temp (vacuum-reclaimable garbage), so a
    // file under the final name is always COMPLETE — the `exists` skip on a
    // retried promote can never adopt a truncated copy.
    def copyAtomic(src: Path, finalName: String): Unit = {
      val dst = dir.resolve(finalName)
      if (!Files.exists(dst)) {
        val tmp = Files.createTempFile(dir, finalName + ".", ".copytmp")
        try {
          Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
          try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: FileAlreadyExistsException => Files.deleteIfExists(tmp) }
        } finally Files.deleteIfExists(tmp)
      }
    }
    var localized = 0
    commitManifest(dir, "promote") { live =>
      localized = 0
      live.map { e =>
        if (!Paths.get(e.name).isAbsolute) e
        else {
          localized += 1
          val localName = "promoted-" + Integer.toHexString(e.name.hashCode) +
            "-" + Paths.get(e.name).getFileName.toString
          copyAtomic(Paths.get(e.name), localName)
          val dvLocal = e.dv.map { d =>
            if (!Paths.get(d).isAbsolute) d
            else {
              val dn = "promoted-dv-" + Integer.toHexString(d.hashCode) +
                "-" + Paths.get(d).getFileName.toString
              copyAtomic(Paths.get(d), dn)
              dn
            }
          }
          e.copy(name = localName, dv = dvLocal)
        }
      }
    }
    localized
  }

  /** RETENTION EXPIRY for append-only tables (changelog landings, raw
    * event feeds): retire every live file whose data sequence predates
    * `version` in ONE metadata-only commit — the Kafka-retention shape
    * on the commit log, and the missing reclamation story for
    * append-only tables (they never retire files, so plain vacuum can
    * reclaim nothing). No data file is read or written; expired
    * snapshots stay time-travelable until vacuum drops their manifests,
    * at which point the retired files become unreferenced and are
    * reclaimed. O(live files) manifest work at any data size.
    */
  def expireBefore(dir: Path, version: Long): Int =
    commitManifestEq(dir, s"expire-before-$version") { (files, eq, _) =>
      (files.filter(e => seqOf(e) >= version), eq)
    }

  /** The table's commit history — (version, operation, live-file count)
    * per retained snapshot, oldest first: the `DESCRIBE HISTORY` surface
    * Delta/Iceberg users audit a table with, read straight from the
    * manifest log (the op is what each committing statement recorded).
    * Vacuumed versions are absent — history is exactly what time travel
    * can still reach. O(#versions) driver-side manifest reads, the same
    * cost as a Delta history listing.
    */
  def history(dir: Path): Seq[(Int, String, Int)] =
    (0 to currentVersion(dir)).flatMap { v =>
      if (!Files.exists(manifestPath(dir, v))) None
      else {
        val m = readManifestFull(dir, v)
        Some((v, m.op, m.files.size))
      }
    }

  private[v2] def checkSupported(schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        // TIMESTAMP rides as epoch MICROS in a Long (InternalRow's own
        // representation): codec, zone maps, pruning and transforms all
        // see a monotone integral — the session is pinned to UTC
        // DATE rides as its InternalRow epoch-DAY Int, same integral
        // story as TIMESTAMP's micros
        case LongType | IntegerType | DoubleType | BooleanType | StringType
          | TimestampType | DateType => ()
        // native vector columns (embeddings, PQ codes): the live ANN
        // pipeline's tables stop round-tripping through STRING
        case ArrayType(LongType, _) => ()
        case other => throw new UnsupportedOperationException(
          s"graft mem catalog: unsupported column type ${other.simpleString}")
      }
    }
}

/** Staged CTAS/RTAS table: writers fill the staging dir; commit publishes
  * it atomically (replace keeps the old directory readable until the
  * swap); abort deletes the staging dir and nothing else.
  */
private[v2] class StagedMemTable(ident: String, staging: Path, target: Path,
    tblSchema: StructType) extends StagedTable with SupportsWrite {
  MemCatalog.checkSupported(tblSchema)

  override def name(): String = s"graft_mem_staged($ident)"
  override def schema(): StructType = tblSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      // RTAS plans a truncate-write on the staged table; the staging dir
      // is born empty, so truncation is the identity here
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
        import org.apache.spark.sql.connector.expressions.Expressions
        private val stagedProps = MemCatalog.readProps(staging)
        // CTAS honors 'graft.partitionRoute' exactly like the INSERT and
        // streaming paths (same mutual-exclusion and spec-presence
        // checks): a routed CREATE TABLE ... AS SELECT is born with
        // partition-pure files, not a layout that silently differs from
        // every later INSERT into the same table
        private val routeSpecs: Seq[MemPart.Spec] =
          if (stagedProps.get("graft.partitionRoute").contains("true")) {
            require(!stagedProps.contains("clusterBy"),
              "graft mem catalog: partitionRoute and clusterBy are mutually " +
                "exclusive write layouts — pick one")
            val s = MemPart.specsOf(stagedProps, tblSchema)
            require(s.nonEmpty,
              "graft mem catalog: partitionRoute requires a 'graft.partition' spec")
            s
          } else Seq.empty
        override def requiredDistribution(): Distribution =
          if (routeSpecs.isEmpty) Distributions.unspecified()
          else Distributions.clustered(routeSpecs.map(MemPart.routeExpr).toArray)
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] = Array.empty
        // clusterParts only rides a ROUTED distribution here: with the
        // unspecified distribution Spark (rightly) refuses a pinned
        // partition count (INVALID_WRITE_DISTRIBUTION)
        override def requiredNumPartitions(): Int =
          if (routeSpecs.isEmpty) 0
          else stagedProps.get("clusterParts").map(_.toInt).getOrElse(0)
        // staged writers write straight into the (invisible) staging dir;
        // the whole-directory publish IS the commit. CTAS constraints
        // (props already staged) gate the very first rows too. Staged
        // CTAS writes don't request an ordering, so no sort stamp (the
        // first OPTIMIZE re-clusters); partition stamps apply.
        override def toBatch: BatchWrite = new MemBatchWrite(staging, tblSchema,
          inflight = None, MemWritePolicy.of(stagedProps, tblSchema),
          route = routeSpecs.nonEmpty)
      }
    }

  override def commitStagedChanges(): Unit = {
    // CTAS/RTAS output is a NEW id space (the query schema may carry
    // source-table ids through the plan — scrub, then stamp 1..n in the
    // same column order the staged writers used positionally)
    MemCatalog.writeSchema(staging, MemSchema.scrubIds(tblSchema))
    // snapshot v0 = the staged content: CTAS/RTAS starts (or restarts)
    // the table's time-travel history at its published state; per-file
    // stats come from the write's sidecar (absent for an empty CTAS)
    val statsFile = staging.resolve("_stats")
    val byName: Map[String, MemCatalog.FileEntry] =
      if (!Files.exists(statsFile)) Map.empty
      else new String(Files.readAllBytes(statsFile), "UTF-8").split("\n")
        .filter(_.nonEmpty).map(MemCatalog.FileEntry.parse).map(e => e.name -> e).toMap
    Files.deleteIfExists(statsFile)
    MemCatalog.writeManifest(staging, 0,
      MemCatalog.partFiles(staging).map { p =>
        val n = p.getFileName.toString
        byName.getOrElse(n, MemCatalog.FileEntry(n, Map.empty))
      }, op = "create")
    if (Files.exists(target)) {
      // commit-in-progress marker: created (fresh mtime) BEFORE the target
      // is vacated, deleted right after the staging dir takes its place —
      // a concurrent loadTable seeing a fresh marker knows the absent
      // target is a live publish, not a crash, and must NOT restore the
      // .old- sibling out from under this commit's second rename
      val marker = MemCatalog.publishMarkerPath(
        target.getParent, target.getFileName.toString)
      Files.write(marker, Array.emptyByteArray)
      val old = target.resolveSibling(
        target.getFileName.toString + ".old-" + java.util.UUID.randomUUID())
      Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      Files.deleteIfExists(marker)
      MemCatalog.deleteRecursively(old)
    } else {
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  override def abortStagedChanges(): Unit = MemCatalog.deleteRecursively(staging)
}

/** A committed table: readable (one partition per part file, columns
  * pruned at decode), appendable (INSERT INTO stages under its own
  * `_inflight-<queryId>` and moves in at driver commit), and filter-DELETABLE
  * (`SupportsDeleteV2`): `DELETE FROM t WHERE ...` rewrites each part
  * file copy-on-write, keeping only non-matching rows, and swaps files
  * atomically — the file-granularity COW the lakehouse formats use for
  * DML. Only conjunctions of `=` / `IN` / null-tests are accepted
  * (`canDeleteWhere`); anything else makes Spark fail the statement
  * rather than silently delete the wrong rows.
  */
/** `branch`: a BRANCH-PINNED table handle — resolved from the Iceberg
  * identifier convention `<table>.branch_<name>` — whose reads AND
  * writes (appends and MoR row-level DML) target the branch's manifest
  * chain instead of main. This is what upgrades write-audit-publish
  * from append-only staging to full CHANGE staging: a DELETE/UPDATE/
  * MERGE composed on the branch is invisible to main readers until
  * `fastForward` publishes the audited head (which carries the branch's
  * deletion vectors and retirements — main must still be at the
  * branch's base, so no concurrent edit can be silently dropped).
  */
private[v2] class MemTable(ident: String, dir: Path, tblSchema: StructType,
    pinned: Option[Int] = None, props: Map[String, String] = Map.empty,
    branch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with SupportsRowLevelOperations {
  MemCatalog.checkSupported(tblSchema)

  /** SQL UPDATE / MERGE INTO / predicate-DELETE through the
    * `SupportsRowLevelOperations` SPI — GROUP-BASED copy-on-write at
    * FILE granularity, the same rewrite contract Iceberg's COW mode
    * implements. Spark rewrites the DML into a `ReplaceData` plan: a COW
    * scan reads the affected groups (here: part files), the query
    * computes each group's full post-image (updated + untouched rows —
    * group-based means whole groups are written back, never row deltas),
    * and the write's driver commit swaps exactly the scanned files for
    * the new ones. Which files count as "affected" is decided at RUNTIME:
    * the COW scan advertises `_file` for runtime group filtering, so
    * Spark plans a `SELECT DISTINCT _file WHERE <cond>` subquery and
    * hands the surviving file set to the scan — files with no matching
    * row are never read and never rewritten (the 100 TB posture: an
    * UPDATE touching one band rewrites that band's files, not the
    * table). Simple exact-match DELETEs still take the cheaper
    * metadata-only `deleteWhere` path (`OptimizeMetadataOnlyDelete`).
    */
  /** `TBLPROPERTIES ('graft.dml'='mor')` flips this table's row-level
    * DML from group-based copy-on-write to merge-on-read deletion
    * vectors ([[MemMorOperation]]) — per-table, the way Iceberg's
    * `write.delete.mode` / Delta's deletion-vector flag choose.
    */
  private def morMode: Boolean =
    props.get("graft.dml").exists(_.equalsIgnoreCase("mor"))

  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (morMode) new MemMorOperation(info.command(), dir, tblSchema, branch)
        else {
          // COW on a branch would have to rewrite whole file groups on
          // the branch chain — possible, but MoR deltas are the honest
          // branch-staging shape (a branch exists to stage CHANGES, not
          // rewrites); refuse rather than half-support it
          require(branch.isEmpty,
            "graft mem catalog: row-level DML on a branch requires " +
              "TBLPROPERTIES ('graft.dml'='mor') — copy-on-write branch " +
              "staging is not supported")
          new MemRowLevelOperation(info.command(), dir, tblSchema)
        }
    }

  override def name(): String =
    s"graft_mem($ident${pinned.fold("")(v => s"@v$v")}" +
      s"${branch.fold("")(b => s"@branch=$b")})"
  override def schema(): StructType = tblSchema
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    props.foreach { case (k, v) => m.put(k, v) }
    m
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  /** `_file` METADATA COLUMN (`SupportsMetadataColumns`) — row provenance
    * at the connector level, the `_metadata.file_path` analog: queries
    * select it on demand (`SELECT *, _file`), it costs nothing when
    * unselected (pruned like any column), and DELETE's copy-on-write
    * naturally rewrites it. Audit/debug surface every lakehouse table
    * format exposes.
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "part file this row was read from"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        // base-file ROW POSITION — with `_file` it forms the row ID the
        // merge-on-read row-level operation hands its delta writers
        // (Iceberg's (file, pos) positional-delete identity); stable by
        // construction because committed part files are immutable
        override def name(): String = "_pos"
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "row position within its base part file (-1 in net change-feed batches)"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_change_type"
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "insert|delete (change-feed stream); insert on snapshot reads"
      })

  /** `TBLPROPERTIES ('graft.eqDeleteKeys'='k[,k2...]')` (MoR tables
    * only): a DELETE whose predicate is pure equality on exactly these
    * key columns commits as an EQUALITY DELETE — one sidecar of deleted
    * key tuples plus a manifest line, ZERO base-file reads at write
    * time. Readers drop matching rows of strictly-older files at scan
    * time (sequence-scoped, so re-inserting a deleted key after the
    * delete survives it), and OPTIMIZE materializes + GCs the delete.
    * Iceberg v2 equality delete files — the write path CDC/upsert
    * ingestion needs, where reading the base table per delete batch
    * would cost O(table) instead of O(changes).
    */
  private def eqDeleteKeys: Seq[String] =
    props.get("graft.eqDeleteKeys").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  // a MoR table's deletes are row deltas — EXCEPT the keyed shape
  // declared by graft.eqDeleteKeys, which commits as an equality delete
  // (no base-file read, no vector). The COW metadata-only rewrite below
  // neither reads nor writes deletion vectors, so it must never run
  // against DV-carrying entries — refusing MoR tables for every other
  // shape routes the DELETE through the row-level rewrite.
  override def canDeleteWhere(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    // a branch-pinned handle routes deletes through the MoR row-level op
    // (which commits onto the branch chain) — EXCEPT the keyed equality
    // shape, whose sidecar-only commit targets the branch chain too (the
    // other metadata shortcuts below commit straight to MAIN)
    if (branch.isDefined)
      morMode && MemEqDelete.compile(predicates, eqDeleteKeys, tblSchema).isDefined
    else if (morMode)
      MemEqDelete.compile(predicates, eqDeleteKeys, tblSchema).isDefined
    else predicates.forall(p => MemDelete.compile(p, tblSchema).isDefined)

  override def deleteWhere(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    if (branch.isDefined || morMode) {
      // EQUALITY DELETE: the only shape canDeleteWhere admits on MoR and
      // on a branch-pinned handle. Write the key-tuple sidecar, then one
      // commit appending the #eqdel line at that commit's sequence (on a
      // branch, the branch-relative one) — no data file opened,
      // O(deleted keys) total. Readers mask strictly-older files only, so
      // a key REINSERTED after the delete survives; main sees a branch's
      // delete only once fastForward converts it to positional vectors.
      val rows = MemEqDelete.compile(predicates, eqDeleteKeys, tblSchema)
        .getOrElse(throw new UnsupportedOperationException(
          s"graft mem catalog: ${branch.fold("")(_ => "branch ")}delete shape not " +
            s"equality on the declared eqDeleteKeys (${eqDeleteKeys.mkString(",")})"))
      val f = MemCatalog.writeEqDelete(dir, rows)
      MemCatalog.commitManifestEq(dir, "eqdelete", branch) { (files, eq, seq) =>
        (files, eq :+ MemCatalog.EqDelete(seq, eqDeleteKeys, f))
      }
      return
    }
    // AND of all top-level predicates; a row is deleted iff every one
    // matches. Surviving rows of a touched file go to a NEW part file —
    // committed files are immutable (older manifests keep referencing
    // them), so the delete publishes a manifest edit, never an in-place
    // rewrite. DELETION VECTORS are honored even here: canDeleteWhere
    // refuses MoR-MODE tables, but a table whose 'graft.dml' property was
    // flipped back to COW can still hold live dv entries from its MoR
    // past — masked rows are subtracted while scanning (they are not
    // data) and the rewritten survivor file materializes the vector,
    // exactly like compact() and MemCowScan do.
    val tests = predicates.flatMap(p => MemDelete.compile(p, tblSchema))
    val policy = MemWritePolicy.of(props, tblSchema)
    // equality deletes from a MoR past are honored the same way the DVs
    // are: masked rows are not data — they drop while scanning and the
    // survivor file materializes the mask (fresh #seq exempts it)
    val eqAtScan = MemCatalog.eqDeletes(dir)
    // per touched file: (dv the scan applied, replacement entry or None=drop)
    val edits = MemCatalog.liveEntries(dir).flatMap { entry =>
      val part = dir.resolve(entry.name)
      val masked = entry.dv.fold(Set.empty[Long])(d => MemCatalog.readDv(dir.resolve(d)))
      val visible = MemCatalog.eqMask(tblSchema,
        MemCatalog.eqDeletesFor(entry, eqAtScan).map(d => (d.cols, dir.resolve(d.file))))
      val in = MemCodec.open(part, tblSchema)
      val out = new MemFileWriter(Files.createTempFile(dir, "_rewrite", ".tmp"), tblSchema, policy)
      var kept = 0L
      var total = 0L // VISIBLE rows only — dv-masked rows are already gone
      var pos = -1L
      try {
        var vals = in.readRow()
        while (vals != null) {
          pos += 1
          if (!masked.contains(pos) && visible(vals)) {
            total += 1
            if (!tests.forall(_(vals))) {
              out.write(InternalRow.fromSeq(vals.toSeq))
              kept += 1
            }
          }
          vals = in.readRow()
        }
      } catch { case t: Throwable => out.abort(); throw t }
      finally in.close()
      // untouched (no visible row matched): survives by name WITH its dv
      if (kept == total) { out.abort(); None }
      else out.finish() match {
        case None => Some(entry.name -> (entry.dv, None))
        case Some(survivor) =>
          val fresh = Files.createTempFile(dir, "part-del-", ".bin")
          Files.move(out.path, fresh,
            StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
          // survivor file carries no dv (masked rows were dropped — the
          // vector is materialized, like OPTIMIZE does) and INHERITS the
          // input's sort order: filtering preserves row order
          Some(entry.name -> (entry.dv, Some(survivor.copy(
            name = fresh.getFileName.toString, sortedBy = entry.sortedBy))))
      }
    }.toMap
    // same conflict rule as MemCowWrite.commit, at (name, dv) granularity:
    // every file this delete rewrote must still be live WITH the exact
    // deletion vector the scan applied — a concurrent COW retirement OR a
    // concurrent MoR delete that composed a new vector both invalidate
    // the post-image (composing would resurrect/duplicate rows)
    if (edits.nonEmpty) MemCatalog.commitManifestEq(dir, "delete") { (live, curEq, _) =>
      val liveDv = live.map(e => e.name -> e.dv).toMap
      val gone = edits.keys.filter(n => !liveDv.get(n).contains(edits(n)._1)).toSeq.sorted
      if (gone.nonEmpty) throw new MemCatalog.CommitConflictException(
        s"graft mem catalog: concurrent write conflict — deleted-from file(s) " +
          s"${gone.mkString(", ")} were rewritten by another committed " +
          "statement; rerun the DELETE against the new snapshot")
      // (name, dv, equality deletes) conflict unit: an equality delete
      // newer than our scan would be exempted by the survivors' fresh
      // #seq — resurrection — so the loser fails
      val freshEq = curEq.filterNot(d => eqAtScan.exists(_.file == d.file))
      if (freshEq.nonEmpty) throw new MemCatalog.CommitConflictException(
        s"graft mem catalog: concurrent write conflict — equality delete(s) " +
          s"${freshEq.map(_.file).mkString(", ")} committed after this " +
          "DELETE's scan; rerun against the new snapshot")
      (live.flatMap(e => edits.get(e.name) match {
        case None => Seq(e) // untouched
        case Some((_, None)) => Seq.empty // fully deleted
        case Some((_, Some(fresh))) => Seq(fresh) // rewritten survivor file
      }), curEq)
    }
  }

  /** DATA SKIPPING: comparison filters on integral columns are accepted
    * for pushdown and evaluated against the manifest's per-file MIN/MAX
    * stats — whole files drop from the plan when their range can't
    * match (the Iceberg/Delta zone-map file-skipping contract). Every
    * filter is ALSO kept as residual (Spark re-evaluates row-level), so
    * skipping is pure pruning: it can never change results, only plans.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
      import org.apache.spark.sql.sources.Filter
      private var required: StructType = tblSchema
      private var skippable: Array[Filter] = Array.empty
      private var metaAgg: Option[(StructType, Seq[Any])] = None
      // readStream.option("changefeed", "true").table(t) — flips the
      // streaming read from the additions tail to the row-level CDF
      private val changeFeed = options.getBoolean("changefeed", false)

      /** METADATA-ONLY AGGREGATES — the Delta/Iceberg stats-based count:
        * an ungrouped, unfiltered COUNT(*)/MIN/MAX over the table is
        * answered ENTIRELY from the manifest (Σ `#rows` minus deletion-
        * vector positions; zone-map lo/hi for the extremes) — zero data
        * files opened, zero tasks reading bytes, and it works on
        * time-travel-pinned snapshots too (their manifests carry the
        * same stats). COMPLETE pushdown: the values are exact finals,
        * so Spark plans no re-aggregation. Refused — falling back to
        * the ordinary row scan — whenever exactness can't be proven
        * from metadata alone: any data filter (they stay residual, so
        * Spark won't attempt the push anyway), GROUP BY, an entry
        * predating the `#rows` token, a non-integral MIN/MAX column,
        * or MIN/MAX over a deletion vector (the vector might mask the
        * extreme row; COUNT merely subtracts it).
        */
      private def compileMetaAgg(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Option[(StructType, Seq[Any])] = {
        import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
        if (changeFeed || skippable.nonEmpty || agg.groupByExpressions().nonEmpty ||
          options.get("branch") != null || branch.isDefined ||
          // a row-access policy makes every count/extreme a data
          // question — metadata cannot answer exactly
          props.contains("graft.policy"))
          return None
        val entries = MemCatalog.liveEntries(dir, pinned)
        // an applicable equality delete masks an unknown number of rows
        // (and possibly the extremes) — metadata can't answer exactly
        if (MemCatalog.eqDeletes(dir, pinned)
          .exists(d => entries.exists(e => MemCatalog.seqOf(e) < d.seq)))
          return None
        def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
          e match {
            case nr: NamedReference if nr.fieldNames.length == 1 =>
              tblSchema.fields.find(_.name == nr.fieldNames()(0))
                .filter(f => f.dataType == LongType || f.dataType == IntegerType)
            case _ => None
          }
        def boxed(v: Long, dt: DataType): Any =
          if (dt == LongType) v else v.toInt
        def extreme(f: StructField, hi: Boolean): Option[(StructField, Any)] =
          if (entries.isEmpty || entries.exists(e =>
            e.dv.nonEmpty || !e.stats.contains(f.name))) None
          else {
            val bounds = entries.map(e => if (hi) e.stats(f.name)._2 else e.stats(f.name)._1)
            Some((f, boxed(if (hi) bounds.max else bounds.min, f.dataType)))
          }
        val cols: Seq[Option[(StructField, Any)]] =
          agg.aggregateExpressions().toSeq.zipWithIndex.map {
            case (_: CountStar, i) =>
              val counts = entries.map(e => e.stats.get("#rows").map(_._1 -
                e.dv.fold(0L)(d => MemCatalog.readDv(dir.resolve(d)).size.toLong)))
              if (counts.forall(_.isDefined))
                Some((StructField(s"count_$i", LongType, nullable = false),
                  java.lang.Long.valueOf(math.max(0L, counts.flatten.sum))))
              else None
            case (m: Min, i) => colOf(m.column).flatMap(f =>
              extreme(f, hi = false).map { case (ff, v) =>
                (StructField(s"min_${ff.name}_$i", ff.dataType, nullable = false), v) })
            case (m: Max, i) => colOf(m.column).flatMap(f =>
              extreme(f, hi = true).map { case (ff, v) =>
                (StructField(s"max_${ff.name}_$i", ff.dataType, nullable = false), v) })
            case _ => None
          }
        if (cols.nonEmpty && cols.forall(_.isDefined)) {
          val done = cols.flatten
          Some((StructType(done.map(_._1)), done.map(_._2)))
        } else None
      }

      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        compileMetaAgg(agg).isDefined

      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
        metaAgg = compileMetaAgg(agg)
        metaAgg.isDefined
      }
      // option("startingVersion", N): begin the stream AT commit N
      // (inclusive) instead of replaying from the initial snapshot —
      // the Delta startingVersion contract for consumers that already
      // hold a materialized state up to N−1
      private val startingVersion: Option[Int] =
        Option(options.get("startingVersion")).map { v =>
          val n = v.toInt
          require(n >= 0, s"graft mem catalog: startingVersion must be >= 0, got $n")
          n
        }
      // option("startingTimestamp", epochMillis): the timestamp twin —
      // resolves to the EARLIEST retained commit at or after the instant
      // (Delta's startingTimestamp contract; time travel's AS OF is the
      // mirror: latest at-or-BEFORE). Resolution skips vacuumed
      // manifests, and an instant past the last commit refuses loudly
      // rather than silently streaming nothing.
      private val startingTimestamp: Option[Int] =
        Option(options.get("startingTimestamp")).map { v =>
          val ms = v.toLong
          val cur = MemCatalog.currentVersion(dir)
          (0 to cur).find { w =>
            Files.exists(dir.resolve(s"_v$w.manifest")) &&
              MemCatalog.readManifest(dir, w)._1 >= ms
          }.getOrElse(throw new IllegalArgumentException(
            s"graft mem catalog: startingTimestamp $ms is after the last commit (v$cur)"))
        }
      require(startingVersion.isEmpty || startingTimestamp.isEmpty,
        "graft mem catalog: startingVersion and startingTimestamp are mutually exclusive")
      // option("netChanges", "true"): upgrade the change feed from
      // file-granularity replay (delete+insert pairs that cancel in
      // aggregate) to Delta-CDC-style NET row changes — each row-level
      // commit's micro-batch is the multiset diff of its retired vs
      // added files, classified by the commit's recorded op
      private val netChanges = options.getBoolean("netChanges", false)
      require(!netChanges || changeFeed,
        "graft mem catalog: netChanges requires changefeed=true")
      override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        skippable = filters.filter(MemSkip.usable(_, tblSchema))
        filters // everything stays residual: stats prune files, not rows
      }
      override def pushedFilters(): Array[Filter] = skippable
      override def build(): Scan = metaAgg match {
        case Some((aggSchema, values)) => new MemAggScan(dir, aggSchema, values)
        case None =>
          new MemScan(dir, tblSchema, required, pinned, skippable, changeFeed,
            startingVersion.orElse(startingTimestamp), netChanges,
            // `.option("branch", name)` — audit reads of unpublished WAP
            // writes (the read leg of write-audit-publish); a
            // branch-pinned handle (`t.branch_<name>`) reads its own
            // branch by default
            branch = Option(options.get("branch")).orElse(branch),
            groupByPartition = options.getBoolean("groupByPartition", false))
      }
    }

  /** `INSERT OVERWRITE` (`SupportsTruncate` + `SupportsOverwrite`): an
    * overwrite is ONE manifest commit that retires the entire live set
    * and publishes the fresh files — the old snapshot stays readable via
    * time travel, because retirement never deletes. Only the full
    * (AlwaysTrue / empty-filter) overwrite is accepted; a filtered
    * overwrite on an unpartitioned table would silently drop the
    * non-matching live rows' guarantee, so it refuses.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
    // staging is scoped per WRITE (queryId), not per table: two concurrent
    // INSERTs into the same table each clean up only their own staging
    // dir at commit/abort — a shared _inflight would let one write's
    // commit delete the other's not-yet-committed part files
    private val inflight = s"_inflight-${info.queryId()}"
    private var overwriteAll = false

    override def truncate(): WriteBuilder = { overwriteAll = true; this }

    override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
      require(filters.isEmpty ||
        filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue),
        s"graft mem catalog: only full-table INSERT OVERWRITE is supported, " +
          s"got ${filters.mkString(", ")}")
      overwriteAll = true
      this
    }
    /** When the table declares `clusterBy`, the write REQUESTS a
      * clustered distribution + ascending sort on those columns
      * (`RequiresDistributionAndOrdering` — Iceberg's write-distribution
      * contract): Spark plans the exchange+sort, each task then receives
      * one key-cluster's rows in order, files come out value-clustered
      * with tight min/max stats, and the zone-map skipping works from a
      * single unclustered INSERT — the writer never routes rows itself.
      */
    override def build(): Write = new Write
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, SortOrder}
      private val clusterCols: Array[String] =
        props.get("clusterBy").map(_.split(",").map(_.trim)).getOrElse(Array.empty)

      /** TRANSFORM-AWARE WRITE ROUTING (`'graft.partitionRoute'='true'`
        * next to `'graft.partition'`): the write requests a CLUSTERED
        * distribution on the partition TRANSFORM itself (resolved through
        * this catalog's FunctionCatalog — SPARK-39607, Iceberg's
        * `write.distribution-mode=hash`), so each task receives whole
        * partitions and the fanout writer below emits PARTITION-PURE
        * files from one plain INSERT — per-file `pt:` stats collapse to
        * a point, the metadata rollup has no NULL group, and pruning
        * holds from day one without OPTIMIZE.
        */
      private val routeSpecs: Seq[MemPart.Spec] =
        if (props.get("graft.partitionRoute").contains("true")) {
          require(clusterCols.isEmpty,
            "graft mem catalog: partitionRoute and clusterBy are mutually " +
              "exclusive write layouts — pick one")
          val s = MemPart.specsOf(props, tblSchema)
          require(s.nonEmpty,
            "graft mem catalog: partitionRoute requires a 'graft.partition' spec")
          s
        } else Seq.empty

      private def sortOrders: Array[SortOrder] =
        clusterCols.map(c => Expressions.sort(
          Expressions.identity(c), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))

      /** RANGE distribution (Iceberg `write.distribution-mode=range`):
        * a global range partition on the cluster key gives contiguous,
        * DETERMINISTIC value clustering — hash clustering could collide
        * distinct keys into one writer task, blunting the stats. A
        * routed write clusters on ALL of the spec's transforms (the
        * multi-transform tuple is the partition identity).
        */
      override def requiredDistribution(): Distribution =
        if (routeSpecs.nonEmpty)
          Distributions.clustered(routeSpecs.map(MemPart.routeExpr).toArray)
        else if (clusterCols.isEmpty) Distributions.unspecified()
        else
          Distributions.ordered(sortOrders.map(identity[org.apache.spark.sql.connector.expressions.SortOrder]))

      override def requiredOrdering(): Array[SortOrder] = sortOrders

      /** Advisory write fan-out (`clusterParts`); 0 lets Spark/AQE pick —
        * at fixture scale AQE rightly coalesces a tiny exchange to one
        * partition, so demos pin a small explicit fan-out instead.
        */
      override def requiredNumPartitions(): Int =
        props.get("clusterParts").map(_.toInt).getOrElse(0)

      override def toBatch: BatchWrite = {
        // a CDC landing table's apply contract is PER-EPOCH — a batch
        // INSERT would land changelog rows without applying them and the
        // mirror would silently diverge; refuse loudly instead
        require(!props.contains("graft.applyCdcTo"),
          "graft mem catalog: batch writes into a CDC landing table are " +
            "not supported — stream the changelog (writeStream.toTable) so " +
            "every epoch lands AND applies")
        new MemBatchWrite(dir, tblSchema, Some(inflight), MemWritePolicy.of(props, tblSchema),
          overwriteAll,
          sortedBy = if (clusterCols.isEmpty) None else Some(clusterCols.mkString(",")),
          route = routeSpecs.nonEmpty,
          // `.option("branch", name)` on a DataFrameWriterV2 append —
          // the WAP write leg (Iceberg's spark.wap.branch / toBranch);
          // a branch-pinned handle appends to its own branch by default
          branch = Option(info.options.get("branch")).orElse(branch))
      }
      /** `writeStream.toTable` — each epoch appends its part files in ONE
        * manifest commit carrying the epoch watermark, so a replayed
        * epoch (driver recovery re-commits the last batch) publishes
        * NOTHING twice: the Delta-sink txn-version idempotence contract,
        * realized as `#queryId=epoch` lines in the snapshot manifest.
        */
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        require(branch.isEmpty,
          "graft mem catalog: cannot stream into a branch (fast-forward first)")
        props.get("graft.applyCdcTo") match {
          // a CDC LANDING table: each epoch lands the raw changelog here
          // AND applies it to the target (equality deletes + appends) —
          // see [[MemCdcStreamingWrite]]
          case Some(targetIdent) =>
            val targetDir = dir.getParent.resolve(targetIdent.replace(".", "__"))
            require(Files.exists(targetDir.resolve("_schema.json")),
              s"graft mem catalog: CDC apply target '$targetIdent' does not exist")
            // `graft.applyCdcBranch`: apply epochs to an UNPUBLISHED audit
            // branch of the target (WAP for CDC) — fastForward publishes
            val applyBranch = props.get("graft.applyCdcBranch")
            applyBranch.foreach(b => require(
              MemCatalog.branchHead(targetDir, b) >= 0,
              s"graft mem catalog: CDC apply branch '$b' does not exist on " +
                s"'$targetIdent' — create it before starting the stream"))
            new MemCdcStreamingWrite(dir, tblSchema, targetDir, info.queryId(),
              props.getOrElse("graft.cdcOp", "op"), applyBranch)
          case None =>
            new MemStreamingWrite(dir, tblSchema, info.queryId(),
              MemWritePolicy.of(props, tblSchema), route = routeSpecs.nonEmpty)
        }
      }
    }
  }
}

/** READ-ONLY METADATA TABLES — Iceberg's `<table>.history` /
  * `<table>.files` inspection surface: the commit log and the live-file
  * manifest exposed as ordinary queryable relations (Delta's `DESCRIBE
  * HISTORY`, Iceberg's metadata tables). Resolution rides loadTable's
  * suffix parsing exactly like `.branch_<name>` handles — the handle
  * engages only when no real table of the flat name exists. Rows are
  * computed DRIVER-side at scan planning from the manifest log:
  * metadata-only, O(#versions) / O(#live files) manifest reads and zero
  * data-file I/O at any table size, which is what makes an ops query
  * against a 100 TB table free. The reference has no table metadata at
  * all (outputs are bare HDFS files, greeter_server.cc:116); this is the
  * audit surface its operators would need in production.
  */
private[v2] object MemMetaTable {
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}

  val Kinds: Set[String] = Set("history", "files", "partitions", "snapshots", "refs")

  /** The NORMALIZED refs relation (`<table>.refs` — Iceberg's `refs`
    * metadata table): one row per tag/branch with its pinned (tag) or
    * fork (branch) version and the branch's live head ordinal — the
    * joinable twin of the `snapshots` relation's comma-packed refs
    * string. `n_retained` = how many commits the ref leases against
    * vacuum (a tag leases its one snapshot; a branch leases its fork
    * point plus every staged branch commit).
    */
  val refsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("version", IntegerType, nullable = false),
    StructField("head", IntegerType, nullable = true),
    StructField("n_retained", IntegerType, nullable = false)))

  val historySchema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("op", StringType, nullable = true),
    StructField("n_files", IntegerType, nullable = false),
    StructField("n_eqdels", IntegerType, nullable = false),
    StructField("ts_millis", LongType, nullable = false)))

  val filesSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = true),
    StructField("seq", LongType, nullable = false),
    StructField("has_dv", BooleanType, nullable = false),
    StructField("n_eqdels", IntegerType, nullable = false),
    StructField("sorted_by", StringType, nullable = true)))

  /** Per-partition rollup under the table's CURRENT spec (`part` is the
    * transform value; NULL groups files written before routing — or
    * under an evolved-away spec — that span multiple partitions).
    */
  val partitionsSchema: StructType = StructType(Seq(
    StructField("spec", StringType, nullable = false),
    StructField("part", LongType, nullable = true),
    StructField("n_files", IntegerType, nullable = false),
    StructField("n_rows", LongType, nullable = true)))

  /** [[historySchema]] plus the REFS pointing at each snapshot: the
    * comma-joined sorted tag names (`tag:<name>`) and branch refs
    * (`branch:<name>@<head>` at the branch's FORK version, carrying the
    * branch's LIVE head ordinal — `@0` = fork only, `@k` = k audited
    * branch commits whose staged files are retention roots until
    * `dropBranch`) — the ref landscape an operator consults before
    * vacuum/rollback decisions (Iceberg's `refs` metadata table joined
    * onto `snapshots`). The head ordinal is what makes the pre-vacuum
    * question complete: a fork point alone says a branch EXISTS; the
    * head says how much unpublished work vacuum must not touch.
    */
  val snapshotsSchema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("op", StringType, nullable = true),
    StructField("n_files", IntegerType, nullable = false),
    StructField("is_head", BooleanType, nullable = false),
    StructField("refs", StringType, nullable = true)))

  private case class MetaPart(rows: Seq[Seq[Any]]) extends InputPartition

  /** `branch = Some(b)` scopes the relation to branch `b`'s manifest
    * chain: `history` reports the branch's own commits (branch-relative
    * version k, fork state at k=0), `files`/`partitions` read the branch
    * HEAD — the mid-audit inspection surface a write-audit-publish
    * reviewer audits BEFORE fast-forwarding.
    */
  def apply(parent: String, kind: String, dir: Path,
      branch: Option[String] = None): Table = new Table with SupportsRead {
    override def name(): String = s"$parent.$kind"
    override def schema(): StructType = kind match {
      case "history" => historySchema
      case "partitions" => partitionsSchema
      case "snapshots" => snapshotsSchema
      case "refs" => refsSchema
      case _ => filesSchema
    }
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new Scan with Batch {
          override def readSchema(): StructType = schema()
          override def toBatch: Batch = this
          override def planInputPartitions(): Array[InputPartition] = {
            def headEntries: Seq[MemCatalog.FileEntry] = branch match {
              case Some(b) => MemCatalog.branchManifest(dir, b).files
              case None => MemCatalog.liveEntries(dir)
            }
            val rows: Seq[Seq[Any]] =
              if (kind == "history") branch match {
                case Some(b) =>
                  (0 to MemCatalog.branchHead(dir, b)).flatMap { k =>
                    val p = MemCatalog.branchManifestPath(dir, b, k)
                    if (!Files.exists(p)) None
                    else {
                      val m = MemCatalog.readManifestPath(p)
                      Some(Seq(k, m.op, m.files.size, m.eqDels.size, m.ts))
                    }
                  }
                case None =>
                  (0 to MemCatalog.currentVersion(dir)).flatMap { v =>
                    // vacuumed versions are absent — history is exactly
                    // what time travel can still reach
                    if (!Files.exists(dir.resolve(s"_v$v.manifest"))) None
                    else {
                      val m = MemCatalog.readManifestFull(dir, v)
                      Some(Seq(v, m.op, m.files.size, m.eqDels.size, m.ts))
                    }
                  }
              }
              else if (kind == "snapshots" && branch.isDefined) {
                val b = branch.get
                val head = MemCatalog.branchHead(dir, b)
                (0 to head).flatMap { k =>
                  val p = MemCatalog.branchManifestPath(dir, b, k)
                  if (!Files.exists(p)) None
                  else {
                    val m = MemCatalog.readManifestPath(p)
                    Some(Seq(k, m.op, m.files.size, k == head, null))
                  }
                }
              }
              else if (kind == "refs") {
                // table-level landscape, identical from any handle
                val tagRows = MemCatalog.tags(dir).toSeq.sortBy(_._1).map {
                  case (t, v) => Seq[Any](t, "tag", v, null, 1)
                }
                val brRows = MemCatalog.branches(dir).keys.toSeq.sorted.map { b =>
                  val head = MemCatalog.branchHead(dir, b)
                  Seq[Any](b, "branch", MemCatalog.branchBase(dir, b),
                    head, head + 1)
                }
                tagRows ++ brRows
              }
              else if (kind == "snapshots") {
                val cur = MemCatalog.currentVersion(dir)
                val byV = (MemCatalog.tags(dir).toSeq.map { case (t, v) =>
                  v -> s"tag:$t"
                } ++ MemCatalog.branches(dir).keys.toSeq.map { b =>
                  // the branch's LIVE head rides the fork-point ref:
                  // its staged files are retention roots, and the
                  // pre-vacuum decision needs to see them here
                  MemCatalog.branchBase(dir, b) ->
                    s"branch:$b@${MemCatalog.branchHead(dir, b)}"
                }).groupBy(_._1).view.mapValues(_.map(_._2).sorted.mkString(","))
                (0 to cur).flatMap { v =>
                  if (!Files.exists(dir.resolve(s"_v$v.manifest"))) None
                  else {
                    val m = MemCatalog.readManifestFull(dir, v)
                    Some(Seq(v, m.op, m.files.size, v == cur,
                      byV.get(v).orNull))
                  }
                }
              }
              else if (kind == "partitions") {
                // one rollup block PER declared transform (a
                // multi-transform spec contributes a block each —
                // `spec` disambiguates the rows); within a block, files
                // group by their partition-pure transform value, mixed/
                // pre-routing files fall into the NULL group
                val entries = headEntries
                MemPart.specsOf(MemCatalog.readProps(dir),
                    MemCatalog.readSchema(dir)).flatMap { spec =>
                  entries.groupBy { e =>
                    e.stats.get(spec.statKey) match {
                      case Some((lo, hi)) if lo == hi => Some(lo)
                      case _ => None // pre-routing / evolved-away layout
                    }
                  }.toSeq.sortBy(_._1.getOrElse(Long.MinValue)).map { case (part, es) =>
                    val rows = es.map(_.stats.get("#rows").map(_._1))
                    Seq(spec.render,
                      part.map(java.lang.Long.valueOf(_)).orNull, es.size,
                      if (rows.exists(_.isEmpty)) null
                      else java.lang.Long.valueOf(rows.flatten.sum))
                  }
                }
              } else {
                val m = branch match {
                  case Some(b) => MemCatalog.branchManifest(dir, b)
                  case None =>
                    MemCatalog.readManifestFull(dir, MemCatalog.currentVersion(dir))
                }
                m.files.map { e =>
                  Seq(e.name,
                    e.stats.get("#rows").map(r => java.lang.Long.valueOf(r._1)).orNull,
                    MemCatalog.seqOf(e), e.dv.isDefined,
                    MemCatalog.eqDeletesFor(e, m.eqDels).size,
                    e.sortedBy.orNull)
                }
              }
            Array(MetaPart(rows))
          }
          override def createReaderFactory(): PartitionReaderFactory =
            new PartitionReaderFactory {
              override def createReader(p: InputPartition): PartitionReader[InternalRow] =
                new PartitionReader[InternalRow] {
                  private val it = p.asInstanceOf[MetaPart].rows.iterator
                  private var cur: InternalRow = _
                  override def next(): Boolean =
                    if (!it.hasNext) false
                    else {
                      cur = InternalRow.fromSeq(it.next().map {
                        case s: String => UTF8String.fromString(s)
                        case x => x
                      })
                      true
                    }
                  override def get(): InternalRow = cur
                  override def close(): Unit = ()
                }
            }
        }
      }
  }
}

/** One SQL UPDATE / MERGE / rewritten DELETE statement's group-based COW
  * operation. The instance is the rendezvous between its scan and its
  * write: the scan records which part files it actually planned (after
  * Spark's runtime group filter narrowed the set), and the write's commit
  * replaces exactly those files. Both happen on the driver — scan
  * planning strictly precedes write commit, so the handoff is a plain
  * atomic reference, the in-process analog of the scan-snapshot the
  * lakehouse formats carry in their commit metadata.
  */
private[v2] class MemRowLevelOperation(cmd: Command, dir: Path, tblSchema: StructType)
    extends RowLevelOperation {
  /** Part files the COW scan planned — the groups the write replaces —
    * as (file name, deletion vector the scan applied): the dv is part of
    * the conflict unit, matching compact()'s rule (a concurrent MoR
    * delete that composed a NEW vector onto a scanned file invalidates
    * our post-image too — it was built against the old vector).
    * Null until a scan plans; the write treats null as "replace nothing"
    * (a write without a read never happens in the ReplaceData contract).
    */
  private[v2] val scannedEntries =
    new java.util.concurrent.atomic.AtomicReference[Seq[(String, Option[String])]](null)

  /** The EQUALITY-DELETE set the COW scan read under — the third leg of
    * the conflict unit: a delete committed after the scan has a sequence
    * newer than every scanned file, the post-image carried over rows it
    * masks, and the rewritten files' fresh `#seq` would exempt them
    * (resurrection) — so the commit must fail, not compose.
    */
  private[v2] val scannedEq =
    new java.util.concurrent.atomic.AtomicReference[Seq[MemCatalog.EqDelete]](Seq.empty)

  override def command(): Command = cmd

  override def description(): String = s"graft_mem_cow(${cmd.name.toLowerCase})"

  /** `_file` must survive into the read relation so the runtime group
    * filter has an attribute to prune on.
    */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  /** No filter pushdown on the COW scan — pushed filters in a group-based
    * operation select GROUPS, not rows (a connector that dropped
    * non-matching rows inside a kept group would lose them in the
    * writeback). Leaving every filter residual is always correct; the
    * runtime `_file` filter is what provides the file-level pruning.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = tblSchema
      override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
      override def build(): Scan =
        new MemCowScan(dir, tblSchema, required, MemRowLevelOperation.this)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def toBatch: BatchWrite =
        new MemCowWrite(dir, tblSchema, MemRowLevelOperation.this, info.queryId())
    }
  }
}

/** COW read side: a [[MemScan]] that additionally (a) serves the `_file`
  * metadata column, (b) accepts Spark's runtime group filter on `_file`
  * (`SupportsRuntimeV2Filtering` — the row-level twin of the bucket
  * pruning [[SeqScan]] does), and (c) reports the final planned file set
  * to the owning operation. An unparseable runtime predicate degrades to
  * "keep all" — a wider rewrite, never a wrong one.
  */
private[v2] class MemCowScan(dir: Path, full: StructType, required: StructType,
    op: MemRowLevelOperation) extends Scan with Batch with SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Lit}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private var keptFiles: Option[Set[String]] = None

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_mem_cow $dir cols=${required.fieldNames.mkString(",")}" +
      keptFiles.fold("")(k => s" groups=${k.size}")

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def filter(predicates: Array[Predicate]): Unit = {
    def litStr(e: V2Expr): Option[String] = e match {
      case l: V2Lit[_] => l.value match {
        case s: UTF8String => Some(s.toString)
        case s: String => Some(s)
        case _ => None
      }
      case _ => None
    }
    def isFileRef(e: V2Expr): Boolean = e match {
      case nr: NamedReference => nr.fieldNames.toSeq == Seq("_file")
      case _ => false
    }
    predicates.foreach { p =>
      val kids = p.children()
      val vals: Option[Set[String]] = p.name() match {
        case "IN" if kids.nonEmpty && isFileRef(kids.head) =>
          val lits = kids.tail.map(litStr)
          if (lits.forall(_.isDefined)) Some(lits.flatten.toSet) else None
        case "=" if kids.length == 2 && isFileRef(kids.head) => litStr(kids(1)).map(Set(_))
        case "=" if kids.length == 2 && isFileRef(kids(1)) => litStr(kids.head).map(Set(_))
        case _ => None
      }
      vals.foreach(v => keptFiles = Some(keptFiles.fold(v)(_ intersect v)))
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val entries = MemCatalog.liveEntries(dir)
      .filter(e => keptFiles.forall(_.contains(e.name)))
    val eqDels = MemCatalog.eqDeletes(dir)
    op.scannedEntries.set(entries.map(e => e.name -> e.dv))
    op.scannedEq.set(eqDels)
    // dv + equality deletes applied defensively: a COW rewrite of a
    // masked group (a table whose dml mode was flipped) materializes
    // both — the post-image must contain only VISIBLE rows
    entries.map(e => MemFilePartition(dir.resolve(e.name).toString,
      dv = e.dv.map(d => dir.resolve(d).toString),
      eq = MemCatalog.eqDeletesFor(e, eqDels)
        .map(d => (d.cols, dir.resolve(d.file).toString)),
      fileId = Some(e.name)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MemReaderFactory(full, required.fieldNames)
}

/** COW write side: tasks stage new part files under a per-statement
  * `_cow-<queryId>` directory (invisible to readers and to concurrent
  * writes); the driver commit publishes the group replacement — move the
  * new parts in, then delete exactly the files the scan planned. A failed
  * or aborted statement deletes only its staging dir: the old files are
  * untouched and the table stays readable with its pre-statement
  * contents, which MemCatalogSpec proves by injected task failure.
  */
private[v2] class MemCowWrite(dir: Path, schema: StructType,
    op: MemRowLevelOperation, queryId: String) extends BatchWrite {
  private val staging = s"_cow-$queryId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    // COW post-images re-validate too: an UPDATE can't write a value the
    // table's CHECK constraints forbid
    new MemWriterFactory(dir.toString, schema, Some(staging),
      MemWritePolicy.of(MemCatalog.readProps(dir), schema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val replaced: Map[String, Option[String]] =
      Option(op.scannedEntries.get).getOrElse(Seq.empty).toMap
    val fresh = MemCommit.publish(messages, dir)
    // the group replacement is a MANIFEST edit: scanned files retire
    // (staying on disk for older snapshots), new post-image files go live.
    // CONFLICT VALIDATION (Iceberg's optimistic COW rule): the retry loop
    // composes PURE APPENDS, but a COW post-image is a function of the
    // files it SCANNED — if a concurrent statement already retired one of
    // them, blindly appending our post-image would duplicate that file's
    // untouched rows (or resurrect rows the winner deleted). The loser
    // must FAIL, not compose; the check runs inside the update fn so it
    // re-validates against the refreshed live set on every retry.
    try {
      // the commit records WHICH DML verb produced it (update/delete/
      // merge) — the net change-feed reader classifies the commit's row
      // delta by this tag, and it is what DESCRIBE HISTORY would surface
      val eqAtScan = Option(op.scannedEq.get).getOrElse(Seq.empty)
      val won = MemCatalog.commitManifestEq(dir, op.command().name.toLowerCase) { (live, curEq, _) =>
        // conflict unit is (name, dv, equality deletes), matching
        // compact(): retired-by-name, dv-recomposed-by-a-concurrent-MoR-
        // delete, and an equality delete newer than the scan all fail
        val liveDv = live.map(e => e.name -> e.dv).toMap
        val gone = replaced.keys.filter(n => !liveDv.get(n).contains(replaced(n))).toSeq.sorted
        if (gone.nonEmpty) throw new MemCatalog.CommitConflictException(
          s"graft mem catalog: concurrent write conflict — scanned file(s) " +
            s"${gone.mkString(", ")} were rewritten by another committed " +
            "statement; rerun the statement against the new snapshot")
        val freshEq = curEq.filterNot(d => eqAtScan.exists(_.file == d.file))
        if (replaced.nonEmpty && freshEq.nonEmpty)
          throw new MemCatalog.CommitConflictException(
            s"graft mem catalog: concurrent write conflict — equality " +
              s"delete(s) ${freshEq.map(_.file).mkString(", ")} committed " +
              "after this statement's scan; rerun against the new snapshot")
        (live.filterNot(e => replaced.contains(e.name)) ++ fresh, curEq)
      }
      // WRITE-TIME CDC SIDECAR ([[MemCdcSidecar]]): the commit's net row
      // delta, computed ONCE here instead of by every future change-feed
      // reader. Staged before, linked only after the version is won; the
      // feed falls back to the read-side diff whenever the pair is
      // absent, so every crash window degrades to correctness, not loss.
      if (replaced.nonEmpty) {
        // the EXACT read-side inputs: the replaced snapshot (won−1) holds
        // each retired file's real entry — its dv (conflict-validated
        // unchanged) and the eq deletes applicable at its true sequence;
        // fresh files carry the won version's sequence, which no eq
        // delete can exceed, and no vector yet
        val before = MemCatalog.readManifestFull(dir, won - 1)
        val byName = before.files.map(e => e.name -> e).toMap
        val staged = MemCdcSidecar.stage(dir, schema,
          removed = replaced.keys.toSeq.sorted.flatMap(n => byName.get(n).map(e =>
            (dir.resolve(e.name).toString, e.dv.map(dir.resolve(_).toString),
              MemCatalog.eqDeletesFor(e, before.eqDels)
                .map(d => (d.cols, dir.resolve(d.file).toString))))),
          added = fresh.sortBy(_.name).map(e =>
            (dir.resolve(e.name).toString, None, Seq.empty)))
        MemCdcSidecar.publish(dir, won, staged)
      }
    } finally {
      // conflict abort: our moved-in post-image files are unreferenced by
      // any manifest (vacuum reclaims them); only the staging dir needs
      // cleanup either way
      MemCatalog.deleteRecursively(dir.resolve(staging))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    MemCommit.discard(messages, Some(dir.resolve(staging)))
}

/** MERGE-ON-READ row-level DML (`SupportsDelta`) — the OTHER half of the
  * lakehouse DML design space next to [[MemRowLevelOperation]]'s
  * copy-on-write: instead of rewriting every scanned file group, the
  * write receives ROW DELTAS (Spark's `WriteDelta` plan) and the commit
  * publishes positional DELETION VECTORS — per base file, the set of row
  * positions removed — as manifest-entry sidecars (`dv@`), leaving every
  * data file untouched. Iceberg's positional delete files / Delta's
  * deletion vectors. Chosen per table via `TBLPROPERTIES
  * ('graft.dml'='mor')`: MoR makes deletes O(changed rows) instead of
  * O(rewritten groups) — the write-cheap/read-taxed trade a
  * delete-heavy 100 TB table wants, with OPTIMIZE materializing DVs
  * back to clean files when the read tax accumulates.
  *
  * Row identity is (`_file`, `_pos`) — the base-file position is stable
  * because committed part files are immutable. UPDATE and MERGE
  * represent as delete+insert ([[representUpdateAsDeleteAndInsert]]),
  * so one delta writer shape serves all three verbs. The scan is the
  * ordinary [[MemScan]] (zone-map skipping included); every filter stays
  * residual, which in a DELTA operation is always correct row-wise —
  * unlike group-based COW, the write touches exactly the rows it is
  * handed, never whole groups.
  */
private[v2] class MemMorOperation(cmd: Command, dir: Path, tblSchema: StructType,
    branch: Option[String] = None)
    extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {
  override def command(): Command = cmd
  override def description(): String =
    s"graft_mem_mor(${cmd.name.toLowerCase}${branch.fold("")(b => s"@branch=$b")})"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** Unlike group-based COW (which must refuse all pushdown — pushed
    * filters there select GROUPS and would lose untouched rows in the
    * writeback), a DELTA operation touches exactly the rows it is
    * handed, so zone-map file skipping is safe AND valuable: a selective
    * MoR DELETE plans only the files whose min/max can match. Filters
    * stay residual as always — stats prune files, never rows.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      import org.apache.spark.sql.sources.Filter
      private var required: StructType = tblSchema
      private var skippable: Array[Filter] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        skippable = filters.filter(MemSkip.usable(_, tblSchema))
        filters
      }
      override def pushedFilters(): Array[Filter] = skippable
      // a branch-staged DML's scan reads the BRANCH head: positions are
      // minted against exactly the files the branch commit will edit
      override def build(): Scan =
        new MemScan(dir, tblSchema, required, None, skippable, branch = branch)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
            new MemMorWrite(dir, tblSchema, MemMorOperation.this, info.queryId(), branch)
        }
    }
}

/** One task's row deltas: freshly-inserted rows staged as an ordinary
  * part file, deleted row IDs accumulated as file → base positions.
  */
private[v2] case class MemMorCommit(insert: MemCommit,
    deletes: Map[String, Seq[Long]]) extends WriterCommitMessage

/** MoR write: inserts ride the staged-part machinery; deletes become
  * per-file position sets that the driver commit folds into each live
  * entry's deletion vector. The fold runs INSIDE the manifest update
  * function against the entry's CURRENT vector, so two concurrent MoR
  * deletes on the same file COMPOSE (positions are base-file-absolute —
  * set union is exact), where COW statements would have to conflict.
  * A file whose target entry was retired by a concurrent COW/OPTIMIZE
  * commit still fails with [[MemCatalog.CommitConflictException]]: the
  * positions were minted against a base file that is no longer live.
  */
private[v2] class MemMorWrite(dir: Path, schema: StructType,
    op: MemMorOperation, queryId: String, branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  private val staging = s"_mor-$queryId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new MemMorWriterFactory(dir.toString, schema, staging,
      MemWritePolicy.of(MemCatalog.readProps(dir), schema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case m: MemMorCommit => m }
    val fresh = MemCommit.publish(parts.map(_.insert), dir)
    val dels: Map[String, Set[Long]] = parts.flatMap(_.deletes.toSeq)
      .groupBy(_._1).map { case (f, ps) => f -> ps.flatMap(_._2).toSet }
    def fold(live: Seq[MemCatalog.FileEntry]): Seq[MemCatalog.FileEntry] = {
      val liveNames = live.map(_.name).toSet
      val gone = dels.keys.filterNot(liveNames).toSeq.sorted
      if (gone.nonEmpty) throw new MemCatalog.CommitConflictException(
        s"graft mem catalog: concurrent write conflict — file(s) " +
          s"${gone.mkString(", ")} holding rows this statement deleted were " +
          "rewritten by another committed statement; rerun against the new snapshot")
      live.map { e =>
        dels.get(e.name) match {
          case None => e
          case Some(pos) =>
            // union with the CURRENT vector (re-read on every retry):
            // concurrent MoR deletes compose instead of conflicting
            val existing = e.dv.fold(Set.empty[Long])(d =>
              MemCatalog.readDv(dir.resolve(d)))
            e.copy(dv = Some(MemCatalog.writeDv(dir, existing ++ pos)))
        }
      } ++ fresh
    }
    // branch-staged DML: the SAME dv-compose fold, committed onto the
    // branch's manifest chain — main readers see nothing until
    // fastForward publishes the audited head
    val verb = op.command().name.toLowerCase
    try {
      MemCatalog.commitManifestEq(dir, branch.fold(verb)(_ => s"branch-$verb"), branch) {
        (live, eq, _) => (fold(live), eq)
      }
    } finally {
      MemCatalog.deleteRecursively(dir.resolve(staging))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    MemCommit.discard(messages.collect { case m: MemMorCommit => m.insert },
      Some(dir.resolve(staging)))
}

private[v2] class MemMorWriterFactory(dest: String, schema: StructType, staging: String,
    policy: MemWritePolicy)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      private val inserts = new MemWriterFactory(dest, schema, Some(staging), policy)
        .createWriter(partitionId, taskId)
      private val deletes =
        scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]

      // id row schema is rowId() order: (_file string, _pos long)
      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        deletes.getOrElseUpdate(id.getUTF8String(0).toString,
          scala.collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(1)

      override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
        throw new UnsupportedOperationException(
          "graft mem catalog: updates arrive as delete+insert (representUpdateAsDeleteAndInsert)")

      override def insert(row: InternalRow): Unit = inserts.write(row)

      override def commit(): WriterCommitMessage = {
        val ins = inserts.commit().asInstanceOf[MemCommit]
        MemMorCommit(ins, deletes.view.mapValues(_.toSeq).toMap)
      }
      override def abort(): Unit = inserts.abort()
      override def close(): Unit = inserts.close()
    }
}

/** Per-file COLUMN NDV sketches for the cost-based optimizer — the
  * statistic zone maps can't carry: how SELECTIVE an equality predicate
  * is. `TBLPROPERTIES ('ndvFor'='col[,col...]')` makes [[MemFileWriter]]
  * keep a K-MINIMUM-VALUES distinct sketch per (file, column) — the K
  * smallest 63-bit hashes seen, carried as an `ndv:<col>@<base64>`
  * manifest token (~700 chars). Sketches MERGE exactly (union of minima,
  * keep the K smallest — distinct counts don't add, minima sets do), so
  * the table-level NDV estimate is (K−1)·2⁶³ / kth-minimum, exact below
  * K distinct values, and the scan surfaces it through DSv2
  * `Statistics.columnStats()` — the SPARK-41378 channel Catalyst's CBO
  * reads: with `spark.sql.cbo.enabled`, `WHERE k = ?` on an NDV-carrying
  * column estimates rows/NDV, the filtered relation's size shrinks at
  * PLAN time, and the join build side flips to broadcast before any
  * AQE runtime measurement — the Iceberg/Delta `ANALYZE`-statistics
  * story, computed incrementally at write time instead of by a scan.
  * Deterministic MD5 hashing (the repo's shared-hash convention), so
  * estimates are reproducible across runs and engines.
  */
object MemNdv {
  val K = 64

  def colsOf(props: Map[String, String]): Seq[String] =
    props.get("ndvFor").toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** 63-bit non-negative MD5 hash of the value's canonical string. */
  def hash(v: Any): Long = {
    val s = v match {
      case u: UTF8String => u.toString
      case x => String.valueOf(x)
    }
    val md = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(md).getLong(0) >>> 1
  }

  /** Streaming K-minimum tracker (one per tracked column per writer). */
  final class Tracker {
    private val set = new java.util.TreeSet[java.lang.Long]()
    def add(h: Long): Unit =
      if (set.size < K) { set.add(h); () }
      else if (h < set.last) { set.add(h); if (set.size > K) set.pollLast(); () }
    def minima: Seq[Long] = {
      import scala.jdk.CollectionConverters._
      set.iterator().asScala.map(_.longValue()).toSeq
    }
  }

  def encode(minima: Seq[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(minima.length * 8)
    minima.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  def decode(b64: String): Seq[Long] = {
    val bytes = try java.util.Base64.getDecoder.decode(b64) catch {
      case _: IllegalArgumentException => Array.empty[Byte]
    }
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Seq.fill(bytes.length / 8)(bb.getLong)
  }

  /** Exact merge: union of every file's minima, K smallest kept. */
  def merge(tokens: Seq[String]): Seq[Long] =
    tokens.flatMap(decode).distinct.sorted.take(K)

  /** KMV estimator over merged minima: exact under K distinct values,
    * (K−1)·2⁶³ / kth-minimum above (±~13% at K=64 — selectivity-grade).
    */
  def estimate(minima: Seq[Long]): Long =
    if (minima.isEmpty) 0L
    else if (minima.size < K) minima.size.toLong
    else math.max(K.toLong,
      ((K - 1).toDouble * math.pow(2, 63) / math.max(1L, minima.last).toDouble).toLong)
}

/** Per-file VALUE HISTOGRAMS for the cost-based optimizer — the
  * statistic NDV and zone maps can't carry: WHERE the rows sit inside
  * [min, max]. Catalyst's min/max-only range estimation interpolates
  * UNIFORMLY, so on a skewed column (95% of values in one narrow band, a
  * long sparse tail) a range predicate over the tail estimates nearly
  * the whole table and the planner keeps a shuffle join it should have
  * broadcast. `TBLPROPERTIES ('histFor'='col[,col...]')` makes
  * [[MemFileWriter]] count the column's values into a FIXED deterministic
  * log-bucketing (HDR-histogram style: exact below 16, then 8
  * sub-buckets per power of two — ≤12.5% boundary error, ≤~1000 buckets
  * over the full signed-long domain), carried sparsely as a
  * `hist:<col>@<base64>` manifest token. Counts MERGE exactly (per-bucket
  * addition — the same reason the zone maps and KMV minima live in the
  * manifest: incremental maintenance at write time, no ANALYZE scan), and
  * at plan time the merged counts collapse into the EQUI-HEIGHT histogram
  * (32 bins, heavy buckets repeat — exactly the shape Spark's own
  * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` produces) surfaced
  * through DSv2 `ColumnStatistics.histogram()` (SPARK-41378), which
  * Catalyst's FilterEstimation uses for range-predicate selectivity.
  * Long/Int columns only, like the zone maps.
  */
object MemHist {
  /** Sub-bucket bits per power-of-two octave: 2³ = 8 sub-buckets,
    * bounding any bucket's relative width (hence any bin boundary's
    * relative error) at 2⁻³ = 12.5%.
    */
  val SubBits = 3
  private val Base = 1 << SubBits
  /** Equi-height bins surfaced to the CBO (Spark's own
    * `spark.sql.statistics.histogram.numBins` default is 254; 64 keeps
    * boundary-bin interpolation error under ~2 bins' mass while staying
    * a trivial plan-time object).
    */
  val Bins = 64

  def colsOf(props: Map[String, String]): Seq[String] =
    props.get("histFor").toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** Bucket index of a non-negative value: identity below 2·Base (exact
    * small values), then (octave, top SubBits bits) — contiguous, so
    * bucket edges are monotone in the index.
    */
  private def posIdx(v: Long): Int =
    if (v < 2L * Base) v.toInt
    else {
      val n = 63 - java.lang.Long.numberOfLeadingZeros(v)
      val sub = ((v >>> (n - SubBits)) & (Base - 1)).toInt
      ((n - SubBits) << SubBits) + Base + sub
    }

  /** Lower edge of a non-negative bucket (inverse of [[posIdx]]),
    * clamped at the domain top: the octave above bit 62 would need
    * `1L << 63`, which overflows — Long.MaxValue is the honest edge.
    */
  private def posLo(idx: Int): Long =
    if (idx < 2 * Base) idx.toLong
    else {
      val m = idx - Base
      val n = (m >> SubBits) + SubBits
      if (n >= 63) Long.MaxValue
      else {
        val sub = m & (Base - 1)
        (1L << n) + (sub.toLong << (n - SubBits))
      }
    }

  /** Signed bucket index: negatives mirror to negative indices
    * (`-1 - posIdx(-(v+1))`), which keeps index order == value order and
    * sidesteps the `-Long.MinValue` overflow.
    */
  def idx(v: Long): Int = if (v >= 0) posIdx(v) else -1 - posIdx(-(v + 1))

  /** [lower, upper) edges of bucket `i` as doubles (upper = next
    * bucket's lower: contiguous, so derived bins tile the domain).
    */
  def edges(i: Int): (Double, Double) =
    if (i >= 0) (posLo(i).toDouble, posLo(i + 1).toDouble)
    else (-posLo(-i).toDouble, -posLo(-i - 1).toDouble)

  /** Streaming per-file counter (one per tracked column per writer). */
  final class Tracker {
    private val counts = new java.util.HashMap[Int, Long]()
    def add(v: Long): Unit = { counts.merge(idx(v), 1L, _ + _); () }
    def snapshot: Map[Int, Long] = {
      import scala.jdk.CollectionConverters._
      counts.asScala.map { case (k, n) => (k.intValue(), n.longValue()) }.toMap
    }
  }

  /** Sparse (bucket, count) pairs, index-sorted, as base64 — ~12 bytes
    * per occupied bucket before encoding.
    */
  def encode(counts: Map[Int, Long]): String = {
    val sorted = counts.toSeq.filter(_._2 > 0).sortBy(_._1)
    val bb = java.nio.ByteBuffer.allocate(sorted.length * 12)
    sorted.foreach { case (i, n) => bb.putInt(i); bb.putLong(n) }
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  def decode(b64: String): Map[Int, Long] = {
    val bytes = try java.util.Base64.getDecoder.decode(b64) catch {
      case _: IllegalArgumentException => Array.empty[Byte]
    }
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Seq.fill(bytes.length / 12)((bb.getInt, bb.getLong)).toMap
  }

  /** Exact merge: per-bucket counts add. */
  def merge(tokens: Seq[String]): Map[Int, Long] =
    tokens.map(decode).foldLeft(Map.empty[Int, Long]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (i, n)) => a.updated(i, a.getOrElse(i, 0L) + n) }
    }

  /** Collapse merged bucket counts into `numBins` EQUI-HEIGHT bins
    * (lo, hi, ndv): bin boundaries are the INTERPOLATED QUANTILE values
    * at cumulative ranks j·(total/numBins) — exactly what Spark's own
    * ANALYZE computes from approx-percentiles, reconstructed here from
    * the bucket counts (uniform-within-bucket interpolation; a
    * single-value bucket returns its exact value, so a heavy hitter
    * emits ANALYZE's repeated zero-width bins and keeps its mass visible
    * to equality estimation). Quantile cuts are what make bin COUNT
    * proportional to row mass — a range predicate's selectivity becomes
    * (bins overlapped / numBins) regardless of skew — and interpolation
    * inside the straddling buckets keeps boundary bins TIGHT: a cut
    * snapped to a coarse bucket edge would hand the estimator a bin
    * spanning an empty gap, diluting a sparse tail's mass over the void
    * (measured as a ~100× join-cardinality underestimate before the
    * interpolation landed). Per-bin NDV is bounded by the bin's integer
    * width, conservative above.
    */
  def equiHeight(counts: Map[Int, Long],
      numBins: Int = Bins): (Double, Seq[(Double, Double, Long)]) = {
    val sorted = counts.toSeq.filter(_._2 > 0).sortBy(_._1)
    val total = sorted.map(_._2).sum
    if (total == 0) return (0.0, Seq.empty)
    val height = total.toDouble / numBins
    // cumulative rows BEFORE bucket i
    val cum = sorted.scanLeft(0L)(_ + _._2)
    def valueAt(r: Double): Double = {
      if (r <= 0) return edges(sorted.head._1)._1
      var i = 0
      while (i < sorted.length - 1 && cum(i + 1) < r) i += 1
      val (idx, c) = sorted(i)
      val (lo, hi) = edges(idx)
      if (hi - lo <= 1.0) lo // exact-value bucket: the quantile IS the value
      else lo + (hi - lo) * math.min(1.0, (r - cum(i)) / c.toDouble)
    }
    val top = edges(sorted.last._1)._2
    val cuts = (0 until numBins).map(j => valueAt(j * height)) :+ top
    val bins = cuts.sliding(2).map { case Seq(l, u) =>
      val width = math.max(1L, (u - l).toLong)
      (l, u, math.min(width, math.max(1L, height.toLong)))
    }.toSeq
    (height, bins)
  }
}

/** Per-file BLOOM FILTERS — the fourth pruning tier, for the predicates
  * zone maps can't touch: an equality probe on a high-cardinality or
  * string column (`WHERE doc_id = '...'`) gains nothing from min/max
  * ranges, but a tiny per-file membership sketch answers "definitely not
  * in this file" exactly the way Parquet's column bloom filters and
  * Delta's `bloomFilter` indexes do. `TBLPROPERTIES ('bloomFor'='col
  * [,col...]')` makes [[MemFileWriter]] build a 1024-bit, 5-probe double-
  * hashed bloom per (file, column), carried in the manifest entry as a
  * `bloom:<col>@<base64>` token (~176 chars — manifest-resident like the
  * zone-map stats, no sidecar read at plan time); a pushed `EqualTo`
  * probes it and drops whole files BEFORE any task launches. One-sided
  * error is the safety argument: a false positive only costs a read, a
  * miss is impossible, and the filter stays residual anyway. MD5-based
  * double hashing (h1 + i·h2) over the value's canonical string — the
  * repo's shared-hash convention, k=5 at m=1024 ≈ 0.9% FPP at 100 keys.
  */
private[v2] object MemBloom {
  val Bits = 1024
  val Words: Int = Bits / 64
  val K = 5

  def colsOf(props: Map[String, String]): Seq[String] =
    props.get("bloomFor").toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  private def hashes(v: Any): (Long, Long) = {
    val s = v match {
      case u: UTF8String => u.toString
      case x => String.valueOf(x)
    }
    val md = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val bb = java.nio.ByteBuffer.wrap(md)
    (bb.getLong(0), bb.getLong(8))
  }

  def add(bits: Array[Long], v: Any): Unit = {
    val (h1, h2) = hashes(v)
    var i = 0
    while (i < K) {
      val h = java.lang.Math.floorMod(h1 + i * h2, Bits.toLong).toInt
      bits(h >>> 6) |= 1L << (h & 63)
      i += 1
    }
  }

  def encode(bits: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(Words * 8)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** Conservative membership: true unless the sketch PROVES absence.
    * Unparseable/legacy payloads read as "may contain" — pruning must
    * never be able to change results, only plans.
    */
  def mayContain(b64: String, v: Any): Boolean = {
    val bytes = try java.util.Base64.getDecoder.decode(b64) catch {
      case _: IllegalArgumentException => return true
    }
    if (bytes.length != Words * 8) return true
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val bits = Array.fill(Words)(bb.getLong())
    val (h1, h2) = hashes(v)
    var i = 0
    while (i < K) {
      val h = java.lang.Math.floorMod(h1 + i * h2, Bits.toLong).toInt
      if ((bits(h >>> 6) & (1L << (h & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** CHECK CONSTRAINTS enforced at write time — Delta's table-constraint
  * contract: `TBLPROPERTIES ('check.<name>' = '<predicate>')` declares an
  * invariant, EVERY write path (INSERT, CTAS, streaming epoch, COW
  * rewrite, MoR insert) validates each row before it reaches a part
  * file, and a violation fails the STATEMENT — the staged files abort,
  * the table keeps its pre-statement content, and the error names the
  * constraint, its predicate, and the offending value. `ALTER TABLE ...
  * SET TBLPROPERTIES` adding a constraint validates EXISTING rows first
  * (Delta's ADD CONSTRAINT rule: an invariant that's already false is a
  * refused lie, not a latent trap).
  *
  * The predicate language is deliberately restricted to what this
  * catalog can evaluate bit-exactly without an expression engine:
  * `<intCol> <op> <literal>` (op ∈ >=, >, <=, <, =, <>) on integral
  * columns and `<col> IS NOT NULL` on any column, AND-composed by
  * declaring multiple constraints. Unparseable predicates refuse at DDL
  * time — never silently unenforced. SQL three-valued logic: a NULL
  * operand makes a comparison UNKNOWN, which does not violate (declare
  * `IS NOT NULL` separately to forbid nulls).
  */
private[v2] object MemCheck {
  sealed trait Rule extends Serializable {
    def name: String
    def expr: String
    /** write-path test over the InternalRow about to be encoded */
    def ok(row: InternalRow): Boolean
    /** alter-path test over a decoded row (existing-data validation) */
    def okVals(vals: Array[Any]): Boolean
  }

  private def cmp(op: String, v: Long, bound: Long): Boolean = op match {
    case ">=" => v >= bound
    case ">" => v > bound
    case "<=" => v <= bound
    case "<" => v < bound
    case "=" => v == bound
    case "<>" => v != bound
  }

  final case class IntCmp(name: String, expr: String, idx: Int, isLong: Boolean,
      op: String, bound: Long) extends Rule {
    override def ok(row: InternalRow): Boolean = row.isNullAt(idx) ||
      cmp(op, if (isLong) row.getLong(idx) else row.getInt(idx).toLong, bound)
    override def okVals(vals: Array[Any]): Boolean = vals(idx) match {
      case null => true
      case l: java.lang.Long => cmp(op, l, bound)
      case i: java.lang.Integer => cmp(op, i.toLong, bound)
      case _ => true
    }
  }

  final case class NotNull(name: String, expr: String, idx: Int) extends Rule {
    override def ok(row: InternalRow): Boolean = !row.isNullAt(idx)
    override def okVals(vals: Array[Any]): Boolean = vals(idx) != null
  }

  private val CmpRe = """^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(>=|<=|<>|=|<|>)\s*(-?\d+)\s*$""".r
  private val NotNullRe = """(?i)^\s*([A-Za-z_][A-Za-z0-9_]*)\s+IS\s+NOT\s+NULL\s*$""".r

  def parse(name: String, expr: String, schema: StructType): Rule = expr match {
    case CmpRe(col, op, lit) =>
      val idx = schema.fieldNames.indexOf(col)
      require(idx >= 0, s"graft mem catalog: check constraint '$name' references " +
        s"unknown column '$col'")
      val dt = schema.fields(idx).dataType
      require(dt == LongType || dt == IntegerType,
        s"graft mem catalog: check constraint '$name' compares non-integral column '$col'")
      IntCmp(name, expr, idx, dt == LongType, op, lit.toLong)
    case NotNullRe(col) =>
      val idx = schema.fieldNames.indexOf(col)
      require(idx >= 0, s"graft mem catalog: check constraint '$name' references " +
        s"unknown column '$col'")
      NotNull(name, expr, idx)
    case _ => throw new IllegalArgumentException(
      s"graft mem catalog: unsupported check predicate '$expr' for constraint '$name' — " +
        "supported: '<intCol> (>=|>|<=|<|=|<>) <literal>' or '<col> IS NOT NULL'")
  }

  /** All constraints a table's properties declare, compiled. */
  def compile(props: Map[String, String], schema: StructType): Seq[Rule] =
    props.toSeq.sortBy(_._1).collect { case (k, v) if k.startsWith("check.") =>
      parse(k.stripPrefix("check."), v, schema)
    }

  def enforce(rules: Seq[Rule], row: InternalRow): Unit = {
    var i = 0
    while (i < rules.length) {
      if (!rules(i).ok(row)) throw new IllegalArgumentException(
        s"graft mem catalog: CHECK constraint '${rules(i).name}' violated " +
          s"(${rules(i).expr}) — the statement is rolled back")
      i += 1
    }
  }
}

/** Per-file zone-map skipping over the manifest stats: a pushed
  * comparison on an integral column drops every file whose recorded
  * [lo, hi] can't satisfy it. Conservative by construction — a file
  * without stats for the column never skips.
  */
/** HIDDEN PARTITIONING (Iceberg-style partition TRANSFORMS) — the other
  * signature Iceberg metadata feature next to snapshots: the table
  * declares `TBLPROPERTIES ('graft.partition'='bucket(4,okey)')` (or
  * `days(col)` / `identity(col)`), every writer records the MIN/MAX of
  * the TRANSFORMED value per file as a virtual zone-map entry whose stats
  * KEY carries the full spec (`pt:bucket(4,okey)=0..0`), and the scan
  * prunes files by evaluating pushed filters on the SOURCE column through
  * the transform — the user never writes `WHERE bucket = ...`, which is
  * the entire point of hidden partitioning.
  *
  * PARTITION EVOLUTION falls out of the key-carries-the-spec design:
  * `ALTER TABLE ... SET TBLPROPERTIES('graft.partition'=<new spec>)`
  * changes only what FUTURE writers stamp; existing files keep their
  * old-spec token and keep pruning under it (each file prunes under the
  * spec it was written with — Iceberg's per-file `spec_id`), so evolution
  * never rewrites data. A file may carry several `pt:` tokens over its
  * lifetime (compaction re-stamps under the current spec while merging
  * old-spec inputs); every token it has is a valid pruning witness.
  *
  * Transforms are exact integer functions of an integral source column so
  * the DuckDB oracle can replay them: `bucket(n,c)` = Knuth
  * multiplicative hash mod n (a real hash, so bucket order is
  * uncorrelated with value order — only equality/IN prune), `days(c)` =
  * floorDiv(c, 86400) over epoch seconds (monotone — range filters prune
  * too), `identity(c)` (monotone).
  */
private[sources] object MemPart {
  /** ORDER-PRESERVING STRING PREFIX CODE: the first 8 UTF-8 bytes of a
    * string packed big-endian into a Long (zero-padded), with the sign
    * bit flipped so SIGNED Long comparison matches UNSIGNED byte order —
    * i.e. `a <= b (binary string order) ⟹ code(a) <= code(b)`. This is
    * how string-sourced transforms ride the same `(Long, Long)` per-file
    * stat ranges the integral zone maps use: equality pruning is exact
    * on the code, range pruning is conservative (strings sharing an
    * 8-byte prefix collide into one code — a collision only widens the
    * kept set, never drops a match). Spark compares UTF8Strings by
    * unsigned bytes, so the monotonicity claim is exact, not locale-y.
    */
  def prefixCode(bytes: Array[Byte]): Long = {
    var code = 0L
    var i = 0
    while (i < 8) {
      code = (code << 8) | (if (i < bytes.length) bytes(i) & 0xFFL else 0L)
      i += 1
    }
    code ^ Long.MinValue
  }

  /** FNV-1a 64-bit over UTF-8 bytes — the string side of the bucket
    * transform's hash (the integral side keeps the Knuth multiplicative
    * hash; both are stable public arithmetic any engine can replay).
    */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xFFL
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private def utf8(v: Any): Array[Byte] = v match {
    case u: UTF8String => u.getBytes
    case s: String => s.getBytes("UTF-8")
    case other => throw new IllegalStateException(
      s"not a string value: $other (${other.getClass.getName})")
  }

  sealed trait Spec {
    def src: String
    /** Integral-source transform value (the original surface). */
    def eval(v: Long): Long
    /** String-source transform value (UTF8String | String input);
      * specs whose transform is integral-only throw.
      */
    def evalStr(v: Any): Long =
      throw new IllegalArgumentException(
        s"graft mem catalog: transform '$render' does not apply to strings")
    /** TIMESTAMP-source transform value (input = epoch MICROS, the
      * InternalRow representation): the default treats the micros as
      * the integral they are (identity stays monotone, bucket hashes
      * them, truncate floors them); [[Days]] overrides with the µs→day
      * divisor, since "day" is unit-sensitive.
      */
    def evalTsMicros(us: Long): Long = eval(us)
    /** DATE-source transform value (input = epoch DAYS, the InternalRow
      * representation): the default treats the day ordinal as the
      * integral; the calendar transforms override.
      */
    def evalDateDays(d: Long): Long = eval(d)
    /** Type-dispatched evaluation over decoded row / filter values.
      * Timestamp-typed FILTER values arrive as java.sql.Timestamp /
      * Instant (self-describing, converted to micros here); timestamp
      * ROW values arrive as bare Longs and must go through [[MemPart
      * .evalAt]] with the column's DataType instead — a bare Long is
      * indistinguishable from an epoch-seconds BIGINT.
      */
    final def evalAny(v: Any): Option[Long] = v match {
      case l: java.lang.Long => Some(eval(l.longValue()))
      case i: java.lang.Integer => Some(eval(i.longValue()))
      case s: java.lang.Short => Some(eval(s.longValue()))
      case b: java.lang.Byte => Some(eval(b.longValue()))
      // Try, not throw: a STRING filter value can meet an INTEGRAL-only
      // transform via a stale file stamp (column dropped and re-added
      // as STRING with old `pt:days(c)` stamps surviving) — incompatible
      // spec/value pairs must degrade to "can't evaluate" (no skip, no
      // stamp), never fail the query at plan time
      case u: UTF8String => scala.util.Try(evalStr(u)).toOption
      case s: String => scala.util.Try(evalStr(s)).toOption
      case t: java.sql.Timestamp => Some(evalTsMicros(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
      case i: java.time.Instant => Some(evalTsMicros(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)))
      case d: java.sql.Date => Some(evalDateDays(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong))
      case d: java.time.LocalDate => Some(evalDateDays(d.toEpochDay))
      case _ => None
    }
    /** Monotone non-decreasing transforms admit range pruning;
      * bucket admits equality/IN only.
      */
    def monotone: Boolean
    def render: String
    final def statKey: String = "pt:" + render
    /** The stats key of this transform's per-file NULL source-row count. */
    final def nullKey: String = "ptn:" + render
  }
  final case class Bucket(n: Int, src: String) extends Spec {
    def eval(v: Long): Long = java.lang.Math.floorMod(v * 2654435761L, n.toLong)
    override def evalStr(v: Any): Long =
      java.lang.Math.floorMod(fnv1a64(utf8(v)), n.toLong)
    def monotone = false
    def render = s"bucket($n,$src)"
  }
  final case class Days(src: String) extends Spec {
    def eval(v: Long): Long = java.lang.Math.floorDiv(v, 86400L)
    /** TIMESTAMP sources carry MICROS — one day = 86 400 000 000 µs
      * (matches Iceberg's days over timestamps; UTC session).
      */
    override def evalTsMicros(us: Long): Long =
      java.lang.Math.floorDiv(us, 86400000000L)
    /** A DATE already IS the day ordinal. */
    override def evalDateDays(d: Long): Long = d
    def monotone = true
    def render = s"days($src)"
  }

  /** Iceberg's `hours(col)` — hour ordinal since epoch (UTC). */
  final case class Hours(src: String) extends Spec {
    def eval(v: Long): Long = java.lang.Math.floorDiv(v, 3600L)
    override def evalTsMicros(us: Long): Long =
      java.lang.Math.floorDiv(us, 3600000000L)
    def monotone = true
    def render = s"hours($src)"
  }

  /** Month ordinal since 1970-01 (UTC) from epoch seconds or micros —
    * CALENDAR arithmetic (months are not fixed-width), via java.time.
    * Monotone: later instants never map to an earlier month.
    */
  def monthOrdinal(epochSec: Long): Long = {
    val d = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(epochSec), java.time.ZoneOffset.UTC)
    (d.getYear - 1970L) * 12L + (d.getMonthValue - 1L)
  }

  /** Iceberg's `months(col)`. */
  final case class Months(src: String) extends Spec {
    def eval(v: Long): Long = monthOrdinal(v)
    override def evalTsMicros(us: Long): Long =
      monthOrdinal(java.lang.Math.floorDiv(us, 1000000L))
    override def evalDateDays(d: Long): Long = {
      val ld = java.time.LocalDate.ofEpochDay(d)
      (ld.getYear - 1970L) * 12L + (ld.getMonthValue - 1L)
    }
    def monotone = true
    def render = s"months($src)"
  }

  /** Iceberg's `years(col)` — year ordinal since 1970 (UTC). */
  final case class Years(src: String) extends Spec {
    def eval(v: Long): Long = java.time.LocalDate.ofInstant(
      java.time.Instant.ofEpochSecond(v), java.time.ZoneOffset.UTC).getYear - 1970L
    override def evalTsMicros(us: Long): Long =
      eval(java.lang.Math.floorDiv(us, 1000000L))
    override def evalDateDays(d: Long): Long =
      java.time.LocalDate.ofEpochDay(d).getYear - 1970L
    def monotone = true
    def render = s"years($src)"
  }
  final case class Identity(src: String) extends Spec {
    def eval(v: Long): Long = v
    override def evalStr(v: Any): Long = prefixCode(utf8(v))
    def monotone = true
    def render = s"identity($src)"
  }

  /** Iceberg's `truncate[W]`: integral sources floor to a multiple of
    * `n` (`v - floorMod(v, n)` — monotone, so range filters prune);
    * string sources truncate to the first `n` CODEPOINTS then take the
    * prefix code (truncation is monotone in binary string order, the
    * prefix code preserves it, so the composition stays monotone).
    */
  final case class Truncate(n: Int, src: String) extends Spec {
    def eval(v: Long): Long = v - java.lang.Math.floorMod(v, n.toLong)
    override def evalStr(v: Any): Long = {
      val s = v match {
        case u: UTF8String => u.toString
        case x: String => x
        case other => throw new IllegalStateException(s"not a string value: $other")
      }
      val cut = s.offsetByCodePoints(0, math.min(n, s.codePointCount(0, s.length)))
      prefixCode(s.substring(0, cut).getBytes("UTF-8"))
    }
    def monotone = true
    def render = s"truncate($n,$src)"
  }

  private val BucketRe = """bucket\((\d+),([A-Za-z0-9_]+)\)""".r
  private val DaysRe = """days\(([A-Za-z0-9_]+)\)""".r
  private val HoursRe = """hours\(([A-Za-z0-9_]+)\)""".r
  private val MonthsRe = """months\(([A-Za-z0-9_]+)\)""".r
  private val YearsRe = """years\(([A-Za-z0-9_]+)\)""".r
  private val IdentityRe = """identity\(([A-Za-z0-9_]+)\)""".r
  private val TruncateRe = """truncate\((\d+),([A-Za-z0-9_]+)\)""".r

  /** Parse ONE spec atom (no schema validation — manifests may carry
    * specs of since-evolved layouts).
    */
  def parse(spec: String): Option[Spec] = spec.trim match {
    case BucketRe(n, c) if n.toInt > 0 => Some(Bucket(n.toInt, c))
    case DaysRe(c) => Some(Days(c))
    case HoursRe(c) => Some(Hours(c))
    case MonthsRe(c) => Some(Months(c))
    case YearsRe(c) => Some(Years(c))
    case IdentityRe(c) => Some(Identity(c))
    case TruncateRe(n, c) if n.toInt > 0 => Some(Truncate(n.toInt, c))
    case _ => None
  }

  /** Parse a MULTI-TRANSFORM spec list — Iceberg's standard layout
    * `'days(ts),bucket(8,k)'`. Atoms are `name(args)` with no nested
    * parens, so the list splits on commas that FOLLOW a close-paren
    * (the comma inside `bucket(8,k)` never qualifies). Unparseable
    * atoms drop (same contract as [[parse]]).
    */
  def parseMulti(spec: String): Seq[Spec] =
    spec.trim.split("""(?<=\))\s*,\s*""").toSeq.flatMap(parse)

  private def specTypeOk(spec: Spec, dt: DataType): Boolean = spec match {
    // the TIME transforms are unit-interpreting: integral epoch seconds
    // or a real TIMESTAMP, never strings
    case _: Hours => dt == LongType || dt == IntegerType || dt == TimestampType
    case _: Days | _: Months | _: Years =>
      dt == LongType || dt == IntegerType || dt == TimestampType || dt == DateType
    case _ => dt == LongType || dt == IntegerType || dt == StringType ||
      dt == TimestampType || dt == DateType
  }

  /** Evaluation with the SOURCE COLUMN TYPE in hand — the stamping-side
    * twin of `evalAny`: a TIMESTAMP column's decoded value is a bare
    * Long of MICROS, so the caller's DataType is what routes it to
    * `evalTsMicros` (filter-side values are self-describing Timestamp
    * objects and go through `evalAny` directly).
    */
  def evalAt(spec: Spec, dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (TimestampType, l: java.lang.Long) => Some(spec.evalTsMicros(l.longValue()))
    case (DateType, i: java.lang.Integer) => Some(spec.evalDateDays(i.longValue()))
    case _ => spec.evalAny(v)
  }

  /** The table's CURRENT spec list, schema-validated (DDL-time check):
    * every atom must parse, name a schema column, and apply to that
    * column's type (`days` is integral-only; `identity`/`bucket`/
    * `truncate` also take strings — the tenant/language corpus-mixture
    * keys a training-data lakehouse partitions by).
    */
  def specsOf(props: Map[String, String], schema: StructType): Seq[Spec] =
    props.get("graft.partition").map { s =>
      val atoms = s.trim.split("""(?<=\))\s*,\s*""").toSeq
      val specs = atoms.map { a =>
        parse(a).getOrElse(throw new IllegalArgumentException(
          s"graft mem catalog: unsupported partition spec '$a' — use " +
            "bucket(N,col), days/hours/months/years(col), identity(col) " +
            "or truncate(N,col), comma-separated for a multi-transform layout"))
      }
      specs.foreach { spec =>
        val f = schema.fields.find(_.name == spec.src).getOrElse(
          throw new IllegalArgumentException(
            s"graft mem catalog: partition source column '${spec.src}' not in schema"))
        require(specTypeOk(spec, f.dataType),
          s"graft mem catalog: transform '${spec.render}' does not apply to " +
            s"column '${spec.src}' of type ${f.dataType.simpleString}")
      }
      require(specs.map(_.render).distinct.size == specs.size,
        s"graft mem catalog: duplicate transform in partition spec '$s'")
      specs
    }.getOrElse(Seq.empty)

  /** Spec list zipped with each transform's source-column ordinal —
    * the shape every stats-stamping writer iterates. Specs whose source
    * column is absent from `schema` drop (a since-evolved spec can
    * name a column a projection pruned).
    */
  def specsWithIdx(partSpec: Option[String], schema: StructType): Seq[(Spec, Int)] =
    partSpec.toSeq.flatMap(parseMulti).flatMap { s =>
      schema.fieldNames.indexOf(s.src) match {
        case -1 => None
        case i => Some((s, i))
      }
    }

  /** The V2 transform expression a routed write clusters on (SPARK-39607
    * resolves named transforms through the catalog's FunctionCatalog).
    */
  def routeExpr(s: Spec): org.apache.spark.sql.connector.expressions.Expression = {
    import org.apache.spark.sql.connector.expressions.Expressions
    s match {
      case Bucket(n, c) => Expressions.bucket(n, c)
      case Days(c) => Expressions.apply("days", Expressions.column(c))
      case Hours(c) => Expressions.apply("hours", Expressions.column(c))
      case Months(c) => Expressions.apply("months", Expressions.column(c))
      case Years(c) => Expressions.apply("years", Expressions.column(c))
      case Identity(c) => Expressions.identity(c)
      case Truncate(n, c) => Expressions.apply("truncate",
        Expressions.literal(n), Expressions.column(c))
    }
  }

  /** Every spec a file entry recorded a transform range for. */
  def specsOf(e: MemCatalog.FileEntry): Seq[(Spec, (Long, Long))] =
    e.stats.toSeq.collect {
      case (k, range) if k.startsWith("pt:") =>
        parse(k.stripPrefix("pt:")).map(_ -> range)
    }.flatten
}

private[v2] object MemSkip {
  import org.apache.spark.sql.sources._

  private def num(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    // TIMESTAMP filter values → the epoch MICROS the zone maps stamp
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    // DATE filter values → the epoch DAYS the zone maps stamp
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  private def intCol(name: String, schema: StructType): Boolean =
    schema.fields.exists(f => f.name == name &&
      (f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == TimestampType || f.dataType == DateType))

  private def strCol(name: String, schema: StructType): Boolean =
    schema.fields.exists(f => f.name == name && f.dataType == StringType)

  /** Can this filter ever skip a file (so it's worth reporting pushed)?
    * Equality probes additionally qualify on STRING columns — zone maps
    * can't serve them, but a per-file bloom (when the table declares
    * `bloomFor`) can; entries without a bloom just never skip.
    */
  def usable(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(c, v) =>
      (intCol(c, schema) && num(v).isDefined) ||
        (strCol(c, schema) && v.isInstanceOf[String])
    // string RANGE probes qualify too: zone maps can't serve them, but a
    // monotone string-typed partition transform (identity/truncate prefix
    // codes) can — non-partitioned entries just never skip
    case GreaterThan(c, v) => (intCol(c, schema) && num(v).isDefined) ||
      (strCol(c, schema) && v.isInstanceOf[String])
    case GreaterThanOrEqual(c, v) => (intCol(c, schema) && num(v).isDefined) ||
      (strCol(c, schema) && v.isInstanceOf[String])
    case LessThan(c, v) => (intCol(c, schema) && num(v).isDefined) ||
      (strCol(c, schema) && v.isInstanceOf[String])
    case LessThanOrEqual(c, v) => (intCol(c, schema) && num(v).isDefined) ||
      (strCol(c, schema) && v.isInstanceOf[String])
    case In(c, vs) =>
      (intCol(c, schema) && vs.nonEmpty && vs.forall(num(_).isDefined)) ||
        (strCol(c, schema) && vs.nonEmpty && vs.forall(_.isInstanceOf[String]))
    case And(l, r) => usable(l, schema) || usable(r, schema)
    case Or(l, r) => usable(l, schema) && usable(r, schema)
    case _ => false
  }

  /** True iff the file's stats PROVE no row can match `f`. */
  def skips(f: Filter, stats: Map[String, (Long, Long)]): Boolean = f match {
    case EqualTo(c, v) => stats.get(c).zip(num(v))
      .exists { case ((lo, hi), x) => x < lo || x > hi }
    case GreaterThan(c, v) => stats.get(c).zip(num(v))
      .exists { case ((_, hi), x) => hi <= x }
    case GreaterThanOrEqual(c, v) => stats.get(c).zip(num(v))
      .exists { case ((_, hi), x) => hi < x }
    case LessThan(c, v) => stats.get(c).zip(num(v))
      .exists { case ((lo, _), x) => lo >= x }
    case LessThanOrEqual(c, v) => stats.get(c).zip(num(v))
      .exists { case ((lo, _), x) => lo > x }
    case In(c, vs) => stats.get(c)
      .exists { case (lo, hi) => vs.flatMap(num).forall(x => x < lo || x > hi) }
    case And(l, r) => skips(l, stats) || skips(r, stats)
    case Or(l, r) => skips(l, stats) && skips(r, stats)
    case _ => false
  }

  /** True iff one of the file's recorded partition-transform ranges
    * PROVES no row can match `f` — the hidden-partitioning pruning tier.
    * A source-column filter is pushed through the transform: equality
    * maps to "transform(v) outside the file's transform range" under ANY
    * spec; range filters additionally require a MONOTONE transform
    * (c ≥ v ⟹ t(c) ≥ t(v), so a file whose transform hi < t(v) cannot
    * match — false for bucket, whose hash decorrelates order). STRING
    * filter values push through string-typed transforms the same way
    * (`evalAny` dispatches; `identity`/`truncate` prefix codes are
    * monotone in binary string order — exactly Spark's UTF8String
    * comparison — so string range filters prune too). Filters over a
    * multi-transform layout prune on EVERY transform of their column
    * independently — the conjunction, since all stamps are truths.
    */
  def skipsByPartition(f: Filter, e: MemCatalog.FileEntry): Boolean = {
    val specs = MemPart.specsOf(e)
    def onCol(c: String)(test: (MemPart.Spec, (Long, Long)) => Boolean): Boolean =
      specs.exists { case (spec, range) => spec.src == c && test(spec, range) }
    f match {
      case EqualTo(c, v) =>
        onCol(c) { case (spec, (lo, hi)) =>
          spec.evalAny(v).exists(t => t < lo || t > hi)
        }
      case In(c, vs) if vs.nonEmpty =>
        onCol(c) { case (spec, (lo, hi)) =>
          val ts = vs.toSeq.map(spec.evalAny)
          ts.forall(_.isDefined) && ts.flatten.forall(t => t < lo || t > hi)
        }
      case GreaterThan(c, v) =>
        onCol(c) { case (spec, (_, hi)) =>
          spec.monotone && spec.evalAny(v).exists(hi < _) }
      case GreaterThanOrEqual(c, v) =>
        onCol(c) { case (spec, (_, hi)) =>
          spec.monotone && spec.evalAny(v).exists(hi < _) }
      case LessThan(c, v) =>
        onCol(c) { case (spec, (lo, _)) =>
          spec.monotone && spec.evalAny(v).exists(lo > _) }
      case LessThanOrEqual(c, v) =>
        onCol(c) { case (spec, (lo, _)) =>
          spec.monotone && spec.evalAny(v).exists(lo > _) }
      case _ => false
    }
  }

  /** Entry-level skipping: zone maps first, then the partition-transform
    * ranges, then the per-file bloom for equality probes (`mayContain ==
    * false` proves absence; one-sided error keeps pruning a pure plan
    * optimization).
    */
  def skipsEntry(f: Filter, e: MemCatalog.FileEntry): Boolean = f match {
    case And(l, r) => skipsEntry(l, e) || skipsEntry(r, e)
    case Or(l, r) => skipsEntry(l, e) && skipsEntry(r, e)
    case EqualTo(c, v) => skips(f, e.stats) || skipsByPartition(f, e) ||
      e.blooms.get(c).exists(b => !MemBloom.mayContain(b, v))
    // IN prunes only when the sketch proves EVERY member absent
    case In(c, vs) => skips(f, e.stats) || skipsByPartition(f, e) ||
      (vs.nonEmpty && e.blooms.get(c).exists(b =>
        vs.forall(v => !MemBloom.mayContain(b, v))))
    case _ => skips(f, e.stats) || skipsByPartition(f, e)
  }
}

/** The scan a COMPLETE metadata-only aggregate pushdown produces: one
  * partition, one row, values computed on the driver from the manifest —
  * no part file is ever opened (the spec proves it by hiding them).
  */
private[v2] class MemAggScan(dir: Path, aggSchema: StructType, values: Seq[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_mem_metaagg $dir aggPushed=[${aggSchema.fieldNames.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(MemAggPartition(values.map {
      case i: Integer => Left(i.toLong)
      case l: java.lang.Long => Right(l.longValue())
    }))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = !emitted && { emitted = true; true }
          override def get(): InternalRow = InternalRow.fromSeq(
            p.asInstanceOf[MemAggPartition].values.map {
              case Left(i) => i.toInt
              case Right(l) => l
            })
          override def close(): Unit = ()
        }
    }
}

/** Left = IntegerType value (carried widened), Right = LongType. */
private[v2] case class MemAggPartition(values: Seq[Either[Long, Long]])
    extends InputPartition

private[v2] class MemScan(dir: Path, full: StructType, required: StructType,
    version: Option[Int] = None,
    skipFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    changeFeed: Boolean = false,
    startingVersion: Option[Int] = None,
    netChanges: Boolean = false,
    branch: Option[String] = None,
    // `.option("groupByPartition", "true")` — Iceberg's
    // preserve-data-grouping: report KeyGroupedPartitioning and emit
    // one HasPartitionKey unit per (tuple, file); Spark groups equal
    // keys into one task (storage-partitioned joins) and can split a
    // hot tuple under partiallyClusteredDistribution. Costs scan
    // parallelism in the plain case (task count = tuple count) —
    // opt-in per read, exactly because of that trade.
    groupByPartition: Boolean = false)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  override def readSchema(): StructType = required

  /** The snapshot this scan reads: a branch HEAD (audit reads of
    * unpublished WAP writes), a pinned version (time travel), or main.
    */
  private def snapshot: (Seq[MemCatalog.FileEntry], Seq[MemCatalog.EqDelete]) =
    branch match {
      case Some(b) =>
        val m = MemCatalog.branchManifest(dir, b)
        (m.files.sortBy(_.name), m.eqDels)
      case None =>
        (MemCatalog.liveEntries(dir, version), MemCatalog.eqDeletes(dir, version))
    }

  /** Planner statistics from the manifest: without them a V2 relation
    * defaults to `spark.sql.defaultSizeInBytes` (Long.MaxValue), so a
    * 10-row catalog table would NEVER be chosen as a broadcast side —
    * every join against it degraded to a shuffle. Size = the live files'
    * on-disk bytes (O(#files) driver-side stat calls at plan time), the
    * same bookkeeping a lakehouse manifest carries.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = {
        val bytes = snapshot._1.map(e => dir.resolve(e.name))
          .map(p => if (Files.exists(p)) Files.size(p) else 0L).sum
        java.util.OptionalLong.of(math.max(1L, bytes))
      }
      /** Exact when every live entry recorded its "#rows" (all writers
        * do; a deletion vector subtracts its masked positions) — absent
        * otherwise, because a PARTIAL sum would misestimate, and a wrong
        * cardinality is worse for the planner than none.
        */
      override def numRows(): java.util.OptionalLong = {
        val (entries, eqDels) = snapshot
        // an applicable equality delete makes the count unknowable from
        // metadata (how many rows match is a data question) — absent, a
        // wrong cardinality being worse for the planner than none; a
        // row-access policy hides an unknowable share the same way
        if (eqDels.exists(d => entries.exists(e => MemCatalog.seqOf(e) < d.seq)) ||
          MemCatalog.readProps(dir).contains("graft.policy"))
          return java.util.OptionalLong.empty()
        val counts = entries.map(e => e.stats.get("#rows").map(_._1 -
          e.dv.fold(0L)(d => MemCatalog.readDv(dir.resolve(d)).size.toLong)))
        if (entries.nonEmpty && counts.forall(_.isDefined))
          java.util.OptionalLong.of(math.max(0L, counts.flatten.sum))
        else java.util.OptionalLong.empty()
      }

      /** COLUMN-LEVEL statistics (SPARK-41378): the merged K-minimum-
        * values distinct count per `ndvFor` column (exact KMV merge
        * across the live files — only when EVERY live entry carries the
        * sketch, a partial merge would under-count), plus zone-map
        * min/max. With `spark.sql.cbo.enabled` Catalyst's
        * FilterEstimation turns an equality predicate into rows/NDV
        * selectivity, shrinking the filtered relation at PLAN time —
        * what flips a join's build side to broadcast before AQE ever
        * measures a shuffle.
        */
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val res = new java.util.HashMap[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        val (entries, _) = snapshot
        if (entries.isEmpty) return res
        // a column surfaces a statistic only when EVERY live entry
        // carries it — a partial merge would under-count NDV / drop mass
        // from the histogram
        val ndvCols = entries.head.ndvs.keySet
          .filter(c => entries.forall(_.ndvs.contains(c)))
        val histCols = entries.head.hists.keySet
          .filter(c => entries.forall(_.hists.contains(c)))
        (ndvCols ++ histCols).foreach { c =>
          val est: Option[Long] = if (!ndvCols(c)) None else
            Some(MemNdv.estimate(MemNdv.merge(entries.map(_.ndvs(c)))))
          val field = full.fields.find(_.name == c)
          val range: Option[(Long, Long)] =
            if (entries.forall(_.stats.contains(c)) &&
              field.exists(f => f.dataType == LongType || f.dataType == IntegerType))
              Some((entries.map(_.stats(c)._1).min, entries.map(_.stats(c)._2).max))
            else None
          def boxed(v: Long): Object = field.map(_.dataType) match {
            case Some(IntegerType) => java.lang.Integer.valueOf(v.toInt)
            case _ => java.lang.Long.valueOf(v)
          }
          // the merged per-file counts collapsed into the equi-height
          // histogram FilterEstimation reads for range selectivity
          val mergedHist: Option[Map[Int, Long]] =
            if (!histCols(c)) None
            else Some(MemHist.merge(entries.map(_.hists(c))))
          val hist: Option[(Double, Seq[(Double, Double, Long)])] =
            mergedHist.map(MemHist.equiHeight(_)).filter(_._2.nonEmpty)
          // a histogram column's NULL COUNT falls out for free: the
          // counts cover exactly the non-null values, and #rows is exact
          // — several FilterEstimation paths (IsNotNull, conjunctions)
          // refuse without it
          val nulls: Option[Long] = mergedHist.flatMap { m =>
            val counted = m.values.sum
            val rows = entries.map(_.stats.get("#rows").map(_._1))
            if (rows.forall(_.isDefined)) Some(math.max(0L, rows.flatten.sum - counted))
            else None
          }
          res.put(Expressions.column(c),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                est.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
              override def min(): java.util.Optional[Object] =
                range.fold(java.util.Optional.empty[Object]())(r =>
                  java.util.Optional.of(boxed(r._1)))
              override def max(): java.util.Optional[Object] =
                range.fold(java.util.Optional.empty[Object]())(r =>
                  java.util.Optional.of(boxed(r._2)))
              override def nullCount(): java.util.OptionalLong =
                nulls.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                hist.fold(java.util.Optional.empty[
                  org.apache.spark.sql.connector.read.colstats.Histogram]()) {
                  case (h, binSeq) => java.util.Optional.of(
                    new org.apache.spark.sql.connector.read.colstats.Histogram {
                      override def height(): Double = h
                      override def bins(): Array[
                          org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                        binSeq.map { case (l, u, n) =>
                          new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                            override def lo(): Double = l
                            override def hi(): Double = u
                            override def ndv(): Long = n
                          }: org.apache.spark.sql.connector.read.colstats.HistogramBin
                        }.toArray
                    })
                }
            })
        }
        res
      }
    }
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_mem $dir cols=${required.fieldNames.mkString(",")}" +
      version.fold("")(v => s" version=$v") +
      branch.fold("")(b => s" branch=$b") +
      (if (skipFilters.isEmpty) "" else s" skipBy=[${skipFilters.mkString(", ")}]") +
      partsPlanned.fold("") { case (k, t) => s" ${ScanMetrics.Kept}=$k ${ScanMetrics.Total}=$t" }

  /** STORAGE-PARTITIONED JOIN eligibility: the CURRENT spec list, but
    * only when every transform's partition VALUE is the value the
    * resolved catalyst transform would compute — bucket/days/truncate
    * are Long-valued functions (the stamp IS the function output), and
    * identity over an integral column reports the raw value. Identity
    * over a STRING column is excluded: its stamp is the prefix CODE
    * while the catalyst identity expression is the raw string — a
    * value/type mismatch that would corrupt cross-side partition
    * comparisons.
    */
  private lazy val spjSpecs: Seq[MemPart.Spec] =
    if (!groupByPartition || changeFeed) Seq.empty
    else {
      val specs = MemPart.specsOf(MemCatalog.readProps(dir), full)
      val ok = specs.nonEmpty && specs.forall {
        case MemPart.Identity(c) => full.fields.find(_.name == c)
          .exists(f => f.dataType == LongType || f.dataType == IntegerType ||
            f.dataType == StringType)
        case _ => true
      }
      if (ok) specs else Seq.empty
    }

  /** ONE snapshot for the execution path: [[tupleGroups]] (partition
    * grouping, forced at plan time only for grouped scans) and
    * [[plannedPartitions]] read the SAME (files, equality-deletes) pair
    * — a commit landing between the two reads must not apply a newer
    * delete set to an older file set (torn snapshot). Plan-time-only
    * surfaces (estimateStatistics, the ungrouped partition count) stay
    * on the un-memoized [[snapshot]] so execution of an ungrouped scan
    * reads the freshest committed state, like any lakehouse re-read.
    */
  private lazy val scanSnapshot: (Seq[MemCatalog.FileEntry], Seq[MemCatalog.EqDelete]) =
    snapshot

  /** Identity transform whose source column is STRING-typed: its per-
    * file `pt:` stamp is the lossy prefix CODE, so SPJ purity and the
    * reported partition value both come from the exact raw-value `ptv:`
    * stamp instead.
    */
  private def strIdentity(s: MemPart.Spec): Boolean = s match {
    case MemPart.Identity(c) =>
      full.fields.find(_.name == c).exists(_.dataType == StringType)
    case _ => false
  }

  /** Kept entries grouped by their partition tuple — Some only when the
    * grouping is ELIGIBLE: spec list reported, and every kept file PURE
    * under every transform (a mixed file has no tuple; falling back to
    * per-file planning keeps correctness, the join just shuffles).
    */
  private lazy val tupleGroups: Option[Seq[(Seq[Any], Seq[MemCatalog.FileEntry])]] = {
    if (spjSpecs.isEmpty) None
    else {
      val (entries, _) = scanSnapshot
      val kept = entries.filterNot(e => skipFilters.exists(MemSkip.skipsEntry(_, e)))
      // purity is a PROOF, not a heuristic: (a) the file's `ptn:` null
      // count must be PRESENT and ZERO — `pt:` ranges only cover
      // non-null source values, so a point range over a file that also
      // holds null-key rows would scatter the NULL group across tuple
      // partitions and a shuffle-eliminated GROUP BY would emit
      // duplicate NULL groups; a pre-`ptn:` file (or imported file with
      // no stats) reads as unknown and falls back to per-file planning;
      // (b) string-identity transforms need the exact `ptv:` raw value
      // (prefix-code equality is not value equality); every other
      // transform needs its `pt:` range collapsed to a point.
      def pureUnder(e: MemCatalog.FileEntry, s: MemPart.Spec): Boolean =
        e.stats.get(s.nullKey).exists(_._1 == 0L) &&
          (if (strIdentity(s)) e.ptvs.contains(s.statKey)
           else e.stats.get(s.statKey).exists(r => r._1 == r._2))
      val pure = kept.nonEmpty && kept.forall(e =>
        spjSpecs.forall(s => pureUnder(e, s)))
      if (!pure) None
      else {
        def boxed(s: MemPart.Spec, e: MemCatalog.FileEntry): Any = s match {
          case _ if strIdentity(s) => UTF8String.fromString(e.ptvs(s.statKey))
          case MemPart.Identity(c)
            if full.fields.find(_.name == c).exists(_.dataType == IntegerType) =>
            java.lang.Integer.valueOf(e.stats(s.statKey)._1.toInt)
          case _ => java.lang.Long.valueOf(e.stats(s.statKey)._1)
        }
        Some(kept.groupBy(e => spjSpecs.map(s => boxed(s, e)))
          .toSeq.sortBy(_._1.mkString(",")))
      }
    }
  }

  /** The SPJ report ([[SupportsReportPartitioning]]): a grouped scan
    * declares `KeyGroupedPartitioning(<transforms>, #tuples)` so a join
    * of two same-spec tables on the partition source columns plans with
    * ZERO exchanges — Spark zips the co-located tuple partitions (the
    * Iceberg storage-partitioned join). Ungrouped scans report
    * UnknownPartitioning and shuffle normally.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    tupleGroups match {
      case Some(gs) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          spjSpecs.map(MemPart.routeExpr).toArray, gs.size)
      case None =>
        // partition COUNT only — computed from a fresh snapshot WITHOUT
        // forcing the execution-path plan (planInputPartitions at plan
        // time would freeze the file list before execution)
        val (entries, _) = snapshot
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          entries.count(e => !skipFilters.exists(MemSkip.skipsEntry(_, e))))
    }

  /** (files kept, files in the snapshot) of this scan's batch planning;
    * None until [[plannedPartitions]] ran — a streaming read of the
    * table never plans here, so it reports nothing.
    */
  private var partsPlanned: Option[(Int, Int)] = None

  /** Planned once per scan instance (lazy): `outputPartitioning` needs
    * the partition COUNT and Spark may ask both — re-planning would
    * read the manifest and evaluate every skip filter twice per query.
    * What it kept is reported as the scan's [[ScanMetrics]].
    */
  private lazy val plannedPartitions: Array[InputPartition] = {
    val (entries, eqDels) = scanSnapshot
    val kept = entries.filterNot(e => skipFilters.exists(MemSkip.skipsEntry(_, e)))
    partsPlanned = Some((kept.size, entries.size))
    def filePart(e: MemCatalog.FileEntry): MemFilePartition =
      MemFilePartition(dir.resolve(e.name).toString,
        dv = e.dv.map(d => dir.resolve(d).toString),
        eq = MemCatalog.eqDeletesFor(e, eqDels)
          .map(d => (d.cols, dir.resolve(d.file).toString)),
        fileId = Some(e.name))
    tupleGroups match {
      case Some(gs) =>
        // ONE keyed partition PER FILE (HasPartitionKey), not one
        // pre-merged partition per tuple: Spark's own groupPartitions
        // collapses equal keys into one task for the plain SPJ, and
        // under partiallyClusteredDistribution it can instead REPLICATE
        // a skewed tuple's files across tasks — a pre-merged partition
        // would be an indivisible unit and one hot partition key would
        // serialize into a single straggler task.
        gs.flatMap { case (key, es) =>
          es.map(e => MemKeyedFilePartition(key, filePart(e)): InputPartition)
        }.toArray
      case None => kept.map(filePart(_): InputPartition).toArray
    }
  }

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  override def supportedCustomMetrics(): Array[CustomMetric] = ScanMetrics.supported
  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    partsPlanned.fold(Array.empty[CustomTaskMetric]) { case (k, t) => ScanMetrics.report(k, t) }

  override def createReaderFactory(): PartitionReaderFactory = {
    val props = MemCatalog.readProps(dir)
    new MemReaderFactory(full, required.fieldNames,
      MemCatalog.policyOf(props, full), MemCatalog.maskIdxOf(props, full))
  }

  /** STREAMING read of the catalog table — `readStream.table(t)` tails
    * the COMMIT LOG: offsets are manifest versions, each micro-batch is
    * one commit's FILE DELTA (manifest(end) minus manifest(start)), and
    * `latestOffset` admits one version per trigger so a drain replays
    * the table's history commit-by-commit — the Delta-streaming-source
    * model, where the table's own transaction log IS the changelog.
    * Append-only semantics by construction: a COW rewrite's post-image
    * files would stream as re-additions (exactly Delta's default, which
    * is why production streams put `ignoreChanges` decisions on the
    * reader). Restart-safe the [[SeqMicroBatchStream]] way: admission
    * control receives the committed start, so the cursor never regresses.
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(version.isEmpty, "cannot stream a time-travel-pinned table")
    require(branch.isEmpty, "cannot stream a branch (fast-forward first)")
    // streaming reads skip the column-pruning pass, and when the query
    // references ANY metadata column the analyzer appends ALL declared
    // metadata columns to the relation output — so the stream's reader
    // must emit (data ++ _file ++ _pos ++ _change_type) rows in
    // declaration order whenever the feed is metadata-shaped
    val wanted =
      if (changeFeed) full.fieldNames ++ Array("_file", "_pos", "_change_type")
      else required.fieldNames
    new MemMicroBatchStream(dir, full, wanted, changeFeed, startingVersion, netChanges)
  }
}

private[v2] case class MemVersionOffset(v: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

private[v2] class MemMicroBatchStream(dir: Path, full: StructType, wanted: Array[String],
    changeFeed: Boolean = false, startingVersion: Option[Int] = None,
    netChanges: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** -1 = before the table existed; the first batch is v0's full content
    * (the initial-snapshot-then-tail contract). With `startingVersion` N
    * the cursor starts at N−1, so the first admitted batch is commit N's
    * delta — no initial-snapshot replay.
    */
  override def initialOffset(): Offset =
    MemVersionOffset(startingVersion.fold(-1)(_ - 1))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val base = Option(start).map(_.asInstanceOf[MemVersionOffset].v).getOrElse(-1)
    MemVersionOffset(math.max(base, math.min(MemCatalog.currentVersion(dir), base + 1)))
  }

  override def latestOffset(): Offset = // legacy form: everything committed
    MemVersionOffset(MemCatalog.currentVersion(dir))

  override def deserializeOffset(json: String): Offset = MemVersionOffset(json.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val sv = start.asInstanceOf[MemVersionOffset].v
    val ev = end.asInstanceOf[MemVersionOffset].v
    if (ev <= sv) return Array.empty
    // the delta unit is (file, deletion vector, applicable EQUALITY
    // deletes), not the file name alone: a merge-on-read commit changes
    // ONLY a file's DV, and an equality-delete commit changes only the
    // delete SET a file is subject to — keying by anything less would
    // make those commits invisible to the feed. The same base file
    // legitimately appears as removed(old visibility) + added(new)
    // a vacuumed manifest must fail LOUDLY, not as a bare
    // NoSuchFileException: silently skipping would drop changes, and the
    // fix (restart from a retained startingVersion, or widen retention)
    // belongs in the message — Delta's "version no longer available"
    def manifest(v: Int): MemCatalog.Manifest =
      try MemCatalog.readManifestFull(dir, v)
      catch {
        case _: java.nio.file.NoSuchFileException =>
          throw new IllegalStateException(
            s"graft mem catalog: commit v$v of $dir was vacuumed — the change " +
              "feed cannot replay it; restart the stream from a retained " +
              "version (option(\"startingVersion\", ...)) or raise vacuum retention")
      }
    val beforeM =
      if (sv < 0) MemCatalog.Manifest(0L, Seq.empty, Map.empty)
      else manifest(sv)
    val afterM = manifest(ev)
    def key(e: MemCatalog.FileEntry, eqs: Seq[MemCatalog.EqDelete]) =
      (e.name, e.dv, MemCatalog.eqDeletesFor(e, eqs).map(_.file).sorted)
    def eqOf(e: MemCatalog.FileEntry, eqs: Seq[MemCatalog.EqDelete]) =
      MemCatalog.eqDeletesFor(e, eqs)
        .map(d => (d.cols, dir.resolve(d.file).toString))
    def part(e: MemCatalog.FileEntry, ct: String,
        eqs: Seq[MemCatalog.EqDelete]): InputPartition =
      MemFilePartition(dir.resolve(e.name).toString, ct,
        e.dv.map(d => dir.resolve(d).toString), eqOf(e, eqs),
        fileId = Some(e.name))
    val beforeEntries = beforeM.files
    val afterEntries = afterM.files
    val before = beforeEntries.map(key(_, beforeM.eqDels)).toSet
    val after = afterEntries.map(key(_, afterM.eqDels)).toSet
    val added = afterEntries.filterNot(e => before(key(e, afterM.eqDels)))
      .sortBy(_.name).map(part(_, "insert", afterM.eqDels))
    if (!changeFeed) return added.toArray
    // CHANGE FEED: one commit's row-level delta at FILE granularity —
    // files the commit RETIRED replay as "delete" rows (their bytes are
    // still on disk: retirement never deletes), files it added as
    // "insert" rows. A COW rewrite therefore emits delete+insert pairs
    // whose per-key net is exactly the change (untouched rows of a
    // rewritten file cancel), so Σ inserts − Σ deletes over the whole
    // drained feed reconstructs the table — the oracle-gated property.
    val removed = beforeEntries.filterNot(e => after(key(e, beforeM.eqDels)))
      .sortBy(_.name).map(part(_, "delete", beforeM.eqDels))
    if (!netChanges || removed.isEmpty) return (removed ++ added).toArray
    // WRITE-TIME SIDECAR fast path ([[MemCdcSidecar]]): the committing
    // statement already netted this commit's row delta — read O(changes)
    // bytes instead of re-diffing the rewritten group. Classification is
    // the same op-tag mapping the diff reader uses; absence of the pair
    // (pre-sidecar history, MoR/metadata commits, a crash between
    // publish and link) falls through to the diff below.
    if (MemCdcSidecar.existsFor(dir, ev)) {
      val (preType, postType) = afterM.op match {
        case "update" => ("update_preimage", "update_postimage")
        case _ => ("delete", "insert")
      }
      return Array(
        MemFilePartition(dir.resolve(MemCdcSidecar.preName(ev)).toString,
          preType, posOverride = Some(-1L)),
        MemFilePartition(dir.resolve(MemCdcSidecar.postName(ev)).toString,
          postType, posOverride = Some(-1L)))
    }
    // NET mode on a rewriting commit: ONE diff partition computes the
    // multiset difference retired-vs-added locally in the task — the
    // untouched rows of a rewritten file group cancel INSIDE the task
    // and never reach the wire (vs the default replay, which ships them
    // twice and nets them downstream). Classification comes from the
    // commit's recorded op: an UPDATE's leftovers are
    // update_preimage/update_postimage, a DELETE's leftovers are pure
    // deletes (its post-image adds nothing new), anything unpaired
    // (MERGE's mixed clauses, overwrites, untagged history) falls back
    // to net delete/insert — the classification an engine without
    // write-time CDC files can state truthfully. An OPTIMIZE commit's
    // diff is EMPTY by construction, so compaction is invisible to the
    // net feed — the Delta contract that maintenance is not a data
    // change. Memory = O(distinct retired rows) of one commit's
    // rewritten group, which COW already bounds to the scanned file
    // group; the 100 TB path is write-time CDC sidecars (Delta's
    // design) or hash-bucketing the diff across tasks.
    val op = afterM.op
    def side(es: Seq[MemCatalog.FileEntry], eqs: Seq[MemCatalog.EqDelete],
        other: Set[(String, Option[String], Seq[String])]) =
      es.filterNot(e => other(key(e, eqs))).sortBy(_.name).map(e =>
        (dir.resolve(e.name).toString, e.dv.map(d => dir.resolve(d).toString),
          eqOf(e, eqs)))
    Array(MemDiffPartition(side(beforeEntries, beforeM.eqDels, after),
      side(afterEntries, afterM.eqDels, before), op))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val props = MemCatalog.readProps(dir)
    new MemReaderFactory(full, wanted,
      MemCatalog.policyOf(props, full), MemCatalog.maskIdxOf(props, full))
  }

  override def commit(end: Offset): Unit = () // manifests are retained (time travel)

  override def stop(): Unit = ()
}

/** `changeType` feeds the `_change_type` metadata column: "insert" for
  * snapshot/append reads; the change-feed stream plans removed files as
  * "delete" partitions (their bytes survive on disk because DML RETIRES
  * files, never deletes them — the property that makes a commit-log CDF
  * readable after the fact).
  */
/** `dv` = absolute path of the file's deletion-vector sidecar, when the
  * snapshot's manifest entry carries one (merge-on-read): the reader
  * subtracts those base-row positions at scan time.
  */
/** `eq` = the EQUALITY deletes applicable to this file (key columns +
  * absolute sidecar path each): the reader drops rows whose key tuple a
  * sidecar lists — the scan-time merge half of Iceberg v2 equality
  * deletes, applied next to the positional vector.
  */
private[v2] case class MemFilePartition(path: String,
    changeType: String = "insert", dv: Option[String] = None,
    eq: Seq[(Seq[String], String)] = Seq.empty,
    // net change-feed rows have no single base position: sidecar-backed
    // partitions pin `_pos` to -1 like the read-side diff does
    posOverride: Option[Long] = None,
    // the MANIFEST entry name `_file` must report — for a local file the
    // path's basename (the default), but a shallow CLONE's entries are
    // absolute-path references whose basename would not round-trip
    // through the COW runtime group filter / MoR row-id delta write
    // (both match `_file` values back against entry names)
    fileId: Option[String] = None,
    // the commit this partition's changes belong to — served as the
    // `_commit_version` / `_commit_timestamp` columns by the
    // table_changes TVF's bounded multi-commit window (-1 = not a
    // versioned-window read; ts in epoch millis from the manifest)
    commitVersion: Long = -1L,
    commitTs: Long = -1L) extends InputPartition

/** One rewriting commit's NET row delta: the multiset of VISIBLE rows
  * in its retired files against those of its added files (deletion
  * vector positions and applicable equality deletes subtracted, `keep`
  * the read policy), where rows a COW rewrite merely carried over cancel.
  * Each side lists (file, dv sidecar, equality deletes); a MoR commit
  * "rewrites" a file by changing only its DV, so the same base file can
  * appear on both sides and the diff yields exactly the newly-masked
  * rows. Returns the leftover retired rows (each with the first file
  * that held it, insertion-ordered over the sorted files) and the
  * leftover added rows (with their file). The change-feed reader
  * ([[MemDiffPartition]]) and the write-time sidecar ([[MemCdcSidecar]])
  * both net through here.
  */
private[v2] object MemNetDelta {
  type Side = Seq[(String, Option[String], Seq[(Seq[String], String)])]

  private def visibleRows(path: String, dv: Option[String], eq: Seq[(Seq[String], String)],
      schema: StructType, keep: Array[Any] => Boolean): Iterator[Array[Any]] = {
    val masked = dv.map(d => MemCatalog.readDv(Paths.get(d))).getOrElse(Set.empty)
    val visible = MemCatalog.eqMask(schema, eq.map { case (c, p) => (c, Paths.get(p)) })
    val in = MemCodec.open(Paths.get(path), schema)
    try Iterator.continually(in.readRow()).takeWhile(_ != null)
      .zipWithIndex.collect { case (vals, i)
        if !masked.contains(i.toLong) && visible(vals) && keep(vals) => vals }
      .toArray.iterator
    finally in.close()
  }

  def of(removed: Side, added: Side, schema: StructType, keep: Array[Any] => Boolean)
      : (Iterator[(Seq[Any], String)], Iterator[(Seq[Any], String)]) = {
    // value = remaining count + the representative source file for `_file`
    val pre = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], (Int, String)]
    removed.foreach { case (path, dv, eq) =>
      val fn = Paths.get(path).getFileName.toString
      visibleRows(path, dv, eq, schema, keep).foreach { vals =>
        val k = vals.toSeq
        val (n, f) = pre.getOrElse(k, (0, fn))
        pre(k) = (n + 1, f)
      }
    }
    val post = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], String)]
    added.foreach { case (path, dv, eq) =>
      val fn = Paths.get(path).getFileName.toString
      visibleRows(path, dv, eq, schema, keep).foreach { vals =>
        val k = vals.toSeq
        pre.get(k) match {
          case Some((n, f)) if n > 0 => pre(k) = (n - 1, f) // carried over: cancels
          case _ => post += ((k, fn))
        }
      }
    }
    (pre.iterator.flatMap { case (k, (n, f)) => Iterator.fill(n)((k, f)) }, post.iterator)
  }
}

/** WRITE-TIME CDC SIDECARS — the 100 TB path for the net change feed
  * (Delta's `_change_data` files): a COW row-level commit computes its
  * net row delta ONCE at commit time — the same retired-vs-added
  * multiset diff the read side would run — and persists it as two
  * ordinary row-codec files (`_cdc-v<V>-pre.bin` / `-post.bin`). Every
  * subsequent change-feed reader of that commit then reads O(changes)
  * bytes instead of re-diffing the rewritten file group (O(2 × group)
  * per reader, forever). Readers PREFER the sidecar when both files
  * exist for the commit and fall back to the snapshot diff otherwise,
  * so the sidecar is a pure accelerator with crash-window safety for
  * free: sidecars stage under temp names and hard-link into place only
  * AFTER the manifest commit wins its version — a crash between publish
  * and link leaves no sidecar and the feed diffs correctly forever; a
  * lost commit race leaves only temp files (vacuum reclaims them), never
  * a mis-versioned sidecar. MoR and metadata-delete commits keep the
  * read-side diff: their delta is already bounded by the affected file
  * group. Vacuum drops `_cdc-v<K>-*` with manifest K.
  */
private[v2] object MemCdcSidecar {
  import java.nio.file.{Files, Path}

  def preName(v: Int) = s"_cdc-v$v-pre.bin"
  def postName(v: Int) = s"_cdc-v$v-post.bin"
  def existsFor(dir: Path, v: Int): Boolean =
    Files.exists(dir.resolve(preName(v))) && Files.exists(dir.resolve(postName(v)))

  /** Stage the commit's net delta ([[MemNetDelta.of]], the same diff the
    * change-feed reader runs: rows the rewrite merely carried over
    * cancel) as two temp row-codec files. Caller links them to their
    * versioned names after the commit wins.
    */
  def stage(dir: Path, schema: StructType, removed: MemNetDelta.Side,
      added: MemNetDelta.Side): (Path, Path) = {
    val (pre, post) = MemNetDelta.of(removed, added, schema, _ => true)
    def writeRows(rows: Iterator[Seq[Any]], tag: String): Path = {
      val tmp = Files.createTempFile(dir, s"_cdcstage-$tag", ".tmp")
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        Files.newOutputStream(tmp)))
      try {
        MemCodec.writeHeader(out, schema)
        rows.foreach(r => MemCodec.writeRow(out, InternalRow.fromSeq(r), schema))
      } finally out.close()
      tmp
    }
    val preTmp = writeRows(pre.map(_._1), "pre")
    val postTmp = writeRows(post.map(_._1), "post")
    (preTmp, postTmp)
  }

  /** Publish staged sidecars for the WON version (create-new links:
    * reruns of a replayed commit cannot clobber an existing pair).
    */
  def publish(dir: Path, v: Int, staged: (Path, Path)): Unit = {
    try {
      Files.createLink(dir.resolve(preName(v)), staged._1)
      Files.createLink(dir.resolve(postName(v)), staged._2)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => () // already published
    } finally {
      Files.deleteIfExists(staged._1)
      Files.deleteIfExists(staged._2)
      // never leave a torn pair: the reader requires BOTH to trust one
      if (!existsFor(dir, v)) {
        Files.deleteIfExists(dir.resolve(preName(v)))
        Files.deleteIfExists(dir.resolve(postName(v)))
      }
    }
  }
}

/** One rewriting commit's NET row delta, diffed locally in the task by
  * [[MemNetDelta.of]]: rows a COW rewrite merely carried over cancel
  * inside the task and never reach the wire.
  */
private[v2] case class MemDiffPartition(removed: MemNetDelta.Side, added: MemNetDelta.Side,
    op: String, commitVersion: Long = -1L,
    commitTs: Long = -1L) extends InputPartition

/** ONE FILE of a partition tuple, exposing the tuple as its key
  * (`HasPartitionKey`) — the storage-partitioned-join planning unit a
  * grouped [[MemScan]] emits. Spark groups equal keys into one task
  * (`groupPartitions`) for the plain SPJ and, under
  * `partiallyClusteredDistribution`, splits/replicates a hot tuple's
  * files across tasks — which is exactly why the scan emits per-FILE
  * units instead of pre-merged tuple groups. `key` values are boxed in
  * the REPORTED transform expressions' result types (Long for
  * bucket/days/truncate and identity-over-BIGINT, Int for
  * identity-over-INT, UTF8String for identity-over-STRING raw values) —
  * a mismatch would break Spark's partition-value comparisons across
  * the two join sides.
  */
private[v2] case class MemKeyedFilePartition(key: Seq[Any],
    file: MemFilePartition)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow.fromSeq(key)
}

private[v2] class MemReaderFactory(full: StructType, wanted: Array[String],
    policy: Option[MemCheck.Rule] = None, mask: Set[Int] = Set.empty)
    extends PartitionReaderFactory {
  // read-surface governance: a policy-hidden row never leaves the
  // reader; masked STRING columns emit their deterministic md5 token
  private def policyOk(vals: Array[Any]): Boolean =
    policy.forall(_.okVals(vals))
  private def outVal(i: Int, v: Any): Any =
    if (i >= 0 && mask(i)) MemCatalog.tokenize(v) else v
  // -1 marks the _file metadata column, -2 _change_type, -3 _pos,
  // -4 _commit_version, -5 _commit_timestamp: all served from the
  // partition/reader state, not decoded from row bytes
  private def keepIdx: Array[Int] = wanted.map {
    case "_file" => -1
    case "_change_type" => -2
    case "_pos" => -3
    case "_commit_version" => -4
    case "_commit_timestamp" => -5
    case c => full.fieldIndex(c)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    // a keyed file partition reads through the ordinary per-file reader
    // (dv/eq/policy/mask semantics identical) — the key only steers
    // Spark's partition grouping/replication
    case k: MemKeyedFilePartition => createReader(k.file)

    case p: MemFilePartition =>
      val in = MemCodec.open(Paths.get(p.path), full)
      val keep = keepIdx
      val fileName = UTF8String.fromString(
        p.fileId.getOrElse(Paths.get(p.path).getFileName.toString))
      val changeType = UTF8String.fromString(p.changeType)
      // merge-on-read: subtract the deletion vector's base positions at
      // scan time; `_pos` stays the BASE-file position (immutable files
      // make it a stable row identity even under later DVs). Equality
      // deletes filter by decoded key tuple the same way.
      val masked = p.dv.map(d => MemCatalog.readDv(Paths.get(d))).getOrElse(Set.empty)
      val visible = MemCatalog.eqMask(full, p.eq.map { case (c, f) => (c, Paths.get(f)) })
      new PartitionReader[InternalRow] {
        private var row: InternalRow = _
        private var pos = -1L
        override def next(): Boolean = {
          var vals = in.readRow()
          pos += 1
          while (vals != null &&
            (masked.contains(pos) || !visible(vals) || !policyOk(vals))) {
            vals = in.readRow(); pos += 1
          }
          if (vals == null) false
          else {
            row = InternalRow.fromSeq(keep.toSeq.map {
              case -1 => fileName
              case -2 => changeType
              case -3 => p.posOverride.getOrElse(pos)
              case -4 => p.commitVersion
              case -5 => p.commitTs * 1000L // epoch ms → TimestampType µs
              case i => outVal(i, vals(i))
            })
            true
          }
        }
        override def get(): InternalRow = row
        override def close(): Unit = in.close()
      }

    case d: MemDiffPartition =>
      val keep = keepIdx
      val (preType, postType) = d.op match {
        case "update" => ("update_preimage", "update_postimage")
        // a DELETE's post-image is the rewritten remainder — its diff
        // adds nothing, so only the pre side (the deleted rows) emits;
        // everything unpaired (merge, overwrite, untagged) stays net
        // delete/insert rather than claiming an update pairing the
        // commit log can't prove
        case _ => ("delete", "insert")
      }
      // the dv/eq-visible rows the read policy admits, netted in the task
      val (pre, post) = MemNetDelta.of(d.removed, d.added, full, policyOk)
      val out: Iterator[InternalRow] =
        (pre.map { case (k, f) => (k, f, preType) } ++ post.map { case (k, f) => (k, f, postType) })
          .map { case (vals, fn, ct) =>
            val fileName = UTF8String.fromString(fn)
            val changeType = UTF8String.fromString(ct)
            InternalRow.fromSeq(keep.toSeq.map {
              case -1 => fileName
              case -2 => changeType
              case -3 => -1L // diffed rows have no single base position
              case -4 => d.commitVersion
              case -5 => d.commitTs * 1000L // epoch ms → TimestampType µs
              case i => outVal(i, vals(i))
            })
          }
      new PartitionReader[InternalRow] {
        private var row: InternalRow = _
        override def next(): Boolean = out.hasNext && { row = out.next(); true }
        override def get(): InternalRow = row
        override def close(): Unit = ()
      }
  }
}

/** One writer task's output: the part file it staged (`staged` is empty
  * when the task wrote no rows) and the manifest entry its writer built
  * for that file — stats, sketches and partition values.
  */
private[v2] case class MemCommit(staged: String, entry: MemCatalog.FileEntry)
    extends WriterCommitMessage

private[v2] object MemCommit {
  /** The driver side of every staged write: move each staged part into
    * `dir` (a direct write's parts already sit there: `move = false`)
    * and return the entries the commit publishes.
    */
  def publish(messages: Iterable[WriterCommitMessage], dir: Path,
      move: Boolean = true): Seq[MemCatalog.FileEntry] =
    MemMultiCommit.flatten(messages).collect { case MemCommit(staged, entry) if staged.nonEmpty =>
      if (move) Files.move(Paths.get(staged), dir.resolve(entry.name),
        StandardCopyOption.REPLACE_EXISTING)
      entry
    }.toSeq

  /** Abort a staged write: delete every staged part, then the write's own
    * staging dir (None for a direct write, whose dir the abort of the
    * staged table removes).
    */
  def discard(messages: Iterable[WriterCommitMessage], staging: Option[Path]): Unit = {
    MemMultiCommit.flatten(messages).foreach {
      case MemCommit(staged, _) if staged.nonEmpty => Files.deleteIfExists(Paths.get(staged))
      case _ => ()
    }
    staging.foreach(MemCatalog.deleteRecursively)
  }
}

/** A fanout writer's task message: one [[MemCommit]] per partition-pure
  * file the task emitted (transform-aware routing).
  */
private[v2] case class MemMultiCommit(children: Seq[MemCommit])
    extends WriterCommitMessage

private[v2] object MemMultiCommit {
  /** One flat MemCommit stream regardless of writer shape. */
  def flatten(messages: Iterable[WriterCommitMessage]): Iterable[WriterCommitMessage] =
    messages.flatMap {
      case MemMultiCommit(cs) => cs
      case m => Seq(m)
    }
}

/** What a table's properties ask of every part file a write emits: the
  * CHECK constraints each row must pass (the DSv2 task writer enforces
  * them), and the columns that get bloom, NDV and histogram sketches
  * plus the partition spec whose transform ranges are stamped (the
  * [[MemFileWriter]] every part file is written through keeps them).
  * Derived once per statement by [[MemWritePolicy.of]].
  */
private[v2] case class MemWritePolicy(checks: Seq[MemCheck.Rule], bloomFor: Seq[String],
    partSpec: Option[String], ndvFor: Seq[String], histFor: Seq[String])

private[v2] object MemWritePolicy {
  val Empty = MemWritePolicy(Seq.empty, Seq.empty, None, Seq.empty, Seq.empty)

  def of(props: Map[String, String], schema: StructType): MemWritePolicy =
    MemWritePolicy(MemCheck.compile(props, schema), MemBloom.colsOf(props),
      props.get("graft.partition"), MemNdv.colsOf(props), MemHist.colsOf(props))
}

/** THE part-file writer: every data file the catalog writes — a DSv2
  * task's part (batch, streaming, CDC, COW and MoR writes), an OPTIMIZE
  * rewrite, a metadata DELETE's survivor — is encoded here, so one
  * file's manifest entry never depends on which statement wrote it.
  * Opens the row-codec stream at `path` and writes the header; each
  * [[write]] encodes one row and folds it into every per-file statistic:
  * the integral MIN/MAX zone maps, `#rows`, the `pt:`/`ptn:`/`ptv:`
  * partition stamps of `policy`'s spec and its bloom, NDV and histogram
  * sketches. [[finish]] closes the stream and returns the file's entry,
  * or None after deleting the file when no row was written. Rows are
  * not checked here: a task writer enforces `policy.checks` before the
  * row arrives, and a rewrite re-encodes rows that already passed them.
  */
private[v2] final class MemFileWriter(val path: Path, schema: StructType,
    policy: MemWritePolicy) {
  private val out = new java.io.DataOutputStream(
    new java.io.BufferedOutputStream(Files.newOutputStream(path)))
  MemCodec.writeHeader(out, schema) // the file's write-time column count
  private var rows = 0L
  private val types = schema.fields.map(_.dataType)
  private def colsWhere(p: (StructField, DataType) => Boolean): Array[Int] =
    schema.fields.indices.filter(i => p(schema.fields(i), types(i))).toArray
  // the primitive read behind the zone maps and histograms: no boxing
  private def longAt(row: InternalRow, i: Int): Long = types(i) match {
    case LongType | TimestampType => row.getLong(i)
    case _ => row.getInt(i).toLong
  }
  // per-file MIN/MAX zone maps over the integral columns — the skipping
  // metadata the manifest carries per data file
  private val statCols = colsWhere((_, dt) => dt == LongType || dt == IntegerType ||
    dt == TimestampType || dt == DateType)
  private val lo = Array.fill(statCols.length)(Long.MaxValue)
  private val hi = Array.fill(statCols.length)(Long.MinValue)
  // bloom and NDV sketches hash the row's Catalyst value (MemNdv.hash's
  // canonical string); histograms are integral-only, like the zone maps
  private val bloomCols = colsWhere((f, _) => policy.bloomFor.contains(f.name))
  private val bloomBits = bloomCols.map(_ => new Array[Long](MemBloom.Words))
  private val ndvCols = colsWhere((f, _) => policy.ndvFor.contains(f.name))
  private val ndvs = ndvCols.map(_ => new MemNdv.Tracker)
  private val histCols = colsWhere((f, dt) => policy.histFor.contains(f.name) &&
    (dt == LongType || dt == IntegerType))
  private val hists = histCols.map(_ => new MemHist.Tracker)
  // hidden-partitioning transform ranges: one per declared transform (a
  // multi-transform spec stamps several), each riding the stats map as a
  // virtual column whose KEY carries the spec ("pt:bucket(4,okey)"), so
  // a file written under an evolved-away spec keeps pruning under the
  // spec it was actually written with
  private val pts: Array[(MemPart.Spec, Int)] =
    MemPart.specsWithIdx(policy.partSpec, schema).toArray
  private val ptLo = Array.fill(pts.length)(Long.MaxValue)
  private val ptHi = Array.fill(pts.length)(Long.MinValue)
  // per-transform NULL row count ("ptn:" stamp): a `pt:` range only
  // covers NON-NULL source values, so partition-tuple purity (SPJ)
  // additionally needs PROOF the file holds no null-key rows — stamped
  // even when zero, because absence must read as unknown
  private val ptNulls = Array.fill(pts.length)(0L)
  // string-identity transforms: the ONE raw value every row holds (ptv
  // stamp) — null until seen; purity drops on a second distinct value
  // (prefix-code equality is NOT value equality)
  private val ptStrId = pts.map { case (s, i) =>
    s.isInstanceOf[MemPart.Identity] && types(i) == StringType
  }
  private val ptRaw = Array.fill[String](pts.length)(null)
  private val ptRawPure = Array.fill(pts.length)(true)

  /** Bytes written so far, header included (OPTIMIZE's roll threshold). */
  def bytes: Long = out.size().toLong

  def write(row: InternalRow): Unit = {
    MemCodec.writeRow(out, row, schema)
    rows += 1
    var s = 0
    while (s < statCols.length) {
      val i = statCols(s)
      if (!row.isNullAt(i)) {
        val v = longAt(row, i)
        if (v < lo(s)) lo(s) = v
        if (v > hi(s)) hi(s) = v
      }
      s += 1
    }
    var b = 0
    while (b < bloomCols.length) {
      val i = bloomCols(b)
      if (!row.isNullAt(i)) MemBloom.add(bloomBits(b), row.get(i, types(i)))
      b += 1
    }
    var n = 0
    while (n < ndvCols.length) {
      val i = ndvCols(n)
      if (!row.isNullAt(i)) ndvs(n).add(MemNdv.hash(row.get(i, types(i))))
      n += 1
    }
    var h = 0
    while (h < histCols.length) {
      val i = histCols(h)
      if (!row.isNullAt(i)) hists(h).add(longAt(row, i))
      h += 1
    }
    var p = 0
    while (p < pts.length) {
      val (spec, i) = pts(p)
      if (row.isNullAt(i)) ptNulls(p) += 1
      else {
        MemPart.evalAt(spec, types(i), row.get(i, types(i))).foreach { t =>
          if (t < ptLo(p)) ptLo(p) = t
          if (t > ptHi(p)) ptHi(p) = t
        }
        if (ptStrId(p) && ptRawPure(p)) {
          val raw = row.getUTF8String(i).toString
          if (ptRaw(p) == null) ptRaw(p) = raw
          else if (ptRaw(p) != raw) { ptRaw(p) = null; ptRawPure(p) = false }
        }
      }
      p += 1
    }
  }

  /** Close the file and return its manifest entry, named after `path`;
    * None (the file deleted) when no row was written.
    */
  def finish(): Option[MemCatalog.FileEntry] = {
    out.close()
    if (rows == 0) { Files.deleteIfExists(path); None }
    else {
      val name = (i: Int) => schema.fields(i).name
      // "#rows" rides the stats map (the '#' can never be a schema
      // column): exact per-file row counts give the planner a REAL
      // numRows, not just byte sizes — the cardinality side of CBO
      val stats = statCols.indices.collect {
        case s if lo(s) <= hi(s) => name(statCols(s)) -> (lo(s), hi(s))
      }.toMap + ("#rows" -> (rows, rows)) ++
        pts.indices.collect { case p if ptLo(p) <= ptHi(p) =>
          pts(p)._1.statKey -> (ptLo(p), ptHi(p)) } ++
        pts.indices.map(p => pts(p)._1.nullKey -> (ptNulls(p), ptNulls(p)))
      Some(MemCatalog.FileEntry(path.getFileName.toString, stats,
        blooms = bloomCols.indices.map(b =>
          name(bloomCols(b)) -> MemBloom.encode(bloomBits(b))).toMap,
        ndvs = ndvCols.indices.map(n => name(ndvCols(n)) -> MemNdv.encode(ndvs(n).minima)).toMap,
        hists = histCols.indices.map(h =>
          name(histCols(h)) -> MemHist.encode(hists(h).snapshot)).toMap,
        ptvs = pts.indices.collect {
          case p if ptStrId(p) && ptRawPure(p) && ptRaw(p) != null && ptNulls(p) == 0L =>
            pts(p)._1.statKey -> ptRaw(p)
        }.toMap))
    }
  }

  /** Close and delete the file: the write it belonged to failed or kept
    * nothing.
    */
  def abort(): Unit = { out.close(); Files.deleteIfExists(path); () }
}

/** `inflight = None`: writers write into the destination dir itself (a
  * staged table's whole dir is invisible pre-publish). `Some(d)` (append
  * to a live table): writers stage under `dest/d`, a dir of this write's
  * own, and only the driver commit moves parts into the visible dir.
  */
private[v2] class MemBatchWrite(dest: Path, schema: StructType, inflight: Option[String],
    policy: MemWritePolicy, overwriteAll: Boolean = false,
    // the cluster key Spark sorted this write by (RequiresDistribution-
    // AndOrdering) — stamped on each file as its sort-order metadata
    sortedBy: Option[String] = None,
    // write option `branch`: the commit lands on the named branch's
    // manifest chain instead of main — the WAP write leg (part files
    // stage and move in identically; only the publish target differs)
    branch: Option[String] = None,
    route: Boolean = false) extends BatchWrite {
  private val staging = inflight.map(dest.resolve)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new MemWriterFactory(dest.toString, schema, inflight, policy, route)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = MemCommit.publish(messages, dest, move = staging.isDefined)
      .map(_.copy(sortedBy = sortedBy))
    if (staging.isEmpty) {
      // staged CTAS/RTAS: the publishing commitStagedChanges builds _v0 —
      // park the per-file stats in a sidecar it reads and removes
      val tmp = Files.createTempFile(dest, "_stats", ".tmp")
      Files.write(tmp, fresh.map(_.render).mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, dest.resolve("_stats"),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } else {
      // append = a pure manifest addition (a racing commit's edit composes
      // on retry because each committer only adds its own files);
      // overwrite = the live set REPLACED wholesale — retired files stay
      // on disk, so the pre-overwrite snapshot remains time-travelable
      require(branch.isEmpty || !overwriteAll,
        "graft mem catalog: INSERT OVERWRITE cannot target a branch")
      val op = if (branch.isDefined) "branch-append" else if (overwriteAll) "overwrite" else "append"
      MemCatalog.commitManifestEq(dest, op, branch) {
        (live, eq, _) => (if (overwriteAll) fresh else live ++ fresh, eq)
      }
      staging.foreach(MemCatalog.deleteRecursively)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    MemCommit.discard(messages, staging)
}

/** Streaming epochs append through the same staged-part machinery as
  * batch INSERTs (per-epoch staging dir keyed by queryId + epoch), and
  * the per-epoch driver commit goes through
  * [[MemCatalog.commitStreamingEpoch]] — one manifest commit per
  * micro-batch, replay-idempotent via the recorded epoch watermark.
  */
private[v2] class MemStreamingWrite(dir: Path, schema: StructType, queryId: String,
    policy: MemWritePolicy, route: Boolean = false)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def inflight(epochId: Long) = s"_inflight-$queryId-$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    MemStreamingWriterFactory(dir.toString, schema, queryId, policy, route)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fresh = MemCommit.publish(messages, dir)
    val published = MemCatalog.commitStreamingEpoch(dir, queryId, epochId, fresh)
    if (!published) fresh.foreach(e => Files.deleteIfExists(dir.resolve(e.name)))
    MemCatalog.deleteRecursively(dir.resolve(inflight(epochId)))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    MemCommit.discard(messages, Some(dir.resolve(inflight(epochId))))
}

/** Ships to executors (the StreamingWrite itself stays on the driver):
  * routes each task's rows through the per-epoch staging dir.
  */
private[v2] case class MemStreamingWriterFactory(dest: String, schema: StructType,
    queryId: String, policy: MemWritePolicy, route: Boolean)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new MemWriterFactory(dest, schema, Some(s"_inflight-$queryId-$epochId"), policy, route)
      .createWriter(partitionId, taskId)
}

/** STREAMING CDC APPLY — the Flink→Iceberg upsert-sink model: a
  * changelog stream (`op` column: I = insert, U = upsert, D = delete)
  * lands in a CHANGELOG TABLE (the raw audit trail, a plain streaming
  * append) while each epoch simultaneously APPLIES to the target table —
  * deletes/upserts become ONE equality-delete sidecar per epoch plus the
  * epoch's insert part files, committed together by
  * [[MemCatalog.commitStreamingEpochCdc]]. The write-side contract this
  * buys at 100 TB: applying a CDC epoch NEVER reads a base file — a
  * `foreachBatch MERGE` scans the target to pair rows; the eq-delete
  * write is O(changes) regardless of table size, with the pairing
  * deferred to readers (merge-on-read) and eventually materialized by
  * OPTIMIZE. Sequence scoping gives the semantics for free: the epoch's
  * delete masks only strictly-older data, so within-epoch upserts and
  * cross-epoch reinserts work; rows sharing a key WITHIN one epoch are
  * the caller's contract to pre-compact (one change per key per epoch —
  * the same intra-checkpoint compaction contract Flink's Iceberg sink
  * has). Both commits are replay-idempotent by the `queryId -> epoch`
  * txn watermark, each on its OWN table: a crash between the two leaves
  * a recovering driver to re-commit the epoch, where the already-
  * published side no-ops and the missing side applies — convergent
  * without a cross-table transaction. Ref semantics:
  * reference/greeter_server.cc has no row-level change model at all
  * (outputs are whole-file overwrites, file:116); this is the
  * incremental-maintenance surface its design would need at scale.
  */
private[v2] class MemCdcStreamingWrite(landing: Path, landingSchema: StructType,
    target: Path, queryId: String, opCol: String,
    applyBranch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val targetSchema = MemCatalog.readSchema(target)
  private val targetProps = MemCatalog.readProps(target)
  private val eqCols: Seq[String] = targetProps.get("graft.eqDeleteKeys").toSeq
    .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
  require(eqCols.nonEmpty, s"graft mem catalog: CDC apply target $target must " +
    "declare TBLPROPERTIES ('graft.eqDeleteKeys'=...) — deletes and upserts " +
    "commit as equality deletes on those keys")
  private val opIdx = landingSchema.fieldNames.indexOf(opCol)
  require(opIdx >= 0 && landingSchema.fields(opIdx).dataType == StringType,
    s"graft mem catalog: CDC landing schema needs a STRING op column '$opCol'")
  // landing schema == op column + the target's schema (names AND types,
  // order preserved) — the projection that strips op must be lossless
  private val valueFields = landingSchema.fields.zipWithIndex.filter(_._2 != opIdx)
  require(valueFields.map(_._1.name).toSeq == targetSchema.fieldNames.toSeq &&
    valueFields.map(_._1.dataType).toSeq == targetSchema.fields.map(_.dataType).toSeq,
    s"graft mem catalog: CDC landing schema minus '$opCol' must equal the " +
      s"target schema ${targetSchema.simpleString}, got ${landingSchema.simpleString}")
  private val keyIdxs = eqCols.map(c => landingSchema.fieldNames.indexOf(c))
  require(keyIdxs.forall(_ >= 0),
    s"graft mem catalog: eq-delete key(s) ${eqCols.mkString(",")} missing from the stream")

  private def landInflight(e: Long) = s"_inflight-$queryId-$e"
  private def applyInflight(e: Long) = s"_inflight-cdc-$queryId-$e"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    MemCdcWriterFactory(landing.toString, landingSchema, target.toString, targetSchema,
      queryId, opIdx, keyIdxs.toArray, valueFields.map(_._2).toArray,
      // the changelog landing enforces its CHECKs only; the applied
      // target files take the target's full policy
      MemWritePolicy.Empty.copy(
        checks = MemCheck.compile(MemCatalog.readProps(landing), landingSchema)),
      MemWritePolicy.of(targetProps, targetSchema))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case m: MemCdcCommit => m }
    // TARGET first: the applied mirror is the product; whichever side a
    // crash strands, the replayed epoch no-ops the published one
    val applied = MemCommit.publish(parts.map(_.apply), target)
    val delKeys = parts.flatMap(_.delKeys).distinct
    val delFile = if (delKeys.isEmpty) None
      else Some(MemCatalog.writeEqDelete(target, delKeys))
    val appliedPub = MemCatalog.commitStreamingEpochCdc(
      target, applyBranch, queryId, epochId, applied, eqCols, delFile)
    if (!appliedPub) { // replayed epoch: unpublished files/sidecar are orphans
      applied.foreach(e => Files.deleteIfExists(target.resolve(e.name)))
      delFile.foreach(f => Files.deleteIfExists(target.resolve(f)))
    }
    val landed = MemCommit.publish(parts.map(_.land), landing)
    val landPub = MemCatalog.commitStreamingEpoch(landing, queryId, epochId, landed)
    if (!landPub) landed.foreach(e => Files.deleteIfExists(landing.resolve(e.name)))
    MemCatalog.deleteRecursively(landing.resolve(landInflight(epochId)))
    MemCatalog.deleteRecursively(target.resolve(applyInflight(epochId)))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case m: MemCdcCommit => m }
    MemCommit.discard(parts.map(_.land), Some(landing.resolve(landInflight(epochId))))
    MemCommit.discard(parts.map(_.apply), Some(target.resolve(applyInflight(epochId))))
  }
}

/** One task's CDC outputs: the raw changelog part (every row, landing
  * schema), the op-stripped insert part (I/U rows, target schema), and
  * the epoch's deleted key tuples (U/D rows, canonical encoding).
  */
private[v2] case class MemCdcCommit(land: MemCommit, apply: MemCommit,
    delKeys: Seq[Seq[String]]) extends WriterCommitMessage

private[v2] case class MemCdcWriterFactory(landing: String, landingSchema: StructType,
    target: String, targetSchema: StructType, queryId: String,
    opIdx: Int, keyIdxs: Array[Int], valueIdxs: Array[Int],
    landPolicy: MemWritePolicy, targetPolicy: MemWritePolicy)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val land = new MemWriterFactory(landing, landingSchema,
      Some(s"_inflight-$queryId-$epochId"), landPolicy).createWriter(partitionId, taskId)
    // the apply part is a first-class target file: target CHECK
    // constraints, blooms, NDV and histogram sketches all apply
    private val apply = new MemWriterFactory(target, targetSchema,
      Some(s"_inflight-cdc-$queryId-$epochId"), targetPolicy).createWriter(partitionId, taskId)
    private val dels = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]

    private def keyTuple(record: InternalRow): Seq[String] =
      keyIdxs.toSeq.map { i =>
        require(!record.isNullAt(i),
          "graft mem catalog: a CDC delete/upsert key may not be NULL " +
            "(SQL equality can never match it)")
        MemCatalog.canonEq(record.get(i, landingSchema.fields(i).dataType))
      }

    override def write(record: InternalRow): Unit = {
      land.write(record)
      require(!record.isNullAt(opIdx), "graft mem catalog: CDC op may not be NULL")
      val projected = InternalRow.fromSeq(valueIdxs.toSeq.map(i =>
        record.get(i, landingSchema.fields(i).dataType)))
      record.getUTF8String(opIdx).toString match {
        case "I" => apply.write(projected)
        case "U" => dels += keyTuple(record); apply.write(projected)
        case "D" => dels += keyTuple(record)
        case other => throw new IllegalArgumentException(
          s"graft mem catalog: unknown CDC op '$other' (expected I, U or D)")
      }
    }

    override def commit(): WriterCommitMessage =
      MemCdcCommit(land.commit().asInstanceOf[MemCommit],
        apply.commit().asInstanceOf[MemCommit], dels.toSeq)
    override def abort(): Unit = { land.abort(); apply.abort() }
    override def close(): Unit = { land.close(); apply.close() }
  }
}

private[v2] class MemWriterFactory(dest: String, schema0: StructType, inflight: Option[String],
    policy: MemWritePolicy, route: Boolean = false)
    extends DataWriterFactory {
  /** The write schema with the table's PERSISTED field ids re-attached
    * by name (driver-side, once per factory): Spark rebuilds the write
    * schema through the connector Column API, which does not promise to
    * carry StructField metadata — and the positional id fallback would
    * stamp wrong ids on any table whose ids are no longer 1..n (after a
    * DROP). Positions and types are untouched; only metadata differs.
    */
  private val schema: StructType =
    MemSchema.alignIds(java.nio.file.Paths.get(dest), schema0)
  /** FANOUT WRITER (`route` — Iceberg's partitioned fanout writer): one
    * inner single-file writer PER DISTINCT TRANSFORM TUPLE seen by this
    * task (a multi-transform spec routes on the tuple — Iceberg's
    * `days(ts),bucket(8,k)` layout), so every emitted file is
    * partition-pure (each `pt:` stat range collapses to a point) from
    * ONE plain INSERT. Memory = one open buffered stream + tracker set
    * per distinct partition tuple in the task — bounded because the
    * clustered write distribution hands each task whole partitions.
    * NULL transform sources group under one writer like any other value.
    */
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val specs: Seq[(MemPart.Spec, Int)] =
      if (route) MemPart.specsWithIdx(policy.partSpec, schema) else Seq.empty
    if (specs.isEmpty) single(partitionId, taskId)
    else new DataWriter[InternalRow] {
      private val writers =
        scala.collection.mutable.LinkedHashMap.empty[List[Long], DataWriter[InternalRow]]
      private def tupleOf(record: InternalRow): List[Long] =
        specs.map { case (s, i) =>
          if (record.isNullAt(i)) Long.MinValue
          else MemPart.evalAt(s, schema.fields(i).dataType,
            schema.fields(i).dataType match {
              case LongType | TimestampType => java.lang.Long.valueOf(record.getLong(i))
              case IntegerType | DateType => java.lang.Integer.valueOf(record.getInt(i))
              case _ => record.getUTF8String(i)
            }).getOrElse(Long.MinValue)
        }.toList
      override def write(record: InternalRow): Unit =
        writers.getOrElseUpdate(tupleOf(record), single(partitionId, taskId))
          .write(record)
      override def commit(): WriterCommitMessage =
        MemMultiCommit(writers.values.map(_.commit().asInstanceOf[MemCommit]).toSeq)
      override def abort(): Unit = writers.values.foreach(_.abort())
      override def close(): Unit = writers.values.foreach(_.close())
    }
  }

  private def single(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // opened on the first row: a task that writes none stages no file
      private var file: MemFileWriter = _

      override def write(record: InternalRow): Unit = {
        // CHECK constraints gate every row BEFORE it reaches a part file:
        // a violation aborts the task, the driver aborts the statement,
        // and only staged (invisible) files ever held the bad row
        MemCheck.enforce(policy.checks, record)
        if (file == null) {
          val d = inflight.fold(Paths.get(dest))(Paths.get(dest, _))
          Files.createDirectories(d)
          file = new MemFileWriter(
            Files.createTempFile(d, s"part-$partitionId-$taskId-", ".bin"), schema, policy)
        }
        file.write(record)
      }

      override def commit(): WriterCommitMessage =
        Option(file).flatMap(_.finish()).fold(MemCommit("", MemCatalog.FileEntry("", Map.empty)))(
          MemCommit(file.path.toString, _))

      override def abort(): Unit = if (file != null) file.abort()

      override def close(): Unit = ()
    }
}

/** Compiles the V2 predicates `DELETE FROM ... WHERE` hands a
  * [[MemTable]] into row tests over decoded values. Supported: `=`,
  * `IN`, `IS NULL`, `IS NOT NULL` on any column, plus `AND` of those —
  * the exact-match shapes whose semantics are unambiguous without an
  * expression evaluator. Everything else returns None and the statement
  * fails up front (`canDeleteWhere`).
  */
private[v2] object MemDelete {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Lit, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private def colIndex(e: V2Expr, schema: StructType): Option[Int] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      schema.fieldNames.indexOf(nr.fieldNames()(0)) match { case -1 => None; case i => Some(i) }
    case _ => None
  }

  private def litValue(e: V2Expr): Option[Any] = e match {
    case l: V2Lit[_] => Some(l.value)
    case _ => None
  }

  private def eq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, _) | (_, null) => false
    case (x: UTF8String, y: UTF8String) => x == y
    case (x, y) => x == y
  }

  def compile(p: Predicate, schema: StructType): Option[Array[Any] => Boolean] = p.name() match {
    case "AND" =>
      val kids = p.children().map {
        case q: Predicate => compile(q, schema)
        case _ => None
      }
      if (kids.forall(_.isDefined)) {
        val ts = kids.flatten
        Some(vals => ts.forall(_(vals)))
      } else None
    case "=" if p.children().length == 2 =>
      (colIndex(p.children()(0), schema), litValue(p.children()(1))) match {
        case (Some(i), Some(v)) => Some(vals => eq(vals(i), v))
        case _ => (colIndex(p.children()(1), schema), litValue(p.children()(0))) match {
          case (Some(i), Some(v)) => Some(vals => eq(vals(i), v))
          case _ => None
        }
      }
    case "IN" if p.children().nonEmpty =>
      colIndex(p.children().head, schema).flatMap { i =>
        val lits = p.children().tail.map(litValue)
        if (lits.forall(_.isDefined)) Some((vals: Array[Any]) => lits.flatten.exists(eq(vals(i), _)))
        else None
      }
    case "IS_NULL" if p.children().length == 1 =>
      colIndex(p.children().head, schema).map(i => (vals: Array[Any]) => vals(i) == null)
    case "IS_NOT_NULL" if p.children().length == 1 =>
      colIndex(p.children().head, schema).map(i => (vals: Array[Any]) => vals(i) != null)
    case _ => None
  }
}

/** Compiles a DELETE predicate into EQUALITY-DELETE key tuples, when the
  * shape allows: a conjunction of `key = lit` / `key IN (lits)` terms
  * that constrains EXACTLY the declared key columns, once each. Anything
  * else — a non-key column, a range, a missing key, a repeated key —
  * returns None and the DELETE routes through the row-level MoR path
  * (always correct, just not O(changes)). The tuples are the CROSS
  * PRODUCT of the per-column value lists (`k1 IN (1,2) AND k2 = 'a'` →
  * two tuples), canonical-encoded with [[MemCatalog.canonEq]] — the same
  * encoding every reader compares through. Key columns are restricted to
  * the integral and string types whose canonical form is unambiguous.
  */
private[v2] object MemEqDelete {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Lit, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private def colName(e: V2Expr): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
    case _ => None
  }

  private def litValue(e: V2Expr): Option[Any] = e match {
    case l: V2Lit[_] => Option(l.value) // a NULL literal never equals: refuse
    case _ => None
  }

  /** (col → values) terms of one predicate, None on any non-eq shape. */
  private def terms(p: Predicate): Option[Seq[(String, Seq[Any])]] = p.name() match {
    case "AND" =>
      val kids = p.children().toSeq.map {
        case q: Predicate => terms(q)
        case _ => None
      }
      if (kids.forall(_.isDefined)) Some(kids.flatten.flatten) else None
    case "=" if p.children().length == 2 =>
      (colName(p.children()(0)), litValue(p.children()(1))) match {
        case (Some(c), Some(v)) => Some(Seq(c -> Seq(v)))
        case _ => (colName(p.children()(1)), litValue(p.children()(0))) match {
          case (Some(c), Some(v)) => Some(Seq(c -> Seq(v)))
          case _ => None
        }
      }
    case "IN" if p.children().length >= 2 =>
      colName(p.children().head).flatMap { c =>
        val lits = p.children().tail.toSeq.map(litValue)
        if (lits.forall(_.isDefined)) Some(Seq(c -> lits.flatten)) else None
      }
    case _ => None
  }

  def compile(predicates: Array[Predicate], keys: Seq[String],
      schema: StructType): Option[Seq[Seq[String]]] = {
    if (keys.isEmpty) return None
    val keyOk = keys.forall(k => schema.fields.find(_.name == k).exists(f =>
      f.dataType == LongType || f.dataType == IntegerType || f.dataType == StringType))
    if (!keyOk) return None
    val all = predicates.toSeq.map(terms)
    if (!all.forall(_.isDefined)) return None
    val byCol = all.flatten.flatten
    if (byCol.map(_._1).sorted != keys.sorted) return None // each key exactly once
    val perKey: Seq[Seq[Any]] = keys.map(k => byCol.find(_._1 == k).get._2)
    Some(perKey.foldLeft(Seq(Seq.empty[String])) { (acc, vs) =>
      acc.flatMap(t => vs.map(v => t :+ MemCatalog.canonEq(v)))
    })
  }
}

/** Length-prefixed binary row codec over the supported primitive types;
  * one tag byte per field carries nullability. Every file opens with a
  * header (`FileMagic2`, the writer's column count, and each column's
  * field id and type tag) so schema evolution resolves old files under
  * the current schema; a file without one is refused, by path.
  */
private[v2] object MemCodec {
  // "GRFU": (magic, ncols, then ncols × (int field-id, byte type-tag))
  // — the reader resolves columns by FIELD ID under the current schema,
  // decoding (then discarding) since-dropped columns by their recorded
  // write-time type; renames are invisible (the id never changes)
  val FileMagic2 = 0x47524655

  def writeHeader(out: java.io.DataOutputStream, schema: StructType): Unit = {
    out.writeInt(FileMagic2)
    out.writeInt(schema.length)
    val ids = MemSchema.ids(schema)
    var i = 0
    while (i < schema.length) {
      out.writeInt(ids(i))
      out.writeByte(MemSchema.typeTag(schema.fields(i).dataType))
      i += 1
    }
  }

  /** Per-file reader: resolves the file's write-time columns against the
    * current schema BY FIELD ID (drop/rename-proof), with null backfill
    * for columns the file predates.
    */
  final class FileReader(in: java.io.DataInputStream, full: StructType,
      src: String = "?") {
    private val cols: Seq[(Int, Byte)] = {
      val first = try in.readInt() catch { case _: java.io.EOFException => -1 }
      require(first == FileMagic2,
        s"file $src: no GRFU row-codec header — not written by this catalog")
      Seq.fill(in.readInt())((in.readInt(), in.readByte()))
    }
    /** (decode schema, file-position → current-position map; -1 = column
      * since dropped — decoded for framing, then discarded).
      */
    private val (fileSchema: StructType, perm: Array[Int]) = {
      val posOf = MemSchema.ids(full).zipWithIndex.toMap
      val fs = StructType(cols.zipWithIndex.map { case ((_, tag), j) =>
        StructField(s"_c$j", MemSchema.tagType(tag))
      })
      val pm = cols.map { case (id, tag) =>
        posOf.get(id) match {
          case Some(k) =>
            require(MemSchema.typeTag(full.fields(k).dataType) == tag,
              s"file $src: field id $id recorded as type tag $tag but the " +
                s"current schema holds ${full.fields(k).dataType.simpleString} " +
                s"(schema ids ${MemSchema.ids(full).mkString(",")}) — " +
                "field ids are never retyped or reused")
            k
          case None => -1 // dropped column: decode bytes, discard value
        }
      }.toArray
      (fs, pm)
    }

    private val identityPerm =
      perm.length == full.length && perm.indices.forall(j => perm(j) == j)

    def readRow(): Array[Any] = {
      val vals = MemCodec.readRow(in, fileSchema)
      if (vals == null || identityPerm) return vals
      val out = new Array[Any](full.length)
      var j = 0
      while (j < perm.length) {
        if (perm(j) >= 0) out(perm(j)) = vals(j)
        j += 1
      }
      out
    }

    def close(): Unit = in.close()
  }

  def open(path: Path, full: StructType): FileReader =
    new FileReader(new java.io.DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(path))), full, path.toString)

  def writeRow(out: java.io.DataOutputStream, row: InternalRow, schema: StructType): Unit = {
    out.writeByte(0x7A) // row marker: truncated trailing rows fail loudly
    var i = 0
    while (i < schema.length) {
      if (row.isNullAt(i)) out.writeByte(0)
      else {
        out.writeByte(1)
        schema.fields(i).dataType match {
          case LongType | TimestampType => out.writeLong(row.getLong(i))
          case IntegerType | DateType => out.writeInt(row.getInt(i))
          case DoubleType => out.writeDouble(row.getDouble(i))
          case BooleanType => out.writeBoolean(row.getBoolean(i))
          case StringType =>
            val b = row.getUTF8String(i).getBytes
            out.writeInt(b.length); out.write(b)
          case ArrayType(LongType, _) =>
            // int count, then per element a null tag + long — the same
            // tagged layout scalars use, so torn files still fail loudly
            val a = row.getArray(i)
            val n = a.numElements()
            out.writeInt(n)
            var j = 0
            while (j < n) {
              if (a.isNullAt(j)) out.writeByte(0)
              else { out.writeByte(1); out.writeLong(a.getLong(j)) }
              j += 1
            }
          case other => throw new IllegalStateException(s"unsupported $other")
        }
      }
      i += 1
    }
  }

  /** Returns null at clean EOF; throws on a torn row. */
  def readRow(in: java.io.DataInputStream, schema: StructType): Array[Any] = {
    val marker = in.read()
    if (marker == -1) return null
    require(marker == 0x7A, s"corrupt row marker: $marker")
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val tag = in.readByte()
      vals(i) =
        if (tag == 0) null
        else schema.fields(i).dataType match {
          case LongType | TimestampType => in.readLong()
          case IntegerType | DateType => in.readInt()
          case DoubleType => in.readDouble()
          case BooleanType => in.readBoolean()
          case StringType =>
            val n = in.readInt(); val b = new Array[Byte](n)
            in.readFully(b); UTF8String.fromBytes(b)
          case ArrayType(LongType, _) =>
            val n = in.readInt()
            val arr = new Array[Any](n)
            var j = 0
            while (j < n) {
              arr(j) = if (in.readByte() == 0) null
                else java.lang.Long.valueOf(in.readLong())
              j += 1
            }
            new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
          case other => throw new IllegalStateException(s"unsupported $other")
        }
      i += 1
    }
    vals
  }
}
