package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Coalesce, Divide, EvalMode, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.DoubleType

/** TRANSPARENT MATERIALIZED-VIEW QUERY REWRITE — the read half of the
  * engine's MV story. [[graft.sources.Formats.dsv2MvIncremental]] maintains
  * an aggregate MV incrementally from the change feed (the write half);
  * this rule makes the MV *answer user queries the user wrote against the
  * BASE table*: an `Aggregate` over the registered base relation whose
  * grouping keys are a subset of the MV's grouping keys and whose
  * aggregates are derivable from the MV's partial aggregates is rewritten
  * to the same aggregate over the MV relation — the Calcite /
  * BigQuery / Snowflake "materialized view rewriting" contract
  * (Goldstein & Larson, SIGMOD'01: optimizing queries using materialized
  * views is a plan-time substitution, not a user opt-in).
  *
  * Derivations (classic partial-aggregate rollup algebra):
  *   - `sum(x)`      → `sum(mv.sum_x)`
  *   - `count(*)`    → `coalesce(sum(mv.cnt), 0)`   (sum is nullable,
  *                     count is not — the coalesce restores the type
  *                     contract; a group exists only with ≥1 row, so the
  *                     fallback never fires on a non-empty group)
  *   - `count(x)`    → `coalesce(sum(mv.cnt_x), 0)`
  *   - `min/max(x)`  → `min/max(mv.min_x / mv.max_x)`
  *   - `avg(x)`      → `sum(mv.sum_x) / sum(mv.cnt_x)` as double (falls
  *                     back to `cnt(*)` only when the registrar vouches
  *                     `x` is never null — avg ignores nulls, count(*)
  *                     does not)
  * A grouping-key SUBSET is allowed (rollup: re-aggregating partials is
  * exact for sum/count/min/max), and residual `Filter`s whose references
  * are all grouping columns push onto the MV unchanged. Anything else —
  * distinct aggregates, filters on non-group columns, expressions over
  * group keys, an aggregate the MV doesn't carry — aborts the match and
  * the query runs against the base table untouched.
  *
  * FRESHNESS is a plan-time gate, not a hope: registration records the
  * base table's commit version, and the rule consults
  * [[graft.sources.v2.MemCatalog.currentVersion]] on every match — a base
  * table that advanced past the registered version makes the MV STALE and
  * the rewrite refuses (the query silently reads the base table and stays
  * correct). Re-register after refreshing the MV to re-arm the rewrite.
  * The refresh protocol is: rebuild the MV on a DISARMED session, then
  * register again on the armed one. Built on the armed session, the
  * refresh query could rewrite onto the MV it is overwriting; built on a
  * session that holds no registration, it cannot, whatever the order of
  * the calls.
  *
  * EXPR-ID DISCIPLINE: the rule runs post-analysis, so the rewritten
  * subtree must expose the exact attributes the parent plan references.
  * Every output `NamedExpression` is rebuilt as an `Alias` carrying the
  * ORIGINAL exprId/name/qualifier; only the subtree below changes. The MV
  * relation itself is grafted as a fresh-exprId copy per match site, so
  * one MV serving two aggregates in a single query never duplicates
  * attribute ids.
  *
  * INSTALLATION: a registration arms the rule on the ONE session it is
  * given, and on no other. That session's
  * `experimental.extraOptimizations` (the "User Provided Optimizers"
  * batch, post-pushdown — the base appears as
  * [[DataSourceV2ScanRelation]]) holds one immutable [[MvRewrite]]
  * carrying that session's registrations; registering swaps in a copy
  * with the new entry, which replaces any earlier entry for the same
  * base, and a session clone and its registrations go away together.
  * It is deliberately NOT a session-wide extension: the MV gates compare
  * the armed clone's answer against the un-armed base session, and
  * arming every session would compare the MV with itself. The matcher
  * also accepts the pre-pushdown [[DataSourceV2Relation]] shape; the
  * grafted MV subtree is the already-pushed-down scan relation captured
  * at registration, valid in either position.
  *
  * At 100 TB this is the difference between a dashboard aggregate
  * costing O(MV) — thousands of rows — and O(base) — the full fact scan:
  * the incremental maintenance keeps the MV current at O(change volume)
  * ([[graft.sources.Formats.dsv2MvIncremental]] measures the flat-line),
  * and this rule makes every matching query pay MV price with zero query
  * rewriting by the user. The reference has no optimizer at all (its one
  * query plan is hard-wired master code, `masterServer.cc`); this is the
  * extension-surface "custom Catalyst rule" leg of SURVEY §2.2 applied
  * to the classic warehouse acceleration path.
  */
object MvRewrite {

  /** A STAR-SCHEMA MV's defining join: `left ⋈_{leftKey = rightKey}
    * right`, INNER, single equi-key. The matcher accepts the query's
    * join with the sides in either order and group-column filters pushed
    * below the join by the optimizer. Key names must differ between the
    * two sides (the match is by unqualified name).
    */
  final case class JoinSpec(leftName: String, rightName: String,
      leftKey: String, rightKey: String)

  /** A registered rewrite target.
    *
    * @param baseName  `table.name()` of the base relation (match key;
    *                  for a join MV, a synthetic `left⋈right` key)
    * @param mvName    `table.name()` of the MV relation (for plan gates)
    * @param mvScan    the MV's optimized scan relation, grafted (with
    *                  fresh exprIds) at every match site
    * @param groupCols the MV's grouping columns — base and MV column
    *                  names must coincide
    * @param derive    (func, baseCol) → mv partial-agg column, e.g.
    *                  `("sum","cents") -> "sum_cents"`,
    *                  `("count","*") -> "n_rows"`; a `("notnull",col)`
    *                  entry (any value) vouches `col` is never null,
    *                  allowing avg(col) to fall back to the `count(*)`
    *                  partial
    * @param isFresh   plan-time freshness gate
    * @param join      present for a star-schema MV: the defining join
    */
  final case class MvDef(
      baseName: String,
      mvName: String,
      mvScan: DataSourceV2ScanRelation,
      groupCols: Set[String],
      derive: Map[(String, String), String],
      isFresh: () => Boolean,
      join: Option[JoinSpec] = None)

  private def scanOf(session: SparkSession, ident: String): DataSourceV2ScanRelation =
    session.table(ident).queryExecution.optimizedPlan.collectFirst {
      case s: DataSourceV2ScanRelation => s
    }.getOrElse(throw new IllegalArgumentException(
      s"graft mv rewrite: $ident did not optimize to a DSv2 scan relation"))

  /** The base table's READ-SURFACE GOVERNANCE fingerprint. A row policy
    * or column mask changes what a scan RETURNS without any manifest
    * commit (it is a props-only ALTER), so version-pinned freshness
    * alone would keep serving the MV built from the raw data — a policy
    * BYPASS. Registration pins this fingerprint next to the version and
    * any governance flip disarms the rewrite like a data commit does.
    */
  private def governance(dir: java.nio.file.Path): Map[String, String] =
    graft.sources.v2.MemCatalog.readProps(dir)
      .filter { case (k, _) => k == "graft.policy" || k == "graft.mask" }

  /** Register `mvIdent` as the rewrite target for aggregates over
    * `baseIdent`. Captures both tables' optimized scan relations NOW;
    * freshness pins the base's CURRENT commit version — any later base
    * commit disarms the rewrite until re-registration.
    */
  def register(session: SparkSession, baseIdent: String, mvIdent: String,
      baseDir: java.nio.file.Path, groupCols: Seq[String],
      derive: Map[(String, String), String]): MvDef = {
    val base = scanOf(session, baseIdent)
    val mv = scanOf(session, mvIdent)
    val v = graft.sources.v2.MemCatalog.currentVersion(baseDir)
    val gov = governance(baseDir)
    val d = MvDef(base.relation.table.name(), mv.relation.table.name(), mv,
      groupCols.toSet, derive,
      () => graft.sources.v2.MemCatalog.currentVersion(baseDir) == v &&
        governance(baseDir) == gov)
    arm(session, d)
  }

  /** Registration whose freshness follows a PERSISTED maintenance
    * watermark instead of a pinned version: the MV carries
    * `TBLPROPERTIES('graft.mv.basedOn' = <base version>)`, stamped by
    * its incremental-maintenance job after absorbing that base commit
    * (the change-feed stream admits exactly one version per epoch, so
    * the epoch id IS the absorbed version — restart-safe through the
    * checkpoint). The rewrite then arms and disarms AS THE PIPELINE
    * RUNS: a base commit disarms it the moment it lands, the next
    * maintenance drain re-arms it, and nobody ever re-registers. This is
    * the continuously-serving MV: maintenance cost O(change volume)
    * ([[graft.sources.Formats.dsv2MvIncremental]]), serving cost O(MV),
    * freshness exact by watermark comparison at plan time.
    */
  def registerMaintained(session: SparkSession, baseIdent: String, mvIdent: String,
      baseDir: java.nio.file.Path, mvDir: java.nio.file.Path,
      groupCols: Seq[String], derive: Map[(String, String), String]): MvDef = {
    val base = scanOf(session, baseIdent)
    val mv = scanOf(session, mvIdent)
    val gov = governance(baseDir)
    val d = MvDef(base.relation.table.name(), mv.relation.table.name(), mv,
      groupCols.toSet, derive,
      () => governance(baseDir) == gov &&
        graft.sources.v2.MemCatalog.readProps(mvDir).get("graft.mv.basedOn")
          .exists(_.toInt == graft.sources.v2.MemCatalog.currentVersion(baseDir)))
    arm(session, d)
  }

  /** The signed-delta maintenance statement for a `(cat, n_rows,
    * sum_cents)` MV (the Gupta–Mumick rule for SUM/COUNT views): each net
    * change row in `changes` (a relation with `cat`, `cents`,
    * `_change_type` — a batch view or a `table_changes(...)` call)
    * counts +1/+cents as `insert`/`update_postimage` and −1/−cents
    * otherwise; the per-group deltas then UPDATE matched groups, INSERT
    * new ones, and DELETE a group whose count reaches zero.
    */
  def signedDeltaMerge(mv: String, changes: String): String =
    s"""MERGE INTO $mv m USING (
       |  SELECT cat,
       |         sum(CASE WHEN _change_type IN ('insert', 'update_postimage')
       |                  THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END) AS d_n,
       |         sum(CASE WHEN _change_type IN ('insert', 'update_postimage')
       |                  THEN cents ELSE -cents END) AS d_cents
       |  FROM $changes GROUP BY cat) d
       |ON m.cat = d.cat
       |WHEN MATCHED AND m.n_rows + d.d_n = 0 THEN DELETE
       |WHEN MATCHED THEN UPDATE SET
       |  n_rows = m.n_rows + d.d_n, sum_cents = m.sum_cents + d.d_cents
       |WHEN NOT MATCHED THEN
       |  INSERT (cat, n_rows, sum_cents) VALUES (d.cat, d.d_n, d.d_cents)""".stripMargin

  /** STAR-SCHEMA registration: the MV aggregates over
    * `leftIdent ⋈_{leftKey = rightKey} rightIdent` (INNER, single
    * equi-key; key names must differ). A query aggregate over the SAME
    * join — sides in either order, group-column filters on top of or
    * pushed below the join — rewrites onto the MV exactly like the
    * single-table case: re-aggregated partials are exact because the
    * matched join reproduces the MV's row multiplicities. Freshness pins
    * EVERY underlying table's commit version — a commit to either side
    * disarms the rewrite.
    */
  def registerJoin(session: SparkSession, mvIdent: String,
      leftIdent: String, rightIdent: String, leftKey: String, rightKey: String,
      baseDirs: Seq[java.nio.file.Path], groupCols: Seq[String],
      derive: Map[(String, String), String]): MvDef = {
    require(leftKey != rightKey,
      "graft mv rewrite: join key names must differ between the sides " +
        "(the matcher identifies them by unqualified name)")
    val l = scanOf(session, leftIdent)
    val r = scanOf(session, rightIdent)
    val mv = scanOf(session, mvIdent)
    val vs = baseDirs.map(graft.sources.v2.MemCatalog.currentVersion)
    val govs = baseDirs.map(governance)
    val ln = l.relation.table.name()
    val rn = r.relation.table.name()
    val d = MvDef(s"$ln⥈$rn", mv.relation.table.name(), mv,
      groupCols.toSet, derive,
      () => baseDirs.zip(vs).forall { case (dir, v) =>
        graft.sources.v2.MemCatalog.currentVersion(dir) == v
      } && baseDirs.zip(govs).forall { case (dir, g) => governance(dir) == g },
      join = Some(JoinSpec(ln, rn, leftKey, rightKey)))
    arm(session, d)
  }

  /** Put `d` into `session`'s rule, replacing an entry for the same base,
    * or arm the session with a new rule. Only `session` sees it.
    */
  private def arm(session: SparkSession, d: MvDef): MvDef = {
    val x = session.experimental
    x.synchronized {
      val (mine, others) = x.extraOptimizations.partition(_.isInstanceOf[MvRewrite])
      val defs = mine.collectFirst { case r: MvRewrite => r.defs }.getOrElse(Map.empty)
      x.extraOptimizations = others :+ new MvRewrite(defs + (d.baseName -> d))
    }
    d
  }

  /** One probe of `sql` on an armed session. `scans` names the DSv2
    * tables its optimized plan reads; `sameRows` compares its rows with
    * the `control` session's answer as sorted row strings. Both read the
    * ONE QueryExecution of the armed query, so a probe compiles it once.
    * Doubles compare exactly: the gates' sums stay below 2^53, so both
    * accumulations are exact and the one division agrees.
    */
  final class Probe(armed: SparkSession, control: SparkSession, sql: String) {
    private val q = armed.sql(sql)
    val scans: Set[String] = q.queryExecution.optimizedPlan.collect {
      case s: DataSourceV2ScanRelation => s.relation.table.name()
    }.toSet
    lazy val sameRows: Boolean = {
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted
      rows(q).sameElements(rows(control.sql(sql)))
    }
    /** The plan reads `mvName` alone iff `fromMv`, and the rows match. */
    def serves(mvName: String, fromMv: Boolean): Boolean =
      (scans == Set(mvName)) == fromMv && sameRows
  }
}

/** The rule as armed on one session: `defs` maps each registered base
  * (or star-join key) to its MV. Immutable; [[MvRewrite.register]] and
  * its twins swap in a new instance.
  */
final class MvRewrite private (private val defs: Map[String, MvRewrite.MvDef])
    extends Rule[LogicalPlan] {
  import MvRewrite.MvDef

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (defs.isEmpty) return plan
    plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }
  }

  /** Peel Project(pure attrs)/Filter chains down to a registered base
    * relation OR a registered star-schema join, collecting filter
    * conditions on the way (including those the optimizer pushed below
    * the join into either side).
    */
  private def strip(plan: LogicalPlan): Option[(MvDef, Seq[Expression])] = plan match {
    case s: DataSourceV2ScanRelation =>
      defs.get(s.relation.table.name()).map((_, Nil))
    case r: DataSourceV2Relation =>
      defs.get(r.table.name()).map((_, Nil))
    case Filter(cond, child) =>
      strip(child).map { case (d, cs) => (d, conjuncts(cond) ++ cs) }
    case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
      strip(child)
    case j: Join if j.joinType == Inner && j.condition.isDefined =>
      stripJoin(j)
    case _ => None
  }

  /** Filters are collected as CONJUNCTS: the optimizer folds pushed and
    * inferred predicates into one `And` tree per Filter node, and the
    * droppable-isnotnull check must see each leaf on its own.
    */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** One join side peeled to its scan's table name + side-local filters. */
  private def scanSide(plan: LogicalPlan): Option[(String, Seq[Expression])] = plan match {
    case s: DataSourceV2ScanRelation => Some((s.relation.table.name(), Nil))
    case r: DataSourceV2Relation => Some((r.table.name(), Nil))
    case Filter(cond, child) =>
      scanSide(child).map { case (n, cs) => (n, conjuncts(cond) ++ cs) }
    case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
      scanSide(child)
    case _ => None
  }

  private def stripJoin(j: Join): Option[(MvDef, Seq[Expression])] = {
    for {
      (ln, lcs) <- scanSide(j.left)
      (rn, rcs) <- scanSide(j.right)
      d <- defs.values.find(_.join.exists(js =>
        (js.leftName == ln && js.rightName == rn) ||
          (js.leftName == rn && js.rightName == ln)))
      js = d.join.get
      // the single equi-key, matched by the two distinct unqualified
      // names (registration requires them to differ); any other
      // condition shape is a DIFFERENT join and must not rewrite
      if (j.condition.get match {
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            a: AttributeReference, b: AttributeReference) =>
          Set(a.name, b.name) == Set(js.leftKey, js.rightKey)
        case _ => false
      })
    } yield {
      // constraint inference stamps `isnotnull(<join key>)` on both
      // sides of an inner equi-join; the join itself already excludes
      // null keys and the MV was built over the SAME join, so these
      // carry no information for the rewrite — drop them instead of
      // refusing (any other key-referencing filter still refuses via
      // the group-column check in tryRewrite)
      val keys = Set(js.leftKey, js.rightKey)
      def droppable(e: Expression): Boolean = e match {
        case org.apache.spark.sql.catalyst.expressions.IsNotNull(a: AttributeReference) =>
          keys(a.name)
        case _ => false
      }
      (d, (lcs ++ rcs).filterNot(droppable))
    }
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (d, conds) = strip(agg.child) match {
      case Some(x) => x
      case None => return None
    }
    if (!d.isFresh()) return None
    // every grouping expression must be a bare MV grouping column
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference if d.groupCols(a.name) => a
      case _ => return None
    }
    // residual filters may only constrain grouping columns (they then
    // select whole MV groups — any other column is pre-aggregation data
    // the MV no longer has row-level access to)
    if (!conds.forall(c => c.deterministic &&
      c.references.forall(a => d.groupCols(a.name)))) return None

    // fresh-exprId graft of the MV scan — with a fresh SCAN INSTANCE,
    // not the one captured at registration: a Scan may legitimately
    // memoize its planned partitions (one snapshot per scan, the DSv2
    // contract Spark's own BatchScanExec assumes), so reusing the
    // registration-time object would serve the registration-time file
    // list forever. Rebuilding from the relation's table re-reads the
    // manifest at every match, exactly like a fresh `spark.table` read.
    val mvOut = d.mvScan.output.map(_.newInstance())
    val freshScan = d.mvScan.relation.table
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(d.mvScan.relation.options).build()
    val mvScan = d.mvScan.copy(scan = freshScan, output = mvOut)
    val mvAttr: Map[String, AttributeReference] = mvOut.map(a => a.name -> a).toMap
    def col(func: String, base: String): Option[AttributeReference] =
      d.derive.get((func, base)).flatMap(mvAttr.get)

    def cAgg(fn: AggregateFunction): Expression =
      AggregateExpression(fn, Complete, isDistinct = false)

    def sumAsCount(c: AttributeReference): Expression =
      Coalesce(Seq(cAgg(Sum(c)), Literal(0L)))

    def rewriteFn(fn: AggregateFunction): Option[Expression] = fn match {
      case s: Sum => s.child match {
        case a: AttributeReference => col("sum", a.name).map(m => cAgg(Sum(m)))
        case _ => None
      }
      case c: Count if c.children.forall(ch => ch.foldable && ch.eval() != null) =>
        col("count", "*").map(sumAsCount)
      case c: Count => c.children match {
        case Seq(a: AttributeReference) => col("count", a.name).map(sumAsCount)
        case _ => None
      }
      case m: Min => m.child match {
        case a: AttributeReference => col("min", a.name).map(x => cAgg(Min(x)))
        case _ => None
      }
      case m: Max => m.child match {
        case a: AttributeReference => col("max", a.name).map(x => cAgg(Max(x)))
        case _ => None
      }
      case a: Average => a.child match {
        // avg ignores nulls, so the divisor must be count(x) — count(*)
        // only when the registrar vouched x never-null
        case at: AttributeReference if at.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
          for {
            s <- col("sum", at.name)
            c <- col("count", at.name).orElse(
              if (d.derive.contains(("notnull", at.name))) col("count", "*") else None)
          } yield Divide(
            Cast(cAgg(Sum(s)), DoubleType),
            Cast(sumAsCount(c), DoubleType), EvalMode.LEGACY)
        case _ => None
      }
      case _ => None
    }

    val newAggs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if d.groupCols(a.name) =>
        mvAttr.get(a.name) match {
          case Some(m) => Alias(m, a.name)(exprId = a.exprId, qualifier = a.qualifier)
          case None => return None
        }
      case al @ Alias(ae: AggregateExpression, name)
          if !ae.isDistinct && ae.filter.isEmpty =>
        rewriteFn(ae.aggregateFunction) match {
          case Some(e) => Alias(e, name)(exprId = al.exprId,
            qualifier = al.qualifier, explicitMetadata = al.explicitMetadata)
          case None => return None
        }
      case _ => return None
    }

    val newGroup: Seq[Expression] = groupAttrs.map(a => mvAttr.get(a.name) match {
      case Some(m) => m
      case None => return None
    })

    val newChild = conds.foldLeft(mvScan: LogicalPlan) { (acc, cond) =>
      Filter(cond.transform {
        case a: AttributeReference => mvAttr.getOrElse(a.name, return None)
      }, acc)
    }
    Some(Aggregate(newGroup, newAggs, newChild))
  }
}
