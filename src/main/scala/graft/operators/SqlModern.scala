package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Modern SQL surface (Spark 4): recursive CTEs, the VARIANT type for
  * semi-structured data, and SQL-defined scalar functions. These close the
  * "a reference user could run every query they run today" claim for the
  * SQL entry path: hierarchy walks, schema-flexible JSON, and reusable SQL
  * macros are standard warehouse workloads the DataFrame registry didn't
  * exercise until now.
  *
  * Scale posture:
  *  - recursive CTE: each iteration is one distributed join/union over the
  *    frontier; the hierarchy key strictly shrinks (k div 8) so depth is
  *    bounded by log8(max key) (~7 at any realistic key range) — iteration
  *    count is O(log N), not O(N), and every iteration is a full-cluster
  *    plan (the per-row chain never sits on one task).
  *  - VARIANT: parse_json/variant_get are per-row map-side expressions;
  *    the binary variant encoding is columnar-friendly and the extraction
  *    runs inside whole-stage codegen. Shuffle only at the final group-by.
  *  - SQL UDFs are expanded at analysis time like macros — the optimized
  *    plan contains only the underlying CASE expression (codegen'd,
  *    pushdown-eligible), never an opaque function call.
  */
object SqlModern {

  /** WITH RECURSIVE over a synthetic-but-deterministic hierarchy derived
    * from customer keys (parent = k div 8 — a strict tree rooted at 0):
    * per-customer ancestor-chain depth and ancestor-key sum. The walk is
    * the bill-of-materials / org-chart rollup shape relational engines
    * express only through recursive CTEs.
    */
  def recursiveCte(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_rcte_customer")
    spark.sql(
      """WITH RECURSIVE up(k, anc, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM graft_rcte_customer
        |  UNION ALL
        |  SELECT k, anc div 8, depth + 1 FROM up WHERE anc > 0
        |)
        |SELECT k, CAST(max(depth) AS INT) AS depth, sum(anc) AS sum_anc
        |FROM up GROUP BY k""".stripMargin)
  }

  /** VARIANT ingestion of schema-flexible JSON: each order becomes a JSON
    * document whose `v` field is heterogeneously typed (a number for even
    * keys, a string for odd ones — the open-schema reality VARIANT exists
    * for). parse_json → variant_get extractions (typed long/string paths,
    * a nested path, and try_variant_get over the mixed-type field), then a
    * relational aggregate over the extracted values.
    */
  def variantJson(spark: SparkSession, dir: String): DataFrame = {
    val j = concat(
      lit("{\"k\": "), col("o_orderkey"),
      lit(", \"pri\": \""), col("o_orderpriority"),
      lit("\", \"meta\": {\"status\": \""), col("o_orderstatus"),
      lit("\"}, \"v\": "),
      when(col("o_orderkey") % 2 === 0, col("o_custkey").cast("string"))
        .otherwise(concat(lit("\""), col("o_orderstatus"), lit("\""))),
      lit("}"))
    Tables.orders(spark, dir)
      .select(parse_json(j).as("doc"))
      .select(
        expr("variant_get(doc, '$.pri', 'string')").as("pri"),
        expr("variant_get(doc, '$.meta.status', 'string')").as("status"),
        expr("variant_get(doc, '$.k', 'long')").as("k"),
        expr("try_variant_get(doc, '$.v', 'long')").as("v_num"))
      .groupBy("pri", "status")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        count(col("v_num")).as("n_numeric_v"), sum("v_num").as("sum_v"))
  }

  /** SQL-defined scalar functions (CREATE TEMPORARY FUNCTION ... RETURN):
    * a price-band classifier plus a second SQL UDF COMPOSED from the first
    * — the reusable-macro surface warehouse users package business logic
    * in. Catalyst inlines both at analysis time, so the executed plan is
    * plain CASE expressions (asserted comparable by the oracle, which
    * states the inlined logic directly).
    */
  def sqlUdf(spark: SparkSession, dir: String): DataFrame = {
    // create-if-absent: a repeated run's OR REPLACE would spam the
    // SimpleFunctionRegistry "replaced a previously registered function"
    // WARN into every bench/verify log
    if (!spark.catalog.functionExists("graft_band"))
      spark.sql(
        """CREATE TEMPORARY FUNCTION graft_band(p DOUBLE) RETURNS STRING
          |RETURN CASE WHEN p < 100000 THEN 'small' WHEN p < 250000 THEN 'mid' ELSE 'large' END
          |""".stripMargin)
    if (!spark.catalog.functionExists("graft_band_rank"))
      spark.sql(
        """CREATE TEMPORARY FUNCTION graft_band_rank(p DOUBLE) RETURNS INT
          |RETURN CASE graft_band(p) WHEN 'small' THEN 1 WHEN 'mid' THEN 2 ELSE 3 END
          |""".stripMargin)
    Tables.orders(spark, dir).createOrReplaceTempView("graft_udf_orders")
    spark.sql(
      """SELECT graft_band(o_totalprice) AS band,
        |       graft_band_rank(o_totalprice) AS band_rank,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft_udf_orders
        |GROUP BY 1, 2""".stripMargin)
  }

  /** Spark 4 SQL PIPE syntax (`FROM t |> WHERE ... |> AGGREGATE ...`) —
    * the linear query form modern warehouses converge on (BigQuery pipe
    * syntax, PRQL): each stage reads top-to-bottom in execution order
    * instead of the inside-out nesting of classic SELECT. Parsed by
    * Spark's own grammar into exactly the same logical plan as the
    * classic form, which the oracle states in plain SQL — so the gate
    * proves the pipe grammar round-trips semantics, not just parses.
    */
  def sqlPipeSyntax(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_pipe_orders")
    spark.sql(
      """FROM graft_pipe_orders
        ||> WHERE o_orderpriority = '1-URGENT'
        ||> AGGREGATE count(*) AS n_orders,
        |     sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |   GROUP BY o_orderstatus
        ||> SELECT o_orderstatus, n_orders, cents""".stripMargin)
  }

  /** PARAMETERIZED SQL (Spark 4 named parameters + the IDENTIFIER
    * clause): the statement text carries `:grp` / `:minPrice` / `:minDate`
    * markers and the values arrive as a typed args map — the
    * injection-safe templating surface every SQL-entry application needs
    * (the IDENTIFIER(:grp) form covers the harder case: parameterizing a
    * COLUMN reference, which string literals can't reach without unsafe
    * string splicing). Parameters bind at parse time to typed literals
    * (LocalDate → DATE, Double → DOUBLE), so the optimized plan is
    * byte-identical to the literal form the oracle states — pushdown and
    * partition pruning see constants, never placeholders.
    */
  def sqlParameterized(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_param_orders")
    spark.sql(
      """SELECT IDENTIFIER(:grp) AS grp, count(*) AS n,
        |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |FROM graft_param_orders
        |WHERE o_totalprice > :minPrice AND o_orderdate >= :minDate
        |GROUP BY IDENTIFIER(:grp)""".stripMargin,
      Map(
        "grp" -> "o_orderpriority",
        "minPrice" -> 150000.0,
        "minDate" -> java.time.LocalDate.parse("1995-01-01")))
  }

  /** COLLATED string semantics (Spark 4 collations): the market segment
    * is deliberately case-mangled three ways per customer key, then
    * grouped under `UTF8_LCASE` — equality, grouping, and DISTINCT all
    * follow the collation, so the 15 binary-distinct spellings collapse
    * to the 5 case-insensitive segments WITHOUT normalizing the data
    * (the collation travels in the type, not in an `upper()` wrapped
    * around every comparison — at 100 TB that means the optimizer still
    * sees a plain column for pruning/stats, and no second materialized
    * lowercase copy of the string column exists). The per-group
    * representative spelling is nondeterministic, so the output projects
    * `upper(...)`; `n_spellings` counts the binary-distinct variants
    * inside each collated group (3 everywhere — asserting the group
    * really did merge case variants, not just pass unmixed data).
    */
  def collationGroup(spark: SparkSession, dir: String): DataFrame = {
    val mangled = Tables.customer(spark, dir).select(
      when(col("c_custkey") % 3 === 0, upper(col("c_mktsegment")))
        .when(col("c_custkey") % 3 === 1, lower(col("c_mktsegment")))
        .otherwise(concat(upper(expr("substr(c_mktsegment, 1, 1)")),
          lower(expr("substr(c_mktsegment, 2)")))).as("seg"),
      col("c_acctbal"))
    mangled
      .select(collate(col("seg"), "UTF8_LCASE").as("seg_ci"), col("seg"), col("c_acctbal"))
      .groupBy(col("seg_ci"))
      .agg(
        count(lit(1)).as("n_cust"),
        countDistinct(col("seg")).as("n_spellings"),
        sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("bal_cents"))
      .select(upper(col("seg_ci")).cast("string").as("segment"),
        col("n_cust"), col("n_spellings"), col("bal_cents"))
  }

  /** SQL SCRIPTING (Spark 4 procedural blocks — SQL/PSM): a
    * `BEGIN … END` script with a session variable and a WHILE loop that
    * walks a price threshold upward in 50k steps until fewer than 1000
    * orders remain above it, then reports that threshold's population —
    * the "find the operating point, then query at it" shape analysts
    * otherwise script in a driver language. Control flow runs on the
    * driver but each loop condition is ONE distributed aggregate over
    * the cluster (a full count(*) scan per probe), and iteration count
    * is bounded by max(price)/step (~dozens) — never by row count, so
    * the script's cost at 100 TB is a handful of pushdown-friendly
    * scans. The script's value is its RESULT CONTRACT: the block returns
    * the last statement's result set, which is what the oracle replays
    * declaratively (the minimal threshold whose survivor count clears
    * the bar — proving the imperative loop and the declarative form
    * agree).
    */
  def sqlScripting(spark: SparkSession, dir: String): DataFrame = {
    // a clone, so the caller's conf and temp views stay as they were
    val s = spark.newSession()
    s.conf.set("spark.sql.scripting.enabled", "true")
    Tables.orders(s, dir).createOrReplaceTempView("graft_script_orders")
    s.sql(
      """BEGIN
        |  DECLARE t BIGINT DEFAULT 0;
        |  WHILE (SELECT count(*) FROM graft_script_orders WHERE o_totalprice > t) > 1000 DO
        |    SET t = t + 50000;
        |  END WHILE;
        |  SELECT t AS threshold,
        |         count(*) AS n_above,
        |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents_above
        |  FROM graft_script_orders WHERE o_totalprice > t;
        |END""".stripMargin)
  }

  /** EXECUTE IMMEDIATE (Spark 4 dynamic SQL) + SESSION VARIABLES — the
    * last unexercised SQL entry point: the statement TEXT is data,
    * assembled at runtime from a session variable holding the grouping
    * column, with a runtime-computed threshold bound in two steps —
    * `EXECUTE IMMEDIATE ... INTO` captures a scalar aggregate into a
    * typed variable, and the final `EXECUTE IMMEDIATE stmt USING var`
    * binds it positionally into the dynamic statement. This is the
    * metadata-driven-query surface (rule engines, config-driven
    * dashboards) that otherwise forces unsafe driver-side string
    * splicing. Scale posture: dynamic SQL costs nothing at execution —
    * the bound statement parses to the same Catalyst plan as its
    * literal form (parameters bind to typed literals at parse time, so
    * pushdown and pruning see constants), and the INTO step is one
    * distributed max() scan. The oracle states the fully-inlined
    * declarative form, proving assembly + both binding paths changed
    * nothing semantically.
    */
  def sqlExecuteImmediate(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_ei_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_ei_grp STRING DEFAULT 'o_orderpriority'")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_ei_cut DOUBLE")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_ei_stmt STRING")
    // capture a runtime-computed scalar into a typed session variable
    spark.sql(
      """EXECUTE IMMEDIATE
        |  'SELECT 0.75 * max(o_totalprice) FROM graft_ei_orders'
        |  INTO graft_ei_cut""".stripMargin)
    // the statement text is assembled FROM the column-name variable —
    // the part IDENTIFIER() alone can't reach (the whole text is dynamic)
    spark.sql(
      """SET VAR graft_ei_stmt =
        |  'SELECT ' || graft_ei_grp || ' AS grp, count(*) AS n, ' ||
        |  'sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents ' ||
        |  'FROM graft_ei_orders WHERE o_totalprice > ? GROUP BY ' || graft_ei_grp""".stripMargin)
    spark.sql("EXECUTE IMMEDIATE graft_ei_stmt USING graft_ei_cut")
  }

  /** GROUP BY ALL + LATERAL COLUMN ALIASES — the Spark 4 / modern-SQL
    * ergonomics pair: the inner projection derives a price bucket FROM
    * an earlier alias in the same select list (`cents DIV 5000000` —
    * classic SQL forces a subquery or repeats the round/cast chain),
    * and the outer aggregate's GROUP BY ALL infers the keys from the
    * non-aggregate items (a lateral alias can't be a GROUP BY ALL key
    * in the same block — Spark rejects that combination, hence the
    * two-level shape). Pure analysis-time desugaring: the optimized
    * plan is identical to the explicit form the oracle states, so the
    * gate proves the sugar resolves to the right keys/expressions —
    * zero runtime cost at any scale.
    */
  def sqlGroupByAll(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_gba_orders")
    spark.sql(
      """SELECT status, bucket, count(*) AS n, sum(cents) AS cents
        |FROM (
        |  SELECT o_orderstatus AS status,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |         cents DIV 5000000 AS bucket
        |  FROM graft_gba_orders
        |)
        |GROUP BY ALL""".stripMargin)
  }

  /** SQL PIVOT + UNPIVOT grammar — the clause forms of the DataFrame
    * `pivot`/`unpivot` already gated elsewhere (`pivot_agg`,
    * `unpivot_metrics`): the query PIVOTs order cents wide by priority,
    * then UNPIVOTs the wide frame straight back to long form in the same
    * statement — the round trip proves the two clauses are inverse
    * grammar over the same data (UNPIVOT drops NULL cells, so only
    * populated (status, priority) combinations survive, which is exactly
    * the long-form aggregate the oracle states). Both clauses are pure
    * analysis-time rewrites into the aggregate/expand plans the
    * DataFrame forms produce — zero new runtime cost.
    */
  def sqlPivot(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_pivot_orders")
    spark.sql(
      """SELECT status, priority, cents
        |FROM (
        |  SELECT * FROM (
        |    SELECT o_orderstatus AS status, o_orderpriority AS pri,
        |           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |    FROM graft_pivot_orders
        |  )
        |  PIVOT (sum(cents)
        |         FOR pri IN ('1-URGENT' AS urgent, '2-HIGH' AS high,
        |                     '3-MEDIUM' AS medium, '4-NOT SPECIFIED' AS unspec,
        |                     '5-LOW' AS low))
        |)
        |UNPIVOT (cents FOR priority IN (urgent, high, medium, unspec, low))""".stripMargin)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "recursive_cte" -> recursiveCte _,
    "sql_scripting" -> sqlScripting _,
    "variant_json" -> variantJson _,
    "sql_udf" -> sqlUdf _,
    "sql_pipe_syntax" -> sqlPipeSyntax _,
    "sql_parameterized" -> sqlParameterized _,
    "sql_execute_immediate" -> sqlExecuteImmediate _,
    "sql_group_by_all" -> sqlGroupByAll _,
    "sql_pivot" -> sqlPivot _,
    "collation_group" -> collationGroup _,
  )

  def oracle: Map[String, String] = Map(
    // the WHILE loop's fixpoint stated declaratively: the smallest 50k
    // multiple whose survivor count clears the bar, then that threshold's
    // population (LEFT JOIN keeps the row when the population is empty,
    // mirroring the script's ungrouped aggregate)
    "sql_scripting" ->
      """WITH steps AS (SELECT 50000 * g AS t FROM generate_series(0, 200) s(g)),
        |cnt AS (SELECT t, (SELECT count(*) FROM orders o WHERE o.o_totalprice > steps.t) AS n
        |        FROM steps),
        |th AS (SELECT min(t) AS threshold FROM cnt WHERE n <= 1000)
        |SELECT th.threshold,
        |       count(o.o_orderkey)::BIGINT AS n_above,
        |       sum(CAST(round(o.o_totalprice * 100) AS BIGINT))::BIGINT AS cents_above
        |FROM th LEFT JOIN orders o ON o.o_totalprice > th.threshold
        |GROUP BY th.threshold""".stripMargin,
    // same recursion, DuckDB integer division spelled // instead of div
    "recursive_cte" ->
      """WITH RECURSIVE up(k, anc, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer
        |  UNION ALL
        |  SELECT k, anc // 8, depth + 1 FROM up WHERE anc > 0
        |)
        |SELECT k, max(depth)::INT AS depth, sum(anc)::BIGINT AS sum_anc
        |FROM up GROUP BY k""".stripMargin,
    // identical JSON built per row; extraction via DuckDB's JSON functions
    // (TRY_CAST of the string form of v mirrors try_variant_get 'long':
    // numbers parse, the quoted status letters do not)
    "variant_json" ->
      """WITH j AS (
        |  SELECT '{"k": ' || o_orderkey || ', "pri": "' || o_orderpriority ||
        |         '", "meta": {"status": "' || o_orderstatus || '"}, "v": ' ||
        |         CASE WHEN o_orderkey % 2 = 0 THEN o_custkey::VARCHAR
        |              ELSE '"' || o_orderstatus || '"' END || '}' AS doc
        |  FROM orders
        |), x AS (
        |  SELECT json_extract_string(doc, '$.pri') AS pri,
        |         json_extract_string(doc, '$.meta.status') AS status,
        |         json_extract(doc, '$.k')::BIGINT AS k,
        |         TRY_CAST(json_extract_string(doc, '$.v') AS BIGINT) AS v_num
        |  FROM j
        |)
        |SELECT pri, status, count(*)::BIGINT AS n, sum(k)::BIGINT AS sum_k,
        |       count(v_num)::BIGINT AS n_numeric_v, sum(v_num)::BIGINT AS sum_v
        |FROM x GROUP BY pri, status""".stripMargin,
    // the SQL UDFs inlined (what Catalyst executes after expansion)
    "sql_udf" ->
      """WITH b AS (
        |  SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
        |              WHEN o_totalprice < 250000 THEN 'mid' ELSE 'large' END AS band,
        |         o_totalprice
        |  FROM orders
        |)
        |SELECT band,
        |       (CASE band WHEN 'small' THEN 1 WHEN 'mid' THEN 2 ELSE 3 END)::INT AS band_rank,
        |       count(*)::BIGINT AS n,
        |       sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS total
        |FROM b GROUP BY 1, 2""".stripMargin,
    // the parameterized statement with every placeholder inlined as the
    // literal it binds to — what Catalyst executes after binding
    "sql_parameterized" ->
      """SELECT o_orderpriority AS grp, count(*) AS n,
        |       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders
        |WHERE o_totalprice > 150000.0 AND o_orderdate >= DATE '1995-01-01'
        |GROUP BY o_orderpriority""".stripMargin,
    // the dynamic statement fully inlined: the assembled text with the
    // grouping column spelled out and the INTO-captured threshold as the
    // subquery it computed
    "sql_execute_immediate" ->
      """WITH cut AS (SELECT 0.75 * max(o_totalprice) AS c FROM orders)
        |SELECT o.o_orderpriority AS grp, count(*)::BIGINT AS n,
        |       sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders o, cut
        |WHERE o.o_totalprice > cut.c
        |GROUP BY 1""".stripMargin,
    // the sugar desugared: explicit group keys, aliases re-expanded
    "sql_group_by_all" ->
      """WITH c AS (
        |  SELECT o_orderstatus AS status,
        |         round(o_totalprice * 100)::BIGINT AS cents,
        |         round(o_totalprice * 100)::BIGINT // 5000000 AS bucket
        |  FROM orders
        |)
        |SELECT status, bucket, count(*)::BIGINT AS n, sum(cents)::BIGINT AS cents
        |FROM c GROUP BY status, bucket""".stripMargin,
    // the PIVOT→UNPIVOT round trip collapses to the long-form aggregate
    // over populated combinations (UNPIVOT drops the NULL cells)
    "sql_pivot" ->
      """SELECT o_orderstatus AS status,
        |       CASE o_orderpriority
        |         WHEN '1-URGENT' THEN 'urgent' WHEN '2-HIGH' THEN 'high'
        |         WHEN '3-MEDIUM' THEN 'medium' WHEN '4-NOT SPECIFIED' THEN 'unspec'
        |         ELSE 'low' END AS priority,
        |       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders GROUP BY 1, 2""".stripMargin,
    // the collation replayed as explicit case-insensitive grouping: group
    // key = upper(mangled), spelling count = binary-distinct variants
    "collation_group" ->
      """WITH v AS (
        |  SELECT CASE c_custkey % 3
        |           WHEN 0 THEN upper(c_mktsegment)
        |           WHEN 1 THEN lower(c_mktsegment)
        |           ELSE upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2))
        |         END AS seg,
        |         c_acctbal
        |  FROM customer
        |)
        |SELECT upper(seg) AS segment, count(*)::BIGINT AS n_cust,
        |       count(DISTINCT seg)::BIGINT AS n_spellings,
        |       sum(round(c_acctbal * 100)::BIGINT)::BIGINT AS bal_cents
        |FROM v GROUP BY 1""".stripMargin,
    // the classic-SQL statement the pipe form must be plan-equivalent to
    "sql_pipe_syntax" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus""".stripMargin,
  )
}
