package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface parity: the reference's users run SQL (the five report
  * queries execute inside Postgres — save_data_pdf_report.py:64-222).
  * The same statements must run on this engine via `spark.sql` over
  * registered views of the cleaned tables and agree with the
  * DataFrame implementations. Only one dialect adaptation is needed:
  * Postgres `TO_CHAR(d, 'YYYY-MM')` → `date_format(d, 'yyyy-MM')`.
  */
class SqlSurfaceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.build("sql-surface-spec", "4")

  lazy val cleaned: SalesPipeline.Cleaned = {
    val c = SalesPipeline.loadBoundary(SalesPipeline.run(
      spark, "/root/reference/bases-de-dados", LocalDate.of(2025, 8, 27)))
    c.produtos.createOrReplaceTempView("produtos")
    c.vendas.createOrReplaceTempView("vendas")
    c.empregados.createOrReplaceTempView("empregados")
    c
  }

  /** Unordered multiset compare on doubled numerics. */
  private def rows(df: DataFrame): Map[Seq[Any], Int] = {
    import org.apache.spark.sql.functions.col
    val casted = df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.NumericType => col(f.name).cast("double")
        case _ => col(f.name)
      }
    }
    df.select(casted: _*).collect().toSeq.map(_.toSeq)
      .groupBy(identity).map { case (r, g) => r -> g.size }
  }

  test("reference Q1 SQL (sales per employee) ≡ DataFrame q1") {
    val c = cleaned // force view registration before spark.sql
    val sql = spark.sql(
      """SELECT e.id_empregado, e.nome,
           COALESCE(SUM(v.valor_total), 0) AS valor_total
         FROM vendas v INNER JOIN empregados e
           ON v.id_empregado = e.id_empregado
         GROUP BY e.id_empregado, e.nome
         ORDER BY valor_total DESC""")
    assert(rows(sql) === rows(SalesPipeline.q1SalesByEmployee(c)))
  }

  test("reference Q2 SQL (avg ticket per product) ≡ DataFrame q2") {
    val c = cleaned
    // the reference's Q2 SQL carries no ORDER BY (the name-number sort
    // happens client-side) — multiset compare is the right equality
    val sql = spark.sql(
      """SELECT p.id_produto, p.nome,
           COALESCE(SUM(v.valor_total) / COUNT(v.id_venda), 0) AS ticket_medio
         FROM vendas v INNER JOIN produtos p ON v.id_produto = p.id_produto
         GROUP BY p.id_produto, p.nome""")
    assert(rows(sql) === rows(SalesPipeline.q2AvgTicketByProduct(c)))
  }

  test("reference Q3 SQL (sales per category) ≡ DataFrame q3") {
    val c = cleaned
    val sql = spark.sql(
      """SELECT p.categoria, COUNT(v.id_venda) AS quantidade_vendas
         FROM vendas v INNER JOIN produtos p ON v.id_produto = p.id_produto
         GROUP BY p.categoria
         ORDER BY quantidade_vendas DESC""")
    assert(rows(sql) === rows(SalesPipeline.q3SalesByCategory(c)))
  }

  test("reference Q4 SQL (top-5 employees) ≡ DataFrame q4") {
    val c = cleaned
    val sql = spark.sql(
      """SELECT e.id_empregado, e.nome,
           COALESCE(SUM(v.valor_total), 0) AS valor_total
         FROM empregados e INNER JOIN vendas v
           ON v.id_empregado = e.id_empregado
         GROUP BY e.id_empregado, e.nome
         ORDER BY valor_total DESC
         LIMIT 5""")
    // LIMIT-cut ties: compare the value multiset (the reference's own
    // cut is tie-unstable in Postgres too)
    assert(rows(sql.select("valor_total")) ===
      rows(SalesPipeline.q4Top5Employees(c).select("valor_total")))
  }

  test("reference Q5 SQL (sales per period, TO_CHAR→date_format) ≡ DataFrame q5") {
    val c = cleaned
    val sql = spark.sql(
      """SELECT date_format(v.data, 'yyyy-MM') AS periodo,
           COUNT(v.id_venda) AS quantidade_vendas,
           SUM(v.valor_total) AS valor_total
         FROM vendas v
         WHERE v.data IS NOT NULL
         GROUP BY date_format(v.data, 'yyyy-MM')
         ORDER BY periodo""")
    assert(rows(sql) === rows(SalesPipeline.q5SalesByPeriod(c)))
  }

  test("Spark 4 SQL pipe syntax runs Q1 with identical results") {
    // the modern linear dialect (FROM ... |> WHERE ... |> AGGREGATE):
    // same analyzed plan space as classic SQL, so parity with the
    // DataFrame implementation is the whole check — the engine's SQL
    // surface includes the 4.x dialect, not just SQL-92 shapes
    val c = cleaned
    val piped = spark.sql(
      """FROM vendas v
         |> INNER JOIN empregados e ON v.id_empregado = e.id_empregado
         |> AGGREGATE COALESCE(SUM(v.valor_total), 0) AS valor_total
            GROUP BY e.id_empregado, e.nome
         |> ORDER BY valor_total DESC""")
    // pipe AGGREGATE emits group cols first, then aggregates — align
    val aligned = piped.select("id_empregado", "nome", "valor_total")
    assert(rows(aligned) === rows(SalesPipeline.q1SalesByEmployee(c)))
  }

  test("Spark 4 collations: COLLATE UNICODE_CI folds case in distinct and grouping") {
    // collation-aware comparison is engine-level (hash/sort keys fold
    // under the collation — no lower() rewrite, so codegen'd
    // aggregation keeps working at scale on collated keys)
    import spark.implicits._
    Seq("Brand#11", "BRAND#11", "brand#11", "Brand#22").toDF("b")
      .createOrReplaceTempView("coll_t")
    assert(spark.sql(
      "SELECT COUNT(DISTINCT b COLLATE UNICODE_CI) AS n FROM coll_t")
      .head().getLong(0) === 2L)
    assert(spark.sql("SELECT COUNT(DISTINCT b) AS n FROM coll_t")
      .head().getLong(0) === 4L) // binary collation still the default
    val grouped = spark.sql(
      """SELECT COUNT(*) AS n FROM coll_t
         GROUP BY b COLLATE UNICODE_CI ORDER BY n DESC""")
      .collect().map(_.getLong(0)).toSeq
    assert(grouped === Seq(3L, 1L))
  }

  test("Spark 4 SQL UDFs: scalar and table functions match their inline twins") {
    // CREATE FUNCTION ... RETURN <expr> ships business logic as
    // catalog objects instead of JVM jars — the deployment story for
    // a shared 100 TB warehouse where analysts don't build Scala.
    // The body is substituted into the plan at analysis (no black-box
    // row-at-a-time evaluation), so codegen and pushdown still apply.
    val c = cleaned
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION money_round(x DOUBLE)
         RETURNS DOUBLE RETURN CAST(CAST(x AS DECIMAL(18,2)) AS DOUBLE)""")
    val viaUdf = spark.sql(
      """SELECT id_produto, SUM(money_round(valor_total)) AS total
         FROM vendas GROUP BY id_produto""")
    val inline = spark.sql(
      """SELECT id_produto,
           SUM(CAST(CAST(valor_total AS DECIMAL(18,2)) AS DOUBLE)) AS total
         FROM vendas GROUP BY id_produto""")
    assert(rows(viaUdf) === rows(inline))
    // table-valued SQL UDF: parameterized view over the catalog
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION vendas_of(pid INT)
         RETURNS TABLE(id_venda INT, valor_total DOUBLE)
         RETURN SELECT id_venda, valor_total FROM vendas
                WHERE id_produto = pid""")
    val pid = spark.sql("SELECT id_produto FROM vendas ORDER BY id_produto LIMIT 1")
      .head().getInt(0)
    assert(rows(spark.sql(s"SELECT * FROM vendas_of($pid)")) ===
      rows(spark.sql(
        s"SELECT id_venda, valor_total FROM vendas WHERE id_produto = $pid")))
  }

  test("LATERAL correlated subquery decorrelates to a join, matching the groupBy twin") {
    // per-product totals via LATERAL: Catalyst must decorrelate the
    // dependent subquery into a join/aggregate (a re-executed inner
    // query per outer row would be the scale bug). Result pinned
    // against the plain aggregate; plan pinned join-shaped.
    val c = cleaned
    val lateral = spark.sql(
      """SELECT p.id_produto, t.total
         FROM produtos p,
         LATERAL (SELECT SUM(v.valor_total) AS total FROM vendas v
                  WHERE v.id_produto = p.id_produto) t""")
    val twin = spark.sql(
      """SELECT p.id_produto, s.total
         FROM produtos p LEFT JOIN (
           SELECT id_produto, SUM(valor_total) AS total
           FROM vendas GROUP BY id_produto) s
         ON p.id_produto = s.id_produto""")
    assert(rows(lateral) === rows(twin))
    val opt = lateral.queryExecution.optimizedPlan.toString()
    assert(opt.contains("Join") && opt.contains("Aggregate"),
      s"lateral subquery did not decorrelate to join+aggregate:\n$opt")
  }

  test("parameterized SQL: named placeholders bind without string interpolation") {
    // spark.sql(text, args) is the injection-safe plan-cache-friendly
    // way to template the same statement over changing literals —
    // at fleet scale the alternative (string concat) both breaks the
    // SQL cache and invites quoting bugs.
    val c = cleaned
    val cat = spark.sql("SELECT categoria FROM produtos ORDER BY categoria LIMIT 1")
      .head().getString(0)
    val bound = spark.sql(
      """SELECT COUNT(*) AS n, SUM(preco) AS sp FROM produtos
         WHERE categoria = :cat AND preco >= :floor""",
      Map("cat" -> cat, "floor" -> 0.0))
    val literal = spark.sql(
      s"""SELECT COUNT(*) AS n, SUM(preco) AS sp FROM produtos
          WHERE categoria = '$cat' AND preco >= 0.0""")
    assert(rows(bound) === rows(literal))
    assert(bound.head().getLong(0) > 0, "vacuous: parameter matched nothing")
  }

  test("Spark 4 recursive CTE: transitive closure matches the hand-computed components") {
    // WITH RECURSIVE landed in Spark 4 — the declarative twin of the
    // engine's pointer-doubling cluster canonicalization (DedupOps),
    // whose DuckDB oracle already cross-validates the same recursion.
    // Spark 4.1 supports UNION ALL recursion only (UNION dedup raises
    // UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the fixture is the
    // DAG orientation of the component graph — paths are finite, the
    // loop terminates, and MIN(label) per node is still the
    // components contract: {1,2,3}, {4,5}, {6}.
    val closure = spark.sql(
      """WITH RECURSIVE reach(node, label) AS (
           SELECT node, node AS label
           FROM VALUES (1), (2), (3), (4), (5), (6) t(node)
           UNION ALL
           SELECT e.dst, r.label
           FROM reach r
           JOIN VALUES (1, 2), (2, 3), (4, 5) e(src, dst)
             ON e.src = r.node
         )
         SELECT node, MIN(label) AS comp FROM reach
         GROUP BY node ORDER BY node""")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toSeq
    assert(closure === Seq(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 4, 5 -> 4, 6 -> 6),
      s"recursive CTE closure diverged: $closure")
  }

  test("session variables + EXECUTE IMMEDIATE: typed state without string interpolation") {
    // DECLARE/SET VARIABLE (Spark 3.5+) is the catalog-backed way to
    // thread a computed scalar between statements — the multi-step
    // report pattern (compute a threshold, reuse it in later queries)
    // without driver-side string building; EXECUTE IMMEDIATE runs a
    // statement held in a variable, with USING binds for its own
    // parameters. Pin both against the directly-computed twin.
    val c = cleaned
    spark.sql("DECLARE OR REPLACE VARIABLE graft_floor DOUBLE")
    spark.sql("SET VARIABLE graft_floor = (SELECT AVG(preco) FROM produtos)")
    val viaVar = spark.sql(
      "SELECT COUNT(*) AS n FROM produtos WHERE preco > graft_floor")
      .head().getLong(0)
    val avg = spark.sql("SELECT AVG(preco) FROM produtos").head().getDouble(0)
    val direct = spark.sql(
      s"SELECT COUNT(*) AS n FROM produtos WHERE preco > $avg").head().getLong(0)
    assert(viaVar === direct && viaVar > 0,
      s"session-variable threshold diverged: $viaVar vs $direct")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_stmt STRING")
    spark.sql(
      """SET VARIABLE graft_stmt =
         'SELECT COUNT(*) AS n FROM produtos WHERE preco > ?'""")
    val viaExec = spark.sql("EXECUTE IMMEDIATE graft_stmt USING graft_floor")
      .head().getLong(0)
    assert(viaExec === direct, s"EXECUTE IMMEDIATE diverged: $viaExec")
  }

  test("SQL scripting: BEGIN/WHILE/IF procedural block matches the declarative twin") {
    // Spark 4 SQL scripting (BEGIN ... END with DECLARE, WHILE, IF)
    // — the migration surface for warehouse stored-procedure logic.
    // The script computes doubling powers of two below a bound, the
    // same contract as a recursive CTE; both must agree.
    val s = spark.newSession()
    s.conf.set("spark.sql.scripting.enabled", "true")
    val script = s.sql(
      """BEGIN
           DECLARE p INT DEFAULT 1;
           DECLARE acc STRING DEFAULT '1';
           WHILE p * 2 <= 64 DO
             SET p = p * 2;
             SET acc = acc || ',' || CAST(p AS STRING);
           END WHILE;
           SELECT acc AS powers;
         END""").head().getString(0)
    assert(script === "1,2,4,8,16,32,64", s"scripted loop diverged: $script")
  }

  test("native as-of join from pure SQL: asof_join TVF ≡ DataFrame API") {
    import org.apache.spark.sql.functions.col
    // Every other engine capability is reachable from spark.sql; the
    // whole-operator extension must be too. The TVF resolves its table
    // arguments through the session catalog and expands to the SAME
    // AsOfJoin node the Scala API builds — asserted by plan and by
    // value against asof_nat / asof_tol on real data.
    val sf = "/root/testdata/sf0.01"
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.operators.TimeSeriesOps.epochSecExpr("ts").as("es"))
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("es"))
      .createOrReplaceTempView("asof_purchases")
    ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
      .createOrReplaceTempView("asof_signups")
    val sql = spark.sql(
      """SELECT event_id, user_id, signup_es AS last_signup_es
         FROM asof_join('asof_purchases', 'asof_signups',
                        'user_id:s_uid', 'es', 'signup_es')
         ORDER BY event_id""")
    assert(sql.queryExecution.executedPlan.toString().contains("AsOfJoin"),
      "SQL surface did not plan the native as-of operator")
    assert(rows(sql) === rows(graft.operators.StatOps.asofJoinNative(spark, sf)))
    // optional 6th argument: the pandas-merge_asof tolerance bound
    val tol = spark.sql(
      s"""SELECT event_id, user_id, signup_es AS last_signup_es
          FROM asof_join('asof_purchases', 'asof_signups',
                         'user_id:s_uid', 'es', 'signup_es',
                         ${graft.operators.StatOps.AsofToleranceSec})
          ORDER BY event_id""")
    assert(rows(tol) === rows(graft.operators.StatOps.asofJoinTolerance(spark, sf)))
    // argument validation fails fast with the usage string
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM asof_join('asof_purchases', 'asof_signups', 'x')")
        .collect()
    }
    assert(err.getMessage.contains("asof_join"), s"unhelpful error: $err")
  }
}
