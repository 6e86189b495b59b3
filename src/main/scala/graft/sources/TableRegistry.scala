package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Logical-name → dataset registry (SURVEY.md §1.3): the engine-side
  * analogue of the reference's Postgres dataset catalog
  * (docker-compose.yaml:2-19 in the reference) — maps table names to
  * file-backed loaders (with their scan shims) and projects them into the
  * Spark session catalog as temp views so SQL / GraphQL / NL dialects all
  * resolve the same relations.
  *
  * Every load reads through [[graft.Tables.read]]'s schema cache, keyed by
  * (path, format, options) and valid per file stamp: a warm `registerAll`
  * over unchanged files starts no Spark job, and a file rewritten in place
  * is re-inferred on the next request that reads it. Only schemas are
  * shared; each caller's session still gets its own relations and views.
  */
object TableRegistry {

  /** All fixture tables; `events`/`embeddings` go through their canonical
    * scan shims (SURVEY.md §1.4) — a registry consumer can never forget
    * them.
    */
  val tables: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region"    -> ((s, d) => Tables.region(s, d)),
    "nation"    -> ((s, d) => Tables.nation(s, d)),
    "customer"  -> ((s, d) => Tables.customer(s, d)),
    "supplier"  -> ((s, d) => Tables.supplier(s, d)),
    "part"      -> ((s, d) => Tables.part(s, d)),
    "orders"    -> ((s, d) => Tables.orders(s, d)),
    "lineitem"  -> ((s, d) => Tables.lineitem(s, d)),
    "events"    -> (Tables.events _),
    "documents" -> ((s, d) => Tables.documents(s, d)),
    "embeddings" -> (Tables.embeddings _)
  )

  /** Dynamic dataset registrations (round 13, verdict item 2 — the
    * karna-db role: the reference's Postgres catalog implies a surface
    * that REGISTERS datasets, not just queries them). Process-global on
    * purpose: registrations are catalog state (one catalog per serving
    * process, durably backed by [[JdbcCatalog]] at the
    * HTTP layer), while per-request isolation stays where it already
    * lives — each request's private temp-view session. Names here join
    * the static fixture tables for resolution in ALL THREE dialects:
    * `load` (GraphQL), `register` (SQL temp views), and `allNames`
    * (the NlGate allowlist + GraphQL introspection).
    *
    * Scale note: O(registered datasets) names — locations only, no data.
    */
  private val dynamic =
    new java.util.concurrent.ConcurrentHashMap[String, CatalogStore.Entry]()

  /** Valid SQL identifier only — a registered name is spliced into temp-
    * view creation and referenced from all dialects, so reject anything
    * that needs quoting up front.
    */
  private val ValidName = "[A-Za-z_][A-Za-z0-9_]*".r

  /** Name-shape + shadowing validation WITHOUT mutating the registry —
    * callers that must probe other preconditions (path loadability)
    * before any store is touched run this first.
    */
  def checkRegistrable(e: CatalogStore.Entry): Unit = {
    require(ValidName.matches(e.name),
      s"dataset name must match ${ValidName.regex}: '${e.name}'")
    require(!tables.contains(e.name.toLowerCase),
      s"'${e.name.toLowerCase}' is a built-in table and cannot be re-registered")
  }

  def registerDynamic(e: CatalogStore.Entry): Unit = {
    checkRegistrable(e)
    dynamic.put(e.name.toLowerCase, e.copy(name = e.name.toLowerCase))
  }

  def unregisterDynamic(name: String): Boolean =
    dynamic.remove(name.toLowerCase) != null

  def isDynamic(name: String): Boolean = dynamic.containsKey(name.toLowerCase)

  def dynamicEntries: Seq[CatalogStore.Entry] = {
    import scala.jdk.CollectionConverters._
    dynamic.values.asScala.toSeq.sortBy(_.name)
  }

  /** Every resolvable table name — static fixtures + dynamic datasets:
    * the single allowlist NlGate validates against and GraphQL
    * introspection reports.
    */
  def allNames: Set[String] = {
    import scala.jdk.CollectionConverters._
    tables.keySet ++ dynamic.keySet.asScala
  }

  /** A registered dataset's schema as last inferred for its (path, format,
    * options), when known (filled by the register-time loadability probe or
    * any load; refreshed by every load after the file changes). Round 15:
    * the NL translator's column-level productions over registered tables
    * ("how many rows in X where COL is V") resolve columns and types here
    * at TRANSLATE time — no session, no data read — so a typo'd column
    * rejects loudly with the real column list before any plan exists.
    */
  def cachedSchema(name: String): Option[org.apache.spark.sql.types.StructType] =
    Option(dynamic.get(name.toLowerCase))
      .flatMap(e => Tables.cachedSchema(e.path, e.format, e.options))

  /** DECLARED fixture-table schemas, AS THE DIALECTS SEE THEM (post-shim:
    * `events.ts` is the reconstructed µs timestamp, `embeddings.embedding`
    * the array<double> cast — SURVEY.md §1.4). Round 16: the NL column-level
    * productions ("how many rows in nation where n_name is GERMANY") resolve
    * fixture columns and types here at TRANSLATE time, exactly like
    * registered datasets resolve against [[cachedSchema]] — static
    * declaration rather than a session read keeps `translate` referentially
    * transparent (no request-history dependence, the round-15 ADVICE
    * discipline). The declaration is the FIXTURES.md contract verbatim;
    * FixtureSchemaSpec locks each entry to the actual loaded schema so a
    * driver-side fixture change breaks the build, not the translation.
    */
  val fixtureSchemas: Map[String, org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    def st(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })
    Map(
      "region" -> st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> st("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> st("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      "lineitem" -> st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType),
      "events" -> st("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> st("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> st("vec_id" -> LongType,
        "embedding" -> ArrayType(DoubleType), "label" -> IntegerType))
  }

  /** Load a registration's data — schema inferred once per file stamp, so
    * per-request view registration re-infers only after the file changes.
    * Public: the register path uses it as the loadability probe.
    */
  def loadEntry(s: SparkSession, e: CatalogStore.Entry): DataFrame =
    Tables.read(s, e.path, e.format, e.options)

  def load(s: SparkSession, dir: String, name: String): DataFrame =
    tables.get(name).map(_(s, dir))
      .orElse(Option(dynamic.get(name.toLowerCase)).map(loadEntry(s, _)))
      .getOrElse(throw new IllegalArgumentException(s"unknown table: $name"))

  /** Register every table as a temp view (idempotent) — static fixtures
    * against `dir`, plus every dynamic dataset at its own registered
    * location. For callers that need the whole catalog; a served query
    * registers only the tables it names ([[register]]).
    */
  def registerAll(s: SparkSession, dir: String): Unit = register(s, dir, allNames)

  /** Register the named tables as temp views (idempotent); a name that is
    * no longer registered is left for the query to fail on. A dynamic
    * dataset whose path has gone bad since registration (deleted/moved
    * file) is SKIPPED with a stderr warning instead of failing the call
    * (round-14 ADVICE: one broken entry previously broke every SQL request
    * server-wide): queries that reference the broken name fail with
    * table-not-found; every other query is unaffected.
    */
  def register(s: SparkSession, dir: String, names: Iterable[String]): Unit =
    names.map(_.toLowerCase).foreach { name =>
      tables.get(name) match {
        case Some(fn) => fn(s, dir).createOrReplaceTempView(name)
        case None => Option(dynamic.get(name)).foreach { e =>
          try loadEntry(s, e).createOrReplaceTempView(e.name)
          catch { case scala.util.control.NonFatal(t) =>
            System.err.println(s"[registry] dataset '${e.name}' is not loadable " +
              s"at ${e.path} (${t.getMessage}); skipping its view — unregister " +
              "or re-register it to clear this")
          }
        }
      }
    }

  /** Foreign-key graph for dialect translators: (table, relation field) →
    * (target table, local key, target key).
    */
  val relations: Map[(String, String), (String, String, String)] = Map(
    ("orders", "customer")   -> (("customer", "o_custkey", "c_custkey")),
    ("customer", "nation")   -> (("nation", "c_nationkey", "n_nationkey")),
    ("supplier", "nation")   -> (("nation", "s_nationkey", "n_nationkey")),
    ("nation", "region")     -> (("region", "n_regionkey", "r_regionkey")),
    ("lineitem", "orders")   -> (("orders", "l_orderkey", "o_orderkey")),
    ("lineitem", "part")     -> (("part", "l_partkey", "p_partkey")),
    ("lineitem", "supplier") -> (("supplier", "l_suppkey", "s_suppkey"))
  )

  /** One-to-many direction, derived mechanically from `relations` (parent →
    * child table under the child's own name, keys swapped) so the two maps
    * cannot drift: (parent, childTable) -> (childTable, parentKey,
    * childFk). This is the direction nested `<relation>_agg` subtrees
    * aggregate over (customer { orders_agg { … } }).
    */
  val reverseRelations: Map[(String, String), (String, String, String)] =
    relations.map { case ((child, _), (parent, fk, pk)) =>
      (parent, child) -> ((child, pk, fk))
    }
}
