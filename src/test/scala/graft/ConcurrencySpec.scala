package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.server.Server
import graft.sources.{CatalogStore, DatasetRegistry, JdbcCatalog, TableRegistry}

/** Concurrent-serving soak (round-13 verdict item 5): `Server.handle`
  * isolates requests via `newSession()` and `DatasetRegistry` is
  * synchronized, but every prior spec exercised the HTTP API
  * SEQUENTIALLY. This suite hammers one HttpApi with N client threads ×
  * mixed dialects × interleaved catalog register/unregister and asserts
  * the two properties concurrency can silently break:
  *
  *  1. per-request ROW IDENTITY — each thread's parametrized query gets
  *     ITS OWN answer back (a cross-request session leak — the
  *     registerAll temp-view race handle()'s newSession exists to
  *     prevent — would swap results between threads);
  *  2. catalog consistency — after interleaved register/unregister
  *     churn against concurrent readers, the registry and the durable
  *     store agree and hold exactly the expected final entries.
  */
class ConcurrencySpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val d = TestSpark.sfDir
  private val mapper = new ObjectMapper()

  private def post(client: HttpClient, port: Int, path: String, body: String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    client.send(req, HttpResponse.BodyHandlers.ofString())
  }

  test("N threads × mixed dialects: every request gets ITS OWN rows back") {
    val api = new Server.HttpApi(spark, 0)
    api.start()
    try {
      val port = api.boundPort
      val threads = 12
      val rounds = 5
      val pool = Executors.newFixedThreadPool(threads)
      val start = new CountDownLatch(1)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val tasks = (0 until threads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val client = HttpClient.newHttpClient()
            start.await()
            (0 until rounds).foreach { r =>
              try {
                t % 3 match {
                  case 0 =>
                    // sql with a thread-unique bound parameter: the echo
                    // column proves THIS thread's binding came back
                    val q = s"""{"dialect":"sql","dir":"$d","query":
                      "SELECT :tag AS tag, count(*) AS n FROM orders",
                      "params":{"tag":"t$t-r$r"}}""".replace("\n", " ")
                    val resp = mapper.readTree(post(client, port, "/query", q).body())
                    val tag = resp.get("rows").get(0).get("tag").asText
                    if (tag != s"t$t-r$r")
                      failures.add(s"sql cross-talk: expected t$t-r$r got $tag")
                  case 1 =>
                    // graphql with a thread-unique limit: row count echoes it
                    val lim = 1 + (t + r) % 7
                    val q = s"""{"dialect":"graphql","dir":"$d","query":
                      "{ orders(orderBy: [\\"o_orderkey\\"], limit: $lim) { o_orderkey } }"}"""
                      .replace("\n", " ")
                    val resp = mapper.readTree(post(client, port, "/query", q).body())
                    if (resp.get("rowCount").asInt != lim)
                      failures.add(s"gql cross-talk: limit $lim got ${resp.get("rowCount")}")
                  case 2 =>
                    // nl: a fixed-answer question — any drift is a leak
                    val q = s"""{"dialect":"nl","dir":"$d","query":"how many rows are in region"}"""
                    val resp = mapper.readTree(post(client, port, "/query", q).body())
                    val n = resp.get("rows").get(0).get("n_rows").asLong
                    if (n != 5L) failures.add(s"nl drift: region rows $n")
                }
              } catch {
                case e: Exception => failures.add(s"t$t r$r: ${e.getMessage}")
              }
            }
          }
        })
      }
      start.countDown()
      tasks.foreach(_.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      assert(failures.isEmpty, s"concurrent serving broke row identity: " +
        failures.asScala.take(5).mkString("; "))
    } finally api.stop()
  }

  test("two dirs served at once: a same-name table with different columns answers per dir") {
    // the schema cache is process-wide and keyed by path, so two dirs whose
    // `region` differs in columns must never see each other's schema
    val dirs = Seq("a", "b").map { tag =>
      val dir = TestSpark.fixtureCopy(s"graft_conc_dir_$tag")
      TestSpark.addColumn(dir, "region", s"r_$tag", tag.toUpperCase)
      tag -> dir
    }
    val api = new Server.HttpApi(spark, 0)
    api.start()
    try {
      val port = api.boundPort
      val threads = 8
      val pool = Executors.newFixedThreadPool(threads)
      val start = new CountDownLatch(1)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val tasks = (0 until threads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val client = HttpClient.newHttpClient()
            start.await()
            (0 until 4).foreach { r =>
              val (tag, dir) = dirs((t + r) % 2)
              try {
                val cols = mapper.readTree(post(client, port, "/query",
                  s"""{"dialect":"sql","dir":"$dir","query":"SELECT * FROM region"}""")
                  .body()).path("columns").elements().asScala.map(_.asText).toSeq
                if (cols != Seq("r_regionkey", "r_name", s"r_$tag"))
                  failures.add(s"sql in dir $tag got columns $cols")
                val gql = mapper.readTree(post(client, port, "/query",
                  s"""{"dialect":"graphql","dir":"$dir","query":"{ region { r_$tag } }"}""")
                  .body())
                val vals = gql.path("rows").elements().asScala.map(_.path(s"r_$tag").asText).toSeq
                if (vals != Seq.fill(5)(tag.toUpperCase))
                  failures.add(s"graphql in dir $tag got ${gql.toString.take(160)}")
              } catch { case e: Exception => failures.add(s"t$t r$r: ${e.getMessage}") }
            }
          }
        })
      }
      start.countDown()
      tasks.foreach(_.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      assert(failures.isEmpty, s"a dir saw another dir's schema: " +
        failures.asScala.take(5).mkString("; "))
    } finally api.stop()
  }

  test("interleaved register/unregister under concurrent readers keeps the catalog consistent") {
    val catDb = Files.createTempDirectory("graft_conc_cat").resolve("db").toString
    val api = new Server.HttpApi(spark, 0, Some(catDb))
    api.start()
    try {
      val port = api.boundPort
      val writers = 4
      val rounds = 6
      val pool = Executors.newFixedThreadPool(writers + 2)
      val start = new CountDownLatch(1)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      // writers: each churns its OWN name (register → query → unregister)
      val wtasks = (0 until writers).map { w =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val client = HttpClient.newHttpClient()
            start.await()
            (0 until rounds).foreach { r =>
              try {
                val name = s"conc_ds_$w"
                val reg = post(client, port, "/datasets",
                  s"""{"name":"$name","path":"$d/region.parquet","format":"parquet"}""")
                if (reg.statusCode != 200)
                  failures.add(s"w$w r$r register: ${reg.statusCode} ${reg.body}")
                // the registered name must answer THROUGH the query surface
                val q = post(client, port, "/query",
                  s"""{"dialect":"sql","dir":"$d","query":"SELECT count(*) AS n FROM $name"}""")
                val n = mapper.readTree(q.body).path("rows").path(0).path("n").asLong(-1)
                if (n != 5L) failures.add(s"w$w r$r query: got $n (${q.body.take(120)})")
                val del = HttpRequest.newBuilder(
                    URI.create(s"http://localhost:$port/datasets/$name")).DELETE().build()
                val dr = HttpClient.newHttpClient()
                  .send(del, HttpResponse.BodyHandlers.ofString())
                if (dr.statusCode != 200)
                  failures.add(s"w$w r$r delete: ${dr.statusCode} ${dr.body}")
              } catch { case e: Exception => failures.add(s"w$w r$r: ${e.getMessage}") }
            }
          }
        })
      }
      // readers: fixture queries must never be disturbed by catalog churn
      val rtasks = (0 until 2).map { _ =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val client = HttpClient.newHttpClient()
            start.await()
            (0 until writers * rounds).foreach { i =>
              try {
                val resp = mapper.readTree(post(client, port, "/query",
                  s"""{"dialect":"sql","dir":"$d","query":"SELECT count(*) AS n FROM nation"}""").body())
                val n = resp.path("rows").path(0).path("n").asLong(-1)
                if (n != 25L) failures.add(s"reader drift at $i: $n")
              } catch { case e: Exception => failures.add(s"reader $i: ${e.getMessage}") }
            }
          }
        })
      }
      start.countDown()
      (wtasks ++ rtasks).foreach(_.get(180, TimeUnit.SECONDS))
      pool.shutdown()
      assert(failures.isEmpty, s"catalog churn broke serving: " +
        failures.asScala.take(5).mkString("; "))
      // final consistency: all churned names gone from BOTH stores
      assert(DatasetRegistry.list.forall(e => !e.name.startsWith("conc_ds_")),
        s"process registry kept churned entries: ${DatasetRegistry.list}")
      val client = HttpClient.newHttpClient()
      val ls = mapper.readTree(client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/datasets")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
      assert(!ls.get("datasets").elements().asScala
        .exists(_.get("name").asText.startsWith("conc_ds_")), ls.toString)
    } finally api.stop()
  }

  test("peer-connection catalog writes are visible on the FIRST next request under load") {
    // round 17 (cross-process coherence under contention): a PEER
    // replica — simulated by a second connection writing the durable
    // catalog directly — registers datasets while this server handles
    // concurrent fixture traffic. The coherence contract is first-try:
    // syncIfStale runs at the top of handle(), so the very first /query
    // naming a peer-registered dataset must answer (no retry window),
    // while concurrent reload churn must never disturb in-flight fixture
    // queries or throw from the reconcile path.
    val catDb = Files.createTempDirectory("graft_peer_sync").resolve("db").toString
    val api = new Server.HttpApi(spark, 0, Some(catDb))
    api.start()
    try {
      val port = api.boundPort
      val peer = JdbcCatalog.connect(catDb)
      try {
        val names = (0 until 6).map(i => s"peer_sync_$i")
        val pool = Executors.newFixedThreadPool(2)
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        // background readers keep serving (and therefore sync-reconciling)
        // busy while the peer writes
        val readers = (0 until 2).map { _ =>
          pool.submit(new Runnable {
            override def run(): Unit = {
              val client = HttpClient.newHttpClient()
              while (!stop.get()) {
                try {
                  val n = mapper.readTree(post(client, port, "/query",
                    s"""{"dialect":"sql","dir":"$d","query":"SELECT count(*) AS n FROM region"}""")
                    .body).path("rows").path(0).path("n").asLong(-1)
                  if (n != 5L) failures.add(s"fixture drift under sync churn: $n")
                } catch { case e: Exception => failures.add(s"reader: ${e.getMessage}") }
              }
            }
          })
        }
        val client = HttpClient.newHttpClient()
        names.foreach { nm =>
          JdbcCatalog.register(peer,
            CatalogStore.Entry(nm, s"$d/nation.parquet", "parquet"))
          val resp = post(client, port, "/query",
            s"""{"dialect":"sql","dir":"$d","query":"SELECT count(*) AS n FROM $nm"}""")
          val n = mapper.readTree(resp.body).path("rows").path(0).path("n").asLong(-1)
          if (n != 25L)
            failures.add(s"$nm not visible on first request: ${resp.body.take(160)}")
        }
        stop.set(true)
        readers.foreach(_.get(60, TimeUnit.SECONDS))
        pool.shutdown()
        // peer unregisters everything; one sync later they are gone here
        names.foreach(nm => JdbcCatalog.unregister(peer, nm))
        DatasetRegistry.syncIfStale(None)
        assert(names.forall(nm => !TableRegistry.isDynamic(nm)),
          s"peer deletes must reconcile: ${DatasetRegistry.list.map(_.name)}")
        assert(failures.isEmpty,
          s"coherence under load broke: ${failures.asScala.take(5).mkString("; ")}")
      } finally peer.close()
    } finally api.stop()
  }

  test("dataset, saved-query and user writes at once on one attached catalog share its connection safely") {
    // One Connection carries one transaction and one autocommit flag. A
    // dataset registration, a saved query and a user written at once (the
    // HTTP pool runs them on 8 threads), while readers sync the stamp,
    // must neither commit nor roll back each other's work, nor leave
    // autocommit off: a stamp read inside a transaction that never commits
    // keeps its read lock on catalog_seq and blocks every peer's write.
    import graft.dialects.SavedQueries
    import graft.sources.UserRegistry
    val catDb = Files.createTempDirectory("graft_one_lock").resolve("db").toString
    val c = JdbcCatalog.connect(catDb)
    val peer = JdbcCatalog.connect(catDb)
    val rounds = 30
    val pool = Executors.newFixedThreadPool(5)
    try {
      CatalogStore.attach(c)
      val start = new CountDownLatch(1)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def writer(what: String)(write: Int => Unit) = pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          (0 until rounds).foreach { r =>
            try write(r)
            catch { case e: Exception => failures.add(s"$what r$r: $e") }
          }
        }
      })
      // odd rounds delete what they wrote, so both writes and deletes race
      val writers = Seq(
        writer("dataset") { r =>
          val name = s"race_ds_$r"
          DatasetRegistry.register(CatalogStore.Entry(name, s"$d/region.parquet", "parquet"))
          if (r % 2 == 1) DatasetRegistry.unregister(name)
        },
        writer("query") { r =>
          val name = s"race_q_$r"
          SavedQueries.save(spark,
            SavedQueries.Entry(name, "nl", "how many rows are in region"))
          if (r % 2 == 1) SavedQueries.delete(name)
        },
        writer("user") { r =>
          val name = s"race_u_$r"
          UserRegistry.create(name)
          if (r % 2 == 1) UserRegistry.delete(name)
        })
      val readers = (0 until 2).map { _ =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            start.await()
            while (!stop.get()) {
              try CatalogStore.syncIfStale()
              catch { case e: Exception => failures.add(s"sync: $e") }
            }
          }
        })
      }
      start.countDown()
      writers.foreach(_.get(180, TimeUnit.SECONDS))
      stop.set(true)
      readers.foreach(_.get(60, TimeUnit.SECONDS))
      assert(failures.isEmpty, failures.asScala.take(5).mkString("; "))

      assert(c.getAutoCommit, "autocommit must be back on once the writers are done")
      def race(names: Seq[String]) = names.filter(_.startsWith("race_")).sorted
      assert(race(DatasetRegistry.list.map(_.name)) === race(JdbcCatalog.load(c).map(_.name)))
      assert(race(SavedQueries.list.map(_.name)) === race(JdbcCatalog.loadQueries(c).map(_.name)))
      assert(race(UserRegistry.list) === race(JdbcCatalog.loadUsers(c).map(_.name)))
      assert(race(UserRegistry.list) === (0 until rounds by 2).map(r => s"race_u_$r").sorted)

      // a peer's write still gets through: no read lock left on the stamp
      val before = JdbcCatalog.readSeq(peer)
      val bump = java.util.concurrent.CompletableFuture.runAsync(() =>
        JdbcCatalog.register(peer,
          CatalogStore.Entry("race_peer", s"$d/region.parquet", "parquet")))
      bump.get(30, TimeUnit.SECONDS)
      assert(JdbcCatalog.readSeq(peer) > before, "a peer write must move the stamp")
    } finally {
      pool.shutdownNow()
      CatalogStore.detach()
      if (!c.getAutoCommit) c.rollback()
      (0 until rounds).foreach { r =>
        TableRegistry.unregisterDynamic(s"race_ds_$r")
        SavedQueries.delete(s"race_q_$r")
        UserRegistry.delete(s"race_u_$r")
      }
      TableRegistry.unregisterDynamic("race_peer")
      c.close(); peer.close()
    }
  }
}
