package graft.sources

import java.nio.charset.StandardCharsets

/** The ONE user write path (round 15 — the last object the reference's
  * karna-db crate implies: its Postgres catalog + web surface pair means
  * registered datasets, saved queries, and USERS, SURVEY §1.1; reference
  * Cargo.toml:11-13 + docker-compose.yaml:2-19).
  *
  * Deliberately minimal and honest: a user is a name plus one API key.
  * The key is generated server-side (32 bytes of SecureRandom,
  * base64url), returned EXACTLY ONCE at creation, and only its SHA-256
  * is stored — neither the process map nor the durable catalog ever
  * holds a plaintext credential, so the catalog DB leaking cannot leak
  * keys. [[CatalogStore]] attaches, replays and syncs it together with
  * [[DatasetRegistry]] and SavedQueries, and it keeps their rollback
  * discipline, so the three metadata registries behave identically.
  *
  * Enforcement lives at the HTTP edge ([[graft.server.Server.HttpApi]]):
  * while NO users exist, the server is open (the embedded/trusted
  * default — the same opt-in trust model as GRAFT_DATA_ROOTS); creating
  * the first user turns authentication ON for every data/metadata route,
  * and deleting the last turns it back off. The in-process `Server.handle`
  * seam stays unauthenticated by design — it is the library surface, and
  * callers there already run inside the JVM.
  *
  * Scale note: O(users) rows of name→hash metadata.
  */
object UserRegistry {

  private val ValidName = "[A-Za-z_][A-Za-z0-9_]*".r

  /** name → SHA-256(api key) hex. */
  private val process =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** SHA-256(api key) hex → name: the authenticate-path reverse index,
    * maintained in lockstep with `process` under the catalog lock.
    */
  private val byHash =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val rng = new java.security.SecureRandom()

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Rebuild both maps from the durable rows (called by [[CatalogStore]]
    * under its lock, on attach and when the stamp moved). Auth is where
    * coherence matters most: a key issued by a peer replica must
    * authenticate HERE on the next request, and a peer's user deletion
    * must revoke access NOW, not at this replica's next restart.
    */
  private[sources] def reload(rows: Seq[JdbcCatalog.User]): Unit = {
    CatalogStore.reconcile(process, rows.map(u => u.name -> u.apiKeyHash).toMap)
    CatalogStore.reconcile(byHash, rows.map(u => u.apiKeyHash -> u.name).toMap)
  }

  /** Whether authentication is REQUIRED: any user exists. */
  def authRequired: Boolean = !process.isEmpty

  /** Create a user; returns (name, plaintext API key) — the ONLY time
    * the plaintext exists. Duplicate names reject (a re-keyed user is
    * DELETE + create, never a silent credential rotation).
    */
  def create(name0: String): (String, String) = {
    val name = name0.toLowerCase
    require(ValidName.matches(name),
      s"user name must match ${ValidName.regex}: '$name'")
    CatalogStore.write { durable =>
      require(!process.containsKey(name),
        s"user '$name' already exists (DELETE it first to re-key)")
      val bytes = new Array[Byte](32)
      rng.nextBytes(bytes)
      val key = "gk_" + java.util.Base64.getUrlEncoder.withoutPadding
        .encodeToString(bytes)
      val hash = sha256Hex(key)
      process.put(name, hash)
      byHash.put(hash, name)
      try durable.foreach(JdbcCatalog.addUser(_, JdbcCatalog.User(name, hash)))
      catch {
        case t: Throwable =>
          process.remove(name); byHash.remove(hash); throw t
      }
      (name, key)
    }
  }

  /** Durable-first delete (the register-rollback mirror). Returns true if
    * EITHER store held the row: a durable row the process map lacks (e.g.
    * a peer process sharing the catalog wrote it) is still a real delete,
    * not a 404.
    */
  def delete(name: String): Boolean = CatalogStore.write { durable =>
    val n = name.toLowerCase
    val inDurable = durable.exists(JdbcCatalog.deleteUser(_, n))
    val prior = process.remove(n)
    if (prior != null) byHash.remove(prior)
    prior != null || inDurable
  }

  /** Resolve a presented API key to its user: hash once, O(1) lookup on
    * the hash→name index, then a constant-time byte comparison
    * (MessageDigest.isEqual) between the presented and stored digests —
    * never a plaintext or early-exit String comparison.
    */
  def authenticate(apiKey: String): Option[String] = {
    val h = sha256Hex(apiKey)
    Option(byHash.get(h)).filter { name =>
      val stored = process.get(name)
      stored != null && java.security.MessageDigest.isEqual(
        stored.getBytes(StandardCharsets.UTF_8),
        h.getBytes(StandardCharsets.UTF_8))
    }
  }

  def list: Seq[String] = {
    import scala.jdk.CollectionConverters._
    process.keySet().asScala.toSeq.sorted
  }
}
