package graft.sources

import java.sql.Connection

import org.apache.spark.sql.SparkSession

/** The metadata catalog a serving process attaches (the reference
  * provisions Postgres 17 + diesel migrations for exactly this state,
  * docker-compose.yaml:2-19): registered datasets, saved queries and
  * users, persisted by [[JdbcCatalog]] so they survive a session or
  * process restart.
  *
  * This object owns everything the three registries ([[DatasetRegistry]],
  * [[graft.dialects.SavedQueries]], [[UserRegistry]]) share: which
  * connection is attached, the last `catalog_seq` stamp this process saw,
  * and the one lock that serializes every use of that connection — stamp
  * reads, reloads and registry writes. One lock matters: a JDBC connection
  * carries one transaction and one autocommit flag, so two writers on it
  * at once would commit or roll back each other's work, and could leave
  * autocommit off for every later stamp read. Each registry keeps only its
  * process map, its validation (run BEFORE [[write]], outside the lock, so
  * a slow schema probe never stalls a request's stamp read) and its
  * rollback order.
  *
  * Without an attachment (unit tests, embedded use, the operator keys) the
  * registries are process-lifetime only.
  *
  * Scale note: the catalog holds table *locations*, names and key hashes,
  * never data — O(metadata rows), independent of data volume.
  */
object CatalogStore {

  /** Dataset catalog record: `name → (path, format, options)`. */
  final case class Entry(
      name: String,
      path: String,
      format: String,
      options: Map[String, String] = Map.empty)

  // both change only under this object's lock; `attached` is volatile for
  // the lock-free isDurable read
  @volatile private var attached: Option[Connection] = None
  private var lastSeenSeq: Long = -1L

  /** Attach the durable catalog and replay its rows into all three
    * registries — a restarted server resolves every registered dataset,
    * lists every saved query and authenticates every user before serving
    * its first request.
    */
  def attach(c: Connection): Unit = synchronized {
    attached = Some(c)
    reload(c)
  }

  /** Detach (tests / shutdown), after any write in flight. Process entries
    * remain until individually removed — detaching must not yank tables
    * out from under in-flight queries.
    */
  def detach(): Unit = synchronized { attached = None }

  /** Whether a durable catalog is attached — the serving layer's one write
    * guard: metadata writes on a catalog-less server are rejected LOUDLY at
    * every surface instead of silently creating process-lifetime-only
    * state.
    */
  def isDurable: Boolean = attached.nonEmpty

  /** Cross-process coherence (the DEPLOY.md §5 multi-replica shape): read
    * the catalog's global write stamp once; when it moved since this
    * process last looked, reconcile all three registries against the
    * durable rows — peer writes appear, peer deletes vanish (an entry
    * re-pointed under the same name resolves its new path on the next
    * load: schemas are cached per path and file stamp, not per name).
    * Called at the serving read paths, so a replica observes its peers'
    * writes on the next request, not at its next restart. Cost when
    * nothing changed: one single-row SELECT. No-op without an attachment.
    *
    * The durable catalog is authoritative while attached: every local
    * write goes to both stores, so a process-only entry the durable store
    * lacks can only mean a peer deleted it. After a reload, `warmWith`
    * (outside the lock) brings the registered datasets' cached schemas up
    * to date.
    */
  def syncIfStale(warmWith: Option[SparkSession] = None): Unit = {
    val reloaded = synchronized {
      attached.exists(c => JdbcCatalog.readSeq(c) != lastSeenSeq && { reload(c); true })
    }
    if (reloaded) warmWith.foreach(DatasetRegistry.warmSchemas)
  }

  /** Caller holds the lock. The stamp is read BEFORE the rows, so a write
    * landing in between is picked up again by the next sync, never missed.
    */
  private def reload(c: Connection): Unit = {
    val seq = JdbcCatalog.readSeq(c)
    DatasetRegistry.reload(JdbcCatalog.load(c))
    graft.dialects.SavedQueries.reload(JdbcCatalog.loadQueries(c))
    UserRegistry.reload(JdbcCatalog.loadUsers(c))
    lastSeenSeq = seq
  }

  /** Run one registry write under the catalog lock, given the attached
    * connection (None: process-only). Stamp reads and reloads take the
    * same lock, so no reload interleaves with a write's process-then-
    * durable steps and no two transactions share the connection.
    */
  private[graft] def write[T](body: Option[Connection] => T): T =
    synchronized(body(attached))

  /** Make `m` hold exactly `rows`, putting before removing, so a lock-free
    * reader never sees the map pass through empty on the way (for users
    * that would briefly switch authentication off).
    */
  private[graft] def reconcile[V](m: java.util.concurrent.ConcurrentHashMap[String, V],
                                  rows: Map[String, V]): Unit = {
    rows.foreach { case (k, v) => m.put(k, v) }
    m.keySet.removeIf(k => !rows.contains(k))
  }
}
