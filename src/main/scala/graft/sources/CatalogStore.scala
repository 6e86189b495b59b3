package graft.sources

/** Dataset catalog record (the reference provisions Postgres 17 + diesel
  * migrations for exactly this dataset/saved-query state,
  * docker-compose.yaml:2-19): `name → (path, format, options)`, persisted
  * by [[JdbcCatalog]] so registrations survive a session or process
  * restart.
  *
  * Scale note: the catalog holds table *locations*, never data — O(number
  * of registered datasets), independent of data volume.
  */
object CatalogStore {

  final case class Entry(
      name: String,
      path: String,
      format: String,
      options: Map[String, String] = Map.empty)
}
