package graft

import graft.server.Server

/** Start the serving surface: the HTTP JSON API plus the browser console
  * at GET / (the reference's headline "web interface to query tabular
  * files", README.md:2). Usage: `graft.Serve [port]` — default 8080,
  * `0` binds an ephemeral port; the bound URL is printed on stdout.
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val spark = GraftSession("graft-serve")
    // durable dataset catalog (POST /datasets + the registerDataset
    // mutation persist here; registrations survive restarts). Override
    // with GRAFT_CATALOG_DIR — an embedded Derby directory by default,
    // or a full JDBC URL (jdbc:postgresql://…) for a shared catalog
    // (DEPLOY.md §5).
    val catalogDir = sys.env.getOrElse("GRAFT_CATALOG_DIR", "target/graft-catalog")
    val api = new Server.HttpApi(spark, port, Some(catalogDir))
    api.start()
    println(s"graft console: http://localhost:${api.boundPort}/  (catalog: $catalogDir)")
    Thread.currentThread().join() // serve until killed
  }
}
