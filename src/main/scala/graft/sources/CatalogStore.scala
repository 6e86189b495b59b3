package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

/** Persistent dataset catalog (the reference provisions Postgres 17 +
  * diesel migrations for exactly this dataset/saved-query state,
  * docker-compose.yaml:2-19) — a JSON-file-backed register/load of
  * `name → (path, format, options)` so registrations survive a session or
  * process restart. File-backed rather than DB-backed on purpose: the
  * engine's only catalog need is durable name→location mapping, and a
  * single JSON document (written atomically via temp-file rename) is the
  * dependency-free equivalent; swapping in a JDBC store is a re-
  * implementation of this object, not of any caller.
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

  private val mapper = new ObjectMapper()

  def save(file: Path, entries: Seq[Entry]): Unit = {
    val root = mapper.createObjectNode()
    val arr: ArrayNode = root.putArray("datasets")
    entries.foreach { e =>
      val n: ObjectNode = arr.addObject()
      n.put("name", e.name)
      n.put("path", e.path)
      n.put("format", e.format)
      val opts = n.putObject("options")
      e.options.foreach { case (k, v) => opts.put(k, v) }
    }
    val tmp = Files.createTempFile(
      Option(file.toAbsolutePath.getParent).getOrElse(Paths.get(".")), ".catalog", ".json")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def load(file: Path): Seq[Entry] = {
    val root = mapper.readTree(Files.readString(file, StandardCharsets.UTF_8))
    val arr = root.get("datasets")
    require(arr != null && arr.isArray, s"$file: missing 'datasets' array")
    arr.elements().asScala.map { n =>
      val opts = Option(n.get("options")).filter(_.isObject)
        .map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
        .getOrElse(Map.empty[String, String])
      Entry(n.get("name").asText, n.get("path").asText, n.get("format").asText, opts)
    }.toSeq
  }

  /** Missing or zero-byte file reads as an empty catalog (a fresh
    * `createTempFile` target must be registrable).
    */
  private def loadIfAny(file: Path): Seq[Entry] =
    if (Files.exists(file) && Files.size(file) > 0) load(file) else Seq.empty

  /** Add-or-replace one registration (read-modify-write on the file). */
  def register(file: Path, entry: Entry): Unit =
    save(file, loadIfAny(file).filterNot(_.name == entry.name) :+ entry)

  def unregister(file: Path, name: String): Unit =
    save(file, loadIfAny(file).filterNot(_.name == name))

  /** Project every cataloged dataset into the session as a temp view —
    * the restart path: a brand-new SparkSession + this call reproduces the
    * queryable catalog exactly.
    */
  def registerAll(s: SparkSession, file: Path): Unit =
    load(file).foreach { e =>
      graft.Tables.read(s, e.path, e.format, e.options).createOrReplaceTempView(e.name)
    }
}
