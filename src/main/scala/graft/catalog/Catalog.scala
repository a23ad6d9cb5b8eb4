package graft.catalog

import org.apache.spark.sql.types.StructType

/** Changelog mode of a dynamic table (reference: append is the Kafka
  * default; upsert = `PRIMARY KEY ... NOT ENFORCED` tables,
  * `terraform/lab-aggregations/main.tf:396,463`; retract =
  * `WITH ('changelog.mode'='retract')`, `:530`). */
sealed trait ChangelogMode
object ChangelogMode {
  case object Append extends ChangelogMode
  case object Upsert extends ChangelogMode
  case object Retract extends ChangelogMode
}

/** Engine-owned table metadata — the pieces of the reference's DDL that
  * Spark SQL has no syntax for (primary key, buckets, changelog mode,
  * watermark), per SURVEY.md §1.2/§4. Schema may be None for tables
  * whose schema is inferred from the source (reference: Schema
  * Registry; here: parquet footer / registered view).
  */
final case class TableMeta(
    name: String,
    schema: Option[StructType] = None,
    primaryKey: Seq[String] = Nil,
    buckets: Option[Int] = None,
    changelogMode: ChangelogMode = ChangelogMode.Append,
    watermarkCol: Option[String] = None,
    watermarkDelay: String = "0 seconds",
    columnCasts: Map[String, String] = Map.empty, // ALTER ... MODIFY (col TYPE)
    options: Map[String, String] = Map.empty) {
  /** Upsert semantics hold only with a key to fold revisions by. */
  def isUpsert: Boolean = changelogMode == ChangelogMode.Upsert && primaryKey.nonEmpty
}

/** In-memory catalog with environment/cluster scoping: every reference
  * statement runs under a session `sql.current-catalog` (environment) /
  * `sql.current-database` (Kafka cluster) pair
  * (`terraform/lab-aggregations/main.tf:398-399`), and unqualified table
  * names resolve inside that scope. Tables are keyed by the fully
  * qualified `catalog.database.table`; `qualify` applies the session
  * context to bare names, so two same-named tables in different
  * databases are distinct entries. */
final class InMemoryCatalog {
  private val tables = scala.collection.mutable.LinkedHashMap.empty[String, TableMeta]
  @volatile var currentCatalog: String = "default_env"
  @volatile var currentDatabase: String = "default_cluster"

  /** Fully qualified key for a (possibly bare) table name under the
    * session context. Accepts `table`, `db.table`, `cat.db.table`. */
  def qualify(name: String): String = name.count(_ == '.') match {
    case 0 => s"$currentCatalog.$currentDatabase.$name"
    case 1 => s"$currentCatalog.$name"
    case _ => name
  }

  def register(meta: TableMeta): Unit = synchronized { tables(qualify(meta.name)) = meta }
  def get(name: String): Option[TableMeta] = synchronized { tables.get(qualify(name)) }
  def getOrCreate(name: String): TableMeta = synchronized {
    tables.getOrElseUpdate(qualify(name), TableMeta(name))
  }
  def update(name: String)(f: TableMeta => TableMeta): TableMeta = synchronized {
    val m = f(getOrCreate(name)); tables(qualify(name)) = m; m
  }
  def list: Seq[TableMeta] = synchronized { tables.values.toSeq }

  /** Bare names of the tables registered under the CURRENT scope. */
  def inScope: Seq[String] = synchronized {
    val prefix = s"$currentCatalog.$currentDatabase."
    tables.keys.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).toSeq
  }
}
