package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** 3-level catalog plugin (`<catalog>.main.<table>`) — the Spark-idiomatic
  * analog of the reference's database→schema→table registry
  * (`src/catalog.rs:8-103`, loaded from information_schema by
  * `PostgresConnection::load_catalog`, `src/sqldb/postgres/mod.rs:67-125`):
  * where the reference hand-rolls `SchemaProvider`/`TableProvider` maps and
  * resolves `bench.public.customer` itself, Spark's session catalog does the
  * resolution once the plugin is registered under
  * `spark.sql.catalog.<name> = graft.sources.GraftCatalog`.
  *
  * The backing store is resolved per *query*, not per catalog instance: the
  * session conf `graft.catalog.dir` (falling back to the plugin option
  * `dir`) names the backend, so one registered catalog serves every scale
  * factor the driver points it at. The backend itself is one instance per
  * address and may keep the metadata it has discovered (the wire backend
  * keeps table list, schemas and row counts), so choosing it per query
  * costs no catalog read; `REFRESH TABLE` ([[invalidateTable]]) and
  * `SHOW TABLES` ([[listTables]]) make it read them again. Tables load
  * through [[GraftSqlTable]] — the same DSv2 path as
  * `spark.read.format("graft-sqldb")`, so column pruning,
  * filter/limit pushdown, and whole-subtree SQL fusion
  * ([[graft.plans.SqlPushdownRule]]) all apply to catalog-resolved scans.
  *
  * Read-only by design, like the reference's (its catalog registers
  * discovered tables; DDL goes to the backend directly): create/alter/drop
  * throw UnsupportedOperationException.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var defaultDir: Option[String] = None
  private var defaultUrl: Option[String] = None
  private var defaultPgwire: Option[String] = None
  private var numPartitions: Int = 4

  /** The single namespace, mirroring the reference's default `public`
    * schema (`src/sqldb/postgres/mod.rs:80-93` groups by table_schema;
    * the test backend serves one schema). */
  private val Namespace = Array("main")

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    defaultDir = Option(options.get("dir"))
    defaultUrl = Option(options.get("url"))
    defaultPgwire = Option(options.get("pgwire"))
    // same tuning knob the DSv2 provider path honors
    // (spark.sql.catalog.<name>.partitions = N)
    numPartitions = math.max(1, options.getInt("partitions", 4))
  }
  override def name(): String = catalogName

  /** Resolution order: the catalog's OWN options first (a catalog
    * explicitly registered with a dir must never be silently rebound by a
    * session-global conf meant for another catalog), then the session
    * confs — which exist so one option-less catalog can serve every scale
    * dir the driver points it at. */
  private def backend: SqlBackend = {
    val conf = SparkSession.active.conf
    (defaultUrl, defaultPgwire, defaultDir) match {
      case (Some(u), _, _) => JdbcBackend.forUrl(u)
      case (None, Some(a), _) => PgWireBackend.forAddress(a)
      case (None, None, Some(d)) => SparkViewBackend.forDir(d)
      case (None, None, None) =>
        conf.getOption("graft.catalog.url").map(JdbcBackend.forUrl)
          .orElse(conf.getOption("graft.catalog.pgwire").map(PgWireBackend.forAddress))
          .getOrElse {
            val dir = conf.getOption("graft.catalog.dir")
              .getOrElse(throw new IllegalStateException(
                s"catalog $catalogName: set graft.catalog.dir / graft.catalog.url " +
                  s"/ graft.catalog.pgwire (session conf) or " +
                  s"spark.sql.catalog.$catalogName.dir/.url/.pgwire"))
            SparkViewBackend.forDir(dir)
          }
    }
  }

  private def ok(ns: Array[String]): Boolean = ns.sameElements(Namespace)

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] = Array(Namespace)

  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) Array(Namespace)
    else if (ok(ns)) Array.empty
    else throw new NoSuchNamespaceException(ns.toSeq)

  override def namespaceExists(ns: Array[String]): Boolean = ok(ns)

  override def loadNamespaceMetadata(ns: Array[String]): JMap[String, String] =
    if (ok(ns)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(ns.toSeq)

  // ---- tables ----

  /** An explicit discovery: re-reads the backend's catalog. */
  override def listTables(ns: Array[String]): Array[Identifier] =
    if (ok(ns)) {
      val b = backend
      b.refresh()
      b.tables.map(t => Identifier.of(Namespace, t)).toArray
    } else throw new NoSuchNamespaceException(ns.toSeq)

  /** Spark's `REFRESH TABLE` hook: the backend drops its kept metadata. */
  override def invalidateTable(ident: Identifier): Unit = backend.refresh()

  override def tableExists(ident: Identifier): Boolean =
    ok(ident.namespace) && backend.tableExists(ident.name)

  override def loadTable(ident: Identifier): Table = {
    val b = backend // one conf/registry resolution for the whole call
    if (!ok(ident.namespace) || !b.tableExists(ident.name))
      throw new NoSuchTableException(ident.namespace.toSeq :+ ident.name)
    new GraftSqlTable(ident.name, b, b.schema(ident.name), numPartitions)
  }

  // ---- DDL: rendered to backend SQL (CREATE/DROP travel the same wire
  // as queries; the reference's catalog is discovery-only, so this is
  // beyond-reference, completing the JDBC-parity surface) ----

  override def createTable(ident: Identifier,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: JMap[String, String]): Table = {
    if (!ok(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace.toSeq)
    require(partitions.isEmpty,
      s"catalog $catalogName: partitioned CREATE TABLE is not supported")
    // table properties (provider, comment, options) have no backend DDL
    // rendering — rejecting beats silently dropping them. Spark always
    // passes an internal `owner` property; engine-managed keys are ignored.
    val userProps = properties.keySet().toArray(Array.empty[String])
      .filterNot(k => k == "owner" || k.startsWith("spark.") || k == "provider")
    require(userProps.isEmpty,
      s"catalog $catalogName: unsupported table properties ${userProps.mkString(", ")}")
    val b = backend
    val d = b.dialect
    val cols = schema.fields.map { f =>
      val tn = d.typeName(f.dataType).getOrElse(throw new IllegalArgumentException(
        s"catalog $catalogName: ${b.name} has no DDL type for column " +
          s"${f.name}: ${f.dataType.simpleString}"))
      s"${d.quote(f.name)} $tn${if (f.nullable) "" else " NOT NULL"}"
    }.mkString(", ")
    b.executeUpdate(s"CREATE TABLE ${d.quote(ident.name)} ($cols)")
    new GraftSqlTable(ident.name, b, b.schema(ident.name), numPartitions)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val b = backend
    if (ok(ident.namespace) && b.protectedTables.contains(ident.name))
      throw new UnsupportedOperationException(
        s"catalog $catalogName: ${ident.name} is a read-only backend table " +
          "and is not droppable through the catalog")
    val existed = ok(ident.namespace) && b.tableExists(ident.name)
    if (existed)
      b.executeUpdate(s"DROP TABLE ${b.dialect.quote(ident.name)}")
    existed
  }

  // ---- remaining DDL is the backend's job, as in the reference ----

  private def readOnly: Nothing =
    throw new UnsupportedOperationException(
      s"catalog $catalogName does not support this DDL (alter/rename " +
        "belong to the backend)")

  override def alterTable(ident: Identifier, changes: TableChange*): Table = readOnly
  override def renameTable(from: Identifier, to: Identifier): Unit = readOnly
  override def createNamespace(ns: Array[String],
      metadata: JMap[String, String]): Unit = readOnly
  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit = readOnly
  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = readOnly
}
