package graft.catalog

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference, Transform}
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.tables.GraftTable

/** DSv2 `TableCatalog` for graft (SURVEY.md §2.9 C12; reference:
  * catalog/LakeSoulCatalog.scala:55-634): registers as
  *
  *   spark.sql.catalog.graft_cat = graft.catalog.GraftCatalogV2
  *   spark.sql.catalog.graft_cat.warehouse = /path/to/warehouse
  *
  * and exposes the full SQL DDL/DML/query surface:
  *   CREATE TABLE graft_cat.ns.t (...) PARTITIONED BY (bucket(4, id))
  *   INSERT INTO / INSERT OVERWRITE / SELECT / DELETE FROM / DROP TABLE ...
  *
  * Identifier -> path resolution uses the same name registry as the Scala
  * API ([[GraftCatalog]]), so `GraftTable.createNamed` tables are queryable
  * by SQL immediately. Also a `FunctionCatalog`: it serves the `bucket`
  * function identity that lets Spark's storage-partitioned-join machinery
  * recognize two graft scans as co-partitioned (zero-exchange joins).
  */
class GraftCatalogV2 extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: Option[String] = None

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
    // propagate to the shared registry so API + SQL see one catalog
    warehouse.foreach(w => spark.conf.set("spark.graft.warehouse", w))
  }

  override def name(): String = catalogName

  private def key(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  private def pathOf(ident: Identifier): Option[String] =
    if (ident.name.startsWith("/")) Some(ident.name) // path identifier
    else GraftCatalog.resolve(spark, key(ident))

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] =
    GraftCatalog.listAll(spark).keys
      .filter(_.startsWith(namespace.mkString(".") + "."))
      .map { full =>
        val parts = full.split('.')
        Identifier.of(parts.dropRight(1), parts.last)
      }.toArray

  override def loadTable(ident: Identifier): Table = {
    // metadata introspection tables: SELECT * FROM cat.ns.t$files /
    // t$history / t$partitions (MetadataTables)
    MetadataTables.split(ident.name).foreach { case (base, suffix) =>
      val baseIdent = Identifier.of(ident.namespace, base)
      val basePath = pathOf(baseIdent)
        .getOrElse(throw new NoSuchTableException(ident))
      if (!GraftTable.exists(basePath)) throw new NoSuchTableException(ident)
      return MetadataTables.forSuffix(GraftTable.forPath(spark, basePath),
        s"$catalogName.${key(ident)}", suffix)
    }
    val path = pathOf(ident).getOrElse(throw new NoSuchTableException(ident))
    if (!GraftTable.exists(path)) throw new NoSuchTableException(ident)
    new GraftTableV2(spark, GraftTable.forPath(spark, path),
      s"$catalogName.${key(ident)}")
  }

  // ---- SQL time travel: SELECT ... FROM t VERSION AS OF v /
  // TIMESTAMP AS OF ts. Versions are the 1-based table-level commit
  // numbers from [[GraftTable.history]] (CALL graft.history lists them);
  // both forms resolve to a commit-ts boundary and return a READ-ONLY
  // table handle pinned to that snapshot, so scans of it plan exactly
  // like `snapshotAt` reads (C1 through the SQL surface).

  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident).getOrElse(throw new NoSuchTableException(ident))
    if (!GraftTable.exists(path)) throw new NoSuchTableException(ident)
    val t = GraftTable.forPath(spark, path)
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft VERSION AS OF takes a numeric commit version, got '$version'")
    }
    new GraftTableV2(spark, t, s"$catalogName.${key(ident)}",
      pinned = Map("readtype" -> "snapshot",
        "readendtime" -> t.timestampOfVersion(v).toString))
  }

  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = pathOf(ident).getOrElse(throw new NoSuchTableException(ident))
    if (!GraftTable.exists(path)) throw new NoSuchTableException(ident)
    new GraftTableV2(spark, GraftTable.forPath(spark, path),
      s"$catalogName.${key(ident)}",
      pinned = Map("readtype" -> "snapshot",
        "readendtime" -> (timestampMicros / 1000L).toString))
  }

  override def tableExists(ident: Identifier): Boolean =
    pathOf(ident).exists(GraftTable.exists(_))

  /** Parsed CREATE TABLE shape shared by the eager and staged paths. */
  private case class ParsedCreate(location: String, explicitLocation: Boolean,
      rangeCols: Seq[String], hashCols: Seq[String], bucketNum: Int,
      tableProps: Map[String, String])

  private def parseCreate(
      ident: Identifier,
      partitions: Array[Transform],
      properties: JMap[String, String]): ParsedCreate = {
    val props = properties.asScala.toMap
    var rangeCols = Seq.empty[String]
    var hashCols = props.get("hashColumns").map(_.split(',').toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)
    var bucketNum = props.get("bucketNum").map(_.toInt).getOrElse(4)
    partitions.foreach { t =>
      t.name match {
        case "bucket" =>
          bucketNum = t.arguments.collectFirst {
            case l: Literal[_] => l.value.asInstanceOf[Number].intValue()
          }.getOrElse(bucketNum)
          hashCols = t.arguments.collect {
            case r: NamedReference => r.fieldNames.mkString(".")
          }.toSeq
        case "identity" =>
          rangeCols = rangeCols :+ t.references()(0).fieldNames.mkString(".")
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform: $other (use identity or bucket)")
      }
    }
    val reserved = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      "hashColumns", "bucketNum", "path")
    val explicit = props.get(TableCatalog.PROP_LOCATION).orElse(props.get("path"))
      .map(graft.util.PathUtil.local)
    val location = explicit.getOrElse(
      s"${GraftCatalog.warehouseDir(spark)}/" +
        s"${(ident.namespace() :+ ident.name()).mkString("/")}")
    ParsedCreate(location, explicit.isDefined, rangeCols, hashCols, bucketNum,
      props -- reserved)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val p = parseCreate(ident, partitions, properties)
    val t = GraftTable.createEmpty(spark, schema, p.location,
      p.rangeCols, p.hashCols, p.bucketNum, p.tableProps)
    GraftCatalog.register(spark, key(ident), t.info.tablePath)
    new GraftTableV2(spark, t, s"$catalogName.${key(ident)}")
  }

  // ---- StagingTableCatalog: atomic CTAS / RTAS (reference LakeSoulCatalog
  // staged creates). The staged table is fully created on disk but NOT
  // registered in the name catalog until commitStagedChanges(), so a CTAS
  // that fails mid-write leaves no visible table; abort deletes the
  // staged files + meta. REPLACE stages into a fresh uniquely-suffixed
  // directory and atomically re-points the name registration on commit
  // (absolute file paths in commit meta make an in-place move unsafe).

  /** Clear leftover staged/partial meta at a DEFAULT (catalog-managed)
    * location: reachable only after a crashed earlier staged CTAS, since a
    * live table there would have been caught by tableExists. Explicit
    * locations are user-owned — never wiped. */
  private def clearStagedLeftover(p: ParsedCreate, ident: Identifier): Unit =
    if (GraftTable.exists(p.location)) {
      if (p.explicitLocation) throw new TableAlreadyExistsException(ident)
      GraftTable.forPath(spark, p.location).dropTable()
    }

  override def stageCreate(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val p = parseCreate(ident, partitions, properties)
    clearStagedLeftover(p, ident)
    val t = GraftTable.createEmpty(spark, schema, p.location,
      p.rangeCols, p.hashCols, p.bucketNum, p.tableProps)
    new GraftStagedTable(
      new GraftTableV2(spark, t, s"$catalogName.${key(ident)}"),
      commit = () => GraftCatalog.register(spark, key(ident), t.info.tablePath),
      abort = () => t.dropTable())
  }

  override def stageReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stageSwap(ident, schema, partitions, properties)
  }

  override def stageCreateOrReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable =
    if (!tableExists(ident)) stageCreate(ident, schema, partitions, properties)
    else stageSwap(ident, schema, partitions, properties)

  private def stageSwap(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): StagedTable = {
    val p = parseCreate(ident, partitions, properties)
    val stagedLoc = s"${p.location}__r${graft.meta.MetaStore.newCommitId()}"
    val t = GraftTable.createEmpty(spark, schema, stagedLoc,
      p.rangeCols, p.hashCols, p.bucketNum, p.tableProps)
    val oldPath = pathOf(ident)
    new GraftStagedTable(
      new GraftTableV2(spark, t, s"$catalogName.${key(ident)}"),
      commit = () => {
        oldPath.filter(GraftTable.exists(_))
          .foreach(op => GraftTable.forPath(spark, op).dropTable())
        GraftCatalog.drop(spark, key(ident))
        GraftCatalog.register(spark, key(ident), t.info.tablePath)
      },
      abort = () => t.dropTable())
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = pathOf(ident).getOrElse(throw new NoSuchTableException(ident))
    val t = GraftTable.forPath(spark, path)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1, "nested add-column unsupported")
        // pass the user's nullability through: ADD COLUMN ... NOT NULL must
        // hit GraftTable.addColumn's loud rejection (existing files read
        // the new column as null), never silently downgrade to nullable
        // FIRST/AFTER threads into the SAME schema commit as the add — a
        // second updateColumnPosition commit would let a failure or
        // concurrent reader between the two observe the column at the end
        val pos = Option(add.position()).map {
          case _: TableChange.First => None
          case a: TableChange.After => Some(a.column())
          case other => throw new UnsupportedOperationException(
            s"ADD COLUMN position $other")
        }
        t.addColumn(add.fieldNames()(0), add.dataType(),
          nullable = add.isNullable,
          comment = Option(add.comment()),
          position = pos)
      case set: TableChange.SetProperty =>
        t.setProperties(Map(set.property() -> set.value()))
      case rm: TableChange.RemoveProperty =>
        t.unsetProperty(rm.property())
      case cm: TableChange.UpdateColumnComment =>
        require(cm.fieldNames.length == 1, "nested columns unsupported")
        t.updateColumnComment(cm.fieldNames()(0), cm.newComment())
      case nl: TableChange.UpdateColumnNullability =>
        require(nl.fieldNames.length == 1, "nested columns unsupported")
        t.updateColumnNullability(nl.fieldNames()(0), nl.nullable())
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1, "nested columns unsupported")
        t.updateColumnType(ut.fieldNames()(0), ut.newDataType())
      case up: TableChange.UpdateColumnPosition =>
        require(up.fieldNames.length == 1, "nested columns unsupported")
        t.updateColumnPosition(up.fieldNames()(0), up.position() match {
          case _: TableChange.First => None
          case a: TableChange.After => Some(a.column())
        })
      case _: TableChange.RenameColumn =>
        // rename guard: data files are bound to column names
        throw new UnsupportedOperationException(
          "graft does not support column renames (files are name-bound); " +
            "add a new column and backfill instead")
      case c => throw new UnsupportedOperationException(s"unsupported change: $c")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    pathOf(ident) match {
      case Some(path) if GraftTable.exists(path) =>
        GraftTable.forPath(spark, path).dropTable()
        GraftCatalog.drop(spark, key(ident))
        true
      case _ => false
    }

  override def renameTable(old: Identifier, to: Identifier): Unit = {
    val path = pathOf(old).getOrElse(throw new NoSuchTableException(old))
    GraftCatalog.drop(spark, key(old))
    GraftCatalog.register(spark, key(to), path)
  }

  // --------------------------------------------------------- namespaces

  /** The store namespace DDL consults for domain authorization. The name
    * REGISTRY stays the warehouse TSV ([[GraftCatalog]]); on a JDBC
    * deployment (`-Dgraft.meta.uri=jdbc:...`) the store additionally
    * enforces the reference's RBAC semantics — admin-only namespace
    * management, per-domain visibility ([[graft.meta.AuthContext]]).
    * Overridable for tests (the process-wide default is a lazy val). */
  protected def metaStore: graft.meta.MetaStore = graft.meta.MetaStore.default

  private def jdbcStore: Option[graft.meta.JdbcMetaStore] =
    metaStore match {
      case j: graft.meta.JdbcMetaStore => Some(j)
      case _ => None
    }

  override def listNamespaces(): Array[Array[String]] =
    (GraftCatalog.listNamespaces(spark).map(Array(_)) ++
      GraftCatalog.listAll(spark).keys.map(_.split('.').dropRight(1)))
      .map(_.toSeq).toSet.filter(_.nonEmpty)
      // a namespace registered under a foreign domain is INVISIBLE
      // (reference: RLS hides its catalog rows)
      .filter(ns => jdbcStore.forall(_.namespaceVisible(ns.mkString("."))))
      .map(_.toArray).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    listNamespaces().exists(_.sameElements(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: JMap[String, String]): Unit = {
    // JDBC deployments authorize FIRST (admin-only; a name held by another
    // domain raises the RLS violation) so a denied create never half-lands
    // in the TSV registry
    jdbcStore.foreach(_.createNamespace(namespace.mkString(".")))
    GraftCatalog.registerNamespace(spark, namespace.mkString("."))
  }

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val ns = namespace.mkString(".")
    jdbcStore.foreach { j =>
      if (!j.namespaceVisible(ns)) throw new NoSuchNamespaceException(namespace)
    }
    val tables = GraftCatalog.listTables(spark, ns)
    if (tables.nonEmpty && !cascade)
      throw new IllegalStateException(s"namespace $ns is not empty")
    // authorize BEFORE touching tables (admin-only; a TSV-only name —
    // never registered in the store — has no domain row), but delete the
    // store's domain row LAST: if a cascading table drop throws (e.g. a
    // table whose domain diverged from the namespace's), the namespace
    // must remain registered and protected, not half-dropped and open
    val registered = jdbcStore.exists(j => j.namespaceDomain(ns).isDefined)
    if (registered) jdbcStore.foreach(_.requireNamespaceAdmin(ns))
    tables.foreach { full =>
      val parts = full.split('.')
      dropTable(Identifier.of(parts.dropRight(1), parts.last))
    }
    GraftCatalog.dropNamespace(spark, ns)
    if (registered) jdbcStore.foreach(_.dropNamespace(ns))
    true
  }

  // ---------------------------------------------------------- functions

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctionCatalog.listFunctions(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftFunctionCatalog.loadFunction(ident)
}

/** The catalog of graft's functions alone: `bucket` ([[GraftBucketFunction]]).
  * Every library relation carries it
  * ([[org.apache.spark.sql.graft.StreamShim.dsv2Df]]), so Spark resolves the
  * scan's reported `bucket(n, pk)` partitioning and plans storage-partitioned
  * joins between library reads. It serves no tables: a relation holding a
  * pinned file set (`snapshotAt`, `incremental`) is never reloaded through
  * it. [[GraftCatalogV2]] serves the same functions by delegating here. */
object GraftFunctionCatalog extends FunctionCatalog {
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = ()
  override def name(): String = "graft"

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty[String], "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new NoSuchTableException(ident) // closest available v2 exception
}

/** V2 `bucket(numBuckets, cols...)` function: the identity Spark's
  * storage-partitioned join compares across scans (both sides must resolve
  * the SAME canonical function), plus an evaluable murmur3-pmod matching the
  * write side's [[graft.write.TransactionalWrite.bucketIdExpr]] exactly. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "graft bucket(n, cols...): pmod(murmur3(cols, seed=42), n)"

  override def bind(inputType: StructType): BoundFunction = new ScalarFunction[Integer] {
    private val types = inputType.fields.map(_.dataType)
    override def inputTypes(): Array[DataType] = types
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def isResultNullable: Boolean = false

    // args = (numBuckets literal, key columns...), evaluated interpreted
    @transient private lazy val expr = {
      val keys = types.indices.drop(1).map(i => BoundReference(i, types(i), true))
      graft.write.TransactionalWrite.bucketExpr(keys,
        BoundReference(0, types(0), false))
    }
    override def produceResult(input: InternalRow): Integer =
      expr.eval(input).asInstanceOf[Number].intValue()
  }
}
