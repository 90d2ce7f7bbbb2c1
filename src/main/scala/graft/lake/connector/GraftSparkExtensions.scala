package graft.lake.connector

import scala.util.Try

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, RelationTimeTravel, UnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{CreateView, DropView, LogicalPlan, RenameTable, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

/** Session extensions for lake SQL: the read path and the SQL view
  * surface.
  *
  * Reads: the post-hoc resolution rule [[ResolveLakeReads]] plans each
  * plain lake read as the facade's parquet scans inside the query's one
  * plan. Analyzer rules can only come from an extension, so lake SQL
  * requires this one — as Delta's and Iceberg's reads require theirs —
  * and [[DuckLakeSparkCatalog]]'s `initialize` fails without it.
  *
  * MERGE: the pre-CBO rule `PrefilterMergeTarget` semi-joins a lake
  * MERGE's target on its source before the target's exchange.
  *
  * Views: vanilla Spark 4.1 ships the `ViewCatalog` connector interface but no
  * analyzer/execution support for it: `ResolveSessionCatalog` hard-throws
  * `MISSING_CATALOG_ABILITY.VIEWS` the moment a `CreateView`/`DropView`
  * identifier resolves to a non-session catalog, and `SELECT ... FROM
  * cat.ns.v` never calls `ViewCatalog.loadView`. The reference engine gets
  * its view surface from the DuckDB frontend (`ducklake_view` rows in the
  * catalog DB; cf. reference src/metadata_provider.rs view queries); this
  * extension is the Spark-native equivalent:
  *
  *  - a parser interceptor rewrites `CREATE [OR REPLACE] VIEW` / `DROP
  *    VIEW` on a [[DuckLakeSparkCatalog]] into runnable commands *before*
  *    the analyzer can reject them (the identifier is still unresolved at
  *    parse time — the only hook that runs early enough);
  *  - an analyzer rule resolves view relations by loading the stored SQL
  *    text and splicing the re-parsed plan in as a subquery (late-binding,
  *    matching `DuckLake.view` and the DuckLake spec).
  *
  * Register with (every session that reads a lake catalog):
  * {{{ spark.sql.extensions = graft.lake.connector.GraftSparkExtensions }}}
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(ResolveLakeViews.apply)
    ext.injectPostHocResolutionRule(_ => ResolveLakeReads)
    ext.injectPreCBORule(_ => org.apache.spark.sql.graftbridge.PrefilterMergeTarget)
    ext.injectParser((session, delegate) => new LakeViewSqlParser(session, delegate))
    // geometry scalar surface over the WKB carrier (geo corpus)
    ext.injectFunction((FunctionIdentifier("st_point"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[StPoint].getName, "st_point"),
      (args: Seq[Expression]) => StPoint(
        org.apache.spark.sql.catalyst.expressions.Cast(args(0), org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.catalyst.expressions.Cast(args(1), org.apache.spark.sql.types.DoubleType))))
    ext.injectFunction((FunctionIdentifier("st_geomfromtext"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[StGeomFromText].getName, "st_geomfromtext"),
      (args: Seq[Expression]) => StGeomFromText(args.head)))
    ext.injectFunction((FunctionIdentifier("st_astext"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[StAsText].getName, "st_astext"),
      (args: Seq[Expression]) => StAsText(args.head)))
  }
}

private[connector] object LakeViews {
  /** Resolve a multipart name to (lake catalog, identifier), honoring the
    * session's current catalog/namespace for 1- and 2-part names.
    */
  def resolveIdent(session: SparkSession, parts: Seq[String])
      : Option[(DuckLakeSparkCatalog, Identifier)] = {
    val cm = session.sessionState.catalogManager
    def byName(name: String): Option[DuckLakeSparkCatalog] =
      Try(cm.catalog(name)).toOption.collect { case c: DuckLakeSparkCatalog => c }
    if (parts.length >= 2) {
      byName(parts.head) match {
        case Some(cat) =>
          val ns = if (parts.length == 2) Array("main") else parts.tail.init.toArray
          return Some((cat, Identifier.of(ns, parts.last)))
        case None => ()
      }
    }
    cm.currentCatalog match {
      case cat: DuckLakeSparkCatalog if parts.nonEmpty =>
        val ns = if (parts.length == 1) cm.currentNamespace else parts.init.toArray
        Some((cat, Identifier.of(ns, parts.last)))
      case _ => None
    }
  }
}

/** Parser interceptor: `CREATE VIEW` / `DROP VIEW` on the lake catalog
  * become lake commands while their identifier is still unresolved (the
  * analyzer's `ResolveSessionCatalog` rejects non-session-catalog view DDL
  * before any injected resolution rule can run).
  */
class LakeViewSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    rewrite(delegate.parsePlan(sqlText))

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case cv: CreateView =>
      cv.child match {
        case UnresolvedIdentifier(parts, _) =>
          LakeViews.resolveIdent(session, parts) match {
            case Some((cat, ident)) =>
              val text = cv.originalText.getOrElse(throw new IllegalArgumentException(
                "CREATE VIEW requires literal SQL text"))
              CreateLakeViewCommand(cat, ident, text, cv.allowExisting, cv.replace,
                cv.userSpecifiedColumns.map(_._1))
            case None => cv
          }
        case _ => cv
      }
    case dv: DropView =>
      dv.child match {
        case UnresolvedIdentifier(parts, _) =>
          LakeViews.resolveIdent(session, parts) match {
            case Some((cat, ident)) => DropLakeViewCommand(cat, ident, dv.ifExists)
            case None => dv
          }
        case _ => dv
      }
    // ALTER VIEW … RENAME TO: route lake views to the ViewCatalog rename
    // (the analyzer only resolves session-catalog view renames)
    case rt @ RenameTable(child, newName, true) =>
      val parts = child match {
        case UnresolvedIdentifier(p, _) => Some(p)
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
          Some(u.multipartIdentifier)
        case _ => None
      }
      parts.flatMap(p => LakeViews.resolveIdent(session, p)) match {
        case Some((cat, ident)) if Try(cat.loadView(ident)).isSuccess =>
          RenameLakeViewCommand(cat, ident, newName.last)
        case _ => rt
      }
    case other => other
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

/** Analyzer rule: a relation naming a stored lake view resolves to its
  * re-parsed SQL text (late binding). Tables shadow nothing — the lake
  * keeps views and tables in separate catalog tables, and table lookups
  * that miss fall through untouched.
  */
case class ResolveLakeViews(session: SparkSession) extends Rule[LogicalPlan] {

  private def lookupView(parts: Seq[String])
      : Option[(String, String, String, Array[String])] =
    LakeViews.resolveIdent(session, parts).flatMap { case (cat, ident) =>
      try {
        val v = cat.loadView(ident)
        Some((ident.name(), v.query(), v.currentCatalog(), v.currentNamespace()))
      } catch { case _: Exception => None }
    }

  /** Qualify the view body's bare relation names with the view's HOME
    * catalog/namespace (captured at CREATE VIEW): a view created inside
    * `ducklake.main` must keep resolving `test` there, whatever catalog
    * the READING session currently sits in (classic view binding rules).
    */
  private def qualify(plan: LogicalPlan, curCat: String,
      curNs: Array[String]): LogicalPlan =
    if (curCat == null || curCat.isEmpty) plan
    else plan.resolveOperatorsUp {
      case u: UnresolvedRelation if !u.isStreaming &&
          u.multipartIdentifier.length <= 2 =>
        val parts = u.multipartIdentifier match {
          case Seq(t)     => curCat +: (curNs.toSeq :+ t)
          case Seq(ns, t) => Seq(curCat, ns, t)
          case other      => other
        }
        u.copy(multipartIdentifier = parts)
    }

  /** View definition AS OF `version` (snapshot id or tag); None when the
    * name isn't a lake view at that snapshot (tables fall through to the
    * catalog's own `loadTable(ident, version)`).
    */
  private def lookupViewAt(parts: Seq[String], version: String)
      : Option[(String, String, String, Array[String])] =
    LakeViews.resolveIdent(session, parts).flatMap { case (cat, ident) =>
      try cat.snapshotForVersion(version).flatMap(cat.viewAt(ident, _))
      catch { case _: Exception => None }
    }

  /** Pin every relation in a time-travelled view's body to the same
    * version — except relations carrying their OWN explicit time travel
    * clause, which takes priority (reference:
    * tests/sqllogictests/sql/time_travel/time_travel_views.test).
    */
  private def pin(plan: LogicalPlan, version: String): LogicalPlan = {
    def go(p: LogicalPlan): LogicalPlan = p match {
      case t: RelationTimeTravel => t
      case u: UnresolvedRelation if !u.isStreaming =>
        RelationTimeTravel(u, None, Some(version))
      case other => other.mapChildren(go).asInstanceOf[LogicalPlan]
    }
    go(plan)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedRelation if !u.isStreaming =>
      lookupView(u.multipartIdentifier) match {
        case Some((name, sqlText, curCat, curNs)) =>
          SubqueryAlias(name,
            qualify(session.sessionState.sqlParser.parsePlan(sqlText), curCat, curNs))
        case None => u
      }
    case tt @ RelationTimeTravel(u: UnresolvedRelation, None, Some(version))
        if !u.isStreaming =>
      lookupViewAt(u.multipartIdentifier, version) match {
        case Some((name, sqlText, curCat, curNs)) =>
          SubqueryAlias(name,
            pin(qualify(session.sessionState.sqlParser.parsePlan(sqlText),
              curCat, curNs), version))
        case None => tt
      }
  }
}

/** `CREATE [OR REPLACE] VIEW lake.ns.v AS <sql>` against the lake catalog. */
case class CreateLakeViewCommand(
    catalog: DuckLakeSparkCatalog,
    ident: Identifier,
    sqlText: String,
    allowExisting: Boolean,
    replace: Boolean,
    userColumns: Seq[String] = Nil) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val exists = Try(catalog.loadView(ident)).isSuccess
    if (exists && allowExisting && !replace) return Seq.empty
    val bodySchema = session.sql(sqlText).schema // analyze body; validates refs
    // CREATE VIEW v(a, …): the column list renames the body's leading
    // output columns (standard SQL view column aliases)
    val (text, schema) =
      if (userColumns.isEmpty) (sqlText, bodySchema)
      else {
        require(userColumns.size <= bodySchema.size,
          s"view column list has ${userColumns.size} names for ${bodySchema.size} columns")
        val out = bodySchema.fieldNames.zipWithIndex.map { case (c, i) =>
          if (i < userColumns.size) s"`$c` AS `${userColumns(i)}`" else s"`$c`"
        }
        val renamed = org.apache.spark.sql.types.StructType(
          bodySchema.fields.zipWithIndex.map { case (f, i) =>
            if (i < userColumns.size) f.copy(name = userColumns(i)) else f
          })
        (s"SELECT ${out.mkString(", ")} FROM ($sqlText)", renamed)
      }
    if (exists && replace) catalog.dropView(ident)
    val cm = session.sessionState.catalogManager
    catalog.createView(new ViewInfo(ident, text, cm.currentCatalog.name(),
      cm.currentNamespace, schema, Array.empty[String], Array.empty[String],
      Array.empty[String], new java.util.HashMap[String, String]()))
    Seq.empty
  }
}

/** `DROP VIEW [IF EXISTS] lake.ns.v` against the lake catalog. */
case class RenameLakeViewCommand(
    catalog: DuckLakeSparkCatalog,
    ident: Identifier,
    newName: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    catalog.renameView(ident, Identifier.of(ident.namespace(), newName))
    Seq.empty
  }
}

case class DropLakeViewCommand(
    catalog: DuckLakeSparkCatalog,
    ident: Identifier,
    ifExists: Boolean) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val dropped = try catalog.dropView(ident)
                  catch { case _: Exception => false }
    if (!dropped && !ifExists) throw new NoSuchViewException(ident)
    Seq.empty
  }
}
