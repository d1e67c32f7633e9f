package graft.plans

import org.apache.spark.sql.{AnalysisException, Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedFieldName, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, EqualTo, EvalMode, Expression, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

import graft.ingest.ManifestSink
import graft.sources.{GraftDataSource, GraftFileIndex, GraftFilterConversion}

/** SQL DML over manifest tables — `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` routed to the lakehouse write paths, so the SQL surface
  * the data source opened for READS (GraftDataSource.scala:19) extends
  * to writes: a SQL/BI client can maintain a table without touching the
  * Scala API (the reference's "operate on the warehouse normally"
  * pitch, readme.md:38–46; Delta's equivalent is its
  * `DeltaAnalysis`/command layer).
  *
  * Spark-first shape: these statements parse into Catalyst's own
  * `DeleteFromTable`/`UpdateTable`/`MergeIntoTable` nodes and resolve
  * through the stock analyzer (references, star expansion, type
  * coercion all Spark's). For DataSource V2 tables Spark then rewrites
  * them into row-level-operation plans; for a V1 relation it would fail
  * CheckAnalysis — this injected resolution rule intercepts the
  * resolved node when (and only when) the target is a graft relation
  * and replaces it with a `RunnableCommand` over the existing
  * delete/update/merge machinery, which owns atomicity, OCC, deletion
  * vectors, and stats/bloom maintenance. Nothing is re-implemented at
  * the SQL layer; the statement is a ROUTER.
  *
  * Execution cost follows the session's `spark.graft.dml.mor` flag
  * (default true): merge-on-read commits O(changed rows) deletion
  * vectors / sidecar rewrites; `false` selects copy-on-write
  * (`deleteWhere`/`updateWhere` rewrite matched files). Either way the
  * WHERE clause prunes candidate files by the manifest stats and
  * blooms, converted as the SQL scan converts its pushed filters.
  * Skipping stats carry through automatically: rewrites re-derive stats
  * for every column the snapshot already records
  * ([[SnapshotHandle.statsColumns]]).
  *
  * Unsupported (loud `AnalysisException`, never silent): predicates on
  * directory-derived partition columns (the data files do not carry
  * them — use `dropPartitions` or the Scala API; a CORRELATED
  * subquery's outer references count), subqueries in SET/MERGE
  * expressions (`WHERE` predicates take both uncorrelated and
  * correlated `IN`/`NOT IN`/`EXISTS`), MERGE on multi-level
  * partitioned layouts, and MERGE shapes beyond the CDC canon forms
  * (upsert star, upsert star + `WHEN MATCHED AND f THEN DELETE`,
  * delete-only).
  */
/** Graft catalog-table RESOLUTION, riding the HINT batch (which runs
  * before Spark's relation resolution). Two jobs:
  *
  *  1. `SELECT ... FROM t VERSION AS OF 3` / `TIMESTAMP AS OF '...'`
  *     parses into `RelationTimeTravel`, which Spark resolves only
  *     for DSv2 tables — the V2SessionCatalog THROWS for a V1 table
  *     before any injected resolution rule runs. Resolved here
  *     against the same snapshot machinery as `option("versionAsOf")`.
  *  2. Plain references to graft catalog tables resolve to a FRESH
  *     committed snapshot (the Delta semantics). Left to Spark's V1
  *     path, `FindDataSourceTable` would enforce the schema STORED at
  *     CREATE TABLE against the relation's current schema — so the
  *     first schema-evolving append PERMANENTLY breaks every read of
  *     the catalog table ("user-specified schema doesn't match").
  *     Resolving here sidesteps the stored-schema pin entirely, and
  *     as a bonus reads always see the latest snapshot without
  *     REFRESH TABLE. (Tables referenced inside permanent VIEW bodies
  *     still resolve through Spark's path — view bodies analyze after
  *     the hint batch.)
  *
  * Non-graft relations pass through untouched either way.
  */
class GraftTimeTravelRule(session: SparkSession)
    extends Rule[LogicalPlan] {
  import GraftDml._

  // top-down, so the RelationTimeTravel parent matches before its
  // UnresolvedRelation child would be taken by the plain-table case
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
        graftCatalogMeta(session, u.multipartIdentifier) match {
          case None => tt
          case Some((meta, dest)) =>
            val v = ver.map { s =>
              try s.toLong
              catch { case _: NumberFormatException =>
                fail(s"VERSION AS OF must be an integer version, " +
                  s"got '$s'")
              }
            }
            val t = ts.map { e =>
              if (!e.resolved || !e.foldable)
                fail("TIMESTAMP AS OF must be a constant expression")
              val micros = Cast(e, TimestampType,
                Some(conf.sessionLocalTimeZone))
                .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
              if (micros == null)
                fail(s"TIMESTAMP AS OF: cannot interpret ${e.sql} " +
                  "as a timestamp")
              micros.asInstanceOf[Long] / 1000L
            }
            resolvedGraftRelation(u, meta, dest, v, t)
        }

      case u: UnresolvedRelation if !u.isStreaming =>
        graftCatalogMeta(session, u.multipartIdentifier) match {
          case None => u
          case Some((meta, dest)) =>
            resolvedGraftRelation(u, meta, dest, None, None)
        }

      // ALTER TABLE ADD/DROP COLUMNS — Spark's session catalog either
      // refuses the V1 command for an unknown provider (ADD) or throws
      // "only supported with v2 tables" (DROP), so both intercept here
      // and become a metadata-only `schemaevo` manifest commit
      case a @ AddColumns(ut: UnresolvedTable, cols) =>
        graftCatalogMeta(session, ut.multipartIdentifier) match {
          case None => a
          case Some((meta, dest)) =>
            val fields = cols.map { q =>
              if (q.path.isDefined)
                fail("ALTER TABLE ADD COLUMNS: nested column paths " +
                  "are not supported on graft tables")
              if (q.position.isDefined)
                fail("ALTER TABLE ADD COLUMNS: FIRST/AFTER positions " +
                  "are not supported — columns append (the parquet " +
                  "evolution contract)")
              if (q.default.isDefined)
                fail("ALTER TABLE ADD COLUMNS: DEFAULT values are " +
                  "not supported")
              if (!q.nullable)
                fail("ALTER TABLE ADD COLUMNS: NOT NULL is not " +
                  "satisfiable — existing rows read the new column " +
                  "as null")
              org.apache.spark.sql.types.StructField(
                q.colName, q.dataType, nullable = true)
            }
            GraftAlterSchemaCommand(dest, add = fields, drop = Nil,
              ifExists = false, meta.identifier)
        }

      case d @ DropColumns(ut: UnresolvedTable, cols, ifExists) =>
        graftCatalogMeta(session, ut.multipartIdentifier) match {
          case None => d
          case Some((meta, dest)) =>
            val names = cols.map {
              case UnresolvedFieldName(Seq(n)) => n
              case other => fail("ALTER TABLE DROP COLUMNS: nested " +
                s"column paths are not supported, got ${other.sql}")
            }
            GraftAlterSchemaCommand(dest, add = Nil, drop = names,
              ifExists = ifExists, meta.identifier)
        }

      // ALTER TABLE ALTER COLUMN ... TYPE — v2-only in Spark's
      // session catalog; on a graft table it routes to the
      // metadata-only TYPE WIDENING commit
      // (ManifestSink.alterColumnType: readers resolve scan schemas
      // from the log and upcast older files at scan time, so no data
      // file is rewritten; unsafe promotions refuse there)
      case a @ AlterColumns(ut: UnresolvedTable, specs) =>
        graftCatalogMeta(session, ut.multipartIdentifier) match {
          case None => a
          case Some((meta, dest)) =>
            val widens = specs.map { sp =>
              val name = sp.column match {
                case UnresolvedFieldName(Seq(n)) => n
                case other => fail("ALTER TABLE ALTER COLUMN: nested " +
                  s"column paths are not supported, got ${other.sql}")
              }
              if (sp.newDataType.isEmpty ||
                  sp.newNullability.isDefined || sp.newComment.isDefined ||
                  sp.newPosition.isDefined ||
                  sp.newDefaultExpression.isDefined)
                fail("ALTER TABLE ALTER COLUMN supports only TYPE " +
                  "widening on graft tables (no nullability/comment/" +
                  "position/default changes)")
              name -> sp.newDataType.get
            }
            GraftAlterColumnTypeCommand(dest, widens, meta.identifier)
        }

      // ALTER TABLE RENAME COLUMN — v2-only in Spark's session
      // catalog; on a graft table it routes to the METADATA-ONLY
      // column-mapping commit (ManifestSink.renameColumn: the log
      // records logical name + stable physical file name; readers and
      // writers translate at the scan/stage boundary)
      case r @ RenameColumn(ut: UnresolvedTable, colName, newName) =>
        graftCatalogMeta(session, ut.multipartIdentifier) match {
          case None => r
          case Some((meta, dest)) =>
            val from = colName match {
              case UnresolvedFieldName(Seq(n)) => n
              case other => fail("ALTER TABLE RENAME COLUMN: nested " +
                s"column paths are not supported, got ${other.sql}")
            }
            graft.plans.GraftRenameColumnCommand(dest, from, newName,
              meta.identifier)
        }

      // SHOW PARTITIONS — Spark resolves it only for partitioned v1
      // Hive / v2 tables; a graft table's layout lives in the log
      case s @ ShowPartitions(ut: UnresolvedTable, specOpt, _) =>
        graftCatalogMeta(session, ut.multipartIdentifier) match {
          case None => s
          case Some((_, dest)) =>
            if (specOpt.isDefined)
              fail("SHOW PARTITIONS ... PARTITION (spec) is not " +
                "supported on graft tables — filter the result")
            graft.plans.GraftShowPartitionsSql(Left(dest))
        }
    }

  private def resolvedGraftRelation(u: UnresolvedRelation,
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      dest: String, versionAsOf: Option[Long],
      tsAsOf: Option[Long]): LogicalPlan = {
    val handle =
      try ManifestSink.snapshotHandle(session, dest, versionAsOf, tsAsOf)
      catch {
        // surface the snapshot guards (beyond-head version,
        // compacted-away history) as ANALYSIS errors — this is the
        // SQL resolution layer
        case e: IllegalArgumentException => fail(
          e.getMessage.stripPrefix("requirement failed: ")
            .stripPrefix("[graft] "))
      }
    SubqueryAlias(u.multipartIdentifier.last,
      LogicalRelation(
        GraftDataSource.relationFor(session, handle), meta))
  }
}

class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {
  import GraftDml._

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case DeleteFromTable(t, cond) if t.resolved && cond.resolved =>
      graftTarget(t) match {
        case None => plan
        case Some(g) =>
          noPartitionRefs(cond.references.toSeq, g, "DELETE predicate")
          GraftDeleteCommand(g.dest, byName(cond), cond.sql,
            g.refreshTable)
      }

    case UpdateTable(t, assignments, cond)
        if t.resolved && assignments.forall(_.resolved) &&
          cond.forall(_.resolved) =>
      graftTarget(t) match {
        case None => plan
        case Some(g) =>
          assignments.foreach(a => noSubquery(a.value, "UPDATE SET"))
          noPartitionRefs(cond.toSeq.flatMap(_.references) ++
            assignments.flatMap(_.value.references), g, "UPDATE")
          val set = assignments.map { a =>
            val name = a.key match {
              case ar: AttributeReference => ar.name
              case other => fail(
                s"UPDATE SET target must be a column, got ${other.sql}")
            }
            if (g.partitionCols.exists(p => conf.resolver(p, name)))
              fail(s"UPDATE of partition column '$name' — partition " +
                "values live in the directory layout; use the Scala " +
                "API with partitionField")
            name -> byName(storeAssign(a.value, a.key.dataType,
              s"UPDATE SET $name"))
          }.toMap
          GraftUpdateCommand(g.dest,
            cond.map(byName).getOrElse(lit(true)), set,
            cond.map(_.sql).getOrElse("true"), g.refreshTable)
      }

    case m: MergeIntoTable if m.resolved =>
      graftTarget(m.targetTable) match {
        case None => plan
        case Some(g) => planMerge(m, g)
      }

    // INSERT INTO a graft table — MUST be intercepted: left alone,
    // post-hoc DataSourceAnalysis would plan the V1 HadoopFsRelation
    // as a DIRECT parquet write into the destination directory,
    // bypassing the staged manifest commit entirely (files visible to
    // no snapshot, swept by recover/vacuum — silent data loss). Routed
    // instead to the atomic append, carrying the snapshot's stats and
    // bloom columns so skipping coverage doesn't decay as SQL appends
    // arrive.
    case InsertIntoStatement(t, spec, userCols, query, overwrite,
        ifPartitionNotExists, byName)
        if t.resolved && query.resolved =>
      graftTarget(t) match {
        case None => plan
        case Some(g) => planInsert(t, g, spec, userCols, query,
          overwrite, ifPartitionNotExists, byName)
      }

    case _ => plan
  }

  private def planInsert(t: LogicalPlan, g: GraftTarget,
      spec: Map[String, Option[String]], userCols: Seq[String],
      query: LogicalPlan, overwrite: Boolean,
      ifPartitionNotExists: Boolean, byName: Boolean): LogicalPlan = {
    if (ifPartitionNotExists)
      fail("INSERT ... PARTITION IF NOT EXISTS is not supported")
    if (spec.nonEmpty) {
      // `INSERT OVERWRITE t PARTITION (p = 'v')` — replace exactly that
      // partition (Delta's replaceWhere); `PARTITION (p)` with no value
      // — dynamic partition overwrite (replace the partitions the
      // query's own rows land in). Both land through ONE partial
      // snapshot commit; untouched partitions carry byte-identical.
      if (!overwrite)
        fail("INSERT INTO ... PARTITION (static spec) is not " +
          "supported — partition values derive from the partition " +
          "column itself; INSERT OVERWRITE ... PARTITION replaces a " +
          "partition")
      if (g.partitionCols.isEmpty || g.partitionCols.length > 2)
        fail("INSERT OVERWRITE ... PARTITION needs a partitioned " +
          "graft table (day, date/hour, or a generic partition column)")
      // the spec must name a PREFIX of the layout columns (p_date, or
      // p_date + p_hour) — in ANY order; it is normalized to layout
      // order here, so PARTITION (p_hour='3', p_date='d') and
      // PARTITION (p_date='d', p_hour='3') name the same partition
      val matched = spec.keys.toSeq.map { s =>
        val i = g.partitionCols.indexWhere(p => conf.resolver(s, p))
        if (i < 0)
          fail(s"INSERT OVERWRITE PARTITION: '$s' is not a partition " +
            s"column of this table — the partition columns are " +
            s"(${g.partitionCols.mkString(", ")})")
        i -> s
      }
      if (matched.map(_._1).toSet != matched.indices.toSet)
        fail(s"INSERT OVERWRITE PARTITION: the spec must name a " +
          s"prefix of the layout columns, in any order — accepted " +
          s"forms: PARTITION (${g.partitionCols.head}[='v']) or " +
          s"PARTITION (${g.partitionCols.mkString(", ")}); got " +
          s"(${spec.keys.mkString(", ")})")
      val ordered: Seq[(String, Option[String])] =
        matched.sortBy(_._1).map { case (_, s) => s -> spec(s) }
      val staticVals = ordered.map(_._2)
      if (staticVals.exists(_.isDefined) && staticVals.exists(_.isEmpty))
        fail("INSERT OVERWRITE PARTITION: mixed static/dynamic specs " +
          "are not supported — give every named column a value, or " +
          "none")
      return planOverwritePartition(t, g,
        ordered.collect { case (k, Some(v)) => (k, v) },
        userCols, query, byName)
    }
    if (g.partitionCols.length > 2)
      fail("INSERT INTO: at most two partition levels (date/hour) " +
        "are supported")
    def castTo(src: Attribute, ta: Attribute): NamedExpression =
      if (src.dataType == ta.dataType) Alias(src, ta.name)()
      else Alias(Cast(src, ta.dataType), ta.name)()
    val tgt = t.output
    val aligned: Seq[NamedExpression] =
      if (tgt.isEmpty) {
        // an empty table (CREATE TABLE over a fresh LOCATION): the
        // first INSERT defines the schema, exactly like a first
        // format("graft") write
        query.output.map(a => Alias(a, a.name)())
      } else if (byName || userCols.nonEmpty) {
        val names =
          if (userCols.nonEmpty) userCols else query.output.map(_.name)
        if (names.length != query.output.length)
          fail(s"INSERT column list names ${names.length} columns " +
            s"for ${query.output.length} query columns")
        val pairs = names.zip(query.output)
        tgt.map { ta =>
          pairs.filter { case (n, _) => conf.resolver(n, ta.name) } match {
            case Seq((_, src)) => castTo(src, ta)
            case Seq() => fail("INSERT INTO: no source column for " +
              s"table column '${ta.name}' — partial inserts are not " +
              "supported (a manifest append is whole-row)")
            case _ => fail("INSERT INTO: duplicate source column " +
              s"for '${ta.name}'")
          }
        }
      } else {
        if (query.output.length != tgt.length)
          fail(s"INSERT INTO: query has ${query.output.length} " +
            s"columns for a ${tgt.length}-column table " +
            s"(${tgt.map(_.name).mkString(", ")})")
        tgt.zip(query.output).map { case (ta, src) => castTo(src, ta) }
      }
    GraftInsertCommand(g.dest, Project(aligned, query),
      if (g.partitionCols.isEmpty) None
      else Some(GraftDml.specOf(g.partitionCols)),
      g.statsCols, g.bloomCols, g.refreshTable, overwrite)
  }

  /** `INSERT OVERWRITE t PARTITION (p = 'v') SELECT <data cols>`
    * (static — the query omits the partition column, which comes from
    * the spec) and `... PARTITION (p) SELECT <all cols>` (dynamic —
    * the touched partitions come from the rows). Both route to the
    * partial snapshot commit [[ManifestSink.overwritePartitions]]:
    * untouched partitions carry byte-identical, time travel reaches
    * the pre-overwrite state, and a concurrent append into a replaced
    * partition aborts loudly.
    */
  private def planOverwritePartition(t: LogicalPlan, g: GraftTarget,
      staticSpec: Seq[(String, String)], userCols: Seq[String],
      query: LogicalPlan, byName: Boolean): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val tgtAll = t.output
    if (tgtAll.isEmpty)
      fail("INSERT OVERWRITE ... PARTITION on an empty table — define " +
        "the schema with a plain INSERT first")
    val staticAttrs = staticSpec.map { case (k, v) =>
      (tgtAll.find(a => conf.resolver(a.name, k)).getOrElse(
        fail(s"INSERT OVERWRITE PARTITION: partition column '$k' not " +
          "in the table schema")), v)
    }
    def castTo(src: Attribute, ta: Attribute): NamedExpression =
      if (src.dataType == ta.dataType) Alias(src, ta.name)()
      else Alias(Cast(src, ta.dataType), ta.name)()
    // static spec: the SELECT supplies every column NOT given a static
    // value (the Spark static-partition contract); dynamic: the full
    // row including the partition columns
    val staticIds = staticAttrs.map(_._1.exprId).toSet
    val dataTgt = tgtAll.filterNot(a => staticIds.contains(a.exprId))
    val aligned: Seq[NamedExpression] =
      if (byName || userCols.nonEmpty) {
        val names =
          if (userCols.nonEmpty) userCols else query.output.map(_.name)
        if (names.length != query.output.length)
          fail(s"INSERT column list names ${names.length} columns " +
            s"for ${query.output.length} query columns")
        val pairs = names.zip(query.output)
        dataTgt.map { ta =>
          pairs.filter { case (n, _) => conf.resolver(n, ta.name) } match {
            case Seq((_, src)) => castTo(src, ta)
            case Seq() => fail("INSERT OVERWRITE PARTITION: no source " +
              s"column for table column '${ta.name}'")
            case _ => fail("INSERT OVERWRITE PARTITION: duplicate " +
              s"source column for '${ta.name}'")
          }
        }
      } else {
        if (query.output.length != dataTgt.length)
          fail(s"INSERT OVERWRITE PARTITION: query has " +
            s"${query.output.length} columns for ${dataTgt.length} " +
            s"expected (${dataTgt.map(_.name).mkString(", ")})")
        dataTgt.zip(query.output).map { case (ta, src) => castTo(src, ta) }
      }
    val withP: Seq[NamedExpression] = aligned ++ staticAttrs.map {
      case (pa, v) =>
        Alias(Cast(Literal(v), pa.dataType), pa.name)()
    }
    GraftOverwritePartitionsCommand(g.dest,
      Project(withP, query), GraftDml.specOf(g.partitionCols),
      staticSpec.map(_._2), g.statsCols, g.bloomCols, g.refreshTable)
  }

  private def planMerge(m: MergeIntoTable, g: GraftTarget): LogicalPlan = {
    def unsupported(what: String): Nothing =
      fail(s"MERGE INTO: $what — SQL MERGE supports the CDC canon " +
        "forms only (WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED " +
        "THEN INSERT *, optionally WHEN MATCHED AND <src-cond> THEN " +
        "DELETE first; or WHEN MATCHED THEN DELETE alone); use " +
        "ManifestSink.mergeInto/mergeCdc for anything richer")
    if (m.withSchemaEvolution)
      unsupported("WITH SCHEMA EVOLUTION is not supported")
    // WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE / UPDATE SET
    // ... — the sync forms, routed to the INCREMENTAL engine
    // ([[ManifestSink.mergeSync]]): (condition, Some(assignments) for
    // UPDATE | None for DELETE)
    val bySource: Option[(Option[Expression], Option[Seq[Assignment]])] =
      m.notMatchedBySourceActions match {
        case Seq() => None
        case Seq(DeleteAction(cond)) => Some((cond, None))
        case Seq(UpdateAction(cond, assigns, _)) =>
          Some((cond, Some(assigns)))
        case _ => unsupported("WHEN NOT MATCHED BY SOURCE supports one " +
          "[AND <cond>] THEN DELETE or THEN UPDATE SET ... clause")
      }
    val fullSync = bySource.isDefined
    // partitioned targets merge natively: the source must carry the
    // partition column(s) (INSERT * requires them anyway) and the
    // merge machinery routes inserted rows into their partitions —
    // day layouts and date/hour layouts alike
    if (g.partitionCols.length > 2)
      fail("MERGE INTO: at most two partition levels (date/hour) " +
        "are supported")
    val mergePartition =
      if (g.partitionCols.isEmpty) None
      else Some(GraftDml.specOf(g.partitionCols))
    noSubquery(m.mergeCondition, "MERGE")
    val tgtOut = m.targetTable.outputSet
    val srcOut = m.sourceTable.outputSet
    // the merge key: one equality between a target and a source column
    // of the SAME name (the mergeInto contract — the source column IS
    // the new key value)
    val keyCol = m.mergeCondition match {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if (tgtOut.contains(a) && srcOut.contains(b)) ||
            (tgtOut.contains(b) && srcOut.contains(a)) =>
        if (!conf.resolver(a.name, b.name))
          unsupported(s"merge key names differ (${a.name} vs ${b.name})")
        if (g.partitionCols.exists(p => conf.resolver(p, a.name)))
          unsupported(s"the merge key cannot be the partition column " +
            s"'${a.name}' — partition values live in the directory " +
            "layout, not the data files")
        a.name
      case other =>
        unsupported(s"ON condition must be a single target-source " +
          s"column equality, got ${other.sql}")
    }
    // the source column an assignment takes, under the cast Spark's
    // alignment wraps it in when the types differ
    def sourceCol(as: Assignment): Option[AttributeReference] =
      unaligned(as.value, as.key.dataType) match {
        case v: AttributeReference => Some(v)
        case _                     => None
      }
    // "star-shaped": EVERY target column assigned its same-name source
    // column — the only shape that maps to mergeInto's whole-row
    // replacement (a partial SET would need per-column carry the Scala
    // API doesn't model)
    def starAssigns(assigns: Seq[Assignment]): Boolean =
      assigns.length == m.targetTable.output.length &&
        assigns.forall { as =>
          (as.key, sourceCol(as)) match {
            case (k: AttributeReference, Some(v)) =>
              srcOut.contains(v) && conf.resolver(k.name, v.name)
            case _ => false
          }
        }
    // the star forms' merge source: each assigned source column stored
    // at its target column's type
    def starSource(act: MergeAction): LogicalPlan = act match {
      case UpdateAction(_, assigns, _) =>
        val stored = assigns.flatMap(as => sourceCol(as).map(v =>
          v.exprId -> storeAssign(v, as.key.dataType,
            s"MERGE UPDATE SET * ${v.name}"))).toMap
        val out = m.sourceTable.output.map(a => stored.get(a.exprId) match {
          case Some(e) if e != a => Alias(e, a.name)()
          case _                 => a
        })
        if (out == m.sourceTable.output) m.sourceTable
        else Project(out, m.sourceTable)
      case _ => m.sourceTable
    }
    def isStarUpdate(act: MergeAction): Boolean = act match {
      case UpdateStarAction(None)            => true
      case UpdateAction(None, assigns, _)    => starAssigns(assigns)
      case _                                 => false
    }
    def isStarInsert(act: MergeAction): Boolean = act match {
      case InsertStarAction(None)        => true
      case InsertAction(None, assigns)   => starAssigns(assigns)
      case _                             => false
    }
    val insertStar = m.notMatchedActions match {
      case Seq(a) if isStarInsert(a) => true
      case Seq()                     => false
      case _ => unsupported("WHEN NOT MATCHED must be INSERT * (or absent)")
    }
    m.matchedActions match {
      // WHEN MATCHED THEN UPDATE SET * + WHEN NOT MATCHED THEN INSERT *
      // (+ WHEN NOT MATCHED BY SOURCE THEN DELETE = the full-sync form:
      // after the commit the table IS the source)
      case Seq(u) if isStarUpdate(u) =>
        if (!insertStar)
          unsupported("UPDATE SET * without INSERT * (mergeInto always " +
            "inserts unmatched source rows; add WHEN NOT MATCHED THEN " +
            "INSERT *)")
        if (fullSync) {
          val (bsCond, bsAssigns) = bySource.get
          // the BY SOURCE branch acts on target rows that have NO
          // source counterpart — its condition and SET expressions
          // may reference target columns only
          (bsCond.toSeq ++ bsAssigns.toSeq.flatten.map(_.value))
            .foreach { e =>
              noSubquery(e, "WHEN NOT MATCHED BY SOURCE")
              if (!e.references.subsetOf(tgtOut))
                unsupported("WHEN NOT MATCHED BY SOURCE expressions " +
                  "must reference only target columns (there is no " +
                  "source row for them)")
              noPartitionRefs(e.references.toSeq, g,
                "WHEN NOT MATCHED BY SOURCE")
            }
          val bsSet = bsAssigns.map(_.map { a =>
            val name = a.key match {
              case ar: AttributeReference => ar.name
              case other => fail("WHEN NOT MATCHED BY SOURCE UPDATE " +
                s"SET target must be a column, got ${other.sql}")
            }
            if (g.partitionCols.exists(p => conf.resolver(p, name)))
              fail(s"WHEN NOT MATCHED BY SOURCE UPDATE of partition " +
                s"column '$name' — partition values live in the " +
                "directory layout")
            if (conf.resolver(keyCol, name))
              fail("WHEN NOT MATCHED BY SOURCE UPDATE cannot SET the " +
                s"merge key '$name'")
            name -> byName(storeAssign(a.value, a.key.dataType,
              s"WHEN NOT MATCHED BY SOURCE UPDATE SET $name"))
          }.toMap)
          GraftMergeSyncCommand(g.dest, starSource(u), keyCol,
            m.targetTable.output.map(_.name), g.refreshTable,
            mergePartition, bsCond.map(byName), bsSet)
        } else
          GraftMergeCommand(g.dest, starSource(u), keyCol, None,
            m.targetTable.output.map(_.name), g.refreshTable,
            mergePartition)
      // WHEN MATCHED AND f THEN DELETE + UPDATE SET * + INSERT *
      case Seq(DeleteAction(Some(f)), u) if isStarUpdate(u) =>
        if (fullSync)
          unsupported("WHEN NOT MATCHED BY SOURCE combines only with " +
            "the plain UPDATE SET * / INSERT * pair")
        if (!insertStar)
          unsupported("conditional DELETE + UPDATE SET * needs INSERT *")
        noSubquery(f, "MERGE")
        if (!f.references.subsetOf(srcOut))
          unsupported("WHEN MATCHED AND <cond> THEN DELETE condition " +
            "must reference only source columns (it marks source rows " +
            "as delete directives)")
        GraftMergeCommand(g.dest, starSource(u), keyCol,
          Some(byName(f)), m.targetTable.output.map(_.name),
          g.refreshTable, mergePartition)
      // WHEN MATCHED THEN DELETE, nothing else: delete the matched keys
      case Seq(DeleteAction(None)) =>
        if (fullSync)
          unsupported("WHEN NOT MATCHED BY SOURCE combines only with " +
            "the plain UPDATE SET * / INSERT * pair")
        if (insertStar)
          unsupported("WHEN MATCHED THEN DELETE cannot combine with " +
            "INSERT * (every source row is a delete directive)")
        GraftMergeCommand(g.dest, m.sourceTable, keyCol,
          Some(lit(true)), m.targetTable.output.map(_.name),
          g.refreshTable, mergePartition)
      case _ => unsupported("unrecognized WHEN MATCHED clause shape")
    }
  }

  /** Re-expresses a resolved predicate so it can re-resolve against
    * the DML machinery's own fresh file scans: top-level attribute
    * references become name-based lookups, while SUBQUERY subtrees are
    * kept verbatim — their inner plans are self-containedly resolved,
    * and a CORRELATED subquery's `OuterReference`s are rebound to the
    * applying scan's attribute ids at apply time
    * ([[ManifestSink.bindOuter]]), not renamed here (a bare name would
    * wrongly resolve against the INNER relation first when both sides
    * share the column name — the `d.id = t.id` shape).
    */
  private def byName(e: Expression): Column = {
    def go(x: Expression): Expression = x match {
      case s: SubqueryExpression => s
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      case other => other.mapChildren(go)
    }
    // SQL BETWEEN resolves to a `With` block that cannot outlive its
    // attributes — inline it while they are still resolved
    val flat = GraftFilterConversion.inlineWith(e)
    if (flat.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.With]))
      fail(s"non-deterministic BETWEEN input in ${e.sql} is not " +
        "supported on graft tables")
    Bridge.column(go(flat))
  }

  /** `v` cast to its column's type under the session's store-assignment
    * policy, as Spark's own UPDATE does (a DECIMAL literal into a DOUBLE
    * column must not write DECIMAL files into the table): ANSI (the
    * default) and STRICT refuse an unsafe pair here and raise on
    * overflow at run time; LEGACY casts as the session does. `what`
    * names the assignment in the refusal. A cast Spark's MERGE
    * alignment already put around `v` is replaced, so the policy judges
    * the value's own type.
    */
  private def storeAssign(value: Expression, to: DataType,
      what: String): Expression = {
    import org.apache.spark.sql.internal.SQLConf.StoreAssignmentPolicy._
    val v = unaligned(value, to)
    val policy = conf.storeAssignmentPolicy
    val ok = policy match {
      case ANSI   => Cast.canANSIStoreAssign(v.dataType, to)
      case STRICT => Cast.canUpCast(v.dataType, to)
      case _      => true
    }
    if (!ok) fail(s"$what: cannot assign " +
      s"${v.dataType.simpleString} to a ${to.simpleString} column " +
      s"under spark.sql.storeAssignmentPolicy=$policy")
    val tz = Some(conf.sessionLocalTimeZone)
    if (v.dataType == to) v
    else if (policy == LEGACY) Cast(v, to, tz)
    else Cast(v, to, tz, EvalMode.ANSI)
  }

  /** `e` without the cast to `to` Spark's MERGE alignment wraps around
    * an assigned value of another type; a user's own CAST stays.
    */
  private def unaligned(e: Expression, to: DataType): Expression = e match {
    case c: Cast if c.dataType == to &&
        c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty => c.child
    case _ => e
  }

  private def noSubquery(e: Expression, stmt: String): Unit =
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      fail(s"$stmt with a subquery is not supported on graft tables")

  private def noPartitionRefs(refs: Seq[Attribute], g: GraftTarget,
      where: String): Unit =
    refs.find(a => g.partitionCols.exists(p => conf.resolver(p, a.name)))
      .foreach { a =>
        fail(s"$where references partition column '${a.name}' — " +
          "directory-derived partition values are not in the data " +
          "files; use dropPartitions or the Scala API")
      }

}

object GraftDml {

  /** A Scala-API `partitionField` spec for a relation's directory
    * layout columns: the derived `p_date[/p_hour]` pass bare (the
    * identity derivation); a single GENERIC column wraps in the
    * explicit `val(...)` form so a string partition value is never
    * mistaken for a date to derive from.
    */
  private[plans] def specOf(pcols: Seq[String]): String =
    if (pcols.length == 1 &&
        !pcols.head.equalsIgnoreCase(graft.ingest.Ingest.PartitionCol))
      s"val(${pcols.head})"
    else pcols.mkString("/")

  private[plans] def fail(msg: String): Nothing =
    throw new AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3100",
      messageParameters = Map("message" -> s"[graft] $msg"))

  /** A DML target that resolved to a graft relation: the destination
    * path, its directory-derived partition columns, and — for catalog
    * tables — the identifier to refresh after the commit (Spark caches
    * the resolved relation per table; without the refresh a follow-up
    * SELECT would read the pre-DML snapshot).
    */
  final case class GraftTarget(dest: String, partitionCols: Seq[String],
      refreshTable: Option[String], statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil)

  /** Unwrap alias layers and match the graft relation. Time-traveled
    * relations (`versionAsOf`) are historical snapshots — writing
    * "through" one is refused upstream by the head-version commit
    * protocol, not here.
    */
  def graftTarget(plan: LogicalPlan): Option[GraftTarget] = plan match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case v: View                 => graftTarget(v.child)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case gi: GraftFileIndex => Some(GraftTarget(
          gi.handle.destPath,
          gi.partitionSchema.fields.map(_.name).toSeq,
          lr.catalogTable.map(_.identifier.quotedString),
          gi.handle.statsColumns, gi.handle.bloomColumns))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** Post-commit catalog hygiene for named targets. */
  private[plans] def refreshAfterDml(spark: SparkSession,
      table: Option[String]): Unit =
    table.foreach(spark.catalog.refreshTable)

  /** Table-valued CDC reads — Delta's `table_changes(...)` shape:
    *
    *   SELECT * FROM graft_changes('t-or-/path', since[, until])
    *   SELECT * FROM graft_appends('t-or-/path', since[, until])
    *
    * `graft_changes` returns the row-level change feed
    * (`_change_type` insert|delete with exact pre-images, mor commits
    * decomposed); `graft_appends` the append-only feed (refusing
    * content rewrites). Targets containing '/' are destination paths;
    * anything else resolves as a graft catalog table. Version bounds
    * are literals — the feed is a snapshot-resolved relation, not a
    * parameterized scan.
    */
  private[plans] def changesTvf(args: Seq[Expression]): LogicalPlan =
    feedTvf("graft_changes", args,
      (s, d, from, until) => ManifestSink.readChangesBetween(s, d,
        from, until))

  private[plans] def appendsTvf(args: Seq[Expression]): LogicalPlan =
    feedTvf("graft_appends", args,
      (s, d, from, until) => ManifestSink.readAppendsBetween(s, d,
        from, until))

  private def feedTvf(name: String, args: Seq[Expression],
      read: (SparkSession, String, Long, Long) =>
        org.apache.spark.sql.DataFrame): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    def strOf(e: Expression, what: String): String = e match {
      case Literal(s, StringType) if s != null => s.toString
      case _ => fail(s"$name: $what must be a string literal")
    }
    def longOf(e: Expression, what: String): Long = e match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType)   => v
      case _ => fail(s"$name: $what must be an integer literal")
    }
    if (args.length < 2 || args.length > 3)
      fail(s"$name(table_or_path, since_version[, until_version])")
    val spark = SparkSession.active
    val t = strOf(args(0), "target")
    val dest =
      if (t.contains('/')) t
      else graftCatalogDest(spark, t.split('.').toSeq).getOrElse(
        fail(s"$name: '$t' is not a graft table (USING graft) — pass " +
          "a table name or a destination path"))
    val from = longOf(args(1), "since_version")
    val until =
      if (args.length == 3) longOf(args(2), "until_version")
      else Long.MaxValue
    read(spark, dest, from, until).queryExecution.logical
  }

  /** The destination path of `ident` IF it names a graft catalog
    * table (provider `USING graft`); None for anything else — temp
    * views, other providers, missing tables — which stay Spark's to
    * resolve (and error on).
    */
  private[plans] def graftCatalogDest(spark: SparkSession,
      ident: Seq[String]): Option[String] =
    graftCatalogMeta(spark, ident).map(_._2)

  /** (catalog entry, destination path) when `ident` names a graft
    * catalog table; None for temp views / other providers / missing
    * tables.
    */
  private[plans] def graftCatalogMeta(spark: SparkSession,
      ident: Seq[String])
      : Option[(org.apache.spark.sql.catalyst.catalog.CatalogTable,
        String)] = {
    val tid = ident match {
      case Seq(t)      => TableIdentifier(t)
      case Seq(db, t)  => TableIdentifier(t, Some(db))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(t, Some(db))
      case _ => return None
    }
    val catalog = spark.sessionState.catalog
    if (catalog.isTempView(ident)) return None
    try {
      val meta = catalog.getTableMetadata(tid)
      if (meta.provider.exists(_.equalsIgnoreCase("graft")))
        Some((meta, meta.location.toString))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}

/** `DELETE FROM t WHERE ...` → deletion-vector commit (mor, default) or
  * copy-on-write rewrite. Returns the deleted-row count.
  */
case class GraftDeleteCommand(dest: String, cond: Column, condSql: String,
    refreshTable: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("deleted_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val mor = spark.conf.get("spark.graft.dml.mor", "true").toBoolean
    val n =
      if (mor) ManifestSink.deleteWhereMor(spark, dest, cond)
      else ManifestSink.deleteWhere(spark, dest, cond)
    GraftDml.refreshAfterDml(spark, refreshTable)
    Seq(Row(n))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftDelete $dest WHERE $condSql"
}

/** `UPDATE t SET ... WHERE ...` → sidecar-rewrite mor update (default)
  * or copy-on-write. On a PARTITIONED layout the mor path keeps each
  * updated row in its source file's partition (`updateWhereMor`
  * derives the value from the directory name — the partition column
  * is not assignable through SQL, so rows never move), keeping the
  * write O(changed rows) on the common date-partitioned CDC table.
  * Returns the updated-row count.
  */
case class GraftUpdateCommand(dest: String, cond: Column,
    set: Map[String, Column], condSql: String,
    refreshTable: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("updated_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val morFlag = spark.conf.get("spark.graft.dml.mor", "true").toBoolean
    val n =
      if (morFlag) ManifestSink.updateWhereMor(spark, dest, cond, set)
      else ManifestSink.updateWhere(spark, dest, cond, set)
    GraftDml.refreshAfterDml(spark, refreshTable)
    Seq(Row(n))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftUpdate $dest SET ${set.keys.mkString(",")} WHERE $condSql"
}

/** `ALTER TABLE t ADD COLUMNS (...)` / `DROP COLUMN[S] ...` → one
  * metadata-only `schemaevo` manifest commit
  * ([[ManifestSink.alterSchema]]): no data files touched, added
  * columns read null for existing rows, dropped columns vanish from
  * the resolved schema (bytes stay — re-adding the same name
  * resurfaces old values, the plain-parquet contract). The catalog's
  * stored schema syncs so DESCRIBE TABLE agrees.
  */
case class GraftAlterSchemaCommand(dest: String,
    add: Seq[org.apache.spark.sql.types.StructField],
    drop: Seq[String], ifExists: Boolean, ident: TableIdentifier)
    extends LeafRunnableCommand {
  import GraftDml.fail
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    val next = ManifestSink.alterSchema(spark, dest, cur => {
      var out = cur
      add.foreach { f =>
        if (out.fieldNames.exists(_.equalsIgnoreCase(f.name)))
          fail(s"ALTER TABLE ADD COLUMNS: column '${f.name}' " +
            "already exists")
        out = org.apache.spark.sql.types.StructType(out.fields :+ f)
      }
      drop.foreach { n =>
        val i = out.fieldNames.indexWhere(_.equalsIgnoreCase(n))
        if (i < 0) {
          if (!ifExists)
            fail(s"ALTER TABLE DROP COLUMNS: column '$n' does not " +
              "exist")
        } else
          out = org.apache.spark.sql.types.StructType(
            out.fields.patch(i, Nil, 1))
      }
      out
    })
    // cosmetic catalog sync (DESCRIBE TABLE); resolution itself reads
    // the log, so failures here cannot corrupt anything
    try spark.sessionState.catalog.alterTableDataSchema(ident, next)
    catch { case scala.util.control.NonFatal(_) => () }
    GraftDml.refreshAfterDml(spark, Some(ident.quotedString))
    Seq.empty
  }
}

/** `ALTER TABLE t ALTER COLUMN c TYPE <t>` → the metadata-only TYPE
  * WIDENING commit ([[ManifestSink.alterColumnType]]): the log records
  * the widened type, scans upcast older files at read time, no data
  * file is rewritten, unsafe promotions refuse. The catalog's stored
  * schema syncs so DESCRIBE TABLE agrees.
  */
case class GraftAlterColumnTypeCommand(dest: String,
    widens: Seq[(String, org.apache.spark.sql.types.DataType)],
    ident: TableIdentifier)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    // ONE schemaevo commit for the whole spec list: every column
    // validates before anything lands, so a refused later spec cannot
    // leave an earlier widen committed with the catalog out of sync
    val next =
      try ManifestSink.alterColumnTypes(spark, dest, widens)
      catch {
        case e: IllegalArgumentException => GraftDml.fail(
          e.getMessage.stripPrefix("requirement failed: ")
            .stripPrefix("[graft] "))
      }
    try spark.sessionState.catalog.alterTableDataSchema(ident, next)
    catch { case scala.util.control.NonFatal(_) => () }
    GraftDml.refreshAfterDml(spark, Some(ident.quotedString))
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftAlterColumnType $dest " +
      widens.map { case (n, t) => s"$n TYPE ${t.simpleString}" }
        .mkString(", ")
}

/** `INSERT INTO t ...` → the staged atomic append ([[ManifestSink
  * .statsAppend]]/`append`); `INSERT OVERWRITE t ...` → the atomic
  * snapshot-replace ([[ManifestSink.overwrite]] — readers flip states
  * atomically, history retained, concurrent commits abort it loudly).
  * Never a direct file write into the destination. Skipping stats and
  * bloom filters are built for the same columns the snapshot already
  * records; on a partitioned layout the (directory-derived) partition
  * column's values come from the inserted rows themselves. No output
  * rows — standard INSERT shape.
  */
case class GraftInsertCommand(dest: String, child: LogicalPlan,
    partitionField: Option[String], statsCols: Seq[String],
    bloomCols: Seq[String], refreshTable: Option[String],
    overwrite: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    val df = Bridge.dataFrame(spark, child)
    // stats/bloom apply to DATA columns only — the partition column(s)
    // land in directory names, not file footers
    val dataCols = partitionField match {
      case Some(spec) =>
        val layout = spec.split('/').toSeq
        df.columns.toSeq
          .filterNot(c => layout.exists(_.equalsIgnoreCase(c)))
      case None => df.columns.toSeq
    }
    val sc = statsCols.filter(c => dataCols.exists(_.equalsIgnoreCase(c)))
    val bc = bloomCols.filter(c => dataCols.exists(_.equalsIgnoreCase(c)))
    if (overwrite)
      // mirror the append path's stats derivation: a bloom-only table
      // (statsCols empty) still records min/max/null stats2 lines for
      // its bloom columns, so skipping coverage survives the overwrite
      ManifestSink.overwrite(df, dest, partitionField,
        if (sc.nonEmpty) sc else bc, bc)
    else if (sc.nonEmpty || bc.nonEmpty)
      ManifestSink.statsAppend(df, dest, partitionField,
        if (sc.nonEmpty) sc else bc, bloomCols = bc)
    else
      ManifestSink.append(df, dest, partitionField)
    GraftDml.refreshAfterDml(spark, refreshTable)
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftInsert${if (overwrite) "Overwrite" else ""} $dest" +
      partitionField.map(p => s" partitioned by $p").getOrElse("")
}

/** The full-sync MERGE form (`WHEN MATCHED THEN UPDATE SET * WHEN NOT
  * MATCHED THEN INSERT * WHEN NOT MATCHED BY SOURCE THEN DELETE`) →
  * [[ManifestSink.mergeFullSync]]: after the commit the table's
  * content IS the source, in one atomic snapshot; rows whose key
  * vanished upstream delete. Returns (updated, inserted, deleted).
  */
/** `MERGE ... WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE |
  * UPDATE SET ...` → the INCREMENTAL sync engine
  * ([[ManifestSink.mergeSync]]): value-identical matched rows are
  * never rewritten, vanished-key rows become dv tombstones (plus
  * SET-applied appends under the UPDATE action), every untouched data
  * file stays byte-identical, and a re-sync of an identical source
  * commits nothing. The whole-table snapshot replace remains available
  * through the Scala API ([[ManifestSink.mergeFullSync]]) for callers
  * that want the physical re-layout.
  */
case class GraftMergeSyncCommand(dest: String, source: LogicalPlan,
    keyCol: String, targetCols: Seq[String],
    refreshTable: Option[String], partitionField: Option[String],
    bySourceCond: Option[Column], bySourceSet: Option[Map[String, Column]])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("updated_rows", LongType, nullable = false)(),
    AttributeReference("inserted_rows", LongType, nullable = false)(),
    AttributeReference("deleted_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val srcDf = Bridge.dataFrame(spark, source)
      .select(targetCols.map(org.apache.spark.sql.functions.col): _*)
    val handle = ManifestSink.snapshotHandle(spark, dest)
    val outcome = ManifestSink.mergeSync(spark, dest, srcDf,
      keyCol, partitionField, handle.statsColumns,
      bySourceCond = bySourceCond, bySourceSet = bySourceSet,
      bloomCols = handle.bloomColumns)
    if (!outcome.applied)
      throw new IllegalStateException(
        s"[graft] MERGE INTO $dest (sync) did not apply: " +
          s"$outcome — retry after the concurrent commit / pending " +
          "attempt clears")
    GraftDml.refreshAfterDml(spark, refreshTable)
    val (u, i, d) = outcome.counts
    Seq(Row(u, i, d))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftMergeSync $dest ON $keyCol"
}

/** `INSERT OVERWRITE t PARTITION (p [= 'v'])` → the partial snapshot
  * commit [[ManifestSink.overwritePartitions]]. The static value
  * canonicalizes through the engine's own partition derivation
  * (`to_date`), so `'2026-8-5'` and `'2026-08-05'` name the same
  * directory. Returns the replaced (old) file count.
  */
case class GraftOverwritePartitionsCommand(dest: String,
    child: LogicalPlan, partitionField: String,
    staticValues: Seq[String], statsCols: Seq[String],
    bloomCols: Seq[String], refreshTable: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("replaced_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val df = Bridge.dataFrame(spark, child)
    val layoutCols = ManifestSink.partitionColsOf(partitionField)
    val dataCols = df.columns.toSeq
      .filterNot(c => layoutCols.exists(_.equalsIgnoreCase(c)))
    val sc = statsCols.filter(c => dataCols.exists(_.equalsIgnoreCase(c)))
    val bc = bloomCols.filter(c => dataCols.exists(_.equalsIgnoreCase(c)))
    def canonDate(v: String): String = {
      val canon = spark.range(1)
        .select(org.apache.spark.sql.functions.to_date(lit(v))
          .cast("string")).head.getString(0)
      if (canon == null)
        throw new IllegalArgumentException(
          s"[graft] INSERT OVERWRITE PARTITION: cannot interpret " +
            s"'$v' as a partition date")
      canon
    }
    def canonHour(v: String): String =
      ManifestSink.canonPartitionHour(v,
        "INSERT OVERWRITE PARTITION").toString
    // date canonicalization applies to the DERIVED p_date layout only
    // — a generic partition value ('en' of lang=en/) passes verbatim
    val dateLayout = layoutCols.headOption
      .exists(_.equalsIgnoreCase(graft.ingest.Ingest.PartitionCol))
    val values = staticValues match {
      case Seq()     => Nil
      case Seq(d)    => Seq(if (dateLayout) canonDate(d) else d)
      case Seq(d, h) => Seq(s"${canonDate(d)}/${canonHour(h)}")
      case other => throw new IllegalArgumentException(
        s"[graft] INSERT OVERWRITE PARTITION: too many static " +
          s"values (${other.mkString(",")})")
    }
    val n = ManifestSink.overwritePartitions(df, dest, partitionField,
      values, sc, bc)
    GraftDml.refreshAfterDml(spark, refreshTable)
    Seq(Row(n))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftOverwritePartitions $dest PARTITION ($partitionField" +
      (if (staticValues.nonEmpty)
        s" = '${staticValues.mkString("/")}'" else "") + ")"
}

/** `MERGE INTO` in the CDC canon forms → [[ManifestSink.mergeInto]] /
  * [[ManifestSink.mergeCdc]], loud-status (a skipped/aborted merge
  * throws — SQL has no return channel for "did not apply"). Skipping
  * stats re-derive for every column the snapshot records. Returns
  * (updated, inserted, deleted) counts.
  */
case class GraftMergeCommand(dest: String, source: LogicalPlan,
    keyCol: String, deleteFilter: Option[Column],
    targetCols: Seq[String], refreshTable: Option[String],
    partitionField: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("updated_rows", LongType, nullable = false)(),
    AttributeReference("inserted_rows", LongType, nullable = false)(),
    AttributeReference("deleted_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val mor = spark.conf.get("spark.graft.dml.mor", "true").toBoolean
    val srcDf = Bridge.dataFrame(spark, source)
    val statsCols =
      ManifestSink.snapshotHandle(spark, dest).statsColumns
    // columns the SQL source carries beyond the table schema (the
    // CDC op/ts directive columns) must not land in the table
    val extras = srcDf.columns.toSeq
      .filterNot(c => targetCols.exists(_.equalsIgnoreCase(c)))
    // on a partitioned target the source's same-name partition column
    // (INSERT * requires it) routes inserted rows into their
    // partitions: to_date(partition col) is the identity the sink's
    // own layout derivation applies
    val outcome = deleteFilter match {
      case None => ManifestSink.mergeIntoStatus(spark, dest,
        srcDf.select(targetCols.map(org.apache.spark.sql.functions.col)
          : _*),
        keyCol, partitionField, statsCols, mor)
      case Some(f) => ManifestSink.mergeCdcStatus(spark, dest, srcDf,
        keyCol, f, extras, partitionField, statsCols, mor)
    }
    if (!outcome.applied)
      throw new IllegalStateException(
        s"[graft] MERGE INTO $dest did not apply: $outcome — retry " +
          "after the concurrent commit / pending attempt clears")
    GraftDml.refreshAfterDml(spark, refreshTable)
    val (u, i, d) = outcome.counts
    Seq(Row(u, i, d))
  }
  override def simpleString(maxFields: Int): String =
    s"GraftMerge $dest ON $keyCol" +
      (if (deleteFilter.isDefined) " (with delete directives)" else "")
}
