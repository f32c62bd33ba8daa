package graft.api

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, hll_sketch_agg, hll_union_agg, lit, max, min, monotonically_increasing_id, raise_error, row_number, sum, when}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.sources.DynamicSchema

/** Session + catalog facade — the Spark-native equivalent of the
  * reference's database/namespace/table surface
  * (/root/reference components/catalog/: pg_class-style catalog,
  * `relkind` r/g/v/m, integration/cpp/wrapper_dispatcher.hpp entry points).
  *
  * Tables live as directories of parquet ingest batches under a root path;
  * dynamic tables evolve their schema per insert via [[DynamicSchema]]
  * (each batch keeps its own physical schema; reads cast to the union —
  * old data survives type evolution without rewrites). Views are stored
  * SQL expanded at reference time; matviews are CTAS with explicit
  * refresh. Transactions/WAL/MVCC are intentionally absent: batch
  * overwrite semantics with staged directory swaps (documented divergence
  * from the reference's OLTP half).
  */
class GraftSession(val spark: SparkSession, val root: String) {
  private val rootPath = Paths.get(root)
  Files.createDirectories(rootPath)

  private val views = scala.collection.mutable.Map[String, String]()
  // stored views survive restarts (body SQL re-expanded at reference time)
  locally {
    val vd = rootPath.resolve("_views")
    if (Files.exists(vd))
      Files.list(vd).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".sql"))
        .foreach { p =>
          views(p.getFileName.toString.stripSuffix(".sql")) =
            Files.readString(p)
        }
  }
  private case class TableState(
    dynamic: Boolean,
    var schema: StructType,
    var tombstones: Set[String])
  private val tables = scala.collection.mutable.Map[String, TableState]()

  /** Per-table write locks. Streaming sinks run each query's
    * foreachBatch on its own thread, so two queries landing in one table
    * write concurrently; [[insert]]'s generation bump and
    * [[insertIfNew]]'s check-then-commit are read-then-write sequences
    * that must be serialized PER TABLE (never globally — independent
    * tables keep full parallelism). */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def writeLock(name: String): Object =
    tableLocks.computeIfAbsent(name, _ => new Object)

  // ---------------------------------------------------------------- DDL

  def createDatabase(name: String): Unit =
    Files.createDirectories(rootPath.resolve(name))

  /** Fixed-schema table (`relkind='r'`). */
  def createTable(name: String, schema: StructType): Unit = {
    Files.createDirectories(dataDir(name))
    tables(name) = TableState(dynamic = false, schema, Set.empty)
    persistMeta(name)
  }

  // ------------------------------------------------------------ enum types

  /** CREATE TYPE … AS ENUM (reference transformer.cpp:75-79
    * T_CreateEnumStmt), per SURVEY §1.2's mapping: an enum is a STRING
    * column plus an automatic membership CHECK — Spark has no native enum
    * type, and a dictionary-encoded parquet string column gives the same
    * storage behavior at scale. Persisted under `_types/`. */
  def createEnumType(name: String, values: Seq[String]): Unit = {
    require(values.nonEmpty, s"CREATE TYPE $name AS ENUM: empty value list")
    enumTypes(name.toLowerCase) = values
    val td = rootPath.resolve("_types")
    Files.createDirectories(td)
    Files.writeString(td.resolve(s"${name.toLowerCase}.enum"),
      values.mkString("\n"))
  }

  def dropEnumType(name: String): Unit = {
    enumTypes.remove(name.toLowerCase)
    compositeTypes.remove(name.toLowerCase)
    val td = rootPath.resolve("_types")
    Seq(s"${name.toLowerCase}.enum", s"${name.toLowerCase}.struct")
      .map(td.resolve).filter(Files.exists(_)).foreach(Files.delete(_))
  }

  def enumValues(name: String): Option[Seq[String]] =
    enumTypes.get(name.toLowerCase)

  /** CREATE TYPE … AS (field type, …) (reference T_CompositeTypeStmt,
    * test_sql_features "CREATE TYPE (composite)"): a composite type is a
    * Spark struct — columns declared with it become struct columns, which
    * parquet stores columnar per field (so field pruning still works, see
    * PLANS.md jb1). Persisted under `_types/` as struct DDL. */
  def createCompositeType(name: String, fieldsDdl: String): Unit = {
    val struct = StructType.fromDDL(fieldsDdl) // validates eagerly
    compositeTypes(name.toLowerCase) = struct
    val td = rootPath.resolve("_types")
    Files.createDirectories(td)
    Files.writeString(td.resolve(s"${name.toLowerCase}.struct"), fieldsDdl)
  }

  def compositeType(name: String): Option[StructType] =
    compositeTypes.get(name.toLowerCase)

  private val enumTypes =
    scala.collection.mutable.Map[String, Seq[String]]()
  private val compositeTypes =
    scala.collection.mutable.Map[String, StructType]()
  locally {
    val td = rootPath.resolve("_types")
    if (Files.exists(td))
      Files.list(td).iterator.asScala.foreach { p =>
        val fn = p.getFileName.toString
        if (fn.endsWith(".enum"))
          enumTypes(fn.stripSuffix(".enum")) =
            Files.readString(p).split("\n").toSeq
        else if (fn.endsWith(".struct"))
          compositeTypes(fn.stripSuffix(".struct")) =
            StructType.fromDDL(Files.readString(p))
      }
  }

  /** CREATE TABLE column DDL with enum-typed columns rewritten to STRING;
    * returns the schema plus the membership CHECKs to attach. A NULL value
    * still passes the CHECK (PG enum columns are nullable). */
  private def resolveEnumDdl(colsDdl: String): (StructType, Seq[(String, String)]) = {
    val entries = splitTopLevel(colsDdl).map(_.trim).filter(_.nonEmpty)
    val rewritten = scala.collection.mutable.Buffer[String]()
    val checksOut = scala.collection.mutable.Buffer[(String, String)]()
    entries.foreach { e =>
      // probe only the FIRST type token for an enum name, preserving
      // trailing modifiers — `status mood NOT NULL` must still resolve
      val toks = e.split("\\s+", 3)
      val colName = toks(0)
      val tpe = toks.lift(1).getOrElse("").trim
      val modifiers = toks.lift(2).map(" " + _).getOrElse("")
      enumTypes.get(tpe.toLowerCase) match {
        case Some(vals) =>
          rewritten += s"$colName STRING$modifiers"
          val quoted = vals.map(v => s"'${v.replace("'", "''")}'")
          checksOut += ((s"${colName}_enum",
            s"$colName IN (${quoted.mkString(", ")})"))
        case None => compositeTypes.get(tpe.toLowerCase) match {
          case Some(struct) =>
            rewritten += s"$colName STRUCT<${struct.toDDL}>$modifiers"
          case None => rewritten += e
        }
      }
    }
    (StructType.fromDDL(rewritten.mkString(", ")), checksOut.toSeq)
  }

  /** Dynamic/computing table (`relkind='g'`) — columns appear on insert. */
  def createDynamicTable(name: String): Unit = {
    Files.createDirectories(dataDir(name))
    tables(name) = TableState(dynamic = true, new StructType(), Set.empty)
    persistMeta(name)
  }

  def dropTable(name: String): Unit = dropTable(name, dropDependents = true)

  /** `dropDependents = false` is for internal rebuild cycles
    * (refreshMatView) where the relation immediately comes back under the
    * same name — dependent views must survive the swap. */
  private def dropTable(name: String, dropDependents: Boolean): Unit = {
    deleteRecursively(tableDir(name))
    tables.remove(name)
    // a re-created table must not inherit the dead table's constraints,
    // rename history, or stored (mat)view body — and OTHER tables' FKs
    // referencing this one must not dangle
    checks.remove(name)
    fks.remove(name)
    fks.keys.toSeq.foreach { child =>
      val kept = fks(child).filterNot(_.parent == name)
      if (kept.size != fks(child).size) {
        fks(child) = kept
        persistConstraints(child)
      }
    }
    renames.remove(name)
    views.remove(name)
    val vf = rootPath.resolve("_views").resolve(s"$name.sql")
    if (Files.exists(vf)) Files.delete(vf)
    spark.catalog.dropTempView(name)
    // dependency closure (reference dynamic_cascade_delete's pg_depend
    // walk): views/matviews whose body references the dropped relation are
    // dropped too, transitively — a dangling view must not survive the drop
    if (dropDependents) dropDependentViews(name)
  }

  def dropView(name: String): Unit = {
    views.remove(name)
    val vf = rootPath.resolve("_views").resolve(s"$name.sql")
    if (Files.exists(vf)) Files.delete(vf)
    spark.catalog.dropTempView(name)
    dropDependentViews(name)
  }

  /** Relations a view body actually references: UnresolvedRelation names
    * from the parsed (not analyzed) plan, subqueries included. Parser-level
    * resolution avoids the textual-match trap where a table named `order`
    * would "depend" on every body containing ORDER BY. Falls back to a
    * word-boundary textual match only if the stored body fails to parse. */
  private def referencedRelations(body: String): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
      UnresolvedWith}
    // CTE bodies are not plan children: walk them explicitly
    def names(p: LogicalPlan): Seq[String] = p.collectWithSubqueries {
      case r: UnresolvedRelation => Seq(r.multipartIdentifier.last.toLowerCase)
      case w: UnresolvedWith => w.cteRelations.flatMap(c => names(c._2))
    }.flatten
    try Some(names(spark.sessionState.sqlParser.parsePlan(body)).toSet)
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Drops every stored view that references `name` (reference
    * dynamic_cascade_delete's pg_depend walk), transitively. Matviews are
    * backed by a table and take the table-drop path. */
  private def dropDependentViews(name: String): Unit = {
    val target = name.toLowerCase
    val pattern = ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    views.toSeq
      .collect { case (v, body) if referencedRelations(body)
          .map(_.contains(target))
          .getOrElse(pattern.findFirstIn(body).isDefined) => v }
      .foreach(v => if (tables.contains(v)) dropTable(v) else dropView(v))
  }

  def addColumn(name: String, column: String, dt: DataType): Unit = {
    val st = state(name)
    st.schema = DynamicSchema.merge(st.schema,
      StructType(Seq(StructField(column, dt))))
    st.tombstones -= column
    persistMeta(name)
  }

  /** DROP COLUMN is a tombstone — data files are untouched (metadata-only,
    * O(1) at any scale); re-adding the column resurfaces the old values,
    * mirroring `dynamic_schema_drop_then_readd_preserves_old_data`. */
  def dropColumn(name: String, column: String): Unit = {
    val st = state(name)
    st.tombstones += column
    persistMeta(name)
  }

  def renameColumn(name: String, from: String, to: String): Unit = {
    val st = state(name)
    // physical batches keep the old name; reads alias it. The rename is
    // versioned by the table's batch generation: batches written BEFORE
    // the rename (generation < renameGen) resolve the old physical name,
    // later batches already carry the new one — so neither chained
    // renames nor a later re-added column with the old name can shadow.
    val renameGen = peekGeneration(name)
    renames(name) = renames.getOrElse(name, Map.empty) +
      (to -> (from, renameGen))
    st.schema = StructType(st.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    persistMeta(name)
  }
  // visible name -> (old physical name, first generation with the new name)
  private val renames =
    scala.collection.mutable.Map[String, Map[String, (String, Long)]]()

  // ----------------------------------------------------------- constraints

  sealed trait FkAction
  case object Restrict extends FkAction
  case object Cascade extends FkAction
  case object SetNull extends FkAction

  private case class Check(name: String, expr: String)
  private case class Fk(column: String, parent: String, parentCol: String,
                        onDelete: FkAction)
  private val checks = scala.collection.mutable.Map[String, Seq[Check]]()
    .withDefaultValue(Nil)
  private val fks = scala.collection.mutable.Map[String, Seq[Fk]]()
    .withDefaultValue(Nil)

  /** CHECK constraint enforced on the write path (the reference planner
    * wraps DML with check_constraint operators —
    * components/planner/planner.cpp:54-87). Validation is one distributed
    * count over the incoming batch only, never the whole table. */
  def addCheckConstraint(table: String, name: String, sqlExpr: String): Unit = {
    checks(table) = checks(table) :+ Check(name, sqlExpr)
    persistConstraints(table)
  }

  /** FOREIGN KEY with RESTRICT / CASCADE / SET NULL delete semantics
    * (reference fk_check / fk_cascade operators; tests fk_cascade_delete,
    * fk_set_null, fk_cascade_restrict). Insert-side check is an anti-join
    * against the distinct parent keys (AQE broadcasts small parents). */
  def addForeignKey(child: String, column: String, parent: String,
                    parentCol: String, onDelete: FkAction = Restrict): Unit = {
    fks(child) = fks(child) :+ Fk(column, parent, parentCol, onDelete)
    persistConstraints(child)
  }

  /** Constraints survive session restarts alongside the schema metadata
    * (a fresh session must keep enforcing them — reference pg_constraint). */
  private def persistConstraints(table: String): Unit = {
    val meta = tableDir(table).resolve("_graft_meta")
    Files.createDirectories(meta)
    Files.writeString(meta.resolve("checks.txt"),
      checks(table).map(c => s"${c.name}\t${c.expr}").mkString("\n"))
    Files.writeString(meta.resolve("fks.txt"),
      fks(table).map(f =>
        s"${f.column}\t${f.parent}\t${f.parentCol}\t${f.onDelete match {
          case Restrict => "restrict"
          case Cascade => "cascade"
          case SetNull => "setnull"
        }}").mkString("\n"))
  }

  private def loadConstraints(table: String): Unit = {
    val meta = tableDir(table).resolve("_graft_meta")
    val cf = meta.resolve("checks.txt")
    if (Files.exists(cf))
      checks(table) = Files.readString(cf).split("\n").filter(_.contains("\t"))
        .toSeq.map { l => val Array(n, e) = l.split("\t", 2); Check(n, e) }
    val ff = meta.resolve("fks.txt")
    if (Files.exists(ff))
      fks(table) = Files.readString(ff).split("\n")
        .filter(_.count(_ == '\t') == 3).toSeq.map { l =>
          val Array(c, p, pc, act) = l.split("\t", 4)
          Fk(c, p, pc, act match {
            case "cascade" => Cascade
            case "setnull" => SetNull
            case _ => Restrict
          })
        }
  }

  private def validateInsert(name: String, df: DataFrame): Unit = {
    validateChecks(name, df)
    fks(name).foreach(fk => validateFkRef(name, df, fk))
  }

  private def validateChecks(name: String, df: DataFrame): Unit =
    checks(name).foreach { c =>
      // SQL-standard / PG CHECK semantics: only FALSE violates — a NULL
      // (unknown) predicate result passes, so nullable columns under
      // `CHECK (v > 0)` accept NULL rows exactly as PostgreSQL does
      val bad = df.filter(s"NOT coalesce(CAST((${c.expr}) AS BOOLEAN), true)")
        .count()
      if (bad > 0) throw new IllegalStateException(
        s"CHECK constraint ${c.name} violated by $bad row(s)")
    }

  /** One FK reference check: rows of `df` whose child column has no parent
    * key. The parent key set stays a distributed frame — no broadcast()
    * hint, AQE picks broadcast only when the parent side is actually small
    * (an unbounded forced broadcast of a 10⁹-key parent would OOM). */
  private def validateFkRef(name: String, df: DataFrame, fk: Fk): Unit = {
    val parents = table(fk.parent)
      .select(col(fk.parentCol).as(fk.column)).distinct()
    val orphans = df.select(col(fk.column))
      .filter(col(fk.column).isNotNull)
      .join(parents, Seq(fk.column), "left_anti").count()
    if (orphans > 0) throw new IllegalStateException(
      s"FK violation: $orphans row(s) in $name.${fk.column} " +
        s"without parent in ${fk.parent}.${fk.parentCol}")
  }

  /** UPDATE must re-validate what INSERT validates (the reference planner
    * wraps update with check/fk nodes too — planner.cpp rewrite_update):
    * CHECKs over the post-update rows, FK reference checks for the FK-child
    * columns the statement SET. Without this, `UPDATE t SET mood='bogus'`
    * would sneak an out-of-range enum value past the membership CHECK. */
  private def validateUpdate(name: String, updatedRows: DataFrame,
                             setCols: Set[String]): Unit = {
    validateChecks(name, updatedRows)
    fks(name).filter(fk => setCols.contains(fk.column))
      .foreach(fk => validateFkRef(name, updatedRows, fk))
  }

  /** Applies FK delete semantics when rows leave `parent`: children
    * pointing at `deletedKeys` are restricted, cascaded, or nulled.
    *
    * The deleted-key set stays a distributed frame end to end — semi/anti/
    * left joins against it (AQE broadcasts small key sets at runtime); it is
    * never collected into driver-side literals, so a parent delete hitting
    * 10^7 keys neither OOMs the driver nor builds a 10^7-node plan.
    * Self-referential FKs (child == parent) are handled inside
    * [[deleteMatching]]'s single rewrite, not here. */
  private def applyFkDeleteActions(parent: String, deletedKeys: DataFrame): Unit = {
    val affected = fks.toSeq.flatMap { case (child, childFks) =>
      childFks.filter(fk => fk.parent == parent && child != parent)
        .map(fk => (child, fk))
    }
    def keysFor(fk: Fk) = deletedKeys.select(col(fk.parentCol).as(fk.column))
      .filter(col(fk.column).isNotNull).distinct()
    // All RESTRICT checks run FIRST (read-only counts): a statement that is
    // going to fail must fail before any CASCADE/SET NULL child overwrite
    // commits — otherwise the outcome of a doomed delete would depend on
    // hash-map iteration order, with cascaded children already gone.
    affected.foreach { case (child, fk) =>
      if (fk.onDelete == Restrict) {
        val n = table(child).join(keysFor(fk), Seq(fk.column), "left_semi").count()
        if (n > 0) throw new IllegalStateException(
          s"FK RESTRICT: $n row(s) in $child still reference $parent")
      }
    }
    affected.foreach { case (child, fk) =>
      fk.onDelete match {
        case Restrict => // already checked above
        case Cascade =>
          deleteMatching(child,
            cur => cur.join(keysFor(fk), Seq(fk.column), "left_semi"),
            cur => cur.join(keysFor(fk), Seq(fk.column), "left_anti"))
        case SetNull =>
          val cur = table(child)
          overwrite(child, nullOutReferences(cur, fk.column, keysFor(fk)),
            spark.emptyDataFrame)
      }
    }
  }

  /** Surviving rows whose `column` hits `keys` get it nulled; column order
    * is preserved (the equi-join moves the key column first). */
  private def nullOutReferences(cur: DataFrame, column: String,
                                keys: DataFrame): DataFrame = {
    val dt = cur.schema(column).dataType
    cur.join(keys.withColumn("__graft_fk_hit", lit(1)), Seq(column), "left")
      .select(cur.columns.map { c =>
        if (c == column)
          when(col("__graft_fk_hit").isNotNull, lit(null).cast(dt))
            .otherwise(col(c)).as(c)
        else col(c)
      }.toSeq: _*)
  }

  // ---------------------------------------------------------------- DML

  /** INSERT: appends a batch. Dynamic tables merge schemas
    * (NEW / SAME-TYPE / TYPE-EVOLUTION); fixed tables validate + cast. */
  /** Batch-count ceiling before an insert auto-triggers [[compactSmall]].
    * Every `batch_*` dir is one union arm in [[table]]'s plan and one
    * entry in every pruned-DML tag scan, so unbounded growth degrades
    * PLANNING linearly even when the data is tiny — a pathological insert
    * loop must not be able to build a 10^4-arm plan. ≤ 0 disables. */
  var autoCompactThreshold: Int = 32

  def insert(name: String, df: DataFrame): Unit = writeLock(name).synchronized {
    val st = state(name)
    if (st.dynamic) {
      st.schema = DynamicSchema.merge(st.schema, df.schema)
    } else {
      val unknown = df.schema.fieldNames.filterNot(st.schema.fieldNames.contains)
      require(unknown.isEmpty, s"unknown columns ${unknown.mkString(",")}")
    }
    validateInsert(name, df)
    val batch = dataDir(name).resolve(f"batch_${bumpGeneration(name)}%08d")
    df.write.mode(SaveMode.ErrorIfExists).parquet(batch.toString)
    persistMeta(name)
    // compaction POLICY (round-5 gap: the mechanism existed, nothing
    // called it): fold the small-batch tail once the count crosses the
    // threshold. O(small tail), not O(table) — large batches stay put.
    if (autoCompactThreshold > 0 &&
        listBatches(name).size > autoCompactThreshold)
      compactSmall(name)
  }

  /** Idempotent insert for streaming sinks: lands `df` only if
    * (`queryId`, `epochId`) has not been applied to `name` before,
    * recording applied epochs in a per-table commit log. foreachBatch
    * re-delivers a micro-batch after a failure with the SAME epoch id —
    * with plain insert that lands rows twice; with this, replays are
    * no-ops and the table is exactly-once from the sink's perspective.
    *
    * Epoch ids are PER-QUERY (every streaming query numbers its batches
    * from 0), so the log key includes the query id — two streaming
    * queries landing in the same table must not drop each other's
    * batches. Pass the stream's `query.id` as `queryId`; the default ""
    * keeps a single-writer table working unchanged.
    *
    * Concurrency: the log is APPEND-ONLY — one `queryId:epochId` line per
    * committed epoch (the [[recordFold]] pattern), so concurrent commits
    * are commutative: neither writer can un-record the other's epoch, the
    * failure mode of the earlier read-modify-rewrite log. The
    * check + insert + append sequence additionally holds the per-table
    * [[writeLock]] so a replay racing its own first delivery can't
    * double-apply. Locks are per table — streams landing in DIFFERENT
    * tables never serialize against each other.
    *
    * Remaining crash window (documented, pinned by StreamingSpec): a
    * crash BETWEEN insert() and the log append re-applies that one epoch
    * on replay — closing it fully would need the data batch and the log
    * entry to land in one atomic directory move, coupling the sink to the
    * batch layout; the window is one micro-batch wide, never unbounded.
    * The log is one line per epoch, O(epochs) metadata, never data.
    *
    * Migration: logs written before the keyed format hold bare epoch
    * longs from a single anonymous writer. A bare line grandfathers that
    * epoch for EVERY queryId — so a pre-upgrade stream that starts
    * passing its real `query.id` still treats its old epochs as
    * committed. One-time only: the keyed format always writes a ':', so
    * new tables never produce bare lines.
    * Returns true when the batch was applied. */
  def insertIfNew(name: String, epochId: Long, df: DataFrame,
                  queryId: String = ""): Boolean = {
    require(!queryId.contains("\n") && !queryId.contains(":"),
      "queryId must be single-line and ':'-free")
    val log = tableDir(name).resolve("_stream_commits")
    writeLock(name).synchronized {
      val lines = if (Files.exists(log))
        Files.readString(log).split("\n").filter(_.nonEmpty).toSet
      else Set.empty[String]
      val key = s"$queryId:$epochId"
      // keyed hit, or legacy bare-line grandfather (pre-keyed-format logs
      // only; an anonymous writer's ':N' key stays scoped to queryId="")
      if (lines(key) || lines(epochId.toString)) return false
      insert(name, df)
      Files.createDirectories(tableDir(name))
      Files.writeString(log, key + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      true
    }
  }

  /** UPDATE ... SET ... WHERE ... [RETURNING]: read → transform → staged
    * overwrite (write to _staging, swap directories — the trivial "commit"
    * from SURVEY §7; no txn machinery). Returns the updated rows.
    *
    * SQL semantics: WHERE and every SET expression are evaluated against
    * the PRE-update row (simultaneous assignment — `SET a = b, b = a`
    * swaps), and RETURNING is the post-update image of the matched rows. */
  def update(name: String, set: Map[String, Column], where: Column): DataFrame = {
    val current = table(name)
    val resolved = resolveSetKeys(current.columns.toSeq, set)
    // name-resolved transform so it can apply to the whole table OR to the
    // union of just the matched batches (predicate-pruned path)
    def transform(df: DataFrame): DataFrame = df.select(current.columns.map { c =>
      resolved.get(c).map(v => when(where, v).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }.toSeq: _*)
    val returning = current.filter(where).select(current.columns.map { c =>
      resolved.get(c).map(_.as(c)).getOrElse(col(c))
    }.toSeq: _*)
    validateUpdate(name, returning, resolved.keySet)
    prunedRewrite(name, _.filter(where), transform, returning)
      .getOrElse(overwrite(name, transform(current), returning))
  }

  /** Case-insensitive SET-key resolution; unknown columns are an error,
    * never a silent no-op. */
  private def resolveSetKeys(cols: Seq[String],
                             set: Map[String, Column]): Map[String, Column] = {
    val resolved = set.toSeq.map { case (k, v) =>
      cols.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"UPDATE: unknown column $k (have ${cols.mkString(",")})")) -> v
    }
    val collided = resolved.groupBy(_._1).filter(_._2.size > 1).keys
    require(collided.isEmpty,
      s"UPDATE: multiple SET clauses target column(s) ${collided.mkString(",")}")
    resolved.toMap
  }

  /** UPDATE ... FROM (join-update; reference operator_update supports
    * UPDATE…FROM + RETURNING): rows of `name` matching `joinCond` against
    * `other` get `set` applied (expressions may reference other's columns);
    * unmatched rows pass through. Returns the updated rows. */
  def updateFrom(name: String, other: DataFrame, joinCond: Column,
                 set: Map[String, Column]): DataFrame = {
    val wide = updateFromWide(name, other, joinCond, set)
    wide.select(table(name).columns.map(col).toSeq: _*)
  }

  /** [[updateFrom]] whose RETURNING frame also carries the source frame's
    * non-colliding columns — PG lets `RETURNING` reference the FROM
    * source (items.*, src.delta, …); the SQL router needs those columns
    * available. Colliding names keep the (post-update) target value. */
  private[api] def updateFromWide(name: String, other: DataFrame,
      joinCond: Column, set: Map[String, Column]): DataFrame = {
    // aliased with the table name so SQL-surface join conditions can
    // qualify target columns (`UPDATE items ... FROM src WHERE items.id=…`)
    val base = table(name).as(name)
    val resolved = resolveSetKeys(base.columns.toSeq, set)
    // __graft_-prefixed helper columns are reserved (collision-checked)
    require(!base.columns.exists(_.startsWith("__graft_")),
      "column names starting with __graft_ are reserved")
    val current = base.withColumn("__graft_rid", monotonically_increasing_id())
    // the match flag comes from a tag column on the source side — NOT from
    // re-evaluating joinCond post-join, which misfires for null-safe
    // conditions (NULL <=> NULL turning unmatched rows into matches).
    // No broadcast() hint on the source: `UPDATE … FROM big_staging` must
    // not force-broadcast an unbounded frame; AQE broadcasts small ones.
    val tagged = other.withColumn("__graft_hit", lit(1))
    val matched = current.join(tagged, joinCond, "left")
    val srcExtra = other.columns
      .filterNot(c => base.columns.contains(c) || c.startsWith("__graft_"))
    // simultaneous assignment from the pre-update row (matches update()).
    // Plumbing references are dataframe-qualified (current(c)/tagged(c)) —
    // an unqualified col(c) would be ambiguous when the source carries a
    // column with the same name as the target (legal in PG; only the
    // user's own unqualified SET/WHERE refs must error then, not ours)
    val hit = tagged("__graft_hit").isNotNull
    val updatedAll = matched.select((base.columns.map { c =>
      resolved.get(c).map(v => when(hit, v).otherwise(current(c)).as(c))
        .getOrElse(current(c).as(c))
    } ++ srcExtra.map(c => tagged(c))
      :+ hit.as("__graft_matched")
      :+ current("__graft_rid").as("__graft_rid")).toSeq: _*)
    val updated = updatedAll.select(base.columns.map(col).toSeq: _*)
    // a target row matching >1 source row would be duplicated by the join
    // and silently persisted twice — refuse, like PG's one-source-row
    // rule. The guard is FUSED into the RETURNING frame instead of being
    // a separate count job that re-runs the whole join: every
    // multi-matching row is by construction a matched row, and RETURNING
    // is always staged BEFORE any directory swap (both the pruned and the
    // full-overwrite path), so a window join-copy count over the row id
    // plus a raising filter fails that first write action and leaves the
    // table untouched.
    val nMatch = count(lit(1)).over(Window.partitionBy(col("__graft_rid")))
    val returning = updatedAll.filter(col("__graft_matched"))
      .withColumn("__graft_nmatch", nMatch)
      .filter(when(col("__graft_nmatch") > 1,
        raise_error(lit(GraftSession.MultiMatchMsg)).cast("boolean"))
        .otherwise(lit(true)))
      .select((base.columns ++ srcExtra).map(col).toSeq: _*)
    try {
      validateUpdate(name,
        returning.select(base.columns.map(col).toSeq: _*), resolved.keySet)
      // predicate-pruned path: only batches with join matches rewrite (the
      // wide transform re-derives on the matched-batch union; unmatched
      // rows of those batches pass through via the left join). The
      // RETURNING frame stays the whole-table spelling — identical rows,
      // since only matched rows survive its filter.
      val baseCols = base.columns.toSeq
      prunedRewrite(name,
        cur => cur.as(name).join(tagged, joinCond, "left_semi"),
        frame => {
          val f = frame.as(name)
          val m = f.join(tagged, joinCond, "left")
          m.select(baseCols.map { c =>
            resolved.get(c).map(v => when(hit, v).otherwise(f(c)).as(c))
              .getOrElse(f(c).as(c))
          }.toSeq: _*)
        },
        returning)
        .getOrElse(overwrite(name, updated, returning))
    } catch {
      // surface the fused guard's executor-side raise as the API-level
      // IllegalArgumentException contract (the raise arrives wrapped in
      // SparkException layers from the failed write job)
      case e: Throwable if GraftSession.causeChain(e)
          .exists(t => Option(t.getMessage)
            .exists(_.contains(GraftSession.MultiMatchMsg))) =>
        throw new IllegalArgumentException(GraftSession.MultiMatchMsg, e)
    }
  }

  /** MERGE INTO (SQL:2003; PG 15 brings it to the dialect the reference
    * speaks — the reference itself stops at UPDATE…FROM, so this exceeds
    * its surface). WHEN arms evaluate in statement order as a chained
    * CASE: the first applicable arm wins per row, matching PG.
    *
    * Scale shape: the UPDATE/DELETE side rewrites only batches with join
    * matches (pruned-DML path); the INSERT arm lands as one appended
    * batch derived from the STAGED returning frame (never re-read from
    * the already-swapped table); the one-source-row rule ("MERGE command
    * cannot affect row a second time") is the same fused window-count
    * guard as UPDATE…FROM — no separate guard join. When the matched arms
    * always affect every matched row (common upsert: an unconditional
    * UPDATE arm last), the rewrite is a narrow select over the join with
    * NO added shuffle; only conditional/NOTHING arms need a per-rid
    * window to collapse multi-match pass-through copies.
    *
    * Returns the affected rows (target columns + `merge_action` ∈
    * UPDATE/DELETE/INSERT — the PG 17 `merge_action()` surface). */
  def merge(name: String, source: DataFrame, on: Column,
            whens: Seq[GraftSession.MergeWhen],
            targetAlias: Option[String] = None): DataFrame = {
    import GraftSession._
    require(whens.nonEmpty, "MERGE needs at least one WHEN clause")
    val alias = targetAlias.getOrElse(name)
    val base = table(name).as(alias)
    val baseCols = base.columns.toSeq
    require(!baseCols.exists(_.startsWith("__graft_")),
      "column names starting with __graft_ are reserved")
    val matchedWhens = whens.filter(_.matched)
    val insertWhens = whens.filterNot(_.matched)
    matchedWhens.foreach(w => require(!w.action.isInstanceOf[MergeInsert],
      "WHEN MATCHED cannot INSERT"))
    insertWhens.foreach(w => require(
      w.action.isInstanceOf[MergeInsert] || w.action == MergeNothing,
      "WHEN NOT MATCHED supports INSERT or DO NOTHING"))
    // resolve every UPDATE arm's SET map once (case-insensitive keys,
    // collision-checked) + the touched-column set for re-validation
    val resolvedArms: Seq[(MergeWhen, Map[String, Column])] =
      matchedWhens.map { w =>
        w -> (w.action match {
          case MergeUpdate(s) => resolveSetKeys(baseCols, s)
          case _ => Map.empty[String, Column]
        })
      }
    val updateKeys = resolvedArms.flatMap(_._2.keySet).toSet
    val tagged = source.withColumn("__graft_hit", lit(1))
    val hit = tagged("__graft_hit").isNotNull
    def armCond(w: MergeWhen): Column = hit && w.pred.getOrElse(lit(true))
    def actionName(a: MergeAction): String = a match {
      case MergeUpdate(_) => "UPDATE"
      case MergeDelete => "DELETE"
      case _ => "NOTHING"
    }
    // chained CASE, first arm wins — evaluation order IS statement order
    def chain(arms: Seq[(Column, Column)], default: Column): Column =
      arms.foldRight(default) { case ((c, v), acc) => when(c, v).otherwise(acc) }
    def actionOf: Column = chain(resolvedArms.map { case (w, _) =>
      armCond(w) -> lit(actionName(w.action)) }, lit(null).cast("string"))
    // post-merge image of one target frame (whole table or a pruned batch
    // union): per-column chained CASE over the arms; f-qualified refs so
    // the same builder serves both rewrite paths
    def imageCols(f: DataFrame): Seq[Column] = baseCols.map { c =>
      chain(resolvedArms.map { case (w, set) =>
        armCond(w) -> set.getOrElse(c, f(c)) }, f(c)).as(c)
    }
    // an arm-chain where every matched row necessarily fires an affecting
    // arm needs no dedup: a multi-matched row always trips the guard
    // first, so survivors carry one copy per rid by construction
    val needsDedup = !(matchedWhens.nonEmpty &&
      matchedWhens.last.pred.isEmpty &&
      matchedWhens.forall(_.action != MergeNothing))
    def survivorsOf(f0: DataFrame): DataFrame = {
      val f = f0.as(alias).withColumn("__graft_rid",
        monotonically_increasing_id())
      val j = f.join(tagged, on, "left")
      val rows = j.select((imageCols(f)
        :+ actionOf.as("__graft_action")
        :+ f("__graft_rid").as("__graft_rid")).toSeq: _*)
      val deduped = if (!needsDedup) rows else {
        // collapse multi-match join copies of rows NO affecting arm took
        // (pass-through / DO NOTHING): prefer the affected copy, keep one
        val w = Window.partitionBy(col("__graft_rid"))
          .orderBy(when(col("__graft_action").isNotNull &&
            col("__graft_action") =!= "NOTHING", 0).otherwise(1))
        rows.withColumn("__graft_rn", row_number().over(w))
          .filter(col("__graft_rn") === 1)
      }
      deduped
        .filter(col("__graft_action").isNull ||
          col("__graft_action") =!= "DELETE")
        .select(baseCols.map(col).toSeq: _*)
    }
    // --- affected-row (returning) frame, full-table spelling, with the
    // fused one-source-row guard; staged before any swap ---
    val current = base.withColumn("__graft_rid", monotonically_increasing_id())
    val jFull = current.join(tagged, on, "left")
    val allRows = jFull.select((imageCols(current)
      :+ actionOf.as("__graft_action")
      :+ current("__graft_rid").as("__graft_rid")).toSeq: _*)
    val nAffected = count(lit(1)).over(Window.partitionBy(col("__graft_rid")))
    val affectedTarget = allRows
      .filter(col("__graft_action").isNotNull &&
        col("__graft_action") =!= "NOTHING")
      .withColumn("__graft_nmatch", nAffected)
      .filter(when(col("__graft_nmatch") > 1,
        raise_error(lit(GraftSession.MergeMultiMsg)).cast("boolean"))
        .otherwise(lit(true)))
      .select((baseCols.map(col)
        :+ col("__graft_action").as("merge_action")).toSeq: _*)
    // --- INSERT arm: source rows with no target match, first applicable
    // NOT MATCHED arm wins; values cast to the target column types ---
    val insArm: Option[DataFrame] =
      if (insertWhens.isEmpty) None
      else {
        val insRows = tagged.join(base, on, "left_anti")
        val selector = insertWhens.zipWithIndex.foldRight(lit(0)) {
          case ((w, i), acc) =>
            val tag = if (w.action == MergeNothing) -1 else i + 1
            when(w.pred.getOrElse(lit(true)), lit(tag)).otherwise(acc)
        }
        def valueFor(a: MergeAction, c: String, dt: DataType): Column =
          a match {
            case MergeInsert(cols, values) =>
              val idx =
                if (cols.nonEmpty) cols.indexWhere(_.equalsIgnoreCase(c))
                else baseCols.indexOf(c)
              if (idx >= 0 && idx < values.length) values(idx).cast(dt)
              else lit(null).cast(dt)
            case _ => lit(null).cast(dt)
          }
        insertWhens.foreach {
          case MergeWhen(_, _, MergeInsert(cols, values)) =>
            val width = if (cols.nonEmpty) cols.length else baseCols.length
            require(values.length == width,
              s"MERGE INSERT arm: ${values.length} value(s) for $width " +
                "column(s)")
            val unknown = cols.filterNot(c =>
              baseCols.exists(_.equalsIgnoreCase(c)))
            require(unknown.isEmpty,
              s"MERGE INSERT arm: unknown column(s) ${unknown.mkString(",")}")
          case _ =>
        }
        Some(insRows.withColumn("__graft_ins", selector)
          .filter(col("__graft_ins") > 0)
          .select(base.schema.fields.map { fld =>
            chain(insertWhens.zipWithIndex.map { case (w, i) =>
              (col("__graft_ins") === i + 1,
                valueFor(w.action, fld.name, fld.dataType))
            }, lit(null).cast(fld.dataType)).as(fld.name)
          }.toSeq: _*))
      }
    val returning = insArm match {
      case Some(ins) => affectedTarget.unionByName(
        ins.withColumn("merge_action", lit("INSERT")))
      case None => affectedTarget
    }
    try {
      // pre-swap validation: CHECK/FK on the update image and the insert
      // arm BEFORE anything commits, FK delete actions (RESTRICT first)
      // for rows a DELETE arm removes
      validateUpdate(name, affectedTarget
        .filter(col("merge_action") === "UPDATE")
        .select(baseCols.map(col).toSeq: _*), updateKeys)
      insArm.foreach(validateInsert(name, _))
      if (matchedWhens.exists(_.action == MergeDelete))
        applyFkDeleteActions(name, allRows
          .filter(col("__graft_action") === "DELETE")
          .select(baseCols.map(col).toSeq: _*))
      val staged = prunedRewrite(name,
        cur => cur.as(alias).join(tagged, on, "left_semi"),
        survivorsOf, returning)
        .getOrElse(overwrite(name, survivorsOf(table(name)), returning))
      // INSERT arm appends from the STAGED frame — the pre-swap lazy plan
      // would re-read the now-rewritten table
      if (insArm.isDefined) {
        val ins = staged.filter(col("merge_action") === "INSERT")
          .select(baseCols.map(col).toSeq: _*)
        insert(name, ins)
      }
      staged
    } catch {
      case e: Throwable if GraftSession.causeChain(e)
          .exists(t => Option(t.getMessage)
            .exists(_.contains(GraftSession.MergeMultiMsg))) =>
        throw new IllegalArgumentException(GraftSession.MergeMultiMsg, e)
    }
  }

  // ------------------------------------------------ compaction fold log
  // Append-only record of PURE batch folds (compaction only — DML
  // rewrites change rows and must NOT be recorded): one line per fold,
  // `new|old1,old2,...`, empty `new` when the folded batches held no
  // rows and produced no dir. Incremental matview refresh resolves seen
  // batches through this log, so routine compaction no longer downgrades
  // an O(delta) refresh to a full rebuild. O(compactions) metadata.

  private def foldLogFile(name: String): Path =
    tableDir(name).resolve("_fold_log")

  private def recordFold(name: String, newBatch: String,
                         olds: Seq[String]): Unit =
    if (olds.nonEmpty)
      Files.writeString(foldLogFile(name),
        s"$newBatch|${olds.mkString(",")}\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)

  /** (newBatch, foldedBatches) pairs, oldest first. */
  private def readFoldLog(name: String): Seq[(String, Seq[String])] = {
    val f = foldLogFile(name)
    if (!Files.exists(f)) Nil
    else Files.readString(f).split("\n").filter(_.nonEmpty).toSeq.map { l =>
      val Array(n, olds) = l.split("\\|", 2)
      (n, olds.split(",").filter(_.nonEmpty).toSeq)
    }
  }

  /** Names of incremental matviews whose base is `base` (persisted specs
    * included — a restart must not forget a dependent). */
  private def incViewsOver(base: String): Seq[String] = {
    val d = rootPath.resolve("_views")
    if (!Files.exists(d)) Nil
    else Files.list(d).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".inc"))
      .map(_.stripSuffix(".inc")).toSeq.sorted
      .filter(n => loadIncSpec(n).exists(_._1 == base))
  }

  /** Compacts all ingest batches into one (the reference's vacuum/
    * checkpoint analogue): O(table) rewrite, schema becomes the current
    * union, tombstoned columns are physically dropped. */
  def compact(name: String): Unit = {
    // fold pending deltas into dependent incremental matviews FIRST:
    // after the rewrite the delta batches are gone, and a fold mixing
    // seen and unseen rows is unrecoverable (forces a full rebuild)
    incViewsOver(name).foreach(refreshIncrementalMatView)
    val olds = listBatches(name).map(_.getFileName.toString)
    // rewrites cluster on the indexed columns (see createIndex) — this
    // is where an index becomes physically real
    val snapshot = clusterByIndex(name, table(name))
    overwrite(name, snapshot, spark.emptyDataFrame.limit(0))
    listBatches(name).map(_.getFileName.toString) match {
      case Seq(nb) => recordFold(name, nb, olds)
      case Seq() => recordFold(name, "", olds)
      case _ => () // unexpected layout — refresh falls back to rebuild
    }
    // vacuum the staged RETURNING dirs of past DML statements (their lazy
    // result frames are dead after a compact — documented divergence)
    Files.list(tableDir(name)).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("_returning_"))
      .foreach(deleteRecursively)
  }

  /** Size-tiered compaction: folds only the batches smaller than
    * `smallBytes` into one new batch and leaves already-large batches in
    * place. [[compact]] is O(table) — correct but unaffordable as routine
    * maintenance at 100 TB, where ingest and (pruned) DML leave a long
    * tail of small batch dirs; this is O(small tail) and keeps the
    * batch count bounded between full compactions.
    *
    * Same documented divergence as [[compact]], scoped to the FOLDED
    * batches only: folding writes the normalized visible schema, so
    * tombstoned-column data and pre-rename physical names of the folded
    * batches are physically dropped (a later re-add of a dropped column
    * resurfaces values only from batches never folded). */
  def compactSmall(name: String, smallBytes: Long = 128L << 20): Unit = {
    def dirSize(p: Path): Long = Files.walk(p).iterator.asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    val small = normalizedBatches(name)
      .filter { case (p, _) => dirSize(p) < smallBytes }
    if (small.size <= 1) return // nothing worth folding
    // same ordering rule as compact(): dependent incremental matviews
    // fold their pending deltas before the delta batches disappear
    incViewsOver(name).foreach(refreshIncrementalMatView)
    val union = clusterByIndex(name, small.map(_._2).reduce(_ union _))
    val staging = tableDir(name).resolve("_staging")
    deleteRecursively(staging)
    union.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    small.foreach { case (p, _) => deleteRecursively(p) }
    val hasParts = Files.list(staging).iterator.asScala
      .exists(_.getFileName.toString.startsWith("part-"))
    val foldedNames = small.map(_._1.getFileName.toString)
    if (hasParts) {
      val dest = dataDir(name).resolve(f"batch_${bumpGeneration(name)}%08d")
      Files.move(staging, dest, StandardCopyOption.ATOMIC_MOVE)
      recordFold(name, dest.getFileName.toString, foldedNames)
    } else {
      deleteRecursively(staging)
      bumpGeneration(name)
      recordFold(name, "", foldedNames)
    }
    persistMeta(name)
  }

  private def copyWrite(df: DataFrame, path: String,
                        fmt: Option[String]): Unit =
    fmt.map(_.toLowerCase).getOrElse("parquet") match {
      case "parquet" => df.write.mode("overwrite").parquet(path)
      case "csv" => graft.sources.Ingest.writeCsv(df, path)
      case "json" => graft.sources.Ingest.writeJson(df, path)
      case "orc" => graft.sources.Ingest.writeOrc(df, path)
      case other => throw new IllegalArgumentException(
        s"COPY: unsupported FORMAT $other (parquet|csv|json|orc)")
    }

  /** Row count of a written parquet dir from footer metadata alone —
    * COPY TO reports rows without a second full pass over what it just
    * wrote (at a 100 TB export the re-read doubles the I/O). O(#files)
    * footer reads on the driver, no data pages touched. Non-parquet
    * formats have no trustworthy in-file count and keep the re-read. */
  private def parquetFooterRowCount(path: String): Long = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      else Seq(fs.getFileStatus(p))
    files.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  private def copyRead(path: String, fmt: Option[String],
                       schema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame =
    fmt.map(_.toLowerCase).getOrElse("parquet") match {
      case "parquet" => spark.read.parquet(path)
      case "csv" => graft.sources.Ingest.readCsv(spark, path, schema)
      case "json" => graft.sources.Ingest.readJson(spark, path, schema)
      case "orc" => spark.read.orc(path)
      case other => throw new IllegalArgumentException(
        s"COPY: unsupported FORMAT $other (parquet|csv|json|orc)")
    }

  /** TRUNCATE: schema and constraints survive, every batch dir goes — PG
    * TRUNCATE semantics minus MVCC; O(batches) directory removal, no data
    * scan. Like PG, refuses when another table references `name` by FK
    * (regardless of the FK's delete action or whether referencing rows
    * exist — DELETE is the path that fires FK actions; a directory-drop
    * that skipped them would leave dangling child references).
    * Self-referential FKs don't block: all rows vanish together. */
  def truncateTable(name: String): Unit = {
    state(name) // unknown table errors before anything is deleted
    val referencing = fks.toSeq.collect {
      case (child, childFks)
          if child != name && childFks.exists(_.parent == name) => child
    }.sorted
    if (referencing.nonEmpty) throw new IllegalStateException(
      s"cannot TRUNCATE $name: referenced by foreign key(s) from " +
        s"${referencing.mkString(", ")} — use DELETE (fires FK actions) " +
        "or drop the referencing constraint first")
    listBatches(name).foreach(deleteRecursively)
    bumpGeneration(name)
    persistMeta(name)
  }

  /** DELETE ... WHERE ... [RETURNING the deleted rows]; fires FK delete
    * actions (RESTRICT / CASCADE / SET NULL) on referencing tables. */
  def delete(name: String, where: Column): DataFrame =
    deleteMatching(name,
      cur => cur.filter(where),
      cur => cur.filter(!where || where.isNull))

  /** DELETE ... USING other WHERE cond (reference operator_delete's join
    * form): deletes rows of `name` for which some row of `other` satisfies
    * `cond`. Returns the deleted rows. */
  def deleteUsing(name: String, other: DataFrame, cond: Column): DataFrame =
    deleteMatching(name,
      cur => cur.as(name).join(other, cond, "left_semi"),
      cur => cur.as(name).join(other, cond, "left_anti"))

  // tables currently inside a delete — a CASCADE cycle re-entering one of
  // them would swap its directory out from under the outer lazy frames;
  // refuse with a clear error instead (direct self-FKs ARE supported below)
  private val deleting = scala.collection.mutable.Set[String]()

  /** Shared DELETE core: `doomedOf` / `keptOf` partition the current rows.
    * Fires FK delete actions on other tables; SELF-referential FKs are
    * folded into this one rewrite — transitive CASCADE closure, SET NULL
    * null-out, then an end-of-statement RESTRICT check — because per-level
    * recursive delete() calls would swap the table directory out from under
    * the outer statement's lazy frames (round-2 verdict bug). */
  private def deleteMatching(name: String,
      doomedOf: DataFrame => DataFrame,
      keptOf: DataFrame => DataFrame): DataFrame = {
    require(!deleting.contains(name),
      s"FK CASCADE cycle re-enters $name mid-delete; cyclic FKs across " +
        "tables are unsupported (self-referential FKs on one table are)")
    deleting += name
    try {
      val selfFks = fks(name).filter(_.parent == name)
      val current = table(name)
      if (selfFks.isEmpty) {
        // re-project to the original column order: doomedOf/keptOf may be
        // USING-joins (CASCADE children) which move the join column first,
        // and overwrite() persists newData.schema — without this a cascade
        // would permanently reorder the child table's columns
        val order = current.columns.map(col).toSeq
        val doomed = doomedOf(current).select(order: _*)
        applyFkDeleteActions(name, doomed)
        return prunedRewrite(name, doomedOf,
            df => keptOf(df).select(order: _*), doomed)
          .getOrElse(overwrite(name, keptOf(current).select(order: _*), doomed))
      }
      // Self-FK path: pin row identity (rid) so the closure's set algebra is
      // exact even under duplicate rows; localCheckpoint materializes the
      // nondeterministic rid once. Tables WITH a self-FK pay this
      // materialization — the closure is inherently iterative over the table.
      require(!current.columns.exists(_.startsWith("__graft_")),
        "column names starting with __graft_ are reserved")
      val cur = current.withColumn("__graft_rid", monotonically_increasing_id())
        .localCheckpoint()
      var doomed = doomedOf(cur).localCheckpoint()
      val cascades = selfFks.filter(_.onDelete == Cascade)
      if (cascades.nonEmpty) {
        // frontier-driven transitive closure (same shape as RecursiveCte):
        // each wave semi-joins the table against the newly-doomed keys only
        var frontier = doomed
        var growing = frontier.count() > 0
        while (growing) {
          // each USING semi-join moves its own join column first, so with
          // two self-FKs on different same-typed columns a positional union
          // would put one column's values under the other's name — project
          // every branch back to cur's order before combining
          val hit = cascades.map { fk =>
            cur.join(frontier.select(col(fk.parentCol).as(fk.column))
                .filter(col(fk.column).isNotNull).distinct(),
              Seq(fk.column), "left_semi")
              .select(cur.columns.map(col).toSeq: _*)
          }.reduce(_ union _)
          val fresh = hit
            .join(doomed.select("__graft_rid"), Seq("__graft_rid"), "left_anti")
            .dropDuplicates("__graft_rid").localCheckpoint()
          growing = fresh.count() > 0
          if (growing) {
            // by name: the semi/anti joins above reorder columns (USING
            // columns come first), so a positional union would scramble rows
            doomed = doomed.unionByName(fresh).localCheckpoint()
            frontier = fresh
          }
        }
      }
      val outCols = current.columns.toSeq
      val doomedOut = doomed.select(outCols.map(col): _*)
      var kept = cur
        .join(doomed.select("__graft_rid"), Seq("__graft_rid"), "left_anti")
      selfFks.filter(_.onDelete == SetNull).foreach { fk =>
        val keys = doomed.select(col(fk.parentCol).as(fk.column))
          .filter(col(fk.column).isNotNull).distinct()
        kept = nullOutReferences(kept, fk.column, keys)
      }
      // RESTRICT as an end-of-statement check (NO ACTION semantics): rows
      // surviving the statement must not reference a key it deleted.
      // Runs BEFORE other-table FK actions so a failing statement aborts
      // without having committed any child-table overwrite.
      selfFks.filter(_.onDelete == Restrict).foreach { fk =>
        val keys = doomed.select(col(fk.parentCol).as(fk.column))
          .filter(col(fk.column).isNotNull).distinct()
        val n = kept.join(keys, Seq(fk.column), "left_semi").count()
        if (n > 0) throw new IllegalStateException(
          s"FK RESTRICT: $n row(s) in $name still reference deleted keys")
      }
      // other-table FK actions see the full (closed) doomed set
      applyFkDeleteActions(name, doomedOut)
      overwrite(name, kept.select(outCols.map(col): _*), doomedOut)
    } finally deleting -= name
  }

  /** Predicate-pruned DML rewrite. [[overwrite]] rewrites the ENTIRE
    * surviving table on every UPDATE/DELETE — O(table) even when the WHERE
    * touches one batch of a 10^4-batch table. The batch-directory layout
    * already gives file-level granularity, so instead:
    *
    *   1. ONE job over the batch union, each batch tagged with its
    *      directory name, finds the set of batches containing matched
    *      rows (the predicate/join pushes into each batch's parquet scan,
    *      so unmatched row groups are footer-skipped, and only the tag +
    *      predicate columns are read);
    *   2. only those batches are rewritten (merged into one new
    *      generation-stamped batch); every untouched `batch_*` dir stays
    *      in place byte-identical.
    *
    * A selective UPDATE at 100 TB becomes O(matched batches) instead of
    * O(table) — the reference's row-versioned update is the analogous
    * optimization (/root/reference components/table/row_version_manager.cpp).
    * The tag collect is bounded by the number of batch DIRECTORIES (not
    * rows). Returns None when pruning can't apply — a single batch, every
    * batch matched, or a transform that changes the schema — and the
    * caller falls back to the full [[overwrite]].
    *
    * `matchedOf` must preserve the columns of its input (filter/semi-join
    * shaped); `survivorsOf` maps the union of the MATCHED batches to the
    * rows that replace them, in the table's visible schema. */
  private def prunedRewrite(name: String,
      matchedOf: DataFrame => DataFrame,
      survivorsOf: DataFrame => DataFrame,
      returning: DataFrame): Option[DataFrame] = {
    val batches = normalizedBatches(name)
    if (batches.size <= 1) return None
    // a user column in the reserved prefix only blocks the TAG column
    // this path adds — fall back to the full rewrite, don't fail
    if (state(name).schema.fieldNames.exists(_.startsWith("__graft_")))
      return None
    val tagged = batches.map { case (p, df) =>
      df.withColumn("__graft_batch", lit(p.getFileName.toString))
    }.reduce(_ union _)
    // schema-stability check FIRST (pure analysis, no job): a
    // type-evolving SET must take the full-rewrite path regardless of
    // which batches match, both to widen every batch and to avoid
    // staging the RETURNING result twice
    val visible = table(name).schema
    val wholeSample = survivorsOf(batches.map(_._2).reduce(_ union _))
    if (wholeSample.schema.fields.map(f => (f.name, f.dataType)).toSeq !=
        visible.fields.map(f => (f.name, f.dataType)).toSeq)
      return None
    val hitTags = matchedOf(tagged).select("__graft_batch").distinct()
      .collect().map(_.getString(0)).toSet
    if (hitTags.size == batches.size) return None // nothing pruned
    // stage RETURNING before any swap invalidates its input files (same
    // contract as overwrite: distributed write, lazy scan handed back)
    val retSchema = returning.schema
    val retDir = tableDir(name).resolve(f"_returning_${peekGeneration(name)}%08d")
    if (retSchema.nonEmpty) {
      deleteRecursively(retDir)
      returning.write.mode(SaveMode.Overwrite).parquet(retDir.toString)
    }
    def returned: DataFrame =
      if (retSchema.nonEmpty) spark.read.schema(retSchema).parquet(retDir.toString)
      else spark.emptyDataFrame
    if (hitTags.isEmpty) { // no-op statement: no batch touched at all
      bumpGeneration(name) // keep _returning_* names unique per statement
      return Some(returned)
    }
    val matched = batches.filter { case (p, _) => hitTags(p.getFileName.toString) }
    val survivors = survivorsOf(matched.map(_._2).reduce(_ union _))
    val staging = tableDir(name).resolve("_staging")
    deleteRecursively(staging)
    survivors.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    // an all-rows-deleted batch set may write no part files; installing an
    // empty dir would break later schema inference — just drop the batches
    val hasParts = Files.list(staging).iterator.asScala
      .exists(_.getFileName.toString.startsWith("part-"))
    matched.foreach { case (p, _) => deleteRecursively(p) }
    if (hasParts)
      Files.move(staging, dataDir(name).resolve(f"batch_${bumpGeneration(name)}%08d"),
        StandardCopyOption.ATOMIC_MOVE)
    else {
      deleteRecursively(staging)
      bumpGeneration(name)
    }
    persistMeta(name)
    Some(returned)
  }

  private def overwrite(name: String, newData: DataFrame, returning: DataFrame): DataFrame = {
    // RETURNING materializes DISTRIBUTED — executors write it to a
    // generation-stamped staging dir BEFORE the swap invalidates its input
    // files; the caller gets a lazy scan over that dir. Never a driver
    // collect: an `UPDATE … RETURNING` matching most of a 100 TB table must
    // not OOM the driver. Old _returning_* dirs are purged by compact().
    val retSchema = returning.schema
    val retDir = tableDir(name).resolve(f"_returning_${peekGeneration(name)}%08d")
    if (retSchema.nonEmpty) {
      deleteRecursively(retDir)
      returning.write.mode(SaveMode.Overwrite).parquet(retDir.toString)
    }
    val staging = tableDir(name).resolve("_staging")
    deleteRecursively(staging)
    newData.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val data = dataDir(name)
    deleteRecursively(data)
    Files.createDirectories(data)
    // generation-stamped batch dir: directory names are never reused, so
    // any FileIndex cached against a previous generation can't serve a
    // stale listing for a new read (Spark caches listings per leaf path)
    Files.move(staging, data.resolve(f"batch_${bumpGeneration(name)}%08d"),
      StandardCopyOption.ATOMIC_MOVE)
    state(name).schema = newData.schema
    persistMeta(name)
    // explicit schema: a zero-row RETURNING may write no part files, and a
    // schema'd read of an empty dir is an empty frame, not an inference error
    if (retSchema.nonEmpty) spark.read.schema(retSchema).parquet(retDir.toString)
    else spark.emptyDataFrame
  }

  // ---------------------------------------------------------------- read

  /** Resolved table: every ingest batch read with its own physical schema,
    * cast + null-padded to the union schema, tombstones dropped. */
  def table(name: String): DataFrame = {
    val st = state(name)
    val visible = st.schema.fields.filterNot(f => st.tombstones(f.name))
    val batches = normalizedBatches(name)
    if (batches.isEmpty || visible.isEmpty) {
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(visible))
    }
    batches.map(_._2).reduce(_ union _)
  }

  /** Each on-disk batch directory paired with its frame normalized to the
    * current visible schema (per-generation rename resolution, cast,
    * null-padding) — the per-batch half of [[table]], exposed so DML can
    * address batches individually. */
  private def normalizedBatches(name: String): Seq[(Path, DataFrame)] = {
    val st = state(name)
    val rename = renames.getOrElse(name, Map.empty)
    val visible = st.schema.fields.filterNot(f => st.tombstones(f.name))
    listBatches(name).map { b =>
      val raw = spark.read.parquet(b.toString)
      val batchGen = b.getFileName.toString.stripPrefix("batch_").toLong
      // physical names that, IN THIS BATCH's generation, belong to a
      // renamed column — a re-added column with the old name must not
      // read them (they are the renamed column's historical data)
      val claimed = rename.collect {
        case (_, (old, g)) if batchGen < g => old
      }.toSet
      val cols = visible.map { f =>
        val physical = rename.get(f.name) match {
          case Some((old, renameGen)) if batchGen < renameGen => old
          case _ => f.name
        }
        val usable = raw.schema.fieldNames.contains(physical) &&
          !(physical == f.name && claimed(physical))
        if (usable) col(physical).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      b -> raw.select(cols.toSeq: _*)
    }
  }

  // ------------------------------------------------------- views/matviews

  def createView(name: String, sql: String): Unit = {
    views(name) = sql
    val vd = rootPath.resolve("_views")
    Files.createDirectories(vd)
    Files.writeString(vd.resolve(s"$name.sql"), sql)
  }

  /** Materialized view = CTAS; refresh re-runs the stored body. */
  def createMatView(name: String, sql: String): Unit = {
    createView(name, sql)
    val df = this.sql(sql)
    createTable(name, df.schema)
    insert(name, df)
  }

  def refreshMatView(name: String): Unit = {
    if (incViews.contains(name) || loadIncSpec(name).isDefined) {
      refreshIncrementalMatView(name); return
    }
    val body = views(name)
    // rebuild cycle, not a user drop: views defined over this matview
    // must survive the refresh
    dropTable(name, dropDependents = false)
    createMatView(name, body)
  }

  // ---------------------------------------- incremental matviews
  // Aggregate matviews over one base table, kept fresh by folding ONLY
  // batches appended since the last refresh — O(delta), not O(table).
  // At 100 TB a full re-aggregation per refresh is the difference
  // between rescanning the lake and scanning the day's partition. Only
  // algebraic aggregates participate (count/sum/min/max — each merges
  // batch-locally); avg = sum/count in a view over the matview.
  // Non-append history changes (UPDATE/DELETE rewrote batches,
  // compaction folded them) are detected by batch-set mismatch and fall
  // back to a full rebuild — still correct, just not incremental.

  /** (base, groupCols, (func, col, alias)*) per incremental matview. */
  private val incViews = scala.collection.mutable.Map[
    String, (String, Seq[String], Seq[(String, String, String)])]()

  private def incDir = { val d = rootPath.resolve("_views")
    Files.createDirectories(d); d }

  /** Spec-format version marker. v2 = count(col) partials follow SQL
    * skip-NULLs semantics (round 7 change). A spec file WITHOUT the
    * marker predates that change: its persisted partials counted every
    * row, and merging them with skip-NULLs deltas would silently mix two
    * count definitions — loading such a spec with a non-* count column
    * forces one full rebuild, then upgrades the file. */
  private val IncSpecVersion = "#v2"

  private def persistIncSpec(name: String): Unit = {
    val (base, keys, aggs) = incViews(name)
    Files.writeString(incDir.resolve(s"$name.inc"),
      (Seq(IncSpecVersion, base, keys.mkString(",")) ++
        aggs.map { case (f, c, a) => s"$f:$c:$a" }).mkString("\n"))
  }

  private def loadIncSpec(name: String)
      : Option[(String, Seq[String], Seq[(String, String, String)])] =
    incViews.get(name).orElse {
      val f = incDir.resolve(s"$name.inc")
      if (!Files.exists(f)) None
      else {
        val all = Files.readString(f).split("\n").toSeq
        val versioned = all.head == IncSpecVersion
        val lines = if (versioned) all.tail else all
        val spec = (lines.head,
          lines(1).split(",").filter(_.nonEmpty).toSeq,
          lines.drop(2).map { l =>
            val Array(fn, c, a) = l.split(":", 3); (fn, c, a) })
        incViews(name) = spec
        if (!versioned) {
          // stored partials and new deltas must agree on count(col)
          // semantics: poison the seen set so the NEXT refresh takes the
          // full-rebuild path (an unknown seen batch fails `accounted`),
          // then upgrade the spec so this happens exactly once
          if (spec._3.exists { case (fn, c, _) => fn == "count" && c != "*" })
            Files.writeString(seenFile(name),
              "__legacy_count_semantics_rebuild__\n",
              java.nio.file.StandardOpenOption.CREATE,
              java.nio.file.StandardOpenOption.APPEND)
          persistIncSpec(name)
        }
        Some(spec)
      }
    }

  private def seenFile(name: String) = incDir.resolve(s"$name.seen")

  private def recordSeen(name: String, base: String): Unit =
    Files.writeString(seenFile(name),
      listBatches(base).map(_.getFileName.toString).mkString("\n"))

  private def readSeen(name: String): Set[String] =
    if (!Files.exists(seenFile(name))) Set.empty
    else Files.readString(seenFile(name)).split("\n")
      .filter(_.nonEmpty).toSet

  /** First-pass aggregate of raw rows (count counts, sum sums…).
    * COUNT(*) counts rows; COUNT(col) follows SQL and skips NULLs —
    * both merge by SUM, so the incremental fold is unchanged. */
  private def incAggExprs(aggs: Seq[(String, String, String)]): Seq[Column] =
    aggs.map {
      case ("count", c, alias) if c == "*" => count(lit(1)).as(alias)
      case ("count", c, alias) => count(col(c)).as(alias)
      case ("sum", c, alias) => sum(col(c)).as(alias)
      case ("min", c, alias) => min(col(c)).as(alias)
      case ("max", c, alias) => max(col(c)).as(alias)
      // COUNT(DISTINCT) is not algebraic — but its HLL sketch is: the
      // stored column is the binary sketch (mergeable state), deltas
      // union in, and readers take hll_sketch_estimate(alias). At 100 TB
      // this is the only way an incremental distinct count exists at all.
      case ("approx_distinct", c, alias) =>
        hll_sketch_agg(col(c)).as(alias)
      case (f, _, _) => throw new IllegalArgumentException(
        s"incremental matview: non-algebraic aggregate $f " +
          "(count/sum/min/max/approx_distinct merge; derive avg as " +
          "sum/count in a view)")
    }

  /** Merge-pass aggregate over already-aggregated rows: counts combine
    * by SUM, sketches by union, everything else by its own function. */
  private def incMergeExprs(aggs: Seq[(String, String, String)]): Seq[Column] =
    aggs.map {
      case ("count", _, alias) => sum(col(alias)).cast("long").as(alias)
      case ("sum", _, alias) => sum(col(alias)).as(alias)
      case ("min", _, alias) => min(col(alias)).as(alias)
      case ("max", _, alias) => max(col(alias)).as(alias)
      case ("approx_distinct", _, alias) =>
        hll_union_agg(col(alias)).as(alias)
      case (f, _, _) => throw new IllegalArgumentException(f)
    }

  private def incAggregate(df: DataFrame, keys: Seq[String],
                           aggs: Seq[(String, String, String)]): DataFrame = {
    val es = incAggExprs(aggs)
    df.groupBy(keys.map(col): _*).agg(es.head, es.tail: _*)
  }

  /** Create an incremental aggregate matview. `aggs` = (func, column,
    * alias) with func one of count/sum/min/max (column ignored for
    * count). The initial build is a full aggregation; refreshes fold
    * only new batches. */
  def createIncrementalMatView(name: String, base: String,
      groupCols: Seq[String],
      aggs: Seq[(String, String, String)]): Unit = {
    state(base) // must exist
    incAggExprs(aggs) // validate funcs up front
    incViews(name) = (base, groupCols, aggs)
    persistIncSpec(name)
    val full = incAggregate(table(base), groupCols, aggs)
    createTable(name, full.schema)
    insert(name, full)
    recordSeen(name, base)
  }

  /** Refresh by folding only appended batches; returns the mode taken:
    * "noop" (nothing new), "incremental(n)" (n new batches folded), or
    * "full" (history rewritten — rebuilt from scratch).
    *
    * Compaction-aware: a seen batch that disappeared because compaction
    * FOLDED it (recorded in the fold log) is not history rewriting — the
    * fold product carries exactly the seen rows, so it counts as seen
    * and routine auto-compaction keeps refreshes O(delta). Only a
    * genuine rewrite (UPDATE/DELETE replaced batch dirs with changed
    * rows — never fold-logged) or a fold that mixed seen with unseen
    * rows (can't happen via compact/compactSmall, which refresh
    * dependents first) still forces the full rebuild. */
  def refreshIncrementalMatView(name: String): String = {
    val (base, keys, aggs) = loadIncSpec(name).getOrElse(
      throw new IllegalArgumentException(s"no incremental matview $name"))
    val current = listBatches(base).map(_.getFileName.toString)
    val currentSet = current.toSet
    val seen = readSeen(name)
    val folds = readFoldLog(base)
    // children: fold product -> batches it folded; parent: the inverse
    val children: Map[String, Seq[String]] =
      folds.filter(_._1.nonEmpty).toMap
    val parent: Map[String, String] =
      folds.flatMap { case (n, olds) => olds.map(_ -> n) }.toMap
    // a seen batch is accounted for if it still exists or its fold chain
    // ends in a live batch (or in an empty fold, "" — zero rows lost)
    @annotation.tailrec
    def accounted(b: String): Boolean =
      if (b.isEmpty || currentSet(b)) true
      else parent.get(b) match {
        case Some(p) => accounted(p)
        case None => false
      }
    // a live batch is fully seen if recorded directly or a fold of
    // exclusively seen batches; it overlaps seen if ANY origin was seen
    def covered(b: String): Boolean = seen(b) ||
      children.get(b).exists(olds => olds.nonEmpty && olds.forall(covered))
    def overlaps(b: String): Boolean = seen(b) ||
      children.get(b).exists(_.exists(overlaps))
    val historyIntact = seen.forall(accounted) &&
      current.forall(b => covered(b) || !overlaps(b))
    val mode =
      if (!historyIntact) {
        // UPDATE/DELETE rewrote batch dirs under us (or a fold mixed
        // seen and unseen rows) — the stored partials no longer tile
        // the table; rebuild
        val full = incAggregate(table(base), keys, aggs).localCheckpoint()
        truncateTable(name)
        insert(name, full)
        "full"
      } else {
        val deltaDirs = normalizedBatches(base)
          .filterNot(p => covered(p._1.getFileName.toString))
        if (deltaDirs.isEmpty) "noop"
        else {
          val delta = incAggregate(
            deltaDirs.map(_._2).reduce(_ union _), keys, aggs)
          val ms = incMergeExprs(aggs)
          // merged must be materialized BEFORE truncate deletes the
          // matview batches it reads from
          val merged = table(name).union(delta)
            .groupBy(keys.map(col): _*).agg(ms.head, ms.tail: _*)
            .localCheckpoint()
          truncateTable(name)
          insert(name, merged)
          s"incremental(${deltaDirs.size})"
        }
      }
    recordSeen(name, base)
    mode
  }

  /** SET TIMEZONE (reference node_set_timezone / session_tz): session-wide
    * zone applied to timestamp parsing, display and tz-aware compares. */
  def setTimezone(tz: String): Unit =
    spark.conf.set("spark.sql.session.timeZone", tz)

  /** EXPLAIN surface: formatted Catalyst physical plan for a query. */
  def explainPlan(query: String): String =
    sql(query).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** CREATE INDEX accepted as metadata-only (SURVEY §2.11: Spark has no
    * secondary indexes; scan pruning fills the role) — but it is not a
    * pure no-op either: the index IS the layout. Whenever an indexed
    * table's data is rewritten (compact / compactSmall), rows are
    * range-clustered and sorted on the indexed columns, so parquet
    * min/max column statistics let pushed equality/range predicates skip
    * whole row groups — the Spark-native index_scan. No separate index
    * structure exists to maintain or go stale. Persisted (survives
    * restarts) so maintenance keeps clustering long after CREATE. */
  def createIndex(index: String, table: String, columns: Seq[String]): Unit = {
    indexes(index) = (table, columns)
    persistIndexes()
  }
  def dropIndex(index: String): Unit = {
    indexes.remove(index); persistIndexes()
  }
  def listIndexes: Map[String, (String, Seq[String])] = indexes.toMap
  private val indexes =
    scala.collection.mutable.Map[String, (String, Seq[String])]()
  locally {
    val f = rootPath.resolve("_indexes")
    if (Files.exists(f))
      Files.readString(f).split("\n").filter(_.nonEmpty).foreach { l =>
        val Array(ix, t, cols) = l.split("\\|", 3)
        indexes(ix) = (t, cols.split(",").filter(_.nonEmpty).toSeq)
      }
  }
  private def persistIndexes(): Unit =
    Files.writeString(rootPath.resolve("_indexes"),
      indexes.map { case (ix, (t, cs)) => s"$ix|$t|${cs.mkString(",")}" }
        .mkString("\n"))

  /** Range-cluster + sort a frame on `name`'s indexed columns (identity
    * when no index covers the table). A COMPOSITE index over z-orderable
    * columns clusters on the Morton-interleaved value instead of
    * lexicographically — a lexicographic sort only lets parquet min/max
    * stats skip on the LEADING column, while the z-curve layout skips on
    * range predicates over EVERY indexed column (see [[graft.sources
    * .ZOrder]]; proven read-side in ZOrderSpec). */
  private def clusterByIndex(name: String, df: DataFrame): DataFrame =
    indexes.values.collectFirst {
      case (t, cols) if t == name && cols.forall(df.columns.contains) =>
        cols
    } match {
      case Some(cols)
          if cols.size >= 2 &&
            cols.forall(c => graft.sources.ZOrder.zOrderable(
              df.schema(c).dataType)) =>
        graft.sources.ZOrder.clusterByZOrder(df, cols,
          bits = math.min(16, 63 / cols.size))
      case Some(cols) =>
        df.repartitionByRange(cols.map(col): _*)
          .sortWithinPartitions(cols.map(col): _*)
      case None => df
    }

  /** Databases accepted as namespaces (reference CREATE DATABASE +
    * db.table addressing everywhere, e.g. jsonbench's `bench.events`).
    * The session itself is single-namespace: a recorded database name is
    * a qualifier that [[sql]] strips from `db.table` references. */
  private val databases = scala.collection.mutable.Set[String]()

  private def stripDbQualifiers(query: String): String =
    if (databases.isEmpty) query
    else {
      def strip(seg: String): String = databases.foldLeft(seg) { (q, db) =>
        ("(?i)\\b" + java.util.regex.Pattern.quote(db) + "\\.(\\w)").r
          .replaceAllIn(q, m => m.group(1))
      }
      // rewrite only OUTSIDE single-quoted literals and comments — a
      // string containing 'bench.events' (or a comment naming it) must
      // pass through untouched; left-to-right scan keeps an apostrophe
      // inside a comment from mis-pairing with a later quote
      val out = new StringBuilder
      var last = 0
      opaqueRe.findAllMatchIn(query).foreach { m =>
        out.append(strip(query.substring(last, m.start)))
        out.append(m.matched)
        last = m.end
      }
      out.append(strip(query.substring(last)))
      out.toString
    }

  /** String literals (with '' escapes) and SQL comments — the regions the
    * textual affordance layer must never rewrite. Alternation order plus
    * left-to-right scanning makes an apostrophe inside `-- …` inert. */
  private val opaqueRe = "(?s)'(?:[^']|'')*'|--[^\n]*|/\\*.*?\\*/".r

  /** True when index `at` of `s` falls inside a literal or comment. */
  private def inOpaque(s: String, at: Int): Boolean =
    opaqueRe.findAllMatchIn(s).exists(m => m.start <= at && at < m.end)

  /** Monotonic sequence (reference node_sequence): file-backed counter
    * with PG START/INCREMENT options (reference `CREATE SEQUENCE ... START
    * 10 INCREMENT 2`, test_sql_features.cpp DDL section). File format is
    * `current:increment`; a bare long (pre-options format) reads as
    * increment 1. */
  def createSequence(name: String, start: Long = 1L,
                     increment: Long = 1L): Unit = {
    require(increment != 0, "sequence increment must be non-zero")
    Files.writeString(rootPath.resolve(s"_seq_$name"),
      s"${start - increment}:$increment")
  }

  def dropSequence(name: String): Unit =
    Files.deleteIfExists(rootPath.resolve(s"_seq_$name"))

  def nextSequence(name: String): Long = {
    val f = rootPath.resolve(s"_seq_$name")
    val (cur, inc) =
      if (Files.exists(f)) Files.readString(f).trim.split(":") match {
        case Array(c, i) => (c.toLong, i.toLong)
        case Array(c) => (c.toLong, 1L)
      } else (0L, 1L)
    val next = cur + inc
    Files.writeString(f, s"$next:$inc")
    next
  }

  /** Replaces each `nextval('seq')` in a VALUES literal list with the next
    * sequence value, left to right — one call per occurrence, like PG's
    * per-row volatile evaluation over literal rows. */
  private def substituteNextval(values: String): String =
    """(?i)nextval\(\s*'(\w+)'\s*\)""".r
      .replaceAllIn(values, m => nextSequence(m.group(1)).toString)

  // ---------------------------------------------------------------- SQL

  /** SQL entry point: PG-dialect affordances (jsonb `->`/`->>`/`#>`/`#>>`,
    * `::?` assertions, `$n` parameters) are rewritten to Spark SQL by
    * [[graft.functions.Jsonb.rewrite]], the catalog tables and views the
    * statement references are registered as temp views, then Catalyst
    * takes over — `WITH RECURSIVE … UNION ALL` included, which Catalyst
    * plans as its `UnionLoop` operator. Only a recursive `UNION` member
    * runs outside Catalyst, see [[unionRecursion]]. */
  def sql(query: String, params: Seq[Any] = Nil): DataFrame = {
    discoverTables()
    val stmt = expandMacros(
      graft.functions.Jsonb.rewrite(stripDbQualifiers(query), params))
    registerRelationsFor(stmt)
    unionRecursion(stmt).getOrElse(spark.sql(stmt))
  }

  private val recursiveKwRe = """(?is)^\s*WITH\s+RECURSIVE\s""".r

  /** `WITH RECURSIVE` whose recursive member is `seed UNION step`
    * (reference transform_select.cpp:26-58 parses the RECURSIVE flag;
    * test_subqueries.cpp:1209). Spark refuses recursive UNION, so that
    * member runs as the driver-side dedup fixpoint
    * ([[graft.operators.RecursiveCte.fixpoint]]), which is cycle-safe.
    * Every other statement is None and goes to Catalyst.
    *
    * The split works on the parsed plan, where the member's body is
    * `Distinct(Union(seed, step))`. The seed runs under the CTEs listed
    * before it; each round runs the step with the CTE's name bound to the
    * previous round's rows, and the outer query (with the CTEs listed
    * after it) runs with the name bound to the closure. A binding is a
    * CTE definition, so references inside subquery expressions resolve
    * too and no temp view is touched. The round bound is the member's
    * `MAX RECURSION LEVEL`, else `spark.sql.cteRecursionLevelLimit`.
    * More than one recursive member is refused with a clear error. */
  private def unionRecursion(stmt: String): Option[DataFrame] = {
    import org.apache.spark.sql.GraftSqlShim
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation,
      UnresolvedSubqueryColumnAliases}
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Distinct,
      LogicalPlan, SubqueryAlias, Union, UnresolvedWith}
    if (recursiveKwRe.findPrefixMatchOf(stmt).isEmpty) return None
    val w = spark.sessionState.sqlParser.parsePlan(stmt) match {
      case w: UnresolvedWith => w
      case _ => return None
    }
    val recursive = w.cteRelations.filter { case (name, body, _) =>
      body.collectWithSubqueries { case r: UnresolvedRelation =>
        r.multipartIdentifier
      }.exists(id => id.size == 1 && id.head.equalsIgnoreCase(name))
    }
    if (recursive.size > 1) throw new IllegalArgumentException(
      "WITH RECURSIVE: at most one recursive CTE per statement is " +
        s"supported (found: ${recursive.map(_._1).mkString(", ")})")
    recursive.headOption.flatMap { case (name, alias, maxDepth) =>
      val (cols, body) = alias.child match {
        case UnresolvedSubqueryColumnAliases(cs, c) => (cs, c)
        case c => (Nil, c)
      }
      body match {
        case Distinct(Union(Seq(seed, step), false, false)) =>
          // runs a parsed piece under the CTE list `ctes`, the recursive
          // member bound to `rows`. Parsed aliases carry ids minted by the
          // parser, so each run gets fresh ones: a round's output must not
          // share ids with the previous round's rows it reads
          def run(p: LogicalPlan, ctes: Seq[(String, SubqueryAlias,
              Option[Int])], rows: DataFrame): DataFrame = {
            def fresh[T <: LogicalPlan](q: T): T =
              q.transformAllExpressionsWithSubqueries {
                case a: Alias => a.newInstance()
              }.asInstanceOf[T]
            val bound = ctes.map {
              case (`name`, _, _) =>
                (name, SubqueryAlias(name, rows.queryExecution.analyzed), None)
              case (n, a, d) => (n, fresh(a), d)
            }
            GraftSqlShim.ofRows(spark,
              if (bound.isEmpty) fresh(p)
              else UnresolvedWith(fresh(p), bound, allowRecursion = false))
          }
          val upTo = w.cteRelations.take(
            w.cteRelations.indexWhere(_._1 == name) + 1)
          val seedDf = run(seed, upTo.init, spark.emptyDataFrame)
          val closure = graft.operators.RecursiveCte.fixpoint(
            if (cols.isEmpty) seedDf else seedDf.toDF(cols: _*),
            d => run(step, upTo, d), maxDepth)
          Some(run(w.child, w.cteRelations, closure))
        case _ => None
      }
    }
  }

  /** Registers ONLY the relations a statement references (transitively,
    * through stored view bodies) as temp views. Registering the whole
    * catalog per statement is O(tables x batches) driver work — fine at
    * 10 tables, pathological at 1,000 (each registration builds the
    * per-batch union plan in [[table]]). Falls back to register-all when
    * the statement doesn't parse (Catalyst then reports the real error).
    * Names that resolve to neither a table nor a stored view (CTE
    * aliases, pre-existing temp views) are ignored. */
  private def registerRelationsFor(stmt: String): Unit = {
    referencedRelations(stmt) match {
      case None =>
        tables.keys.foreach(n => table(n).createOrReplaceTempView(n))
        registerViewsInDependencyOrder(
          views.toSeq.filterNot { case (n, _) => tables.contains(n) },
          strict = false)
      case Some(names) =>
        // transitive closure: a referenced view pulls in its own references
        val needed = scala.collection.mutable.Set[String]()
        def visit(n: String): Unit = if (needed.add(n)) {
          if (!tables.keys.exists(_.equalsIgnoreCase(n)))
            views.collectFirst {
              case (v, body) if v.equalsIgnoreCase(n) => body
            }.foreach(body => referencedRelations(body)
              .getOrElse(Set.empty).foreach(visit))
        }
        names.foreach(visit)
        def hit(n: String) = needed.exists(_.equalsIgnoreCase(n))
        tables.keys.filter(hit)
          .foreach(n => table(n).createOrReplaceTempView(n))
        registerViewsInDependencyOrder(views.toSeq.filter { case (n, _) =>
          hit(n) && !tables.contains(n) })
    }
  }

  /** View bodies are analyzed eagerly at registration, so a view over
    * another view must register after its dependency. The order is
    * TOPOLOGICAL, computed from the parsed bodies ([[referencedRelations]]
    * already does the parse) — one pass, O(V+E), instead of the previous
    * O(V²) exception-driven retry. A registration that still fails did so
    * for a real (non-ordering) reason: in `strict` mode — the referenced-
    * only path, where every pending view is needed by the statement — the
    * failure is rethrown annotated with the view's name, so the user sees
    * the body's actual analysis error instead of a generic "table or view
    * not found". The register-all fallback (statement didn't parse) stays
    * lenient: an unrelated broken view must not mask the main statement's
    * own error. */
  private def registerViewsInDependencyOrder(
      pending0: Seq[(String, String)], strict: Boolean = true): Unit = {
    if (pending0.isEmpty) return
    val byName = pending0.map(p => p._1.toLowerCase -> p).toMap
    val done = scala.collection.mutable.Set[String]()
    val visiting = scala.collection.mutable.Set[String]()
    val order = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def visit(key: String): Unit =
      if (!done(key) && !visiting(key))
        byName.get(key).foreach { case (n, body) =>
          visiting += key
          referencedRelations(body).getOrElse(Set.empty)
            .map(_.toLowerCase).foreach(visit)
          visiting -= key
          done += key
          order += ((n, body))
        }
    byName.keys.toSeq.sorted.foreach(visit)
    order.foreach { case (n, body) =>
      try spark.sql(body).createOrReplaceTempView(n)
      catch {
        case scala.util.control.NonFatal(e) if strict =>
          throw new IllegalStateException(
            s"view $n failed to register: ${e.getMessage}", e)
        case scala.util.control.NonFatal(_) => // lenient: see scaladoc
      }
    }
  }

  /** Statement router — the reference's `execute_sql` entry point
    * (integration/cpp/wrapper_dispatcher.cpp:91: parse → route DDL / DML /
    * query). DDL+DML forms are parsed with small regexes and routed to the
    * session APIs (so dynamic tables, constraints and staged overwrites
    * apply); everything else goes through [[sql]] (PG-dialect rewrite +
    * Catalyst). Returns the affected/returned rows (empty frame for DDL).
    * Supported DML/DDL surface: CREATE [DYNAMIC] TABLE (enum-typed columns
    * resolve via CREATE TYPE), DROP TABLE, CREATE/DROP TYPE ... AS ENUM,
    * CREATE TYPE ... AS (composite) → struct columns, CREATE SEQUENCE
    * [START n] [INCREMENT n] / DROP SEQUENCE (nextval('s') substitutes in
    * INSERT ... VALUES), CREATE [MATERIALIZED] VIEW / DROP VIEW,
    * CREATE/DROP DATABASE (db.table qualifiers accepted everywhere and
    * stripped — single-namespace session), CREATE/DROP INDEX
    * (metadata-only), ALTER TABLE ADD/DROP/RENAME COLUMN,
    * CHECKPOINT/VACUUM [table] → compact, TRUNCATE [TABLE] (schema and
    * constraints survive), SHOW TABLES / DESCRIBE (pg_class-style
    * introspection), WITH RECURSIVE (via [[sql]]),
    * INSERT INTO ... VALUES / SELECT,
    * UPDATE ... SET ... [FROM src] [WHERE ...] [RETURNING ...],
    * DELETE FROM ... [USING src] [WHERE ...] [RETURNING ...]. */
  def execute(statement: String, params: Seq[Any] = Nil): DataFrame = {
    // recorded-database qualifiers are stripped up front, so qualified
    // names work in every clause (FROM/USING sources, conditions,
    // RETURNING lists) — the per-regex qualifier below additionally
    // tolerates unrecorded ones in statement-head position
    val stmt = graft.functions.Jsonb.rewrite(
      stripDbQualifiers(statement.trim), params)
    val Q = """(?:\w+\.)?"""  // optional db qualifier on object names —
    // the reference addresses everything as db.table (CREATE DATABASE
    // below); this session is single-namespace, so the qualifier is
    // accepted and dropped
    val createTableRe =
      ("""(?is)^CREATE\s+TABLE\s+""" + Q + """(\w+)\s*(?:\((.*)\))?\s*;?$""").r
    val ctasRe =
      ("""(?is)^CREATE\s+TABLE\s+""" + Q + """(\w+)\s+AS\s+(\(?\s*SELECT\s+.*?)\s*;?$""").r
    val refreshMvRe =
      ("""(?is)^REFRESH\s+MATERIALIZED\s+VIEW\s+""" + Q + """(\w+)\s*;?$""").r
    val createDynRe =
      ("""(?is)^CREATE\s+DYNAMIC\s+TABLE\s+""" + Q + """(\w+)\s*;?$""").r
    val dropRe = ("""(?is)^DROP\s+TABLE\s+""" + Q + """(\w+)\s*;?$""").r
    val insertValuesRe =
      ("""(?is)^INSERT\s+INTO\s+""" + Q + """(\w+)\s*\(([^)]*)\)\s*VALUES\s*(.*?);?$""").r
    val insertValuesNoColsRe =
      ("""(?is)^INSERT\s+INTO\s+""" + Q + """(\w+)\s+VALUES\s*(.*?);?$""").r
    val insertSelectRe =
      ("""(?is)^INSERT\s+INTO\s+""" + Q + """(\w+)\s+(SELECT\s+.*?);?$""").r
    val updateRe =
      ("""(?is)^UPDATE\s+""" + Q + """(\w+)\s+SET\s+(.*?)\s*;?$""").r
    val mergeRe =
      ("""(?is)^MERGE\s+INTO\s+""" + Q + """(\w+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+(.+?)\s*;?$""").r
    val deleteRe =
      ("""(?is)^DELETE\s+FROM\s+""" + Q + """(\w+)\s*(.*?)\s*;?$""").r
    val createTypeRe =
      ("""(?is)^CREATE\s+TYPE\s+""" + Q + """(\w+)\s+AS\s+ENUM\s*\(([^)]*)\)\s*;?$""").r
    val createCompositeRe =
      ("""(?is)^CREATE\s+TYPE\s+""" + Q + """(\w+)\s+AS\s*\(([^)]*)\)\s*;?$""").r
    val dropTypeRe = ("""(?is)^DROP\s+TYPE\s+""" + Q + """(\w+)\s*;?$""").r
    val macroRe =
      ("""(?is)^CREATE\s+(?:MACRO|FUNCTION)\s+""" + Q + """(\w+)\s*\(([^)]*)\)\s*(?:AS|RETURN)\s+(.*?);?$""").r
    val setTzRe =
      """(?is)^SET\s+TIME\s*ZONE\s+(?:TO\s+)?'?([\w/+-:]+)'?\s*;?$""".r
    val showTablesRe = """(?is)^SHOW\s+TABLES\s*;?$""".r
    val truncateRe =
      ("""(?is)^TRUNCATE\s+(?:TABLE\s+)?""" + Q + """(\w+)\s*;?$""").r
    val describeRe =
      ("""(?is)^DESC(?:RIBE)?\s+(?:TABLE\s+)?""" + Q + """(\w+)\s*;?$""").r
    val createSeqRe =
      ("""(?is)^CREATE\s+SEQUENCE\s+""" + Q + """(\w+)(?:\s+START\s+(?:WITH\s+)?(-?\d+))?(?:\s+INCREMENT\s+(?:BY\s+)?(-?\d+))?\s*;?$""").r
    val dropSeqRe = ("""(?is)^DROP\s+SEQUENCE\s+""" + Q + """(\w+)\s*;?$""").r
    val createIncMvRe =
      ("""(?is)^CREATE\s+INCREMENTAL\s+MATERIALIZED\s+VIEW\s+""" + Q + """(\w+)\s+AS\s+SELECT\s+(.*?)\s+FROM\s+""" + Q + """(\w+)\s+GROUP\s+BY\s+(.*?)\s*;?$""").r
    val createMatViewRe =
      ("""(?is)^CREATE\s+MATERIALIZED\s+VIEW\s+""" + Q + """(\w+)\s+AS\s+(.*?);?$""").r
    val createViewRe =
      ("""(?is)^CREATE\s+VIEW\s+""" + Q + """(\w+)\s+AS\s+(.*?);?$""").r
    val dropViewRe = ("""(?is)^DROP\s+VIEW\s+""" + Q + """(\w+)\s*;?$""").r
    val createDbRe = """(?is)^CREATE\s+DATABASE\s+(\w+)\s*;?$""".r
    val dropDbRe = """(?is)^DROP\s+DATABASE\s+(\w+)\s*;?$""".r
    val createIndexRe =
      ("""(?is)^CREATE\s+INDEX\s+(\w+)\s+ON\s+""" + Q + """(\w+)\s*\(([^)]*)\)\s*;?$""").r
    val dropIndexRe = """(?is)^DROP\s+INDEX\s+(\w+)\s*;?$""".r
    val checkpointRe =
      ("""(?is)^(?:CHECKPOINT|VACUUM)(?:\s+""" + Q + """(\w+))?\s*;?$""").r
    val explainRe =
      """(?is)^EXPLAIN\s+(?:(ANALYZE|FORMATTED|EXTENDED)\s+)?(SELECT\s+.*|WITH\s+.*)\s*;?$""".r
    val copyToRe =
      ("""(?is)^COPY\s+(\(.+\)|""" + Q + """\w+)\s+TO\s+'([^']+)'\s*(?:(?:WITH\s*)?\(\s*FORMAT\s+'?(\w+)'?\s*\))?\s*;?$""").r
    val copyFromRe =
      ("""(?is)^COPY\s+""" + Q + """(\w+)\s+FROM\s+'([^']+)'\s*(?:(?:WITH\s*)?\(\s*FORMAT\s+'?(\w+)'?\s*\))?\s*;?$""").r
    val alterAddRe =
      ("""(?is)^ALTER\s+TABLE\s+""" + Q + """(\w+)\s+ADD\s+(?:COLUMN\s+)?(\w+)\s+([\w()<>, ]+?)\s*;?$""").r
    val alterDropRe =
      ("""(?is)^ALTER\s+TABLE\s+""" + Q + """(\w+)\s+DROP\s+(?:COLUMN\s+)?(\w+)\s*;?$""").r
    val alterRenameRe =
      ("""(?is)^ALTER\s+TABLE\s+""" + Q + """(\w+)\s+RENAME\s+(?:COLUMN\s+)?(\w+)\s+TO\s+(\w+)\s*;?$""").r
    def empty = spark.emptyDataFrame
    stmt match {
      case setTzRe(tz) => setTimezone(tz); empty
      // catalog introspection (the reference's pg_class/pg_attribute
      // system-table surface — catalog_oids.hpp well-known OIDs —
      // exposed in the relkind vocabulary: r/g/v/m)
      case showTablesRe() =>
        discoverTables()
        val rels = tables.toSeq.map { case (n, st) =>
          (n, if (views.contains(n)) "m" else if (st.dynamic) "g" else "r")
        } ++ views.keys.filterNot(tables.contains).toSeq.map(v => (v, "v"))
        catalogDf(rels.sortBy(_._1), "relname", "relkind")
      case describeRe(tbl) if tables.contains(tbl) ||
          views.keys.exists(_.equalsIgnoreCase(tbl)) || {
            discoverTables(); tables.contains(tbl) } =>
        // views (relkind 'v') describe via their analyzed body schema;
        // tables/matviews via catalog metadata
        if (!tables.contains(tbl))
          catalogDf(sql(views.collectFirst {
            case (v, body) if v.equalsIgnoreCase(tbl) => body }.get)
            .schema.fields
            .map(f => (f.name, f.dataType.sql.toLowerCase)).toSeq,
            "column_name", "data_type")
        else {
          val st = state(tbl)
          catalogDf(st.schema.fields.filterNot(f => st.tombstones(f.name))
            .map(f => (f.name, f.dataType.sql.toLowerCase)).toSeq,
            "column_name", "data_type")
        }
      case s if s.matches("(?is)^(?:BEGIN|COMMIT|ROLLBACK|ABORT)\\b.*") =>
        // MVCC/transactions are dropped by design (SURVEY §1.3): fail with
        // the documented reason instead of a Spark parse error
        throw new UnsupportedOperationException(
          "transactions are not supported: each DML statement is " +
            "individually atomic (staged directory swap); see README " +
            "'Known gaps'")
      case createDbRe(db) => databases += db.toLowerCase; empty
      case dropDbRe(db) => databases -= db.toLowerCase; empty
      case createIndexRe(index, tbl, cols) =>
        createIndex(index, tbl,
          cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq); empty
      case dropIndexRe(index) => dropIndex(index); empty
      case checkpointRe(tbl) =>
        Option(tbl).map(Seq(_)).getOrElse(tables.keys.toSeq)
          .foreach(compact); empty
      case truncateRe(tbl) => truncateTable(tbl); empty
      // EXPLAIN [ANALYZE|FORMATTED|EXTENDED] <query> — one text row per
      // plan line, consumable through the DB-API cursor. FORMATTED is the
      // default (physical plan + node details); ANALYZE executes and
      // reports observed metrics via Spark's cost mode.
      case explainRe(modeOrNull, body) =>
        val df = sql(body)
        val text = Option(modeOrNull).map(_.toUpperCase) match {
          case Some("EXTENDED") =>
            df.queryExecution.toString
          case Some("ANALYZE") =>
            df.collect() // execute so AQE finalizes the plan
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.CostMode)
          case _ =>
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
        }
        import spark.implicits._
        spark.createDataset(text.linesIterator.toSeq).toDF("plan")
      // COPY <table|(query)> TO '<path>' [(FORMAT parquet|csv|json|orc)]
      // — PG/DuckDB export idiom over Spark's native writers. A
      // distributed write (one file per partition), not a driver funnel;
      // COPY FROM reads with the target table's declared schema so
      // CSV/JSON round-trips don't depend on inference.
      case copyToRe(src, path, fmtOrNull) =>
        val df = {
          val t = src.trim
          if (t.startsWith("(")) sql(t.substring(1, t.length - 1))
          else table(stripDbQualifiers(t))
        }
        // write ONCE, then count the written output: a count() before
        // the write would execute the source twice (double scan) and
        // could disagree with the written data for a non-deterministic
        // query. Parquet answers the count from footer metadata alone;
        // formats without in-file stats re-read what was written.
        copyWrite(df, path, Option(fmtOrNull))
        val n = Option(fmtOrNull).map(_.toLowerCase)
          .getOrElse("parquet") match {
          case "parquet" => parquetFooterRowCount(path)
          case _ =>
            copyRead(path, Option(fmtOrNull), Some(df.schema)).count()
        }
        catalogDf(Seq((path, n.toString)), "path", "rows")
      case copyFromRe(tbl, path, fmtOrNull) =>
        val declared = state(tbl).schema
        val df = copyRead(path, Option(fmtOrNull),
          if (declared.fields.nonEmpty) Some(declared) else None)
        insert(tbl, df)
        empty
      case alterAddRe(tbl, column, tpe) =>
        addColumn(tbl, column,
          org.apache.spark.sql.types.DataType.fromDDL(tpe)); empty
      case alterDropRe(tbl, column) => dropColumn(tbl, column); empty
      case alterRenameRe(tbl, from, to) => renameColumn(tbl, from, to); empty
      case createSeqRe(name, start, inc) =>
        createSequence(name,
          Option(start).map(_.toLong).getOrElse(1L),
          Option(inc).map(_.toLong).getOrElse(1L)); empty
      case dropSeqRe(name) => dropSequence(name); empty
      // CREATE INCREMENTAL MATERIALIZED VIEW mv AS
      //   SELECT k, count(*) AS n, sum(c) AS s FROM base GROUP BY k
      // — select list restricted to bare group columns + algebraic
      // aggregates with mandatory aliases (the merge needs stable names)
      case createIncMvRe(name, selectList, base, groupList) =>
        val aggRe =
          """(?i)^(count|sum|min|max|approx_distinct)\s*\(\s*(\*|\w+)\s*\)\s+AS\s+(\w+)$""".r
        val colRe = """^(\w+)$""".r
        val (keys, aggs) = splitTopLevel(selectList).map(_.trim).foldLeft(
          (Seq.empty[String], Seq.empty[(String, String, String)])) {
          case ((ks, as), aggRe(f, c, alias)) =>
            (ks, as :+ (f.toLowerCase, c, alias))
          case ((ks, as), colRe(k)) => (ks :+ k, as)
          case (_, item) => throw new IllegalArgumentException(
            "INCREMENTAL MATERIALIZED VIEW select items must be bare " +
              "group columns or count/sum/min/max/approx_distinct(...) " +
              s"AS alias — got: $item")
        }
        // group keys come from the bare select columns; a GROUP BY list
        // that differs must error, not silently compute another
        // grouping. Grouping is order-insensitive, so compare as sets —
        // `SELECT a, b ... GROUP BY b, a` is the same view.
        val declared = splitTopLevel(groupList).map(_.trim)
        require(declared.map(_.toLowerCase).toSet ==
            keys.map(_.toLowerCase).toSet,
          "INCREMENTAL MATERIALIZED VIEW: GROUP BY list " +
            s"(${declared.mkString(", ")}) must equal the bare select " +
            s"columns (${keys.mkString(", ")})")
        createIncrementalMatView(name, base, keys, aggs)
        empty
      case createMatViewRe(name, body) => createMatView(name, body); empty
      case createViewRe(name, body) => createView(name, body); empty
      case dropViewRe(name) => dropView(name); empty
      case macroRe(name, ps, body) =>
        createMacro(name,
          ps.split(",").map(_.trim).filter(_.nonEmpty).toSeq, body); empty
      case createDynRe(name) => createDynamicTable(name); empty
      // CTAS (reference T_CreateTableAsStmt): schema from the analyzed
      // query, rows through the catalog insert path
      case ctasRe(name, body0) =>
        val b = body0.trim
        val body = if (b.startsWith("(") && b.endsWith(")"))
          b.substring(1, b.length - 1) else b
        val df = sql(body)
        createTable(name, df.schema)
        insert(name, df)
        empty
      case refreshMvRe(name) => refreshMatView(name); empty
      // no column list OR an empty one — the reference's
      // `CREATE TABLE db.t();` idiom — declares a DYNAMIC table
      case createTableRe(name, colsDdl)
          if colsDdl == null || colsDdl.trim.isEmpty =>
        createDynamicTable(name); empty
      case createTableRe(name, colsDdl) =>
        val (schema, enumChecks) = resolveEnumDdl(colsDdl)
        createTable(name, schema)
        enumChecks.foreach { case (cn, ce) => addCheckConstraint(name, cn, ce) }
        empty
      case dropRe(name) => dropTable(name); empty
      case insertValuesRe(name, cols, values) =>
        insert(name, spark.sql(
          s"SELECT * FROM VALUES ${substituteNextval(values)} AS _ins($cols)"))
        empty
      case insertValuesNoColsRe(name, values) =>
        // PG-style INSERT without a column list: positional against the
        // table's declared column order (dynamic tables with no schema yet
        // have no positional meaning — require the explicit list there)
        val declared = state(name).schema.fieldNames
        require(declared.nonEmpty,
          s"INSERT INTO $name VALUES without a column list needs a " +
            "declared schema; name the columns")
        insert(name, spark.sql(
          s"SELECT * FROM VALUES ${substituteNextval(values)} " +
            s"AS _ins(${declared.mkString(", ")})"))
        empty
      case insertSelectRe(name, select) => insert(name, sql(select)); empty
      case createTypeRe(name, values) =>
        // '' inside a quoted value is an escaped quote — store unescaped,
        // the CHECK generator re-escapes exactly once
        createEnumType(name, splitTopLevel(values)
          .map(_.trim.stripPrefix("'").stripSuffix("'").replace("''", "'")))
        empty
      // composite AFTER enum: the ENUM pattern is strictly more specific
      case createCompositeRe(name, fields) =>
        createCompositeType(name, fields); empty
      case dropTypeRe(name) => dropEnumType(name); empty
      case updateRe(name, rest) =>
        // carve at top-level keywords only (outside string literals /
        // parens) — ' where ' inside a SET string literal must not split;
        // UPDATE t SET ... [FROM src [alias]] [WHERE cond] [RETURNING list]
        val (beforeRet, retList) = splitAtTopLevelKeyword(rest, "RETURNING")
        val (beforeWhere, cond) = splitAtTopLevelKeyword(beforeRet, "WHERE")
        val (sets, fromSrc) = splitAtTopLevelKeyword(beforeWhere, "FROM")
        val setMap = splitTopLevel(sets).map { kv =>
          val Array(c, e) = kv.split("=", 2)
          c.trim -> org.apache.spark.sql.functions.expr(e.trim)
        }.toMap
        val where =
          org.apache.spark.sql.functions.expr(cond.getOrElse("true"))
        fromSrc match {
          case Some(src) =>
            // RETURNING may reference the FROM source's columns (legal in
            // PG) — route through the wide frame; without RETURNING the
            // statement yields the post-update target rows only
            val wide = updateFromWide(name, parseTableRef(src), where, setMap)
            retList.map(applyReturning(wide.as(name), _)).getOrElse(
              wide.select(table(name).columns.map(col).toSeq: _*))
          case None =>
            val result = update(name, setMap, where)
            retList.map(applyReturning(result.as(name), _)).getOrElse(result)
        }
      case mergeRe(name, aliasOrNull, rest) =>
        // MERGE INTO t [AS a] USING src [AS s] ON cond WHEN ... [WHEN ...]
        val (srcSpec, afterOn) = splitAtTopLevelKeyword(rest, "ON")
        require(afterOn.isDefined, "MERGE: missing ON <join condition>")
        val (onCond, whenText) = splitAtTopLevelKeyword(afterOn.get, "WHEN")
        require(whenText.isDefined, "MERGE: missing WHEN clause(s)")
        val srcDf = {
          val t0 = srcSpec.trim
          if (t0.startsWith("(")) {
            // (SELECT ...) [AS] alias — subquery source
            val close = t0.lastIndexOf(')')
            val inner = t0.substring(1, close)
            val aliasToks = t0.substring(close + 1).trim.split("\\s+")
              .filterNot(t => t.isEmpty || t.equalsIgnoreCase("AS"))
            require(aliasToks.nonEmpty, "MERGE: subquery source needs an alias")
            sql(inner).as(aliasToks(0))
          } else parseTableRef(t0)
        }
        def splitWhens(s: String): Seq[String] =
          splitAtTopLevelKeyword(s, "WHEN") match {
            case (head, Some(tail)) => head +: splitWhens(tail)
            case (head, None) => Seq(head)
          }
        import org.apache.spark.sql.functions.expr
        val whens = splitWhens(whenText.get).map { clause =>
          val (condPart, thenPart) = splitAtTopLevelKeyword(clause, "THEN")
          require(thenPart.isDefined, s"MERGE: WHEN without THEN: $clause")
          val (matchWord, predText) = splitAtTopLevelKeyword(condPart, "AND")
          val isMatched = matchWord.trim match {
            case w if w.matches("(?i)MATCHED") => true
            case w if w.matches("(?i)NOT\\s+MATCHED") => false
            case w => throw new IllegalArgumentException(
              s"MERGE: expected [NOT] MATCHED, got '$w'")
          }
          val updateActRe = """(?is)^UPDATE\s+SET\s+(.*)$""".r
          val insertActRe =
            """(?is)^INSERT\s*(?:\(([^)]*)\))?\s*VALUES\s*\((.*)\)$""".r
          val action = thenPart.get.trim match {
            case updateActRe(sets) =>
              GraftSession.MergeUpdate(splitTopLevel(sets).map { kv =>
                val Array(c, e) = kv.split("=", 2)
                c.trim -> expr(e.trim)
              }.toMap)
            case a if a.matches("(?is)^DELETE$") => GraftSession.MergeDelete
            case a if a.matches("(?is)^DO\\s+NOTHING$") =>
              GraftSession.MergeNothing
            case insertActRe(colsOrNull, values) =>
              GraftSession.MergeInsert(
                Option(colsOrNull).map(_.split(",").map(_.trim)
                  .filter(_.nonEmpty).toSeq).getOrElse(Nil),
                splitTopLevel(values).map(v => expr(v.trim)))
            case a => throw new IllegalArgumentException(
              s"MERGE: unsupported action '$a' (UPDATE SET / DELETE / " +
                "INSERT ... VALUES / DO NOTHING)")
          }
          GraftSession.MergeWhen(isMatched, predText.map(p => expr(p)), action)
        }
        merge(name, srcDf, expr(onCond), whens,
          Option(aliasOrNull))
      case deleteRe(name, rest) =>
        // DELETE FROM t [USING src [alias]] [WHERE cond] [RETURNING list]
        val (beforeRet, retList) = splitAtTopLevelKeyword(rest, "RETURNING")
        val (beforeWhere, cond) = splitAtTopLevelKeyword(beforeRet, "WHERE")
        val (_, usingSrc) = splitAtTopLevelKeyword(beforeWhere, "USING")
        val where =
          org.apache.spark.sql.functions.expr(cond.getOrElse("true"))
        usingSrc match {
          case Some(src) =>
            val srcDf = parseTableRef(src)
            val result = deleteUsing(name, srcDf, where)
            retList.map(applyReturningUsing(name, result, srcDf, where, _))
              .getOrElse(result)
          case None =>
            val result = delete(name, where)
            retList.map(applyReturning(result, _)).getOrElse(result)
        }
      case other => sql(other)
    }
  }

  /** SQL macro (reference CREATE FUNCTION → pg_rewrite macro, expanded at
    * plan time — transform_macro.cpp): body is substituted textually at
    * call sites before Catalyst parses. Persisted like views. */
  def createMacro(name: String, params: Seq[String], body: String): Unit = {
    macros(name) = (params, body)
    val md = rootPath.resolve("_macros")
    Files.createDirectories(md)
    Files.writeString(md.resolve(s"$name.sql"),
      params.mkString(",") + "\n" + body)
  }
  private val macros =
    scala.collection.mutable.Map[String, (Seq[String], String)]()
  locally {
    val md = rootPath.resolve("_macros")
    if (Files.exists(md))
      Files.list(md).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".sql")).foreach { p =>
          val Array(ps, body) = Files.readString(p).split("\n", 2)
          macros(p.getFileName.toString.stripSuffix(".sql")) =
            (ps.split(",").map(_.trim).filter(_.nonEmpty).toSeq, body)
        }
  }

  /** Expands macro call sites `name(arg1, arg2)` by parameter
    * substitution (innermost-args only; nested parens in args supported
    * via depth counting). */
  private def expandMacros(q: String): String = {
    var out = q
    var changed = true
    var guard = 0
    while (changed && guard < 10) {
      changed = false
      guard += 1
      macros.foreach { case (name, (params, body)) =>
        def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_'
        // advance past occurrences embedded in longer identifiers
        // (net_price must not block a later bare price(...) call) and
        // past occurrences inside literals/comments (macro spellings in
        // data must stay data)
        var idx = out.indexOf(name + "(")
        while (idx > 0 && (isIdentChar(out.charAt(idx - 1)) ||
            inOpaque(out, idx)))
          idx = out.indexOf(name + "(", idx + 1)
        if (idx >= 0) {
          var depth = 0
          var end = idx + name.length
          var done = false
          while (end < out.length && !done) {
            out.charAt(end) match {
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) done = true
              case _ =>
            }
            end += 1
          }
          val argStr = out.substring(idx + name.length + 1, end - 1)
          val args = splitTopLevel(argStr).map(_.trim)
          var expanded = body
          params.zip(args).foreach { case (p, a) =>
            expanded = expanded.replaceAll(s"\\b$p\\b",
              scala.util.matching.Regex.quoteReplacement(s"($a)"))
          }
          out = out.substring(0, idx) + s"($expanded)" + out.substring(end)
          changed = true
        }
      }
    }
    out
  }

  /** Finds the first occurrence of `kw` outside string literals and parens,
    * returning (before, Some(after)) or (all, None). Used to carve UPDATE /
    * DELETE statements into SET / FROM / USING / WHERE / RETURNING parts
    * without a full SQL parser — a keyword inside a string literal or a
    * parenthesized subquery never splits. */
  private def splitAtTopLevelKeyword(s: String, kw: String): (String, Option[String]) = {
    val k = kw.length
    var inQuote = false
    var depth = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote => depth -= 1
        case c if !inQuote && depth == 0 &&
            c.toUpper == kw.charAt(0).toUpper && i + k <= s.length &&
            s.substring(i, i + k).equalsIgnoreCase(kw) &&
            (i == 0 || s.charAt(i - 1).isWhitespace) &&
            (i + k == s.length || s.charAt(i + k).isWhitespace ||
              s.charAt(i + k) == '(') =>
          return (s.substring(0, i).trim, Some(s.substring(i + k).trim))
        case _ =>
      }
      i += 1
    }
    (s.trim, None)
  }

  /** `tbl [AS] [alias]` source spec of UPDATE…FROM / DELETE…USING. */
  private def parseTableRef(spec: String): DataFrame = {
    val toks = spec.trim.split("\\s+").filterNot(_.equalsIgnoreCase("AS"))
    val df = table(toks(0))
    if (toks.length > 1) df.as(toks(1)) else df.as(toks(0))
  }

  /** RETURNING list applied to the full-row frame DML calls return. */
  private def applyReturning(df: DataFrame, list: String): DataFrame =
    if (list.trim == "*") df
    else df.selectExpr(splitTopLevel(list).map(_.trim): _*)

  /** DELETE … USING … RETURNING: the deleted-row snapshot carries only the
    * target's columns; if the list references the USING source (legal in
    * PG), re-join the snapshot against the source on the same condition —
    * one output row per deleted row (an arbitrary match when several
    * source rows match, same as PG). */
  private def applyReturningUsing(name: String, deleted: DataFrame,
      src: DataFrame, cond: Column, list: String): DataFrame =
    try applyReturning(deleted.as(name), list)
    catch { case _: org.apache.spark.sql.AnalysisException =>
      // rid is deterministic here: the deleted snapshot is a stable scan
      // of the statement's _returning_* dir
      val wide = deleted
        .withColumn("__graft_rid", monotonically_increasing_id()).as(name)
        .join(src, cond).dropDuplicates("__graft_rid")
        .drop("__graft_rid")
      applyReturning(wide, list)
    }

  /** Splits a SET-clause list on commas at paren/quote depth 0 only, so
    * `a = greatest(x, y), b = ','` parses correctly. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    s.foreach { ch =>
      ch match {
        case '\'' => inQuote = !inQuote; cur += ch
        case '(' if !inQuote => depth += 1; cur += ch
        case ')' if !inQuote => depth -= 1; cur += ch
        case ',' if !inQuote && depth == 0 =>
          out += cur.toString; cur.clear()
        case _ => cur += ch
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  /** UDF registration surface (reference register_udf /
    * operator_register_udf): thin naming shim over spark.udf. */
  def registerUdf[A, B](name: String, f: A => B)(
      implicit ta: reflect.runtime.universe.TypeTag[B],
      tb: reflect.runtime.universe.TypeTag[A]): Unit =
    spark.udf.register(name, f)

  /** UDAF registration (reference aggregate_function kernels /
    * register_udf aggregate path): a typed Aggregator exposed to SQL. */
  def registerUdaf[I, B, O](name: String,
      agg: org.apache.spark.sql.expressions.Aggregator[I, B, O])(
      implicit enc: org.apache.spark.sql.Encoder[I]): Unit =
    spark.udf.register(name,
      org.apache.spark.sql.functions.udaf(agg, enc))

  // ------------------------------------------------------------- plumbing

  /** Loads metadata for any on-disk table this session hasn't touched yet
    * (fresh-session catalog recovery — pg_class scan analogue). */
  private def discoverTables(): Unit = {
    Files.list(rootPath).iterator.asScala
      .filter(p => Files.isDirectory(p) &&
        Files.exists(p.resolve("_graft_meta").resolve("schema.ddl")))
      .map(_.getFileName.toString)
      .filterNot(tables.contains)
      .foreach(loadMeta)
  }

  private def state(name: String): TableState =
    tables.getOrElse(name, loadMeta(name).getOrElse(
      throw new IllegalArgumentException(s"no such table: $name")))

  private def tableDir(name: String): Path =
    rootPath.resolve(name.replace('.', '/'))
  private def dataDir(name: String): Path = tableDir(name).resolve("data")

  private def listBatches(name: String): Seq[Path] =
    Files.list(dataDir(name)).iterator.asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("batch_")).sortBy(_.toString)

  /** Monotonic per-table batch-directory counter (survives restarts via
    * the _generation file; never reset so dir names are never reused). */
  private def bumpGeneration(name: String): Long = {
    val next = peekGeneration(name)
    Files.createDirectories(tableDir(name))
    Files.writeString(tableDir(name).resolve("_generation"), next.toString)
    next
  }

  /** The generation the NEXT batch will get (no bump). */
  private def peekGeneration(name: String): Long = {
    val f = tableDir(name).resolve("_generation")
    (if (Files.exists(f)) Files.readString(f).trim.toLong else -1L) + 1
  }

  /** Metadata = union schema DDL + tombstones + flags; schema round-trips
    * through StructType.toDDL/fromDDL (no hand-rolled JSON). */
  private def persistMeta(name: String): Unit = {
    val st = tables(name)
    val meta = tableDir(name).resolve("_graft_meta")
    Files.createDirectories(meta)
    Files.writeString(meta.resolve("schema.ddl"), st.schema.toDDL)
    Files.writeString(meta.resolve("tombstones.txt"),
      st.tombstones.mkString("\n"))
    Files.writeString(meta.resolve("kind.txt"), if (st.dynamic) "g" else "r")
    Files.writeString(meta.resolve("renames.txt"),
      renames.getOrElse(name, Map.empty)
        .map { case (k, (old, gen)) => s"$k=$old@$gen" }.mkString("\n"))
  }

  private def loadMeta(name: String): Option[TableState] = {
    val meta = tableDir(name).resolve("_graft_meta")
    if (!Files.exists(meta.resolve("schema.ddl"))) return None
    val ddl = Files.readString(meta.resolve("schema.ddl"))
    val schema = if (ddl.trim.isEmpty) new StructType()
                 else StructType.fromDDL(ddl)
    val tomb = Files.readString(meta.resolve("tombstones.txt"))
      .split("\n").filter(_.nonEmpty).toSet
    val dynamic = Files.readString(meta.resolve("kind.txt")).trim == "g"
    val rn = Files.readString(meta.resolve("renames.txt"))
      .split("\n").filter(l => l.contains("=") && l.contains("@")).map { l =>
        val Array(k, v) = l.split("=", 2)
        val Array(old, gen) = v.split("@", 2)
        k -> (old, gen.toLong)
      }.toMap
    if (rn.nonEmpty) renames(name) = rn
    val st = TableState(dynamic, schema, tomb)
    tables(name) = st
    loadConstraints(name)
    Some(st)
  }

  /** Two-string-column local frame for catalog introspection results. */
  private def catalogDf(rows: Seq[(String, String)], c1: String,
                        c2: String): DataFrame = {
    val jrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.foreach { case (a, b) =>
      jrows.add(org.apache.spark.sql.Row(a, b)) }
    spark.createDataFrame(jrows, StructType(Seq(
      StructField(c1, StringType), StructField(c2, StringType))))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)
}

object GraftSession {
  def apply(spark: SparkSession, root: String): GraftSession =
    new GraftSession(spark, root)

  /** Marker message of the fused UPDATE…FROM multi-match guard; also the
    * needle used to recognize it inside SparkException cause chains. */
  private[api] val MultiMatchMsg =
    "UPDATE...FROM: a target row matches multiple source rows"

  /** Same fused-guard marker for MERGE's one-source-row rule (PG: "MERGE
    * command cannot affect row a second time"). */
  private[api] val MergeMultiMsg =
    "MERGE: a target row is affected by multiple source rows"

  private[api] def causeChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).toSeq

  // ---- MERGE WHEN-clause model (SQL:2003 / PG 15 MERGE) ----
  sealed trait MergeAction
  /** WHEN [NOT] MATCHED ... THEN UPDATE SET col = expr, ... */
  final case class MergeUpdate(set: Map[String, Column]) extends MergeAction
  /** WHEN MATCHED ... THEN DELETE */
  case object MergeDelete extends MergeAction
  /** WHEN NOT MATCHED ... THEN INSERT [(cols)] VALUES (exprs); empty
    * `cols` = positional against the target's declared column order. */
  final case class MergeInsert(cols: Seq[String], values: Seq[Column])
    extends MergeAction
  /** WHEN ... THEN DO NOTHING */
  case object MergeNothing extends MergeAction

  /** One WHEN arm: `matched` selects the join side, `pred` is the
    * optional AND condition, arms evaluate in statement order
    * (first applicable wins, like a chained CASE). */
  final case class MergeWhen(matched: Boolean, pred: Option[Column],
                             action: MergeAction)
}
