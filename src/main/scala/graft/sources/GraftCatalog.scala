package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The SQL surface over [[ManifestStore]] tables — a DSv2 [[TableCatalog]]
  * of PATH-identified tables, the way a platform user consumes Delta
  * (`delta.{path}`) rather than a DataFrame-only API. Registered once:
  *
  * {{{
  * spark.sql.catalog.graft = graft.sources.GraftCatalog
  * }}}
  *
  * and the whole table-format lifecycle is plain SQL (this is the
  * reference's landing read/write pair, `services/staging/app/
  * reader_landing.py:5-26` / `writer_landing.py:16-55`, lifted to the
  * level its platform users actually script against):
  *
  * {{{
  * CREATE TABLE graft.`/lake/events` (k BIGINT, v STRING)
  * INSERT INTO graft.`/lake/events` VALUES (1, 'a')
  * INSERT OVERWRITE graft.`/lake/events` SELECT ...
  * SELECT * FROM graft.`/lake/events` WHERE k >= 250      -- pruned scan
  * SELECT * FROM graft.`/lake/events` VERSION AS OF 3     -- time travel
  * SELECT * FROM graft.`/lake/events` TIMESTAMP AS OF '2026-08-14 10:00:00'
  * DELETE FROM graft.`/lake/events` WHERE k % 7 = 0       -- dv tombstones
  * }}}
  *
  * Identifiers: the backquoted table name IS the table directory; no
  * namespace levels exist (`listTables` over an unbounded path space is
  * meaningless and returns nothing). Time travel resolves `VERSION AS OF`
  * digits as a manifest version and any other string as a TAG name;
  * `TIMESTAMP AS OF` resolves through the manifest publish instants.
  *
  * Execution: reads are rewritten at analysis time by [[ManifestV2Rewrite]]
  * into the native declarative plan — vectorized parquet over
  * [[ManifestFileIndex]] (manifest-listed, stat/partition/bloom pruned),
  * plus the row-identity anti-join when deletion vectors exist — so SQL
  * reads keep whole-stage codegen even on dv tables. A session without the
  * extensions still gets CORRECT results through [[ManifestScanBuilder]]'s
  * V1Scan fallback (Row boundary, documented cost). Writes go through
  * [[V1Write]] → the same OCC manifest commits every other writer uses.
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  /** SQL `ALTER TABLE … ADD/DROP CONSTRAINT` routes here only when the
    * catalog declares the capability (Spark refuses otherwise).
    */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] = {
    import org.apache.spark.sql.connector.catalog.TableCatalogCapability._
    // constraints: see alterTable's ADD/DROP CONSTRAINT. Defaults: Spark
    // encodes `DEFAULT <expr>` into the CURRENT_DEFAULT / EXISTS_DEFAULT
    // StructField metadata keys, which travel in the manifest schema —
    // INSERT-side injection is Spark's own analysis, read-side
    // existence-fill is the parquet reader's (the manifest just has to
    // KEEP the metadata; see ColumnMapping.physicalSchema)
    Set(SUPPORT_TABLE_CONSTRAINT, SUPPORT_COLUMN_DEFAULT_VALUE).asJava
  }

  private def spark: SparkSession = SparkSession.active

  /** `CALL graft.vacuum('/dir', …)` etc — see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().isEmpty, s"unknown procedure namespace " +
      ident.namespace().mkString("."))
    GraftProcedures.all.getOrElse(ident.name(),
      throw new IllegalArgumentException(s"unknown procedure ${ident.name()} — " +
        s"available: ${GraftProcedures.all.keys.toSeq.sorted.mkString(", ")}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else GraftProcedures.all.keys.toArray.sorted
      .map(Identifier.of(Array.empty[String], _))

  /** The table directory a path identifier names. Nested namespaces are
    * refused loudly — `graft.a.b` is ambiguous between a path and a
    * namespace tree, and silently joining parts would read an unintended
    * directory.
    */
  private def dirOf(ident: Identifier): String = {
    if (ident.namespace().nonEmpty)
      throw new NoSuchTableException(ident)
    ident.name()
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-identified tables: the namespace is not enumerable

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      ManifestStore.currentSnapshot(spark, ident.name()).isDefined

  override def loadTable(ident: Identifier): Table = {
    // metadata tables, the Iceberg naming convention: graft.`/dir`.history
    // parses as namespace [/dir] + name history
    if (ident.namespace().length == 1 &&
        ManifestMetaTable.kinds.contains(ident.name())) {
      val dir = ident.namespace()(0)
      if (ManifestStore.currentSnapshot(spark, dir).isEmpty)
        throw new NoSuchTableException(ident)
      return ManifestMetaTable(dir, ident.name())
    }
    val dir = dirOf(ident)
    val snap = ManifestStore.currentSnapshot(spark, dir)
      .getOrElse(throw new NoSuchTableException(ident))
    ManifestTableV2(dir, snap)
  }

  /** `VERSION AS OF v` — digits pin a manifest version, anything else
    * resolves as a tag name (tags are the named versions).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    val v =
      if (version.nonEmpty && version.forall(_.isDigit)) version.toLong
      else ManifestStore.tagVersion(spark, dir, version).getOrElse(
        throw new NoSuchTableException(ident))
    val snap = scala.util.Try(ManifestStore.readManifest(spark, dir, v))
      .getOrElse(throw new NoSuchTableException(ident))
    ManifestTableV2(dir, snap)
  }

  /** `TIMESTAMP AS OF ts` — Spark hands epoch MICROseconds; the manifest
    * publish instants are milliseconds.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    val v = ManifestStore.versionAsOf(spark, dir, timestampMicros / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    ManifestTableV2(dir, ManifestStore.readManifest(spark, dir, v))
  }

  /** `CREATE TABLE … [PARTITIONED BY (col, …)]` — identity column
    * transforms only: the manifest records ONE partition value per file
    * (no directory-scheme coupling), so bucket/days/hours transforms have
    * no representation and refuse loudly. The declared columns persist in
    * the manifest (`Snapshot.partitionCols`); every catalog write routes
    * through the hive-partitioned writer and per-file partition values
    * prune reads exactly.
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    val (pcols, ccols) = partitionSpec(partitions)
    ccols.foreach(c => require(schema.fieldNames.contains(c),
      s"CLUSTER BY column '$c' not in schema"))
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // user TBLPROPERTIES persist in the manifest; Spark-internal keys
    // (provider/location/owner + option passthrough) are engine state,
    // not user metadata
    val userProps = GraftCatalog.userProps(properties.asScala.toMap)
    val withCluster = if (ccols.isEmpty) userProps
      else userProps + (GraftCatalog.clusterProp -> ccols.mkString(","))
    ManifestStore.createEmpty(spark, dir, schema, pcols, withCluster)
    ManifestTableV2(dir, ManifestStore.currentSnapshot(spark, dir).get)
  }

  /** Atomic CTAS / REPLACE TABLE / CREATE OR REPLACE (AS SELECT): the
    * staged-commit protocol. The query's data files write UNPUBLISHED
    * under the table directory; `commitStagedChanges` publishes them as
    * ONE manifest version — `create-as` for a fresh table, `overwrite`
    * for a replace, which REDEFINES schema, declared partitioning and
    * properties verbatim (prior contents stay time-travelable). A
    * failure before commit leaves only vacuum-collectable staged files —
    * never a half-created table.
    */
  override def stageCreate(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    staged(ident, info, create = true)
  }

  override def stageReplace(ident: Identifier,
                            info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    staged(ident, info, create = false)
  }

  override def stageCreateOrReplace(ident: Identifier,
                                    info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, info, create = !tableExists(ident))

  private def staged(ident: Identifier,
                     info: org.apache.spark.sql.connector.catalog.TableInfo,
                     create: Boolean): GraftStagedTable = {
    val dir = dirOf(ident)
    val (pcols, ccols) = partitionSpec(info.partitions())
    ccols.foreach(c => require(info.schema().fieldNames.contains(c),
      s"CLUSTER BY column '$c' not in schema"))
    val userProps = GraftCatalog.userProps(info.properties().asScala.toMap)
    val withCluster = if (ccols.isEmpty) userProps
      else userProps + (GraftCatalog.clusterProp -> ccols.mkString(","))
    GraftStagedTable(dir, info.schema(), pcols, withCluster, create)
  }

  /** Declared layout from the CREATE transforms: PARTITIONED BY identity
    * columns or HIDDEN transforms — `days(ts)` / `hours(ts)` /
    * `bucket(n, col)` / `truncate(w, col)`
    * ([[PartitionSpec]]: per-file derived partition
    * value in the manifest; predicates on the SOURCE column auto-prune)
    * — and/or CLUSTER BY columns (declarative Z-order — recorded as the
    * engine-managed `graft.cluster` property; `compact_small` and the
    * streaming sink's autoCompact Z-order by them with no per-call
    * argument, the liquid-clustering UX). Anything else refuses loudly.
    */
  private def partitionSpec(partitions: Array[Transform]): (Seq[String], Seq[String]) = {
    val pcols = Seq.newBuilder[String]
    val ccols = Seq.newBuilder[String]
    def oneRef(t: Transform): String = {
      require(t.references().length == 1 &&
        t.references()(0).fieldNames().length == 1,
        s"transform ${t.name} supports exactly one top-level column")
      t.references()(0).fieldNames()(0)
    }
    partitions.toSeq.foreach {
      case t if t.name == "identity" && t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        pcols += t.references()(0).fieldNames()(0)
      case t if t.name == "days" =>
        pcols += PartitionSpec.Spec(PartitionSpec.Days, oneRef(t)).render
      case t if t.name == "hours" =>
        pcols += PartitionSpec.Spec(PartitionSpec.Hours, oneRef(t)).render
      case t if t.name == "months" =>
        pcols += PartitionSpec.Spec(PartitionSpec.Months, oneRef(t)).render
      case t if t.name == "years" =>
        pcols += PartitionSpec.Spec(PartitionSpec.Years, oneRef(t)).render
      case t if t.name == "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform carries no bucket-count literal: $t"))
        pcols += PartitionSpec.Spec(PartitionSpec.Bucket(n), oneRef(t)).render
      case t if t.name == "truncate" =>
        val w = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"truncate transform carries no width literal: $t"))
        pcols += PartitionSpec.Spec(PartitionSpec.Truncate(w), oneRef(t)).render
      case org.apache.spark.sql.connector.expressions.ClusterByTransform(refs) =>
        refs.foreach { r =>
          require(r.fieldNames().length == 1,
            "CLUSTER BY supports top-level columns only")
          ccols += r.fieldNames()(0)
        }
      case other => throw new UnsupportedOperationException(
        s"graft tables support PARTITIONED BY identity columns, " +
          s"years(ts), months(ts), days(ts), hours(ts), bucket(n, col), " +
          s"truncate(w, col), and CLUSTER BY — got transform $other")
    }
    (pcols.result(), ccols.result())
  }

  /** `ALTER TABLE … ADD COLUMNS / RENAME COLUMN / DROP COLUMN`.
    *
    * ADD COLUMNS is the widening evolution every write already admits — a
    * metadata-only `schema` commit; pre-evolution files null-fill.
    *
    * RENAME and DROP are METADATA-ONLY too, via [[ColumnMapping]] (Delta's
    * `columnMapping.mode = name` re-derived for the manifest): a rename
    * pins the field's immutable PHYSICAL name and changes only the logical
    * one; a drop removes the field and parks its physical name in the
    * `graft.retired` property so a later ADD of the same name takes a
    * fresh physical identity instead of resurrecting dropped bytes. Data
    * files, stats, blooms, partition paths never change — a rename on a
    * 100 TB table costs one JSON write. Time travel is exact: each
    * version's snapshot carries the schema (and mapping) of its own era.
    *
    * Still refused: TYPE changes (would reinterpret stored bytes), DROP of
    * a declared partition column (the layout and pruning plan by it), and
    * nested-field surgery.
    *
    * Concurrency: rename/drop derive the new schema from the current
    * snapshot and commit with a schema-unchanged guard
    * ([[ManifestStore.alterColumnsExact]]); a racing ALTER re-plans
    * (bounded retries) instead of last-writer-clobbering.
    */
  override def alterTable(ident: Identifier,
                          changes: org.apache.spark.sql.connector.catalog.TableChange*): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange
    val dir = dirOf(ident)
    // SET/UNSET TBLPROPERTIES: a pure property-bag commit (op
    // `properties`, data-neutral); mixing with schema changes in one
    // statement is not a SQL shape, so the two paths stay disjoint
    if (changes.forall(c => c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])) {
      val sets = changes.collect {
        case sp: TableChange.SetProperty => sp.property() -> sp.value() }.toMap
      val unsets = changes.collect {
        case rp: TableChange.RemoveProperty => rp.property() }
      (sets.keys ++ unsets).foreach(k =>
        require(!GraftCatalog.reservedProps(k) && !k.startsWith("graft."),
          s"table property '$k' is reserved (engine-maintained namespace)"))
      ManifestStore.setProperties(spark, dir, sets, unsets)
      return ManifestTableV2(dir, ManifestStore.currentSnapshot(spark, dir)
        .getOrElse(throw new NoSuchTableException(ident)))
    }
    // ALTER TABLE CLUSTER BY (cols) / CLUSTER BY NONE: re-point the
    // declared Z-order dimensions — a property-only commit; the NEXT
    // maintenance pass clusters by the new columns (existing files are
    // untouched, Delta's liquid-clustering rule)
    if (changes.forall(_.isInstanceOf[TableChange.ClusterBy])) {
      val snap0 = ManifestStore.currentSnapshot(spark, dir)
        .getOrElse(throw new NoSuchTableException(ident))
      val ss = snap0.schema.getOrElse(throw new IllegalStateException(
        s"manifest table $dir records no schema"))
      changes.foreach { case cb: TableChange.ClusterBy =>
        val cols = cb.clusteringColumns().toSeq.map { r =>
          require(r.fieldNames().length == 1,
            "CLUSTER BY supports top-level columns only")
          val c = r.fieldNames()(0)
          require(ss.fieldNames.contains(c),
            s"CLUSTER BY column '$c' not in table $dir")
          ColumnMapping.physFor(ss, c) // store the immutable identity
        }
        if (cols.isEmpty)
          ManifestStore.setProperties(spark, dir, Map.empty,
            Seq(GraftCatalog.clusterProp))
        else
          ManifestStore.setProperties(spark, dir,
            Map(GraftCatalog.clusterProp -> cols.mkString(",")), Nil)
      }
      return ManifestTableV2(dir, ManifestStore.currentSnapshot(spark, dir).get)
    }
    // ADD/DROP CONSTRAINT: engine-managed `graft.check.<name>` properties.
    // ADD validates EXISTING rows first (one pruning-eligible scan — the
    // Delta discipline: a constraint that doesn't hold is refused, not
    // recorded); enforcement of future writes happens at the store's
    // write choke points ([[ManifestStore]] enforceChecks). CHECK only —
    // UNIQUE/PK/FK would need global indexes the format doesn't keep.
    if (changes.forall(c => c.isInstanceOf[TableChange.AddConstraint] ||
        c.isInstanceOf[TableChange.DropConstraint])) {
      val snap0 = ManifestStore.currentSnapshot(spark, dir)
        .getOrElse(throw new NoSuchTableException(ident))
      changes.foreach {
        case ac: TableChange.AddConstraint =>
          val chk = ac.constraint() match {
            case c: org.apache.spark.sql.connector.catalog.constraints.Check => c
            case other => throw new UnsupportedOperationException(
              s"only CHECK constraints are enforceable on write — got " +
                s"'${other.toDDL}' (UNIQUE/PK/FK need global indexes the " +
                "manifest format does not keep)")
          }
          val sql = Option(chk.predicateSql()).filter(_.nonEmpty).getOrElse(
            throw new IllegalArgumentException(
              s"CHECK constraint '${chk.name()}' carries no predicate SQL"))
          val key = s"graft.check.${chk.name()}"
          require(!snap0.props.contains(key),
            s"constraint '${chk.name()}' already exists on $dir")
          // the predicate must resolve against the logical schema AND
          // hold on every existing row (nulls pass, per ANSI CHECK)
          val p = org.apache.spark.sql.functions.expr(sql)
          val bad = ManifestStore.readLatest(spark, dir)
            .filter(!p && p.isNotNull).limit(1).count()
          require(bad == 0L,
            s"cannot add CHECK constraint '${chk.name()}' ($sql): " +
              "existing rows violate it")
          ManifestStore.setProperties(spark, dir, Map(key -> sql), Nil)
        case dc: TableChange.DropConstraint =>
          val key = s"graft.check.${dc.name()}"
          if (!snap0.props.contains(key) && !dc.ifExists())
            throw new IllegalArgumentException(
              s"no constraint '${dc.name()}' on $dir")
          ManifestStore.setProperties(spark, dir, Map.empty, Seq(key))
      }
      return ManifestTableV2(dir, ManifestStore.currentSnapshot(spark, dir).get)
    }
    val widenOnly = changes.forall(_.isInstanceOf[TableChange.AddColumn])
    var attempts = 0
    while (true) {
      val snap = ManifestStore.currentSnapshot(spark, dir)
        .getOrElse(throw new NoSuchTableException(ident))
      val base = snap.schema.getOrElse(throw new IllegalStateException(
        s"manifest table $dir records no schema — cannot ALTER"))
      var schema = base
      var retire = List.empty[String]
      var props = snap.props
      def oneCol(fieldNames: Array[String], what: String): String = {
        require(fieldNames.length == 1,
          s"$what supports top-level columns only")
        fieldNames(0)
      }
      def fieldOf(name: String): StructField =
        schema.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(
            s"no column '$name' in table $dir"))
      // CHECK predicates reference columns by LOGICAL name; a rename or
      // drop of a referenced column would silently break them — refuse
      // (Delta's discipline: drop the constraint first)
      def constraintsOn(col: String): Seq[String] =
        snap.props.toSeq.collect {
          case (k, sql) if k.startsWith("graft.check.") &&
              spark.sessionState.sqlParser.parseExpression(sql).collect {
                case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                  a.nameParts.head
              }.contains(col) =>
            k.stripPrefix("graft.check.")
        }
      changes.foreach {
        case add: TableChange.AddColumn =>
          val name = oneCol(add.fieldNames(), "ADD COLUMNS")
          require(add.isNullable,
            "added columns must be nullable — pre-evolution files null-fill")
          require(!schema.fieldNames.contains(name),
            s"column '$name' already exists")
          // DEFAULT travels as Spark's CURRENT_DEFAULT (future INSERTs,
          // injected by Spark's analysis) + EXISTS_DEFAULT (the folded
          // constant pre-evolution rows read instead of null — consumed
          // by the parquet reader straight from the manifest schema)
          val base0 = StructField(name, add.dataType(), nullable = true)
          val withDefault = Option(add.defaultValue()) match {
            case None => base0
            case Some(dv) =>
              import org.apache.spark.sql.catalyst.util.{ResolveDefaultColumns => RDC}
              val lit = Option(dv.getValue).getOrElse(
                throw new UnsupportedOperationException(
                  s"DEFAULT for '$name' does not fold to a constant — " +
                    "only literal-foldable defaults are supported"))
              val mb = new org.apache.spark.sql.types.MetadataBuilder()
              mb.putString(RDC.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
                Option(dv.getSql).getOrElse(lit.toString))
              mb.putString(RDC.EXISTS_DEFAULT_COLUMN_METADATA_KEY,
                lit.toString)
              base0.copy(metadata = mb.build())
          }
          // fresh physical identity when the name was ever used physically
          val phys = ColumnMapping.freshPhysical(name, schema, props)
          schema = StructType(schema.fields :+
            ColumnMapping.withPhysical(withDefault, phys))
        case rn: TableChange.RenameColumn =>
          val from = oneCol(rn.fieldNames(), "RENAME COLUMN")
          val to = rn.newName()
          val f = fieldOf(from)
          require(!schema.fieldNames.contains(to),
            s"cannot rename '$from' to '$to': column exists")
          require(constraintsOn(from).isEmpty,
            s"cannot rename '$from': CHECK constraint(s) " +
              s"${constraintsOn(from).mkString(", ")} reference it — " +
              "drop the constraint first")
          val phys = ColumnMapping.physicalName(f)
          schema = StructType(schema.fields.map { g =>
            if (g.name == from)
              ColumnMapping.withPhysical(g.copy(name = to), phys)
            else g
          })
        case del: TableChange.DeleteColumn =>
          val name = oneCol(del.fieldNames(), "DROP COLUMN")
          val f = fieldOf(name)
          val phys = ColumnMapping.physicalName(f)
          require(!snap.partitionCols.exists(s =>
              PartitionSpec.sourceCol(s) == phys),
            s"cannot drop '$name': a declared partition field derives " +
              "from it — the table's file layout and pruning plan by it")
          require(schema.fields.length > 1,
            s"cannot drop '$name': it is the table's only column")
          require(constraintsOn(name).isEmpty,
            s"cannot drop '$name': CHECK constraint(s) " +
              s"${constraintsOn(name).mkString(", ")} reference it — " +
              "drop the constraint first")
          schema = StructType(schema.fields.filterNot(_.name == name))
          retire ::= phys
          props = ColumnMapping.withRetired(props, Seq(phys))
        case ut: TableChange.UpdateColumnType =>
          // LOSSLESS widening only ([[ManifestStore.widens]]): the parquet
          // vectorized reader serves old INT32/FLOAT pages under the
          // widened read schema natively, so this is METADATA-ONLY — no
          // file rewrite, stats already live in the long/double stat
          // space. Narrowing / lossy shapes (long→int, long→double,
          // double→float) refuse: they would reinterpret stored values.
          val name = oneCol(ut.fieldNames(), "ALTER COLUMN TYPE")
          val f = fieldOf(name)
          require(ManifestStore.widens(f.dataType, ut.newDataType()),
            s"cannot change column '$name' from ${f.dataType.simpleString} " +
              s"to ${ut.newDataType().simpleString} — only lossless " +
              "widenings (byte/short/int→long, byte/short/int/float→" +
              "double, decimal(p,s)→decimal(p+k,s)) are metadata-only; " +
              "anything else would reinterpret immutable files")
          require(!snap.partitionCols.exists(s =>
              PartitionSpec.sourceCol(s) == ColumnMapping.physicalName(f)) ||
              ut.newDataType() != org.apache.spark.sql.types.DoubleType,
            s"cannot widen partition column '$name' to double — partition " +
              "path round-trips are exact for integral/string types only")
          schema = StructType(schema.fields.map(g =>
            if (g.name == name) g.copy(dataType = ut.newDataType()) else g))
        case cm: TableChange.UpdateColumnComment =>
          val name = oneCol(cm.fieldNames(), "ALTER COLUMN COMMENT")
          fieldOf(name)
          schema = StructType(schema.fields.map(g =>
            if (g.name == name) g.withComment(cm.newComment()) else g))
        case nl: TableChange.UpdateColumnNullability =>
          val name = oneCol(nl.fieldNames(), "ALTER COLUMN NULLABILITY")
          val f = fieldOf(name)
          require(nl.nullable() || !f.nullable,
            s"cannot add NOT NULL to '$name': existing files may hold " +
              "nulls the constraint cannot retroactively prove absent")
          schema = StructType(schema.fields.map(g =>
            if (g.name == name) g.copy(nullable = nl.nullable()) else g))
        case ud: TableChange.UpdateColumnDefaultValue =>
          // SET DEFAULT changes only CURRENT_DEFAULT (future INSERTs);
          // EXISTS_DEFAULT — what rows predating the column read — is
          // fixed at ADD time and never rewritten (Delta's rule: a
          // changed default must not rewrite history). DROP DEFAULT
          // removes the CURRENT key.
          import org.apache.spark.sql.catalyst.util.{ResolveDefaultColumns => RDC}
          val name = oneCol(ud.fieldNames(), "ALTER COLUMN DEFAULT")
          fieldOf(name)
          val newSql = Option(ud.newCurrentDefault()).map(dv =>
            Option(dv.getSql).getOrElse(dv.getExpression.toString))
            .orElse(Option(ud.newDefaultValue()).filter(_.nonEmpty))
          schema = StructType(schema.fields.map { g =>
            if (g.name != name) g
            else {
              val mb = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(g.metadata)
              mb.remove(RDC.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
              newSql.foreach(s => mb.putString(
                RDC.CURRENT_DEFAULT_COLUMN_METADATA_KEY, s))
              g.copy(metadata = mb.build())
            }
          })
        case other =>
          throw new UnsupportedOperationException(
            s"ALTER TABLE change $other is not supported — the manifest " +
              "admits ADD COLUMNS (nullable), RENAME/DROP COLUMN " +
              "(metadata-only via column mapping), lossless TYPE " +
              "widening, COMMENT, and DROP NOT NULL")
      }
      try {
        if (widenOnly)
          // pure widening merges concurrent-safely through mergeSchemas
          // (mapping metadata on both sides carries through the merge)
          ManifestStore.evolveSchema(spark, dir, schema)
        else
          ManifestStore.alterColumnsExact(spark, dir, base.json, schema,
            retire.reverse)
        return ManifestTableV2(dir, ManifestStore.currentSnapshot(spark, dir).get)
      } catch {
        case _: java.util.ConcurrentModificationException if attempts < 5 =>
          attempts += 1 // schema moved under us: re-plan from the new base
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** DROP TABLE on a path table would delete user data at a raw directory
    * — refuse rather than surprise (Delta's discipline for path tables).
    */
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      s"DROP TABLE on path table ${ident.name()} would delete the " +
        "directory's data — remove it explicitly if that is really intended")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME on path-identified tables is a filesystem move — do it " +
        "explicitly, or cloneShallow + retire the source")
}

private[sources] object GraftCatalog {
  /** Keys the engine maintains or Spark passes through internally — never
    * stored in the user property bag, refused on SET.
    */
  val reservedProps: Set[String] = Set("provider", "location", "owner",
    "external", "version", "op", "numFiles", "numRows", "sizeBytes",
    "partitionCols", ColumnMapping.RetiredProp)

  /** Declared CLUSTER BY columns (PHYSICAL names — immutable across
    * renames, like partitionCols) — consumed by compact_small / the
    * streaming sink's autoCompact as the default Z-order dimensions.
    */
  val clusterProp: String = "graft.cluster"

  /** The user property bag of a CREATE / staged CTAS / REPLACE: Spark-
    * internal passthrough keys dropped, the engine-maintained `graft.*`
    * namespace REFUSED — the same wall ALTER SET TBLPROPERTIES enforces.
    * A `graft.check.x` smuggled through TBLPROPERTIES would surface as a
    * never-validated constraint enforced on every write, and a bogus
    * `graft.cluster` would break later compaction.
    */
  private[sources] def userProps(raw: Map[String, String]): Map[String, String] = {
    raw.keys.find(_.startsWith("graft.")).foreach(k =>
      throw new IllegalArgumentException(
        s"table property '$k' is reserved (engine-maintained namespace) — " +
          "declare constraints via ALTER TABLE ADD CONSTRAINT and " +
          "clustering via CLUSTER BY"))
    raw.filterNot { case (k, _) => reservedProps(k) }
  }
}

/** One manifest table pinned to one [[ManifestStore.Snapshot]] — the DSv2
  * [[Table]] the catalog serves. Reads are snapshot-isolated to the pinned
  * version (time travel is just a different pin); writes commit through
  * the shared OCC manifest protocol regardless of the pin.
  */
private[graft] case class ManifestTableV2(dir: String,
                                          snap: ManifestStore.Snapshot)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"graft.`$dir`"

  /** User-visible shape: column-mapping metadata stripped (physical names
    * are a storage detail; internals resolve them through the snapshot).
    */
  override lazy val schema: StructType = ColumnMapping.stripMapping(
    snap.schema.getOrElse(
      throw new IllegalStateException(
        s"manifest table $dir records no schema — written by a pre-schema " +
          "writer; read it once through spark.read.format(\"graft-manifest\")" +
          ".schema(...) to re-record one")))

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE).asJava

  /** Snapshot facts for `DESCRIBE TABLE EXTENDED` / catalog tooling —
    * all from the already-read manifest, zero extra I/O.
    */
  override def properties(): util.Map[String, String] = {
    val base = snap.props ++ Map(
      "provider" -> "graft-manifest",
      "version" -> snap.version.toString,
      "op" -> snap.op,
      "numFiles" -> snap.files.size.toString)
    val sized =
      if (snap.files.forall(snap.sizes.contains))
        base + ("sizeBytes" -> snap.files.map(snap.sizes).sum.toString)
      else base
    val counted =
      if (snap.files.forall(snap.rows.contains))
        sized + ("numRows" -> (snap.files.map(snap.rows).sum -
          snap.files.flatMap(snap.dvs.get).map(_.deleted).sum).toString)
      else sized
    val parted =
      if (snap.partitionCols.isEmpty) counted
      else counted + ("partitionCols" -> logicalPartitionCols.mkString(", "))
    parted.asJava
  }

  /** Declared partition columns at the USER surface — the manifest stores
    * the immutable physical names; a renamed partition column displays
    * (and resolves in INSERT OVERWRITE PARTITION) under its current
    * logical name.
    */
  private[sources] def logicalPartitionCols: Seq[String] = snap.schema match {
    case Some(ss) => snap.partitionCols.map(
      PartitionSpec.mapCol(_, ColumnMapping.logicalFor(ss, _)))
    case None => snap.partitionCols
  }

  /** CHECK constraints from the engine-managed `graft.check.<name>`
    * properties — surfaced so DESCRIBE and Spark's constraint commands
    * see them; enforcement happens at the store's write choke points.
    */
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    snap.props.toSeq.collect {
      case (k, sql) if k.startsWith("graft.check.") =>
        Constraint.check(k.stripPrefix("graft.check."))
          .predicateSql(sql)
          .enforced(true)
          .validationStatus(Constraint.ValidationStatus.VALID)
          .build(): Constraint
    }.sortBy(_.name).toArray
  }

  /** Declared CLUSTER BY columns at the user surface (logical names). */
  private[sources] def logicalClusterCols: Seq[String] =
    snap.props.get(GraftCatalog.clusterProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(c => snap.schema match {
        case Some(ss) => ColumnMapping.logicalFor(ss, c)
        case None => c
      })

  /** Declared PARTITIONED-BY columns as identity transforms (plus the
    * CLUSTER BY transform when declared) — `DESCRIBE` and the planner
    * see the same layout every write/maintenance pass routes by.
    */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val parts: Array[Transform] = logicalPartitionCols.map { c =>
      val sp = PartitionSpec.parse(c)
      sp.kind match {
        case PartitionSpec.Identity => Expressions.identity(sp.col)
        case PartitionSpec.Days => Expressions.days(sp.col)
        case PartitionSpec.Hours => Expressions.hours(sp.col)
        case PartitionSpec.Months => Expressions.months(sp.col)
        case PartitionSpec.Years => Expressions.years(sp.col)
        case PartitionSpec.Bucket(n) => Expressions.bucket(n, sp.col)
        case PartitionSpec.Truncate(w) => Expressions.apply("truncate",
          Expressions.literal(w), Expressions.column(sp.col))
      }
    }.toArray
    val cc = logicalClusterCols
    if (cc.isEmpty) parts
    else parts :+ (org.apache.spark.sql.connector.expressions.ClusterByTransform(
      cc.toIndexedSeq.map(c => org.apache.spark.sql.connector.expressions
        .Expressions.column(c))): Transform)
  }

  /** The pinned snapshot's declarative read — what [[ManifestV2Rewrite]]
    * splices into the query plan in place of the v2 relation.
    */
  def read(session: SparkSession): DataFrame =
    ManifestStore.readVersion(session, dir, snap.version, schema)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ManifestWriteBuilder(this)

  /** SQL `TRUNCATE TABLE` — one metadata-only `overwrite` commit with an
    * empty file list: the rows stay time-travelable until vacuum, the
    * schema (and declared partitioning) survive, zero data I/O.
    */
  override def truncateTable(): Boolean = {
    ManifestStore.truncate(spark, dir)
    true
  }

  /** SQL `DELETE FROM … WHERE …` → merge-on-read deletion vectors
    * ([[ManifestStore.deleteWhere]]): O(matched rows) sidecar writes, no
    * data-file rewrite — with the filters also handed over as pruning
    * ranges so a clustered/bloomed table only scans candidate files.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => ManifestRead.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.toIndexedSeq.flatMap(ManifestRead.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // OCC: a lost race against a concurrent rewrite aborts with None —
    // surface it as the retryable conflict it is, never silence it
    if (ManifestStore.deleteWhere(spark, dir, schema, cond).isEmpty)
      throw new java.util.ConcurrentModificationException(
        s"DELETE FROM $dir lost a concurrent-commit race — retry")
  }
}

/** One in-flight atomic CTAS/REPLACE target ([[GraftCatalog.stageCreate]]
  * family): collects the query's staged data files, publishes them as one
  * manifest commit on `commitStagedChanges`, deletes them on abort.
  */
private[graft] case class GraftStagedTable(dir: String,
                                           stagedSchema: StructType,
                                           pcols: Seq[String],
                                           userProps: Map[String, String],
                                           create: Boolean)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with SupportsWrite {

  @volatile private var stagedFiles: Seq[String] = Nil
  @volatile private var stagedParts: Map[String, Map[String, String]] = Map.empty

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"graft.`$dir` (staged)"

  override lazy val schema: StructType = stagedSchema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate with SupportsOverwrite {
      // replace semantics are the COMMIT's job; the staged write itself
      // is always "these are the new contents"
      override def truncate(): WriteBuilder = this
      override def overwrite(filters: Array[Filter]): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val (fl, fp) = ManifestStore.stageData(data, dir, pcols)
              stagedFiles = fl
              stagedParts = fp
            }
          }
      }
    }

  override def commitStagedChanges(): Unit =
    ManifestStore.publishStaged(spark, dir, stagedSchema, stagedFiles,
      stagedParts, pcols, userProps, create): Unit

  override def abortStagedChanges(): Unit = {
    // staged nonce dirs are derivable from the file list; an abandoned
    // abort still leaves only vacuum-collectable unreferenced files
    val hc = spark.sparkContext.hadoopConfiguration
    stagedFiles.map(_.takeWhile(_ != '/')).distinct.foreach { rel =>
      val p = new org.apache.hadoop.fs.Path(dir, rel)
      try { p.getFileSystem(hc).delete(p, true): Unit }
      catch { case _: java.io.IOException => () }
    }
  }
}

/** Read-only METADATA tables under the Iceberg naming convention —
  * `graft.{dir}.history` / `.tags` / `.files` — the observability
  * surface (`DESCRIBE HISTORY` equivalent) as plain queryable tables:
  *
  * {{{
  * SELECT version, op, n_rows FROM graft.`/lake/t`.history ORDER BY version
  * SELECT * FROM graft.`/lake/t`.tags
  * SELECT file, size_bytes FROM graft.`/lake/t`.files WHERE rows IS NOT NULL
  * }}}
  *
  * All driver-side manifest reads (one JSON per version / the current
  * snapshot) — zero data-plane I/O, exactly like [[ManifestStore.history]].
  */
private[graft] case class ManifestMetaTable(dir: String, kind: String)
    extends Table with SupportsRead {

  override def name(): String = s"graft.`$dir`.$kind"

  override lazy val schema: StructType = kind match {
    case "history" => StructType.fromDDL(
      "version BIGINT, op STRING, commit_ms BIGINT, n_files INT, " +
        "n_rows BIGINT, n_dv_deleted BIGINT")
    case "tags" => StructType.fromDDL("name STRING, version BIGINT")
    case "files" => StructType.fromDDL(
      "file STRING, size_bytes BIGINT, rows BIGINT, dv_deleted BIGINT")
    case "partitions" => StructType.fromDDL(
      "partition STRING, n_files BIGINT, size_bytes BIGINT, rows BIGINT, " +
        "dv_deleted BIGINT")
  }

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  def read(session: SparkSession): DataFrame = {
    import session.implicits._
    kind match {
      case "history" => ManifestStore.history(session, dir)
      case "tags" =>
        ManifestStore.tags(session, dir).toSeq.sorted.toDF("name", "version")
      case "files" =>
        val s = ManifestStore.currentSnapshot(session, dir).getOrElse(
          ManifestStore.Snapshot(0L, Nil, "none"))
        s.files.map(f => (f, s.sizes.get(f), s.rows.get(f),
          s.dvs.get(f).map(_.deleted)))
          .toDF("file", "size_bytes", "rows", "dv_deleted")
      case "partitions" =>
        // per-partition-value live layout, straight off the manifest —
        // the "is partition X compacted / how big is it" operational
        // question with zero data-plane I/O. Value-less files group
        // under the empty partition key.
        val s = ManifestStore.currentSnapshot(session, dir).getOrElse(
          ManifestStore.Snapshot(0L, Nil, "none"))
        // recorded values key by PHYSICAL column (possibly a transform
        // spec); render with logical inner names
        def disp(k: String): String = s.schema match {
          case Some(ss) =>
            PartitionSpec.mapCol(k, ColumnMapping.logicalFor(ss, _))
          case None => k
        }
        s.files.groupBy(f => s.parts.getOrElse(f, Map.empty).toSeq
            .map { case (k, v) => s"${disp(k)}=$v" }.sorted.mkString(", "))
          .toSeq.sortBy(_._1)
          .map { case (p, fl) => (p, fl.size.toLong,
            fl.flatMap(s.sizes.get).sum, fl.flatMap(s.rows.get).sum,
            fl.flatMap(s.dvs.get).map(_.deleted).sum) }
          .toDF("partition", "n_files", "size_bytes", "rows", "dv_deleted")
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan { // no-extensions fallback; metadata rows are tiny
      override def readSchema(): StructType = schema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T = {
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = ManifestMetaTable.this.schema
          override def buildScan(): RDD[Row] = read(context.sparkSession).rdd
        }.asInstanceOf[T]
      }
    }
}

private[graft] object ManifestMetaTable {
  val kinds: Set[String] = Set("history", "tags", "files", "partitions")
}

/** Correctness fallback for sessions WITHOUT the graft extensions: a
  * [[V1Scan]] over the snapshot's dv-aware logical view, with pushed
  * filters and column pruning applied INSIDE the delegated plan (parquet
  * still sees them; the Row boundary is the documented cost — install
  * [[graft.plans.GraftExtensions]] to get the codegen'd rewrite instead).
  */
private[sources] class ManifestScanBuilder(table: ManifestTableV2)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = table.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // claim NONE handled: Spark re-applies all above the scan
  }

  override def pushedFilters(): Array[Filter] =
    pushed.filter(f => ManifestRead.filterToColumn(f).isDefined)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new V1Scan {
    override def readSchema(): StructType = required

    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      val (filters, cols) = (pushed, required)
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = cols
        override def buildScan(): RDD[Row] = {
          import org.apache.spark.sql.functions.col
          val base = table.read(context.sparkSession)
          val filtered = filters.toIndexedSeq
            .flatMap(ManifestRead.filterToColumn).foldLeft(base)(_ filter _)
          filtered.select(cols.fieldNames.toIndexedSeq.map(col): _*).rdd
        }
      }.asInstanceOf[T]
    }
  }
}

/** INSERT INTO / INSERT OVERWRITE / CTAS writes: [[V1Write]] onto the
  * manifest commit protocol. Append = [[ManifestStore.append]] (schema
  * merged widening-only); overwrite = [[ManifestStore.overwrite]] (one
  * atomic version replacing the file list). On a declared-partitioned
  * table, `INSERT OVERWRITE … PARTITION (col = v, …)` — equality filters
  * on partition columns — runs the PARTIAL overwrite
  * ([[ManifestStore.overwritePartitions]]: one atomic commit replacing
  * exactly the matching partitions, the backfill shape). Any other
  * overwrite predicate is refused — that shape belongs to deleteWhere +
  * append as two explicit commits.
  */
private[sources] class ManifestWriteBuilder(table: ManifestTableV2)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite {

  private var replace = false
  private var partitionFilter = Map.empty[String, String]

  override def truncate(): WriteBuilder = { replace = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    // SQL references logical names; overwritePartitions translates back
    val pcols = table.logicalPartitionCols.toSet
    val eqs = filters.toSeq.flatMap {
      case _: AlwaysTrue => None
      case org.apache.spark.sql.sources.EqualTo(c, v)
          if pcols.contains(c) && v != null => Some(c -> v.toString)
      case org.apache.spark.sql.sources.EqualNullSafe(c, v)
          if pcols.contains(c) && v != null => Some(c -> v.toString)
      case other => throw new UnsupportedOperationException(
        s"graft tables support whole-table INSERT OVERWRITE or PARTITION " +
          s"(col = value) equality on declared partition columns — got " +
          s"$other; for a general predicate overwrite, DELETE FROM … " +
          "WHERE … then INSERT INTO")
    }
    partitionFilter = eqs.toMap
    replace = true
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          // a PARTITIONED-BY table routes every write through the
          // hive-partitioned writer: per-file partition values land in
          // the manifest and prune reads exactly. LOGICAL names here —
          // the store translates to the immutable physical layout.
          val pcols = table.logicalPartitionCols
          if (replace || overwrite) {
            if (partitionFilter.nonEmpty)
              ManifestStore.overwritePartitions(data, table.dir, pcols,
                partitionFilter): Unit
            else if (pcols.nonEmpty)
              ManifestStore.overwritePartitioned(data, table.dir, pcols): Unit
            else ManifestStore.overwrite(data, table.dir): Unit
          } else {
            if (pcols.nonEmpty)
              ManifestStore.appendPartitioned(data, table.dir, pcols): Unit
            else ManifestStore.append(data, table.dir): Unit
          }
        }
      }
  }
}
