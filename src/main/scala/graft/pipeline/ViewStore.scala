package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, StructType}

/** Cross-run persistence of pipeline materializations — the Spark analog of
  * the reference's views living in the `.duckdb` file (`db_path`,
  * /root/reference/src/node.rs:157-165, src/main.rs:126-132): after a run,
  * a SECOND session over the same db_path sees every model.
  *
  * Spark temp views are session-scoped and the default in-memory catalog
  * forgets saveAsTable entries across JVMs, so parity needs a side store:
  * each view model's rendered SELECT is written to
  * `<dbPath>/_graft_views/<id>.sql` plus an ordered manifest (pipeline topo
  * order — dependencies replay before dependents). A table model's
  * parquet already lives in the warehouse; its manifest entry records the
  * catalog schema, partition columns and bucket spec, so restore
  * re-registers it with one `CREATE TABLE … LOCATION` and reads no file
  * (an entry written before the record existed is inferred from the
  * parquet once and rewritten with it). A missing `db_path` is the
  * reference's in-memory mode: nothing persists.
  *
  * Restore is warn-and-skip per entry, so a view over a since-dropped
  * table degrades exactly like a stale view in the reference: visible
  * error on use, no startup crash.
  *
  * Views a session registered from the store are remembered per session
  * ([[keepsRestoredView]]): a `--changed-only` skip of such a view keeps
  * that registration — no second analysis, no store write — while the
  * stored SQL is still what the dialect shim produces and nothing upstream
  * of it was rebuilt.
  */
object ViewStore {

  private def storeDir(dbPath: String): Path =
    Paths.get(dbPath).resolve("_graft_views")
  private def manifest(dbPath: String): Path =
    storeDir(dbPath).resolve("manifest.tsv")

  /** The managed-table data location for `id` under the session's
    * warehouse dir (which may be a `file:` URI or a bare path) — the ONE
    * place this resolution lives (restore and the drop-clear below share
    * it).
    */
  def warehouseLocation(spark: SparkSession, id: String): Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    // saveAsTable lowercases table names (SessionCatalog.formatTableName,
    // case-insensitive resolution), so the data dir for a mixed-case model
    // id is the lowercased one — resolving the original case would point
    // restore/drop-clear at a directory that doesn't exist
    (if (wh.startsWith("file:")) Paths.get(new java.net.URI(wh))
     else Paths.get(wh)).resolve(id.toLowerCase(java.util.Locale.ROOT))
  }

  /** DROP `table` and clear its leftover warehouse directory. A table
    * restored from a PREVIOUS session is registered EXTERNAL (the
    * in-memory catalog cannot recreate managed-ness), so a plain DROP
    * leaves its data behind and the next overwrite saveAsTable fails
    * with LOCATION_ALREADY_EXISTS — this makes the drop behave like
    * dropping the original managed table would have.
    */
  def dropTableClearingLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = warehouseLocation(spark, table)
    if (Files.exists(loc)) {
      val s = Files.walk(loc)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  /** Persist a view definition. `select` is the session-ready (rewritten)
    * SQL; `raw` is the pre-shim text, stored alongside so a LATER session
    * can re-run the dialect shim when the rewritten form referenced
    * session-scoped state (e.g. the kwarg read_csv temp views) that no
    * longer exists.
    */
  def saveView(dbPath: Option[String], id: String, select: String,
               raw: Option[String] = None): Unit =
    dbPath.foreach { db =>
      Files.createDirectories(storeDir(db))
      Files.writeString(storeDir(db).resolve(s"$id.sql"), select)
      raw match {
        case Some(r) =>
          Files.writeString(storeDir(db).resolve(s"$id.raw.sql"), r)
        case None =>
          // a stale raw file from an earlier save would let the restore
          // fallback silently re-shim an OUTDATED definition
          Files.deleteIfExists(storeDir(db).resolve(s"$id.raw.sql"))
      }
      appendEntry(db, "view", id)
    }

  /** Catalog-aware variant: records the table's catalog schema, partition
    * columns and bucket spec (see [[TableRecord]]) so [[restore]]
    * re-registers it without reading its files. The bucket spec matters
    * beyond speed: a BUCKETED table (saveAsTable with bucketBy — e.g.
    * graft.ext.SinkOps.writeBucketedTable) re-registered without CLUSTERED
    * BY loses its zero-exchange join property in later sessions, silently
    * re-adding the big-side shuffle the bucketed layout was bought to
    * remove.
    */
  def saveTable(spark: SparkSession, dbPath: Option[String], id: String): Unit =
    dbPath.foreach { db =>
      // no record (metadata unreadable) leaves a bare entry, which the
      // next restore infers and upgrades like any older entry
      val extra = try {
        val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(id))
        TableRecord(meta.schema, meta.partitionColumnNames, meta.bucketSpec).suffix
      } catch { case _: Exception => "" }
      Files.createDirectories(storeDir(db))
      appendEntry(db, "table", id, extra)
    }

  /** A table manifest entry's record:
    * `table<TAB>id<TAB>nBuckets<TAB>bucketCols<TAB>sortCols<TAB>partitionCols<TAB>schemaJson`,
    * column lists comma-joined, the bucket fields empty for an unbucketed
    * table. Older entries carry only `table<TAB>id` or, when bucketed, the
    * first three record fields.
    */
  private final case class TableRecord(schema: StructType,
                                       partitionCols: Seq[String],
                                       bucket: Option[BucketSpec]) {
    /** The entry's fields after the id, each tab-prefixed. */
    def suffix: String = Seq("",
      bucket.fold("")(_.numBuckets.toString),
      bucket.fold("")(_.bucketColumnNames.mkString(",")),
      bucket.fold("")(_.sortColumnNames.mkString(",")),
      partitionCols.mkString(","),
      schema.json).mkString("\t")
  }

  private object TableRecord {
    private def cols(f: String): Seq[String] = f.split(",").filter(_.nonEmpty).toSeq
    private def bucketOf(fields: Array[String]): Option[BucketSpec] =
      fields.lift(2).filter(_.nonEmpty).map(n =>
        BucketSpec(n.toInt, cols(fields(3)), cols(fields.lift(4).getOrElse(""))))

    def parse(fields: Array[String]): Option[TableRecord] =
      if (fields.length < 7) None
      else Some(TableRecord(DataType.fromJson(fields(6)).asInstanceOf[StructType],
        cols(fields(5)), bucketOf(fields)))

    /** An older entry's record, read from the table's parquet the way
      * restore used to register it: the footer schema plus the partition
      * columns the directory layout implies (one Spark job). */
    def infer(spark: SparkSession, fields: Array[String], loc: Path): TableRecord = {
      val df = spark.read.parquet(loc.toString)
      val parts = df.queryExecution.analyzed.collectFirst {
        case r: LogicalRelation => r.relation
      }.collect { case fs: HadoopFsRelation => fs.partitionSchema.fieldNames.toSeq }
      TableRecord(df.schema, parts.getOrElse(Nil), bucketOf(fields))
    }
  }

  // A re-saved model MOVES to the end: models persist in execution order,
  // and a run executes the whole DAG topologically, so "last saved last"
  // keeps replay dependency-safe even when a later run adds a NEW
  // dependency in front of an existing model (keeping the old position
  // would restore the dependent before its new dependency and lose it).
  // Synchronized: --parallel waves persist concurrently, and an
  // unsynchronized read-modify-write would drop a sibling's entry.
  private def appendEntry(dbPath: String, kind: String, id: String,
                          extra: String = ""): Unit = this.synchronized {
    val m = manifest(dbPath)
    val cur =
      if (Files.exists(m)) Files.readAllLines(m).asScala.toSeq else Seq.empty
    val next = cur.filterNot(isEntryOf(id)) :+ s"$kind\t$id$extra"
    Files.write(m, next.asJava)
  }

  private def isEntryOf(id: String)(line: String): Boolean =
    line.split("\t", -1).lift(1).contains(id)

  /** Replace `id`'s manifest line IN PLACE (an upgrade of its record, not
    * a re-save: its replay position stays). Best effort — a read-only
    * store just repeats the inference next time. */
  private def rewriteEntry(dbPath: String, id: String, line: String): Unit =
    this.synchronized {
      try {
        val m = manifest(dbPath)
        val cur = Files.readAllLines(m).asScala.toSeq
        Files.write(m, cur.map(l => if (isEntryOf(id)(l)) line else l).asJava)
        ()
      } catch { case _: java.io.IOException => () }
    }

  // --- run fingerprints (selective re-execution, `run --changed-only`) ---

  private def fingerprintFile(dbPath: String): Path =
    storeDir(dbPath).resolve("fingerprints.tsv")

  /** Persist the upstream-closure fingerprints of a SUCCESSFUL run —
    * the comparison base the next `--changed-only` run skips against.
    * Written whole (not merged): a model dropped from the DAG must drop
    * its entry, or re-adding it later could skip its first execution.
    */
  def saveFingerprints(dbPath: Option[String],
                       fps: Map[String, String]): Unit =
    dbPath.foreach { db =>
      writeIfChanged(fingerprintFile(db),
        fps.toSeq.sorted.map { case (id, fp) => s"$id\t$fp" })
    }

  /** Write `lines` to `f` unless it already holds exactly them: a run that
    * changed nothing leaves the store untouched, mtimes included. */
  private def writeIfChanged(f: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(f.getParent)
    if (!Files.exists(f) || Files.readAllLines(f).asScala != lines) {
      Files.write(f, lines.asJava); ()
    }
  }

  /** Ids persisted as TABLE models in the manifest — the Spark-free
    * approximation of `spark.catalog.tableExists` the `viz`
    * `--changed-only` preview uses (the preview must not start a
    * session; the RUN decision still asks the live catalog).
    */
  def manifestTables(dbPath: String): Set[String] = {
    val m = manifest(dbPath)
    if (!Files.exists(m)) Set.empty
    else Files.readAllLines(m).asScala.flatMap { l =>
      l.split("\t", -1) match {
        case arr if arr.length >= 2 && arr(0) == "table" => Some(arr(1))
        case _ => None
      }
    }.toSet
  }

  def loadFingerprints(dbPath: String): Map[String, String] = {
    val f = fingerprintFile(dbPath)
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.flatMap { l =>
      l.split("\t", -1) match {
        case Array(id, fp) => Some(id -> fp)
        case _ => None
      }
    }.toMap
  }

  private def runLedgerFile(dbPath: String): Path =
    storeDir(dbPath).resolve("last_run.tsv")

  /** dbt run_results parity — the minimum `graft retry` needs: one
    * `node\t<status>\t<id>` row per reported node (in report order)
    * plus the invocation flags a retry must re-apply (URL-encoded so
    * tabs/newlines in values cannot corrupt the TSV). Overwritten by
    * every runNodes() against this db_path, retries included — so
    * consecutive retries converge to an empty retry set.
    */
  def saveRunLedger(dbPath: Option[String], rows: Seq[(String, String)],
                    flags: Map[String, String]): Unit =
    dbPath.foreach { db =>
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      writeIfChanged(runLedgerFile(db),
        flags.toSeq.sorted.map { case (k, v) =>
          s"flag\t${enc(k)}\t${enc(v)}" } ++
          rows.map { case (status, id) => s"node\t$status\t$id" })
    }

  /** The last recorded run against this db_path: (status→id rows in
    * report order, re-apply flags). None = no run recorded.
    */
  def loadRunLedger(dbPath: String)
      : Option[(Seq[(String, String)], Map[String, String])] = {
    val f = runLedgerFile(dbPath)
    if (!Files.exists(f)) None
    else {
      def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
      val ls = Files.readAllLines(f).asScala.toSeq.map(_.split("\t", -1))
      val flags = ls.collect {
        case Array("flag", k, v) => dec(k) -> dec(v) }.toMap
      val rows = ls.collect {
        case Array("node", status, id) => status -> id }
      Some((rows, flags))
    }
  }

  /** Replay persisted models into `spark` (typically a fresh session over
    * an existing db_path). Returns the number restored.
    */
  def restore(spark: SparkSession, dbPath: String): Int = {
    val m = manifest(dbPath)
    if (!Files.exists(m)) return 0
    var n = 0
    Files.readAllLines(m).asScala.foreach { line =>
      line.split("\t", -1) match {
        case Array("view", id) =>
          try {
            restoreViewEntry(spark, dbPath, id)
            n += 1
          } catch { case e: Exception =>
            println(s"WARNING: could not restore view `$id`: ${e.getMessage}")
          }
        case fields if fields.length >= 2 && fields(0) == "table" =>
          val id = fields(1)
          try {
            if (!spark.catalog.tableExists(id)) {
              // managed-table data written by saveAsTable lives at
              // <warehouse>/<id>; re-register it as a parquet table
              restoreTableEntry(spark, dbPath, fields, warehouseLocation(spark, id))
              n += 1 // count only tables this call actually registered
            }
          } catch { case e: Exception =>
            println(s"WARNING: could not restore table `$id`: ${e.getMessage}")
          }
        case _ => ()
      }
    }
    n
  }

  /** `--defer --state <stateDir>`: register ONLY `ids` from the state
    * dir's manifest, in its (topo-safe) order — views re-registered
    * from their stored SELECTs, tables from their parquet under the
    * STATE dir's warehouse root (a state dir is just another run's
    * db_path, whose warehouse IS that dir). Ids already present in the
    * session are left alone (dbt's dev-favoring default). Returns
    * (restored, needed-but-absent-from-state); restore FAILURES on a
    * needed id also count as missing — a deferred ref that cannot
    * register must fail the run loudly, not at first read.
    */
  def restoreDeferred(spark: SparkSession, stateDir: String,
                      ids: Set[String]): (Seq[String], Set[String]) = {
    val m = manifest(stateDir)
    val entries =
      if (!Files.exists(m)) Seq.empty
      else Files.readAllLines(m).asScala.toSeq
        .map(_.split("\t", -1)).filter(_.length >= 2)
    val inState = entries.map(_(1)).toSet
    var missing = ids -- inState
    val restored = entries.flatMap {
      case fields if ids(fields(1)) =>
        val id = fields(1)
        try {
          if (spark.catalog.tableExists(id)) None
          else fields(0) match {
            case "view" =>
              restoreViewEntry(spark, stateDir, id); Some(id)
            case "table" =>
              restoreTableEntry(spark, stateDir, fields,
                Paths.get(stateDir).resolve(
                  id.toLowerCase(java.util.Locale.ROOT)))
              Some(id)
            case _ => None
          }
        } catch { case e: Exception =>
          println(s"WARNING: could not defer `$id` from state: " +
            e.getMessage)
          missing += id
          None
        }
      case _ => None
    }
    (restored, missing)
  }

  /** dbt 1.6 `clone`: materialize the state dir's artifacts as LOCAL
    * copies. Unlike [[restoreDeferred]] (which registers state-BACKED
    * relations for one session), a clone copies table parquet under
    * the LOCAL warehouse and persists every relation to the local
    * db_path store — later sessions own independent artifacts, and
    * prod can move on without the dev copies shifting underneath.
    * Views clone as their stored SELECTs (raw text carried along for
    * the re-shim fallback); tables keep their recorded bucket spec.
    * dbt's skip rule applies: an id already registered in this session
    * is left alone unless `fullRefresh` (dbt clone --full-refresh
    * replaces). Returns (cloned, skipped-existing, wanted-but-absent);
    * a clone FAILURE on a wanted id counts as missing — it must fail
    * the command loudly, not at first read.
    */
  def cloneFromState(spark: SparkSession, stateDir: String,
                     localDbPath: Option[String],
                     ids: Option[Set[String]],
                     fullRefresh: Boolean = false)
      : (Seq[String], Seq[String], Set[String]) = {
    val m = manifest(stateDir)
    val entries =
      if (!Files.exists(m)) Seq.empty
      else Files.readAllLines(m).asScala.toSeq
        .map(_.split("\t", -1)).filter(_.length >= 2)
    val inState = entries.map(_(1)).toSet
    val wanted = ids.getOrElse(inState)
    var missing = wanted -- inState
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val cloned = entries.flatMap {
      case fields if wanted(fields(1)) =>
        val id = fields(1)
        try {
          if (!fullRefresh && spark.catalog.tableExists(id)) {
            skipped += id; None
          } else fields(0) match {
            case "view" =>
              restoreViewEntry(spark, stateDir, id)
              val sel =
                Files.readString(storeDir(stateDir).resolve(s"$id.sql"))
              val rawF = storeDir(stateDir).resolve(s"$id.raw.sql")
              saveView(localDbPath, id, sel,
                if (Files.exists(rawF)) Some(Files.readString(rawF))
                else None)
              Some(id)
            case "table" =>
              // stage the copy BEFORE destroying anything (the swap
              // discipline): a broken state source must not take the
              // existing local copy down with it
              val src = Paths.get(stateDir)
                .resolve(id.toLowerCase(java.util.Locale.ROOT))
              val stage = Files.createTempDirectory("graft-clone-stage")
              copyDir(src, stage)
              // then replace the previous registration AND its data,
              // and register the clone under the LOCAL warehouse
              // (bucket spec preserved via the manifest fields)
              dropTableClearingLocation(spark, id)
              val dst = warehouseLocation(spark, id)
              copyDir(stage, dst)
              deleteTree(stage)
              restoreTableEntry(spark, stateDir, fields, dst)
              saveTable(spark, localDbPath, id)
              Some(id)
            case _ => None
          }
        } catch { case e: Exception =>
          println(s"WARNING: could not clone `$id` from state: " +
            e.getMessage)
          missing += id
          None
        }
      case _ => None
    }
    (cloned, skipped.toList, missing)
  }

  private def copyDir(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t); () }
    } finally s.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
    finally s.close()
  }

  /** One view manifest entry → temp-view registration (shared by
    * [[restore]], [[restoreDeferred]] and [[cloneFromState]]): the stored
    * rewritten SELECT, falling back to re-shimming the raw text when the
    * rewritten form referenced session-scoped state. The registration is
    * remembered for [[keepsRestoredView]].
    */
  private def restoreViewEntry(spark: SparkSession, dbPath: String,
                               id: String): Unit = {
    def register(sql: String): Unit = {
      spark.sql(sql).createOrReplaceTempView(id)
      remember(spark, id, sql)
    }
    val stored = Files.readString(storeDir(dbPath).resolve(s"$id.sql"))
    try register(stored)
    catch { case e: Exception =>
      // the rewritten form may reference session-scoped state (a
      // kwarg read_* temp view); re-shim the raw text in THIS
      // session instead
      val rawF = storeDir(dbPath).resolve(s"$id.raw.sql")
      if (Files.exists(rawF))
        register(DialectShim.rewrite(Files.readString(rawF), spark))
      else throw e
    }
  }

  // --- restored-view registrations, per session ---

  /** Views registered from the store, per session: id → (the SQL, the
    * catalog's registration object). Weak keys drop a session's entries
    * with the session; the registration is held weakly too, because its
    * plan references the session. Guarded by its own lock (parallel waves
    * read it concurrently). */
  private val restoredViews = new java.util.WeakHashMap[SparkSession,
    mutable.Map[String, (String, java.lang.ref.WeakReference[AnyRef])]]()

  private def remember(spark: SparkSession, id: String, sql: String): Unit =
    spark.sessionState.catalog.getRawTempView(id).foreach { reg =>
      restoredViews.synchronized {
        restoredViews.computeIfAbsent(spark, _ => mutable.Map.empty)
          .update(id, (sql, new java.lang.ref.WeakReference[AnyRef](reg)))
      }
    }

  /** True when `spark` still holds the registration a restore gave view
    * `id` (not replaced since), made from exactly `select`, and the store
    * under `dbPath` still holds `select` and `raw` — re-registering and
    * re-saving would then redo the same analysis and rewrite the same
    * files. The caller must also know nothing upstream was rebuilt since
    * (see [[forgetRestoredViews]]).
    */
  def keepsRestoredView(spark: SparkSession, dbPath: Option[String],
                        id: String, select: String, raw: String): Boolean =
    dbPath.exists { db =>
      val mine = restoredViews.synchronized {
        Option(restoredViews.get(spark)).flatMap(_.get(id))
      }
      def holds(f: String, text: String): Boolean = {
        val p = storeDir(db).resolve(f)
        Files.exists(p) && Files.readString(p) == text
      }
      mine.exists { case (sql, reg) =>
        sql == select &&
          spark.sessionState.catalog.getRawTempView(id).exists(_ eq reg.get) &&
          holds(s"$id.sql", select) && holds(s"$id.raw.sql", raw)
      }
    }

  /** Forget the restored registrations of `ids` in `spark`: a temp view's
    * analyzed plan pins its upstream relations as they were when it was
    * registered, so once anything upstream is rebuilt the registration is
    * stale even though the catalog still holds it. */
  def forgetRestoredViews(spark: SparkSession, ids: Iterable[String]): Unit =
    restoredViews.synchronized {
      Option(restoredViews.get(spark)).foreach(_ --= ids)
    }

  /** One table manifest entry → catalog registration at `loc` (shared by
    * [[restore]], [[restoreDeferred]] and [[cloneFromState]]; `dbPath`
    * owns the manifest the entry came from). One DDL path: the recorded
    * schema, partitioning and bucketing go into a single CREATE TABLE, so
    * nothing is inferred from the files (zero Spark jobs). An older entry
    * without the record is inferred once and rewritten in place with it.
    * The bucket spec keeps the bucketed-scan distribution (zero-exchange
    * joins) across the session boundary — saveAsTable encodes the bucket
    * id in each file name, which the bucketed scan reads back, so the
    * data needs no rewrite.
    */
  private def restoreTableEntry(spark: SparkSession, dbPath: String,
                                fields: Array[String], loc: Path): Unit = {
    val id = fields(1)
    val rec = TableRecord.parse(fields).getOrElse {
      val r = TableRecord.infer(spark, fields, loc)
      rewriteEntry(dbPath, id, s"table\t$id${r.suffix}")
      r
    }
    def q(name: String) = "`" + name.replace("`", "``") + "`"
    def cols(cs: Seq[String]) = cs.map(q).mkString(", ")
    val partitioned =
      if (rec.partitionCols.isEmpty) ""
      else s" PARTITIONED BY (${cols(rec.partitionCols)})"
    val clustered = rec.bucket.fold("") { b =>
      s" CLUSTERED BY (${cols(b.bucketColumnNames)})" +
        (if (b.sortColumnNames.isEmpty) ""
         else s" SORTED BY (${cols(b.sortColumnNames)})") +
        s" INTO ${b.numBuckets} BUCKETS"
    }
    val location = loc.toString.replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(s"CREATE TABLE ${q(id)} (${rec.schema.toDDL}) USING parquet" +
      s"$partitioned$clustered LOCATION '$location'")
    // a PARTITIONED table's partitions are catalog-tracked
    // (manageFilesourcePartitions) and a path registration starts with
    // none — recover them from the directory layout. If that fails the
    // table would read zero rows, so it must not stay registered (the
    // drop keeps the data: a LOCATION table is external)
    if (rec.partitionCols.nonEmpty)
      try { spark.sql(s"MSCK REPAIR TABLE ${q(id)}"); () }
      catch { case e: Exception =>
        spark.sql(s"DROP TABLE IF EXISTS ${q(id)}")
        throw e
      }
  }
}
