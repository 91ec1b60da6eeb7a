package graft.pipeline

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.JobCounter
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Table restore from the recorded catalog schema: a fresh session's
  * registration must equal what inferring the same parquet gives (schema
  * with nullability, partition columns, bucket spec, rows) while starting
  * no Spark job, and a manifest written before the record existed must
  * still restore and be upgraded in place.
  *
  * The shared test session stands in for both sessions: "fresh" means the
  * tables' catalog entries are gone while their warehouse data stays.
  */
class ViewStoreRestoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** What a restored table must reproduce. */
  private final case class Seen(schema: StructType, parts: Seq[String],
                                bucket: Option[BucketSpec], rows: Seq[String])

  private def seen(table: String): Seen = {
    val m = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    Seen(m.schema, m.partitionColumnNames, m.bucketSpec,
      spark.table(table).collect().map(_.toString).toSeq.sorted)
  }

  private def manifestLines(db: Path): Seq[Array[String]] =
    Files.readAllLines(db.resolve("_graft_views").resolve("manifest.tsv"))
      .asScala.toSeq.map(_.split("\t", -1))

  private def writeManifest(db: Path, lines: Seq[Array[String]]): Unit = {
    Files.write(db.resolve("_graft_views").resolve("manifest.tsv"),
      lines.map(_.mkString("\t")).asJava)
    ()
  }

  /** Registers `ref` over the data of manifest entry `fields` the way
    * restore did before entries carried a record: the footer schema with
    * CLUSTERED BY for a bucketed entry, otherwise catalog inference of
    * schema and partitions plus MSCK REPAIR. */
  private def inferredReference(fields: Array[String], ref: String): Seen = {
    val loc = ViewStore.warehouseLocation(spark, fields(1)).toString
    spark.sql(s"DROP TABLE IF EXISTS `$ref`")
    if (fields.lift(2).exists(_.nonEmpty)) {
      val sorted = fields(4).split(",").filter(_.nonEmpty)
        .map(c => s"`$c`").mkString(", ")
      spark.sql(s"CREATE TABLE `$ref` " +
        s"(${spark.read.parquet(loc).schema.toDDL}) USING parquet " +
        s"CLUSTERED BY (`${fields(3)}`) " +
        (if (sorted.nonEmpty) s"SORTED BY ($sorted) " else "") +
        s"INTO ${fields(2)} BUCKETS LOCATION '$loc'")
    } else {
      spark.catalog.createTable(ref, loc, "parquet")
      try spark.sql(s"MSCK REPAIR TABLE `$ref`")
      catch { case _: Exception => () } // not partitioned
    }
    try seen(ref) finally spark.sql(s"DROP TABLE IF EXISTS `$ref`")
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t); () }
    } finally s.close()
  }

  /** Drop the catalog entries, keep the data (a managed table's DROP
    * deletes its directory, so the data is put back). */
  private def forgetCatalog(ids: Seq[String]): Unit = ids.foreach { id =>
    val loc = ViewStore.warehouseLocation(spark, id)
    val keep = Files.createTempDirectory("graft-vsr-keep").resolve("d")
    copyTree(loc, keep)
    ViewStore.dropTableClearingLocation(spark, id)
    copyTree(keep, loc)
  }

  /** A store holding a plain, a partitioned, a bucketed and an
    * incremental table whose schema was widened by a later run. */
  private def buildStore(p: String): (Path, Seq[String]) = {
    val db = Files.createTempDirectory(s"graft-vsr-$p")
    val ids @ Seq(plain, part, bucket, inc) =
      Seq("plain", "part", "bucket", "inc").map(t => s"${p}_$t")
    ids.foreach(ViewStore.dropTableClearingLocation(spark, _))
    spark.range(10).selectExpr("id", "CAST(id * 2 AS STRING) AS s")
      .write.saveAsTable(plain)
    ViewStore.saveTable(spark, Some(db.toString), plain)
    spark.range(12)
      .selectExpr("id", "IF(id % 3 = 0, 'a', 'b') AS p")
      .write.partitionBy("p").saveAsTable(part)
    ViewStore.saveTable(spark, Some(db.toString), part)
    graft.ext.SinkOps.writeBucketedTable(
      spark.range(20).selectExpr("id AS k", "id % 5 AS v"), bucket,
      Seq("k"), 4, Seq("v"), Some(db.toString))

    val dir = Files.createTempDirectory(s"graft-vsr-$p-project")
    val parq = dir.resolve("events.parquet").toString
    val models = dir.resolve("models"); Files.createDirectories(models)
    Files.writeString(models.resolve(s"$inc.sql"),
      s"""SELECT * FROM read_parquet('$parq')
         |{% if is_incremental() %} WHERE id > (SELECT max(id) FROM {{ this }}) {% endif %}""".stripMargin)
    Files.writeString(dir.resolve("config.yaml"),
      s"""models_dir: $models
         |db_path: $db
         |models:
         |  $inc:
         |    materialize: incremental
         |    unique_key: id
         |    on_schema_change: append_new_columns""".stripMargin)
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("id", "v")
      .write.mode("overwrite").parquet(parq)
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    spark.createDataFrame(Seq((3L, "c", 30L))).toDF("id", "v", "extra")
      .write.mode("overwrite").parquet(parq)
    assert(new PipelineSession(spark, config).runNodes().errors.isEmpty)
    (db, ids)
  }

  test("restore registers plain, partitioned, bucketed and widened " +
      "incremental tables from the recorded schema: inference's schema, " +
      "partitioning, bucketing and rows, and no Spark job") {
    val (db, ids) = buildStore("vsr_rec")
    val Seq(_, part, bucket, inc) = ids
    val entries = manifestLines(db).map(f => f(1) -> f).toMap
    ids.foreach(id => assert(entries(id).length == 7, entries(id).toSeq))
    val expected = ids.map(id =>
      id -> inferredReference(entries(id), s"${id}_ref")).toMap
    assert(expected(part).parts == Seq("p"))
    assert(expected(bucket).bucket.map(_.numBuckets).contains(4))
    assert(expected(inc).schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    assert(expected(inc).rows.size == 3)

    forgetCatalog(ids)
    val (n, jobs) = JobCounter.count(spark.sparkContext)(
      ViewStore.restore(spark, db.toString))
    assert(n == 4)
    assert(jobs == 0, s"restoring 4 recorded tables started $jobs jobs")
    ids.foreach(id => assert(seen(id) == expected(id), id))
  }

  test("a manifest without the record restores like inference and is " +
      "upgraded in place; the next restore starts no Spark job") {
    val (db, ids) = buildStore("vsr_old")
    val current = manifestLines(db)
    val expected = current.map(f =>
      f(1) -> inferredReference(f, s"${f(1)}_ref")).toMap
    // the entries as written before the record: the id, plus the bucket
    // spec for a bucketed table
    writeManifest(db, current.map(f =>
      if (f(2).nonEmpty) f.take(5) else f.take(2)))

    forgetCatalog(ids)
    assert(ViewStore.restore(spark, db.toString) == 4)
    ids.foreach(id => assert(seen(id) == expected(id), id))
    val upgraded = manifestLines(db)
    assert(upgraded.map(_(1)) == current.map(_(1)), "entry order moved")
    upgraded.foreach(f => assert(f.length == 7, f.toSeq))

    forgetCatalog(ids)
    val (n, jobs) = JobCounter.count(spark.sparkContext)(
      ViewStore.restore(spark, db.toString))
    assert(n == 4 && jobs == 0, s"restored $n, $jobs jobs")
    ids.foreach(id => assert(seen(id) == expected(id), id))
  }
}
