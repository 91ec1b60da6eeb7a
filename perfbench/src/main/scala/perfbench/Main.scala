package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline._

/** One benchmark run of one workload in this JVM, written as a raw JSON
  * record (every iteration's samples; perfbench/run.py turns it into the
  * metrics). A run measures in closed loop, one client: an iteration
  * starts when the previous one has finished. With `--trace 1` the run
  * spends its first half untraced and its second half traced (spans and
  * listeners on), so the trace's own overhead is measured in the same
  * process.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --data DIR --out FILE
  */
object Main {
  type Rec = mutable.LinkedHashMap[String, Any]

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val data = Paths.get(opt("data")).toAbsolutePath.toString
    val tracer = new Tracer(s"$workload-$seed", enabled = trace)
    val rec: Rec = mutable.LinkedHashMap("workload" -> workload, "seed" -> seed,
      "trace" -> trace, "cpus" -> cpus)
    // A run measures a fixed number of iterations, about `seconds` of work
    // at the workload's nominal iteration length, so every run of a
    // workload measures the same work whatever the machine's speed; a
    // traced run splits them between an untraced and a traced phase.
    val nominal = Map("dag_warm" -> 4.0, "query_suite" -> 7.0)
    val n = math.max(2, math.round(seconds / nominal.getOrElse(workload, 4.0)).toInt)
    val phases = if (trace) Seq(false -> n / 2, true -> n / 2) else Seq(false -> n)
    workload match {
      case "dag_warm" =>
        new DagWorkload(seed, work, data, tracer, rec).run(phases)
      case "query_suite" =>
        new QueryWorkload(work, data, tracer, rec).run(phases)
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    if (trace) {
      tracer.writeJsonl(work.resolve("spans.jsonl"))
      rec("spans_file") = work.resolve("spans.jsonl").toString
    }
    rec("peak_rss_mb") = peakRssMb()
    Files.write(Paths.get(opt("out")), Json.value(rec).getBytes(UTF_8))
    ()
  }

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  def gcTotals(): (Double, Double) = {
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime.toDouble).sum, gcs.map(_.getCollectionCount.toDouble).sum)
  }

  def treeSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** (traced, iterations) per phase. */
  type Phases = Seq[(Boolean, Int)]

  /** Runs `iteration(i, traced)` the phase's number of times, phase after
    * phase; every iteration's record lands in rec("iterations"). */
  def loop(phases: Phases, rec: Rec)(iteration: (Int, Boolean) => Rec): Unit = {
    val its = mutable.ArrayBuffer[Rec]()
    var i = 0
    phases.foreach { case (traced, count) =>
      (1 to count).foreach { _ =>
        val (gc0, gcn0) = gcTotals()
        val r = iteration(i, traced)
        val (gc1, gcn1) = gcTotals()
        r("traced") = traced
        r("gc_ms") = gc1 - gc0
        r("gc_count") = gcn1 - gcn0
        its += r
        i += 1
      }
    }
    rec("iterations") = its.toSeq
  }

  /** Order-insensitive digest of a small result: every row rendered as
    * tab-separated cells (NULL as \N), rows sorted, SHA-256 of the
    * newline-joined text, first 16 hex digits. perfbench/oracle.py
    * computes the same digest over the DuckDB result. */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(r => r.toSeq.map {
      case null => "\\N"
      case v => v.toString
    }.mkString("\t")).sorted
    (rows.length.toLong, sha16(rows.mkString("\n")))
  }

  def sha16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString.take(16)
}

/** `dag_warm`: `run --changed-only`, sequential, over one db_path; before
  * each run the edit set toggles state A/B, so each run re-executes the
  * same subgraph. */
final class DagWorkload(seed: Long, work: Path, data: String,
    tracer: Tracer, rec: Main.Rec) {
  import Main._
  private val projDir = work.resolve("project")
  private val project = ProjectGen.generate(seed, data)
  ProjectGen.writeProject(project, projDir, work.resolve("db").toString)
  private val cfgPath = projDir.resolve("config.yaml")
  rec("project_dir") = projDir.toString
  rec("models") = project.models.size
  rec("expected_exec") = project.editClosure.toSeq.sorted

  /** One session over `db`: setup, the timed runNodes, checks. */
  private def session(db: Path, state: Char, parallel: Boolean,
      changedOnly: Boolean, traced: Boolean): Rec = {
    val r: Rec = mutable.LinkedHashMap("state" -> state.toString)
    val t0 = now()
    val (spark, config, restoreS, restored) = tracer.span("setup") {
      val config = tracer.span("config.load") {
        PipelineConfig.load(cfgPath).copy(dbPath = Some(db.toString)) }
      val spark = tracer.span("spark.build") {
        val s = graft.cli.Main.buildSpark(config)
        s.sparkContext.setLogLevel("WARN"); s }
      val t1 = now()
      val n = tracer.span("viewstore.restore") { ViewStore.restore(spark, db.toString) }
      (spark, config, secs(t1), n)
    }
    r("setup_s") = secs(t0)
    r("restore_ms") = restoreS * 1000
    r("restored") = restored
    val probes = if (traced) Some(new Probes(spark, tracer)) else None
    try {
      val s = new PipelineSession(spark, config, parallel = parallel,
        changedOnly = changedOnly)
      val t2 = now()
      val report = tracer.span("runNodes") { s.runNodes() }
      r("run_s") = secs(t2)
      r("nodes") = report.results.map(n =>
        Seq(n.id, n.millis, n.status, n.error.nonEmpty))
      probes.foreach(p => r("probe") = p.snapshot())
      if (traced) r("layers") = tracer.span("layers") { layers(s, spark) }
      tracer.span("check") {
        r("digests") = project.leaves.map { m =>
          val (rows, d) = digest(spark.table(m)); Seq(m, rows, d) }
      }
      val (sb, sf) = treeSize(db.resolve("_graft_views"))
      r("store_bytes") = sb; r("store_files") = sf
      r("db_bytes") = treeSize(db)._1
    } finally {
      probes.foreach(_.detach())
      graft.ext.DedupOps.releaseManifests()
      spark.stop()
    }
    r
  }

  private val IncrementalBlock = "(?s)\\{% if is_incremental\\(\\) %\\}.*?\\{% endif %\\}"

  /** Re-invokes each buildGraph layer's public function on the generated
    * project, in buildGraph's order, under its own span. */
  private def layers(s: PipelineSession, spark: SparkSession): Map[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any]()
    def timed[A](name: String)(body: => A): A = {
      val t0 = now()
      val a = tracer.span(name)(body)
      out(s"$name.ms") = (now() - t0) / 1e6
      a
    }
    val paths = timed("pipeline.discover") { s.discoverModelPaths() }
    out("pipeline.discover.files") = paths.size
    val idSeq = paths.map { p => val f = p.getFileName.toString; f.substring(0, f.lastIndexOf('.')) }
    val ids = idSeq.toSet
    val srcs = paths.map(p => new String(Files.readAllBytes(p), UTF_8))
    val rendered = timed("pipeline.macro") {
      val fileMacros = MacroRenderer.parseMacros(s.loadMacros().values.mkString("\n"))
      // buildGraph resolves `is_incremental()` blocks before rendering
      // (package-private there); here they render as in a bootstrap run
      srcs.map(src => MacroRenderer.render(
        SqlText.stripComments(src).replaceAll(IncrementalBlock, ""), fileMacros))
    }
    out("pipeline.macro.calls") = rendered.size
    val refs = timed("pipeline.deps") {
      idSeq.zip(rendered).map { case (id, r) =>
        id -> (DepExtractor.modelRefsInModel(r, ids) - id) }
    }
    out("pipeline.deps.calls") = refs.size
    out("pipeline.deps.edges") = refs.map(_._2.size).sum
    val waves = timed("pipeline.dag") {
      val g = Dag.Graph(refs.toMap)
      Dag.topoSort(g); Dag.waves(g)
    }
    out("pipeline.dag.waves") = waves.size
    out("pipeline.dag.max_wave") = waves.map(_.size).max
    val stmts = rendered.flatMap(SqlText.splitStatements)
    timed("pipeline.shim") { stmts.foreach(st => DialectShim.rewrite(st, spark)) }
    out("pipeline.shim.stmts") = stmts.size
    timed("pipeline.buildgraph") { s.buildGraph() }
    out.toMap
  }

  def run(phases: Phases): Unit = {
    val g = Dag.Graph(project.models.map(m => m.id -> m.ups.toSet).toMap)
    rec("waves") = Dag.waves(g)
    val db = work.resolve("db-warm")
    deleteTree(db)
    ProjectGen.setState(project, projDir, 'A')
    // preparation, not measured: the cold build (probed in a traced run:
    // the pipeline.cold.* metrics) and one toggle to B, whose changed-only
    // run also re-renders the incremental model against its table. The
    // JIT is still warming during the first measured toggles; the medians
    // over the iterations leave them out.
    def toggle(state: Char, traced: Boolean): Rec = {
      ProjectGen.setState(project, projDir, state)
      session(db, state, parallel = false, changedOnly = true, traced)
    }
    rec("prep") = Seq(
      session(db, 'A', parallel = true, changedOnly = false, traced = tracer.enabled),
      toggle('B', traced = false))
    loop(phases, rec) { (i, traced) => toggle(if (i % 2 == 0) 'A' else 'B', traced) }
    ProjectGen.setState(project, projDir, 'A')
  }
}

/** `query_suite`: an untimed first session runs every query once and
  * writes its output as parquet, for the DuckDB oracle comparison; this
  * is also the warm pass. Each measured iteration then builds a fresh
  * session (the Bench settings plus graft's function registration: the
  * set-up) and runs the queries one after another into the noop sink. */
final class QueryWorkload(work: Path, data: String, tracer: Tracer, rec: Main.Rec) {
  import Main._
  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = graft.SparkEntry.queries
    QuerySet.names.map(n => n -> all.getOrElse(n,
      throw new IllegalArgumentException(s"no query $n in SparkEntry.queries")))
  }

  private def build(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(s)
    s
  }

  private def stop(spark: SparkSession): Unit = {
    graft.ext.DedupOps.releaseManifests()
    spark.stop()
  }

  def run(phases: Phases): Unit = {
    rec("queries") = queries.map(_._1)
    // run.py runs this SQL in DuckDB after the JVM has exited
    rec("oracle_sql") = queries.map { case (n, _) =>
      n -> graft.SparkEntry.oracleSql.getOrElse(n, "") }.toMap
    val outDir = work.resolve("outputs")
    deleteTree(outDir)
    val first = build()
    try {
      queries.foreach { case (name, fn) =>
        try fn(first, data).coalesce(1).write.mode("overwrite")
          .parquet(outDir.resolve(name).toString)
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}") }
      }
    } finally stop(first)
    rec("outputs_dir") = outDir.toString

    loop(phases, rec) { (_, traced) =>
      val r: Rec = mutable.LinkedHashMap()
      val t0 = now()
      val spark = tracer.span("setup") { tracer.span("spark.build") { build() } }
      r("setup_s") = secs(t0)
      val probes = if (traced) Some(new Probes(spark, tracer)) else None
      try {
        val t1 = now()
        r("queries") = tracer.span("pass") {
          queries.map { case (name, fn) =>
            tracer.span(s"query:$name") {
              val jobs0 = probes.map(_.jobsNow()).getOrElse(0L)
              val tq = now()
              try {
                val df = tracer.span("queries.build") { fn(spark, data) }
                val built = now()
                val hidden = probes.map(_.jobsNow() - jobs0).getOrElse(0L)
                val tx = now()
                tracer.span("queries.exec") {
                  df.write.format("noop").mode("overwrite").save() }
                Seq(name, (built - tq) / 1e6, (now() - tx) / 1e6, true, hidden, "")
              } catch { case e: Exception =>
                Seq(name, (now() - tq) / 1e6, 0.0, false, 0L,
                  String.valueOf(e.getMessage).takeWhile(_ != '\n').take(200))
              }
            }
          }
        }
        r("run_s") = secs(t1)
        probes.foreach(p => r("probe") = p.snapshot())
      } finally {
        probes.foreach(_.detach())
        stop(spark)
      }
      r
    }
  }
}
