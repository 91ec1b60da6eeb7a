package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded generator of a graft model project over the benchmark tables.
  *
  * Layer 0 reads the parquet tables with `read_parquet` (tables and
  * views), plus one incremental leaf that appends new events. Layer 1
  * stages each source into one narrow schema `(k BIGINT, g STRING,
  * v BIGINT)`: views that fan out to many consumers. Layers 2..depth-2 are
  * intermediate views and tables (aggregate, filter, and union or join
  * with a staging model). The last layer holds the marts: tables that fan
  * in 3..maxFanIn upstreams from the layer below and the staging layer.
  * Because every non-source model speaks the same schema, any upstream can
  * feed any consumer.
  *
  * Every non-source model carries one integer literal (its knob). The edit
  * set is an `EditFrac` share of the intermediate models and marts; state
  * B bumps each edited knob by one, so toggling A/B re-executes exactly
  * the edited models and their descendants under `run --changed-only`.
  *
  * Each model is emitted twice: as the graft template (jinja macros, plain
  * model names as refs, `count()`, `is_incremental()` guards) and as the
  * fully expanded DuckDB SQL the oracle runs. Leaves output only BIGINT and
  * STRING columns, so both engines digest them identically.
  */
object ProjectGen {
  val Models = 40
  val Depth = 5
  val MaxFanIn = 5
  val MaxFanOut = 12
  val Marts = 3
  val EditFrac = 0.05
  /** Fixes the DAG's structure (edges, model kinds, materializations, edit
    * set), so every run seed measures the same shape; the run seed picks
    * the literals and, through the tables, the data. */
  val ShapeSeed = 17L

  final case class Model(id: String, layer: Int, mat: String,
      ups: Seq[String], knob: Int, graft: Int => String,
      duck: Int => String)

  final case class Project(models: Seq[Model], edits: Seq[String]) {
    val byId: Map[String, Model] = models.map(m => m.id -> m).toMap
    def marts: Seq[String] = models.filter(_.layer == Depth - 1).map(_.id)
    /** The models whose outputs are checked: the marts and the landing
      * table, the DAG's leaves. */
    def leaves: Seq[String] = marts :+ Landing
    def consumers: Map[String, Seq[String]] =
      models.flatMap(m => m.ups.map(_ -> m.id)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2) }
    /** Models a changed-only run re-executes after a knob toggle: the
      * edit set and everything downstream of it. */
    def editClosure: Set[String] = {
      val cons = consumers
      val seen = mutable.Set[String]()
      var frontier = edits.toSet
      while (frontier.nonEmpty) {
        seen ++= frontier
        frontier = frontier.flatMap(cons.getOrElse(_, Nil)).diff(seen)
      }
      seen.toSet
    }
    def knobOf(m: Model, state: Char): Int =
      if (state == 'B' && edits.contains(m.id)) m.knob + 1 else m.knob
  }

  val Macros: String =
    """{% macro cents(col) %}CAST(round({{ col }} * 100) AS BIGINT){% endmacro %}
      |{% macro bucket(col) %}({{ col }} % 64){% endmacro %}
      |{% macro fold(expr) %}({{ expr }}) % 1000000007{% endmacro %}
      |""".stripMargin
  // The DuckDB expansions of the macros above.
  private def cents(c: String) = s"CAST(round($c * 100) AS BIGINT)"
  private def bucket(c: String) = s"($c % 64)"
  private def fold(e: String) = s"($e) % 1000000007"

  /** Source tables and their materialization. */
  private val Sources = Seq("lineitem" -> "table", "orders" -> "table",
    "events" -> "table", "customer" -> "view", "part" -> "view",
    "supplier" -> "view", "nation" -> "view")

  /** An append-only incremental leaf over the events file. Nothing reads
    * it, so re-rendering it against its own table (the first changed-only
    * run after a cold build) re-executes only it. */
  val Landing = "landing_events"

  /** Staging shapes per source: (key columns, group expressions, measure
    * columns, integer column of the knob filter). The filter `col % 13 <>
    * knob % 13` keeps about 12/13 of the rows whatever the knob, so run
    * seeds change values, not data volumes or plan shapes. */
  private val Staging: Map[String, (Seq[String], Seq[String], Seq[String], String)] = Map(
    "lineitem" -> (Seq("l_partkey", "l_suppkey", "l_orderkey"),
      Seq("l_returnflag", "l_linestatus"),
      Seq("l_extendedprice", "l_quantity"), "l_linenumber"),
    "orders" -> (Seq("o_custkey", "o_orderkey"),
      Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"), "o_orderkey"),
    "events" -> (Seq("user_id", "event_id"), Seq("event_type"),
      Seq("value"), "event_id"),
    "customer" -> (Seq("c_nationkey", "c_custkey"), Seq("c_mktsegment"),
      Seq("c_acctbal"), "c_custkey"),
    "part" -> (Seq("p_partkey", "p_size"), Seq("p_type", "p_brand"),
      Seq("p_retailprice"), "p_size"),
    "supplier" -> (Seq("s_nationkey", "s_suppkey"),
      Seq("CASE WHEN s_acctbal > 0 THEN 'pos' ELSE 'neg' END"),
      Seq("s_acctbal"), "s_suppkey"),
    "nation" -> (Seq("n_nationkey"), Seq("n_name"), Seq("n_regionkey"),
      "n_nationkey"))

  def generate(seed: Long, dataDir: String): Project = {
    val rnd = new scala.util.Random(ShapeSeed)
    val lit = new scala.util.Random(seed)
    val models = mutable.ArrayBuffer[Model]()
    val fanOut = mutable.Map[String, Int]().withDefaultValue(0)
    def add(m: Model): Unit = { models += m; m.ups.foreach(u => fanOut(u) += 1) }

    Sources.foreach { case (t, mat) =>
      val read = s"SELECT * FROM read_parquet('$dataDir/$t.parquet')"
      add(Model(s"src_$t", 0, mat, Nil, 0, _ => read + "\n", _ => read))
    }
    locally {
      val cols = s"SELECT event_id, user_id, event_type, {{ cents(value) }} AS cents\n" +
        s"FROM read_parquet('$dataDir/events.parquet')"
      val guard = "\n{% if is_incremental() %}\n" +
        "WHERE event_id > (SELECT max(event_id) FROM {{ this }})\n{% endif %}\n"
      add(Model(Landing, 0, "incremental", Nil, 0, _ => cols + guard,
        _ => cols.replace("{{ cents(value) }}", cents("value")).replace("\n", " ")))
    }

    val fixed = Sources.size + 1
    val nStg = math.max(Sources.size, (Models - fixed - Marts) / 6)
    val nInt = Models - fixed - nStg - Marts
    val intLayers = Depth - 3
    (0 until nStg).foreach { i =>
      val t = Sources(i % Sources.size)._1
      val (keys, groups, measures, fcol) = Staging(t)
      val k = keys(rnd.nextInt(keys.size))
      val g = groups(rnd.nextInt(groups.size))
      val v = measures(rnd.nextInt(measures.size))
      val knob = 1 + lit.nextInt(20)
      val up = s"src_$t"
      add(Model(f"stg_$t%s_$i%02d", 1, "view", Seq(up), knob,
        n => s"SELECT {{ bucket($k) }} AS k, $g AS g, {{ cents($v) }} AS v\n" +
          s"FROM $up\nWHERE $fcol % 13 <> ${n % 13}\n",
        n => s"SELECT ${bucket(k)} AS k, $g AS g, ${cents(v)} AS v " +
          s"FROM $up WHERE $fcol % 13 <> ${n % 13}"))
    }

    /** Pick `n` distinct upstreams from `pool`, models nobody consumes yet
      * first, then the least-consumed; models at the fan-out cap are
      * skipped. */
    def pick(pool: Seq[String], n: Int, not: Set[String] = Set.empty): Seq[String] = {
      val open = rnd.shuffle(pool.filter(id => !not(id) && fanOut(id) < MaxFanOut))
      require(open.size >= n, s"fan-out cap $MaxFanOut leaves too few upstreams")
      open.sortBy(fanOut).take(n)
    }
    def layerIds(l: Int) = models.filter(_.layer == l).map(_.id).toSeq

    var next = 0
    (2 until Depth - 1).foreach { layer =>
      // sizes never shrink toward the marts, so each layer's primary picks
      // consume every model of the layer below
      val size = nInt / intLayers +
        (if (layer - 2 >= intLayers - nInt % intLayers) 1 else 0)
      (0 until size).foreach { _ =>
        val id = f"int_l$layer%d_$next%03d"; next += 1
        val prev = pick(layerIds(layer - 1), 1)
        // 0 aggregate, 1 filter, 2 union, 3 join; filters (no shuffle)
        // are the most common step
        val kind = Seq(0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 3, 3, 3)(rnd.nextInt(20))
        // a second upstream (union, join) is a staging model, so every
        // model's inlined view tree stays linear in its depth
        val ups = if (kind < 2) prev else prev ++ pick(layerIds(1), 1, prev.toSet)
        val mat = if (rnd.nextInt(8) == 0) "table" else "view"
        val knob = 1 + lit.nextInt(80)
        val a = ups.head
        val (gt, dk): (Int => String, Int => String) = kind match {
          case 0 => (
            n => s"SELECT k, g, {{ fold(sum(v)) }} + count() * $n AS v\nFROM $a\nGROUP BY k, g\n",
            n => s"SELECT k, g, ${fold("sum(v)")} + count(*) * $n AS v FROM $a GROUP BY k, g")
          case 1 => (
            n => s"SELECT k, g, v\nFROM $a\nWHERE v % 97 <> $n\n",
            n => s"SELECT k, g, v FROM $a WHERE v % 97 <> $n")
          case 2 =>
            val b = ups(1)
            (n => s"SELECT k, g, v FROM $a\nUNION ALL\nSELECT k, g, v FROM $b\nWHERE v % 89 <> $n\n",
             n => s"SELECT k, g, v FROM $a UNION ALL SELECT k, g, v FROM $b WHERE v % 89 <> $n")
          case _ =>
            val b = ups(1)
            val body = (n: Int) =>
              s"SELECT x.k, x.g, x.v + coalesce(y.w, 0) % 1000003 + $n AS v\n" +
                s"FROM $a x\nLEFT JOIN (SELECT k, sum(v) AS w FROM $b GROUP BY k) y\n  ON x.k = y.k\n"
            (body, n => body(n).replace("\n", " ").trim)
        }
        add(Model(id, layer, mat, ups, knob, gt, dk))
      }
    }

    val martLayer = Depth - 1
    (0 until Marts).foreach { i =>
      val id = f"mart_$i%02d"
      // enough fan-in to leave no model of the layer below unconsumed
      val orphansLeft = layerIds(martLayer - 1).count(fanOut(_) == 0)
      val fanIn = math.min(MaxFanIn, math.max(3 + rnd.nextInt(MaxFanIn - 2),
        (orphansLeft + Marts - i - 1) / (Marts - i)))
      val prev = pick(layerIds(martLayer - 1), 1)
      val rest = pick(layerIds(1) ++ layerIds(martLayer - 1), fanIn - 1, prev.toSet)
      val ups = prev ++ rest
      val knob = 1 + lit.nextInt(80)
      val body = (n: Int, cnt: String, fld: String => String) => {
        val joins = ups.tail.zipWithIndex.map { case (u, j) =>
          s"LEFT JOIN (SELECT k, ${fld("sum(v)")} AS v FROM $u GROUP BY k) x${j + 1}\n  ON base.k = x${j + 1}.k\n"
        }.mkString
        val cols = ups.tail.indices.map(j => s", coalesce(x${j + 1}.v, 0) AS v${j + 1}").mkString
        s"WITH base AS (\n  SELECT k, g, ${fld("sum(v)")} AS v, $cnt AS n\n  FROM ${ups.head}\n  GROUP BY k, g)\n" +
          s"SELECT base.k, base.g, base.n, base.v + $n AS v0$cols\nFROM base\n$joins"
      }
      add(Model(id, martLayer, "table", ups, knob,
        n => body(n, "count()", e => s"{{ fold($e) }}"),
        n => body(n, "count(*)", fold).replace("\n", " ").trim))
    }

    val orphans = models.filter(m => m.layer < martLayer && m.id != Landing && fanOut(m.id) == 0)
    require(orphans.isEmpty, s"models nobody consumes: " +
      orphans.map(_.id).mkString(", "))

    val editable = models.filter(_.layer >= 2).map(_.id).toSeq
    val nEdits = math.max(1, math.round(Models * EditFrac).toInt)
    Project(models.toSeq, rnd.shuffle(editable).take(nEdits).sorted)
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  /** Write the project under `dir`: config.yaml (db_path = `dbPath`),
    * macros/, models/ in state A, leaves.txt (the models whose outputs
    * are checked) and
    * oracle_A.sql / oracle_B.sql (DuckDB SQL per model in topo order,
    * one `-- model <id> <materialization>` header per statement). */
  def writeProject(p: Project, dir: Path, dbPath: String): Unit = {
    val cfg = new StringBuilder
    cfg ++= "models_dir: models\nmacro_path: macros\n"
    cfg ++= s"db_path: $dbPath\nmodels:\n"
    p.models.filter(_.mat != "view").foreach(m =>
      cfg ++= s"  ${m.id}:\n    materialize: ${m.mat}\n")
    write(dir.resolve("config.yaml"), cfg.toString)
    write(dir.resolve("macros/common.sql"), Macros)
    p.models.foreach(m => writeModel(p, dir, m, 'A'))
    write(dir.resolve("leaves.txt"), p.leaves.mkString("", "\n", "\n"))
    Seq('A', 'B').foreach { st =>
      write(dir.resolve(s"oracle_$st.sql"), p.models.map { m =>
        s"-- model ${m.id} ${m.mat}\n${m.duck(p.knobOf(m, st))};\n" }.mkString)
    }
  }

  def modelPath(dir: Path, m: Model): Path = {
    val sub = m.id.takeWhile(_ != '_')
    dir.resolve(s"models/$sub/${m.id}.sql")
  }

  def writeModel(p: Project, dir: Path, m: Model, state: Char): Unit =
    write(modelPath(dir, m), m.graft(p.knobOf(m, state)))

  /** Switch the edited models' files to `state` ('A' or 'B'). */
  def setState(p: Project, dir: Path, state: Char): Unit =
    p.edits.foreach(id => writeModel(p, dir, p.byId(id), state))
}
