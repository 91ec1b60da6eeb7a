package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{PipelineConfig, PipelineSession}

class ProjectGenSpec extends AnyFunSuite {
  import ProjectGen.{Depth, Marts, MaxFanIn, MaxFanOut, Models}

  private def written(seed: Long): Path = {
    val dir = Files.createTempDirectory("perfbench-gen")
    ProjectGen.writeProject(ProjectGen.generate(seed, "/data"), dir, "/db")
    dir
  }

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  /** buildGraph over the written project, with everything it printed. */
  private def graph(dir: Path): (Map[String, Set[String]], String) = {
    val out = new java.io.ByteArrayOutputStream
    val config = PipelineConfig.load(dir.resolve("config.yaml"))
    val (_, nodes) = Console.withOut(out) {
      new PipelineSession(sys.error("buildGraph needs no Spark session"), config).buildGraph()
    }
    (nodes.map { case (id, n) => id -> n.prevs }, out.toString)
  }

  /** Longest source-to-mart chain, counted in models. */
  private def depthOf(prevs: Map[String, Set[String]]): Int = {
    val memo = scala.collection.mutable.Map[String, Int]()
    def d(id: String): Int = memo.getOrElseUpdate(id,
      1 + prevs.getOrElse(id, Set.empty).map(d).foldLeft(0)(math.max))
    prevs.keys.map(d).foldLeft(0)(math.max)
  }

  test("the same seed gives a byte-identical project; another seed does not") {
    val a = files(written(7))
    assert(a == files(written(7)))
    assert(a.keySet == files(written(8)).keySet)
    assert(a != files(written(8)))
  }

  test("the DAG has the declared model count, depth and fan-in/fan-out bounds") {
    val dir = written(7)
    val (prevs, _) = graph(dir)
    assert(prevs.size == Models)
    assert(depthOf(prevs) == Depth)
    val p = ProjectGen.generate(7, "/data")
    assert(prevs == p.models.map(m => m.id -> m.ups.toSet).toMap)
    val fanOut = prevs.values.flatten.groupBy(identity).map(_._2.size)
    assert(fanOut.max <= MaxFanOut)
    val martFanIn = p.marts.map(prevs(_).size)
    assert(martFanIn.size == Marts)
    assert(martFanIn.forall(n => n >= 3 && n <= MaxFanIn))
    assert(prevs.values.map(_.size).max <= MaxFanIn)
  }

  test("every model passes buildGraph with no unknown-ref warning") {
    val (_, printed) = graph(written(7))
    assert(!printed.contains("WARNING"), printed)
    assert(printed.contains(s"Found $Models model sources"))
  }

  test("toggling the edit set changes exactly the edited models' files") {
    val dir = written(7)
    val p = ProjectGen.generate(7, "/data")
    val before = files(dir)
    ProjectGen.setState(p, dir, 'B')
    val after = files(dir)
    val changed = before.keySet.filter(k => before(k) != after(k))
    assert(changed == p.edits.map(id => dir.relativize(ProjectGen.modelPath(dir, p.byId(id))).toString).toSet)
    ProjectGen.setState(p, dir, 'A')
    assert(files(dir) == before)
  }

  test("the expected changed-only set is the edit set and everything downstream") {
    val p = ProjectGen.generate(7, "/data")
    val closure = p.editClosure
    assert(p.edits.toSet.subsetOf(closure))
    assert(p.models.forall(m => closure(m.id) == (p.edits.contains(m.id) ||
      m.ups.exists(closure))))
  }
}
