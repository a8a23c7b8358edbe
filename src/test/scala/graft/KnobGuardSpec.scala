package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every `spark.graft.*` session conf and `SPARK_GRAFT_*` environment
  * variable the main sources read, each with the reason it exists. A new
  * knob has to be added here, with its reason, before this spec passes;
  * a knob that loses its last reader has to be dropped from here.
  * Per-experiment switches belong in the engine's own `SQLConf`, not here.
  */
class KnobGuardSpec extends AnyFunSuite {

  private val kept: Map[String, String] = Map(
    "SPARK_GRAFT_CPUS" -> "local[N] width of every main's session",
    "SPARK_GRAFT_ONLY" -> "graft.Verify subset filter",
    "SPARK_GRAFT_MASTER" -> "ClusterMode: run a main on local-cluster/standalone",
    "SPARK_GRAFT_JARS" -> "ClusterMode: application jar shipped to executors",
    "SPARK_GRAFT_EXECUTOR_MEM" -> "ClusterMode: executor heap",
    "SPARK_GRAFT_ALLOW_STALE_JAR" -> "ClusterMode: downgrade the stale-jar check to a warning",
    "spark.graft.lsh.verifyJoinHint" -> "force the LSH verify-join strategy (DedupSpec)",
    "spark.graft.lsh.shjBuildBudgetBytes" -> "override the derived SHJ build budget (DedupSpec)",
    "spark.graft.stream.statePartitions" -> "streaming state width override (R18OpsSpec)")

  private val knob = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]|SPARK_GRAFT_[A-Z0-9_]+""".r

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root under ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("src/main/scala reads exactly the listed spark.graft.* and SPARK_GRAFT_* knobs") {
    val found = mainSources.flatMap { p =>
      knob.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).toSeq
    }.toSet
    val unlisted = found -- kept.keySet
    val unused = kept.keySet -- found
    assert(unlisted.isEmpty, s"new knob(s) in src/main/scala; list and justify them here: ${unlisted.toSeq.sorted}")
    assert(unused.isEmpty, s"listed knob(s) no longer read by src/main/scala; drop them here: ${unused.toSeq.sorted}")
  }
}
