package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every `spark.graft.*` session conf and `SPARK_GRAFT_*` environment
  * variable the main sources read, and every environment variable the
  * launchers read, each with the reason it exists. A new
  * knob has to be added here, with its reason, before this spec passes;
  * a knob that loses its last reader has to be dropped from here.
  * Per-experiment switches belong in the engine's own `SQLConf`, not here.
  * The same source scan keeps the session contract, the mains' session
  * builder, the sizing machinery, the data-file rule, the locator
  * grammar and the commit-marker directory each in its one place.
  */
class KnobGuardSpec extends AnyFunSuite {

  private val kept: Map[String, String] = Map(
    "SPARK_GRAFT_CPUS" -> "ClusterMode.session: local[N] width and shuffle partitions of every main",
    "SPARK_GRAFT_ONLY" -> "graft.Verify subset filter",
    "SPARK_GRAFT_MASTER" -> "ClusterMode.session: run a main on local-cluster/standalone")

  /** Environment names the JVM launchers read: `build.sbt` (sbt run/test)
    * and `run_graft.sh`. */
  private val launcherEnv: Map[String, String] = Map(
    "SPARK_DRIVER_MEM" -> "JVM heap (-Xmx) of sbt-forked runs and run_graft.sh")

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

  test("no src/main/scala file sets ANSI, the session time zone or nanosAsLong") {
    // entries carry their own date, overflow and zone semantics; a conf set
    // here would rewrite the caller's session
    val contract = """spark\.sql\.ansi\.enabled|spark\.sql\.session\.timeZone|nanosAsLong""".r
    val found = mainSources.flatMap { p =>
      contract.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).map(m => s"$p: $m").toSeq
    }
    assert(found.isEmpty, s"session-contract confs named in src/main/scala: $found")
  }

  test("only Parallelism.scala reads plan statistics, clones a session or builds a thread pool") {
    // turning bytes into a width, and the session clones and pools that
    // widths live in, are written once in graft.operators.Parallelism
    val owned = """optimizedPlan\.stats|newSession\(\)|Executors\.new\w*|ExecutionContext\.from\w*""".r
    val found = mainSources.filterNot(_.getFileName.toString == "Parallelism.scala").flatMap { p =>
      owned.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).map(m => s"$p: $m").toSeq
    }
    assert(found.isEmpty, s"use graft.operators.Parallelism instead: $found")
  }

  test("only ClusterMode.scala picks a session's master or width") {
    // the mains build their sessions through ClusterMode.session
    val owned = """SPARK_GRAFT_CPUS|SPARK_GRAFT_MASTER|\.master\(""".r
    val found = mainSources.filterNot(_.getFileName.toString == "ClusterMode.scala").flatMap { p =>
      owned.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).map(m => s"$p: $m").toSeq
    }
    assert(found.isEmpty, s"use graft.ClusterMode.session instead: $found")
  }

  test("only Crm.scala filters hidden file names, and only IdempotentFold.scala names the commit markers") {
    // which entries of a directory are data is one listing (Crm.visible and
    // Crm.dataFiles), and the commit-marker directory has one owner
    val owned = Seq(
      "Crm.scala" -> """startsWith\("[_.]"\)|"_\."""".r,
      "IdempotentFold.scala" -> "_commits".r)
    val found = for {
      (owner, rule) <- owned
      p <- mainSources if p.getFileName.toString != owner
      m <- rule.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).toSeq
    } yield s"$p: $m"
    assert(found.isEmpty, s"use Crm.dataFiles / IdempotentFold's marker helpers instead: $found")
  }

  test("only Crm.scala names a locator prefix") {
    // which locator is JDBC and which a parquet directory is decided by
    // Crm.isJdbc and Crm.isParquetDir
    val prefix = """"(?:jdbc|csv|json|orc|parquet):""".r
    val found = mainSources.filterNot(_.getFileName.toString == "Crm.scala").flatMap { p =>
      prefix.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).map(m => s"$p: $m").toSeq
    }
    assert(found.isEmpty, s"use Crm.isJdbc / Crm.isParquetDir instead: $found")
  }

  test("build.sbt and run_graft.sh read exactly the listed environment names") {
    def read(f: String) = new String(Files.readAllBytes(Paths.get(f)), "UTF-8")
    val sbtEnv = """sys\.env(?:\.get|\.getOrElse)?\(\s*"([A-Za-z0-9_]+)"""".r
      .findAllMatchIn(read("build.sbt")).map(_.group(1)).toSet
    // a shell reference `$NAME`/`${NAME` is an environment read unless the
    // script assigns NAME itself
    val sh = read("run_graft.sh")
    val assigned = """(?m)^\s*(?:for\s+)?([A-Za-z_][A-Za-z0-9_]*)(?:=|\s+in\s)""".r
      .findAllMatchIn(sh).map(_.group(1)).toSet
    val shEnv = """\$\{?([A-Za-z_][A-Za-z0-9_]*)""".r
      .findAllMatchIn(sh).map(_.group(1)).toSet -- assigned
    val found = sbtEnv ++ shEnv
    assert(found === launcherEnv.keySet,
      s"launcher env names changed; list and justify them here: unlisted ${(found -- launcherEnv.keySet).toSeq.sorted}, unused ${(launcherEnv.keySet -- found).toSeq.sorted}")
  }
}
