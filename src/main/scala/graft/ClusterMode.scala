package graft
import java.io.File
import org.apache.spark.sql.SparkSession

/** The one session builder of the program's mains (`graft.Verify`,
  * `tools.PlanAudit`, `tools.ScaleGen`): `local[SPARK_GRAFT_CPUS]` by
  * default, or the master named by `SPARK_GRAFT_MASTER`.
  *
  * With `SPARK_GRAFT_MASTER=local-cluster[n,c,MB]` a main runs against
  * `n` real executor JVMs on one machine, each with `c` cores and an `MB`
  * heap. In one JVM (`local[N]`) a non-serializable closure capture, a
  * task that reads driver-only state and the loss of an executor cannot
  * show; here they do. The executors get the driver's own classes: their
  * class path is the driver's `java.class.path` (minus the Spark jars the
  * worker adds itself), so they always run the code the driver runs, with
  * no packaged jar to build first or to go stale. ClusterModeSpec runs
  * Verify this way, kills an executor mid-run, and checks the results
  * against local mode.
  */
object ClusterMode {

  /** A session on `SPARK_GRAFT_MASTER`, or on `local[cpus]`, with
    * `cpus` shuffle partitions and the UI off. `cpus` is
    * `SPARK_GRAFT_CPUS`, or every processor of this JVM. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    SparkSession.builder().master(master)
      .config(executorConfs(master))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private val LocalCluster = """local-cluster\[\s*\d+\s*,\s*(\d+)\s*,\s*(\d+)\s*\]""".r

  /** The confs a local-cluster worker needs to launch executors outside
    * spark-submit: the driver's class path, and the master's per-worker
    * cores and MB as each executor's cores and heap. Empty for any other
    * master. The executors' JDK module options need no conf: SparkContext
    * adds Spark's own (`JavaModuleOptions`) to every executor's java
    * options. */
  private[graft] def executorConfs(master: String,
      sparkHome: Option[String] = sys.env.get("SPARK_HOME")): Map[String, String] =
    master match {
      case LocalCluster(cores, mb) =>
        // the worker puts $SPARK_HOME/jars on every executor's class path
        val jars = sparkHome.map(h => new File(h, "jars"))
        require(jars.exists(_.isDirectory),
          s"$master needs SPARK_HOME set to a Spark install with a jars directory " +
            s"(SPARK_HOME=${sparkHome.getOrElse("<unset>")})")
        val sparkJars = jars.get.getCanonicalPath + File.separator
        val driverOnly = sys.props("java.class.path").split(File.pathSeparator)
          .filterNot(e => new File(e).getCanonicalPath.startsWith(sparkJars))
        Map(
          "spark.executor.extraClassPath" -> driverOnly.mkString(File.pathSeparator),
          // the worker's command builder asks for the Scala version before
          // it looks in $SPARK_HOME/jars, and a binary install has no build
          // directory to infer it from
          "spark.executorEnv.SPARK_SCALA_VERSION" -> "2.13",
          "spark.executor.cores" -> cores,
          "spark.executor.memory" -> s"${mb}m")
      case _ => Map.empty
    }
}
