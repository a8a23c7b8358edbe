package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.sources.Crm

/** The one build-once memo: [[Warehouse.build]] and the shared artifacts in
  * [[QueryShared]] build their value once and serve it to every later call.
  * It owns four rules, each stated here only:
  *  - the key is (kind, session, dir) plus [[graft.sources.Crm.signature]],
  *    the names, sizes and modification times of the stored tables under
  *    `dir`, listed on the driver without a Spark job;
  *  - entries whose SparkContext has stopped are purged on every call;
  *  - when the signature changes, the old value is released, and only then
  *    is the value rebuilt: its frames are unpersisted, since Spark's cache
  *    matches file scans by their root paths and a rebuild over rewritten
  *    files would be served the old cached rows; a [[path]] value's
  *    directory is deleted, so a corpus rewritten N times leaves one
  *    artifact on disk, not N. A call still reading the old path then fails
  *    loudly on the missing files instead of serving a stale artifact;
  *  - [[frame]] persists its frame whenever its storage level is NONE.
  * Each entry is a once-only cell whose build runs under the cell's lock,
  * not the map's: concurrent callers share one build, and one build may
  * call another (the IVF-PQ index reuses the fixed-K quantizer).
  */
private[graft] object BuildOnce {

  private final class Cell(val signature: Seq[(String, Long, Long)], private var stale: Option[Cell]) {
    private var value: Option[AnyRef] = None
    private var onRelease: () => Unit = () => ()

    def get[T <: AnyRef](release: T => Unit, build: => T): T = synchronized {
      value.getOrElse {
        stale.foreach(_.release()); stale = None
        val v = build
        onRelease = () => release(v); value = Some(v)
        v
      }.asInstanceOf[T]
    }

    def release(): Unit = synchronized { onRelease(); onRelease = () => () }
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(String, SparkSession, String), Cell]()

  private def cached[T <: AnyRef](kind: String, s: SparkSession, dir: String)(
      release: T => Unit)(build: => T): T = {
    cells.keySet.removeIf(_._2.sparkContext.isStopped)
    val sig = Crm.signature(s, dir)
    cells.compute((kind, s, dir), (_, old) =>
      if (old != null && old.signature == sig) old else new Cell(sig, Option(old)))
      .get(release, build)
  }

  /** The value `build` makes for `dir` in session `s`, built once for each
    * signature of `dir`; `frames` names its cached frames, released when a
    * new signature supersedes it. */
  def apply[T <: AnyRef](kind: String, s: SparkSession, dir: String)(
      frames: T => Seq[DataFrame])(build: => T): T =
    // dependents first (reverse build order), so no cached plan is
    // recached over a frame released before it
    cached(kind, s, dir)((v: T) => frames(v).reverse.foreach(_.unpersist()))(build)

  /** An on-disk artifact directory built once; its directory is deleted
    * when a new signature supersedes it. */
  def path(kind: String, s: SparkSession, dir: String)(build: => String): String =
    cached(kind, s, dir) { (p: String) =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true): Unit
    }(build)

  /** A cached frame built once. It is persisted whenever its storage level
    * is NONE: lazily after a lazy build, and again if a caller cleared the
    * cache, so no consumer silently re-executes the build per action. An
    * eagerly cached build keeps its storage level. */
  def frame(kind: String, s: SparkSession, dir: String)(build: => DataFrame): DataFrame = {
    val df = apply(kind, s, dir)((d: DataFrame) => Seq(d))(build)
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    df
  }
}
