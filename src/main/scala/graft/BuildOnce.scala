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
  *  - when the signature changes, the old value's frames are unpersisted,
  *    and only then is the value rebuilt: Spark's cache matches file scans
  *    by their root paths, so a rebuild over rewritten files would be
  *    served the old cached rows;
  *  - [[frame]] persists its frame whenever its storage level is NONE.
  * Each entry is a once-only cell whose build runs under the cell's lock,
  * not the map's: concurrent callers share one build, and one build may
  * call another (the IVF-PQ index reuses the fixed-K quantizer).
  */
private[graft] object BuildOnce {

  private final class Cell(val signature: Seq[(String, Long, Long)], private var stale: Option[Cell]) {
    private var value: Option[AnyRef] = None
    private var frames: Seq[DataFrame] = Nil

    def get[T <: AnyRef](framesOf: T => Seq[DataFrame], build: => T): T = synchronized {
      value.getOrElse {
        stale.foreach(_.release()); stale = None
        val v = build
        frames = framesOf(v); value = Some(v)
        v
      }.asInstanceOf[T]
    }

    // dependents first (reverse build order), so no cached plan is
    // recached over a frame released before it
    def release(): Unit = synchronized { frames.reverse.foreach(_.unpersist()); frames = Nil }
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(String, SparkSession, String), Cell]()

  /** The value `build` makes for `dir` in session `s`, built once for each
    * signature of `dir`; `frames` names its cached frames, released when a
    * new signature supersedes it. */
  def apply[T <: AnyRef](kind: String, s: SparkSession, dir: String)(
      frames: T => Seq[DataFrame])(build: => T): T = {
    cells.keySet.removeIf(_._2.sparkContext.isStopped)
    val sig = Crm.signature(s, dir)
    cells.compute((kind, s, dir), (_, old) =>
      if (old != null && old.signature == sig) old else new Cell(sig, Option(old)))
      .get(frames, build)
  }

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
