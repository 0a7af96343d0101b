package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Frames an operator materializes once because several branches of the
  * plan it returns read them (a corpus-sized intermediate that Catalyst
  * would otherwise recompute per consumer).
  *
  * The operator cannot release such a frame itself: the DataFrame it
  * returns is lazy and still reads it. Whoever runs the action owns the
  * release. [[releasing]] is that owner: every frame [[persist]]ed while
  * its body runs — on the calling thread or on a thread it starts — is
  * unpersisted when the body returns or throws. [[SparkEntry.run]] wraps
  * every declared query in it, so `Verify`, `Bench` and
  * `graft.tools.Prof` leave no cache entry behind a query. A frame persisted outside any
  * `releasing` body stays cached until its caller unpersists it.
  */
object Reuse {

  private val owner = new DynamicVariable[Option[ArrayBuffer[DataFrame]]](None)

  /** `df.persist(MEMORY_AND_DISK)`, released by the enclosing [[releasing]].
    * MEMORY_AND_DISK, not a local checkpoint: the frame keeps its lineage,
    * so a lost executor recomputes a partition instead of failing the job.
    */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    owner.value.foreach(frames => frames.synchronized(frames += p))
    p
  }

  /** Run `body`; then unpersist every frame [[persist]]ed while it ran. */
  def releasing[A](body: => A): A = {
    val frames = ArrayBuffer[DataFrame]()
    try owner.withValue(Some(frames))(body)
    finally frames.synchronized(frames.foreach(_.unpersist()))
  }
}
