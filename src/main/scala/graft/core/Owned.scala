package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StructType}
import org.apache.spark.storage.StorageLevel

/** The one owner of scope-local caches: `Owned { own => … }` runs its body,
  * `own.reuse(ds)` caches a frame the body reads more than once, and every
  * entry is released when the body returns or throws. No other code calls
  * `persist`, `unpersist` or `cache`.
  *
  * Placement follows the frame's schema:
  *  - an array or binary payload (tiles, vectors, hash sets, codes) is a
  *    block `localCheckpoint(false)`: rows stay as they are, with no
  *    columnar encode of wide arrays (that encode cost more than the work
  *    it saved, ~1.6 s per interval on the q23 changelog), and the cut
  *    keeps the reader's plan constant-size;
  *  - anything else is a columnar `persist(MEMORY_AND_DISK)`, the right
  *    trade for narrow rows.
  *
  * Both are lazy: the first action that reads the frame fills the cache.
  * Release unpersists a columnar entry and a block entry's checkpoint RDD
  * (a Dataset `unpersist` on a checkpoint does nothing), so nothing the
  * body returns may still read an owned frame lazily.
  *
  * `own.cut(ds)` is an eager cut the scope releases, for a loop's working
  * set. Cuts outside a scope are owned by lineage: a cut read by a
  * returned plan is never unpersisted here; its blocks go when the caller
  * releases it or the ContextCleaner collects the RDD. */
final class Owned private {
  private val release = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  def reuse[T](ds: Dataset[T]): Dataset[T] =
    if (Owned.hasPayload(ds.schema)) blocks(ds.localCheckpoint(false))
    else {
      val cached = ds.persist(StorageLevel.MEMORY_AND_DISK)
      release += (() => cached.unpersist())
      cached
    }

  /** An eager lineage cut of `ds` that the scope releases: a loop's
    * working set, which a later round reads after the round that built
    * it has released its own inputs. */
  def cut[T](ds: Dataset[T]): Dataset[T] = blocks(ds.localCheckpoint(true))

  private def blocks[T](cut: Dataset[T]): Dataset[T] = {
    release += (() => cut.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false)))
    cut
  }
}

object Owned {
  def apply[A](body: Owned => A): A = {
    val own = new Owned
    try body(own) finally own.release.foreach(_())
  }

  private def hasPayload(t: DataType): Boolean = t match {
    case _: ArrayType | BinaryType => true
    case s: StructType => s.fields.exists(f => hasPayload(f.dataType))
    case _ => false
  }
}
