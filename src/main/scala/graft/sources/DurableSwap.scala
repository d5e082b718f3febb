package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.internal.Logging

/** The one crash-safe replace for the durable metadata kept beside the
  * data: the zone-map manifest (a parquet directory) and the streaming
  * commit ledger (one file). Every durable write goes through [[replace]],
  * every durable read through [[resolve]]. A target `t` has two siblings:
  * `t__fold_next`, the scratch the new content is written to, and
  * `t__fold_prev`, where the old content is parked during the swap (the
  * ledger's keep its leading `_`, so Spark's listing never sees them).
  *
  * At every crash point either `t` holds the complete old or new content,
  * or (between the two renames) `t__fold_prev` holds the old content:
  * [[resolve]] serves it, and the next [[replace]] renames it back first.
  * A torn scratch is never read.
  *
  * Contract: ONE writer per target. Two concurrent replaces of the same
  * target can drop each other's parked copy; callers serialize (one fold
  * per manifest, one stream per ledger directory). */
private[graft] object DurableSwap extends Logging {

  private def sibling(t: Path, suffix: String) =
    new Path(t.getParent, t.getName + suffix)

  /** Restore a parked copy, write the scratch, drop a stale parked copy,
    * park the old target, rename the scratch in, drop the parked copy.
    * `write` may land a file or a directory, and may read `target`. */
  def replace(fs: FileSystem, target: Path)(write: Path => Unit): Unit = {
    val scratch = sibling(target, "__fold_next")
    val parked = sibling(target, "__fold_prev")
    if (!fs.exists(target) && fs.exists(parked)) {
      logWarning(s"$target absent, restoring the copy a crashed swap parked")
      require(fs.rename(parked, target), s"restore $parked -> $target failed")
    }
    fs.delete(scratch, true)
    write(scratch)
    fs.delete(parked, true)
    if (fs.exists(target))
      require(fs.rename(target, parked), s"park $target -> $parked failed")
    require(fs.rename(scratch, target),
      s"swap $scratch -> $target failed; the old content is at $parked")
    fs.delete(parked, true)
  }

  /** `target` when present, else its parked copy (a swap is mid-way or
    * crashed there), else `target` so that the read fails loudly. */
  def resolve(fs: FileSystem, target: Path): Path = {
    val parked = sibling(target, "__fold_prev")
    if (fs.exists(target) || !fs.exists(parked)) target
    else {
      logWarning(s"$target absent, serving the copy a swap parked")
      parked
    }
  }
}
