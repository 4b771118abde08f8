package graft.sink

import java.io.IOException
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one commit protocol for directory-shaped state (parquet
  * snapshots, materialized aggregates, compacted partitions,
  * maintained index tables): stage a complete new copy, move the live
  * copy aside, move the staged copy in, delete the aside copy last.
  *
  * Hadoop's `rename` reports most failures as `false`, so every
  * rename is checked and a refused one throws. A crash (or a refused
  * restore) between the two renames leaves the state ONLY in its
  * aside copy; readers call `heal` first, which moves it back, so the
  * state is never misread as absent (which would silently reset it).
  * An aside copy beside an intact live copy is post-commit residue
  * and is ignored; the next commit deletes it. Single writer per
  * directory, like every sink path here.
  */
object DirSwap {

  /** The usual aside path of `live`: `<live>__old`. */
  def old(live: Path): Path = new Path(live.toString + "__old")

  /** Replace `live` with the fully written `staged` directory, keeping
    * the previous copy at `aside` until the new one is in place.
    * `beforeSwap` runs after the last write and before the first
    * rename (a fencing check's point of no return). */
  def commit(fs: FileSystem, staged: Path, live: Path, aside: Path,
      beforeSwap: () => Unit = () => ()): Unit = {
    if (fs.exists(aside)) fs.delete(aside, true)
    beforeSwap()
    if (fs.exists(live) && !fs.rename(live, aside))
      throw new IOException(s"could not move $live aside to $aside")
    if (!fs.rename(staged, live)) {
      // restore before failing: the state must never be left with no
      // live copy while the writer still runs
      if (fs.exists(aside) && !fs.rename(aside, live))
        throw new IOException(
          s"could not move new snapshot $staged into $live, nor restore $aside")
      throw new IOException(s"could not move new snapshot $staged into $live")
    }
    if (fs.exists(aside)) fs.delete(aside, true)
  }

  /** Restore `live` when a crashed commit left it only as `aside`. */
  def heal(fs: FileSystem, live: Path, aside: Path): Unit =
    if (!fs.exists(live) && fs.exists(aside) && !fs.rename(aside, live))
      throw new IOException(s"could not restore $live from $aside")

  /** `heal` for the per-partition commits of a partitioned `root`
    * whose aside copies sit BESIDE it as `<root><infix><partition>`
    * (inside the root they would read as extra partition values):
    * restores each partition that is missing, drops each stale copy. */
  def healBeside(fs: FileSystem, root: Path, infix: String): Unit = {
    val parent = root.getParent
    if (parent == null || !fs.exists(parent)) return
    val prefix = root.getName + infix
    for (st <- fs.listStatus(parent) if st.getPath.getName.startsWith(prefix)) {
      val live = new Path(root, st.getPath.getName.stripPrefix(prefix))
      if (fs.exists(live)) fs.delete(st.getPath, true)
      else if (!fs.rename(st.getPath, live))
        throw new IOException(s"could not restore $live from ${st.getPath}")
    }
  }

  /** Write a `Long` token sidecar into a staged directory, so token
    * and data become visible in the same commit. A `_`-prefixed name
    * is invisible to parquet readers. */
  def writeToken(fs: FileSystem, staged: Path, name: String, token: Long): Unit = {
    val out = fs.create(new Path(staged, name), true)
    try out.write(token.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The token committed in `dir`, or None when there is none. An
    * unparseable payload throws: no crash ordering produces one (the
    * file is complete before the commit publishes it), so it means
    * outside corruption, and guessing would refold or skip a batch. */
  def readToken(fs: FileSystem, dir: Path, name: String): Option[Long] = {
    val f = new Path(dir, name)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong)
      finally in.close()
    }
  }
}
