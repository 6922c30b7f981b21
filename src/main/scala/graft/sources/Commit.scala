package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** graft's at-rest commit protocol: when a directory graft wrote counts
  * as durable, and the three ways one gets there.
  *
  *  - [[publishIfAbsent]]: build an artifact once beside its target and
  *    rename it into place (persisted indexes, release stages).
  *  - [[swap]]: replace a directory in place behind a rollback copy
  *    (parquet compaction, generation-tree folds).
  *  - [[commitOrReplay]]: write one generation of a tree, or prove that
  *    the committed one under the same id holds the same rows.
  *
  * A directory is committed when it holds a [[Marker]] file. Readers
  * read only committed directories, and a writer deletes an uncommitted
  * one only as its own crashed attempt. The debris names
  * (`.tmp-<name>-<n>`, `<dst>_compact_tmp`, `<dst>_compact_bak`) are
  * fixed, so whatever a crashed run left is found and recovered. */
object Commit {

  val Marker = "_SUCCESS"

  def committed(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, Marker))

  /** Publish `dst` unless it is committed: `write` builds it in a fresh
    * `.tmp-<name>-<n>` beside `dst`, which is marked committed and
    * renamed into place only while `dst` is absent. Returns whether this
    * call built `dst`.
    *
    * A twin builder that commits `dst` first wins, and this build is
    * dropped; every caller's build is deterministic, so both are the
    * same. A local file system's rename onto an existing directory
    * nests the source inside it instead of failing, so a nested copy is
    * removed. The tmp is deleted in a finally; orphaned tmps of this
    * name ([[artifactName]]: builders that died before their finally)
    * are swept first, and an uncommitted `dst` is a crashed write's
    * debris. That sweep can also fail a concurrent twin's build of the
    * same name; builders of different names never touch each other. */
  def publishIfAbsent(fs: FileSystem, dst: Path)(write: Path => Unit): Boolean = {
    if (committed(fs, dst)) return false
    val parent = dst.getParent
    fs.mkdirs(parent)
    fs.listStatus(parent).map(_.getPath)
      .filter(p => p.getName != dst.getName && artifactName(p.getName) == dst.getName)
      .foreach(fs.delete(_, true))
    if (fs.exists(dst)) fs.delete(dst, true)
    val tmp = new Path(parent, s".tmp-${dst.getName}-${System.nanoTime()}")
    try {
      write(tmp)
      if (!committed(fs, tmp)) fs.create(new Path(tmp, Marker), false).close()
      if (!fs.exists(dst)) fs.rename(tmp, dst)
      val nested = new Path(dst, tmp.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
      require(committed(fs, dst), s"failed to publish $tmp -> $dst")
    } finally if (fs.exists(tmp)) fs.delete(tmp, true)
    true
  }

  /** The artifact a directory entry belongs to: its own name, or the
    * target of a publish tmp (`.tmp-<name>-<n>`, or an older build's
    * `<name>.tmp-<n>`). */
  def artifactName(entry: String): String = entry match {
    case TmpName(name, null) => name
    case TmpName(null, name) => name
    case _ => entry
  }

  private val TmpName = raw"\.tmp-(.+)-\d+|(.+)\.tmp-\d+".r

  private def sibling(dst: Path, suffix: String): Path =
    new Path(dst.getParent, dst.getName + suffix)

  /** Roll back a [[swap]] that died between its two renames: its
    * `<dst>_compact_bak` stands and `dst` does not. Safe to call from a
    * reader, under the swap's single-writer contract. */
  def recover(fs: FileSystem, dst: Path): Unit = {
    val bak = sibling(dst, "_compact_bak")
    if (fs.exists(bak) && !fs.exists(dst))
      require(fs.rename(bak, dst), s"failed to restore $bak -> $dst")
  }

  /** Replace `dst` (or create it) with what `write` puts in
    * `<dst>_compact_tmp`, returning `write`'s result. Single writer per
    * `dst`. First a crashed earlier swap is recovered and its tmp and
    * bak are cleared, so `write` reads the recovered `dst`. Then `dst`
    * moves aside to `<dst>_compact_bak`, tmp renames into place, and bak
    * is dropped only once the new `dst` is committed. Every rename is
    * checked: a failure leaves either the original at `dst` or names
    * the bak that holds it. A [[recover]] from another reader between
    * the two renames puts the bak back at `dst`, and a local file
    * system then nests tmp inside it instead of failing the rename;
    * the swap checks where tmp landed and fails naming that race. */
  def swap[T](fs: FileSystem, dst: Path)(write: Path => T): T = {
    val tmp = sibling(dst, "_compact_tmp")
    val bak = sibling(dst, "_compact_bak")
    recover(fs, dst)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(bak)) fs.delete(bak, true)
    val result = write(tmp)
    val hadDst = fs.exists(dst)
    if (hadDst) require(fs.rename(dst, bak), s"failed to move $dst aside to $bak")
    val kept = if (hadDst) s"; the original is kept at $bak" else ""
    if (!fs.rename(tmp, dst)) {
      if (hadDst && fs.rename(bak, dst))
        throw new IllegalStateException(s"failed to swap $tmp into $dst; original restored")
      throw new IllegalStateException(s"failed to swap $tmp into $dst$kept")
    }
    val nested = new Path(dst, tmp.getName)
    if (fs.exists(tmp) || fs.exists(nested)) {
      fs.delete(nested, true)
      throw new IllegalStateException(s"failed to swap $tmp into $dst: a concurrent " +
        s"recover restored $dst from $bak between the two renames, so the rename " +
        s"did not replace it; a copy nested inside it is removed and $dst holds the original")
    }
    if (!committed(fs, dst))
      throw new IllegalStateException(s"swapped-in $dst holds no $Marker$kept")
    if (hadDst) fs.delete(bak, true)
    result
  }

  /** Commit `rows` as generation `dir` of a generation tree, or prove a
    * replay. A committed `dir` is either an at-least-once replay of the
    * same batch, whose rows are the same ([[sameRows]]), or a batch-id
    * collision: a restarted query with a fresh checkpoint (ids back at
    * 0) pointed at an existing tree. Overwriting would destroy absorbed
    * history, so a collision refuses. An uncommitted `dir` is a crashed
    * write's debris, and the overwrite replaces it. */
  def commitOrReplay(fs: FileSystem, dir: Path, rows: DataFrame): Unit =
    if (committed(fs, dir)) {
      val prior = rows.sparkSession.read.parquet(dir.toString)
        .select(rows.columns.map(col): _*)
      require(sameRows(prior, rows),
        s"generation ${dir.getName} of ${dir.getParent} is already committed " +
          "with DIFFERENT content — batch-id collision (restarted query with " +
          "a fresh checkpoint against an existing tree?). Refusing to " +
          "overwrite absorbed history; point the restarted query at a fresh " +
          "tree or keep its checkpoint.")
    } else rows.write.mode("overwrite").parquet(dir.toString)

  /** Exact multiset equality: equal counts and an empty
    * `prior.exceptAll(rows)`. `rows` is cached for the compare, so the
    * count and the exceptAll share one computation of it. */
  def sameRows(prior: DataFrame, rows: DataFrame): Boolean = {
    val r = rows.persist()
    try prior.count() == r.count() && prior.exceptAll(r).limit(1).count() == 0
    finally r.unpersist(false)
  }
}
