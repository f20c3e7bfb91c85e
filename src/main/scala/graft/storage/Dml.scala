package graft.storage

import org.apache.spark.sql.Column

/** The vocabulary of [[SnapshotStore.dml]], the store's one predicate-DML
  * verb: WHAT it does to the matching rows ([[Dml.Op]]), WHICH line of
  * history it commits to ([[Dml.Target]]) and HOW it pays for the
  * ambiguous slices ([[Dml.Mode]]).
  */
object Dml {
  sealed trait Op
  /** `DELETE ... WHERE pred`: rows where `pred` is TRUE leave (FALSE or
    * NULL survive — SQL three-valued DELETE).
    */
  case object Delete extends Op
  /** `UPDATE ... SET c = e, ... WHERE pred`: each RHS sees the PRE-update
    * row and casts to the column's existing logical type.
    */
  final case class Update(assignments: Seq[(String, Column)]) extends Op

  sealed trait Target
  /** Commits the next version of main. */
  case object Head extends Target
  /** Stages the next version of WAP branch `name` (main untouched). */
  final case class Branch(name: String) extends Target

  sealed trait Mode
  /** Copy-on-write: ambiguous slices (or files) are rewritten. */
  case object CoW extends Mode
  /** Merge-on-read: matching rows' positions go to a deletion-vector
    * sidecar; only an update's new images are written.
    */
  case object MoR extends Mode
}

/** One DML commit's receipt. `version` is the committed head — or, for a
  * [[Dml.Branch]] target, the branch's staged tip counter — (the prior
  * one when nothing changed: a no-op commits no version). `droppedDirs`
  * = (partition, gen) slices deleted as pure metadata (AllMatch);
  * `rewrittenDirs` = slices — or, after the file split, individual FILES
  * — that paid copy-on-write (for a MoR update: the appended image gens);
  * `keptDirs` = NoMatch slices inside touched partitions whose fields
  * copied forward verbatim (slices of untouched partitions are not
  * counted — they were never resolved). `keptFiles`/`droppedFiles` =
  * files of ambiguous multi-file slices the footer verdict kept as
  * manifest FILE fields (never opened) / dropped as pure metadata
  * (delete only). `dvDirs`/`dvRows` = slices that took deletion-vector
  * positions and the positions written (MoR only).
  */
case class DmlReceipt(version: Int, droppedDirs: Int,
                      rewrittenDirs: Int, keptDirs: Int,
                      keptFiles: Int = 0, droppedFiles: Int = 0,
                      dvDirs: Int = 0, dvRows: Long = 0L)
