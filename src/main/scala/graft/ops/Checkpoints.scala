package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** The engine's one pin policy. Every lineage-truncating materialization
  * (iterative rounds of PageRank / connected components / BPE, and the
  * multi-consumer artifacts operators pin once) goes through [[pin]], so
  * the local-vs-reliable choice is made in exactly one place:
  *  - no checkpoint dir on the session: `localCheckpoint` — executor block
  *    storage, no filesystem round-trip, but an executor loss makes the
  *    pin unrecoverable and fails the job loudly. Right for benchmarks and
  *    short jobs.
  *  - a checkpoint dir on the SparkContext (`spark.checkpoint.dir`, or
  *    set programmatically): reliable `checkpoint` — survives executor
  *    loss, the right trade on a 1000-executor cluster where losing one
  *    machine mid-iteration-10 of a corpus-scale PageRank must not restart
  *    the job. Costs one filesystem write per pin.
  *
  * Set `spark.checkpoint.dir` and every pin in the engine is reliable.
  *
  * [[freeze]] is the other way to share work: it keeps the lineage and
  * shares a plan's shuffle outputs, storing no rows.
  */
object Checkpoints {

  /** Pin `df` under the session's policy (see above).
    *
    * `eager = false` defers materialization to the consumer's first action
    * (no standalone job barrier — setup artifacts that feed exactly the
    * next job want this); `eager = true` materializes NOW, which is the
    * right mode for any artifact that will later be [[release]]d — release
    * semantics on a never-materialized lazy checkpoint would be undefined.
    */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Run `df`'s shuffles once and share them: every shuffle-map stage of
    * its plan runs NOW, and the result is a plan over those outputs, so
    * each later action on it (or on a plan built from it) runs only its
    * final stage instead of re-running the shuffles from the sources.
    * Nothing goes into the block store and the lineage is kept: a lost map
    * output is recomputed, never a failed job. The right tool for a table
    * several independent actions read (an exported catalog); [[pin]] stays
    * the tool where lineage must be cut (iterative rounds) or a recompute
    * is too dear. Errors in the shuffled part of the plan surface here.
    * The shuffle files live until the result is garbage collected or
    * [[release]]d.
    */
  def freeze(df: DataFrame): DataFrame = CheckpointBridge.freeze(df)

  /** Free a SUPERSEDED round's pinned blocks (no-op for reliable
    * checkpoints, whose data lives in files, not the block store). Callers
    * must guarantee the Dataset is never read again — a localCheckpoint
    * cannot recompute.
    *
    * Release walks the WHOLE analyzed plan and unpersists every pinned
    * node it finds, so it also serves as the caller-side cleanup hook for
    * lazy operators that pin internal artifacts (e.g. [[Dedup.upsert]]'s
    * resolved increment, [[Graph.pageRankInt]]'s edge table, the triangle
    * census's canonical edge set): after the terminal action on such an
    * operator's result, `Checkpoints.release(result)` frees everything the
    * plan still references. Long-lived sessions (a streaming foreachBatch
    * loop calling upsert per batch) must do this or accumulate dead
    * blocks until eviction churn sets in; one-shot jobs can skip it.
    *
    * A [[freeze]]d node's shuffle outputs are freed too — every shuffle in
    * its lineage, including those of frozen inputs it was built from.
    * Unlike a released local pin, a later read of a released frozen frame
    * is still correct: it recomputes the shuffles from lineage.
    */
  def release(ds: org.apache.spark.sql.Dataset[_]): Unit =
    CheckpointBridge.release(ds)
}
