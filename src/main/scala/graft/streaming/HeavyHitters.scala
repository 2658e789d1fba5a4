package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** T16's STREAMING twin — the mergeable-summary property of
  * [[graft.functions.MisraGries]] put on a live feed (the d18'/w6'/w8
  * batch≡stream discipline applied to the sketch tier): each micro-batch
  * is sketched DISTRIBUTED by the same `Aggregator` the batch op uses
  * (O(budget) state per partition, the batch's token arrays never
  * explode), and the finished per-batch summaries FOLD into one running
  * accumulator — a finished summary re-wrapped as a merge input is again
  * a valid MG buffer, which is exactly the mergeability MisraGriesSpec
  * pins. Total serving state is ≤ 4·budget entries FOREVER, however long
  * the stream runs; a grouped-aggregate formulation of the same feed
  * would hold vocabulary-sized state, which is the failure mode this
  * tier exists to avoid. Candidate recall survives batch boundaries: a
  * token above N/(B+1) of the TOTAL stream survives the fold no matter
  * how its occurrences split across batches.
  *
  * Exact ranks come from [[topK]]'s recount over the LANDED corpus (the
  * S5 micro-batch sink discipline: the stream lands rows replayably;
  * sketch live, recount on read) through the same
  * [[graft.ext.TextStats.recountTopK]] kernel as batch t16 — candidates
  * and recount cannot drift between the two shapes.
  *
  * Restart: the accumulator is driver state OUTSIDE the streaming
  * checkpoint, so a restart rebuilds it with one replay of the landed
  * corpus ([[StreamFold]]); that restores the recall guarantee because
  * merge order never affects it. MG merge ADDS counts, so the replay
  * guard is correctness here.
  */
class MgStreamFold(budget: Int) extends StreamFold {
  private val mg = new graft.functions.MisraGries(budget)
  private var acc = mg.zero

  /** Fold a micro-batch of documents: lower-case, split on spaces, and
    * sketch the token arrays. */
  def foldBatch(docs: DataFrame): Unit = {
    import docs.sparkSession.implicits._
    foldBatch(docs.select(split(lower(col("text")), " ").as("toks"))
      .as[Seq[String]])
  }

  /** Sketch one micro-batch of token arrays (distributed) and fold it
    * into the running summary. The implicit only tells this overload
    * apart from the frame one after erasure. */
  def foldBatch(tokenArrays: Dataset[Seq[String]])
               (implicit d: DummyImplicit): Unit = {
    val sketch = tokenArrays.select(mg.toColumn.name("c")).head()
    synchronized {
      acc = mg.merge(acc, scala.collection.mutable.HashMap(sketch.toSeq: _*))
    }
  }

  /** Current candidate set — every token above the MG bound over the
    * stream so far is guaranteed present. */
  def candidates: Seq[String] =
    synchronized { mg.finish(acc) }.keys.toSeq

  /** Exact top-k as of now: bounded-IN recount of the current candidates
    * over the landed corpus — batch t16's pass 2, verbatim. */
  def topK(landedDocs: DataFrame, k: Int): DataFrame =
    graft.ext.TextStats.recountTopK(landedDocs, candidates, k)

  protected def reset(): Unit = acc = mg.zero
}
