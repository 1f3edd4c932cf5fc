package graft.queries

import graft.SessionScope
import graft.operators.Cuts
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Session-scoped memo for expensive query fixtures (VERDICT r14 #1b —
  * "share the session-scoped fixture/index builds across the ~30 ann_*
  * rows; each currently re-runs its own nnDescent").
  *
  * The correctness gate (`graft.Verify`) runs every oracle query in one
  * JVM on one SparkSession; five of the graph rows build the IDENTICAL
  * `serveGraph(nnDescent(embeddings, k=4, iters=2))` standing index and
  * two more the identical layered index. The builds are deterministic
  * (hash-seeded init, deterministic tie-breaks), so sharing one
  * [[Cuts]]-materialized copy is result-identical to rebuilding — it
  * only removes the repeated build jobs from the verify wall time.
  *
  * Entries live in the session's [[graft.SessionScope]], so a cached
  * frame is never served to another SparkSession (not even one from
  * `newSession()`, which shares the context but not the conf) and dies
  * with its application. `computeIfAbsent` makes concurrent verify
  * threads block on the ONE in-flight build of their key instead of
  * racing duplicate builds. [[evict]] lets long bench sessions free a
  * finished row family's fixtures.
  */
object FixtureCache {

  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    cachedAny(spark, key)(Cuts.cut(build))

  /** Non-DataFrame fixtures (codebooks, composite indexes) — the caller
    * owns materialization (cut any DataFrame members so the shared copy
    * is compute-once, not lineage-shared).
    */
  def cachedAny[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T =
    SessionScope.of(spark).fixtures.computeIfAbsent(key, _ => build)
      .asInstanceOf[T]

  /** Drop every fixture of this session and free the blocks of the cut
    * frames. `graft.Bench` calls this at row-family boundaries so a
    * full-surface session doesn't hold every family's standing indexes
    * at once (`ann_serve_latency` ran 5.7× its solo cost behind three
    * retained index builds at sf1). Returns the number of entries
    * dropped.
    */
  def evict(spark: SparkSession): Int = {
    val fixtures = SessionScope.of(spark).fixtures
    val n = fixtures.size
    fixtures.values.forEach {
      case ds: Dataset[_] => Cuts.release(ds.toDF())
      case _ =>
    }
    fixtures.clear()
    n
  }
}
