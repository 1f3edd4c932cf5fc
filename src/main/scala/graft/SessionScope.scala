package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-side memos scoped to one SparkSession: the resolved reads of
  * [[Tables.t]] and the fixtures of [[graft.queries.FixtureCache]].
  *
  * Scopes are keyed by session identity, not by applicationId:
  * `spark.newSession()` shares the application id but has its own conf,
  * and a frame resolved in one session stays bound to it. One listener
  * per SparkContext drops every scope of that context when the
  * application ends, so a JVM that cycles contexts keeps no plans
  * against stopped ones.
  *
  * Reads and fixtures are separate maps because a fixture build reads
  * its tables through [[Tables.t]], and a nested `computeIfAbsent` on
  * one ConcurrentHashMap is unsupported (it can throw "Recursive
  * update").
  */
private[graft] object SessionScope {
  final class Scope {
    val reads = new ConcurrentHashMap[String, DataFrame]()
    val fixtures = new ConcurrentHashMap[String, AnyRef]()
  }

  private val scopes = new ConcurrentHashMap[SparkSession, Scope]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkContext]()

  def of(spark: SparkSession): Scope = {
    val sc = spark.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          scopes.keySet.removeIf(_.sparkContext eq sc)
          hooked.remove(sc)
        }
      })
    scopes.computeIfAbsent(spark, _ => new Scope)
  }
}
