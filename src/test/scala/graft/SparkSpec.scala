package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (JVM-wide, forked). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(cores = 4, shufflePartitions = 4, appName = "graft-test")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}

/** Fails a test that leaves a cache behind in the shared session: after
  * it, the cache manager must be empty and no RDD it persisted may still
  * be registered. Every `KgPipeline.run` persists its shared stages, so a
  * suite that builds a KG releases each build with `KgResult.unpersist()`
  * (see [[released]]). Leaks are released after the check, so one leaking
  * test does not fail the next. */
trait CacheHygiene extends SparkSpec {

  /** `f` over a KG build, then release the build's shared caches. */
  protected def released[A](r: KgResult)(f: KgResult => A): A =
    try f(r) finally r.unpersist()

  override protected def withFixture(test: NoArgTest): Outcome = {
    val cache = spark.sharedState.cacheManager
    // a suite outside this trait may have left entries behind
    cache.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val outcome = super.withFixture(test)
    val cached = !cache.isEmpty
    val leftRdds = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    cache.clearCache()
    leftRdds.values.foreach(_.unpersist())
    val leaks = Seq(
      if (cached) Some("the cache manager still holds entries") else None,
      if (leftRdds.nonEmpty) Some("persisted RDDs still registered: " +
        leftRdds.values.map(r => s"${r.id}:${r.getClass.getSimpleName}").mkString(", "))
      else None).flatten
    outcome match {
      case Succeeded if leaks.nonEmpty => Failed(s"${test.name} leaked: ${leaks.mkString("; ")}")
      case other => other
    }
  }
}
