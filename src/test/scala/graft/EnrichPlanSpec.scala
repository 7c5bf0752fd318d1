package graft

import org.apache.spark.sql.catalyst.expressions.{Alias, CreateNamedStruct, Expression, HigherOrderFunction, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import graft.operators.Enrich

/** The enrichment stays O(n) per record by construction: no
  * higher-order function in the outlier check or the time-domain
  * features. Spark interprets `transform`/`aggregate` per element, and
  * a fold referenced inside a lambda is re-evaluated for every element
  * (the O(n²) shape the `Signal.moments` kernel replaced).
  */
class EnrichPlanSpec extends SparkSpec {
  import spark.implicits._

  private def hasHof(e: Expression): Boolean = e.find(_.isInstanceOf[HigherOrderFunction]).isDefined

  test("Enrich.pipeline: outlier_check and features.time_domain hold no higher-order function") {
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "Good",
      Seq(1.0, 2.0, 4.0))).toDF("id", "ts", "status", "signal")
    val enriched = Enrich.pipeline(df, "signal", "ts", "status")
    val aliases = enriched.queryExecution.analyzed.collect { case p: Project => p.projectList }
      .flatten.collect { case a: Alias => a.name -> a.child }.toMap
    val timeDomain = aliases("features").collect { case s: CreateNamedStruct =>
      s.nameExprs.zip(s.valExprs) }.flatten.collectFirst {
      case (Literal(name, _), v) if name.toString == "time_domain" => v }
    assert(timeDomain.isDefined, "features has no time_domain struct")
    assert(!hasHof(aliases("outlier_check")), aliases("outlier_check").treeString)
    assert(!hasHof(timeDomain.get), timeDomain.get.treeString)
    // the detector itself: a lambda fold is found
    val hof = df.select(aggregate($"signal", lit(0.0), (a, v) => a + v).as("s"))
      .queryExecution.analyzed.expressions
    assert(hof.exists(hasHof))
  }
}
