package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one registration path of the engine's custom expressions
  * (SURVEY.md §4.2): [[graft.Sessions.builder]] installs it on every
  * session the engine and its tests build, and sessions derived from one
  * (`newSession`, streaming clones) inherit the functions. A session
  * built elsewhere gets them with
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * Extensions apply only when a session is created: `getOrCreate` on an
  * existing session ignores them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}

/** The custom expressions by SQL name: usable from SQL and the Column API
  * via `expr("cosine_fast(a, b)")`, `expr("hamming_dist(a, b)")` and
  * `expr("l2sq_fast(a, b)")`. */
object GraftFunctions {
  val all: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("cosine_fast", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
    ("hamming_dist", classOf[HammingDistance], e => HammingDistance(e(0), e(1))),
    ("l2sq_fast", classOf[L2Squared], e => L2Squared(e(0), e(1))))

  /** Registers [[all]] as temp functions of an existing session.
    * Idempotent. Sessions built by [[graft.Sessions]] already carry the
    * functions through [[GraftExtensions]]; this stays only because
    * perfbench's `Workloads.scala` calls it. Delete it in the next change
    * to perfbench. */
  def ensureRegistered(spark: SparkSession): Unit =
    all.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
}
