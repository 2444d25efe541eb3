package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extensions entry point: installs the graft native
  * expressions (`cosine_sim`, `int8_dot`, `lsh_buckets`) and the
  * driver-read planner strategy ([[graft.sources.KvDriverReadStrategy]])
  * with no driver-side call and no conf key. It is registered as a
  * `META-INF/services` `SparkSessionExtensionsProvider`, which Spark's
  * session builder service-loads for every session it creates, so
  * SQL-only users (JDBC gateways, notebooks, `spark.sql(...)` scripts)
  * get it with the jar on the classpath. Naming it in config as well is
  * harmless —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * — the second copy of each function replaces the first, and the first
  * copy of the strategy plans before the second is asked. The per-session
  * `register` methods on each function object remain for programmatic
  * use; both routes install the identical codegen'd expressions. */
class GraftExtensions extends SparkSessionExtensionsProvider {

  private def fn(name: String, usage: String,
                 builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, null, name, usage, "", "", "",
        "", "", "", "built-in"),
      builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // the builders are the SAME values register() installs, so the two
    // routes cannot drift (arity checks and defaults live with each
    // function object, not here)
    ext.injectFunction(fn("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float vectors (fused codegen)",
      functions.CosineSimilarity.builder))
    ext.injectFunction(fn("int8_dot",
      "int8_dot(a, b) - exact LONG dot product of two int8-code vectors",
      functions.Int8Dot.builder))
    ext.injectFunction(fn("lsh_buckets",
      "lsh_buckets(vec) - multi-table hyperplane LSH bucket ids (4 tables x 4 planes)",
      functions.LshBuckets.builder()))
    ext.injectPlannerStrategy(_ => sources.KvDriverReadStrategy)
  }
}
