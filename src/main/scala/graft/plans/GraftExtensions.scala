package graft.plans

import graft.functions.{CosineSim, DotProduct, MinHashSig, SimHash, VecNorm}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Standard `SparkSessionExtensions` integration: makes the engine's
  * native expressions first-class SQL functions in any session built by
  * [[graft.GraftSession]], which adds `.withExtensions(new GraftExtensions)`
  * (or one configured with
  * `spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * No custom Rule[LogicalPlan]/SparkStrategy is injected — deliberately:
  * every reference-derived operator maps onto Catalyst's existing plans
  * (SURVEY.md §4.1, §7.3), so the optimizer surface the engine adds is
  * exactly these expressions.
  *
  * Constructing it also installs the engine's in-process `file:`
  * filesystem ([[graft.io.LocalFileSystem.install]]). Only the
  * programmatic route does so early enough: `new GraftExtensions` runs
  * before `getOrCreate`, so before the JVM caches its first `file:`
  * filesystem. The `spark.sql.extensions` route builds the class inside
  * `getOrCreate`, after the `SparkContext` exists; a session built that
  * way should call `install()` itself before the builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  graft.io.LocalFileSystem.install()

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions." + name, null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float vectors"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two float vectors"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(tokens) - 16-hash MinHash signature over 3-token shingles"),
      (exprs: Seq[Expression]) => MinHashSig(exprs.head)))
    e.injectFunction((FunctionIdentifier("simhash_sig"),
      info("simhash_sig", "simhash_sig(tokens) - 16-bit SimHash over distinct tokens"),
      (exprs: Seq[Expression]) => SimHash(exprs.head)))
    e.injectFunction((FunctionIdentifier("vec_norm"),
      info("vec_norm", "vec_norm(a) - L2 norm of a float vector"),
      (exprs: Seq[Expression]) => VecNorm(exprs.head)))
    e.injectFunction((FunctionIdentifier("simhash_wide"),
      info("simhash_wide",
        "simhash_wide(tokens) - 60-bit SimHash over distinct 3-token shingles"),
      (exprs: Seq[Expression]) =>
        graft.functions.SimHashWide(exprs.head)))
    e.injectFunction((FunctionIdentifier("z_value"),
      info("z_value",
        "z_value(a, b) - 21+21-bit Morton (z-order) interleave of two non-negative longs"),
      (exprs: Seq[Expression]) =>
        graft.functions.ZValue(exprs(0), exprs(1))))
  }
}
