package graft.plans

import graft.functions.{CosineSim, DotProduct, KmNearest, MinHashSig, SimHash,
  SimHashWide, VecNorm, ZValue}
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

  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, arity, usage, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions." + name, null, name, usage, ""),
        (exprs: Seq[Expression]) => {
          if (exprs.length != arity) throw new IllegalArgumentException(
            s"$name expects $arity argument(s), got ${exprs.length}")
          build(exprs)
        }))
    }
}

object GraftExtensions {
  /** Every SQL function the engine adds: (name, arity, usage, builder). */
  private val functions
      : Seq[(String, Int, String, Seq[Expression] => Expression)] =
    Seq(
      ("cosine_sim", 2,
        "cosine_sim(a, b) - cosine similarity of two float vectors",
        e => CosineSim(e(0), e(1))),
      ("dot_product", 2,
        "dot_product(a, b) - dot product of two float vectors",
        e => DotProduct(e(0), e(1))),
      ("minhash_sig", 1,
        "minhash_sig(tokens) - 16-hash MinHash signature over 3-token shingles",
        e => MinHashSig(e.head)),
      ("simhash_sig", 1,
        "simhash_sig(tokens) - 16-bit SimHash over distinct tokens",
        e => SimHash(e.head)),
      ("simhash_wide", 1,
        "simhash_wide(tokens) - 60-bit SimHash over distinct 3-token shingles",
        e => SimHashWide(e.head)),
      ("vec_norm", 1, "vec_norm(a) - L2 norm of a float vector",
        e => VecNorm(e.head)),
      ("km_nearest", 2,
        "km_nearest(qv, cs) - (dist, cell) of the centroid in cs nearest to qv",
        e => KmNearest(e(0), e(1))),
      ("z_value", 2,
        "z_value(a, b) - 21+21-bit Morton (z-order) interleave of two non-negative longs",
        e => ZValue(e(0), e(1))))
}
