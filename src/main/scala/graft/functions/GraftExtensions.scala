package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Registers the engine's kernels as SQL functions:
  *
  * {{{
  * spark = SparkSession.builder().withExtensions(new GraftExtensions).…
  * spark.sql("SELECT portable_simhash60(md5_shingle_h60(lower(text), 1, 128)) FROM docs")
  * }}}
  *
  * One registry feeds both the extension-injection path and the post-hoc
  * [[GraftExtensions.register]] path so the two cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registry.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** name → expression builder, each through the same Column function the
    * DataFrame API calls: the single source for both registration paths.
    */
  val registry: Seq[(String, Seq[Expression] => Expression)] = {
    def c(e: Expression): Column = GraftBridge.column(e)
    def sql(f: Seq[Expression] => Column): Seq[Expression] => Expression =
      args => GraftBridge.expression(f(args))
    Seq(
      "cosine_sim" -> sql(args => graft.ops.Similarity.cosine(c(args.head), c(args(1)))),
      // engine-portable (md5-derived) sketches — every value reproducible in
      // DuckDB SQL for oracle checking
      "md5_shingle_h60" -> sql(args => Md5ShingleH60.md5ShingleH60(c(args.head),
        intArg(args(1), "n"), if (args.length > 2) intArg(args(2), "maxTokens") else 0)),
      "portable_minhash_sig" -> sql(args =>
        PortableMinHashSig.portableMinhashSig(c(args.head), intArg(args(1), "k"))),
      "portable_simhash60" -> sql(args => PortableSimHash60.portableSimhash60(c(args.head))),
      "portable_hyperplane_bucket" -> sql(args =>
        PortableHyperplaneBucket.portableHyperplaneBucket(c(args.head), intArg(args(1), "planes"))))
  }

  /** Register on an existing session (post-hoc, e.g. in tests). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    registry.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
