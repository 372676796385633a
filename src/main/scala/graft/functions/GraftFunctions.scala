package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration of graft's native expressions, so SQL model
  * files (graft.model) and spark.sql users can call them directly:
  *
  *   SELECT minhash_sig(shingles), simhash64(shingles), dot_product(a, b)
  *
  * Two wirings, same builder list:
  *  - `GraftFunctions.register(spark)` on a live session (the CLI and
  *    tests use this);
  *  - `GraftExtensions` via `spark.sql.extensions=graft.functions.
  *    GraftExtensions` for cluster deployments where the session is
  *    built by the platform.
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }
  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(s"$what must be a long literal, got $other")
  }

  val builders: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      {
        case Seq(arr) => MinHashSignature(arr, 64, 42L)
        case Seq(arr, k) => MinHashSignature(arr, intArg(k, "numHashes"), 42L)
        case Seq(arr, k, seed) => MinHashSignature(arr, intArg(k, "numHashes"), longArg(seed, "seed"))
        case args => throw new IllegalArgumentException(s"minhash_sig takes 1-3 args, got ${args.length}")
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      {
        case Seq(arr) => SimHash64(arr, 42L)
        case Seq(arr, seed) => SimHash64(arr, longArg(seed, "seed"))
        case args => throw new IllegalArgumentException(s"simhash64 takes 1-2 args, got ${args.length}")
      }),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      {
        case Seq(a, b) => DotProduct(a, b)
        case args => throw new IllegalArgumentException(s"dot_product takes 2 args, got ${args.length}")
      }),
    (FunctionIdentifier("sha_prefix_long"),
      new ExpressionInfo(classOf[Sha256PrefixLong].getName, "sha_prefix_long"),
      {
        case Seq(s) => Sha256PrefixLong(s, 15)
        case Seq(s, n) => Sha256PrefixLong(s, intArg(n, "nHex"))
        case args => throw new IllegalArgumentException(s"sha_prefix_long takes 1-2 args, got ${args.length}")
      }),
    (FunctionIdentifier("sha_minhash"),
      new ExpressionInfo(classOf[ShaMinHash].getName, "sha_minhash"),
      {
        case Seq(arr) => ShaMinHash(arr, 64)
        case Seq(arr, k) => ShaMinHash(arr, intArg(k, "numHashes"))
        case args => throw new IllegalArgumentException(s"sha_minhash takes 1-2 args, got ${args.length}")
      }),
    (FunctionIdentifier("sha_simhash"),
      new ExpressionInfo(classOf[ShaSimHash].getName, "sha_simhash"),
      {
        case Seq(arr) => ShaSimHash(arr, 60)
        case Seq(arr, b) => ShaSimHash(arr, intArg(b, "bits"))
        case args => throw new IllegalArgumentException(s"sha_simhash takes 1-2 args, got ${args.length}")
      })
  )

  def register(spark: SparkSession): Unit =
    builders.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` —
  * registers the SQL functions, the TopKPerGroup planner strategy, the
  * (semantics-preserving, proven by TopKPerGroupSpec) window-top-k
  * rewrite and the parquet footer-count rule in one shot, so a cluster
  * session picks up the whole graft extension surface from config alone.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKWindowRewrite)
    ext.injectOptimizerRule(_ => graft.plans.FooterCount)
  }
}
