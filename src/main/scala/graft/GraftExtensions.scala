package graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.Decimal

import graft.functions._

/** Session extension surface — the Spark analogue of the reference's
  * `BallistaFunctionRegistry` (`core/src/registry.rs:38-48`): user functions
  * join the session at build time via `SparkSession.builder.withExtensions`.
  */
object GraftExtensions {

  /** Register SQL function `name`, built by `build` from its arguments
    * once their count is one of `arity` (else Spark's WRONG_NUM_ARGS). */
  private def fn[T <: Expression : ClassTag](e: SparkSessionExtensions,
      name: String, arity: Int*)(build: Seq[Expression] => T): Unit =
    e.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(classTag[T].runtimeClass.getName, name),
      (children: Seq[Expression]) => {
        if (!arity.contains(children.size))
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map(
              "functionName" -> name, "expectedNum" -> arity.mkString(" or "),
              "actualNum" -> children.size.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        build(children)
      }))

  /** The value of argument `what` of `name`, which must be a literal
    * that `num` accepts. */
  private def literal[A](name: String, what: String, arg: Expression)
                        (num: PartialFunction[Any, A]): A = {
    if (!arg.foldable) throw new IllegalArgumentException(
      s"$name: $what must be a literal, got ${arg.sql}")
    num.applyOrElse(arg.eval(), (other: Any) =>
      throw new IllegalArgumentException(
        s"$name: non-numeric $what literal $other"))
  }

  private val asInt: PartialFunction[Any, Int] = {
    case n: java.lang.Number => n.intValue()
  }
  private val asDouble: PartialFunction[Any, Double] = {
    case d: Decimal => d.toDouble
    case n: java.lang.Number => n.doubleValue()
  }

  private def atLeast(name: String, what: String, min: Int, v: Int): Int = {
    if (v < min) throw new IllegalArgumentException(
      s"$name: $what must be >= $min, got $v")
    v
  }

  val install: SparkSessionExtensions => Unit = { e =>
    // §7 path (c): custom logical node -> SparkStrategy -> SparkPlan
    // (reference ChaosExec, core/src/execution_plans/chaos_exec.rs).
    e.injectPlannerStrategy(_ => graft.plans.Chaos.ChaosStrategy)
    fn(e, "cosine_sim", 2)(c => CosineSimilarity(c(0), c(1)))
    fn(e, "hyperplane_sig", 2)(c => HyperplaneSig(c(0),
      literal("hyperplane_sig", "nPlanes", c(1))(asInt)))
    fn(e, "int_l2", 2)(c => IntL2Dist(c(0), c(1)))
    fn(e, "ivf_argmin", 2)(c => IvfArgmin(c(0), c(1)))
    fn(e, "tok_hashes", 1)(c => TokHashes(c(0)))
    fn(e, "inter_count", 2)(c => IntersectCount(c(0), c(1)))
    fn(e, "simhash16", 1)(c => Simhash16(c(0)))
    fn(e, "shingle_hashes", 2)(c => ShingleHashes(c(0),
      literal("shingle_hashes", "k", c(1))(asInt)))
    fn(e, "kll_quantile", 2, 3) { c =>
      val q = literal("kll_quantile", "quantile", c(1))(asDouble)
      if (q.isNaN || q < 0.0 || q > 1.0)
        throw new IllegalArgumentException(
          s"kll_quantile: quantile must be in [0, 1], got $q")
      val cap = if (c.size == 3)
        literal("kll_quantile", "capacity", c(2))(asDouble).toInt else 8192
      KllQuantile(c(0), q, atLeast("kll_quantile", "capacity", 8, cap))
    }
    fn(e, "kll_sketch", 1, 2) { c =>
      val cap = if (c.size == 2)
        literal("kll_sketch", "capacity", c(1))(asInt) else 8192
      KllSketchAgg(c(0), atLeast("kll_sketch", "capacity", 8, cap))
    }
    fn(e, "mg_topk", 2)(c => MgTopK(c(0),
      atLeast("mg_topk", "k", 2, literal("mg_topk", "k", c(1))(asInt))))
  }
}
