package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Expression, ExpressionInfo, Multiply, Sqrt}
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

/** The engine's SQL surface for its native Catalyst expressions, exposed
  * through the standard `SparkSessionExtensions` hook:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions
  *   // or programmatically, on any session builder (graft.GraftSession
  *   // does this for every main):
  *   builder.withExtensions(new GraftExtensions)
  * }}}
  *
  * registers `vec_dot`, `vec_norm`, `vec_cosine` and `simhash32` so SQL
  * users get the same tight-loop native primitives the DataFrame API uses
  * (the higher-order-function phrasing runs interpreted per element — the
  * documented ~100× trap). Arguments are cast at the boundary
  * (`array<double>` for the vec_* family so float corpora promote exactly
  * once; `array<string>` for simhash32) so type errors surface at
  * analysis, not mid-job.
  *
  * The builder triples live in [[GraftExtensions.functions]] so the same
  * definitions serve both the extensions path and
  * [[org.apache.spark.sql.graftbridge.FunctionInstaller]] (registration on
  * an already-built session, e.g. the shared test session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // the custom-operator tier: as-of join as LogicalPlan + Strategy +
    // SparkPlan, plus the optimizer rule that restores probe-side predicate
    // pushdown through the opaque node (see graft.plans.AsOfJoinPlan)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOf)
    // the user-protection rule: the naive join+window as-of formulation is
    // rewritten onto the custom node (see RewriteNaiveAsOf's soundness guards)
    ext.injectOptimizerRule(_ => graft.plans.RewriteNaiveAsOf)
  }
}

object GraftExtensions {

  private def asVec(e: Expression): Expression =
    Cast(e, ArrayType(DoubleType))

  private def dot(a: Expression, b: Expression): Expression =
    DotProduct(asVec(a), asVec(b))

  private def arity(name: String, n: Int)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      require(args.length == n, s"$name expects $n arguments, got ${args.length}")
      b(args)
    }

  /** (identifier, info, builder) triples in the exact shape
    * `SparkSessionExtensions.injectFunction` consumes. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      arity("vec_dot", 2)(a => dot(a(0), a(1)))),
    (FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_norm"),
      arity("vec_norm", 1)(a => Sqrt(dot(a(0), a(0))))),
    (FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_cosine"),
      arity("vec_cosine", 2)(a => Divide(dot(a(0), a(1)),
        Multiply(Sqrt(dot(a(0), a(0))), Sqrt(dot(a(1), a(1))))))),
    // boundary cast to array<string>, like asVec for the vec_* family: a
    // scalar argument (e.g. raw text instead of a token array) then fails
    // AT ANALYSIS with a cast error instead of a mid-job ClassCastException
    (FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
      arity("simhash32", 1)(a => SimHash32(Cast(a(0), ArrayType(StringType))))),
    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      arity("jaro_winkler", 2)(a =>
        JaroWinkler(Cast(a(0), StringType), Cast(a(1), StringType)))),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      arity("nfc_normalize", 1)(a => NfcNormalize(Cast(a(0), StringType)))),
    // the vocabulary must be a foldable array (e.g. array('th','he',…)) —
    // it becomes an expression-tree constant, not a per-row child, so SQL
    // and DataFrame users get the identical driver-shipped piece set
    (FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      arity("bpe_encode", 2) { a =>
        val vocab = a(1) match {
          case e if e.foldable && e.dataType.isInstanceOf[ArrayType] =>
            val at = e.dataType.asInstanceOf[ArrayType]
            val data = e.eval()
            // a foldable NULL literal evals to null — reject with the
            // function's own message instead of NPE-ing on toObjectArray
            if (data == null) throw new IllegalArgumentException(
              "bpe_encode: vocabulary must not be NULL")
            data.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
              .toObjectArray(at.elementType).map { p =>
                if (p == null) throw new IllegalArgumentException(
                  "bpe_encode: vocabulary contains a NULL piece")
                String.valueOf(p)
              }.toSeq
          case other => throw new IllegalArgumentException(
            s"bpe_encode: vocabulary must be a foldable array of strings, got $other")
        }
        BpeEncode(Cast(a(0), StringType), vocab)
      }),
    // ranked merge table as a foldable array of 2-element string arrays
    // (array(array('t','h'), array('th','e'), …)) — becomes a constructor
    // constant like bpe_encode's vocabulary
    (FunctionIdentifier("bpe_apply_merges"),
      new ExpressionInfo(classOf[BpeApplyMerges].getName, "bpe_apply_merges"),
      arity("bpe_apply_merges", 2) { a =>
        val merges = a(1) match {
          case e if e.foldable && e.dataType.isInstanceOf[ArrayType] &&
              e.dataType.asInstanceOf[ArrayType].elementType
                .isInstanceOf[ArrayType] =>
            val inner = e.dataType.asInstanceOf[ArrayType]
              .elementType.asInstanceOf[ArrayType].elementType
            val data = e.eval()
            // foldable NULLs eval to null: reject the table, a null pair,
            // and a null pair ELEMENT explicitly — String.valueOf(null)
            // would otherwise stringify to the literal "null" merge side
            if (data == null) throw new IllegalArgumentException(
              "bpe_apply_merges: merge table must not be NULL")
            data.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
              .toObjectArray(ArrayType(inner)).toSeq.map { p =>
                if (p == null) throw new IllegalArgumentException(
                  "bpe_apply_merges: merge table contains a NULL pair")
                val pair = p.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
                  .toObjectArray(inner)
                require(pair.length == 2,
                  s"bpe_apply_merges: each merge must be a 2-element " +
                    s"array, got ${pair.length}")
                require(pair(0) != null && pair(1) != null,
                  "bpe_apply_merges: merge sides must not be NULL")
                (String.valueOf(pair(0)), String.valueOf(pair(1)))
              }
          case other => throw new IllegalArgumentException(
            "bpe_apply_merges: merges must be a foldable array of " +
              s"2-element string arrays, got $other")
        }
        BpeApplyMerges(Cast(a(0), StringType), merges)
      }),
    // aggregate tier: the analyzer wraps a returned AggregateFunction in
    // its AggregateExpression, so SQL users get the native k-minima sketch
    // as `kmv_agg(hash60_value, k)` with a literal k
    (FunctionIdentifier("kmv_agg"),
      new ExpressionInfo(classOf[KmvAgg].getName, "kmv_agg"),
      arity("kmv_agg", 2) { a =>
        val k = a(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
            if v != null => v.toString.toInt
          case other => throw new IllegalArgumentException(
            s"kmv_agg: k must be a literal integer, got $other")
        }
        KmvAgg(Cast(a(0), org.apache.spark.sql.types.LongType), k)
      }))
}
