package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.FunctionBridge

/** SQL registration for the engine's custom expressions, so a SQL-first
  * user gets the same surface as the Column API:
  *
  * {{{
  *   GraftFunctions.register(spark)
  *   spark.sql("SELECT graft_parse_ts_ms(raw_col) FROM t")
  * }}}
  *
  * For cluster-wide deployment use `graft.GraftSparkExtensions`
  * (`--conf spark.sql.extensions=graft.GraftSparkExtensions`), which
  * injects the same builders into every session at construction.
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"graft: $what must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  /** Arity validation at builder time, so a mis-called SQL function gets
    * a descriptive analysis-time error instead of an
    * IndexOutOfBoundsException from a bare `exprs(i)`. */
  private def arity(name: String, exprs: Seq[Expression], min: Int,
      max: Int, usage: String): Unit =
    require(exprs.length >= min && exprs.length <= max,
      s"$name expects $usage, got ${exprs.length} argument(s)")

  /** Name → expression builder, the single source of truth for both
    * per-session registration and the SparkSessionExtensions path. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_parse_ts_ms" -> { exprs =>
      arity("graft_parse_ts_ms", exprs, 1, 1, "one STRING argument")
      CellEpochMs(exprs.head)
    },
    "graft_parse_date_ymd" -> { exprs =>
      arity("graft_parse_date_ymd", exprs, 1, 1, "one STRING argument")
      CellDate(exprs.head)
    },
    "graft_normalize_vec" -> { exprs =>
      arity("graft_normalize_vec", exprs, 1, 1, "one ARRAY argument")
      NormalizeVec(exprs.head)
    },
    // graft_word_ngrams(text, n) — n must be a literal
    "graft_word_ngrams" -> { exprs =>
      arity("graft_word_ngrams", exprs, 2, 2, "(text, n)")
      WordNgrams(exprs.head, intArg(exprs(1), "n"))
    },
    // graft_char_ngrams(text, n) — n must be a literal
    "graft_char_ngrams" -> { exprs =>
      arity("graft_char_ngrams", exprs, 2, 2, "(text, n)")
      CharNgrams(exprs.head, intArg(exprs(1), "n"))
    },
    // graft_lsh_signature(vec, dims[, bands, bits, seed]) — knob args
    // must be literals (they parameterize the plan-constant plane matrix)
    "graft_lsh_signature" -> { exprs =>
      arity("graft_lsh_signature", exprs, 2, 5, "(vec, dims[, bands, bits, seed])")
      val dims = intArg(exprs(1), "dims")
      val bands = if (exprs.length > 2) intArg(exprs(2), "bands") else 16
      val bits = if (exprs.length > 3) intArg(exprs(3), "bits") else 10
      val seed = if (exprs.length > 4) intArg(exprs(4), "seed").toLong else 97L
      LshSignature(exprs.head, dims, bands, bits, seed)
    },
    // graft_minhash_bands(grams[, nHash, bands, seed]) — knob args must
    // be literals (they parameterize the plan-constant permutation set)
    "graft_minhash_bands" -> { exprs =>
      arity("graft_minhash_bands", exprs, 1, 4, "(grams[, nHash, bands, seed])")
      val nHash = if (exprs.length > 1) intArg(exprs(1), "nHash") else 32
      val bands = if (exprs.length > 2) intArg(exprs(2), "bands") else 8
      val seed = if (exprs.length > 3) intArg(exprs(3), "seed").toLong else 42L
      MinhashBands(exprs.head, nHash, bands, seed)
    },
    // graft_dot(a, b) — sequential-fold dot product of two
    // array<double> vectors (the codegen'd pair-verify kernel)
    "graft_dot" -> { exprs =>
      arity("graft_dot", exprs, 2, 2, "two ARRAY<DOUBLE> arguments")
      DotProductD(exprs.head, exprs(1))
    },
    // graft_argmax_dot(vec, flat_matrix, dims) — the k×dims centroid
    // matrix arrives as a LITERAL flattened array<double> (it is a plan
    // constant in the Column form too) plus a literal dims
    "graft_argmax_dot" -> { exprs =>
      arity("graft_argmax_dot", exprs, 3, 3, "(vec, flat_matrix, dims)")
      require(exprs(1).foldable, "graft: matrix must be a literal array")
      // SQL numeric literals arrive as DECIMAL — normalize the whole
      // literal matrix through a fold-time cast to array<double>
      val asDouble = org.apache.spark.sql.catalyst.expressions.Cast(
        exprs(1), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))
      val flat = asDouble.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          a.toDoubleArray()
        case other => throw new IllegalArgumentException(
          s"graft: matrix must evaluate to array<double>, got $other")
      }
      ArgmaxDot(exprs.head, flat, intArg(exprs(2), "dims"))
    })

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      FunctionBridge.register(spark, name, b)
    }
}
