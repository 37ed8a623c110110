package graft.functions

import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL-front-end registration for the engine's custom Catalyst
  * expressions: a user of the `spark.sql(...)` surface gets the same
  * codegen'd operators as the Column API — the expressions are
  * first-class functions, not Column-API-only helpers.
  *
  * Registered by [[graft.util.Sessions.tune]], once per session:
  *  - `simhash64(tokens)`                — 64-bit SimHash fingerprint
  *  - `minhash_sigs(shingles, k)`        — k-permutation MinHash array
  *  - `cosine_sim(a, b)`                 — double cosine similarity
  *  - `cosine_lsh_bucket(vec, nBits)`    — random-hyperplane LSH bucket
  *  - `rolling_minhash(text, window)`    — winnowed rolling-hash value
  *  - `deflate_size(text)`               — compressed byte count
  *  - `nfc_normalize(text)`              — Unicode NFC composition
  *  - `strip_accents(text)`              — NFD + combining-mark drop
  *  - `jaro_winkler(a, b)`               — Jaro–Winkler similarity
  *
  * Arity/type errors surface at analysis time (the builders throw
  * `IllegalArgumentException`, which Spark wraps into an analysis
  * error with the function name attached). The `k`/`nBits`/`window`
  * parameters must be integer literals — they parameterize codegen, so
  * a per-row value cannot work by construction.
  */
object SqlFunctions {

  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def arity(args: Seq[Expression], n: Int, fn: String): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments, got ${args.length}")

  /** (name, builder) for every custom expression — the single source the
    * runtime registration ([[register]]) and the builder-time
    * installation path ([[graft.GraftExtensions]]) both consume.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> { args =>
      arity(args, 1, "simhash64")
      SimHash64Expr(args.head)
    },
    "minhash_sigs" -> { args =>
      arity(args, 2, "minhash_sigs")
      MinHashSigsExpr(args.head, litInt(args(1), "minhash_sigs", "k"))
    },
    "cosine_sim" -> { args =>
      arity(args, 2, "cosine_sim")
      CosineSimExpr(args.head, args(1))
    },
    "cosine_lsh_bucket" -> { args =>
      arity(args, 2, "cosine_lsh_bucket")
      CosineLshBucketExpr(args.head, litInt(args(1), "cosine_lsh_bucket", "nBits"))
    },
    "rolling_minhash" -> { args =>
      arity(args, 2, "rolling_minhash")
      RollingMinHashExpr(args.head, litInt(args(1), "rolling_minhash", "window"))
    },
    "deflate_size" -> { args =>
      arity(args, 1, "deflate_size")
      DeflateSizeExpr(args.head)
    },
    "nfc_normalize" -> { args =>
      arity(args, 1, "nfc_normalize")
      NfcNormalizeExpr(args.head)
    },
    "strip_accents" -> { args =>
      arity(args, 1, "strip_accents")
      StripAccentsExpr(args.head)
    },
    "jaro_winkler" -> { args =>
      arity(args, 2, "jaro_winkler")
      JaroWinklerExpr(args.head, args(1))
    },
  )

  /** Register every custom expression `spark` lacks (a replaced entry
    * would be an equal one, and Spark logs a WARN per replacement). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        GraftShims.registerFunction(spark, name, b)
    }
  }
}
