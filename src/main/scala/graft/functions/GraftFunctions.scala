package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ArrayRemove, Cast, Conv, Expression, ExpressionInfo, Literal, Md5, StringSplit, Substring}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SQL registration for the engine's native Catalyst expressions, so the
  * text-hashing / similarity kernels are callable from plain `spark.sql`
  * text as well as the Column API (the reference's users write SQL;
  * /root/reference/db/init.sql is its whole query surface).
  *
  * Two entry points, same function set:
  *   - config: `spark.sql.extensions=graft.functions.GraftExtensions`
  *     (applied at session build — the SparkSessionExtensions path)
  *   - runtime: `GraftFunctions.register(spark)` on a live session
  *     (sessionState FunctionRegistry, no restart needed)
  *
  * Literal-only parameters (shingle width, signature length, plane
  * counts) are codegen-time constants of the underlying expressions, so
  * the builders require foldable integers and fail analysis otherwise.
  */
object GraftFunctions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def intLit(fn: String, arg: String)(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got ${other.sql}")
  }

  private def arity(fn: String, expected: String): Nothing =
    throw new IllegalArgumentException(s"$fn expects $expected argument(s)")

  private def fd(name: String, usage: String)(
      builder: PartialFunction[Seq[Expression], Expression]): FunctionDescription = {
    val info = new ExpressionInfo(GraftFunctions.getClass.getCanonicalName, null,
      name, usage, "", "", "", "misc_funcs", "", "", "built-in")
    (FunctionIdentifier(name), info,
      (args: Seq[Expression]) => builder.applyOrElse(args,
        (_: Seq[Expression]) => arity(name, usage)))
  }

  /** The full function set (one description per native kernel). */
  val functions: Seq[FunctionDescription] = Seq(
    fd("graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two FLOAT[]/DOUBLE[] vectors") {
      case Seq(a, b) => CosineSimExpr(a, b)
    },
    fd("graft_dot",
      "graft_dot(a, b) - dot product of two FLOAT[]/DOUBLE[] vectors") {
      case Seq(a, b) => DotProductExpr(a, b)
    },
    fd("graft_int_dot",
      "graft_int_dot(a, b) - exact integer dot product (BIGINT) of two " +
        "integer-typed arrays; folds over min(size(a), size(b)), null " +
        "elements read as 0 (like graft_cosine/graft_dot)") {
      case Seq(a, b) => IntDotExpr(a, b)
    },
    // these two compose builtins rather than wrap a native kernel; the
    // trees are built directly (a Column->Expression bridge of the
    // TextFunctions formulations would leave unresolvable ColumnNode
    // wrappers inside the plan)
    fd("graft_tokens",
      "graft_tokens(text) - non-empty whitespace tokens") {
      case Seq(t) =>
        ArrayRemove(StringSplit(t, Literal("\\s+"), Literal(-1)), Literal(""))
    },
    fd("graft_hash60",
      "graft_hash60(text) - first 60 bits of md5 as a non-negative BIGINT") {
      case Seq(t) =>
        Cast(Conv(Substring(Md5(t), Literal(1), Literal(15)),
          Literal(16), Literal(10)), LongType)
    },
    fd("graft_simhash60",
      "graft_simhash60(tokens) - 60-bit SimHash fingerprint of a token array") {
      case Seq(t) => SimHash60Expr(t)
    },
    fd("graft_shingles",
      "graft_shingles(tokens, n) - distinct space-joined word n-grams (n literal)") {
      case Seq(t, n) => ShinglesExpr(t, intLit("graft_shingles", "n")(n))
    },
    fd("graft_minhash_sig",
      "graft_minhash_sig(elems, k) - k-function MinHash signature (k literal)") {
      case Seq(t, k) => MinHashSigExpr(t, intLit("graft_minhash_sig", "k")(k))
    },
    // the two mergeable summary AGGREGATES — builders return the raw
    // AggregateFunction (the analyzer wraps it into an
    // AggregateExpression, same as builtin sum/count registration).
    // MG's candidate SET is order-dependent state (only its superset
    // guarantee is deterministic — consume it like txHeavyHitters'
    // two-pass does); the CM matrix is fully deterministic.
    fd("graft_misra_gries",
      "graft_misra_gries(tok, k) - Misra-Gries heavy-hitter candidate set " +
        "(superset of tokens with frequency > N/k; k literal)") {
      case Seq(t, k) => MisraGriesAgg(t, intLit("graft_misra_gries", "k")(k))
    },
    fd("graft_count_min",
      "graft_count_min(tok, d, w) - Count-Min d x w counter matrix, " +
        "row-major (d, w literals)") {
      case Seq(t, d, w) => CountMinAgg(t, intLit("graft_count_min", "d")(d),
        intLit("graft_count_min", "w")(w))
    },
    fd("graft_lsh_buckets",
      "graft_lsh_buckets(embedding, planes, tables[, offset]) - sign-random-" +
        "projection bucket id per hash table (ints literal)") {
      case Seq(e, p, t) =>
        LshBucketsExpr(e, intLit("graft_lsh_buckets", "planes")(p),
          intLit("graft_lsh_buckets", "tables")(t))
      case Seq(e, p, t, o) =>
        LshBucketsExpr(e, intLit("graft_lsh_buckets", "planes")(p),
          intLit("graft_lsh_buckets", "tables")(t),
          intLit("graft_lsh_buckets", "offset")(o))
    }
  )

  /** Runtime registration on a live session (idempotent — re-register
    * overwrites with the identical builder).
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  /** The SQL surface end-to-end as a Verify query: register, expose the
    * documents table as a view, and fingerprint it in pure SQL text —
    * the exact workflow of a SQL-first user of this library. The driver
    * hash-checks it against a DuckDB oracle built from the same
    * fragments that certify the Column-API twins.
    */
  def sqlSurface(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    register(spark)
    graft.Tables.documents(spark, dir).createOrReplaceTempView("documents_sql")
    spark.sql(
      """SELECT doc_id,
        |  graft_hash60(text) AS content_hash60,
        |  graft_simhash60(graft_tokens(text)) AS simhash60,
        |  cast(size(graft_tokens(text)) AS BIGINT) AS n_tokens,
        |  cast(size(graft_shingles(graft_tokens(text), 3)) AS BIGINT) AS n_shingles
        |FROM documents_sql
        |ORDER BY doc_id""".stripMargin)
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` — injects the
  * function set at session build, the standard way a library ships SQL
  * functions to sessions it does not construct, and the
  * [[graft.plan.OneTaskSort]] rule into the static and AQE runtime
  * optimizers. `GraftSession.builder` installs it on every session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plan.OneTaskSort)
    ext.injectRuntimeOptimizerRule(_ => graft.plan.OneTaskSort)
  }
}
