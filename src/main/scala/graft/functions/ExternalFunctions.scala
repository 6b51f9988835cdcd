package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, UnresolvedNamedLambdaVariable}

/** External scalar FUNCTION objects (reference:
  * external/objects/ExternalFunction.scala:26,
  * external/expr/ExternalScalarFunction.scala — SQL-callable scalar
  * functions whose implementation lives outside the engine, attached
  * to the catalog by name).
  *
  * Spark-first re-expression: an external provider is a named
  * EXPRESSION TEMPLATE (`__arg0`, `__arg1`, ... placeholders). GRAFT
  * ADD FUNCTION binds a template into the session's function registry;
  * at every call site the template is spliced inline as native
  * Catalyst expressions — so the "external" function participates in
  * whole-stage codegen, constant folding, and filter pushdown exactly
  * like a builtin, instead of the eval-per-row black box a UDF (or a
  * real RPC) would be. The provider catalog below holds deterministic
  * local implementations standing in for the external service (this
  * container has no egress); a deployment would generate the same
  * templates from the service's pushdown contract, or fall back to a
  * typed UDF wrapper for non-expressible calls.
  */
object ExternalFunctions {

  /** A provider = arity + expression template + doc (the SPI type;
    * see spi/GraftProviders.scala). */
  type Provider = graft.spi.FunctionProvider

  /** All providers discovered through the ServiceLoader SPI —
    * graft's built-ins (spi/BuiltinProviders.scala, registered via
    * META-INF/services like any third-party jar would) plus whatever
    * the classpath contributes. */
  def providers: Map[String, Provider] =
    graft.spi.ProviderRegistry.functionProviders

  /** Per-session binding state lives IN the session: each binding is
    * recorded as a key in the session's own RuntimeConfig
    * (`graft.external.function.<name> = <provider>`), which is part
    * of the SessionState — created, isolated, and discarded with the
    * session itself. GRAFT LIST FUNCTIONS therefore reports exactly
    * the bindings callable in THAT session, with no library-side map
    * keyed on session identity at all. */
  private val confPrefix = "graft.external.function."

  /** Bind `fnName` to `providerName`'s template in the session
    * function registry. Idempotent; later binds win (reference
    * replace-on-create semantics). */
  def add(spark: SparkSession, fnName: String, providerName: String): Unit = {
    val p = providers.getOrElse(providerName,
      throw new IllegalArgumentException(
        s"unknown external function provider '$providerName' " +
          s"(have: ${providers.keys.toSeq.sorted.mkString(", ")})"))
    // primary arity + any overloads, each parsed once at bind time
    val templates: Map[Int, Expression] =
      (p.altTemplates + (p.arity -> p.template)).map { case (n, t) =>
        n -> spark.sessionState.sqlParser.parseExpression(t)
      }
    val builder: Seq[Expression] => Expression = { args =>
      val template = templates.getOrElse(args.length,
        throw new IllegalArgumentException(
          s"$fnName expects ${templates.keys.toSeq.sorted.mkString(" or ")}" +
            s" arguments, got ${args.length}"))
      template.transformUp {
        case UnresolvedAttribute(Seq(n)) if n.startsWith("__arg") =>
          args(n.stripPrefix("__arg").toInt)
        // inside a higher-order function's lambda the parser wraps
        // EVERY identifier as a lambda-variable candidate — an __arg
        // placeholder there must still splice to the call argument
        case UnresolvedNamedLambdaVariable(Seq(n))
            if n.startsWith("__arg") =>
          args(n.stripPrefix("__arg").toInt)
      }
    }
    // source must be one of Spark's known kinds
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(fnName, builder, "built-in")
    spark.conf.set(confPrefix + fnName, providerName)
  }

  def remove(spark: SparkSession, fnName: String): Boolean = {
    spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(fnName))
    val had = spark.conf.getOption(confPrefix + fnName).isDefined
    if (had) spark.conf.unset(confPrefix + fnName)
    had
  }

  /** (name, provider, arity, description) rows for GRAFT LIST
    * FUNCTIONS in `spark`, name-ordered — only THIS session's
    * bindings. */
  def list(spark: SparkSession): Seq[(String, String, Int, String)] =
    spark.conf.getAll.toSeq
      .collect { case (k, pn) if k.startsWith(confPrefix) =>
        (k.stripPrefix(confPrefix), pn)
      }
      .sortBy(_._1).map { case (n, pn) =>
        val p = providers(pn)
        (n, pn, p.arity, p.description)
      }

  /** Test/registry hygiene. */
  def clear(spark: SparkSession): Unit =
    list(spark).foreach { case (n, _, _, _) => remove(spark, n) }
}
