package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, Unevaluable}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

import graft.types.ClickHouseType

/** The passthrough expression family (the Spark analog of the reference's
  * three planning-only UDFs, /root/reference/src/udfs/):
  *
  *  - [[ClickHousePassthrough]] ⇔ `clickhouse(expr, 'Type')`
  *    (udfs/clickhouse.rs:39-66): marks an expression subtree for remote
  *    execution with a declared return type. Unevaluable — it MUST be
  *    eliminated by the pushdown rule before execution, exactly like the
  *    reference's `invoke()` that always errors.
  *  - [[ClickHouseEval]] ⇔ `clickhouse_eval('raw syntax', 'Type')`
  *    (udfs/eval.rs:58-142): a raw ClickHouse SQL fragment spliced
  *    verbatim into the generated remote SQL.
  *  - [[ClickHouseFn]] ⇔ the `PlaceholderUDF` (udfs/placeholder.rs:22-74):
  *    call ANY remote function by name — unknown names become remote
  *    calls instead of analysis errors. Case-sensitive, as ClickHouse
  *    function names are (context.rs:49-53).
  *
  * Nullability rules mirror udfs.rs:50-73: result is nullable iff any
  * referenced non-array child is nullable (ClickHouse arrays are never
  * nullable themselves).
  */
case class ClickHousePassthrough(child: Expression, declaredType: String)
  extends Expression with Unevaluable {

  private val parsed = ClickHouseType.parse(declaredType)
  override def dataType: DataType = parsed.dataType
  override def nullable: Boolean = parsed.nullable || child.nullable
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "clickhouse"
  override def sql: String = s"clickhouse(${child.sql}, '$declaredType')"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

case class ClickHouseEval(rawSql: String, declaredType: String)
  extends LeafExpression with Unevaluable {

  // analysis-time fragment validation (eval.rs:58-142): malformed syntax
  // or an embedded `;` fails here, not as an opaque remote error
  graft.sql.ChFragment.validate(rawSql)

  private val parsed = ClickHouseType.parse(declaredType)
  override def dataType: DataType = parsed.dataType
  override def nullable: Boolean = true // raw fragment: nullability unknown
  override def prettyName: String = "clickhouse_eval"
  override def sql: String = s"clickhouse_eval('$rawSql', '$declaredType')"
  // like the reference's Volatility::Volatile (udfs/eval.rs:46-55): never
  // fold or reorder a raw remote fragment
  override lazy val deterministic: Boolean = false
}

case class ClickHouseFn(name: String, args: Seq[Expression], declaredType: String)
  extends Expression with Unevaluable {

  // empty declaredType = implicit-resolution path (GraftSqlParser): the
  // return type is the LAST argument's resolved type, exactly the
  // reference PlaceholderUDF's `return_type(arg_types.last)`
  // (udfs/placeholder.rs:53-58)
  private val parsed: Option[ClickHouseType.Parsed] =
    if (declaredType.isEmpty) None else Some(ClickHouseType.parse(declaredType))
  override def dataType: DataType =
    parsed.map(_.dataType).getOrElse(args.last.dataType)
  override def nullable: Boolean =
    parsed.exists(_.nullable) || args.exists(a =>
      a.nullable && !a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
  override def children: Seq[Expression] = args
  override def prettyName: String = name
  override def sql: String =
    s"clickhouse_fn('$name', ${args.map(_.sql).mkString(", ")}, '$declaredType')"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(args = newChildren)
}

/** The reference's `apply`/`lambda` named-builder family
  * (/root/reference/src/udfs/apply.rs:26-34) lowered onto Spark's NATIVE
  * higher-order functions — one spelling that executes locally AND
  * collapses remotely (ArrayTransform ↔ arrayMap etc. in the unparser).
  * Three accepted shapes, mirroring unwrap_clickhouse_lambda +
  * extract_apply_args (apply.rs:218-285):
  *
  *  1. wrapper: `lambda(<hof call>)` — transparent unwrap (the reference
  *     treats the alias as a marker around the real HOF);
  *  2. Spark-style: `apply(x -> body, coll)` / `apply((x,y) -> body, a, b)`;
  *  3. placeholder-style (built by [[graft.GraftSqlParser]] from the
  *     reference's `fn($x, body, col)` spelling): leading lambda-variable
  *     markers, then the body, then one collection per marker.
  */
object ApplyBuilders {

  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.catalyst.expressions.{ArrayExists, ArrayFilter, ArrayForAll, ArrayTransform, LambdaFunction, UnresolvedNamedLambdaVariable, ZipWith}

  /** Prefix the parser's pre-lex gives `$name` placeholder tokens. */
  val PhPrefix = "__ch_ph_"

  /** A bare placeholder-marker attribute (`$x` after the pre-lex). */
  def phName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute
        if a.nameParts.length == 1 && a.nameParts.head.startsWith(PhPrefix) =>
      Some(a.nameParts.head)
    case _ => None
  }

  /** Build for the alias family (`apply`, `lambda`, ...): wrapper unwrap
    * or Spark-style lambda form.
    */
  def buildAlias(name: String, args: Seq[Expression]): Expression =
    if (args.length == 1 && !args.head.isInstanceOf[LambdaFunction]) {
      // wrapper unwrap — but only around something call-shaped: the
      // reference errors on `lambda(col)` ("must be higher order
      // function", apply.rs:231), and silently returning a bare column
      // would be a new surface, not parity
      require(!args.head.isInstanceOf[UnresolvedAttribute] &&
        !args.head.isInstanceOf[Literal],
        s"$name(...) must wrap a higher-order function call " +
          "(udfs/apply.rs:231) or take (lambda, collection) arguments")
      args.head
    } else {
      val (lambdas, rest) = args.partition(_.isInstanceOf[LambdaFunction])
      require(lambdas.length == 1 && (rest.length == 1 || rest.length == 2),
        s"$name(lambda, collection[, collection]) takes exactly one lambda " +
          "and one or two collections (or a single higher-order call to " +
          "unwrap, udfs/apply.rs:228)")
      val lam = lambdas.head.asInstanceOf[LambdaFunction]
      rest match {
        case Seq(c) => ArrayTransform(c, lam)
        case Seq(a, b) => ZipWith(a, b, lam)
      }
    }

  /** Build for the reference's placeholder spelling on a HOF name:
    * `fn($x..., body, cols...)`. `None` when the args carry no leading
    * placeholder (the caller falls through to its normal path).
    */
  def buildPlaceholder(name: String, args: Seq[Expression]): Option[Expression] = {
    val params = args.takeWhile(phName(_).isDefined)
    if (params.isEmpty) return None
    require(args.length >= params.length + 2,
      s"$name($$x..., body, cols...): needs a body expression and one " +
        "collection per placeholder (udfs/apply.rs extract_apply_args)")
    val body = args(params.length)
    val cols = args.drop(params.length + 1)
    require(cols.length == params.length,
      s"$name: ${params.length} placeholder(s) but ${cols.length} " +
        "collection(s) — placeholders and collections must match " +
        "(udfs/apply.rs:279)")
    // body references must be lambda-variable nodes, not attributes —
    // ResolveLambdaVariables binds only UnresolvedNamedLambdaVariable
    // (the parser does the same for `x -> x` bodies)
    val paramNames = params.map(phName(_).get).toSet
    val boundBody = body.transformUp {
      case a: UnresolvedAttribute
          if a.nameParts.length == 1 && paramNames.contains(a.nameParts.head) =>
        UnresolvedNamedLambdaVariable(a.nameParts)
    }
    val lam = LambdaFunction(boundBody,
      params.map(p => UnresolvedNamedLambdaVariable(Seq(phName(p).get))))
    Some((name, cols) match {
      case ("arrayMap", Seq(c)) => ArrayTransform(c, lam)
      case ("arrayMap", Seq(a, b)) => ZipWith(a, b, lam)
      case ("arrayFilter", Seq(c)) => ArrayFilter(c, lam)
      case ("arrayExists", Seq(c)) => new ArrayExists(c, lam)
      case ("arrayAll", Seq(c)) => ArrayForAll(c, lam)
      case _ => throw new IllegalArgumentException(
        s"placeholder lambda form supports arrayMap (1-2 collections), " +
          s"arrayFilter, arrayExists, arrayAll — got $name over " +
          s"${cols.length} collection(s)")
    })
  }
}

object Registration {

  private def strArg(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, org.apache.spark.sql.types.StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got: $other")
  }

  private def buildClickhouse(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "clickhouse(expr, 'Type') takes 2 arguments")
    ClickHousePassthrough(exprs.head, strArg(exprs(1), "return type"))
  }

  private def buildEval(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "clickhouse_eval('sql', 'Type') takes 2 arguments")
    ClickHouseEval(strArg(exprs.head, "sql fragment"), strArg(exprs(1), "return type"))
  }

  private def buildFn(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 2, "clickhouse_fn('name', args..., 'Type') takes >= 2 arguments")
    val name = strArg(exprs.head, "function name")
    val args = exprs.drop(1).dropRight(1)
    // arrayJoin is ROW-EXPANDING — modeling it as a scalar Project
    // expression is unsound: Catalyst assumes projections are 1:1 and
    // will prune an unreferenced arrayJoin (e.g. under COUNT(*),
    // e2e.rs:1253), silently losing the expansion. Rewriting to Spark's
    // native generator at build time gives Catalyst the true cardinality;
    // the generate still collapses remotely (ChPlanUnparser maps explode
    // back to arrayJoin) when it sits in a collapsible subtree.
    if (name == "arrayJoin") {
      require(args.length == 1, "arrayJoin takes exactly one array argument")
      org.apache.spark.sql.catalyst.expressions.Explode(args.head)
    } else ClickHouseFn(name, args, strArg(exprs.last, "return type"))
  }

  /** SQL-surface registration (runtime, no extensions required):
    * `clickhouse(expr, 'Type')`, `clickhouse_eval('sql', 'Type')`,
    * `clickhouse_fn('name', args..., 'Type')`. Each name registers only
    * when the session does not have it yet, so installing on a session
    * again (every `ClickHouseSession` build does) keeps the builders it
    * has.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    register("clickhouse", buildClickhouse)
    register("clickhouse_eval", buildEval)
    register("clickhouse_fn", buildFn)
    // the apply/lambda named-builder family (udfs/apply.rs:26-34) — also
    // usable WITHOUT the extensions parser (Spark-style lambda + wrapper
    // shapes; the $-placeholder spelling additionally needs the parser's
    // pre-lex and placeholder builder)
    graft.GraftSqlParser.ApplyAliases.foreach { n =>
      register(n, exprs => ApplyBuilders.buildPlaceholder(n, exprs)
        .getOrElse(ApplyBuilders.buildAlias(n, exprs)))
    }
  }

  /** FunctionDescriptions for `SparkSessionExtensions.injectFunction`. */
  def descriptors: Seq[(org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    Seq(
      (FunctionIdentifier("clickhouse"),
        new ExpressionInfo(classOf[ClickHousePassthrough].getName, "clickhouse"),
        buildClickhouse _),
      (FunctionIdentifier("clickhouse_eval"),
        new ExpressionInfo(classOf[ClickHouseEval].getName, "clickhouse_eval"),
        buildEval _),
      (FunctionIdentifier("clickhouse_fn"),
        new ExpressionInfo(classOf[ClickHouseFn].getName, "clickhouse_fn"),
        buildFn _))
  }
}
