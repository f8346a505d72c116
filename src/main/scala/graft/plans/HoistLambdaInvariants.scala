package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.optimizer.CollapseProject
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Evaluates lambda-invariant subexpressions once per row.
  *
  * Higher-order functions (`transform`, `filter`, `aggregate`, ...) run
  * their lambdas interpreted, and codegen's common-subexpression
  * elimination does not look inside them. A caller-built tokenizer such
  * as
  * {{{
  *   val w = split(text, " ")
  *   transform(sequence(1, size(w) - 2), i => concat_ws(" ",
  *     element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))
  * }}}
  * therefore splits the text once outside the lambda and three more
  * times for every element, O(n²) per row.
  *
  * For a `Project`, `Filter` or `Generate`, this rule finds the
  * subexpressions of lambda bodies that are deterministic, not foldable,
  * not cheap to recompute (an attribute or a field of one), hold no lambda
  * variable bound outside themselves, and that the operator also
  * evaluates UNCONDITIONALLY outside every lambda. Each is computed once,
  * as an alias in a `Project` below the operator, and every occurrence
  * becomes a reference to that attribute. "Unconditionally" follows
  * Catalyst's own `ConditionalExpression` contract: the predicate of an
  * `If`/`CaseWhen` and the first child of a `Coalesce` always run, a
  * branch value only when it is chosen (an expression common to every
  * branch, `else` included, always runs), and the right side of
  * `AND`/`OR` may be short-circuited. A subexpression evaluated only
  * inside a lambda, or only in a conditional branch, stays where it is:
  * hoisting it could raise an error the query would never have raised,
  * for instance over an empty array.
  *
  * Innermost invariants go first and the rule repeats on the rewritten
  * operator, so `size(split(t))` after `split(t)` becomes `size(attr)` in
  * a second `Project`, and nothing is evaluated twice. The output of the
  * rewritten operator is unchanged (a `Generate` marks the aliases
  * unrequired). A `Filter` is the exception: it binds each conjunct's
  * invariants in place (see [[inPlace]]).
  *
  * It runs in the optimizer's pre-CBO batch, once, after the
  * operator-optimization fixed point: `CollapseProject` would otherwise
  * merge the new `Project` back into a parent that references an alias
  * only once. The result is idempotent, because every hoisted occurrence
  * is an attribute afterwards.
  */
object HoistLambdaInvariants extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(list, child) =>
      val (exprs, rounds) = bind(list)
      if (rounds.isEmpty) p
      else Project(exprs.map(_.asInstanceOf[NamedExpression]),
        below(rounds, child))
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val bound = conjuncts.map(inPlace)
      if (bound.zip(conjuncts).forall { case (b, c) => b eq c }) f
      else Filter(bound.reduce(And), child)
    case g: Generate =>
      val (exprs, rounds) = bind(Seq(g.generator))
      if (rounds.isEmpty) g
      else {
        val child = below(rounds, g.child)
        g.copy(generator = exprs.head.asInstanceOf[Generator],
          unrequiredChildIndex = g.unrequiredChildIndex ++
            (g.child.output.size until child.output.size),
          child = child)
      }
  }

  /** `exprs` with their invariants replaced by attributes, and the
    * aliases that define those attributes, innermost round first. A
    * later round's alias may read an earlier round's attribute.
    */
  private def bind(exprs: Seq[Expression])
      : (Seq[Expression], Seq[Seq[Alias]]) = {
    val found = invariants(exprs)
    if (found.isEmpty) (exprs, Nil)
    else {
      val aliases = found.map(Alias(_, "_lambda_invariant")())
      val bound = exprs.map(_.transformDown {
        case e if aliases.exists(_.child.semanticEquals(e)) =>
          aliases.find(_.child.semanticEquals(e)).get.toAttribute
      })
      val (rest, rounds) = bind(bound)
      (rest, aliases +: rounds)
    }
  }

  /** One `Project` per round of aliases, stacked on `child`. */
  private def below(rounds: Seq[Seq[Alias]], child: LogicalPlan)
      : LogicalPlan =
    rounds.foldLeft(child)((c, aliases) => Project(c.output ++ aliases, c))

  /** `cond` with each invariant bound once per row in place, as the one
    * element of a `transform` over `array(invariant)`. A Filter cannot
    * take a `Project` below: predicate pushdown runs after this rule and
    * would inline the alias back into the condition.
    */
  private def inPlace(cond: Expression): Expression = {
    val (bound, rounds) = bind(Seq(cond))
    rounds.flatten.foldRight(bound.head) { (a, body) =>
      val v = NamedLambdaVariable(a.name, a.dataType, a.nullable)
      val inner = body.transform {
        case r: Attribute if r.exprId == a.exprId => v
      }
      ElementAt(ArrayTransform(CreateArray(Seq(a.child)),
        LambdaFunction(inner, Seq(v))), Literal(1))
    }
  }

  /** The innermost lambda invariants of `exprs` that `exprs` also
    * evaluate unconditionally outside every lambda (see the object doc).
    */
  private[graft] def invariants(exprs: Seq[Expression]): Seq[Expression] = {
    val outside = ExpressionSet(exprs.flatMap(unconditional))
    val inLambdas = ExpressionSet(exprs
      .flatMap(_.collect { case l: LambdaFunction => l.function })
      .flatMap(_.collect { case e if hoistable(e) && outside.contains(e) => e }))
      .toSeq
    inLambdas.filterNot(e => inLambdas.exists(o =>
      !o.semanticEquals(e) && e.exists(_.semanticEquals(o))))
  }

  /** `e` and every subexpression evaluated whenever `e` is. */
  private[graft] def unconditional(e: Expression): Seq[Expression] =
    e match {
      case _: LambdaFunction => Nil
      case c: ConditionalExpression =>
        e +: (c.alwaysEvaluatedInputs.flatMap(unconditional) ++
          c.branchGroups.flatMap(inEvery))
      case And(l, _) => e +: unconditional(l)
      case Or(l, _)  => e +: unconditional(l)
      case _ => e +: e.children.flatMap(unconditional)
    }

  /** What every expression of a branch group evaluates. */
  private def inEvery(group: Seq[Expression]): Seq[Expression] =
    if (group.size < 2) Nil
    else {
      val rest = group.tail.map(g => ExpressionSet(unconditional(g)))
      unconditional(group.head).filter(e => rest.forall(_.contains(e)))
    }

  private[graft] def hoistable(e: Expression): Boolean =
    e.deterministic && !e.foldable && !CollapseProject.isCheap(e) &&
      !hasFreeLambdaVariable(e) && !e.exists {
        case _: Attribute => false
        case _: AggregateExpression | _: WindowExpression | _: Generator |
            _: SubqueryExpression | _: Unevaluable => true
        case _ => false
      } && (e match {
        // CollapseProject inlines collection builders read only through
        // field access; hoisting them would not stick
        case _: CreateNamedStruct | _: CreateArray | _: CreateMap |
            _: UpdateFields | _: LambdaFunction => false
        case _ => true
      })

  private def hasFreeLambdaVariable(e: Expression): Boolean = {
    val bound = e.collect { case l: LambdaFunction => l.arguments }.flatten
      .collect { case v: NamedLambdaVariable => v.exprId }.toSet
    e.exists {
      case v: NamedLambdaVariable => !bound(v.exprId)
      case _ => false
    }
  }
}
