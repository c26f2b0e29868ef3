package graft.nested

import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import graft.expressions.{StructFieldCountEq, StructFieldReduce}

/** Groupjoin rewrite for pack-then-reduce chains (Fent & Neumann, "A
  * Practical Approach to Groupjoin and Nested Aggregates", VLDB 2021).
  *
  * [[NestedOps.packFlat]], [[NestedOps.joinNested]] and
  * [[NestedOps.fromFlat]] pack each key's child rows with
  * `collect_list(struct(...))`: every child row crosses the shuffle and
  * every cell is built in full. When every use of the packed column, through
  * Project, Filter and Join, is a decomposable per-cell reduction, the array
  * is never needed: this rule turns each reduction into a partial-aggregable
  * function of the keyed Aggregate, so the exchange carries one partial row
  * per key and map task instead of every child row.
  *
  * Recognized cells: the packed attribute itself, and any chain of
  * element filters over it in the form `NestedExpr.query` and
  * [[NestedOps.filterElements]] emit,
  * `CASE WHEN exists(cell, p) THEN filter(cell, p) END`, where `p` reads
  * only the element. Recognized reducers over a cell: `size`,
  * `field_counteq`, `field_nullcount`, and `field_reduce` with `mean`,
  * `esum`, `min`, `max`, `minskipnan`, `maxskipnan`. A cell with `keep` the
  * conjunction of its filters becomes, per reducer:
  *  - `size`: `count_if(keep)`
  *  - `field_counteq(f, v)`: `count_if(keep AND f = v)`
  *  - `field_nullcount(f)`: `count_if(keep AND f IS NULL)`
  *  - `mean`: `avg(CASE WHEN keep THEN double(f) END)`
  *  - `esum`: `sum(CASE WHEN keep THEN coalesce(double(f), 0.0) END)`
  *  - `min`/`max`: `min/max(CASE WHEN keep THEN f END)`, and the `skipnan`
  *    forms also drop NaN.
  * A packed cell is never empty, and a filtered cell is NULL when no element
  * is kept, so the cell is NULL exactly when `count_if(keep)` is 0 or NULL
  * (no child rows after an outer join). Each replaced reducer returns the
  * kernel's value on a NULL cell there, and the aggregate otherwise, so
  * NULL-cell and emptied-cell results stay what the per-cell kernel returns.
  * The element order inside a packed cell is shuffle-arrival order, so
  * floating sums may associate differently, exactly as between two runs of
  * the packed plan.
  *
  * The rule leaves the plan untouched when any use of the cell is
  * something else (the column reaches the output, a writer, `toFlat`,
  * `sortElements`, a `median`), when a filter reads more than the element,
  * when a field type could change the result (decimal `mean`/`esum`,
  * collated strings), or on a streaming aggregate. It also drops the key
  * `RepartitionByExpression` packFlat puts in front of the pack: it exists
  * only so the raw rows cross the exchange once, and with partial
  * aggregation it would ship them anyway.
  *
  * Registered by [[graft.GraftExtensions]]; turn it off per session with
  * `spark.sql.optimizer.excludedRules=graft.nested.PackReduce`.
  */
object PackReduce extends Rule[LogicalPlan] {

  /** One packed column: its attribute and the element values per field. */
  private case class Pack(attr: Attribute, struct: CreateNamedStruct) {
    val fields: Map[String, Expression] =
      struct.names.map(_.toString).zip(struct.valExprs).toMap
  }

  /** A cell over `pack`: the elements kept by `keep` (None = all). */
  private case class Cell(pack: Pack, keep: Option[Expression])

  /** `collect_list(struct(...)) AS name`, the pack aggregate. */
  private object PackList {
    def unapply(e: Expression): Option[CreateNamedStruct] = e match {
      case Alias(AggregateExpression(CollectList(s: CreateNamedStruct, _, _),
          Complete, false, None, _), _) => Some(s)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val packAggs = plan.collect {
      case a: Aggregate if a.aggregateExpressions.exists {
        case PackList(_) => true; case _ => false } => a
    }
    packAggs.iterator.flatMap(rewrite(plan, _)).nextOption() match {
      case Some(rewritten) => apply(rewritten)
      case None => plan
    }
  }

  /** Root-first path from `root` down to `target` (by identity). */
  private def pathTo(root: LogicalPlan, target: LogicalPlan)
      : Option[List[LogicalPlan]] =
    if (root eq target) Some(List(root))
    else root.children.iterator.flatMap(pathTo(_, target)).nextOption()
      .map(root :: _)

  private def rewrite(plan: LogicalPlan, agg: Aggregate)
      : Option[LogicalPlan] = {
    val packs = agg.aggregateExpressions.collect {
      case a @ PackList(s) => Pack(a.toAttribute, s)
    }
    // any other collect_list (sorted packs, bare values) keeps the array;
    // a nondeterministic element could not be split over several
    // aggregates; a streaming aggregate keeps the state layout its
    // checkpoints were written with
    if (agg.aggregateExpressions.exists {
        case PackList(_) => false
        case e => e.exists(_.isInstanceOf[CollectList]) } ||
        !packs.forall(_.struct.deterministic) || agg.isStreaming) return None
    val input = agg.child.outputSet
    val aggs = mutable.LinkedHashMap.empty[Expression, Alias]
    def aggAttr(fn: AggregateFunction, name: String): Attribute =
      aggs.getOrElseUpdate(fn.canonicalized,
        Alias(fn.toAggregateExpression(), name)()).toAttribute

    /** The element struct's per-field values in place of lambda `v`. */
    def onRow(body: Expression, v: NamedLambdaVariable, pack: Pack)
        : Expression = body.transformDown {
      case GetStructField(x: NamedLambdaVariable, ord, _) if x.exprId == v.exprId =>
        pack.struct.valExprs(ord)
      case x: NamedLambdaVariable if x.exprId == v.exprId => pack.struct
    }

    def cellOf(e: Expression, cells: Map[ExprId, Cell]): Option[Cell] = {
      def filtered(src: Expression, p1: LambdaFunction, src2: Expression,
                   p2: LambdaFunction): Option[Cell] = (p1, p2) match {
        case (LambdaFunction(b1, Seq(v1: NamedLambdaVariable), _),
              LambdaFunction(b2, Seq(v2: NamedLambdaVariable), _))
            if src.semanticEquals(src2) =>
          cellOf(src, cells).flatMap { c =>
            val p = onRow(b1, v1, c.pack)
            val kept = Coalesce(Seq(p, Literal(false)))
            // p must read only the child row: no variable of an enclosing
            // lambda, no attribute from above the pack
            val bound = p.collect { case l: LambdaFunction => l.arguments }
              .flatten.collect { case v: NamedLambdaVariable => v.exprId }.toSet
            val free = p.exists {
              case v: NamedLambdaVariable => !bound.contains(v.exprId)
              case _ => false
            }
            if (p.semanticEquals(onRow(b2, v2, c.pack)) && p.deterministic &&
                !free && p.references.subsetOf(input))
              Some(Cell(c.pack, Some(c.keep.fold[Expression](kept)(And(_, kept)))))
            else None
          }
        case _ => None
      }
      e match {
        case a: Attribute => cells.get(a.exprId)
        case CaseWhen(Seq((ArrayExists(s1, p1: LambdaFunction, _),
            ArrayFilter(s2, p2: LambdaFunction))), None | Some(Literal(null, _))) =>
          filtered(s1, p1, s2, p2)
        case _ => None
      }
    }

    /** Replacement for reducer `r` over `cell`, or None if not decomposable. */
    def reduce(r: Expression, cell: Cell): Option[Expression] = {
      val keep = cell.keep
      def when(cond: Option[Expression], v: Expression): Expression =
        cond.fold(v)(If(_, v, Literal(null, v.dataType)))
      def andKeep(c: Expression): Option[Expression] =
        Some(keep.fold(c)(And(_, c)))
      def count(cond: Option[Expression], name: String): Expression =
        aggAttr(Count(Seq(when(cond, Literal(1)))), name)
      val fields = cell.pack.fields
      val name = cell.pack.attr.name
      val value: Option[Expression] = r match {
        case _: Size => Some(Cast(count(keep, s"${name}_n"), IntegerType))
        case StructFieldCountEq(_, f, v) if fields(f).dataType == StringType =>
          Some(Cast(count(andKeep(EqualTo(fields(f), Literal(v))),
            s"${name}_${f}_eq"), IntegerType))
        case StructFieldReduce(_, f, op) =>
          val x = fields(f)
          val numeric = x.dataType match {
            case _: DecimalType => false
            case _: NumericType => true
            case _ => false
          }
          val orderable = x.dataType match {
            case _: NumericType | BooleanType | DateType | TimestampType |
                 TimestampNTZType | BinaryType => true
            case s: StringType => s == StringType
            case _ => false
          }
          val floating = x.dataType == DoubleType || x.dataType == FloatType
          def minMax(min: Boolean, skipNaN: Boolean): Option[Expression] =
            if (!orderable) None
            else {
              val c = if (skipNaN && floating) andKeep(Not(IsNaN(x))) else keep
              val arg = when(c, x)
              Some(aggAttr(if (min) Min(arg) else Max(arg), s"${name}_${f}_$op"))
            }
          op match {
            case "nullcount" => Some(Cast(count(andKeep(IsNull(x)),
              s"${name}_${f}_nulls"), IntegerType))
            case "mean" if numeric => Some(aggAttr(
              Average(when(keep, Cast(x, DoubleType))), s"${name}_${f}_mean"))
            case "esum" if numeric => Some(aggAttr(
              Sum(when(keep, Coalesce(Seq(Cast(x, DoubleType), Literal(0.0))))),
              s"${name}_${f}_esum"))
            case "min" => minMax(min = true, skipNaN = false)
            case "max" => minMax(min = false, skipNaN = false)
            case "minskipnan" => minMax(min = true, skipNaN = true)
            case "maxskipnan" => minMax(min = false, skipNaN = true)
            case _ => None
          }
        case _ => None
      }
      value.map { v =>
        val onNull = Literal.create(
          r.withNewChildren(Seq(Literal(null, r.children.head.dataType))).eval(),
          r.dataType)
        val kept = count(keep, s"${name}_n")
        If(EqualTo(Coalesce(Seq(kept, Literal(0L))), Literal(0L)), onNull, v)
      }
    }

    /** `e` with every reducer over a cell replaced, or None if a cell is
      * used any other way. */
    def substitute(e: Expression, cells: Map[ExprId, Cell])
        : Option[Expression] = {
      var ok = true
      val out = e.transformDown {
        case r @ (_: Size | _: StructFieldCountEq | _: StructFieldReduce)
            if ok && cellOf(r.children.head, cells).isDefined =>
          reduce(r, cellOf(r.children.head, cells).get).getOrElse {
            ok = false; r }
      }
      if (ok && !out.references.exists(a => cells.contains(a.exprId)))
        Some(out)
      else None
    }

    // Walk up from the pack while a cell is in the output; every node on
    // the way must be a Project, Filter or Join whose cell uses all reduce.
    val path = pathTo(plan, agg).get.reverse // agg first, root last
    var cells: Map[ExprId, Cell] =
      packs.map(p => p.attr.exprId -> Cell(p, None)).toMap
    val rebuilt = mutable.ArrayBuffer.empty[LogicalPlan => LogicalPlan]
    while (rebuilt.length + 1 < path.length && cells.nonEmpty) {
      val level = rebuilt.length + 1
      val node = path(level)
      val live = cells
      node match {
        case Project(list, _) =>
          var forward = Map.empty[ExprId, Cell]
          val kept = list.flatMap {
            case a: Attribute if live.contains(a.exprId) =>
              forward += a.exprId -> live(a.exprId); None
            case a @ Alias(e, _) if cellOf(e, live).isDefined =>
              forward += a.exprId -> cellOf(e, live).get; None
            case ne => substitute(ne, live) match {
              case Some(n: NamedExpression) => Some(n)
              case _ => return None
            }
          }
          val passAggs = forward.nonEmpty
          rebuilt += (child => Project(
            if (passAggs) kept ++ aggs.values.map(_.toAttribute) else kept,
            child))
          cells = forward
        case Filter(cond, _) =>
          val c = substitute(cond, live).getOrElse(return None)
          rebuilt += (child => Filter(c, child))
        case j: Join =>
          val c = j.condition.map(substitute(_, live).getOrElse(return None))
          val below = path(level - 1)
          rebuilt += (child =>
            if (j.left eq below) j.copy(left = child, condition = c)
            else j.copy(right = child, condition = c))
          cells = live.filter { case (id, _) => j.output.exists(_.exprId == id) }
        case _ => return None
      }
    }
    if (cells.nonEmpty) return None // the packed column reaches the output

    val child = agg.child match {
      case RepartitionByExpression(parts, c, None, _) if parts.forall(p =>
          agg.groupingExpressions.exists(_.semanticEquals(p))) => c
      case c => c
    }
    val newAgg = agg.copy(
      aggregateExpressions = agg.aggregateExpressions.filter {
        case PackList(_) => false; case _ => true } ++ aggs.values,
      child = child)
    // Above the last rewritten node only the child changes.
    val zone = rebuilt.foldLeft[LogicalPlan](newAgg)((c, f) => f(c))
    Some((rebuilt.length + 1 until path.length).foldLeft(zone) { (c, i) =>
      path(i).mapChildren(ch => if (ch eq path(i - 1)) c else ch)
    })
  }
}
