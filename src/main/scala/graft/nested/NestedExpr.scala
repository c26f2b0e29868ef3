package graft.nested

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, lit, size, when}
import org.apache.spark.sql.types.{ArrayType, StringType, StructType,
  TimestampNTZType, TimestampType}

/** String front-end for the reference's query/eval dialect.
  *
  * Reference semantics (src/nested_pandas/nestedframe/expr.py +
  * core.py:1526-1648):
  *  - an expression over base columns filters top-level rows;
  *  - an expression over the fields of exactly ONE nest filters the elements
  *    inside each nested cell (keeping all top-level rows; cells whose every
  *    element was dropped become NULL, core.py:1638-1648);
  *  - mixing layers, or referencing two different nests, raises
  *    (core.py:1610-1614 via extract_nest_names / _subexprs_by_nest).
  *  - dotted paths `nest.field`, backtick-quoted names, and `nest.len()` are
  *    supported (core.py:195-203, 1580-1589; expr.py:212-228).
  *
  * Implementation: we do NOT re-implement an evaluator. The expression is
  * parsed once by [[ExprParser]] (python operator precedence), each AST
  * node is classified against the frame's schema — layer, NA regime,
  * accessor chains, global reductions — and rendered to Spark SQL, which
  * is handed to Spark's own parser via `expr(...)` — either directly
  * (base layer) or wrapped in `filter(nest, __x -> ...)` (element
  * layer). Everything stays a Column expression: Catalyst optimizes,
  * codegen applies, no shuffle.
  */
object NestedExpr {

  private[graft] def bq(name: String): String = "`" + name.replace("`", "``") + "`"

  // -------------------------------------------------------------------------
  // AST classification + SQL rendering (r11). The expression is parsed ONCE
  // by [[ExprParser]] (python operator precedence, SQL passthrough forms),
  // then each node is classified against the frame's schema and rendered
  // straight to Spark SQL — replacing the r1-r10 string-marker pipeline
  // (no `__GRAFT*` markers, no post-render regex splices).
  //
  // Python-isms handled structurally at render time:
  //   `x in [a, b]`      → `x in (a, b)`      (IN list)
  //   `~cond`            → `not cond`
  //   `a & b` / `a | b`  → `a and b` / `a or b`  (mask operators)
  //   `a ** b`           → `power(a, b)`   (python precedence: binds
  //                        tighter than unary minus, right-associative)
  //   `a // b`           → `floor((a) / (b))`  (python floor semantics —
  //                        -7 // 2 = -4, unlike SQL div's truncation;
  //                        binds looser than unary minus)
  //   `a < b < c`        → `(a < b) and (b < c)`  (chained comparisons)
  //
  // NA-regime rules (all reference-executed; r9/r10 fuzz findings):
  //   - BASE-layer comparisons are 2-VALUED: wrapped coalesce(cmp,
  //     false|true-for-!=) — pandas float64-NaN semantics (NaN == x is
  //     False, NaN != x is True), where SQL's 3-valued NULL would flip
  //     behavior under negation.
  //   - ELEMENT-layer comparisons keep KLEENE (SQL) semantics — arrow NA
  //     propagates — EXCEPT equality on chains whose RESULT type is
  //     string/timestamp (2-valued; orderings stay Kleene), and a bare
  //     None literal in the comparison forces Kleene even there.
  //   - `in` wraps on BOTH layers (pandas isin maps NA → False), with the
  //     r10 None-in-list splits: element isin with a None value matches
  //     NA (`x in (vals) or x is null`); base OBJECT-dtype strings match
  //     None too; float NaN and NaT match nothing.
  // -------------------------------------------------------------------------

  /** Rendered subtree + the classification facts the NA-regime rules
    * need:
    *  - `kinds`: one entry per ELEMENT-level chain in the subtree — true
    *    when the chain's RESULT is string/timestamp-typed (equality on it
    *    is 2-valued in pandas), false when numeric/bool (Kleene). A
    *    chain's LAST member decides (`n.t.dt.floor('D').dt.year` is
    *    numeric → Kleene; `n.t.dt.day_name()` is string → 2-valued).
    *  - `hasNone`: a python None literal occurs in the subtree (forces
    *    Kleene even for string/timestamp equality — r10 probe: `n.t !=
    *    None` drops EVERY element, unlike `n.t != 'x'`).
    *  - `isArray`: the value is the ARRAY result of .str.split/rsplit/
    *    findall (later chain members switch to list semantics). */
  /** `isStr`: Some(true) = definitely string-valued, Some(false) =
    * definitely not, None = unknown — drives the string-`+`-is-CONCAT /
    * arithmetic-on-strings-raises rules (r11 probes; pandas raises
    * TypeError for every arith op on strings except `+`). */
  private case class Rnd(sql: String, kinds: List[Boolean] = Nil,
                         hasNone: Boolean = false, isArray: Boolean = false,
                         isStr: Option[Boolean] = None)
  private def merge(rs: Seq[Rnd]): Rnd =
    Rnd("", rs.flatMap(_.kinds).toList, rs.exists(_.hasNone))

  /** Mutable per-analysis state threaded through rendering. */
  private final class Ctx(
      val nestSet: Set[String], val baseSet: Set[String],
      val twoValuedElemRefs: Set[String], val stringBaseCols: Set[String],
      val df: DataFrame, val ref: (String, String) => String,
      val exprStr: String) {
    val nests = collection.mutable.LinkedHashSet.empty[String]
    var usesBase = false
    val reds = collection.mutable.LinkedHashMap
      .empty[(String, String, String), Reduction]
    /** The node that IS the whole expression modulo redundant parens — a
      * bare boolean-attr `min()/max()` reduction there keeps bool dtype
      * (pandas); any composed use stays numeric. Reference equality, so a
      * structurally equal twin elsewhere in the tree must not count. */
    var bareNode: AnyRef = null
  }

  /** Python float literals must render as Spark DOUBLE literals: a bare
    * `2.39` parses as DECIMAL(3,2) in Spark SQL, so arithmetic whose
    * other operands are all integers STAYS decimal and an aggregate over
    * it rounds to scale+4 digits (r8 alternate-seed fuzz catch — pandas
    * computes in float64). Exponent forms (`1.5E3`) are already
    * DoubleLiterals and stay verbatim. */
  private def numSql(t: String): String =
    if (t.exists(c => c == 'e' || c == 'E')) t
    else if (t.contains('.')) { if (t.last == '.') t + "0D" else t + "D" }
    else t

  /** Does a comparison over operands with facts `info` keep KLEENE
    * (element-layer) semantics? True when element chains are present and
    * the 2-valued escape does not apply (escape: EQUALITY where every
    * chain result is string/timestamp and no None literal occurs). */
  private def cmpIsElement(info: Rnd, eqOp: Boolean): Boolean = {
    val allTwoValued = eqOp && !info.hasNone &&
      info.kinds.nonEmpty && info.kinds.forall(identity)
    info.kinds.nonEmpty && !allTwoValued
  }

  private def renderAst(a: ExprAst.Ast, ctx: Ctx): Rnd = {
    import ExprAst._
    a match {
      case Num(t)    => Rnd(numSql(t), isStr = Some(false))
      case StrLit(t) => Rnd(t, isStr = Some(true))
      case NoneLit   => Rnd("null", hasNone = true)
      case Word(t)   => Rnd(t)
      case Un("not", e) =>
        val r = renderAst(e, ctx)
        r.copy(sql = s"not ${r.sql}", isArray = false, isStr = Some(false))
      case Un(op, e) =>
        val r = renderAst(e, ctx)
        val sql = e match {
          case _: Num => op + r.sql // "-2" stays a literal-int method arg
          case _      => s"($op ${r.sql})"
        }
        r.copy(sql = sql, isArray = false, isStr = Some(false))
      case Bin(op, l, r) if "+-*/%".contains(op) || op == "**" ||
          op == "//" =>
        val (lr, rr) = (renderAst(l, ctx), renderAst(r, ctx))
        renderArith(op, l, r, lr, rr, ctx)
      case Bin(op, l, r) =>
        val (lr, rr) = (renderAst(l, ctx), renderAst(r, ctx))
        merge(Seq(lr, rr)).copy(sql = s"${lr.sql} $op ${rr.sql}")
      case Paren(inner, Nil) =>
        val r = renderAst(inner, ctx)
        r.copy(sql = s"(${r.sql})")
      case Paren(inner, trailers) =>
        // `(ts).dt.year`: accessor chain over a parenthesized receiver —
        // the layer comes from whether the receiver is element-level
        val r = renderAst(inner, ctx)
        foldTrailers(r.copy(sql = s"(${r.sql})"), trailers,
          nestedLayer = r.kinds.nonEmpty, ctx)
      case c: Cmp    => renderCmp(c, ctx)
      case i: InList => renderIn(i, ctx)
      case IsNull(e, neg) =>
        val r = renderAst(e, ctx)
        r.copy(sql = s"${r.sql} is${if (neg) " not" else ""} null",
          isArray = false)
      case Between(e, lo, hi, neg) =>
        val rs = Seq(e, lo, hi).map(renderAst(_, ctx))
        merge(rs).copy(sql = s"${rs(0).sql} ${if (neg) "not " else ""}" +
          s"between ${rs(1).sql} and ${rs(2).sql}")
      case LikeOp(op, l, r, neg) =>
        val (lr, rr) = (renderAst(l, ctx), renderAst(r, ctx))
        merge(Seq(lr, rr)).copy(
          sql = s"${lr.sql} ${if (neg) "not " else ""}$op ${rr.sql}")
      case CaseWhen(branches, orElse) =>
        val parts = branches.map { case (c, v) =>
          (renderAst(c, ctx), renderAst(v, ctx)) }
        val er = orElse.map(renderAst(_, ctx))
        val sql = "case" + parts.map { case (c, v) =>
          s" when ${c.sql} then ${v.sql}" }.mkString +
          er.map(e => s" else ${e.sql}").getOrElse("") + " end"
        merge(parts.flatMap(p => Seq(p._1, p._2)) ++ er.toSeq)
          .copy(sql = sql)
      case CastE(e, typ) =>
        val r = renderAst(e, ctx)
        r.copy(sql = s"cast(${r.sql} as $typ)", isArray = false)
      case KwArg(n, v) =>
        val r = renderAst(v, ctx)
        r.copy(sql = s"$n=${r.sql}")
      case DistinctArg(e) =>
        val r = renderAst(e, ctx)
        r.copy(sql = s"distinct ${r.sql}")
      case p: PathCall => renderPath(p, ctx)
    }
  }

  /** True when `a` is a nonzero NUMERIC literal (possibly signed,
    * possibly parenthesized) — the common divisor shape, where the
    * division-by-zero guard is statically unnecessary. */
  @annotation.tailrec
  private def literalNonzero(a: ExprAst.Ast): Boolean = a match {
    case ExprAst.Num(t) =>
      t.toDouble != 0.0
    case ExprAst.Un("-" | "+", inner) => literalNonzero(inner)
    case ExprAst.Paren(inner, Nil)    => literalNonzero(inner)
    case _                            => false
  }

  /** Arithmetic render with the r11 reference-executed type rules:
    *  - `+` over two definitely-string operands is CONCAT (element layer:
    *    `n.t + '!'` concatenates, NULL-strict; the RESULT's NA regime is
    *    KLEENE — unlike `.str` string results, probe 2026-08-15 — so the
    *    concat collapses its element chains to one Kleene entry);
    *  - every OTHER arith op with a definitely-string operand RAISES
    *    (pandas TypeError — the old pipeline silently rendered SQL that
    *    null-cast the string);
    *  - `/` and `//` by a non-literal-nonzero divisor guard the zero
    *    case: pandas yields ±inf (sign of the dividend; 0/0 → NaN) where
    *    SQL division yields NULL — `(l) * double('Infinity')` reproduces
    *    all three in one expression;
    *  - `%` is python modulo (divisor's sign; the old verbatim `%` was a
    *    silent wrong answer on negatives), with `x % 0` → NaN (pandas)
    *    when the divisor isn't a nonzero literal. */
  private def renderArith(op: String, l: ExprAst.Ast, r: ExprAst.Ast,
                          lr: Rnd, rr: Rnd, ctx: Ctx): Rnd = {
    def anyStr = lr.isStr.contains(true) || rr.isStr.contains(true)
    if (op == "+" && lr.isStr.contains(true) && rr.isStr.contains(true)) {
      val m = merge(Seq(lr, rr))
      return Rnd(s"concat(${lr.sql}, ${rr.sql})",
        kinds = if (m.kinds.nonEmpty) List(false) else Nil,
        hasNone = m.hasNone, isStr = Some(true))
    }
    if (op == "+" && anyStr &&
        (lr.isStr.contains(false) || rr.isStr.contains(false)))
      throw new IllegalArgumentException(
        s"`+` between string and non-string operands is not supported " +
          s"(pandas raises TypeError) in: ${ctx.exprStr}")
    if (op != "+" && anyStr)
      throw new IllegalArgumentException(
        s"`$op` on string operands is not supported (pandas raises " +
          s"TypeError) in: ${ctx.exprStr}")
    val m = merge(Seq(lr, rr)).copy(isStr = Some(false))
    val (a, b) = (lr.sql, rr.sql)
    op match {
      case "**" => m.copy(sql = s"power($a, $b)")
      case "//" =>
        if (literalNonzero(r)) m.copy(sql = s"floor(($a) / ($b))")
        else m.copy(sql = s"(case when ($b) = 0 then " +
          s"($a) * double('Infinity') else floor(($a) / ($b)) end)")
      case "/" =>
        if (literalNonzero(r)) m.copy(sql = s"$a / $b")
        else m.copy(sql = s"(case when ($b) = 0 then " +
          s"($a) * double('Infinity') else ($a) / ($b) end)")
      case "%" =>
        val zero =
          if (literalNonzero(r)) ""
          else s"when ($b) = 0 then double('NaN') "
        m.copy(sql = s"(case ${zero}when ($b) < 0 then " +
          s"-pmod(-($a), -($b)) else pmod(($a), ($b)) end)")
      case _ => m.copy(sql = s"$a $op $b")
    }
  }

  /** Comparison render, chains included: `O1 c1 O2 c2 O3` → `(O1 c1 O2)
    * and (O2 c2 O3)`, each conjunct's wrap decided by ITS operator (the
    * 2-valued-equality escape is per-conjunct — r10). */
  private def renderCmp(c: ExprAst.Cmp, ctx: Ctx): Rnd = {
    val operands = (c.first :: c.rest.map(_._2)).map(renderAst(_, ctx))
    val info = merge(operands)
    val eqElem = cmpIsElement(info, eqOp = true)
    val ordElem = cmpIsElement(info, eqOp = false)
    def wrap(op: String, cmp: String): String = {
      val elem = if (op == "==" || op == "!=") eqElem else ordElem
      if (elem) cmp
      else s"coalesce(($cmp), ${if (op == "!=") "true" else "false"})"
    }
    val sql =
      if (c.rest.length == 1)
        wrap(c.rest.head._1,
          s"${operands(0).sql} ${c.rest.head._1} ${operands(1).sql}")
      else {
        val joined = c.rest.map(_._1).zipWithIndex.map { case (op, i) =>
          val cmp = s"(${operands(i).sql} $op ${operands(i + 1).sql})"
          val elem = if (op == "==" || op == "!=") eqElem else ordElem
          if (elem) cmp
          else s"coalesce($cmp, ${if (op == "!=") "true" else "false"})"
        }.mkString(" and ")
        s"($joined)"
      }
    info.copy(sql = sql)
  }

  /** `in` membership: wraps on BOTH layers (pandas isin maps NA → False
    * even for arrow-backed nested fields). None-in-list splits (r10
    * probes): an element-layer operand, or exactly one plain string base
    * column, rewrites to `(x in (values-sans-None)) or (x is null)`;
    * float NaN / NaT operands keep the plain wrap (match nothing). */
  private def renderIn(i: ExprAst.InList, ctx: Ctx): Rnd = {
    import ExprAst.{NoneLit, PathCall}
    val eR = renderAst(i.e, ctx)
    val itemRs = i.items.map(renderAst(_, ctx))
    val info = merge(eR +: itemRs)
    val noneInList = itemRs.exists(_.hasNone)
    val elemIn = noneInList && info.kinds.nonEmpty
    val baseStrIn = noneInList && !elemIn && (i.e match {
      case PathCall(List(one), None, Nil) =>
        ctx.stringBaseCols.contains(one)
      case _ => false
    })
    val dflt = if (i.negated) "true" else "false"
    val txt =
      if (elemIn || baseStrIn) {
        val vals = i.items.zip(itemRs).collect {
          case (it, r) if it != NoneLit => r.sql }
        val opTxt = eR.sql
        val membership =
          if (vals.isEmpty) s"(($opTxt) is null)"
          else s"((($opTxt) in (${vals.mkString(", ")})) " +
            s"or (($opTxt) is null))"
        if (i.negated) s"(not $membership)" else membership
      } else
        s"${eR.sql}${if (i.negated) " not" else ""} in " +
          s"(${itemRs.map(_.sql).mkString(", ")})"
    info.copy(sql = s"coalesce(($txt), $dflt)")
  }

  /** Fold accessor trailers (`.str.m(...)`, `.dt.m`, `[i]`) over an
    * already-rendered receiver. `nestedLayer` picks the arrow-vs-numpy
    * split for `.dt` members (microsecond decomposition, strftime %S/%f,
    * round ties). When the receiver carries an element chain, its LAST
    * kind entry is retyped by the final member. */
  private def foldTrailers(recv: Rnd, trailers: List[ExprAst.Trailer],
                           nestedLayer: Boolean, ctx: Ctx): Rnd = {
    var cur = recv.sql
    var isArr = recv.isArray
    var kind: Option[Boolean] = None
    var strRes: Option[Boolean] = recv.isStr
    val extras = List.newBuilder[Rnd]
    trailers.foreach {
      case ExprAst.Trailer(Nil, _, Some(idx)) =>
        val ir = renderAst(idx, ctx)
        extras += ir
        cur = s"$cur[${ir.sql}]"
        isArr = false
      case ExprAst.Trailer(List("str", m), Some(args), _) =>
        if (!strSupported.contains(m)) strUnsupported(m, ctx.exprStr)
        val ars = args.map(renderAst(_, ctx))
        extras ++= ars
        val (s2, a2) =
          renderStrMethod(m, cur, ars.map(_.sql), isArr, ctx.exprStr)
        cur = s2; isArr = a2
        kind = Some(strStringResult.contains(m))
        strRes = Some(strStringResult.contains(m) && !a2)
      case ExprAst.Trailer(List("dt", m), argsOpt, _) =>
        argsOpt match {
          case None =>
            if (!dtAttrs.contains(m)) dtUnsupported(m, ctx.exprStr)
            cur = dtAttrSql(m, cur, nestedLayer, ctx.exprStr)
            isArr = false
          case Some(args) =>
            if (!dtMethods.contains(m)) dtUnsupported(m, ctx.exprStr)
            val ars = args.map(renderAst(_, ctx))
            extras ++= ars
            val (s2, a2) = renderStrMethod(
              "dt" + (if (nestedLayer) "e" else "b") + m, cur,
              ars.map(_.sql), isArr, ctx.exprStr)
            cur = s2; isArr = a2
        }
        kind = Some(dtTwoValuedMembers.contains(m))
        strRes = Some(Set("strftime", "day_name", "month_name").contains(m))
      case ExprAst.Trailer(names, _, _) =>
        throw new IllegalArgumentException(
          s"Unresolvable column path '${names.mkString(".")}' " +
            s"(chained accessors support .str.<m> / .dt.<m>) in: " +
            ctx.exprStr)
    }
    val extraInfo = merge(extras.result())
    val kinds0 =
      if (nestedLayer && recv.kinds.nonEmpty && kind.isDefined)
        recv.kinds.init :+ kind.get
      else recv.kinds
    Rnd(cur, kinds0 ++ extraInfo.kinds,
      recv.hasNone || extraInfo.hasNone, isArr, isStr = strRes)
  }

  /** Classify one dotted path (+ optional call args + trailers) against
    * the frame's schema — the column-resolution core. Pattern order is
    * semantic precedence, mirrored from the r1-r10 resolver. */
  private def renderPath(p: ExprAst.PathCall, ctx: Ctx): Rnd = {
    import ExprAst._
    val exprStr = ctx.exprStr
    val nestSet = ctx.nestSet
    val baseSet = ctx.baseSet
    /** Called with EXACTLY zero arguments — `n.len()`, `n.x.mean()`. */
    val emptyCall = p.args.exists(_.isEmpty)
    def reduction(nest: String, sqlE: String, agg: String,
                  srcCol: String): Reduction =
      ctx.reds.getOrElseUpdate((nest, sqlE, agg),
        Reduction(nest, sqlE, agg, srcCol))
    /** Verbatim-call suffix for passthrough paths (`abs(x)`,
      * `` `col`(…) `` — garbage in, garbage out, as before). */
    def argSuffix(info: List[Rnd] => Unit = _ => ()): String =
      p.args match {
        case None => ""
        case Some(args) =>
          val ars = args.map(renderAst(_, ctx))
          info(ars)
          s"(${ars.map(_.sql).mkString(", ")})"
      }
    def elemRef(nest: String, field: String): Rnd = {
      ctx.nests += nest
      val isString = NestedOps.subColumns(ctx.df, nest).contains(field) &&
        NestedOps.nestedStruct(ctx.df, nest)(field).dataType == StringType
      Rnd(ctx.ref(nest, field),
        kinds = List(ctx.twoValuedElemRefs.contains(s"$nest.$field")),
        isStr = Some(isString))
    }
    def fold(head: Rnd, firstMember: Option[Trailer],
             nested: Boolean): Rnd =
      foldTrailers(head, firstMember.toList ++ p.trailers, nested, ctx)
    /** `.str.cat(sep=…, na_rep=…)` argument surface: string-literal
      * kwargs only — a positional first argument is pandas' `others`
      * (element-wise concat against another series), which has no global
      * scalar analog and raises loudly. */
    def catArgs(args: List[Ast]): (String, Option[String]) = {
      var sep = ""; var naRep: Option[String] = None
      args.foreach {
        case KwArg("sep", StrLit(t)) =>
          sep = strLitContent(t).getOrElse("")
        case KwArg("na_rep", StrLit(t)) =>
          naRep = strLitContent(t)
        case other => throw new IllegalArgumentException(
          s".str.cat supports only sep=/na_rep= string-literal keyword " +
            s"arguments (pandas `others` concat is not supported), got " +
            s"'$other' in: $exprStr")
      }
      (sep, naRep)
    }

    p.names match {
      // nest.len() — row-level length (core.py:1580-1589). A NULL cell is
      // 0, not NULL (executed reference probe r9); the programmatic API
      // (NestedOps.nestLen) stays NULL-distinct by documented choice.
      case List(nest, "len") if nestSet.contains(nest) && emptyCall =>
        ctx.usesBase = true
        fold(Rnd(s"coalesce(size(${bq(nest)}), 0)"), None, nested = false)
      // nest.isna() / nest.notna() — row-level NULL-cell predicate
      case List(nest, fn) if nestSet.contains(nest) &&
          (fn == "isna" || fn == "notna") && emptyCall =>
        ctx.usesBase = true
        val not = if (fn == "notna") " not" else ""
        fold(Rnd(s"(${bq(nest)} is$not null)"), None, nested = false)
      // nest.field.agg() — GLOBAL Series reduction (pandas eval
      // semantics; r8 parity fix). Rendered as a helper-column
      // reference, attached lazily by withReductions.
      case List(nest, field, agg) if nestSet.contains(nest) &&
          reductionAggs.contains(agg) && emptyCall =>
        ctx.usesBase = true
        val r = reduction(nest, s"__e.${bq(field)}", agg, srcCol = nest)
        fold(Rnd(bq(r.name)), None, nested = false)
      // base-column global reduction `a.mean()`
      case List(base, agg) if baseSet.contains(base) &&
          reductionAggs.contains(agg) && emptyCall =>
        ctx.usesBase = true
        val r = reduction("", bq(base), agg, srcCol = base)
        fold(Rnd(bq(r.name)), None, nested = false)
      // dt-derived global reductions: `ts.dt.year.mean()` — one global
      // scalar broadcast; a BARE boolean-attr min/max keeps bool dtype
      case List(base, "dt", attr, agg) if baseSet.contains(base) &&
          reductionAggs.contains(agg) && dtAttrs.contains(attr) &&
          emptyCall =>
        ctx.usesBase = true
        val sqlE = dtReduceCast(attr,
          dtAttrSql(attr, bq(base), nested = false, exprStr), agg, exprStr)
        val r = reduction("", sqlE, agg, srcCol = base)
        fold(Rnd(boolReductionRef(r.name, attr, agg,
          bare = p eq ctx.bareNode)), None, nested = false)
      case List(nest, field, "dt", attr, agg) if nestSet.contains(nest) &&
          reductionAggs.contains(agg) && dtAttrs.contains(attr) &&
          emptyCall =>
        ctx.usesBase = true
        val sqlE = dtReduceCast(attr,
          dtAttrSql(attr, s"__e.${bq(field)}", nested = true, exprStr),
          agg, exprStr)
        val r = reduction(nest, sqlE, agg, srcCol = nest)
        fold(Rnd(boolReductionRef(r.name, attr, agg,
          bare = p eq ctx.bareNode)), None, nested = false)
      // nest.field.isna()/.notna() — ELEMENT-level NULL predicate;
      // pandas isna(NaN) is True, so floating fields test isnan too
      case List(nest, field, fn) if nestSet.contains(nest) &&
          (fn == "isna" || fn == "notna") && emptyCall =>
        ctx.nests += nest
        val floating = NestedOps.subColumns(ctx.df, nest)
          .contains(field) &&
          (NestedOps.nestedStruct(ctx.df, nest)(field).dataType match {
            case org.apache.spark.sql.types.DoubleType |
                 org.apache.spark.sql.types.FloatType => true
            case _ => false
          })
        val e = ctx.ref(nest, field)
        val pred =
          if (floating) s"($e is null or isnan($e))"
          else s"($e is null)"
        val body = if (fn == "notna") s"(not $pred)" else pred
        fold(Rnd(body, kinds = List(false)), None, nested = true)
      // nest.field.str.cat(...) / base.str.cat(...) — GLOBAL reduction
      // (pandas Series.str.cat joins the whole flat series into one
      // scalar, broadcast to every row — same shape as .mean())
      case List(nest, field, "str", "cat") if nestSet.contains(nest) &&
          p.args.isDefined =>
        ctx.usesBase = true
        val (sep, naRep) = catArgs(p.args.get)
        val r = ctx.reds.getOrElseUpdate(
          (nest, s"__e.${bq(field)}", s"cat\u0000$sep\u0000$naRep"),
          Reduction(nest, s"__e.${bq(field)}", "cat", srcCol = nest,
            catSep = sep, catNaRep = naRep))
        fold(Rnd(bq(r.name), isStr = Some(true)), None, nested = false)
      case List(base, "str", "cat") if baseSet.contains(base) &&
          p.args.isDefined =>
        ctx.usesBase = true
        val (sep, naRep) = catArgs(p.args.get)
        val r = ctx.reds.getOrElseUpdate(
          ("", bq(base), s"cat\u0000$sep\u0000$naRep"),
          Reduction("", bq(base), "cat", srcCol = base,
            catSep = sep, catNaRep = naRep))
        fold(Rnd(bq(r.name), isStr = Some(true)), None, nested = false)
      // nest.field.str.method(...) — pandas Series.str accessor
      case List(nest, field, "str", m) if nestSet.contains(nest) &&
          p.args.isDefined =>
        fold(elemRef(nest, field), Some(Trailer(List("str", m), p.args)),
          nested = true)
      case List(base, "str", m) if baseSet.contains(base) &&
          p.args.isDefined =>
        ctx.usesBase = true
        fold(Rnd(bq(base)), Some(Trailer(List("str", m), p.args)),
          nested = false)
      // nest.field.dt.m / base.dt.m — pandas Series.dt accessor
      // (attribute when uncalled, method when called)
      case List(nest, field, "dt", m) if nestSet.contains(nest) =>
        fold(elemRef(nest, field), Some(Trailer(List("dt", m), p.args)),
          nested = true)
      case List(base, "dt", m) if baseSet.contains(base) =>
        ctx.usesBase = true
        fold(Rnd(bq(base)), Some(Trailer(List("dt", m), p.args)),
          nested = false)
      // plain element reference nest.field
      case List(nest, field) if nestSet.contains(nest) =>
        val head = elemRef(nest, field)
        fold(head.copy(sql = head.sql + argSuffix()), None, nested = true)
      case List(one) if baseSet.contains(one) =>
        ctx.usesBase = true
        fold(Rnd(bq(one) + argSuffix(),
          isStr = Some(ctx.stringBaseCols.contains(one))),
          None, nested = false)
      // SQL keyword operands (true/false/null) pass through verbatim
      case List(one) if keywords.contains(one.toLowerCase) =>
        Rnd(one + argSuffix())
      // python None literal → SQL null. Comparisons against it: base
      // 2-valued wrap, element FORCED Kleene — see cmpIsElement.
      case List("None") =>
        Rnd("null" + argSuffix(), hasNone = true)
      case List(one) if nestSet.contains(one) =>
        ctx.usesBase = true
        fold(Rnd(bq(one)), None, nested = false)
      // unknown single name WITH args: a SQL function call passes
      // through to Spark's parser (abs, sqrt, concat, …)
      case List(one) if p.args.isDefined =>
        var inf: List[Rnd] = Nil
        val sql = one + argSuffix(ars => inf = ars)
        val ai = merge(inf)
        fold(Rnd(sql, ai.kinds, ai.hasNone), None,
          nested = ai.kinds.nonEmpty)
      case List(one) =>
        throw new IllegalArgumentException(
          s"Unknown column '$one' in: $exprStr " +
            s"(known: ${(baseSet ++ nestSet).toSeq.sorted.mkString(", ")})")
      case other =>
        throw new IllegalArgumentException(
          s"Unresolvable column path '${other.mkString(".")}' in: $exprStr")
    }
  }

  /** Simple one-function `.str` methods: method → Spark SQL fn name. */
  private val strSimple: Map[String, String] = Map(
    "upper" -> "upper", "lower" -> "lower",
    "casefold" -> "lower",
    "strip" -> "trim", "lstrip" -> "ltrim",
    "rstrip" -> "rtrim",
    "startswith" -> "startswith", "endswith" -> "endswith",
    "contains" -> "contains",
    // pandas ≥2 str.replace defaults to regex=False → Spark's literal
    // replace(str, search, replacement) matches
    "replace" -> "replace")

  /** Zero-arg character-class predicates, rendered as composite SQL
    * (pandas Series.str.is*; Unicode classes via Java regex). The empty
    * string is false for all of them, matching pandas.
    * Documented divergences from Python's str predicates:
    *  - isdigit: Python also accepts Numeric_Type=Digit characters that
    *    are NOT Unicode Nd (e.g. '²' superscript two, category No);
    *    `\p{Nd}` rejects those (Java regex has no Numeric_Type property).
    *  - isspace: matched with (?U) so Unicode whitespace (U+00A0 NBSP,
    *    U+2007 …) is accepted like Python; Java's default \s is
    *    ASCII-only. */
  private val strPredicates: Map[String, String => String] = Map(
    "isdigit" -> (x => s"regexp_like($x, '^\\\\p{Nd}+$$')"),
    "isnumeric" -> (x => s"regexp_like($x, '^\\\\p{N}+$$')"),
    "isalpha" -> (x => s"regexp_like($x, '^\\\\p{L}+$$')"),
    "isalnum" -> (x => s"regexp_like($x, '^[\\\\p{L}\\\\p{N}]+$$')"),
    "isspace" -> (x => s"regexp_like($x, '(?U)^\\\\s+$$')"),
    // pandas isupper/islower: every cased char in that case AND at least
    // one cased char exists (x <> other-case proves the latter)
    "isupper" -> (x => s"($x = upper($x) and $x <> lower($x))"),
    "islower" -> (x => s"($x = lower($x) and $x <> upper($x))"))

  /** Every supported `.str` method name (for the raise message and the
    * analyze-time validation). */
  private val strSupported: Seq[String] =
    (strSimple.keys.toSeq ++ strPredicates.keys ++ Seq(
      "capitalize", "len", "rjust", "ljust", "zfill", "pad", "center",
      "count", "find", "get", "slice", "split",
      "removeprefix", "removesuffix", "repeat", "extract",
      "swapcase", "title",
      "rsplit", "findall", "match", "fullmatch", "slice_replace",
      "wrap", "join")).sorted

  private def strUnsupported(m: String, exprStr: String): Nothing =
    throw new IllegalArgumentException(
      s".str.$m is not supported (supported: " +
        strSupported.mkString(", ") + s") in: $exprStr")


  // -------------------------------------------------------------------------
  // `.dt` accessor (pandas Series.dt over datetime64 columns). Reference-
  // executed 2026-08-14: the reference's query/eval run `.dt` on BOTH
  // layers (`ts.dt.year >= 2019` / `n.t.dt.year < 2021`), so this is
  // resolver-reachable surface, not dead API. Missing-value semantics come
  // free from the existing span classification: `n.t.dt.year` keeps its
  // nest-rooted ident (element Kleene, probe: NaT elements drop under both
  // a mask and its negation) while a base `ts.dt.year` span gets the
  // 2-valued coalesce wrap (probe: `~(ts.dt.year >= 2019)` KEEPS NaT rows).
  // Attributes render inline; normalize/strftime/floor are calls and route
  // through the str-marker argument splicing under dt-prefixed names.
  // -------------------------------------------------------------------------
  private val dtDow: String => String =
    // pandas Monday=0..Sunday=6; Spark dayofweek Sunday=1..Saturday=7
    x => s"((dayofweek($x) + 5) % 7)"
  private val dtDim: String => String = x => s"day(last_day($x))"
  private val dtAttrs: Map[String, String => String] = Map(
    "year" -> (x => s"year($x)"),
    "month" -> (x => s"month($x)"),
    "day" -> (x => s"day($x)"),
    "hour" -> (x => s"hour($x)"),
    "minute" -> (x => s"minute($x)"),
    "second" -> (x => s"second($x)"),
    // fractional-second part in micros (second() truncates)
    "microsecond" -> (x =>
      s"(cast(date_part('SECOND', $x) * 1000000 as bigint) % 1000000)"),
    // ns within the µs — Spark timestamps are µs-precision so this is 0
    // for every non-NULL value (pandas ns-unit data can be nonzero; the
    // µs data graft stores never is). Reference-executed r10 audit.
    "nanosecond" -> (x =>
      s"(cast(date_part('SECOND', $x) * 1000000000 as bigint) % 1000)"),
    "dayofweek" -> dtDow, "day_of_week" -> dtDow, "weekday" -> dtDow,
    "dayofyear" -> (x => s"dayofyear($x)"),
    "day_of_year" -> (x => s"dayofyear($x)"),
    "quarter" -> (x => s"quarter($x)"),
    "days_in_month" -> dtDim, "daysinmonth" -> dtDim,
    "date" -> (x => s"cast($x as date)"),
    "is_leap_year" -> (x =>
      s"(day(last_day(make_date(year($x), 2, 1))) = 29)"),
    "is_month_start" -> (x => s"(day($x) = 1)"),
    "is_month_end" -> (x => s"(cast($x as date) = last_day($x))"),
    "is_year_start" -> (x => s"(dayofyear($x) = 1)"),
    "is_year_end" -> (x => s"(month($x) = 12 and day($x) = 31)"),
    "is_quarter_start" -> (x =>
      s"(day($x) = 1 and month($x) in (1, 4, 7, 10))"),
    "is_quarter_end" -> (x =>
      s"(cast($x as date) = last_day($x) and month($x) in (3, 6, 9, 12))"))
  private val dtMethods = Set("normalize", "strftime", "floor",
    "ceil", "round", "day_name", "month_name", "as_unit")

  /** `.dt` members whose RESULT is a string or timestamp — comparisons on
    * them are 2-VALUED in pandas (see [[cmpIsElement]]). */
  private val dtTwoValuedMembers = Set("normalize", "floor", "ceil",
    "round", "as_unit", "strftime", "day_name", "month_name")

  /** `.str` methods whose RESULT is a string (comparisons 2-valued);
    * numeric/bool-result methods (len, count, find, predicates, match…)
    * stay Kleene. */
  private val strStringResult = Set("upper", "lower", "casefold", "strip",
    "lstrip", "rstrip", "replace", "capitalize", "title", "swapcase", "get",
    "slice", "removeprefix", "removesuffix", "repeat", "pad", "center",
    "ljust", "rjust", "zfill", "slice_replace", "extract", "wrap", "join")

  /** pandas fixed-frequency string → micros (`'15min'`, `'2h'`, `'D'`,
    * `'s'`, `'ms'`, incl. the deprecated single-letter aliases pandas
    * still accepts); non-fixed freqs (W/M/Y…) raise, matching pandas
    * `dt.floor/ceil/round` which accept fixed frequencies only. */
  private def freqMicros(freq: String, m: String, exprStr: String): Long = {
    val re = """^(\d*)(D|d|h|H|min|T|s|S|ms|L|us|U)$""".r
    freq match {
      case re(mult, unit) =>
        val u = unit match {
          case "D" | "d"   => 86400000000L
          case "h" | "H"   => 3600000000L
          case "min" | "T" => 60000000L
          case "s" | "S"   => 1000000L
          case "ms" | "L"  => 1000L
          case _           => 1L // us | U
        }
        val k = if (mult.isEmpty) 1L else mult.toLong
        require(k > 0, s".dt.$m: zero-multiple freq '$freq' in: $exprStr")
        k * u
      case _ => throw new IllegalArgumentException(
        s".dt.$m: unsupported freq '$freq' (fixed frequencies only: " +
          s"[n]D, [n]h, [n]min, [n]s, [n]ms, [n]us) in: $exprStr")
    }
  }

  private def dtUnsupported(m: String, exprStr: String): Nothing =
    throw new IllegalArgumentException(
      s".dt.$m is not supported (attributes: " +
        dtAttrs.keys.toSeq.sorted.mkString(", ") +
        s"; methods: ${dtMethods.toSeq.sorted.mkString(", ")}) in: $exprStr")


  /** SQL for one `.dt` attribute over expression `x`, layer-aware:
    *  - dtype split the dt fuzz corpus exposed (reference-executed):
    *    numpy base `.dt.microsecond` is the FULL fractional part in µs
    *    (.978069 -> 978069) but the arrow-backed ELEMENT layer follows
    *    Arrow's decomposition — µs within the millisecond (-> 69);
    *  - base `is_*` attrs are numpy bool arrays (NaT -> False). */
  private def dtAttrSql(m: String, x: String, nested: Boolean,
                        exprStr: String): String = {
    val sql =
      if (m == "microsecond" && nested)
        s"(cast(date_part('SECOND', $x) * 1000000 as bigint) % 1000)"
      else dtAttrs.getOrElse(m, dtUnsupported(m, exprStr))(x)
    if (!nested && m.startsWith("is_")) s"coalesce($sql, false)" else sql
  }

  /** Translate a python strftime format to a Spark/Java date_format
    * pattern; literal runs are single-quote-escaped (letters are pattern
    * chars in Java). Unknown %-directives raise (no silent divergence).
    *
    * `arrow = true` mirrors the arrow-backed ELEMENT layer (Arrow's
    * strftime kernel, reference-executed via the dt fuzz corpus): %S
    * renders seconds WITH a 9-digit nanosecond fraction, and %f is not a
    * directive at all — it passes through as the literal text "%f". */
  private def strftimeToJava(fmt: String, exprStr: String,
                             arrow: Boolean = false): String = {
    val dir = Map('Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss", 'f' -> "SSSSSS",
      'j' -> "DDD", 'a' -> "EEE", 'A' -> "EEEE", 'b' -> "MMM",
      'B' -> "MMMM", 'p' -> "a")
    val sb = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      sb.append("'").append(lit.toString.replace("'", "''")).append("'")
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val d = fmt(i + 1)
        if (d == '%') { lit += '%'; i += 2 }
        else if (arrow && d == 'f') { lit ++= "%f"; i += 2 }
        else if (arrow && d == 'S') {
          flush(); sb.append("ss'.'SSSSSSSSS"); i += 2
        } else dir.get(d) match {
          case Some(j) => flush(); sb.append(j); i += 2
          case None => throw new IllegalArgumentException(
            s".dt.strftime: unsupported directive %$d in: $exprStr")
        }
      } else { lit += c; i += 1 }
    }
    flush()
    sb.toString
  }

  /** SQL keywords / function names we must not treat as column refs. */
  private val keywords = Set(
    "and", "or", "not", "in", "is", "null", "true", "false", "like", "rlike",
    "between", "case", "when", "then", "else", "end", "cast", "as", "distinct")

  /** Reductions usable as `nest.field.agg()` in eval expressions. Pandas
    * eval resolves `nest.field` to the FLAT series and calls the Series
    * reduction — a GLOBAL scalar broadcast to every row
    * (test_nestedframe.py test_mixed_eval_funcs: `a + packed.c.median()`
    * adds the whole-column median, reference-executed golden [4,5,6]).
    * Until round 8 the dialect computed PER-CELL reductions here — a
    * silent divergence; the per-cell form remains available
    * programmatically via [[elementReduction]]. */
  private val reductionAggs = Set(
    "mean", "median", "sum", "min", "max", "count", "std")

  /** One GLOBAL reduction requested by an expression — `nest.field.agg()`
    * over exploded elements (`nest` non-empty, `sqlE` references the
    * exploded alias `__e`), or a BASE-column / dt-derived reduction
    * (`nest` empty, `sqlE` over the frame's own columns: `a.mean()`,
    * `ts.dt.year.mean()` — reference-executed r9 session-3 probe).
    * Rendered in the rewritten SQL as a reference to helper column `name`;
    * the helper is attached LAZILY by [[withReductions]] at consume time.
    * `srcCol` is the top-level column the reduction reads (the nest, or
    * the base column) — [[eval]]'s cross-line hoist uses it to keep a
    * reduction per-line when an earlier line writes that column. */
  private case class Reduction(nest: String, sqlE: String, agg: String,
                               srcCol: String, catSep: String = "",
                               catNaRep: Option[String] = None) {
    /** Helper-column name, deterministic by CONTENT (not extraction
      * order) so separate analyze passes over the same expression agree
      * on the name — [[eval]]'s hoist attaches helpers in a pre-pass and
      * each line's own analysis must resolve to the same columns. Two
      * independent 31-bit hashes make a cross-reduction collision (which
      * would silently alias two different values) vanishingly unlikely. */
    val name: String = {
      import scala.util.hashing.MurmurHash3.stringHash
      val key = s"$nest|$sqlE|$agg|$catSep|${catNaRep.getOrElse("\u0000")}"
      f"__graft_red_${stringHash(key) & 0x7fffffff}%08x" +
        f"${stringHash(key, 0x9e3779b9) & 0x7fffffff}%08x"
    }
  }

  /** The aggregate Column for one reduction over the SQL expression
    * `sqlE` (shared scan — see [[withReductions]]). `floating = true`
    * rewrites NaN → NULL first: pandas reductions are skipna=True, so a
    * literal NaN value must not poison mean/sum/std or win min/max
    * (Spark orders NaN as the largest double) — same parity rule as
    * `aggAllColumns`' default path. */
  private def reductionAggCol(sqlE: String, agg: String,
                              floating: Boolean)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{avg, sum, min, max, count,
      stddev_samp}
    val e = if (floating) s"nanvl(($sqlE), cast(null as double))"
            else s"($sqlE)"
    val v = expr(e)
    agg match {
      case "mean"   => avg(v)
      case "median" => expr(s"percentile($e, 0.5)")
      case "sum"    => sum(v)
      case "min"    => min(v)
      case "max"    => max(v)
      case "count"  => count(v)
      case "std"    => stddev_samp(v)
    }
  }

  /** Aggregate Column for a `.str.cat` GLOBAL reduction: every non-NA
    * value of the flat series joined by `sep` in INDEX ORDER — realized
    * as collect_list of (order-key, value) structs sorted by the key
    * (`__row` = row order via monotonically_increasing_id, `__pos` =
    * element position within the cell). `na_rep` substitutes missing
    * values instead of dropping them (pandas Series.str.cat contract,
    * reference-executed 2026-08-15). */
  private def catAggCol(r: Reduction, nested: Boolean)
      : org.apache.spark.sql.Column = {
    val ord =
      if (nested) "named_struct('r', __row, 'p', __pos)"
      else "named_struct('r', __row)"
    val v = r.catNaRep match {
      case Some(rep) => s"coalesce((${r.sqlE}), ${sq(rep)})"
      case None      => s"(${r.sqlE})"
    }
    expr(s"array_join(transform(array_sort(collect_list(" +
      s"case when ($v) is not null then named_struct('o', $ord, 'v', ($v)) " +
      s"end)), __p -> __p.v), ${sq(r.catSep)})").as(r.name)
  }

  /** Attach the helper columns for an expression's GLOBAL reductions —
    * LAZILY: one explode+aggregate per referenced nest computes EVERY
    * reduction of that nest in a single pass (they share the exploded
    * scan), joined back as a broadcast single-row cross join. Building an
    * eval/query plan therefore never runs a Spark job (until round 9 each
    * occurrence ran one eager distributed agg at parse time and spliced
    * the value as a literal), and Catalyst can reuse/cache the scan.
    * Pandas edge (documented divergence, unchanged from the eager path):
    * over an empty/all-null column pandas yields NaN for mean/median/std
    * where SQL aggregation yields NULL. */
  private def withReductions(df: DataFrame, reds: Seq[Reduction]): DataFrame = {
    // helpers already attached (by eval's cross-line hoist) are skipped —
    // content-hashed names make the two analyze passes agree
    val pending = reds.distinct.filterNot(r => df.columns.contains(r.name))
    if (pending.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{broadcast, explode,
        monotonically_increasing_id, posexplode}
      pending.groupBy(_.nest).toSeq.sortBy(_._1).foldLeft(df) {
        case (acc, (nest, rs)) =>
          // base/dt-derived reductions aggregate the frame directly
          // (no explode); nested ones share one exploded scan per nest.
          // A `cat` reduction needs the frame's row order (and element
          // position) carried through — str.cat joins in index order.
          val needOrd = rs.exists(_.agg == "cat")
          val ordered =
            if (needOrd) df.withColumn("__row", monotonically_increasing_id())
            else df
          val src =
            if (nest.isEmpty) ordered
            else if (needOrd) ordered.select(col("__row"),
              posexplode(col(bq(nest))).as(Seq("__pos", "__e")))
            else ordered.select(explode(col(bq(nest))).as("__e"))
          val aggCols = rs.map { r =>
            if (r.agg == "cat") catAggCol(r, nested = nest.nonEmpty)
            else {
              // resolve the value type lazily (no job) to decide whether
              // the NaN→NULL skipna rewrite applies — only floating types
              // have NaN
              val vType = src.select(expr(r.sqlE)).schema.head.dataType
              val floating = vType == org.apache.spark.sql.types.DoubleType ||
                vType == org.apache.spark.sql.types.FloatType
              reductionAggCol(r.sqlE, r.agg, floating).as(r.name)
            }
          }
          acc.crossJoin(broadcast(src.agg(aggCols.head, aggCols.tail: _*)))
      }
    }
  }

  /** PER-CELL element reduction as a row-level Column — an ENGINE
    * EXTENSION (the reference's eval reductions are global; there is no
    * per-cell reduction in its dialect). Same narrow array-expression
    * core the dialect used before round 8: no shuffle, no explode.
    * NULLs are filtered; a literal NaN element PARTICIPATES (Spark HOF
    * semantics) — unlike the GLOBAL reductions, which are pandas-parity
    * skipna (no pandas analog exists here to diverge from). */
  def elementReduction(nest: String, field: String, agg: String)
      : org.apache.spark.sql.Column = {
    require(reductionAggs.contains(agg),
      s"unknown element reduction '$agg' (supported: " +
        s"${reductionAggs.toSeq.sorted.mkString(", ")})")
    // native kernel loop (StructFieldReduce) — one compiled pass per row,
    // bit-identical to the HOF/let-binding SQL it replaces (the SQL form
    // is the test-scope CrossCheck.reductionSql: FieldReduceSpec replays
    // both on fuzzed cells and asserts exact equality)
    graft.expressions.native.field_reduce(col(bq(nest)), field, agg)
  }

  /** Parse result: rewritten SQL + the nests referenced at element level (in
    * first-reference order, distinct) + whether base columns are referenced
    * + the global reductions the SQL references as helper columns (attach
    * with [[withReductions]], drop the helper names after consuming). */
  private case class Analysis(sql: String, nests: Seq[String],
                              usesBase: Boolean,
                              reductions: Seq[Reduction] = Nil) {
    def helperNames: Seq[String] = reductions.map(_.name)
  }


  /** sqlE adjustment for a dt-derived GLOBAL reduction: pandas treats
    * boolean `is_*` attrs as numeric under aggregation (mean = fraction
    * of true, sum = count of true) where Spark rejects avg(boolean) —
    * cast to int ALWAYS, so the helper composes with arithmetic
    * (`is_leap_year.max() + 1` is 2 in pandas — bool is duck-numeric);
    * a BARE `is_*.min()/max()` use converts back to BOOLEAN at the
    * splice (pandas keeps the bool dtype there: min() is False, not 0 —
    * executed 2026-08-15). `.dt.date` aggregates only where dates order
    * (min/max/count); the rest raise (r9 s4 review). */
  /** Splice-site reference to a reduction helper: a BARE boolean-attr
    * min/max converts the int helper back to boolean (see
    * [[bareReductionUse]]); a NULL helper stays NULL through `= 1`. */
  private def boolReductionRef(name: String, attr: String, agg: String,
                               bare: Boolean): String =
    if (bare && attr.startsWith("is_") && (agg == "min" || agg == "max"))
      s"(${bq(name)} = 1)"
    else bq(name)

  private def dtReduceCast(attr: String, sqlE: String, agg: String,
                           exprStr: String): String =
    if (attr.startsWith("is_")) s"cast($sqlE as int)"
    else if (attr == "date" && !Set("min", "max", "count").contains(agg))
      throw new IllegalArgumentException(
        s".dt.date.$agg() is not supported (date-valued attributes " +
          s"aggregate with min/max/count) in: $exprStr")
    else sqlE

  /** Parse + classify + render: the single pipeline behind query/eval.
    * `ref(nest, field)` renders an element-level reference to a nested
    * field; the default targets a single-lambda-variable context.
    * Cross-nest callers pass a renderer that distinguishes the anchor
    * nest (`__x`) from other nests (positional `nest[__i]` access). */
  // The dialect renders some methods as graft-native SQL functions
  // (`graft_wrap`); make them resolvable in whatever session the frame
  // lives in. Probed via the session's own function registry rather
  // than a static session set — a retained SparkSession reference would
  // pin short-lived newSession() states for the process lifetime.
  private def ensureFunctions(df: DataFrame): Unit = {
    val reg = df.sparkSession.sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_wrap")))
      graft.GraftExtensions.register(df.sparkSession)
  }

  private def analyze(df: DataFrame, exprStr: String,
                      ref: (String, String) => String): Analysis = {
    ensureFunctions(df)
    val nestSet = NestedOps.nestedColumns(df).toSet
    val baseSet = NestedOps.baseColumns(df).toSet
    // string- AND timestamp-typed fields: both compare 2-valued on NA
    // (reference-executed; see cmpIsElement)
    val twoValuedElemRefs: Set[String] = df.schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case ArrayType(s: StructType, _) =>
          s.fields.toSeq.collect {
            case sf if sf.dataType == StringType ||
              sf.dataType == TimestampType ||
              sf.dataType == TimestampNTZType =>
              s"${f.name}.${sf.name}"
          }
        case _ => Nil
      }
    }.toSet
    // plain STRING base columns — pandas object-dtype None MATCHES a None
    // value in `isin` while float NaN and NaT match nothing (r10 probes)
    val stringBaseCols: Set[String] = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }.toSet
    val ctx = new Ctx(nestSet, baseSet, twoValuedElemRefs, stringBaseCols,
      df, ref, exprStr)
    val ast = new ExprParser(exprStr).parse()
    @annotation.tailrec
    def strip(a: ExprAst.Ast): ExprAst.Ast = a match {
      case ExprAst.Paren(i, Nil) => strip(i)
      case x => x
    }
    ctx.bareNode = strip(ast) match {
      case pc: ExprAst.PathCall if pc.trailers.isEmpty => pc
      case _ => null
    }
    val r = renderAst(ast, ctx)
    Analysis(r.sql, ctx.nests.toSeq, ctx.usesBase, ctx.reds.values.toSeq)
  }

  /** Test hook: the final Spark SQL the pipeline renders for `exprStr`
    * against `df`'s schema (element refs via the default `__x` lambda). */
  private[graft] def renderedSql(df: DataFrame, exprStr: String): String =
    analyze(df, exprStr, "__x").sql

  private def intLit(a: String): Option[Int] = {
    val t = a.trim
    if (t.matches("[+-]?\\d+")) Some(t.toInt) else None
  }

  private val kwargRe = """^([A-Za-z_]\w*)\s*=(?!=)\s*(.+)$""".r

  /** Literal single-quoted/double-quoted SQL string content, if `a` is one. */
  private def strLitContent(a: String): Option[String] = {
    val t = a.trim
    if (t.length >= 2 && (t.head == '\'' || t.head == '"') &&
        t.last == t.head) Some(t.substring(1, t.length - 1))
    else None
  }

  private val regexSpecials = "\\^$.|?*+()[]{}"

  /** Render one `.str.method(args)` over the SQL expression `x`.
    * `arrayInput` is true when x is the ARRAY result of a preceding
    * `.str.split` in the same chain (pandas Series.str works on lists of
    * strings too: len → list length, get → element).
    * Returns (sql, resultIsArray). Pandas parity notes inline; NULL inputs
    * propagate NULL through every composite (concat/repeat/substring are
    * all NULL-strict). */
  private def renderStrMethod(m: String, x: String, args: Seq[String],
      arrayInput: Boolean, exprStr: String): (String, Boolean) = {
    def req(n: Int): Unit = require(args.length == n,
      s".str.$m expects $n argument(s), got ${args.length} in: $exprStr")
    def fillArg(pos: Int, default: String = "' '"): String =
      if (args.length > pos) {
        strLitContent(args(pos)).foreach { c =>
          require(c.length == 1,
            s".str.$m fillchar must be exactly one character in: $exprStr")
        }
        args(pos)
      } else default
    // non-truncating pad amount (pandas rjust/ljust/zfill/pad never
    // truncate strings already >= width, unlike SQL lpad/rpad)
    def padN(w: String) = s"greatest(($w) - length($x), 0)"
    if (arrayInput && m != "get" && m != "len" && m != "join")
      throw new IllegalArgumentException(
        s".str.$m after .str.split is not supported (supported on list " +
          s"results: get, len, join) in: $exprStr")
    m match {
      // str.join: list receiver (post-split) joins the pieces; a plain
      // string receiver joins its CHARACTERS ('abc' → 'a-b-c'), pandas
      // semantics. On the nested layer the reference itself raises (a
      // reindex artifact of its flat .str path); graft computes the
      // obvious semantics — acceptance divergence in graft's favor,
      // same family as n.t.dt.date (PARITY.md).
      case "join" =>
        req(1)
        require(strLitContent(args.head).isDefined,
          s".str.join expects a string-literal separator in: $exprStr")
        // Char join via split('') + array_join so the separator flows
        // through the SAME SQL-literal path as every other .str argument
        // (a regexp_replace replacement would add a second, Java-Matcher
        // escaping layer: '$'/backslash/quote separators broke there).
        // Java's regex split on the empty pattern advances per CODE
        // POINT, so surrogate pairs stay intact, matching python's
        // per-character join.
        if (arrayInput) (s"array_join($x, ${args.head})", false)
        else (s"array_join(split($x, ''), ${args.head})", false)
      // ---- `.dt` methods routed through the marker machinery ----
      // date_trunc returns a session-zoned timestamp even for NTZ input;
      // cast back to NTZ — pandas naive datetime64 is zone-free, and the
      // engine pins spark.sql.session.timeZone=UTC so the NTZ->LTZ->NTZ
      // round-trip is wall-clock-exact
      case "dtbnormalize" | "dtenormalize" =>
        require(args.isEmpty,
          s".dt.normalize expects no arguments in: $exprStr")
        (s"cast(date_trunc('DAY', $x) as timestamp_ntz)", false)
      case "dtbstrftime" | "dtestrftime" =>
        require(args.length == 1,
          s".dt.strftime expects 1 argument in: $exprStr")
        val fmt = strLitContent(args.head).getOrElse(
          throw new IllegalArgumentException(
            s".dt.strftime expects a string-literal format in: $exprStr"))
        val pat = strftimeToJava(fmt, exprStr, arrow = m == "dtestrftime")
        (s"date_format($x, '${pat.replace("'", "''")}')", false)
      // floor/ceil/round: epoch-anchored multiples of a FIXED freq, pandas
      // semantics (multiples like '15min' accepted). Round ties are
      // LAYER-SPLIT (r10 alt-seed fuzz + probe): numpy base rounds
      // HALF-TO-EVEN against the multiple index (00:30.round('h') → 00:00
      // but 01:30 → 02:00), the arrow element layer rounds HALF-UP
      // (both → next hour). Integer micros arithmetic — exact for all
      // units, pre-epoch (negative micros) included via pmod's
      // non-negative remainder; the tie test compares 2·rem vs the unit
      // so odd-µs multiples can't fake a tie. NULL propagates through
      // unix_micros.
      case "dtbfloor" | "dtefloor" | "dtbceil" | "dteceil" |
           "dtbround" | "dteround" =>
        val meth = m.drop(3)
        require(args.length == 1,
          s".dt.$meth expects 1 argument in: $exprStr")
        val freq = strLitContent(args.head).getOrElse(
          throw new IllegalArgumentException(
            s".dt.$meth expects a string-literal freq in: $exprStr"))
        val u = freqMicros(freq, meth, exprStr)
        val mi = s"unix_micros(cast($x as timestamp))"
        val fl = s"($mi - pmod($mi, ${u}L))"
        val micros = meth match {
          case "floor" => fl
          case "ceil"  => s"($mi + pmod(-$mi, ${u}L))"
          case _ if m.startsWith("dte") => // arrow round: half-UP
            s"(case when 2 * pmod($mi, ${u}L) >= ${u}L then $fl + ${u}L " +
              s"else $fl end)"
          case _ => // numpy round: half-to-even multiple
            s"(case when 2 * pmod($mi, ${u}L) < ${u}L then $fl " +
              s"when 2 * pmod($mi, ${u}L) > ${u}L then $fl + ${u}L " +
              s"else $fl + pmod($fl div ${u}L, 2L) * ${u}L end)"
        }
        (s"cast(timestamp_micros($micros) as timestamp_ntz)", false)
      // day_name/month_name: date_format's root locale is English, the
      // pandas locale=None default; an explicit locale argument raises
      // (JVM locale tables diverge from glibc's — no silent mismatch)
      case "dtbday_name" | "dteday_name" |
           "dtbmonth_name" | "dtemonth_name" =>
        val meth = m.drop(3)
        require(args.isEmpty,
          s".dt.$meth: the locale argument is not supported in: $exprStr")
        val pat = if (meth == "day_name") "EEEE" else "MMMM"
        (s"date_format($x, '$pat')", false)
      // as_unit: precision TRUNCATION (probe: .1239 as_unit('ms') → .123,
      // not rounded); Spark storage stays µs either way, so 'us'/'ns' are
      // identity and 'ms'/'s' zero the sub-unit digits
      case "dtbas_unit" | "dteas_unit" =>
        require(args.length == 1,
          s".dt.as_unit expects 1 argument in: $exprStr")
        val unit = strLitContent(args.head).getOrElse(
          throw new IllegalArgumentException(
            s".dt.as_unit expects a string-literal unit in: $exprStr"))
        unit match {
          case "ns" | "us" => (s"($x)", false)
          case "ms" | "s" =>
            val u = if (unit == "ms") 1000L else 1000000L
            val mi = s"unix_micros(cast($x as timestamp))"
            (s"cast(timestamp_micros($mi - pmod($mi, ${u}L)) " +
              s"as timestamp_ntz)", false)
          case other => throw new IllegalArgumentException(
            s".dt.as_unit: unsupported unit '$other' " +
              s"(supported: s, ms, us, ns) in: $exprStr")
        }
      case _ if strSimple.contains(m) =>
        val fn = strSimple(m)
        val nArgs = m match {
          case "startswith" | "endswith" | "contains" => 1
          case "replace" => 2
          case _ => 0
        }
        req(nArgs)
        (s"$fn(${(x +: args).mkString(", ")})", false)
      case _ if strPredicates.contains(m) =>
        req(0); (s"(${strPredicates(m)(x)})", false)
      // python str.title: a letter FOLLOWING A NON-LETTER is uppercased,
      // any other letter lowercased — words break on every non-letter
      // ('1a2b3' → '1A2B3', 'x,y' → 'X,Y'), unlike initcap, which only
      // breaks on whitespace and was the r9 differential fuzzer's first
      // .str divergence. The outer transform(array(...)) is the
      // let-binding idiom: the char split is computed once.
      case "title" =>
        req(0)
        val isL = (c: String) => s"regexp_like($c, '^\\\\p{L}$$')"
        (s"element_at(transform(array(split($x, '')), __tt -> " +
          s"array_join(transform(__tt, (__tc, __ti) -> " +
          s"case when ${isL("__tc")} then " +
          s"case when __ti = 0 or not ${isL("element_at(__tt, __ti)")} " +
          s"then upper(__tc) else lower(__tc) end " +
          s"else __tc end), '')), 1)", false)
      // pandas capitalize: first char upper, REST lower (initcap would
      // touch every word)
      case "capitalize" =>
        req(0)
        (s"concat(upper(substring($x, 1, 1)), lower(substring($x, 2)))",
          false)
      case "len" =>
        req(0); (if (arrayInput) s"size($x)" else s"length($x)", false)
      case "rjust" | "ljust" =>
        require(args.nonEmpty && args.length <= 2,
          s".str.$m expects width[, fillchar] in: $exprStr")
        val w = args(0); val f = fillArg(1)
        val pad = s"repeat($f, ${padN(w)})"
        (if (m == "rjust") s"concat($pad, $x)" else s"concat($x, $pad)",
          false)
      case "zfill" =>
        // python str.zfill: '0'-pad on the left, but a leading +/- sign
        // stays in front of the padding ('-1'.zfill(3) == '-01')
        req(1)
        val w = args(0)
        val z = s"repeat('0', ${padN(w)})"
        ((s"(case when substring($x, 1, 1) in ('+', '-') then " +
          s"concat(substring($x, 1, 1), $z, substring($x, 2)) " +
          s"else concat($z, $x) end)"), false)
      case "wrap" =>
        // pandas Series.str.wrap(width, **textwrap_kwargs) → the native
        // TextWrap expression (exact CPython textwrap defaults). Any
        // non-default knob raises — never a silent approximation.
        require(args.nonEmpty, s".str.wrap expects width in: $exprStr")
        var width: Option[String] = None
        args.foreach { a =>
          kwargRe.findFirstMatchIn(a) match {
            case Some(mm) => mm.group(1) match {
              case "width" if width.isEmpty => width = Some(mm.group(2))
              case other => throw new IllegalArgumentException(
                s".str.wrap supports only default textwrap knobs " +
                  s"(keyword '$other' rejected) in: $exprStr")
            }
            case None =>
              require(width.isEmpty,
                s".str.wrap: too many arguments in: $exprStr")
              width = Some(a)
          }
        }
        val w = width.get
        require(w.matches("""\d+""") && w.toInt >= 1,
          s".str.wrap expects a positive integer-literal width in: $exprStr")
        (s"graft_wrap($x, $w)", false)
      case "pad" | "center" =>
        // pandas pad(width, side='left', fillchar=' '); center ≡ side='both'
        require(args.nonEmpty,
          s".str.$m expects width[, side][, fillchar] in: $exprStr")
        var width: Option[String] = None
        var side: String = if (m == "center") "both" else "left"
        var fill: String = "' '"
        var pos = 0
        args.foreach { a =>
          kwargRe.findFirstMatchIn(a) match {
            case Some(mm) => mm.group(1) match {
              case "width" => width = Some(mm.group(2))
              case "side" if m == "pad" =>
                side = strLitContent(mm.group(2)).getOrElse(
                  throw new IllegalArgumentException(
                    s".str.pad side must be a string literal in: $exprStr"))
              case "fillchar" => fill = mm.group(2)
              case other => throw new IllegalArgumentException(
                s".str.$m got unexpected keyword '$other' in: $exprStr")
            }
            case None =>
              (pos, m) match {
                case (0, _) => width = Some(a)
                case (1, "pad") => side = strLitContent(a).getOrElse(
                  throw new IllegalArgumentException(
                    s".str.pad side must be a string literal in: $exprStr"))
                case (1, "center") => fill = a
                case (2, "pad") => fill = a
                case _ => throw new IllegalArgumentException(
                  s".str.$m: too many arguments in: $exprStr")
              }
              pos += 1
          }
        }
        strLitContent(fill).foreach { c =>
          require(c.length == 1,
            s".str.$m fillchar must be exactly one character in: $exprStr")
        }
        val w = width.getOrElse(throw new IllegalArgumentException(
          s".str.$m requires width in: $exprStr"))
        val d = padN(w)
        side match {
          case "left"  => (s"concat(repeat($fill, $d), $x)", false)
          case "right" => (s"concat($x, repeat($fill, $d))", false)
          case "both" =>
            // python str.center: left = marg//2 + (marg & width & 1) —
            // the extra fill char goes LEFT only when both the margin
            // and the requested width are odd (CPython's parity quirk)
            val l = s"((($d) div 2) + ((($d) % 2) * (($w) % 2)))"
            (s"concat(repeat($fill, $l), $x, " +
              s"repeat($fill, ($d) - $l))", false)
          case other => throw new IllegalArgumentException(
            s".str.pad side must be left/right/both, got '$other' in: " +
              exprStr)
        }
      case "count" =>
        // pandas str.count: pat is a REGEX, non-overlapping matches
        req(1)
        (s"size(regexp_extract_all($x, ${args(0)}, 0))", false)
      case "removeprefix" | "removesuffix" =>
        // python 3.9 semantics: strip AT MOST ONE occurrence, only at
        // the boundary; unchanged when absent
        req(1)
        val p = args(0)
        if (m == "removeprefix")
          ((s"(case when startswith($x, $p) then " +
            s"substring($x, length($p) + 1) else $x end)"), false)
        else
          ((s"(case when endswith($x, $p) then " +
            s"substring($x, 1, length($x) - length($p)) else $x end)"),
            false)
      case "repeat" =>
        req(1)
        (s"repeat($x, ${args(0)})", false)
      case "swapcase" =>
        // per-char case flip: non-cased chars satisfy c = lower(c) and
        // upper(c) = c, so they pass through unchanged
        req(0)
        ((s"array_join(transform(filter(split($x, ''), __c -> " +
          s"__c <> ''), __c -> case when __c = lower(__c) " +
          s"then upper(__c) else lower(__c) end), '')"), false)
      case "extract" =>
        // pandas extract(pat, expand=False) with ONE group: first-match
        // group value, NaN (NULL) when the pattern does not match
        // anywhere (rlike is an unanchored search, like re.search)
        req(1)
        ((s"(case when $x rlike ${args(0)} then " +
          s"regexp_extract($x, ${args(0)}, 1) else null end)"), false)
      case "find" =>
        // lowest index of LITERAL sub, -1 if absent (instr is 1-based,
        // 0 when absent); start/end args unsupported → raise via req
        req(1)
        (s"(instr($x, ${args(0)}) - 1)", false)
      case "get" =>
        req(1)
        val i = intLit(args(0)).getOrElse(
          throw new IllegalArgumentException(
            s".str.get expects a literal int index in: $exprStr"))
        if (arrayInput) {
          // spark get() is 0-based and NULL (like pandas NaN) out of
          // bounds or for a still-negative normalized index
          val idx = if (i >= 0) i.toString else s"size($x) + ($i)"
          (s"get($x, $idx)", false)
        } else if (i >= 0)
          // substring past the end yields '' → NULL, matching pandas NaN
          (s"nullif(substring($x, ${i + 1}, 1), '')", false)
        else
          ((s"(case when length($x) + ($i) < 0 then null " +
            s"else nullif(substring($x, length($x) + ($i) + 1, 1), '') " +
            s"end)"), false)
      case "slice" =>
        // python s[start:stop:step] with literal-int bounds; bounds
        // normalized python-style against len. Positive steps render as a
        // char-gather over sequence() (r10 — the reference accepts step;
        // negative steps stay a documented raise).
        require(args.length <= 3,
          s".str.slice expects start[, stop[, step]] in: $exprStr")
        var start: Option[Int] = None; var stop: Option[Int] = None
        var step = 1
        var pos = 0
        args.foreach { a =>
          def asInt(v: String, what: String): Int = intLit(v).getOrElse(
            throw new IllegalArgumentException(
              s".str.slice $what must be a literal int in: $exprStr"))
          def setStep(v: String): Unit = {
            step = asInt(v, "step")
            require(step >= 1,
              s".str.slice step must be a positive int (negative/zero " +
                s"steps are not supported) in: $exprStr")
          }
          kwargRe.findFirstMatchIn(a) match {
            case Some(mm) => mm.group(1) match {
              case "start" => start = Some(asInt(mm.group(2), "start"))
              case "stop"  => stop = Some(asInt(mm.group(2), "stop"))
              case "step"  => setStep(mm.group(2))
              case other => throw new IllegalArgumentException(
                s".str.slice got unexpected keyword '$other' in: $exprStr")
            }
            case None =>
              pos match {
                case 0 => start = Some(asInt(a, "start"))
                case 1 => stop = Some(asInt(a, "stop"))
                case 2 => setStep(a)
                case _ => ()
              }
              pos += 1
          }
        }
        def norm(i: Int): String =
          if (i >= 0) s"least($i, length($x))"
          else s"greatest(length($x) + ($i), 0)"
        val s0 = start.map(norm).getOrElse("0")
        val s1 = stop.map(norm).getOrElse(s"length($x)")
        if (step == 1)
          (s"substring($x, ($s0) + 1, greatest(($s1) - ($s0), 0))", false)
        else
          // every step-th char of s[s0:s1]; empty range → '' (matches
          // pandas); NULL input needs an explicit guard (array_join over
          // the NULL sequence renders '' rather than NULL)
          ((s"(case when $x is null then null " +
            s"when ($s1) - ($s0) <= 0 then '' " +
            s"else array_join(transform(" +
            s"sequence($s0, ($s1) - 1, $step), " +
            s"__si -> substring($x, __si + 1, 1)), '') end)"), false)
      case "split" =>
        // pandas str.split: no pat → python whitespace split (unicode ws,
        // empties dropped); 1-char pat → literal; longer pat → regex
        // (the pandas regex=None rule)
        require(args.length <= 1,
          s".str.split supports at most a pat argument in: $exprStr")
        if (args.isEmpty)
          (s"filter(split($x, '(?U)\\\\s+'), __sp -> __sp <> '')", true)
        else strLitContent(args(0)) match {
          case Some(c) if c.length == 1 =>
            val esc =
              if (regexSpecials.contains(c.head)) "\\\\" + c else c
            (s"split($x, '$esc')", true)
          case Some(_) => (s"split($x, ${args(0)})", true)
          case None => throw new IllegalArgumentException(
            s".str.split pat must be a string literal in: $exprStr")
        }
      // pandas rsplit with no maxsplit IS split (reference-executed r9
      // probe); a maxsplit argument would differ and raises loudly
      case "rsplit" =>
        require(args.length <= 1,
          s".str.rsplit with maxsplit is not supported (rsplit without " +
            s"maxsplit equals split; right-counted maxsplit has no Spark " +
            s"analog) in: $exprStr")
        renderStrMethod("split", x, args, arrayInput, exprStr)
      // re.findall: all non-overlapping FULL matches. Python returns
      // group CONTENTS when the pattern has capturing groups — that
      // form would silently diverge, so it raises (use (?:...)).
      case "findall" =>
        req(1)
        strLitContent(args(0)).foreach { pat =>
          // capture-group detection must count BACKSLASH-RUN PARITY: an
          // even run before '(' leaves it a metacharacter ('\\\\(' is an
          // escaped backslash THEN a group), an odd run escapes it
          val hasCapture =
            """(?<!\\)(?:\\\\)*\((?!\?)""".r.findFirstIn(pat).isDefined
          require(!hasCapture,
            s".str.findall with a CAPTURING group returns group contents " +
              s"in pandas but full matches here — use a non-capturing " +
              s"(?:...) group in: $exprStr")
        }
        (s"regexp_extract_all($x, ${args(0)}, 0)", true)
      // re.match / re.fullmatch: anchored at start / fully anchored.
      // concat of literals folds, so the pattern stays a constant.
      case "match" =>
        req(1)
        (s"regexp_like($x, concat('^(?:', ${args(0)}, ')'))", false)
      case "fullmatch" =>
        req(1)
        (s"regexp_like($x, concat('^(?:', ${args(0)}, ')$$'))", false)
      // pandas slice_replace(start, stop, repl) = x[:start] + repl + x[stop:]
      case "slice_replace" =>
        req(3)
        Seq(0, 1).foreach { p =>
          intLit(args(p)).foreach(v => require(v >= 0,
            s".str.slice_replace supports non-negative bounds in: $exprStr"))
        }
        // pandas clamps stop to at least start (slice_replace(2, 1, r)
        // INSERTS at 2, it does not duplicate s[1:2] — r10 alt-seed fuzz)
        (s"concat(substring($x, 1, ${args(0)}), ${args(2)}, " +
          s"substring($x, greatest(${args(0)}, ${args(1)}) + 1))", false)
      case other => strUnsupported(other, exprStr)
    }
  }

  private def analyze(df: DataFrame, exprStr: String,
                      lambdaVar: String): Analysis =
    analyze(df, exprStr, (_: String, f: String) => s"$lambdaVar.${bq(f)}")

  /** Two-level `query`. Base-layer expr → row filter; single-nest expr →
    * element filter keeping all rows. Mixing layers or nests → error, same as
    * the reference (core.py:1610-1614). */
  def query(df: DataFrame, exprStr: String): DataFrame = {
    val a = analyze(df, exprStr, "__x")
    val dfR = withReductions(df, a.reductions)
    if (a.nests.isEmpty) dfR.where(expr(a.sql)).drop(a.helperNames: _*)
    else {
      require(a.nests.size == 1,
        s"Query expression references multiple nests ${a.nests.mkString(", ")}; " +
          "only one nest per expression is supported")
      require(!a.usesBase,
        "Query expression mixes base columns and nested fields; " +
          "only one layer per expression is supported")
      val nest = a.nests.head
      // Emptied cells become NULL, not empty arrays: the reference repacks
      // the filtered flat rep and assigns by index, so rows whose every
      // element was dropped are MISSING from the packed series → pd.NA
      // (core.py:1638-1648 _set_filtered_flat_df). This is what makes the
      // `query(...)` → `dropna(subset=nest)` idiom drop them (the dropna
      // docstring's own example). The accessor-level element MASK nulls
      // emptied cells the same way (r9 executed probe — the r5 claim
      // that the accessor keeps empties was wrong;
      // [[NestedOps.filterElements]] now applies the same rule).
      // Gate on exists() rather than size(filter(...)) == 0: HOF lambdas
      // see no codegen CSE, so the when/otherwise pair would run the full
      // filter TWICE per row. exists short-circuits at the first hit, so
      // kept rows pay a partial scan + one filter, emptied rows one scan.
      val filtered = expr(s"filter(${bq(nest)}, __x -> ${a.sql})")
      val anyHit = expr(s"exists(${bq(nest)}, __x -> ${a.sql})")
      dfR.withColumn(nest, when(anyHit, filtered)).drop(a.helperNames: _*)
    }
  }

  /** Render the element-level RHS against an anchor nest: anchor fields come
    * from the lambda variable `__x`; fields of OTHER nests are read
    * positionally — `other[__i].f` — i.e. the reference's flat-index
    * alignment (element i of every RHS nest pairs with element i of the
    * anchor; core.py:284-340). Base columns stay outer row references
    * (broadcast per row). */
  private def analyzeAnchored(df: DataFrame, rhs: String,
                              anchor: String): Analysis =
    analyze(df, rhs, (n: String, f: String) =>
      if (n == anchor) s"__x.${bq(f)}" else s"${bq(n)}[__i].${bq(f)}")

  /** Element-aligned transform of `anchor` producing `named_struct($parts)`
    * per element, guarded so every OTHER referenced nest is element-aligned
    * with the anchor (same per-row length) — misalignment raises, as in the
    * reference. NULL anchor cells pass through as NULL. */
  private def alignedTransform(df: DataFrame, anchor: String,
                               others: Seq[String], parts: String)
      : org.apache.spark.sql.Column =
    alignedTransformRaw(df, anchor, others, s"named_struct($parts)")

  /** Like [[alignedTransform]] but with a raw per-element value body. */
  private def alignedTransformRaw(df: DataFrame, anchor: String,
                                  others: Seq[String], body: String)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{when, assert_true, lit, size => sz}
    val lambda = if (others.isEmpty) "__x ->" else "(__x, __i) ->"
    val transformed =
      expr(s"transform(${bq(anchor)}, $lambda $body)")
    if (others.isEmpty) transformed
    else {
      val aligned = others.map { o =>
        col(anchor).isNull || (sz(col(o)) === sz(col(anchor)))
      }.reduce(_ && _)
      // assert_true returns NULL when the condition holds and raises
      // otherwise — the `when` is always taken or the row errors out.
      when(assert_true(aligned,
        lit(s"eval: nests ${others.mkString(", ")} are not element-aligned " +
          s"with '$anchor'")).isNull, transformed)
    }
  }

  private def sq(s: String): String = s"'${s.replace("'", "\\'")}'"

  /** `eval` assignment dialect: `"target = rhs"`.
    *  - `nest.f = <expr>` → add/replace field f inside each element; the RHS
    *    may mix the target nest, OTHER nests (element-aligned on the flat
    *    index, like the reference), and base columns (broadcast per row)
    *    (core.py:284-340; test_nestedframe.py:2481-2530).
    *  - `newnest.f = <expr over ≥1 nests (+ base)>` → create a new nest
    *    element-aligned with the first referenced nest.
    *  - `name = <expr over base cols>` → plain withColumn; a nested-layer RHS
    *    is rejected (it would put element values "between" row labels).
    * One nesting level only: `nest.f.inner = ...` raises. */
  /** `lhs = rhs` splitter. The `=` must be a bare assignment operator:
    * the lookbehind keeps a comparison-only line like `a == b` from
    * matching on its SECOND `=` (lazy lhs swallows the first) and being
    * silently executed as `a = b` — it raises "Not an assignment"
    * instead, like pandas multiline eval does (r9 session-4 review).
    * Arithmetic/bitwise chars in the lookbehind reject AUGMENTED
    * assignment the same way (`a += 1` would otherwise silently run as
    * `a = 1`; the reference raises NotImplementedError 'AugAssign',
    * executed 2026-08-15); ':' rejects the walrus `a := b` (python ast
    * SyntaxError at statement level). */
  private val assignRe =
    """(?s)^\s*(.*?)\s*(?<![=!<>+\-*/%&|^~@:])=(?!=)\s*(.*)$""".r

  /** `keepHelpers`: reduction helper columns [[eval]] pre-attached whose
    * source column no line BEFORE this one writes — left in place so a
    * later line using the same reduction reuses the one agg instead of
    * re-attaching (eval's final sweep removes them); the moment a line
    * writes a helper's source column, eval's fold drops the helper,
    * which is what forces the post-write re-aggregation to see the new
    * values. */
  def evalAssign(df: DataFrame, stmt: String,
                 keepHelpers: Set[String] = Set.empty): DataFrame = {
    def dropHelpers(d: DataFrame, names: Seq[String]): DataFrame =
      d.drop(names.filterNot(keepHelpers): _*)
    stmt match {
      case assignRe(lhs, rhs) =>
        // the LHS must be EXACTLY one (possibly dotted/backticked)
        // identifier: subscript (`a[0] = 5`), tuple (`a, b = t`), starred
        // and annotated targets would otherwise silently collapse onto
        // the first identifier — pandas eval raises for all of them
        val target = ExprParser.lhsPath(lhs).getOrElse(
          throw new IllegalArgumentException(
            s"Bad assignment target: $lhs (must be a single column name)"))
        target match {
          case Seq(nest, field) if NestedOps.nestedColumns(df).contains(nest) =>
            // Existing nest: anchor the RHS on the TARGET nest.
            val a = analyzeAnchored(df, rhs, nest)
            val others = a.nests.filterNot(_ == nest)
            val existing = NestedOps.subColumns(df, nest)
            val fields = if (existing.contains(field)) existing
                         else existing :+ field
            val parts = fields.map { f =>
              val v = if (f == field) a.sql else s"__x.${bq(f)}"
              s"${sq(f)}, $v"
            }.mkString(", ")
            val dfR = withReductions(df, a.reductions)
            dropHelpers(
              dfR.withColumn(nest, alignedTransform(dfR, nest, others, parts)),
              a.helperNames)
          // New-nest creation (reference test_nestedframe.py:2448-2540):
          // `newnest.f = <expr>` builds newnest element-aligned with the
          // first nest the RHS references.
          case Seq(newNest, field) =>
            val a = analyzeAnchored(df, rhs,
              analyze(df, rhs, "__x").nests.headOption.getOrElse(""))
            require(a.nests.nonEmpty,
              s"Assignment to new nest '$newNest.$field' needs ≥1 nested " +
                s"reference on the RHS (got a base-only expression)")
            val anchor = a.nests.head
            val dfR = withReductions(df, a.reductions)
            dropHelpers(
              dfR.withColumn(newNest, alignedTransform(dfR, anchor,
                a.nests.tail, s"${sq(field)}, ${a.sql}")),
              a.helperNames)
          case Seq(name) =>
            val a = analyze(df, rhs, "__x")
            require(a.nests.isEmpty,
              s"Assignment of nested-layer expression to base column '$name'")
            dropHelpers(
              withReductions(df, a.reductions)
                .withColumn(name, expr(a.sql)),
              a.helperNames)
          case other => throw new IllegalArgumentException(
            s"Bad assignment target: ${other.mkString(".")} " +
              "(only one nesting level is supported)")
        }
      case _ => throw new IllegalArgumentException(s"Not an assignment: $stmt")
    }
  }

  /** Substitute pandas-style `@name` local-variable references with SQL
    * literals (strings quoted/escaped, numbers verbatim) — the reference's
    * `eval(..., local_dict)` environment resolution. */
  private def substituteLocals(exprStr: String,
                               locals: Map[String, Any]): String =
    if (locals.isEmpty) exprStr
    else """@([A-Za-z_][A-Za-z0-9_]*)""".r.replaceAllIn(exprStr, m => {
      val name = m.group(1)
      val v = locals.getOrElse(name, throw new IllegalArgumentException(
        s"Undefined local '@$name' in: $exprStr " +
          s"(locals: ${locals.keys.mkString(", ")})"))
      val sql = v match {
        case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
        case b: Boolean => b.toString
        case n: Number => n.toString
        case other => throw new IllegalArgumentException(
          s"Unsupported local type for '@$name': ${other.getClass}")
      }
      scala.util.matching.Regex.quoteReplacement(sql)
    })

  /** Multi-statement eval: one assignment per non-empty line, executed in
    * order — line N sees every column line N−1 created OR modified, on
    * both layers (the reference's `inplace=True` multiline contract, the
    * one its GH#159 test pins, test_nestedframe.py:2512-2530; the
    * reference's `inplace=False` DEFAULT freezes the nested layer
    * per-line — created fields raise on later lines, modified fields
    * evaluate against pre-eval values — a pandas-env artifact we do not
    * mirror, PARITY.md r9 session 4). `locals` resolves pandas-style
    * `@name` references to literals.
    *
    * Global reductions are BATCHED ACROSS LINES: each line's own
    * withReductions would replay the frame's upstream plan in a separate
    * broadcast agg, so a pre-pass analyzes every RHS against the ORIGINAL
    * schema and attaches, in one agg per layer, every reduction whose
    * source column no earlier line writes. Safe because eval lines only
    * ADD columns (the row multiset never changes), so a reduction over an
    * unwritten column has the same value at line 1 as at line N. A
    * reduction over a column an earlier line creates or modifies is NOT
    * hoisted — that line's evalAssign attaches it as before (the
    * content-hashed helper names make both passes agree).
    *
    * `inplace = false` mirrors the reference's DEFAULT eval mode
    * (expr.py:77-128, r11): the NESTED layer is FROZEN per-line — every
    * line's nested reads (element refs AND global reductions) evaluate
    * against the PRE-eval frame, nested writes merge at the end, and a
    * nested field CREATED by an earlier line raises on read (the
    * reference's _NestResolver reflects the original frame). BASE
    * columns stay sequential in both modes (reference-executed probe
    * 2026-08-15: `a = a + 10` then `b = a * 2` sees the new a, while
    * `n.x = n.x + 100` then `n.y = n.x * 2` sees the OLD x). */
  def eval(df: DataFrame, program: String,
           locals: Map[String, Any] = Map.empty,
           inplace: Boolean = true): DataFrame = {
    val stmts = program.split('\n').map(_.trim)
      .filter(s => s.nonEmpty && !s.startsWith("#"))
      .map(substituteLocals(_, locals)).toSeq
    if (!inplace) return evalFrozen(df, stmts)
    var written = Set.empty[String]
    val hoisted = Seq.newBuilder[Reduction]
    for (stmt <- stmts) stmt match {
      case assignRe(lhs, rhs) =>
        // a line referencing columns created by EARLIER lines may fail
        // analysis against the original schema — skip hoisting for it
        scala.util.Try(analyze(df, rhs, "__x")).toOption.foreach { a =>
          hoisted ++= a.reductions.filterNot(r => written.contains(r.srcCol))
        }
        ExprParser.lhsPath(lhs).map(_.head).foreach(written += _)
      case _ => ()
    }
    // keep is computed PER LINE against only the writes that PRECEDE it
    // (ADVICE r10): two early lines sharing a reduction over a column only
    // a later line writes reuse one agg. A helper becomes invalid the
    // moment its source column is written — it is dropped at the next
    // flush point (whether or not the writing line consumed it), so any
    // later use re-aggregates and sees the written values
    val reds = hoisted.result().distinct
    def writesOf(stmt: String): Set[String] = stmt match {
      case assignRe(lhs, _) =>
        ExprParser.lhsPath(lhs).map(_.head).toSet
      case _ => Set.empty
    }

    // Consecutive assignments into ONE nest are FUSED into a single
    // transform: the per-line form nests one transform per assignment,
    // rebuilding every already-present field at every level — O(k²) field
    // materializations and k array allocations per row for a k-line
    // program (q_dialect_dt's 12-line program built each element struct
    // 12 times, and the toFlat explode re-ran the whole chain in its
    // inferred filter). Fusion accumulates `field -> SQL` with reads of
    // fields the group itself wrote inlined (sequential semantics), and
    // emits one transform at a flush point. Results are identical: same
    // fields in the same order, same per-element expressions, same
    // alignment guard. Flush points (falling back to the per-line path
    // for that statement): target switches to another nest / a base
    // column / fails to parse; a reduction reads a column the program
    // already wrote (it must re-aggregate against the materialized
    // frame); or the inlined SQL grows past a size cap.
    var acc = withReductions(df, reds)
    var writtenSoFar = Set.empty[String]
    // every helper known attached (hoisted + fused-attached): name -> srcCol
    val liveHelpers = scala.collection.mutable.LinkedHashMap.empty[String, String]
    reds.foreach(r => liveHelpers(r.name) = r.srcCol)
    var helpersToDrop = List.empty[String]

    var pNest: Option[String] = None
    var pAnchor = ""
    var pIsNew = false
    var pStartFields: Seq[String] = Nil
    val pParts = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val pOthers = scala.collection.mutable.ListBuffer.empty[String]

    def fusedColumn(): org.apache.spark.sql.Column = {
      val newFields = pParts.keys.filterNot(pStartFields.contains).toSeq
      val fields = pStartFields ++ newFields
      val parts = fields.map { f =>
        val v = pParts.getOrElse(f, s"__x.${bq(f)}")
        s"${sq(f)}, $v"
      }.mkString(", ")
      alignedTransform(acc, pAnchor,
        pOthers.distinct.filterNot(n => n == pAnchor || pNest.contains(n)).toSeq,
        parts)
    }
    def dropStale(): Unit = if (helpersToDrop.nonEmpty) {
      val present = helpersToDrop.filter(acc.columns.contains)
      if (present.nonEmpty) acc = acc.drop(present: _*)
      helpersToDrop = Nil
    }
    def flush(): Unit = {
      if (pNest.isDefined) {
        acc = acc.withColumn(pNest.get, fusedColumn())
        pNest = None; pAnchor = ""; pIsNew = false; pStartFields = Nil
        pParts.clear(); pOthers.clear()
      }
      dropStale()
    }
    def legacyLine(stmt: String): Unit = {
      flush()
      val keepNow = reds.filterNot(r => writtenSoFar.contains(r.srcCol))
        .map(_.name).toSet
      acc = evalAssign(acc, stmt, keepHelpers = keepNow)
    }

    for (stmt <- stmts) {
      stmt match {
        case assignRe(lhs, rhs) =>
          ExprParser.lhsPath(lhs) match {
            case Some(Seq(nest, field)) =>
              if (pNest.exists(_ != nest)) flush()
              val groupStart = pNest.isEmpty
              val existingNest =
                groupStart && NestedOps.nestedColumns(acc).contains(nest)
              if (groupStart) {
                if (existingNest) {
                  pAnchor = nest; pIsNew = false
                  pStartFields = NestedOps.subColumns(acc, nest)
                } else {
                  // new-nest creation: anchor on the first nest the RHS
                  // references (same rule as the per-line path)
                  val probe = analyze(acc, rhs, "__x")
                  require(probe.nests.nonEmpty,
                    s"Assignment to new nest '$nest.$field' needs ≥1 nested " +
                      s"reference on the RHS (got a base-only expression)")
                  pAnchor = probe.nests.head; pIsNew = true
                  pStartFields = Nil
                }
                pNest = Some(nest)
              }
              val tgt = nest
              val ref: (String, String) => String = (n, f) =>
                if (n == tgt && pParts.contains(f)) s"(${pParts(f)})"
                else if (n == pAnchor) s"__x.${bq(f)}"
                else s"${bq(n)}[__i].${bq(f)}"
              val view =
                if (pParts.isEmpty) acc
                else acc.withColumn(tgt, fusedColumn())
              val a = analyze(view, rhs, ref)
              val stale = a.reductions.filter(r =>
                writtenSoFar.contains(r.srcCol))
              if (stale.nonEmpty) {
                // a reduction over a written column must see the written
                // values: materialize, drop the stale helper, re-aggregate
                if (groupStart) { pNest = None; pAnchor = ""; pIsNew = false
                  pStartFields = Nil }
                helpersToDrop ++= stale.map(_.name)
                legacyLine(stmt)
              } else {
                val unattached = a.reductions
                  .filterNot(r => acc.columns.contains(r.name))
                if (unattached.nonEmpty) {
                  acc = withReductions(acc, unattached)
                  unattached.foreach(r => liveHelpers(r.name) = r.srcCol)
                }
                pParts(field) = a.sql
                pOthers ++= a.nests.filterNot(n => n == pAnchor || n == tgt)
                // bound the inlining blowup on pathological chains
                if (pParts.valuesIterator.map(_.length).sum > 100000) flush()
              }
            case _ => legacyLine(stmt)
          }
        case _ => legacyLine(stmt)
      }
      val wr = writesOf(stmt)
      writtenSoFar ++= wr
      val invalid = liveHelpers.collect {
        case (name, src) if wr.contains(src) => name }.toList
      if (invalid.nonEmpty) {
        invalid.foreach(liveHelpers.remove)
        helpersToDrop ++= invalid
        if (pNest.isEmpty) dropStale()
      }
    }
    flush()
    val out = acc
    // hoisted helpers a line's own analysis didn't resolve to (or that no
    // line consumed) are engine-internal — drop any leftovers
    val leftovers = out.columns.filter(_.startsWith("__graft_red_"))
    if (leftovers.isEmpty) out else out.drop(leftovers.toIndexedSeq: _*)
  }

  /** The reference's `inplace=False` multiline contract (see [[eval]]):
    * nested reads frozen to the pre-eval frame, nested writes staged in
    * pending columns and merged at the end, base columns sequential.
    * Every nested read renders POSITIONALLY against the ORIGINAL nest
    * column (`nest[__i].f`) while the write target's transform iterates
    * the staged current version — so `n.x = n.x + 100` followed by
    * `n.x = n.x * 2` yields frozen-x·2, and `n.y = n.x * 2` after a
    * write of x still reads the frozen x (reference-executed probes).
    * Reductions are naturally hoistable: frozen sources never change, so
    * helpers attach once and are reused by every line. */
  private def evalFrozen(df: DataFrame, stmts: Seq[String]): DataFrame = {
    val origNests = NestedOps.nestedColumns(df).toSet
    def pendName(n: String) = s"__graft_pend_$n"
    val frozenRef: (String, String) => String =
      (n, f) => s"${bq(n)}[__i].${bq(f)}"
    // Per-nest FUSED pending state: every nested read is frozen
    // (positional against the ORIGINAL columns), so all writes into one
    // nest compose into a single transform — `field -> SQL` with
    // last-write-wins — instead of one transform layer per line (the
    // per-line form rebuilt every already-present field at every layer;
    // see [[eval]]'s fusion note). `startFields` snapshots the field list
    // of the anchor at group start (original nest fields, or the staged
    // fields after a base-write flush); `others` accumulates every nest
    // read positionally, anchor included, because positional `nest[__i]`
    // reads need the (__x, __i) lambda.
    case class Pend(anchor: String,
                    startFields: Seq[String],
                    parts: collection.mutable.LinkedHashMap[String, String],
                    others: collection.mutable.ListBuffer[String])
    val pending = collection.mutable.LinkedHashMap.empty[String, Pend]
    var acc = df
    def fusedColumn(p: Pend): org.apache.spark.sql.Column = {
      val newFields = p.parts.keys.filterNot(p.startFields.contains).toSeq
      val fields = p.startFields ++ newFields
      val parts = fields.map { f =>
        val v = p.parts.getOrElse(f, s"__x.${bq(f)}")
        s"${sq(f)}, $v"
      }.mkString(", ")
      alignedTransform(acc, p.anchor, p.others.distinct.toSeq, parts)
    }
    // Base-column assignments bind SEQUENTIALLY (reference probe
    // 2026-08-15), so pending SQL that may reference a base column must
    // be staged into the pend column BEFORE the base write rebinds it —
    // exactly where the per-line form staged every line.
    def stageAll(): Unit =
      pending.keys.toSeq.foreach { nest =>
        val p = pending(nest)
        if (p.parts.nonEmpty) {
          acc = acc.withColumn(pendName(nest), fusedColumn(p))
          pending(nest) = Pend(pendName(nest),
            NestedOps.subColumns(acc, pendName(nest)),
            collection.mutable.LinkedHashMap.empty,
            collection.mutable.ListBuffer.empty)
        }
      }
    for (stmt <- stmts) stmt match {
      case assignRe(lhs, rhs) =>
        val target = ExprParser.lhsPath(lhs).getOrElse(
          throw new IllegalArgumentException(
            s"Bad assignment target: $lhs (must be a single column name)"))
        target match {
          // write into an original nest, or a nest CREATED by an earlier
          // line (its fields accumulate in the pending parts; reads of
          // it still raise — the frozen frame doesn't have it)
          case Seq(nest, field) if origNests.contains(nest) ||
              pending.contains(nest) =>
            val a = analyze(acc, rhs, frozenRef)
            val p = pending.getOrElseUpdate(nest,
              Pend(nest, NestedOps.subColumns(acc, nest),
                collection.mutable.LinkedHashMap.empty,
                collection.mutable.ListBuffer.empty))
            acc = withReductions(acc, a.reductions)
            p.parts(field) = a.sql
            p.others ++= a.nests
          // new-nest creation: element-aligned with the first referenced
          // (frozen) nest
          case Seq(newNest, field) =>
            val a = analyze(acc, rhs, frozenRef)
            require(a.nests.nonEmpty,
              s"Assignment to new nest '$newNest.$field' needs ≥1 nested " +
                s"reference on the RHS (got a base-only expression)")
            acc = withReductions(acc, a.reductions)
            val p = Pend(a.nests.head, Nil,
              collection.mutable.LinkedHashMap.empty,
              collection.mutable.ListBuffer.empty)
            p.parts(field) = a.sql
            p.others ++= a.nests
            pending(newNest) = p
          case Seq(name) =>
            val a = analyze(acc, rhs, frozenRef)
            require(a.nests.isEmpty,
              s"Assignment of nested-layer expression to base column '$name'")
            stageAll()
            acc = withReductions(acc, a.reductions)
              .withColumn(name, expr(a.sql))
          case other => throw new IllegalArgumentException(
            s"Bad assignment target: ${other.mkString(".")} " +
              "(only one nesting level is supported)")
        }
      case other =>
        throw new IllegalArgumentException(s"Not an assignment: $other")
    }
    // stage every pending transform FIRST (bound against the original,
    // frozen columns — another pending nest's positional reads of this
    // nest must not see the merged values), then rename staged -> nest
    stageAll()
    val merged = pending.foldLeft(acc) { case (d, (nest, p)) =>
      if (p.anchor == nest) d
      else d.withColumn(nest, col(p.anchor)).drop(p.anchor)
    }
    val leftovers = merged.columns.filter(_.startsWith("__graft_red_"))
    if (leftovers.isEmpty) merged
    else merged.drop(leftovers.toIndexedSeq: _*)
  }

  /** query with `@name` locals (see [[eval]]). */
  def query(df: DataFrame, exprStr: String,
            locals: Map[String, Any]): DataFrame =
    query(df, substituteLocals(exprStr, locals))

  /** Non-assignment eval (the reference's `nf.eval("a + packed.c.median()")`
    * Series-returning form, test_nestedframe.py:2440-2446):
    *  - base-layer expression (reductions like `nest.f.mean()` count as
    *    base-layer) → new row-level column `outName`;
    *  - element-layer expression → ARRAY column `outName` aligned with the
    *    first referenced nest (the flat-index Series of the reference);
    *    mixed nests must be element-aligned, misalignment raises. */
  def evalSelect(df: DataFrame, exprStr: String,
                 outName: String = "result"): DataFrame = {
    val probe = analyze(df, exprStr, "__x")
    if (probe.nests.isEmpty)
      withReductions(df, probe.reductions)
        .withColumn(outName, expr(probe.sql))
        .drop(probe.helperNames: _*)
    else {
      val anchor = probe.nests.head
      val a = analyzeAnchored(df, exprStr, anchor)
      val dfR = withReductions(df, a.reductions)
      dfR.withColumn(outName,
        alignedTransformRaw(dfR, anchor, a.nests.filterNot(_ == anchor), a.sql))
        .drop(a.helperNames: _*)
    }
  }
}
