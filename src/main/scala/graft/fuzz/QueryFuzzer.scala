package graft.fuzz

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded differential query fuzzer (round-11, widened rounds 12-13):
  * generates random queries over the harness tables from a bounded
  * grammar — the relational surface the hand-written oracles gate —
  * and renders each query BOTH ways:
  *
  *   - a Spark `DataFrame` plan built through the Column API (the way
  *    every graft query is built), and
  *   - an ANSI SQL string an independent engine (DuckDB, via
  *    `tools/fuzz_duckdb.py`) replays over the same parquet.
  *
  * FuzzSpec runs hundreds of seeds and compares sorted value sets
  * with numeric tolerance; a divergence shrinks to a minimal failing
  * query (drop predicates/output columns one at a time) and becomes a
  * pinned regression. The generator is deliberately DETERMINISTIC per
  * seed — literal pools are sampled from the data with a stable
  * order, so a seed that passes once passes forever on the same data.
  *
  * Grammar bounds (kept inside what both dialects define identically):
  * inner/left/FULL OUTER equi-joins along the FK graph (up to
  * 4-table left-deep chains), comparison/IN/LIKE-prefix/BETWEEN/
  * null-check/scalar-subquery predicates with AND/OR/NOT, projections
  * with +,-,* arithmetic and CASE WHEN, optional DISTINCT, grouped
  * sum/count/min/max/avg with GROUP BY over expressions (integral
  * modulo, string prefix) and HAVING, sum-over-partition windows,
  * ordered multi-function windows (row_number/rank/dense_rank and a
  * running sum under an explicit RANGE frame), UNION / UNION ALL /
  * INTERSECT / EXCEPT over a shared FROM, and ORDER BY + LIMIT
  * (top-k) over a float-free total order. Timestamp columns are
  * excluded (DuckDB and Spark render them differently); integer
  * columns are widened to BIGINT at arithmetic/sum sites in BOTH
  * renderings so the engines agree on result types.
  *
  * Determinism notes for the constructs where engines could
  * legitimately disagree:
  *  - ORDER BY + LIMIT sorts over ALL output aliases (a total order
  *    up to fully-identical rows, which are interchangeable in a
  *    multiset compare) and only attaches to float-free outputs, so
  *    no last-ulp wobble can flip a boundary row; null placement is
  *    rendered explicitly (Spark and DuckDB have different defaults).
  *  - row_number over ties is multiset-safe because the projection
  *    includes every window ORDER BY column: tied rows are identical
  *    in all projected columns except the row number, and the SET of
  *    numbers assigned to a tie group is order-independent.
  *  - the running window sum uses an explicit RANGE frame (peer rows
  *    included), which is tie-order-independent; a ROWS frame is not
  *    and stays out of the grammar.
  *  - scalar subqueries aggregate INTEGRAL columns only (min/max are
  *    exact in both engines); the Spark rendering computes the scalar
  *    with Spark's own aggregate and embeds it as a literal, so the
  *    compare still crosses engines.
  *
  * Round-13 additions: CORRELATED scalar subqueries on FK edges
  * (SQL subquery vs Column-API group-join decorrelation, COUNT
  * coalesced to 0 on empty groups), [NOT] IN (subquery) as an
  * alternative rendering of the semi/anti axis (null-guarded in the
  * negated case — see Semi), COUNT(DISTINCT), COALESCE / NULLIF /
  * IS [NOT] DISTINCT FROM three-valued-logic edges, and the
  * date/timestamp family over events.ts reached exclusively through
  * CAST(EXTRACT(field) AS BIGINT) in predicates, projections, and
  * GROUP BY expressions (raw timestamps never cross the differ).
  *
  * Round-14-continuation additions: aggregate FILTER clauses
  * (SQL:2003 `agg(x) FILTER (WHERE p)` vs the Column API's
  * `agg(when(p, x))` conditional-aggregation equivalence — a genuine
  * dual rendering, not a shared text), and the string-function
  * projection family (SUBSTR with positive args, LOWER/LTRIM/RTRIM —
  * the subset both dialects define identically on ASCII data;
  * negative SUBSTR positions diverge between the engines and stay
  * out of the grammar).
  */
object QueryFuzzer {

  final case class ColDef(table: String, name: String, kind: Char) {
    def isNum: Boolean = kind == 'L' || kind == 'I' || kind == 'D'
    def isIntegral: Boolean = kind == 'L' || kind == 'I'
  }

  /** The fuzzable column catalog. `events.ts` is NOT listed here: the
    * timestamp column participates only WRAPPED in an extraction
    * function (TimeCmp / TimeFuncCol / t-kind GroupExpr), so raw
    * timestamps never reach literals, outputs, or the differ — the
    * envelope where both dialects' rendering provably agrees.
    */
  val tables: Map[String, Seq[ColDef]] = Map(
    "events" -> Seq(("event_id", 'L'), ("user_id", 'L'),
      ("event_type", 'S'), ("value", 'D'), ("props", 'S')),
    "customer" -> Seq(("c_custkey", 'L'), ("c_name", 'S'),
      ("c_nationkey", 'I'), ("c_acctbal", 'D'), ("c_mktsegment", 'S')),
    "orders" -> Seq(("o_orderkey", 'L'), ("o_custkey", 'L'),
      ("o_orderstatus", 'S'), ("o_totalprice", 'D'),
      ("o_orderpriority", 'S')),
    "lineitem" -> Seq(("l_orderkey", 'L'), ("l_partkey", 'L'),
      ("l_suppkey", 'L'), ("l_linenumber", 'I'), ("l_quantity", 'D'),
      ("l_extendedprice", 'D'), ("l_discount", 'D'), ("l_tax", 'D'),
      ("l_returnflag", 'S'), ("l_linestatus", 'S')),
    "nation" -> Seq(("n_nationkey", 'I'), ("n_name", 'S'),
      ("n_regionkey", 'I')),
    "region" -> Seq(("r_regionkey", 'I'), ("r_name", 'S')),
    "part" -> Seq(("p_partkey", 'L'), ("p_name", 'S'),
      ("p_brand", 'S'), ("p_type", 'S'), ("p_size", 'I'),
      ("p_retailprice", 'D')),
    "supplier" -> Seq(("s_suppkey", 'L'), ("s_name", 'S'),
      ("s_nationkey", 'I'), ("s_acctbal", 'D')),
  ).map { case (t, cs) => t -> cs.map { case (n, k) => ColDef(t, n, k) } }

  /** FK edges (leftTable.leftKey -> rightTable.rightKey). */
  val joinEdges: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
  )

  private val allIntegralCols: Seq[ColDef] =
    tables.toSeq.sortBy(_._1).flatMap(_._2).filter(_.isIntegral)

  // ---- AST ------------------------------------------------------------

  sealed trait Pred
  final case class Cmp(col: ColDef, op: String, lit: Any) extends Pred
  final case class InList(col: ColDef, lits: Seq[Any]) extends Pred
  final case class LikePrefix(col: ColDef, prefix: String) extends Pred
  final case class NullCheck(col: ColDef, isNull: Boolean) extends Pred
  final case class Between(col: ColDef, lo: Any, hi: Any) extends Pred
  /** Uncorrelated scalar subquery compare: `col op (SELECT
    * FUNC(inner) FROM inner.table)`. Integral min/max only — exact in
    * both engines. The Spark rendering evaluates the aggregate with
    * Spark and embeds the result as a literal (the q39 idiom), so the
    * two engines still compute the scalar independently.
    */
  final case class ScalarCmp(col: ColDef, op: String, func: String,
                             inner: ColDef) extends Pred
  /** Null-safe equality: `col IS [NOT] DISTINCT FROM lit` — the
    * three-valued-logic edge where NULL compares TRUE/FALSE instead
    * of NULL (live after outer joins: `col IS DISTINCT FROM x` KEEPS
    * null-extended rows that `col <> x` drops). Spark: `<=>`.
    */
  final case class DistinctFrom(col: ColDef, lit: Any,
                                negated: Boolean) extends Pred
  /** `EXTRACT(field FROM ts) op k` over events.ts — the one typed
    * column family the grammar reaches only through extraction
    * (field ∈ year/month/day/hour/minute; BIGINT in both dialects).
    */
  final case class TimeCmp(field: String, op: String, k: Int)
    extends Pred
  final case class Bin(l: Pred, r: Pred, and: Boolean) extends Pred
  final case class NotP(p: Pred) extends Pred
  /** [NOT] EXISTS correlated subquery as a PREDICATE NODE — usable
    * inside OR-trees, where it is no longer decomposable into a
    * semi/anti join: Catalyst plans it as an ExistenceJoin (a marker
    * column joined in, tested in the disjunction) — a different
    * operator than the left_semi/left_anti the top-level [[Semi]]
    * conjuncts exercise. Only valid in `viaSql` queries (the Column
    * API cannot express a non-conjunctive EXISTS); the SQL rendering
    * is [[Semi]]'s, shared verbatim by both dialects.
    */
  final case class ExistsPred(semi: Semi) extends Pred

  /** CORRELATED scalar subquery on an FK edge (the q39 shape):
    * `outer op (SELECT FUNC(inner) FROM rt WHERE rt.rk = lt.lk)`.
    * The Column-API rendering is the decorrelation every engine
    * performs: group rt by rk, LEFT-join the per-key aggregate in,
    * compare — an empty key group yields NULL (row dropped by the
    * comparison) except for COUNT, which coalesces to 0 exactly as
    * the SQL scalar COUNT does. min/max/count over integral columns
    * only — exact in both engines.
    */
  final case class CorrScalar(lt: String, lk: String, rt: String,
                              rk: String, outer: ColDef, op: String,
                              func: String, inner: ColDef)

  sealed trait OutCol { def alias: String }
  final case class PlainCol(col: ColDef, alias: String) extends OutCol
  final case class ArithCol(a: ColDef, op: String, b: ColDef,
                            alias: String) extends OutCol
  final case class CaseCol(pred: Pred, alias: String) extends OutCol
  /** Scalar function call: LENGTH/UPPER over strings, ABS over
    * numerics — functions both dialects define identically on the
    * harness's ASCII data.
    */
  final case class FuncCol(func: String, col: ColDef, alias: String)
    extends OutCol
  /** `SUBSTR(col, pos, len)` over a string column (round-14
    * continuation) — positive 1-based `pos` and positive `len` ONLY:
    * that is the subset where Spark's `substring` and DuckDB's
    * `substr` are defined identically (negative positions diverge:
    * Spark counts from the string's end, DuckDB clamps toward the
    * start). Out-of-range pos/len truncate to the empty/short string
    * identically in both.
    */
  final case class SubstrCol(col: ColDef, pos: Int, len: Int,
                             alias: String) extends OutCol

  /** `COALESCE(col, lit)` — null replacement with a same-pool
    * literal; live after outer joins.
    */
  final case class CoalesceCol(col: ColDef, fallback: Any,
                               alias: String) extends OutCol
  /** `NULLIF(col, lit)` — null INTRODUCTION: the projection makes
    * nulls the downstream differ must multiset-match even from
    * all-non-null scans.
    */
  final case class NullIfCol(col: ColDef, lit: Any, alias: String)
    extends OutCol
  /** `CAST(EXTRACT(field FROM ts) AS BIGINT)` over events.ts. */
  final case class TimeFuncCol(field: String, alias: String)
    extends OutCol
  /** Uncorrelated scalar subquery IN THE SELECT LIST:
    * `(SELECT MIN(inner) FROM inner.table) AS alias` — a subquery
    * placement the Column API cannot express (viaSql only). Integral
    * min/max, exact in both engines.
    */
  final case class ScalarSubCol(func: String, inner: ColDef,
                                alias: String) extends OutCol
  /** CORRELATED scalar subquery in the SELECT list (viaSql only):
    * `(SELECT FUNC(inner) FROM rt WHERE rt.rk = lt.lk) AS alias`.
    * Catalyst decorrelates this into a left outer aggregate join; an
    * empty key group yields NULL (COUNT: 0) — both engines must
    * agree through the projection, not just a WHERE drop.
    */
  final case class CorrSubCol(cs: CorrScalar, alias: String)
    extends OutCol

  /** `filter` (round-14 continuation): the SQL:2003 `FILTER (WHERE
    * pred)` clause on the aggregate — DuckDB renders it literally;
    * the Column API renders the equivalence every engine's planner
    * uses, conditional aggregation over `when(pred, input)` (non-
    * matching and NULL-condition rows map to NULL, which every
    * aggregate ignores; empty filtered groups give NULL for
    * SUM/AVG/MIN/MAX and 0 for COUNT in BOTH renderings). Leaf
    * predicates only — never a scalar subquery.
    */
  final case class AggCol(func: String, col: Option[ColDef],
                          alias: String,
                          filter: Option[Pred] = None)

  /** GROUP BY over an expression: `mod` = (CAST(col AS BIGINT) % k)
    * over an integral column, `prefix` = SUBSTR(col, 1, k) over a
    * string column. Both total functions both dialects define
    * identically on the harness data (non-negative keys, ASCII).
    */
  final case class GroupExpr(col: ColDef, kind: String, k: Int)

  sealed trait Shape
  final case class Proj(cols: Seq[OutCol], distinct: Boolean)
    extends Shape
  /** `having` = (alias of a COUNT aggregate, minimum value): rendered
    * as a post-aggregation filter (subquery-wrapped in SQL — alias
    * references in HAVING are a dialect extension; the wrap is
    * portable and plans identically).
    */
  /** `havingSub` (viaSql only) renders a TRUE `HAVING <agg-expr> >=
    * (SELECT FUNC(col) FROM t)` — the aggregate expression of the
    * named alias compared to an uncorrelated scalar subquery, the
    * HAVING-side subquery placement the alias-wrap cannot carry.
    */
  final case class Agg(groups: Seq[ColDef], aggs: Seq[AggCol],
                       having: Option[(String, Long)] = None,
                       groupExprs: Seq[GroupExpr] = Seq.empty,
                       havingSub: Option[(String, String, ColDef)] =
                         None)
    extends Shape
  final case class Win(keys: Seq[ColDef], part: ColDef, num: ColDef,
                       alias: String) extends Shape
  /** Ordered multi-function window: row_number/rank/dense_rank and a
    * RANGE-framed running sum over one (PARTITION BY part ORDER BY
    * order) spec. The projection is part + every order column + the
    * function values — the shape that makes ties multiset-safe (see
    * object scaladoc). `order` pairs are (column, ascending); null
    * placement is rendered explicitly in both dialects.
    */
  final case class Win2(part: ColDef, order: Seq[(ColDef, Boolean)],
                        funcs: Seq[(String, Option[ColDef], String)])
    extends Shape
  /** Set operation over a SHARED FROM/WHERE: each branch adds its own
    * extra predicate over the same join tree, then projects the same
    * columns. `op` is one of UNION, UNION ALL, INTERSECT, EXCEPT —
    * Spark's distinct-set semantics for union().distinct()/
    * intersect()/except() match the SQL defaults.
    */
  final case class SetOp(cols: Seq[OutCol], op: String,
                         lp: Pred, rp: Pred) extends Shape

  /** GROUP BY ROLLUP/CUBE over 1-3 plain key columns (round 14): the
    * grouping-lattice family — Catalyst plans an Expand (one input
    * row fans to every grouping set), a physical operator nothing
    * else in the grammar reaches. Subtotal rows carry NULL keys;
    * a CAST(GROUPING(key) AS BIGINT) bit per key disambiguates them
    * from genuine NULL group values in both dialects (identical
    * 0/1 semantics, verified), so the multiset compare never
    * conflates the two. Aggregates reuse the Agg pool minus `avg`
    * (subtotal sums over doubles already exercise the tolerance
    * path; avg adds nothing but noise).
    */
  final case class Rollup(groups: Seq[ColDef], aggs: Seq[AggCol],
                          cube: Boolean) extends Shape

  /** (table, key, table, key, joinType) in left-deep join order;
    * joinType is "inner" | "left" | "full".
    */
  type JoinUse = (String, String, String, String, String)

  /** [NOT] EXISTS correlated on an FK edge, with an optional extra
    * predicate over the inner table — rendered as a correlated
    * subquery in SQL and as a left_semi/left_anti join in the Column
    * API (the two formulations every engine must agree on).
    *
    * `asIn` renders the SAME semantics as `lk [NOT] IN (SELECT rk
    * FROM rt ...)` instead — a different SQL decorrelation path
    * (DuckDB plans a mark join) against the same Column-API
    * semi/anti join. The two agree because the harness inner keys
    * are never null; the one residual edge — a null OUTER lk, where
    * SQL `NOT IN` drops the row (NULL) but `left_anti` keeps it — is
    * closed by guarding the negated-IN rendering with
    * `lk IS NOT NULL` in BOTH renderings.
    */
  final case class Semi(lt: String, lk: String, rt: String, rk: String,
                        negated: Boolean, pred: Option[Pred],
                        asIn: Boolean = false)

  final case class FuzzQuery(seed: Int, baseTable: String,
                             joins: Seq[JoinUse], preds: Seq[Pred],
                             shape: Shape,
                             semis: Seq[Semi] = Seq.empty,
                             orderLimit: Option[(Seq[(String, Boolean)],
                               Int)] = None,
                             joinOnPreds: Map[Int, Pred] = Map.empty,
                             corrScalars: Seq[CorrScalar] = Seq.empty,
                             viaSql: Boolean = false) {
    // viaSql: the Spark side executes the SAME SQL text through
    // spark.sql over temp views instead of the Column API — the
    // rendering for subquery placements the Column API cannot
    // express (ExistenceJoin disjuncts, SELECT-list scalar
    // subqueries, HAVING-side subqueries). The grammar for these
    // queries is restricted to the dialect-shared subset (no
    // EXTRACT/IS DISTINCT FROM rendering differences), so one string
    // drives both engines and the axis under test is Catalyst's SQL
    // planning vs DuckDB's — not the text itself.
    // joinOnPreds: extra ON-clause predicate over join i's RIGHT
    // table (`... JOIN rt ON lk = rk AND <pred>`). This is what makes
    // LEFT/FULL join null-extension LIVE on the harness data: its FK
    // edges are referentially complete (verified at every SF — at
    // most 1 unmatched row anywhere), so a bare outer equi-join never
    // null-extends and outer-vs-inner would be a dead axis without
    // the ON restriction. Scalar subqueries are excluded from ON
    // preds by construction (baseDF renders without a resolver).

    // ---- SQL rendering (the DuckDB side) ----

    private def sqlLit(v: Any): String = v match {
      case s: String => "'" + s.replace("'", "''") + "'"
      case d: Double =>
        val p = new java.math.BigDecimal(d).toPlainString
        // viaSql: Spark's SQL parser types a bare decimal literal as
        // DECIMAL and rejects expansions past precision 38 (a pool
        // double's exact expansion is up to ~60 digits); CAST from
        // string round-trips to the identical double in BOTH dialects
        if (viaSql) s"CAST('$p' AS DOUBLE)" else p
      case other => other.toString
    }

    private def sqlPred(p: Pred): String = p match {
      case Cmp(c, op, l) => s"${c.name} $op ${sqlLit(l)}"
      case InList(c, ls) =>
        s"${c.name} IN (${ls.map(sqlLit).mkString(", ")})"
      case LikePrefix(c, pre) => s"${c.name} LIKE '$pre%'"
      case NullCheck(c, isN) =>
        s"${c.name} IS ${if (isN) "" else "NOT "}NULL"
      case Between(c, lo, hi) =>
        s"${c.name} BETWEEN ${sqlLit(lo)} AND ${sqlLit(hi)}"
      case ScalarCmp(c, op, f, inner) =>
        s"${c.name} $op (SELECT ${f.toUpperCase}(${inner.name}) " +
          s"FROM ${inner.table})"
      case DistinctFrom(c, l, neg) =>
        s"${c.name} IS ${if (neg) "" else "NOT "}DISTINCT FROM " +
          sqlLit(l)
      case TimeCmp(f, op, k) =>
        s"CAST(EXTRACT(${f.toUpperCase} FROM ts) AS BIGINT) $op $k"
      case Bin(l, r, and) =>
        s"(${sqlPred(l)} ${if (and) "AND" else "OR"} ${sqlPred(r)})"
      case NotP(inner) => s"(NOT ${sqlPred(inner)})"
      case ExistsPred(s) => s"(${sqlSemi(s)})"
    }

    private def sqlCorr(cs: CorrScalar): String = {
      val f =
        if (cs.func == "count") "COUNT(*)"
        else s"${cs.func.toUpperCase}(${cs.inner.name})"
      s"${cs.outer.name} ${cs.op} (SELECT $f FROM ${cs.rt} " +
        s"WHERE ${cs.rt}.${cs.rk} = ${cs.lt}.${cs.lk})"
    }

    private def sqlNum(c: ColDef): String =
      if (c.kind == 'I') s"CAST(${c.name} AS BIGINT)" else c.name

    private def sqlOut(o: OutCol): String = o match {
      case PlainCol(c, a) => s"${c.name} AS $a"
      case ArithCol(x, op, y, a) =>
        s"(${sqlNum(x)} $op ${sqlNum(y)}) AS $a"
      case CaseCol(p, a) =>
        s"(CASE WHEN ${sqlPred(p)} THEN 1 ELSE 0 END) AS $a"
      case FuncCol(f, c, a) =>
        s"${f.toUpperCase}(${c.name}) AS $a"
      case SubstrCol(c, p0, l0, a) =>
        s"SUBSTR(${c.name}, $p0, $l0) AS $a"
      case CoalesceCol(c, fb, a) =>
        s"COALESCE(${c.name}, ${sqlLit(fb)}) AS $a"
      case NullIfCol(c, l, a) =>
        s"NULLIF(${c.name}, ${sqlLit(l)}) AS $a"
      case TimeFuncCol(f, a) =>
        s"CAST(EXTRACT(${f.toUpperCase} FROM ts) AS BIGINT) AS $a"
      case ScalarSubCol(f, inner, a) =>
        s"(SELECT ${f.toUpperCase}(${inner.name}) " +
          s"FROM ${inner.table}) AS $a"
      case CorrSubCol(cs, a) =>
        val f =
          if (cs.func == "count") "COUNT(*)"
          else s"${cs.func.toUpperCase}(${cs.inner.name})"
        s"(SELECT $f FROM ${cs.rt} " +
          s"WHERE ${cs.rt}.${cs.rk} = ${cs.lt}.${cs.lk}) AS $a"
    }

    private def sqlAggExpr(a: AggCol): String = {
      // FILTER binds to the aggregate function itself, INSIDE any
      // surrounding CAST (a cast-then-filter is a syntax error)
      val f = a.filter
        .map(p => s" FILTER (WHERE ${sqlPred(p)})").getOrElse("")
      a.func match {
        case "count*" => s"COUNT(*)$f"
        case "count" => s"COUNT(${a.col.get.name})$f"
        case "count_distinct" =>
          s"COUNT(DISTINCT ${a.col.get.name})$f"
        case "sum" =>
          val c = a.col.get
          if (c.kind == 'D') s"SUM(${c.name})$f"
          else s"CAST(SUM(${sqlNum(c)})$f AS BIGINT)"
        case "avg" => s"AVG(${a.col.get.name})$f"
        case fn => s"${fn.toUpperCase}(${a.col.get.name})$f"
      }
    }

    private def sqlAgg(a: AggCol): String =
      s"${sqlAggExpr(a)} AS ${a.alias}"

    private def sqlGroupExpr(ge: GroupExpr): String = ge.kind match {
      case "mod" => s"(${sqlNum(ge.col)} % ${ge.k})"
      case "prefix" => s"SUBSTR(${ge.col.name}, 1, ${ge.k})"
      case k if k.startsWith("t") =>
        s"CAST(EXTRACT(${k.drop(1).toUpperCase} FROM ts) AS BIGINT)"
    }

    private def sqlSemi(s: Semi): String =
      if (s.asIn) {
        val innerWhere =
          s.pred.map(p => s" WHERE ${sqlPred(p)}").getOrElse("")
        val in = s"${s.lt}.${s.lk} ${if (s.negated) "NOT IN" else "IN"} " +
          s"(SELECT ${s.rk} FROM ${s.rt}$innerWhere)"
        // null-outer-key guard: see Semi scaladoc (mirrored in toDF)
        if (s.negated) s"(${s.lt}.${s.lk} IS NOT NULL AND $in)" else in
      } else {
        val inner = s"${s.rt}.${s.rk} = ${s.lt}.${s.lk}" +
          s.pred.map(p => s" AND ${sqlPred(p)}").getOrElse("")
        s"${if (s.negated) "NOT " else ""}EXISTS " +
          s"(SELECT 1 FROM ${s.rt} WHERE $inner)"
      }

    private def sqlOrder(keys: Seq[(String, Boolean)]): String =
      keys.map { case (a, asc) =>
        // explicit null placement: Spark's default is nulls-first for
        // ASC / nulls-last for DESC; DuckDB's is NULLS LAST always
        s"$a ${if (asc) "ASC NULLS FIRST" else "DESC NULLS LAST"}"
      }.mkString(", ")

    def sql: String = {
      val from = joins.zipWithIndex.foldLeft(baseTable) {
        case (acc, ((lt, lk, rt, rk, jt), i)) =>
          val kw = jt match {
            case "left" => "LEFT JOIN"
            case "full" => "FULL JOIN"
            case _ => "JOIN"
          }
          val extra = joinOnPreds.get(i)
            .map(p => s" AND ${sqlPred(p)}").getOrElse("")
          s"$acc $kw $rt ON $lt.$lk = $rt.$rk$extra"
      }
      val conds = preds.map(sqlPred) ++ semis.map(sqlSemi) ++
        corrScalars.map(sqlCorr)
      val where =
        if (conds.isEmpty) "" else " WHERE " + conds.mkString(" AND ")
      val body = shape match {
        case Proj(cols, distinct) =>
          s"SELECT ${if (distinct) "DISTINCT " else ""}" +
            s"${cols.map(sqlOut).mkString(", ")} FROM $from$where"
        case Agg(groups, aggs, having, ges, havingSub) =>
          val gSel = groups.zipWithIndex
            .map { case (g, i) => s"${g.name} AS g$i" }
          val geSel = ges.zipWithIndex.map { case (ge, j) =>
            s"${sqlGroupExpr(ge)} AS g${groups.size + j}" }
          val sel = (gSel ++ geSel ++ aggs.map(sqlAgg)).mkString(", ")
          val byKeys = groups.map(_.name) ++ ges.map(sqlGroupExpr)
          val by =
            if (byKeys.isEmpty) ""
            else " GROUP BY " + byKeys.mkString(", ")
          // TRUE HAVING with a scalar subquery bound (viaSql family):
          // the aggregate EXPRESSION of the named alias, not an alias
          // reference (portable to both dialects)
          val hs = havingSub.map { case (alias, f, c) =>
            val expr = sqlAggExpr(aggs.find(_.alias == alias).get)
            s" HAVING $expr >= " +
              s"(SELECT ${f.toUpperCase}(${c.name}) FROM ${c.table})"
          }.getOrElse("")
          val agg = s"SELECT $sel FROM $from$where$by$hs"
          having match {
            case None => agg
            case Some((alias, k)) =>
              s"SELECT * FROM ($agg) h WHERE $alias >= $k"
          }
        case Win(keys, part, num, alias) =>
          val kSel = keys.zipWithIndex
            .map { case (k, i) => s"${k.name} AS k$i" }
          // integral window sums land as BIGINT in both dialects
          // (DuckDB's native SUM(BIGINT) OVER returns HUGEINT)
          val raw = s"SUM(${sqlNum(num)}) OVER " +
            s"(PARTITION BY ${part.name})"
          val w = (if (num.isIntegral) s"CAST($raw AS BIGINT)" else raw) +
            s" AS $alias"
          s"SELECT ${(kSel :+ w).mkString(", ")} FROM $from$where"
        case Win2(part, order, funcs) =>
          val ord = order.map { case (c, asc) =>
            s"${c.name} ${if (asc) "ASC NULLS FIRST"
                          else "DESC NULLS LAST"}"
          }.mkString(", ")
          val overBase =
            s"(PARTITION BY ${part.name} ORDER BY $ord"
          val kSel = (s"${part.name} AS k0") +:
            order.zipWithIndex.map { case ((c, _), i) =>
              s"${c.name} AS k${i + 1}" }
          val fSel = funcs.map {
            case ("row_number", _, al) =>
              s"CAST(ROW_NUMBER() OVER $overBase) AS BIGINT) AS $al"
            case ("rank", _, al) =>
              s"CAST(RANK() OVER $overBase) AS BIGINT) AS $al"
            case ("dense_rank", _, al) =>
              s"CAST(DENSE_RANK() OVER $overBase) AS BIGINT) AS $al"
            case ("sum_range", Some(c), al) =>
              val raw = s"SUM(${sqlNum(c)}) OVER $overBase RANGE " +
                s"BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
              if (c.isIntegral) s"CAST($raw AS BIGINT) AS $al"
              else s"$raw AS $al"
            case (f, _, _) => sys.error(s"unknown window func $f")
          }
          s"SELECT ${(kSel ++ fSel).mkString(", ")} FROM $from$where"
        case SetOp(cols, op, lp, rp) =>
          val sel = cols.map(sqlOut).mkString(", ")
          def branch(p: Pred): String = {
            val bConds = conds :+ sqlPred(p)
            s"SELECT $sel FROM $from WHERE ${bConds.mkString(" AND ")}"
          }
          s"${branch(lp)} $op ${branch(rp)}"
        case Rollup(groups, aggs, cube) =>
          val gSel = groups.zipWithIndex
            .map { case (g, i) => s"${g.name} AS g$i" }
          val bSel = groups.zipWithIndex.map { case (g, i) =>
            s"CAST(GROUPING(${g.name}) AS BIGINT) AS gb$i" }
          val sel = (gSel ++ bSel ++ aggs.map(sqlAgg)).mkString(", ")
          val kw = if (cube) "CUBE" else "ROLLUP"
          // FOUND DIVERGENCE (first in-suite run of this family, seed
          // 14): over an EMPTY input, the SQL standard (and DuckDB,
          // and Postgres) emits the () grand-total grouping-set row;
          // Spark emits ZERO rows — consistently across the Column
          // API, SQL ROLLUP/CUBE, and GROUPING SETS (()), though its
          // plain global aggregate does emit the standard one row.
          // The oracle replays Spark's semantics via a wrapper that
          // is PROVABLY a no-op on non-empty input: every grouping-
          // set row aggregates >= 1 input row, so COUNT(*) > 0 can
          // only drop the empty-input grand-total row. The campaign
          // then gates that equivalence at every seed.
          val aliases = (groups.indices.map(i => s"g$i") ++
            groups.indices.map(i => s"gb$i") ++
            aggs.map(_.alias)).mkString(", ")
          val inner = s"SELECT $sel, COUNT(*) AS __n FROM $from$where " +
            s"GROUP BY $kw (${groups.map(_.name).mkString(", ")})"
          s"SELECT $aliases FROM ($inner) r WHERE __n > 0"
      }
      orderLimit match {
        case None => body
        case Some((keys, k)) =>
          s"SELECT * FROM ($body) ob ORDER BY ${sqlOrder(keys)} LIMIT $k"
      }
    }

    // ---- Spark rendering (the Column-API side) ----

    private def sparkLit(v: Any): Column = v match {
      case d: Double => lit(d)
      case l: Long => lit(l)
      case i: Int => lit(i)
      case s: String => lit(s)
      case other => lit(other)
    }

    /** events goes through the schema-adaptive reader (ts has shipped
      * both as TIMESTAMP(NANOS) and naive timestamp[us]; both land as
      * the microsecond TimestampType DuckDB's naive read extracts
      * identically under the UTC-pinned session).
      */
    private def loadTable(spark: SparkSession, dir: String,
                          t: String): DataFrame =
      if (t == "events") graft.queries.RelQueries.events(spark, dir)
      else graft.Tables(spark, dir, t)

    /** The filtered-joined relation BEFORE the output shape — the TLP
      * self-check's subject (FuzzSpec partitions it by a predicate).
      */
    private[graft] def baseDF(spark: SparkSession,
                              dir: String): DataFrame = {
      val base = loadTable(spark, dir, baseTable)
      joins.zipWithIndex.foldLeft(base) {
        case (acc, ((_, lk, rt, rk, jt), i)) =>
          val cond = joinOnPreds.get(i).foldLeft(col(lk) === col(rk))(
            (c, p) => c && sparkPred(p, Map.empty))
          acc.join(graft.Tables(spark, dir, rt), cond, jt)
      }
    }

    private def collectScalars(p: Pred): Seq[ScalarCmp] = p match {
      case s: ScalarCmp => Seq(s)
      case Bin(l, r, _) => collectScalars(l) ++ collectScalars(r)
      case NotP(i) => collectScalars(i)
      case _ => Seq.empty
    }

    private def allPreds: Seq[Pred] = {
      val shapePreds = shape match {
        case Proj(cols, _) => cols.collect { case CaseCol(p, _) => p }
        case SetOp(cols, _, lp, rp) =>
          (cols.collect { case CaseCol(p, _) => p }) ++ Seq(lp, rp)
        case _ => Seq.empty
      }
      preds ++ semis.flatMap(_.pred) ++ shapePreds ++
        joinOnPreds.values
    }

    /** Evaluate every scalar subquery in the tree with Spark's own
      * aggregate (once per distinct subquery).
      */
    private def resolveScalars(spark: SparkSession, dir: String)
        : Map[ScalarCmp, Any] =
      allPreds.flatMap(collectScalars).distinct.map { s =>
        val t = graft.Tables(spark, dir, s.inner.table)
        val c = col(s.inner.name)
        val v = s.func match {
          case "min" => t.agg(min(c)).head.get(0)
          case "max" => t.agg(max(c)).head.get(0)
          case f => sys.error(s"unknown scalar func $f")
        }
        s -> v
      }.toMap

    private[graft] def predColumn(spark: SparkSession, dir: String,
                                  p: Pred): Column =
      sparkPred(p, resolveScalars(spark, dir))

    private def cmp(c: Column, op: String, v: Column): Column =
      op match {
        case "<" => c < v
        case "<=" => c <= v
        case ">" => c > v
        case ">=" => c >= v
        case "=" => c === v
        case "<>" => c =!= v
      }

    private def timeFunc(f: String): Column = (f match {
      case "year" => year(col("ts"))
      case "month" => month(col("ts"))
      case "day" => dayofmonth(col("ts"))
      case "hour" => hour(col("ts"))
      case "minute" => minute(col("ts"))
    }).cast("long")

    private def sparkPred(p: Pred,
                          scalars: Map[ScalarCmp, Any]): Column = {
      p match {
        case Cmp(c, op, l) => cmp(col(c.name), op, sparkLit(l))
        case InList(c, ls) => col(c.name).isin(ls: _*)
        case LikePrefix(c, pre) => col(c.name).like(s"$pre%")
        case NullCheck(c, isN) =>
          if (isN) col(c.name).isNull else col(c.name).isNotNull
        case Between(c, lo, hi) =>
          col(c.name).between(sparkLit(lo), sparkLit(hi))
        case s @ ScalarCmp(c, op, _, _) =>
          cmp(col(c.name), op, sparkLit(scalars(s)))
        case DistinctFrom(c, l, neg) =>
          if (neg) !(col(c.name) <=> sparkLit(l))
          else col(c.name) <=> sparkLit(l)
        case TimeCmp(f, op, k) => cmp(timeFunc(f), op, lit(k.toLong))
        case Bin(l, r, and) =>
          if (and) sparkPred(l, scalars) && sparkPred(r, scalars)
          else sparkPred(l, scalars) || sparkPred(r, scalars)
        case NotP(inner) => !sparkPred(inner, scalars)
        case ExistsPred(_) => sys.error(
          "ExistsPred is viaSql-only: a non-conjunctive EXISTS has " +
            "no Column-API rendering (Catalyst plans it as an " +
            "ExistenceJoin from SQL)")
      }
    }

    private def sparkNum(c: ColDef): Column =
      if (c.kind == 'I') col(c.name).cast("long") else col(c.name)

    private def sparkOut(o: OutCol,
                         scalars: Map[ScalarCmp, Any]): Column =
      o match {
        case PlainCol(c, a) => col(c.name).as(a)
        case ArithCol(x, op, y, a) =>
          (op match {
            case "+" => sparkNum(x) + sparkNum(y)
            case "-" => sparkNum(x) - sparkNum(y)
            case "*" => sparkNum(x) * sparkNum(y)
          }).as(a)
        case CaseCol(p, a) =>
          when(sparkPred(p, scalars), lit(1L)).otherwise(lit(0L)).as(a)
        case FuncCol(f, c, a) => (f match {
          case "length" => length(col(c.name)).cast("long")
          case "upper" => upper(col(c.name))
          case "lower" => lower(col(c.name))
          case "ltrim" => ltrim(col(c.name))
          case "rtrim" => rtrim(col(c.name))
          case "abs" => abs(col(c.name))
        }).as(a)
        case SubstrCol(c, p0, l0, a) =>
          substring(col(c.name), p0, l0).as(a)
        case CoalesceCol(c, fb, a) =>
          coalesce(col(c.name), sparkLit(fb)).as(a)
        case NullIfCol(c, l, a) =>
          nullif(col(c.name), sparkLit(l)).as(a)
        case TimeFuncCol(f, a) => timeFunc(f).as(a)
        case _: ScalarSubCol | _: CorrSubCol => sys.error(
          "SELECT-list scalar subqueries are viaSql-only")
      }

    private def sparkAgg(a: AggCol,
                         scalars: Map[ScalarCmp, Any] = Map.empty)
        : Column = {
      // FILTER (WHERE p) == aggregate over when(p, input): rows where
      // p is false OR NULL become NULL inputs, which every aggregate
      // in the pool ignores (and COUNT(DISTINCT when(...)) drops
      // exactly the rows SQL's filter-then-distinct drops)
      def in(c: Column): Column =
        a.filter.fold(c)(p => when(sparkPred(p, scalars), c))
      (a.func match {
        case "count*" => count(in(lit(1)))
        case "count" => count(in(col(a.col.get.name)))
        case "count_distinct" => count_distinct(in(col(a.col.get.name)))
        case "sum" =>
          val c = a.col.get
          sum(in(if (c.kind == 'D') col(c.name) else sparkNum(c)))
        case "avg" => avg(in(col(a.col.get.name)))
        case "min" => min(in(col(a.col.get.name)))
        case "max" => max(in(col(a.col.get.name)))
      }).as(a.alias)
    }

    private def sparkGroupExpr(ge: GroupExpr): Column = ge.kind match {
      case "mod" => sparkNum(ge.col) % lit(ge.k.toLong)
      case "prefix" => substring(col(ge.col.name), 1, ge.k)
      case k if k.startsWith("t") => timeFunc(k.drop(1))
    }

    def toDF(spark: SparkSession, dir: String): DataFrame = {
      if (viaSql) {
        // one shared-dialect text, two independent planners: register
        // every catalog table as a temp view (unreferenced views are
        // never resolved) and hand Catalyst the SAME string DuckDB
        // runs — the rendering for ExistenceJoin disjuncts and
        // SELECT/HAVING subquery placements
        tables.keys.foreach(t =>
          loadTable(spark, dir, t).createOrReplaceTempView(t))
        return spark.sql(sql)
      }
      val scalars = resolveScalars(spark, dir)
      val joined = baseDF(spark, dir)
      val predded = preds.foldLeft(joined)((d, p) =>
        d.filter(sparkPred(p, scalars)))
      // [NOT] EXISTS / [NOT] IN (subquery) = left_semi/left_anti
      // against the (optionally pre-filtered) inner table's key
      // column; the negated-IN rendering guards the outer key
      // non-null in BOTH dialects (see Semi scaladoc)
      val semid = semis.foldLeft(predded) { (d, s) =>
        val inner0 = loadTable(spark, dir, s.rt)
        val inner = s.pred.fold(inner0)(p =>
            inner0.filter(sparkPred(p, scalars)))
          .select(s.rk)
        val d0 = if (s.asIn && s.negated)
          d.filter(col(s.lk).isNotNull) else d
        d0.join(inner, col(s.lk) === col(s.rk),
          if (s.negated) "left_anti" else "left_semi")
      }
      // correlated scalar subqueries, decorrelated the way engines
      // do: per-key inner aggregate LEFT-joined in, compared, dropped
      val filtered = corrScalars.zipWithIndex.foldLeft(semid) {
        case (d, (cs, i)) =>
          val ck = s"__ck$i"; val cv = s"__cv$i"
          val aggc = cs.func match {
            case "min" => min(col(cs.inner.name))
            case "max" => max(col(cs.inner.name))
            case "count" => count(lit(1))
          }
          val aggDf = loadTable(spark, dir, cs.rt)
            .groupBy(col(cs.rk).as(ck)).agg(aggc.as(cv))
          // scalar COUNT over an empty key group is 0, not NULL
          val v = if (cs.func == "count")
            coalesce(col(cv), lit(0L)) else col(cv)
          d.join(aggDf, col(cs.lk) === col(ck), "left")
            .filter(cmp(col(cs.outer.name), cs.op, v))
            .drop(ck, cv)
      }
      val body = shape match {
        case Proj(cols0, distinct) =>
          val p = filtered.select(cols0.map(sparkOut(_, scalars)): _*)
          if (distinct) p.distinct() else p
        case Agg(groups, aggs, having, ges, havingSub) =>
          require(havingSub.isEmpty,
            "havingSub is viaSql-only (never reaches the Column API)")
          val gCols = groups.zipWithIndex
            .map { case (g, i) => col(g.name).as(s"g$i") }
          val geCols = ges.zipWithIndex.map { case (ge, j) =>
            sparkGroupExpr(ge).as(s"g${groups.size + j}") }
          val aCols = aggs.map(sparkAgg(_, scalars))
          val allG = gCols ++ geCols
          val agged =
            if (allG.isEmpty) filtered.agg(aCols.head, aCols.tail: _*)
            else filtered.groupBy(allG: _*)
              .agg(aCols.head, aCols.tail: _*)
          having match {
            case None => agged
            case Some((alias, k)) => agged.filter(col(alias) >= lit(k))
          }
        case Win(keys, part, num, alias) =>
          val kCols = keys.zipWithIndex
            .map { case (k, i) => col(k.name).as(s"k$i") }
          filtered.select(kCols :+
            sum(sparkNum(num)).over(Window.partitionBy(col(part.name)))
              .as(alias): _*)
        case Win2(part, order, funcs) =>
          val ordCols = order.map { case (c, asc) =>
            if (asc) col(c.name).asc_nulls_first
            else col(c.name).desc_nulls_last
          }
          val wBase = Window.partitionBy(col(part.name))
            .orderBy(ordCols: _*)
          val kCols = col(part.name).as("k0") +:
            order.zipWithIndex.map { case ((c, _), i) =>
              col(c.name).as(s"k${i + 1}") }
          val fCols = funcs.map {
            case ("row_number", _, al) =>
              row_number().over(wBase).cast("long").as(al)
            case ("rank", _, al) =>
              rank().over(wBase).cast("long").as(al)
            case ("dense_rank", _, al) =>
              dense_rank().over(wBase).cast("long").as(al)
            case ("sum_range", Some(c), al) =>
              sum(sparkNum(c)).over(wBase.rangeBetween(
                Window.unboundedPreceding, Window.currentRow)).as(al)
            case (f, _, _) => sys.error(s"unknown window func $f")
          }
          filtered.select(kCols ++ fCols: _*)
        case SetOp(cols0, op, lp, rp) =>
          val outs = cols0.map(sparkOut(_, scalars))
          val l = filtered.filter(sparkPred(lp, scalars))
            .select(outs: _*)
          val r = filtered.filter(sparkPred(rp, scalars))
            .select(outs: _*)
          op match {
            case "UNION ALL" => l.union(r)
            case "UNION" => l.union(r).distinct()
            case "INTERSECT" => l.intersect(r)
            case "EXCEPT" => l.except(r)
          }
        case Rollup(groups, aggs, cube) =>
          val gRaw = groups.map(g => col(g.name))
          val aCols = groups.zipWithIndex.map { case (g, i) =>
            grouping(col(g.name)).cast("long").as(s"gb$i") } ++
            aggs.map(sparkAgg(_, scalars))
          val rolled =
            if (cube) filtered.cube(gRaw: _*)
            else filtered.rollup(gRaw: _*)
          rolled.agg(aCols.head, aCols.tail: _*)
            .select(groups.zipWithIndex.map { case (g, i) =>
              col(g.name).as(s"g$i") } ++
              groups.indices.map(i => col(s"gb$i")) ++
              aggs.map(a => col(a.alias)): _*)
      }
      orderLimit match {
        case None => body
        case Some((keys, k)) =>
          body.orderBy(keys.map { case (a, asc) =>
            if (asc) col(a).asc_nulls_first
            else col(a).desc_nulls_last
          }: _*).limit(k)
      }
    }

    /** Shrink candidates: the same query minus one predicate / one
      * output column / one aggregate / the DISTINCT / the ORDER BY +
      * LIMIT / one window function / one group expression — each
      * still a valid query. A SetOp additionally shrinks to each of
      * its branches as a plain projection. Used to minimize a failing
      * seed.
      */
    def shrinks: Seq[FuzzQuery] = {
      val dropOrder =
        if (orderLimit.isDefined) Seq(copy(orderLimit = None))
        else Seq.empty
      val dropOnPreds = joinOnPreds.keys.toSeq.sorted.map(i =>
        copy(joinOnPreds = joinOnPreds - i))
      val fewerPreds = preds.indices.map(i =>
        copy(preds = preds.patch(i, Nil, 1)))
      val fewerSemis = semis.indices.flatMap { i =>
        val dropped = copy(semis = semis.patch(i, Nil, 1))
        val unPredded =
          if (semis(i).pred.isDefined)
            Seq(copy(semis =
              semis.updated(i, semis(i).copy(pred = None))))
          else Seq.empty
        val unIn =
          if (semis(i).asIn)
            Seq(copy(semis =
              semis.updated(i, semis(i).copy(asIn = false))))
          else Seq.empty
        (dropped +: unPredded) ++ unIn
      }
      val fewerCorr = corrScalars.indices.map(i =>
        copy(corrScalars = corrScalars.patch(i, Nil, 1)))
      val shapeShrinks = shape match {
        case Proj(cols0, d) =>
          val fewer =
            if (cols0.size > 1)
              cols0.indices.map(i =>
                copy(shape = Proj(cols0.patch(i, Nil, 1), d),
                  orderLimit = None))
            else Seq.empty
          fewer ++ (if (d) Seq(copy(shape = Proj(cols0, distinct = false)))
                    else Seq.empty)
        case Agg(gs, as0, hv, ges, hs) =>
          val dropHaving =
            if (hv.isDefined)
              Seq(copy(shape = Agg(gs, as0, None, ges, hs)))
            else Seq.empty
          val dropHavingSub =
            if (hs.isDefined)
              Seq(copy(shape = Agg(gs, as0, hv, ges, None)))
            else Seq.empty
          val dropGes = ges.indices.map(i =>
            copy(shape = Agg(gs, as0, hv, ges.patch(i, Nil, 1), hs),
              orderLimit = None))
          val fewerAggs =
            if (as0.size > 1)
              as0.indices.flatMap { i =>
                val rest = as0.patch(i, Nil, 1)
                // never orphan a HAVING (either kind) that references
                // the dropped agg
                if (hv.exists(h => !rest.exists(_.alias == h._1)) ||
                  hs.exists(h => !rest.exists(_.alias == h._1)))
                  None
                else Some(copy(shape = Agg(gs, rest, hv, ges, hs),
                  orderLimit = None))
              }
            else Seq.empty
          // a filtered aggregate also shrinks to its unfiltered self
          val dropFilters = as0.indices.flatMap { i =>
            if (as0(i).filter.isDefined)
              Some(copy(shape = Agg(gs,
                as0.updated(i, as0(i).copy(filter = None)), hv, ges,
                hs)))
            else None
          }
          dropHaving ++ dropHavingSub ++ dropGes ++ fewerAggs ++
            dropFilters
        case Win2(part, order, funcs) =>
          if (funcs.size > 1)
            funcs.indices.map(i =>
              copy(shape = Win2(part, order, funcs.patch(i, Nil, 1))))
          else Seq.empty
        case SetOp(cols0, _, lp, rp) => Seq(
          copy(shape = Proj(cols0, distinct = false),
            preds = preds :+ lp, orderLimit = None),
          copy(shape = Proj(cols0, distinct = false),
            preds = preds :+ rp, orderLimit = None))
        case Rollup(groups, aggs, cube) =>
          // fewer keys, fewer aggs, cube→rollup, and the plain-Agg
          // degradation (drops the Expand entirely)
          val fewerG = if (groups.size > 1)
            groups.indices.map(i => copy(shape =
              Rollup(groups.patch(i, Nil, 1), aggs, cube),
              orderLimit = None))
            else Seq.empty
          val fewerA = if (aggs.size > 1)
            aggs.indices.map(i => copy(shape =
              Rollup(groups, aggs.patch(i, Nil, 1), cube),
              orderLimit = None))
            else Seq.empty
          val unCube = if (cube)
            Seq(copy(shape = Rollup(groups, aggs, cube = false),
              orderLimit = None))
            else Seq.empty
          val plain = Seq(copy(shape =
            Agg(groups, aggs, None, Seq.empty), orderLimit = None))
          fewerG ++ fewerA ++ unCube ++ plain
        case _ => Seq.empty
      }
      dropOrder ++ dropOnPreds ++ fewerPreds ++ fewerSemis ++
        fewerCorr ++ shapeShrinks
    }
  }

  // ---- literal pools ---------------------------------------------------

  /** Up to `k` distinct non-null values per column, in a STABLE order
    * (ascending), sampled once per (session, dir) — the literal pool
    * the generator draws comparison/IN/LIKE constants from, embedded
    * identically in both renderings.
    */
  def samplePools(spark: SparkSession, dir: String, k: Int = 24)
      : Map[(String, String), IndexedSeq[Any]] =
    tables.flatMap { case (t, cols) =>
      val df = graft.Tables(spark, dir, t)
      cols.map { c =>
        val vals = df.select(c.name).na.drop().distinct()
          .orderBy(col(c.name)).limit(k).collect()
          .map(_.get(0)).toIndexedSeq
        (t, c.name) -> vals
      }
    }

  // ---- generator -------------------------------------------------------

  /** The [[SetOp]] kinds. Seeds 1 to 4 are reserved, one per kind:
    * each always takes the SetOp shape with that kind, so every kind
    * appears in any run of at least four seeds.
    */
  private val SetOpKinds = Seq("UNION", "UNION ALL", "INTERSECT", "EXCEPT")

  def gen(seed: Int,
          pools: Map[(String, String), IndexedSeq[Any]]): FuzzQuery = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val reservedSetOp = SetOpKinds.lift(seed - 1)

    // ~1 seed in 10 goes to the shared-dialect spark.sql family —
    // the subquery placements the Column API cannot express (round
    // 14): ExistenceJoin disjuncts, SELECT-list scalar subqueries,
    // HAVING-side subqueries
    if (rnd.nextInt(10) == 0 && reservedSetOp.isEmpty)
      return genViaSql(seed, rnd, pools)

    // base table + 0..4 chained FK joins (inner/left/full)
    val nJoins = rnd.nextInt(12) match {
      case n if n < 5 => 0
      case n if n < 8 => 1
      case n if n < 10 => 2
      case n if n < 11 => 3
      case _ => 4
    }
    def joinType(): String = rnd.nextInt(10) match {
      case n if n < 6 => "inner"
      case n if n < 9 => "left"
      case _ => "full"
    }
    var present = Vector.empty[String]
    var joins = Vector.empty[JoinUse]
    if (nJoins == 0) {
      present = Vector(pick(tables.keys.toSeq.sorted))
    } else {
      val e1 = pick(joinEdges)
      present = Vector(e1._1, e1._3)
      joins = Vector((e1._1, e1._2, e1._3, e1._4, joinType()))
      (1 until nJoins).foreach { _ =>
        val cands = joinEdges.filter(e =>
          present.contains(e._1) && !present.contains(e._3))
        if (cands.nonEmpty) {
          val e = pick(cands)
          present = present :+ e._3
          joins = joins :+ ((e._1, e._2, e._3, e._4, joinType()))
        }
      }
    }
    val cols = present.flatMap(tables(_))
    val strCols = cols.filter(_.kind == 'S')
    val numCols = cols.filter(_.isNum)
    val keyCols = cols.filter(c => c.kind != 'D')

    // events.ts is reachable only through extraction (see catalog
    // scaladoc); events has no FK edges, so hasTs <=> single-table
    // events queries. Time literals are GENERATOR DISTRIBUTION
    // CONSTANTS (the harness data spans 2024), never data samples.
    val hasTs = present.contains("events")
    def timeField(): String =
      pick(Seq("year", "month", "day", "hour", "minute"))
    def timeLit(f: String): Int = f match {
      case "year" => 2023 + rnd.nextInt(3)
      case "month" => 1 + rnd.nextInt(12)
      case "day" => 1 + rnd.nextInt(28)
      case "hour" => rnd.nextInt(24)
      case _ => rnd.nextInt(60)
    }

    def litOf(c: ColDef): Any = {
      val pool = pools((c.table, c.name))
      pool(rnd.nextInt(pool.size))
    }

    def genLeafPredOver(over: Seq[ColDef],
                        allowScalar: Boolean = false): Pred = {
      val overStr = over.filter(_.kind == 'S')
      rnd.nextInt(13) match {
        case n if n < 4 =>
          val c = pick(over)
          Cmp(c, pick(Seq("<", "<=", ">", ">=", "=", "<>")), litOf(c))
        case n if n < 6 =>
          val c = pick(over)
          val pool = pools((c.table, c.name))
          val k = 1 + rnd.nextInt(math.min(4, pool.size))
          InList(c, Seq.fill(k)(pool(rnd.nextInt(pool.size))).distinct)
        case n if n < 8 && overStr.nonEmpty =>
          val c = pick(overStr)
          val v = litOf(c).toString
          val pre = v.take(1 + rnd.nextInt(math.min(4, math.max(1, v.length))))
            .filterNot(ch => ch == '%' || ch == '_' || ch == '\'')
          if (pre.nonEmpty) LikePrefix(c, pre)
          else Cmp(c, "=", litOf(c))
        case n if n < 9 =>
          val c = pick(over)
          val (a, b) = (litOf(c), litOf(c))
          val (lo, hi) = (a, b) match {
            case (x: String, y: String) =>
              if (x <= y) (a, b) else (b, a)
            case _ =>
              def d(v: Any): Double = v match {
                case l: Long => l.toDouble
                case i: Int => i.toDouble
                case x: Double => x
                case o => o.toString.toDouble
              }
              if (d(a) <= d(b)) (a, b) else (b, a)
          }
          Between(c, lo, hi)
        case n if n < 10 =>
          val overNum = over.filter(_.isNum)
          if (allowScalar && overNum.nonEmpty)
            ScalarCmp(pick(overNum),
              pick(Seq("<", "<=", ">", ">=")),
              pick(Seq("min", "max")), pick(allIntegralCols))
          else NullCheck(pick(over), isNull = rnd.nextBoolean())
        case n if n < 12 =>
          // null checks only bite after LEFT/FULL joins; harmless
          // elsewhere
          NullCheck(pick(over), isNull = rnd.nextBoolean())
        case _ =>
          // null-safe equality: the TVL edge where NULL compares
          // TRUE/FALSE (IS [NOT] DISTINCT FROM vs Spark's <=>)
          val c = pick(over)
          DistinctFrom(c, litOf(c), negated = rnd.nextBoolean())
      }
    }
    def genLeafPred(): Pred = genLeafPredOver(cols)

    def genLeaf(): Pred =
      if (hasTs && rnd.nextInt(10) < 4) {
        val f = timeField()
        TimeCmp(f, pick(Seq("<", "<=", ">", ">=", "=", "<>")),
          timeLit(f))
      } else genLeafPredOver(cols, allowScalar = true)

    def genPred(depth: Int): Pred =
      if (depth > 0 && rnd.nextInt(10) < 4) {
        val p = Bin(genPred(depth - 1), genPred(depth - 1),
          and = rnd.nextBoolean())
        if (rnd.nextInt(10) < 2) NotP(p) else p
      } else genLeaf()

    // extra ON-clause predicate over the joined table (~1 join in 3):
    // the axis that makes outer-join null extension LIVE on
    // referentially complete harness data (see FuzzQuery scaladoc)
    val joinOnPreds: Map[Int, Pred] = joins.zipWithIndex.flatMap {
      case ((_, _, rt, _, _), i) =>
        if (rnd.nextInt(10) < 3) Some(i -> genLeafPredOver(tables(rt)))
        else None
    }.toMap

    val preds = Seq.fill(rnd.nextInt(3))(genPred(1))

    // [NOT] EXISTS on an FK edge whose inner table is NOT already
    // joined (a Column-API semi join would otherwise hit ambiguous
    // key attributes)
    val semis =
      if (rnd.nextInt(10) < 3) {
        val cands = joinEdges.filter(e =>
          present.contains(e._1) && !present.contains(e._3))
        if (cands.isEmpty) Seq.empty
        else {
          val e = pick(cands)
          val innerPred =
            if (rnd.nextBoolean())
              Some(genLeafPredOver(tables(e._3)))
            else None
          Seq(Semi(e._1, e._2, e._3, e._4,
            negated = rnd.nextInt(10) < 4, pred = innerPred,
            asIn = rnd.nextInt(10) < 4))
        }
      } else Seq.empty

    // correlated scalar subquery on an unused FK edge (~1 query in 5
    // with an eligible edge): outer numeric vs per-key min/max/count
    // of the inner table
    val corrScalars =
      if (rnd.nextInt(10) < 2) {
        val cands = joinEdges.filter(e =>
          present.contains(e._1) && !present.contains(e._3))
        val numPresent = cols.filter(_.isNum)
        if (cands.isEmpty || numPresent.isEmpty) Seq.empty
        else {
          val e = pick(cands)
          val func = pick(Seq("min", "max", "count"))
          val innerInts = tables(e._3).filter(_.isIntegral)
          val inner =
            if (func == "count") innerInts.head else pick(innerInts)
          Seq(CorrScalar(e._1, e._2, e._3, e._4, pick(numPresent),
            pick(Seq("<", "<=", ">", ">=")), func, inner))
        }
      } else Seq.empty

    def genOutCol(i: Int): OutCol = rnd.nextInt(16) match {
      case n if n < 6 => PlainCol(pick(cols), s"c$i")
      case n if n < 8 && numCols.nonEmpty =>
        ArithCol(pick(numCols), pick(Seq("+", "-", "*")),
          pick(numCols), s"c$i")
      case n if n < 10 =>
        if (rnd.nextBoolean() && strCols.nonEmpty)
          FuncCol(pick(Seq("length", "upper")), pick(strCols), s"c$i")
        else FuncCol("abs", pick(numCols), s"c$i")
      case n if n < 12 => CaseCol(genLeafPred(), s"c$i")
      case n if n < 13 =>
        val c = pick(cols); CoalesceCol(c, litOf(c), s"c$i")
      case n if n < 14 =>
        val c = pick(cols); NullIfCol(c, litOf(c), s"c$i")
      case _ =>
        if (hasTs) TimeFuncCol(timeField(), s"c$i")
        else { val c = pick(cols); CoalesceCol(c, litOf(c), s"c$i") }
    }

    // 24 buckets: 20-21 reach the round-14 Rollup family, 22-23 the
    // round-14-continuation FILTER-aggregate and string-function
    // families. Widening the modulus reshuffles which query a given
    // seed generates — which is FINE: regressions are pinned as
    // literal ASTs in FuzzQueries (never regenerated from seeds), and
    // every campaign runs fresh seeds against whatever the current
    // grammar emits.
    // a reserved seed takes the SetOp bucket (18-19)
    val shape: Shape = (if (reservedSetOp.isDefined) 18
                        else rnd.nextInt(24)) match {
      case n if n < 6 =>
        Proj((0 until (2 + rnd.nextInt(3))).map(genOutCol),
          distinct = rnd.nextInt(10) < 3)
      case n if n < 13 =>
        val groups =
          if (rnd.nextInt(10) < 2) Seq.empty
          else Seq.fill(1 + rnd.nextInt(2))(pick(keyCols)).distinct
        // GROUP BY over an expression: integral modulo or string
        // prefix, alongside (or instead of) the plain columns
        val groupExprs =
          if (rnd.nextInt(10) < 3) {
            val intCols = cols.filter(_.isIntegral)
            if (hasTs && rnd.nextInt(10) < 5)
              // GROUP BY EXTRACT(field FROM ts) — the col slot holds
              // the ts ColDef for shape only; renderers key off kind
              Seq(GroupExpr(ColDef("events", "ts", 'T'),
                s"t${timeField()}", 0))
            else if (rnd.nextBoolean() && intCols.nonEmpty)
              Seq(GroupExpr(pick(intCols), "mod", 2 + rnd.nextInt(6)))
            else Seq(GroupExpr(pick(strCols), "prefix",
              1 + rnd.nextInt(3)))
          } else Seq.empty
        val nAggs = 1 + rnd.nextInt(3)
        val aggs = (0 until nAggs).map { i =>
          rnd.nextInt(7) match {
            case 0 => AggCol("count*", None, s"a$i")
            case 1 => AggCol("count", Some(pick(cols)), s"a$i")
            case 2 => AggCol("sum", Some(pick(numCols)), s"a$i")
            case 3 => AggCol("avg", Some(pick(numCols)), s"a$i")
            case 4 => AggCol("min", Some(pick(cols)), s"a$i")
            case 5 => AggCol("max", Some(pick(cols)), s"a$i")
            case _ =>
              AggCol("count_distinct", Some(pick(cols)), s"a$i")
          }
        }
        // HAVING on a COUNT aggregate (always integral, never null)
        val having = aggs.find(_.func.startsWith("count"))
          .filter(_ => (groups.nonEmpty || groupExprs.nonEmpty) &&
            rnd.nextInt(10) < 4)
          .map(a => (a.alias, 1L + rnd.nextInt(4)))
        Agg(groups, aggs, having, groupExprs)
      case n if n < 15 =>
        Win(Seq.fill(2)(pick(cols)).distinct, pick(keyCols),
          pick(numCols), "w")
      case n if n < 18 =>
        val part = pick(keyCols)
        val order = Seq.fill(1 + rnd.nextInt(2))(pick(keyCols))
          .distinct.map(c => (c, rnd.nextBoolean()))
        val nF = 1 + rnd.nextInt(3)
        val funcs = (0 until nF).map { i =>
          rnd.nextInt(4) match {
            case 0 => ("row_number", None, s"f$i")
            case 1 => ("rank", None, s"f$i")
            case 2 => ("dense_rank", None, s"f$i")
            case _ => ("sum_range", Some(pick(numCols)), s"f$i")
          }
        }
        Win2(part, order, funcs)
      case n if n < 20 =>
        SetOp((0 until (2 + rnd.nextInt(2))).map(genOutCol),
          reservedSetOp.getOrElse(pick(SetOpKinds)),
          genPred(1), genPred(1))
      case n if n < 22 =>
        val groups = Seq.fill(1 + rnd.nextInt(3))(pick(keyCols)).distinct
        val nAggs = 1 + rnd.nextInt(2)
        val aggs = (0 until nAggs).map { i =>
          rnd.nextInt(5) match {
            case 0 => AggCol("count*", None, s"a$i")
            case 1 => AggCol("sum", Some(pick(numCols)), s"a$i")
            case 2 => AggCol("min", Some(pick(cols)), s"a$i")
            case 3 => AggCol("max", Some(pick(cols)), s"a$i")
            case _ => AggCol("count_distinct", Some(pick(cols)), s"a$i")
          }
        }
        Rollup(groups, aggs, cube = rnd.nextBoolean())
      case 22 =>
        // FILTER-clause aggregates (round-14 continuation): grouped
        // aggregation where at least the first aggregate carries a
        // FILTER (WHERE leaf-pred) — SQL:2003 clause on the DuckDB
        // side, when(pred, input) conditional aggregation on the
        // Column-API side (see AggCol scaladoc for the equivalence)
        val groups =
          if (rnd.nextInt(10) < 2) Seq.empty
          else Seq.fill(1 + rnd.nextInt(2))(pick(keyCols)).distinct
        val nAggs = 1 + rnd.nextInt(3)
        val aggs = (0 until nAggs).map { i =>
          val base = rnd.nextInt(7) match {
            case 0 => AggCol("count*", None, s"a$i")
            case 1 => AggCol("count", Some(pick(cols)), s"a$i")
            case 2 => AggCol("sum", Some(pick(numCols)), s"a$i")
            case 3 => AggCol("avg", Some(pick(numCols)), s"a$i")
            case 4 => AggCol("min", Some(pick(cols)), s"a$i")
            case 5 => AggCol("max", Some(pick(cols)), s"a$i")
            case _ =>
              AggCol("count_distinct", Some(pick(cols)), s"a$i")
          }
          if (i == 0 || rnd.nextInt(10) < 5)
            base.copy(filter = Some(genLeafPredOver(cols)))
          else base
        }
        Agg(groups, aggs)
      case _ =>
        // string-function projections (round-14 continuation):
        // SUBSTR(c, pos, len) with positive args plus LOWER/LTRIM/
        // RTRIM — the dialect-shared subset (see SubstrCol scaladoc
        // for the negative-position divergence kept OUT of the
        // grammar), mixed with the ordinary projection pool
        def genStrOut(i: Int): OutCol =
          if (strCols.isEmpty) genOutCol(i)
          else rnd.nextInt(6) match {
            case 0 | 1 =>
              SubstrCol(pick(strCols), 1 + rnd.nextInt(3),
                1 + rnd.nextInt(4), s"c$i")
            case 2 | 3 =>
              FuncCol(pick(Seq("lower", "ltrim", "rtrim")),
                pick(strCols), s"c$i")
            case _ => genOutCol(i)
          }
        Proj((0 until (2 + rnd.nextInt(3))).map(genStrOut),
          distinct = rnd.nextInt(10) < 3)
    }

    // ORDER BY + LIMIT over a float-free total order (all output
    // aliases, shuffled, each asc or desc) — see determinism notes
    def outKind(o: OutCol): Char = o match {
      case PlainCol(c, _) => c.kind
      case ArithCol(a, _, b, _) =>
        if (a.kind == 'D' || b.kind == 'D') 'D' else 'L'
      case CaseCol(_, _) => 'L'
      case FuncCol("length", _, _) => 'L'
      case FuncCol("upper", _, _) => 'S'
      case FuncCol(_, c, _) => c.kind
      case SubstrCol(_, _, _, _) => 'S'
      case CoalesceCol(c, _, _) => c.kind
      case NullIfCol(c, _, _) => c.kind
      case TimeFuncCol(_, _) => 'L'
      case _: ScalarSubCol | _: CorrSubCol => 'L' // viaSql-only
    }
    def aggKind(a: AggCol): Char = a.func match {
      case "count*" | "count" | "count_distinct" => 'L'
      case "sum" => if (a.col.get.kind == 'D') 'D' else 'L'
      case "avg" => 'D'
      case _ => a.col.get.kind
    }
    val outAliases: Option[Seq[(String, Char)]] = shape match {
      case Proj(cs, _) => Some(cs.map(o => o.alias -> outKind(o)))
      case SetOp(cs, _, _, _) => Some(cs.map(o => o.alias -> outKind(o)))
      case Agg(gs, as0, _, ges, _) => Some(
        gs.zipWithIndex.map { case (g, i) => s"g$i" -> g.kind } ++
          ges.zipWithIndex.map { case (ge, j) =>
            s"g${gs.size + j}" ->
              (if (ge.kind == "prefix") 'S' else 'L') } ++
          as0.map(a => a.alias -> aggKind(a)))
      case Rollup(gs, as0, _) => Some(
        gs.zipWithIndex.map { case (g, i) => s"g$i" -> g.kind } ++
          gs.indices.map(i => s"gb$i" -> 'L') ++
          as0.map(a => a.alias -> aggKind(a)))
      case _ => None
    }
    val orderLimit = outAliases match {
      case Some(ak) if ak.forall(_._2 != 'D') && rnd.nextInt(10) < 3 =>
        val perm = rnd.shuffle(ak.map(_._1).toList)
        Some((perm.map(a => (a, rnd.nextBoolean())),
          1 + rnd.nextInt(50)))
      case _ => None
    }

    FuzzQuery(seed, present.head, joins, preds, shape, semis,
      orderLimit, joinOnPreds, corrScalars)
  }

  /** The viaSql family (round 14): one dialect-shared SQL text run
    * through BOTH spark.sql and DuckDB, reaching the subquery
    * placements the Column API cannot express —
    *
    *  - `p OR [NOT] EXISTS (...)` / `p OR k IN (SELECT ...)`:
    *    non-conjunctive existentials, which Catalyst plans as an
    *    ExistenceJoin (a marker-joined disjunct) instead of the
    *    left_semi/left_anti the conjunctive [[Semi]] axis covers;
    *  - scalar subqueries in the SELECT list, uncorrelated
    *    ([[ScalarSubCol]]) and correlated ([[CorrSubCol]] — Catalyst
    *    decorrelates to a left outer aggregate join, NULL/0 for
    *    empty key groups);
    *  - TRUE `HAVING <agg> >= (SELECT ...)` ([[Agg.havingSub]]).
    *
    * Grammar restricted to the dialect-shared subset: INNER joins,
    * Cmp/InList/Between/LikePrefix/NullCheck leaves, integral-exact
    * scalar funcs — no EXTRACT, no IS DISTINCT FROM, no dialect-
    * divergent rendering anywhere, so a divergence is a PLANNER
    * disagreement, never a text-dialect artifact.
    */
  private def genViaSql(seed: Int, rnd: scala.util.Random,
                        pools: Map[(String, String), IndexedSeq[Any]])
      : FuzzQuery = {
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def litOf(c: ColDef): Any = {
      val pool = pools((c.table, c.name))
      pool(rnd.nextInt(pool.size))
    }
    // base + 0..2 INNER joins (events excluded: ts-free subset)
    val nJoins = rnd.nextInt(3)
    var present = Vector.empty[String]
    var joins = Vector.empty[JoinUse]
    if (nJoins == 0) {
      present = Vector(pick(tables.keys.toSeq.sorted
        .filterNot(_ == "events")))
    } else {
      val e1 = pick(joinEdges)
      present = Vector(e1._1, e1._3)
      joins = Vector((e1._1, e1._2, e1._3, e1._4, "inner"))
      (1 until nJoins).foreach { _ =>
        val cands = joinEdges.filter(e =>
          present.contains(e._1) && !present.contains(e._3))
        if (cands.nonEmpty) {
          val e = pick(cands)
          present = present :+ e._3
          joins = joins :+ ((e._1, e._2, e._3, e._4, "inner"))
        }
      }
    }
    val cols = present.flatMap(tables(_))
    val numCols = cols.filter(_.isNum)
    val keyCols = cols.filter(c => c.kind != 'D')
    def sharedLeafOver(over: Seq[ColDef]): Pred = {
      val overStr = over.filter(_.kind == 'S')
      rnd.nextInt(10) match {
        case n if n < 4 =>
          val c = pick(over)
          Cmp(c, pick(Seq("<", "<=", ">", ">=", "=", "<>")), litOf(c))
        case n if n < 6 =>
          val c = pick(over)
          val pool = pools((c.table, c.name))
          val k = 1 + rnd.nextInt(math.min(4, pool.size))
          InList(c, Seq.fill(k)(pool(rnd.nextInt(pool.size))).distinct)
        case n if n < 7 && overStr.nonEmpty =>
          val c = pick(overStr)
          val v = litOf(c).toString
          val pre = v.take(1 + rnd.nextInt(
            math.min(4, math.max(1, v.length))))
            .filterNot(ch => ch == '%' || ch == '_' || ch == '\'')
          if (pre.nonEmpty) LikePrefix(c, pre)
          else Cmp(c, "=", litOf(c))
        case n if n < 8 =>
          val c = pick(over)
          val (a, b) = (litOf(c), litOf(c))
          val (lo, hi) = (a, b) match {
            case (x: String, y: String) =>
              if (x <= y) (a, b) else (b, a)
            case _ =>
              def d(v: Any): Double = v match {
                case l: Long => l.toDouble
                case i: Int => i.toDouble
                case x: Double => x
                case o => o.toString.toDouble
              }
              if (d(a) <= d(b)) (a, b) else (b, a)
          }
          Between(c, lo, hi)
        case n if n < 9 && numCols.nonEmpty =>
          ScalarCmp(pick(over.filter(_.isNum)),
            pick(Seq("<", "<=", ">", ">=")),
            pick(Seq("min", "max")), pick(allIntegralCols))
        case _ => NullCheck(pick(over), isNull = rnd.nextBoolean())
      }
    }
    def existsSemi(): Option[Semi] = {
      val cands = joinEdges.filter(e =>
        present.contains(e._1) && !present.contains(e._3))
      if (cands.isEmpty) None
      else {
        val e = pick(cands)
        val innerPred =
          if (rnd.nextBoolean()) Some(sharedLeafOver(tables(e._3)))
          else None
        Some(Semi(e._1, e._2, e._3, e._4,
          negated = rnd.nextInt(10) < 4, pred = innerPred,
          asIn = rnd.nextInt(10) < 3))
      }
    }
    // the family's core: an existential inside a disjunction
    val orExists: Seq[Pred] =
      if (rnd.nextInt(10) < 8) existsSemi().map { s =>
        val tree = rnd.nextInt(10) match {
          case n if n < 6 =>
            Bin(sharedLeafOver(cols), ExistsPred(s), and = false)
          case n if n < 8 =>
            // two existentials OR'd: two ExistenceJoins in one filter
            existsSemi() match {
              case Some(s2) =>
                Bin(ExistsPred(s), ExistsPred(s2), and = false)
              case None =>
                Bin(sharedLeafOver(cols), ExistsPred(s), and = false)
            }
          case _ =>
            NotP(Bin(sharedLeafOver(cols), ExistsPred(s), and = false))
        }
        Seq(tree)
      }.getOrElse(Seq.empty)
      else Seq.empty
    val plainPreds = Seq.fill(rnd.nextInt(2))(sharedLeafOver(cols))
    val preds = plainPreds ++ orExists
    def corrSub(alias: String): Option[OutCol] = {
      val cands = joinEdges.filter(e => present.contains(e._1))
      val preferred = cands.filter(e => !present.contains(e._3))
      val pool = if (preferred.nonEmpty) preferred else cands
      if (pool.isEmpty) None
      else {
        val e = pick(pool)
        val func = pick(Seq("min", "max", "count"))
        val innerInts = tables(e._3).filter(_.isIntegral)
        val inner =
          if (func == "count") innerInts.head else pick(innerInts)
        Some(CorrSubCol(CorrScalar(e._1, e._2, e._3, e._4,
          numCols.headOption.getOrElse(cols.head), ">=", func, inner),
          alias))
      }
    }
    def genOut(i: Int): OutCol = rnd.nextInt(10) match {
      case n if n < 4 => PlainCol(pick(cols), s"c$i")
      case n if n < 6 && numCols.nonEmpty =>
        ArithCol(pick(numCols), pick(Seq("+", "-", "*")),
          pick(numCols), s"c$i")
      case n if n < 8 =>
        ScalarSubCol(pick(Seq("min", "max")), pick(allIntegralCols),
          s"c$i")
      case _ =>
        corrSub(s"c$i").getOrElse(PlainCol(pick(cols), s"c$i"))
    }
    val shape: Shape =
      if (rnd.nextBoolean()) {
        Proj((0 until (2 + rnd.nextInt(2))).map(genOut),
          distinct = rnd.nextInt(10) < 2)
      } else {
        val groups = Seq.fill(1 + rnd.nextInt(2))(pick(keyCols)).distinct
        val nAggs = 1 + rnd.nextInt(3)
        val aggs = (0 until nAggs).map { i =>
          rnd.nextInt(6) match {
            case 0 => AggCol("count*", None, s"a$i")
            case 1 => AggCol("count", Some(pick(cols)), s"a$i")
            case 2 => AggCol("sum", Some(pick(numCols)), s"a$i")
            case 3 => AggCol("min", Some(pick(cols)), s"a$i")
            case 4 => AggCol("max", Some(pick(cols)), s"a$i")
            case _ => AggCol("avg", Some(pick(numCols)), s"a$i")
          }
        }
        val havingSub = aggs.find(_.func.startsWith("count"))
          .filter(_ => rnd.nextInt(10) < 5)
          .map(a => (a.alias, pick(Seq("min", "max")),
            pick(allIntegralCols)))
        Agg(groups, aggs, None, Seq.empty, havingSub)
      }
    def outKindV(o: OutCol): Char = o match {
      case PlainCol(c, _) => c.kind
      case ArithCol(a, _, b, _) =>
        if (a.kind == 'D' || b.kind == 'D') 'D' else 'L'
      case _: ScalarSubCol | _: CorrSubCol => 'L'
      case _ => 'D' // not generated here; exclude from ORDER BY
    }
    def aggKindV(a: AggCol): Char = a.func match {
      case "count*" | "count" => 'L'
      case "sum" => if (a.col.get.kind == 'D') 'D' else 'L'
      case "avg" => 'D'
      case _ => a.col.get.kind
    }
    val outAliases: Seq[(String, Char)] = shape match {
      case Proj(cs, _) => cs.map(o => o.alias -> outKindV(o))
      case Agg(gs, as0, _, _, _) =>
        gs.zipWithIndex.map { case (g, i) => s"g$i" -> g.kind } ++
          as0.map(a => a.alias -> aggKindV(a))
      case _ => Seq.empty
    }
    val orderLimit =
      if (outAliases.forall(_._2 != 'D') && rnd.nextInt(10) < 5) {
        val perm = rnd.shuffle(outAliases.map(_._1).toList)
        Some((perm.map(a => (a, rnd.nextBoolean())),
          1 + rnd.nextInt(50)))
      } else None
    FuzzQuery(seed, present.head, joins, preds, shape,
      semis = Seq.empty, orderLimit = orderLimit, viaSql = true)
  }
}
