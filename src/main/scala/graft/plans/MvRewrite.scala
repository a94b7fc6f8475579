package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Materialized-view rewrite — the Calcite-style optimization that turns
  * an aggregate over a registered base projection into an aggregate over
  * its pre-computed summary table when the query's groupings are a
  * subset of the MV dimensions and its aggregates are MV-derivable:
  *
  *   count(const)         → sum(mv.count_col)   (coalesced to 0 when the
  *                          aggregate is UNGROUPED — sum over an empty
  *                          summary is NULL where count must be 0)
  *   sum(dim-less metric) → sum(mv.sum_col), cast back to the original
  *                          aggregate's type when re-summing widens it
  *                          (decimal sum-of-sums gains 10 digits)
  *   min / max (metric)   → min / max (mv.min_col / mv.max_col)
  *
  * Scope (deliberately conservative — a missed match is only a missed
  * speedup, never a wrong answer):
  *   - the query subtree under the Aggregate must be the registered base
  *     plan or a COLUMN-PRUNED view of it: only Project/SubqueryAlias
  *     nodes above the same leaf, every projected expression identified
  *     BY exprId with one of the base's outputs (Catalyst's column
  *     pruning preserves exprIds, so a pruned base still matches; an
  *     unrelated-but-similar plan never does);
  *   - a registered base may itself be an INNER JOIN (the star-schema
  *     MV): the matcher recurses structurally through Join nodes,
  *     matching each side independently (either orientation — the join
  *     reorderer may swap them) and the join conditions semantically
  *     after normalizing attributes by name across the matched leaves;
  *   - Filters between the Aggregate and the leaves are allowed iff
  *     DIMENSION-ONLY: each condition, fully expanded to leaf attributes
  *     (the form predicate pushdown leaves it in) and with every
  *     subexpression canonically equal to a dim's definition replaced by
  *     the MV's dim column, must reference only MV attributes; it is
  *     then re-applied over the summary before rolling up. A condition
  *     touching any non-dim column blocks the rewrite. No Window;
  *   - groupings must be bare attributes of the MV's dimension set;
  *   - DISTINCT / FILTER-clause aggregates never match.
  *
  * When SEVERAL registered MVs match the same aggregate (hourly and
  * daily rollups over one base), the one with the FEWEST summary rows
  * (recorded at registration) wins — registration order never decides.
  *
  * Output attribute identity is preserved by re-aliasing every rewritten
  * expression under the ORIGINAL exprId, so parents resolve unchanged.
  * Exactness: count→sum-of-counts and sum→sum-of-partial-sums are
  * integer-associative; min/max idempotent — the rewrite is value-exact,
  * which the sql_mv_rewrite oracle (computed from the RAW table by
  * DuckDB) proves end to end.
  *
  * 100 TB shape: this is THE lever for repeated dashboard aggregates —
  * the rollup reads |dims| rows instead of the corpus. Registered via
  * `spark.experimental.extraOptimizations` (session-attachable at
  * runtime; no SparkSessionExtensions rebuild needed); the catalog is
  * scoped PER SparkSession, so two sessions sharing one JVM never see
  * each other's registrations.
  */
object MvCatalog {
  final case class MvDef(
      owner: Option[String],        // DDL view name that registered it (None = API)
      base: LogicalPlan,            // analyzed plan of the registered base projection
      mv: LogicalPlan,              // analyzed plan of the summary scan
      dims: Set[String],            // MV dimension column names (on both sides)
      countCol: String,             // MV column holding per-cell row counts
      sumMap: Map[String, String],  // base metric name -> MV sum column
      minMap: Map[String, String],
      maxMap: Map[String, String],
      rows: Long) {                 // summary row count at registration (cost pick)
    /** Canonicalized hashes of the base's leaf relations — the cheap
      * structural pre-filter the rewrite rule consults before the full
      * matchesBase walk. A match requires every leaf under the query's
      * Aggregate to be sameResult-equal to one of these leaves, and
      * sameResult is canonicalized equality, so equal hashes are a
      * NECESSARY condition (a hash collision only falls through to the
      * slow path — never a missed rewrite). Computed once per
      * registration, not per query.
      */
    lazy val leafHashes: Set[Int] =
      base.collectLeaves().map(_.canonicalized.hashCode).toSet
  }

  /** DDL bookkeeping for one named MV: defining SQL, summary dir, base
    * plan, and the manifest of base data files the summary was computed
    * from (path → (length, mtime)) — the incremental-REFRESH delta
    * detector. */
  final case class NamedMv(sql: String, dir: String, base: LogicalPlan,
                           manifest: Map[String, (Long, Long)],
                           mergeable: Boolean)

  private final class State {
    val defs = new java.util.concurrent.CopyOnWriteArrayList[MvDef]()
    val named = new java.util.concurrent.ConcurrentHashMap[String, NamedMv]()
  }
  // Weak keys: a stopped/collected session's registrations die with it.
  private val states = new java.util.WeakHashMap[SparkSession, State]()
  private def state(s: SparkSession): State = states.synchronized {
    var st = states.get(s)
    if (st == null) { st = new State; states.put(s, st) }
    st
  }

  def remember(s: SparkSession, name: String, m: NamedMv): Unit =
    state(s).named.put(name, m)
  def recall(s: SparkSession, name: String): Option[NamedMv] =
    Option(state(s).named.get(name))

  /** Unregister ONLY the defs this name owns — an unrelated MV over the
    * same base (hourly vs daily rollup, or an API registration) must
    * survive a DROP/REFRESH of its sibling. */
  def forget(s: SparkSession, name: String): Unit = {
    val st = state(s)
    val it = st.defs.iterator()
    while (it.hasNext) {
      val e = it.next(); if (e.owner.contains(name)) st.defs.remove(e)
    }
    st.named.remove(name)
  }

  /** Replaces a previous registration of the SAME view (by owner name)
    * or the same (base, dims) rollup; distinct rollups over one base
    * coexist (the cost-based pick chooses among them). */
  def register(s: SparkSession, d: MvDef): Unit = {
    val st = state(s)
    val it = st.defs.iterator()
    while (it.hasNext) {
      val e = it.next()
      val sameOwner = d.owner.isDefined && e.owner == d.owner
      val sameRollup = e.base.sameResult(d.base) && e.dims == d.dims
      if (sameOwner || sameRollup) st.defs.remove(e)
    }
    st.defs.add(d)
  }
  def all(s: SparkSession): Seq[MvDef] = {
    import scala.jdk.CollectionConverters._
    state(s).defs.asScala.toSeq
  }
  def clear(s: SparkSession): Unit = {
    val st = state(s); st.defs.clear(); st.named.clear()
  }
}

/** The per-session optimizer rule: matches aggregates against THIS
  * session's MV catalog. Instantiated (once) by [[Mv.enable]]. */
final class MvRewriteRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Round-13 fast exits (the rule runs in EVERY query's optimizer once
    // any MV is registered in the session — the bench shares one session
    // across the whole suite, so planning overhead here taxes all 570
    // queries): (a) empty catalog → untouched plan, no traversal; (b) per
    // Aggregate, the canonicalized leaf-hash subset test rejects plans
    // over unrelated relations before the expensive matchesBase walk.
    val defs = MvCatalog.all(session)
    if (defs.isEmpty) return plan
    plan.transform {
      case agg: Aggregate =>
        val qLeafHashes =
          agg.child.collectLeaves().map(_.canonicalized.hashCode).toSet
        val candidates = defs
          .filter(d => qLeafHashes.subsetOf(d.leafHashes))
          .flatMap(d => MvRewrite.rewrite(agg, d).map(d.rows -> _))
        // cost-based pick: the smallest summary that serves the query
        if (candidates.isEmpty) agg else candidates.minBy(_._1)._2
    }
  }
}

object MvRewrite extends PredicateHelper {

  private def leaf(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, c) => leaf(c)
    case SubqueryAlias(_, c) => leaf(c)
    case v: View => leaf(v.child)
    case other => other
  }

  /** Fully expand every attribute of `p`'s output down to the leaf's
    * attributes by substituting alias definitions through each Project —
    * the same form predicate pushdown leaves filter conditions in, so
    * dim definitions and pushed conditions become canonically comparable.
    * Joins merge both sides' environments.
    */
  private def expansions(p: LogicalPlan): Map[ExprId, Expression] = p match {
    case Project(pl, c) =>
      val below = expansions(c)
      pl.map { ne =>
        val expanded = ne match {
          case al: Alias => al.child.transformUp {
            case a: AttributeReference => below.getOrElse(a.exprId, a)
          }
          case a: AttributeReference => below.getOrElse(a.exprId, a)
          case other => other
        }
        ne.exprId -> expanded
      }.toMap
    case SubqueryAlias(_, c) => expansions(c)
    case v: View => expansions(v.child)
    case Filter(_, c) => expansions(c)
    case j: Join => expansions(j.left) ++ expansions(j.right)
    case l => l.output.map(a => a.exprId -> (a: Expression)).toMap
  }

  /** Constant-fold foldable subtrees, swapping RuntimeReplaceable
    * (to_date, …) for its replacement first so the fold can evaluate —
    * registered bases are ANALYZED plans while matched subtrees arrive
    * OPTIMIZED (already folded), and canonical comparison needs both in
    * the folded form.
    */
  private def foldE(e: Expression): Expression = e.transformUp {
    case rr: RuntimeReplaceable => rr.replacement
  }.transformUp {
    case f if f.foldable && f.deterministic =>
      Literal.create(f.eval(), f.dataType)
  }

  /** child is the base or a column-pruning of it — possibly with Filters
    * in between (predicate pushdown moves them around freely), and with
    * the base's Join structure mirrored when the MV is a star summary.
    * Returns (filter conditions, matched join conditions), each FULLY
    * EXPANDED to leaf attributes, when the shape matches; None otherwise.
    * The join conditions are needed to clear optimizer-inferred
    * IsNotNull(join key) filters: the MV's own inner equi-join already
    * rejects null keys, so those conjuncts are redundant over the summary.
    */
  private def matchesBase(child: LogicalPlan, base: LogicalPlan)
      : Option[(Seq[Expression], Seq[Expression])] = {
    if (child.sameResult(base)) return Some((Nil, Nil))
    val baseIds: Set[ExprId] = (base.collect {
      case p: Project => p.projectList.map(_.exprId)
    }.flatten ++ base.collectLeaves().flatMap(_.output.map(_.exprId)) ++
      base.output.map(_.exprId)).toSet
    // name + folded-expansion fallback: a temp view re-resolved in a NEW
    // SQL statement mints fresh alias exprIds (only relation attributes
    // keep theirs), so a by-id match fails across statements even though
    // the projection is semantically the registered base's
    lazy val baseDefsByName: Map[String, Expression] = {
      val env = expansions(base)
      base.output.map(a => a.name -> foldE(env(a.exprId))).toMap
    }
    def projOk(pl: Seq[NamedExpression], c: LogicalPlan): Boolean =
      pl.forall(ne => baseIds.contains(ne.exprId)) || {
        val env = expansions(c)
        pl.forall { ne =>
          baseDefsByName.get(ne.name).exists { bd =>
            val expanded = ne match {
              case al: Alias => al.child.transformUp {
                case a: AttributeReference => env.getOrElse(a.exprId, a)
              }
              case a: AttributeReference => env.getOrElse(a.exprId, a)
              case other => other
            }
            bd.semanticEquals(foldE(expanded))
          }
        }
      }
    // Strip name-only wrappers (and column prunings that carry base
    // exprIds) off the BASE side so a query Join can be compared against
    // a base registered under aliases/views.
    def stripB(b: LogicalPlan): LogicalPlan = b match {
      case SubqueryAlias(_, c) => stripB(c)
      case v: View => stripB(v.child)
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => stripB(c)
      case other => other
    }
    /** Join conditions are compared after expanding both to their leaf
      * attributes and mapping the BASE side's attributes onto the QUERY
      * side's BY NAME across the matched subtrees — exprIds differ when
      * a view re-resolves, but the matched leaves are the same relations
      * so names correspond. Ambiguous (duplicated) names abort the match.
      */
    def condsEqual(qSide: LogicalPlan, bSide: LogicalPlan,
                   qc: Expression, bc: Expression): Boolean = {
      val qLeafAttrs = qSide.collectLeaves().flatMap(_.output)
      if (qLeafAttrs.map(_.name).distinct.length != qLeafAttrs.length) return false
      val byName = qLeafAttrs.map(a => a.name -> a).toMap
      val qExp = foldE(qc.transformUp {
        case a: AttributeReference => expansions(qSide).getOrElse(a.exprId, a)
      })
      val bExpMapped = foldE(bc.transformUp {
        case a: AttributeReference => expansions(bSide).getOrElse(a.exprId, a)
      }).transformUp {
        case a: AttributeReference => byName.getOrElse(a.name, a)
      }
      qExp.semanticEquals(bExpMapped)
    }
    def walk(p: LogicalPlan, b: LogicalPlan)
        : Option[(Seq[Expression], Seq[Expression])] = p match {
      case Project(pl, c) if projOk(pl, c) => walk(c, b)
      case SubqueryAlias(_, c) => walk(c, b)
      case v: View => walk(v.child, b)
      case Filter(cond, c) =>
        walk(c, b).map { case (rest, js) =>
          val env = expansions(c)
          (cond.transformUp {
            case a: AttributeReference => env.getOrElse(a.exprId, a)
          } +: rest, js)
        }
      case jq: Join if jq.joinType == Inner =>
        stripB(b) match {
          case jb: Join if jb.joinType == Inner =>
            def trySides(ql: LogicalPlan, qr: LogicalPlan)
                : Option[(Seq[Expression], Seq[Expression])] =
              (jq.condition, jb.condition) match {
                case (Some(qc), Some(bc)) =>
                  for {
                    (lc, lj) <- walk(ql, jb.left)
                    (rc, rj) <- walk(qr, jb.right)
                    if condsEqual(jq, jb, qc, bc)
                  } yield {
                    val env = expansions(jq)
                    val qcExp = qc.transformUp {
                      case a: AttributeReference => env.getOrElse(a.exprId, a)
                    }
                    (lc ++ rc, qcExp +: (lj ++ rj))
                  }
                case (None, None) =>
                  for { (lc, lj) <- walk(ql, jb.left)
                        (rc, rj) <- walk(qr, jb.right) }
                    yield (lc ++ rc, lj ++ rj)
                case _ => None
              }
            trySides(jq.left, jq.right).orElse(trySides(jq.right, jq.left))
          case _ => None
        }
      case l if l.sameResult(leaf(b)) => Some((Nil, Nil))
      case _ => None
    }
    walk(child, base)
  }

  private def dbg(msg: => String): Unit =
    if (sys.env.contains("GRAFT_MV_DEBUG")) System.err.println(s"[mv] $msg")

  private[graft] def rewrite(agg: Aggregate, d: MvCatalog.MvDef): Option[Aggregate] = {
    val (conds, joinConds) = matchesBase(agg.child, d.base) match {
      case None => dbg(s"no base match for child:\n${agg.child.treeString}base:\n${d.base.treeString}"); return None
      case Some(cs) => cs
    }
    val mvOut = d.mv.output.map(a => a.name -> a).toMap
    // A filter is rollup-safe iff, after replacing every subexpression
    // that canonically equals a DIM's fully-expanded definition with the
    // MV's dim attribute, it references ONLY MV attributes (a residual
    // base reference means it constrains a non-dim column — no rewrite).
    val dimDefs: Seq[(Expression, Expression)] = {
      val env = expansions(d.base)
      d.base.output.collect {
        case a if d.dims.contains(a.name) && mvOut.contains(a.name) =>
          val defE = foldE(env(a.exprId))
          val direct: Seq[(Expression, Expression)] =
            Seq(defE -> (mvOut(a.name): Expression))
          // UnwrapCastInBinaryComparison strips an up-cast off pushed
          // conditions (cast(x as bigint) <= 10L becomes x <= 10), so a
          // dim defined as an up-cast must ALSO match its cast-free
          // inner form; the inverse down-cast is exact because every MV
          // value came through the up-cast
          val unwrapped = defE match {
            case c: Cast if Cast.canUpCast(c.child.dataType, c.dataType) =>
              Seq(c.child -> (Cast(mvOut(a.name), c.child.dataType): Expression))
            case _ => Nil
          }
          direct ++ unwrapped
      }.flatten
    }
    def substitute(c: Expression): Option[Expression] = {
      val sub = c.transformDown {
        case e if dimDefs.exists(_._1.semanticEquals(e)) =>
          dimDefs.find(_._1.semanticEquals(e)).get._2
      }
      if (sub.references.subsetOf(AttributeSet(d.mv.output))) Some(sub) else None
    }
    // c rejects null-a rows: every path from c's root to an occurrence of
    // `a` goes through nullIntolerant nodes only (null in ⇒ null out ⇒
    // the filter drops the row), so an IsNotNull(a) conjunct is implied
    val conjuncts = conds.flatMap(splitConjunctivePredicates)
    def nullRejects(c: Expression, a: Attribute): Boolean = {
      def walk(e: Expression): Boolean =
        e match {
          case att: Attribute => att.semanticEquals(a)
          case _ if !e.references.contains(a) => true
          case _ =>
            e.nullIntolerant &&
              e.children.filter(_.references.contains(a)).forall(walk)
        }
      c.references.contains(a) && walk(c)
    }
    val mvConds = conjuncts.map { c =>
      substitute(c) match {
        case Some(sub) => Some(Some(sub))
        case None => c match {
          case _ if { dbg(s"conjunct not substitutable: $c ; dimDefs=${dimDefs.map(_._1).mkString(" | ")}"); false } => None
          // inferred/redundant IsNotNull on a column feeding a dim:
          // droppable iff a retained substitutable conjunct already
          // rejects nulls of that column — or the MATCHED inner join
          // condition does (constraint inference adds IsNotNull on join
          // keys, which the MV's own equi-join already rejected)
          case IsNotNull(a: Attribute)
              if conjuncts.exists(o => !o.semanticEquals(c) &&
                   substitute(o).isDefined && nullRejects(o, a)) ||
                 joinConds.exists(j => nullRejects(j, a)) =>
            Some(None)
          case _ => None
        }
      }
    }
    if (mvConds.exists(_.isEmpty)) { dbg("blocked by non-dim conjunct"); return None }
    // groupings: bare attributes within the dimension set
    val gAttrs = agg.groupingExpressions.map {
      case a: AttributeReference if d.dims.contains(a.name) && mvOut.contains(a.name) => Some(a)
      case _ => None
    }
    if (gAttrs.exists(_.isEmpty)) return None
    val cnt = mvOut.getOrElse(d.countCol, return None)

    def mapFn(f: AggregateFunction): Option[AggregateFunction] = f match {
      case c: Count if c.children.nonEmpty &&
          c.children.forall(e => e.foldable && e.eval() != null) =>
        Some(Sum(cnt))
      case s: Sum => s.child match {
        case a: AttributeReference if d.sumMap.contains(a.name) &&
            mvOut.contains(d.sumMap(a.name)) =>
          Some(Sum(mvOut(d.sumMap(a.name))))
        case _ => None
      }
      case m: Min => m.child match {
        case a: AttributeReference if d.minMap.contains(a.name) &&
            mvOut.contains(d.minMap(a.name)) =>
          Some(Min(mvOut(d.minMap(a.name))))
        case _ => None
      }
      case m: Max => m.child match {
        case a: AttributeReference if d.maxMap.contains(a.name) &&
            mvOut.contains(d.maxMap(a.name)) =>
          Some(Max(mvOut(d.maxMap(a.name))))
        case _ => None
      }
      case _ => None
    }

    /** Roll one aggregate call up onto the summary, preserving the
      * original output type exactly:
      *  - UNGROUPED count must stay 0 on an empty (or fully dim-filtered)
      *    summary — Sum returns NULL there, so coalesce it;
      *  - re-summing a decimal sum widens precision (p+10 → p+20); cast
      *    the rollup back so the output attribute's dataType is stable
      *    mid-optimization (parents already resolved against it).
      */
    def rolled(ag: AggregateExpression, nf: AggregateFunction): Expression = {
      val ae2 = ag.copy(aggregateFunction = nf)
      val orig: DataType = ag.aggregateFunction.dataType
      val base: Expression = if (nf.dataType == orig) ae2 else Cast(ae2, orig)
      ag.aggregateFunction match {
        case _: Count if agg.groupingExpressions.isEmpty =>
          Coalesce(Seq(base, Literal(0L)))
        case _ => base
      }
    }

    def mapNamed(ne: NamedExpression): Option[NamedExpression] = ne match {
      case a: AttributeReference if d.dims.contains(a.name) =>
        Some(Alias(mvOut(a.name), a.name)(exprId = a.exprId))
      case al: Alias => al.child match {
        // count(DISTINCT x): servable iff x is ITSELF an MV dimension and
        // the MV's dims are EXACTLY the query's groupings plus x — then
        // the (dim-filtered) summary holds one row per surviving
        // (group, x) pair, so a plain null-skipping Count of the
        // summary's x column IS the distinct count (count(distinct x)
        // skips base NULLs; so does Count over the summary's NULL-x
        // row). An MV with any EXTRA dim would duplicate (group, x)
        // pairs across that dim's values — no rewrite.
        case ag: AggregateExpression if ag.filter.isEmpty && ag.isDistinct =>
          ag.aggregateFunction match {
            case c: Count => c.children match {
              case Seq(a: AttributeReference)
                  if d.dims.contains(a.name) && mvOut.contains(a.name) &&
                     d.dims == gAttrs.flatten.map(_.name).toSet + a.name =>
                Some(Alias(
                  ag.copy(aggregateFunction = Count(Seq(mvOut(a.name))),
                          isDistinct = false),
                  al.name)(exprId = al.exprId))
              case _ => None
            }
            case _ => None
          }
        case ag: AggregateExpression if ag.filter.isEmpty && !ag.isDistinct =>
          ag.aggregateFunction match {
            // avg(metric) → sum(sum_col) / sum(count_col). NOTE: Spark's
            // Average over integral input accumulates a DOUBLE sum
            // (merge-order-dependent); the rewrite divides the EXACT
            // integer rollup sums instead — deterministic and at least
            // as accurate, asserted within 1e-6 relative in the spec.
            // DOUBLE-typed averages only: a decimal Average's output
            // scale arithmetic is not reproduced here.
            case av: Average if av.dataType == DoubleType => av.child match {
              case a: AttributeReference if d.sumMap.contains(a.name) &&
                  mvOut.contains(d.sumMap(a.name)) =>
                val sumE = ag.copy(aggregateFunction = Sum(mvOut(d.sumMap(a.name))))
                val cntE = AggregateExpression(Sum(cnt), ag.mode, isDistinct = false)
                Some(Alias(
                  Divide(Cast(sumE, DoubleType), Cast(cntE, DoubleType)),
                  al.name)(exprId = al.exprId))
              case _ => None
            }
            case f => mapFn(f).map(nf =>
              Alias(rolled(ag, nf), al.name)(exprId = al.exprId))
          }
        case a: AttributeReference if d.dims.contains(a.name) =>
          Some(Alias(mvOut(a.name), al.name)(exprId = al.exprId))
        case _ => None
      }
      case _ => None
    }

    val newAe = agg.aggregateExpressions.map(mapNamed)
    if (newAe.exists(_.isEmpty)) return None
    val newGe: Seq[Expression] = gAttrs.flatten.map(a => mvOut(a.name))
    val mvChild = mvConds.map(_.get).flatten match {
      case Nil => d.mv
      case cs => Filter(cs.reduce(And), d.mv)
    }
    Some(Aggregate(newGe, newAe.map(_.get), mvChild))
  }
}

/** User-facing registration: derive the MvDef FROM the defining
  * aggregate instead of hand-listing dims and metric mappings.
  *
  *   val base = spark.read.parquet(...).select(...)      // projection
  *   val defn = base.groupBy("d1", "d2").agg(count(lit(1)).as("n"),
  *                sum($"m").as("sm"), min($"m").as("mn"))
  *   defn.write.parquet(mvPath)
  *   Mv.register(base, defn, spark.read.parquet(mvPath))
  *
  * dims = the grouping attributes, countCol = the count(const) alias,
  * sum/min/max maps = each aggregate alias keyed by its input metric
  * column. Registration REQUIRES a count(const) alias (rollups of
  * counts and averages need it) and rejects definitions whose child is
  * not the given base. Aggregates beyond count/sum/min/max are simply
  * not derivable and are ignored for rewrite purposes (queries using
  * them won't match).
  */
object Mv {
  import org.apache.spark.sql.DataFrame

  def register(base: DataFrame, definition: DataFrame,
               summaryScan: DataFrame): Unit = {
    val basePlan = base.queryExecution.analyzed
    val agg = aggregateOf(definition.queryExecution.analyzed)
    require(agg.child.sameResult(basePlan),
      "the MV definition must aggregate the registered base directly")
    derive(base.sparkSession, agg, basePlan, summaryScan, owner = None)
  }

  /** DDL path (CREATE MATERIALIZED VIEW … AS <query>): the base is
    * whatever the defining aggregate computes over — no separate base
    * handle needed. The registration is tagged with the view name so
    * DROP/REFRESH of this view never unregisters a sibling MV over the
    * same base.
    */
  def registerFromDefinition(name: String, definition: DataFrame,
                             summaryScan: DataFrame): LogicalPlan = {
    val agg = aggregateOf(definition.queryExecution.analyzed)
    derive(definition.sparkSession, agg, agg.child, summaryScan,
           owner = Some(name))
    agg.child
  }

  /** True iff EVERY output of the defining aggregate is a grouping
    * pass-through or a mergeable (count/sum/min/max) aggregate — the
    * precondition for incremental REFRESH. */
  def isFullyMergeable(definition: DataFrame): Boolean =
    try shape(aggregateOf(definition.queryExecution.analyzed))._6
    catch { case _: IllegalArgumentException => false }

  private def aggregateOf(defPlan: LogicalPlan): Aggregate = defPlan match {
    case a: Aggregate => a
    case Project(_, a: Aggregate) => a
    case SubqueryAlias(_, c) => aggregateOf(c)
    case other => throw new IllegalArgumentException(
      s"MV definition must be an aggregate over the base, got:\n$other")
  }

  /** The (dims, countCol, sum/min/max maps) a defining aggregate yields —
    * shared by registration and by the incremental-REFRESH derivability
    * check (a definition is incrementally maintainable iff EVERY output
    * is a grouping pass-through or one of these mergeable aggregates).
    */
  private[graft] def shape(agg: Aggregate):
      (Set[String], Option[String], Map[String, String],
       Map[String, String], Map[String, String], Boolean) = {
    val dims = agg.groupingExpressions.map {
      case a: AttributeReference => a.name
      case other => throw new IllegalArgumentException(
        s"MV dimensions must be bare base columns, got: $other")
    }.toSet
    var countCol: Option[String] = None
    var sumMap = Map.empty[String, String]
    var minMap = Map.empty[String, String]
    var maxMap = Map.empty[String, String]
    var allMergeable = true
    agg.aggregateExpressions.foreach {
      case al @ Alias(ae: AggregateExpression, _)
          if ae.filter.isEmpty && !ae.isDistinct =>
        ae.aggregateFunction match {
          case c: Count if c.children.nonEmpty &&
              c.children.forall(e => e.foldable && e.eval() != null) =>
            countCol = Some(al.name)
          case Sum(a: AttributeReference, _) => sumMap += a.name -> al.name
          case Min(a: AttributeReference) => minMap += a.name -> al.name
          case Max(a: AttributeReference) => maxMap += a.name -> al.name
          case _ => allMergeable = false // not derivable — never matched
        }
      case a: AttributeReference if dims.contains(a.name) => () // pass-through
      case al: Alias if al.child.isInstanceOf[AttributeReference] &&
          dims.contains(al.child.asInstanceOf[AttributeReference].name) => ()
      case _ => allMergeable = false
    }
    (dims, countCol, sumMap, minMap, maxMap, allMergeable)
  }

  private def derive(spark: org.apache.spark.sql.SparkSession, agg: Aggregate,
                     basePlan: LogicalPlan, summaryScan: DataFrame,
                     owner: Option[String]): Unit = {
    val (dims, countCol, sumMap, minMap, maxMap, _) = shape(agg)
    require(countCol.isDefined,
      "the MV definition must include a count(lit(1)) column — count and " +
      "avg rollups derive from it")
    // the summary is |dims|-sized by construction; counting it once at
    // registration funds every later cost-based pick
    val rows = summaryScan.count()
    MvCatalog.register(spark, MvCatalog.MvDef(
      owner, basePlan, summaryScan.queryExecution.analyzed,
      dims, countCol.get, sumMap, minMap, maxMap, rows))
  }

  /** Attach the rewrite rule to this session (idempotent; the rule
    * instance is bound to the session's own catalog). */
  def enable(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[MvRewriteRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new MvRewriteRule(spark)
}
