package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  Cast, Coalesce, Divide, EqualTo, EvalMode, Expression, If, Literal,
  NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand,
  Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.types.DataType

/** Materialized-view rewrite — the one capability in the engine that
  * genuinely needs a custom Catalyst `Rule[LogicalPlan]` (SURVEY §4's
  * "none needed for §2" decision stands; this is the beyond-§2
  * warehouse tier): an aggregation written against a BASE table is
  * transparently re-planned onto a pre-aggregated view when the view
  * can answer it, the way warehouse engines serve dashboard rollups
  * without touching the fact table. At 100 TB the difference is a
  * full fact scan vs a read of |group cells| rows.
  *
  * Scope (every condition is checked, no partial rewrites): the query
  * is `Aggregate(G, out, scan(base))` or — the star-schema form —
  * `Aggregate(G, out, scan(base) ⋈_inner dim)` (attribute-only
  * Projects are looked through; filters over GROUPING columns commute
  * and apply to the view, row-level filters block), with G a subset of
  * the view's grouping columns plus any dim attributes, and every
  * output either a grouping attribute or an expression over covered
  * aggregates: SUM(x) → SUM(sum_partial); COUNT(*)/COUNT(x) →
  * SUM(count_partial) coalesced to 0; MIN/MAX re-extremize; AVG(x) →
  * SUM(sum_partial)/SUM(count_col_partial) (null-correct, the
  * derived-measure decomposition). Exactness: registered SUM inputs
  * carry their decimal cast (the money discipline) — decimal addition
  * is exact and order-independent, so partial-of-partials ≡ one-pass —
  * and the join form is exact under join multiplicity (each partial
  * scales by the same per-key match count a row-level join applies);
  * `mv_rewrite*`'s oracles hash-verify all of it against BASE-table
  * SQL.
  *
  * Output stability: the rewritten Aggregate reproduces the original
  * output attributes — same names, types, AND exprIds (every rewritten
  * column is an `Alias(..., name)(exprId = original)`) — so nothing
  * above the node (sorts, projections, the write) sees any change.
  * Installed via [[graft.GraftExtensions]] (`injectOptimizerRule`);
  * inert unless a view is registered for the scanned path, so the
  * other 200+ registry plans are untouched (views register against
  * dedicated base paths). `MatViewSpec` pins: the rewritten plan scans
  * ONLY the view, results equal the pre-registration run, and
  * filter/uncovered-agg/distinct shapes are NOT rewritten.
  *
  * This object holds the catalog, the rule and the maintenance merge
  * frames; views are built and maintained only through [[EpochMv]],
  * which publishes each frame as a manifest generation. */
object MatView {

  /** One covered aggregate: `func` ("sum" | "count" | "min" | "max")
    * over base column `inputCol` (cast to `castTo` when present — the
    * match is exact, a differently-cast sum is NOT covered), stored in
    * view column `mvCol`. A "count" with empty `inputCol` is COUNT(*)
    * (rows per cell — also the delete algebra's cell-liveness signal);
    * a "count" with a column is COUNT(col) (non-null rows), which is
    * what lets AVG(col) rewrite null-correctly as
    * SUM(sum_partial) / SUM(count_col_partial). */
  final case class AggSpec(func: String, inputCol: String,
      castTo: Option[DataType], mvCol: String)

  /** A registered view: pre-aggregation of `basePath` at `groupCols`
    * granularity, stored at `mvPath`. */
  final case class MvDef(basePath: String, mvPath: String,
      groupCols: Seq[String], aggs: Seq[AggSpec])

  private val catalog = TrieMap.empty[String, Vector[MvDef]]

  /** Scheme-normalized path key: a file index reports its root paths
    * with the URI scheme (`file:/tmp/...`) while callers register the
    * raw filesystem path — both must land on one key. */
  private def norm(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")

  def deregister(basePath: String): Unit = catalog.remove(norm(basePath))
  /** ATOMIC generation swap for epoch MVs ([[EpochMv]], the one way a
    * view is built and maintained): register the new generation's
    * definition and drop every prior definition whose mvPath lives
    * under the same layout `prefix`, in ONE catalog update — a query
    * planned before the swap keeps its (still on-disk) old generation,
    * a query planned after sees only the new one, and no instant
    * exposes both (a stale view answering rewrites beside the fresh
    * one). A base table may carry SEVERAL views at different
    * granularities, each under its own layout root; a root that is a
    * string prefix of another's (`v` and `v2`) leaves the other's
    * views alone. */
  private[plans] def registerGeneration(d: MvDef, prefix: String): Unit =
    catalog.synchronized {
      val k = norm(d.basePath)
      val p = norm(prefix) + "/"
      catalog.put(k, catalog.getOrElse(k, Vector.empty)
        .filterNot(v => norm(v.mvPath).startsWith(p)) :+ d)
    }
  /** Candidate views for a scanned path, COARSEST first (fewest group
    * columns = fewest view rows = cheapest covering answer; mvPath
    * tie-break keeps selection deterministic). The rewrite tries them
    * in this order and takes the first that covers the query. */
  private[plans] def lookup(paths: Seq[String]): Seq[MvDef] =
    paths.map(norm).flatMap(p => catalog.getOrElse(p, Vector.empty))
      .sortBy(d => (d.groupCols.size, d.mvPath))

  /** The per-cell partial expressions a view stores — shared by the
    * build ([[EpochMv.create]]), the append merge and the delete
    * recount so all three compute partials with ONE definition. */
  private[plans] def partialColsOf(mv: MvDef)
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    mv.aggs.map {
      case AggSpec("sum", in, castTo, mvCol) =>
        val base = col(in)
        sum(castTo.fold(base)(base.cast)).as(mvCol)
      case AggSpec("count", in, _, mvCol) =>
        (if (in.isEmpty) count(lit(1)) else count(col(in))).as(mvCol)
      case AggSpec("min", in, castTo, mvCol) =>
        org.apache.spark.sql.functions.min(
          castTo.fold(col(in))(col(in).cast)).as(mvCol)
      case AggSpec("max", in, castTo, mvCol) =>
        org.apache.spark.sql.functions.max(
          castTo.fold(col(in))(col(in).cast)).as(mvCol)
      case sp => throw new IllegalArgumentException(
        s"MatView: unsupported agg ${sp.func}")
    }
  }

  /** Incremental view maintenance — the append merge as a FRAME: a
    * DELTA batch of base rows aggregates to view granularity (∝
    * |delta|, the base table is never rescanned), unions with the
    * current partials (read from `mv.mvPath`), and re-aggregates under
    * each partial's own algebra — sums and counts add, min-of-mins /
    * max-of-maxes re-extremize. Decimal sums and long counts merge
    * exactly, so refresh ≡ rebuild-over-grown-base algebraically —
    * which is what `mv_refresh`'s oracle hash-verifies through the
    * rewrite path. None when the delta contributes nothing.
    * [[EpochMv.refresh]] publishes it as a new generation. */
  private[plans] def mergedForRefresh(s: SparkSession, mv: MvDef,
      delta: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{col, sum}
    val pc = partialColsOf(mv)
    val deltaPartials = delta
      .groupBy(mv.groupCols.map(col): _*)
      .agg(pc.head, pc.tail: _*)
    if (deltaPartials.isEmpty) return None
    def mergeCol(sp: AggSpec) = sp.func match {
      case "min" => org.apache.spark.sql.functions.min(col(sp.mvCol))
        .as(sp.mvCol)
      case "max" => org.apache.spark.sql.functions.max(col(sp.mvCol))
        .as(sp.mvCol)
      case _ => sum(col(sp.mvCol)).as(sp.mvCol)
    }
    val merged = graft.Pq.read(s, mv.mvPath)
      .unionByName(deltaPartials)
      .groupBy(mv.groupCols.map(col): _*)
      .agg(mergeCol(mv.aggs.head), mv.aggs.tail.map(mergeCol): _*)
    // long counts re-aggregate through sum (long); cast back so the
    // stored partial keeps its declared type across refreshes
    Some(mv.aggs.foldLeft(merged) { (df, sp) =>
      if (sp.func == "count")
        df.withColumn(sp.mvCol,
          col(sp.mvCol).cast(org.apache.spark.sql.types.LongType))
      else df
    })
  }

  /** DELETE-side view maintenance as a FRAME (current partials read
    * from `mv.mvPath`; [[EpochMv.refreshDelete]] publishes it as a new
    * generation; None when the batch changes nothing): the deleted
    * base rows merge into the partials with NEGATED sums and counts —
    * exact subtraction for LONG/DECIMAL-typed sum partials, so for
    * those refresh-after-delete ≡ rebuild-over-survivors algebraically
    * (what `mv_refresh_delete` hash-verifies through the rewrite path).
    * SCOPE of that exactness claim: a view registering DOUBLE-typed
    * sum partials (e.g. an uncast AVG-covering pattern) passes the
    * preconditions but float subtraction is not exact — surviving
    * cells can drift by ulps from a survivors-rebuild; operators
    * needing bit-exact delete-refresh must register decimal/long-cast
    * sums. Dispatch and one precondition:
    *
    *  - min/max partials cannot be maintained by subtraction (a
    *    deleted extremum is unrecoverable from the partial — the
    *    second-largest value was never stored); a view registering
    *    them takes the TARGETED RECOUNT path ([[recountFrame]]): only
    *    the delete batch's cells recompute from surviving base rows,
    *    untouched cells pass through byte-identical;
    *  - on the algebraic path a COUNT(*) partial is required as the
    *    cell-liveness signal: a cell whose row count reaches 0 is
    *    DROPPED (a rebuild over the survivors would never produce it),
    *    and without the row count that boundary is unobservable from
    *    sums alone — REFUSED loudly when missing.
    *
    * A sum partial whose sibling COUNT(col) partial reaches 0 while the
    * cell survives (every remaining value in the cell is NULL) is
    * nulled to match the rebuild; a view that registers a sum WITHOUT
    * the matching column count keeps an algebraic 0 in that corner
    * case — register the count to close it. Assumes deleted ⊆ base
    * (the caller's takedown contract); rows never ingested subtract
    * garbage, exactly as re-appending them would double-add it. */
  private[plans] def mergedForDelete(s: SparkSession, mv: MvDef,
      deleted: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    // min/max partials cannot be subtracted (the deleted extremum's
    // runner-up was never stored) — those views take the TARGETED
    // RECOUNT path instead: only the cells whose group keys appear in
    // the delete batch are recomputed from their surviving base rows
    if (mv.aggs.exists(sp => sp.func == "min" || sp.func == "max"))
      return recountFrame(s, mv, deleted)
    val star = mv.aggs.find(sp => sp.func == "count" && sp.inputCol.isEmpty)
    require(star.isDefined,
      s"MatView.mergedForDelete: view ${mv.mvPath} has no COUNT(*) " +
        "partial — the delete algebra needs the row count as the " +
        "cell-liveness signal (count 0 drops the cell)")
    val negCols = mv.aggs.map {
      case AggSpec("sum", in, castTo, mvCol) =>
        (-sum(castTo.fold(col(in))(col(in).cast))).as(mvCol)
      case AggSpec("count", in, _, mvCol) =>
        (-(if (in.isEmpty) count(lit(1)) else count(col(in)))).as(mvCol)
      case sp => throw new IllegalArgumentException(
        s"MatView.mergedForDelete: unsupported agg ${sp.func}")
    }
    val negPartials = deleted
      .groupBy(mv.groupCols.map(col): _*)
      .agg(negCols.head, negCols.tail: _*)
    if (negPartials.isEmpty) return None
    val merged = graft.Pq.read(s, mv.mvPath)
      .unionByName(negPartials)
      .groupBy(mv.groupCols.map(col): _*)
      .agg(sum(col(mv.aggs.head.mvCol)).as(mv.aggs.head.mvCol),
        mv.aggs.tail.map(sp => sum(col(sp.mvCol)).as(sp.mvCol)): _*)
      .where(col(star.get.mvCol) > 0L)
    val restored = mv.aggs.foldLeft(merged) { (df, sp) =>
      if (sp.func == "count")
        df.withColumn(sp.mvCol,
          col(sp.mvCol).cast(org.apache.spark.sql.types.LongType))
      else df
    }
    // null-repair: an all-null-surviving column's sum partial must read
    // NULL (as a rebuild would), not the algebraic 0 the subtraction
    // leaves — observable exactly when a COUNT(col) partial reaches 0
    // in a live cell
    Some(mv.aggs.foldLeft(restored) { (df, sp) =>
      if (sp.func != "sum") df
      else mv.aggs.find(c => c.func == "count" && c.inputCol == sp.inputCol)
        .fold(df)(c => df.withColumn(sp.mvCol,
          when(col(c.mvCol) === 0L, lit(null)).otherwise(col(sp.mvCol))))
    })
  }

  /** TARGETED CELL RECOUNT — the delete path for views whose partials
    * are not algebraically subtractable (min/max): recompute ONLY the
    * cells whose group keys appear in the delete batch, from their
    * surviving base rows, and pass every untouched cell through from
    * the stored view BYTE-IDENTICAL (no recomputation — a double-typed
    * partial in an untouched cell keeps its exact bits, pinned in
    * `MatViewSpec`). This is the standard production answer between
    * "subtract partials" and "rebuild the world": cost is ∝ the
    * AFFECTED groups' base rows (at scale, a group-key-partitioned
    * base prunes the recount scan to those partitions), not the view
    * and not the full base.
    *
    * Survivors are derived as `base ∩ affected-keys` MINUS the delete
    * batch via multiset `exceptAll` on the view-relevant projection
    * (group keys + agg inputs), so duplicate rows subtract one
    * instance per deleted row — the same multiset arithmetic the
    * negated-partials path encodes. NULL group keys match null-safely
    * (a NULL-keyed cell recounts like any other, as `groupBy` groups
    * them). Cells whose survivors vanish drop naturally (an empty
    * group produces no row); all-null surviving columns read NULL from
    * the real aggregation — both boundary behaviors the algebraic path
    * needs explicit repair for. Runs BEFORE the caller shrinks the
    * base (the takedown ordering contract — the recount needs the
    * doomed rows' cells still scannable); assumes deleted ⊆ base.
    * `mv_refresh_delete_minmax` hash-verifies recount ≡
    * survivors-rebuild through the rewrite path. */
  private def recountFrame(s: SparkSession, mv: MvDef,
      deleted: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val cols = (mv.groupCols ++
      mv.aggs.map(_.inputCol).filter(_.nonEmpty)).distinct
    val delP = deleted.select(cols.map(col): _*)
    val keys = delP.select(mv.groupCols.map(col): _*).distinct()
    if (keys.isEmpty) return None
    def keyCond(left: org.apache.spark.sql.DataFrame,
        right: org.apache.spark.sql.DataFrame) =
      mv.groupCols.map(c => left(c) <=> right(c)).reduce(_ && _)
    val base = graft.Pq.read(s, mv.basePath).select(cols.map(col): _*)
    val affected = base.join(broadcast(keys), keyCond(base, keys))
      .select(cols.map(base(_)): _*)
    val survivors = affected.exceptAll(delP)
    val pc = partialColsOf(mv)
    val recounted = survivors
      .groupBy(mv.groupCols.map(col): _*)
      .agg(pc.head, pc.tail: _*)
    val view = graft.Pq.read(s, mv.mvPath)
    val untouched = view.join(broadcast(keys), keyCond(view, keys),
      "left_anti")
    Some(untouched.unionByName(recounted))
  }

  /** The rewrite rule. One instance per session via
    * `injectOptimizerRule` — runs in the operator-optimization batch,
    * after resolution, so it sees typed attributes and can preserve
    * their ids. Fixed-point safe: the rewritten child is the view
    * relation, whose path is never registered as a base. */
  final case class MvRewrite(session: SparkSession)
      extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case agg @ Aggregate(groups, out, child, _) =>
        scanInfo(child).toSeq.flatMap { case (paths, conds) =>
          lookup(paths).flatMap(mv => rewrite(groups, out, conds, mv))
        }.headOption
          .orElse(rewriteOverJoin(groups, out, child))
          .orElse(rewriteOverExpand(groups, out, child))
          .getOrElse(agg)
    }

    /** The STAR-SCHEMA rewrite: `Aggregate(G, out, fact ⋈ dim)` where
      * the fact side scans a registered base re-plans onto
      * `Aggregate(G, out', view ⋈ dim)` — the fact table pre-aggregated
      * at join-key (+ fact-group) granularity, joined to the untouched
      * dim side at |view rows| cost instead of |fact rows|. This is
      * exact for EVERY covered aggregate, including under join
      * multiplicity m(k) (a dim key matching m rows): each fact row's
      * contribution is scaled by m(k) row-level, and each view
      * partial's by the same m(k) partial-level — SUM/COUNT totals,
      * MIN/MAX extrema (replication changes neither), and the AVG
      * ratio (numerator and denominator scale together) all agree.
      * Aggregates over DIM columns block (a dim value's row-level
      * repetition count is fact-row multiplicity, which the view has
      * already collapsed). Inner equi-joins only — an outer join's
      * null-extended rows have no view analog. Both orientations are
      * tried (fact ⋈ dim and dim ⋈ fact). */
    private def rewriteOverJoin(groups: Seq[Expression],
        out: Seq[NamedExpression], child: LogicalPlan)
        : Option[LogicalPlan] = {
      def strip(p: LogicalPlan): LogicalPlan = p match {
        case Project(pl, rel)
            if pl.forall(_.isInstanceOf[AttributeReference]) => strip(rel)
        case other => other
      }
      strip(child) match {
        case Join(l, r, Inner, Some(cond), _) if cond.deterministic =>
          def tryFact(fact: LogicalPlan, dim: LogicalPlan)
              : Option[LogicalPlan] = {
            val dimOut = dim.outputSet
            scanInfo(fact).toSeq.flatMap { case (paths, conds) =>
              lookup(paths)
                // every FACT attribute in the join condition must be a
                // view group column (name pre-check, no IO)
                .filter(mv => cond.references.toSeq.forall(a =>
                  dimOut.contains(a) || mv.groupCols.contains(a.name)))
                .flatMap { mv =>
                  // fact attrs substitute for view attrs, dim attrs
                  // stay — any other reference blocks
                  def buildJoin(factSide: LogicalPlan,
                      mvAttr: String => Option[AttributeReference])
                      : Option[LogicalPlan] = {
                    var ok = true
                    val c = cond.transformDown {
                      case a: AttributeReference if !dimOut.contains(a) =>
                        if (mv.groupCols.contains(a.name) &&
                            mvAttr(a.name).isDefined) mvAttr(a.name).get
                        else { ok = false; a }
                    }
                    if (ok)
                      Some(Join(factSide, dim, Inner, Some(c),
                        JoinHint.NONE))
                    else None
                  }
                  rewrite(groups, out, conds, mv, dimOut, buildJoin)
                }
            }.headOption
          }
          tryFact(l, r).orElse(tryFact(r, l))
        case _ => None
      }
    }

    /** The ROLLUP / grouping-sets rewrite: `Aggregate(G ∪ gid, out,
      * Expand(sets, scan(base)))` — the shape `rollup`/`cube`/
      * `GROUPING SETS` compile to — re-plans onto the same Aggregate
      * over `Expand(sets', view)`. Partials replicate through Expand
      * exactly as base rows do (each grouping-set row passes every
      * partial unchanged and nulls the same group columns), so
      * re-aggregating partials per (set, groups) IS the rollup over
      * the view — exact for every covered aggregate by the same
      * partial-of-partials argument as the flat form. Structural
      * requirements, all checked: pass-through positions (the agg
      * input columns) must be the same base attribute in every set
      * row (they become the view's partial columns, passed through
      * every row); group positions must be a base attribute named in
      * the view's group columns or the set's null literal; the
      * grouping-id position is a literal. */
    private def rewriteOverExpand(groups: Seq[Expression],
        out: Seq[NamedExpression], child: LogicalPlan)
        : Option[LogicalPlan] = child match {
      case Expand(projections, expandOut, grandChild) =>
        val childOut = grandChild.outputSet
        // positions whose output attr is the child's own (pass-through
        // agg inputs) vs fresh attrs (group copies + grouping id)
        val passIdx = expandOut.indices.filter(i =>
          childOut.contains(expandOut(i)))
        val newIdx = expandOut.indices.filterNot(passIdx.contains)
        val structureOk =
          projections.forall(_.length == expandOut.length) &&
          passIdx.forall(i => projections.forall(r =>
            r(i) == expandOut(i))) &&
          newIdx.forall(i => projections.forall(r => r(i) match {
            case a: AttributeReference => childOut.contains(a)
            case _: Literal => true
            case _ => false
          }))
        if (!structureOk) None
        else scanInfo(grandChild).toSeq.flatMap { case (paths, conds) =>
          lookup(paths)
            // name pre-checks before IO: every pass-through column and
            // every group-position attr must be view-answerable
            .filter { mv =>
              passIdx.forall(i => mv.aggs.exists(sp =>
                sp.inputCol == expandOut(i).name)) &&
              newIdx.forall(i => projections.forall(r => r(i) match {
                case a: AttributeReference =>
                  mv.groupCols.contains(a.name)
                case _ => true
              }))
            }
            .flatMap { mv =>
              def buildExpand(factSide: LogicalPlan,
                  mvAttr: String => Option[AttributeReference])
                  : Option[LogicalPlan] = {
                val partials = mv.aggs.flatMap(sp => mvAttr(sp.mvCol))
                if (partials.length != mv.aggs.length) return None
                var ok = true
                val newProjections = projections.map { r =>
                  partials ++ newIdx.map(i => r(i) match {
                    case a: AttributeReference =>
                      mvAttr(a.name).getOrElse { ok = false; a }
                    case l: Literal => l
                    case other => ok = false; other
                  })
                }
                if (!ok) None
                else Some(Expand(newProjections,
                  partials ++ newIdx.map(expandOut), factSide))
              }
              rewrite(groups, out, conds, mv,
                AttributeSet(newIdx.map(expandOut)), buildExpand)
            }
        }.headOption
      case _ => None
    }

    /** Root paths + collected filter conditions of a file scan reached
      * through attribute-only Projects and deterministic Filters.
      * Filters are NOT an automatic block: a predicate over GROUPING
      * columns only partitions whole groups, so it commutes with the
      * aggregation and can apply to the VIEW instead (`rewrite` checks
      * column coverage and substitutes); a predicate touching any
      * non-group column needs row-level data the view doesn't have and
      * blocks there. Computed Projects and joins block here. */
    private def scanInfo(p: LogicalPlan)
        : Option[(Seq[String], Seq[Expression])] = p match {
      case Project(projList, rel)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        scanInfo(rel)
      case Filter(cond, rel) if cond.deterministic =>
        scanInfo(rel).map { case (ps, cs) => (ps, cond +: cs) }
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          Some((fs.location.rootPaths.map(_.toString), Seq.empty))
        case _ => None
      }
      case _ => None
    }

    /** The shared rewrite core. `passThrough` is the set of attributes
      * that remain VALID after the rewrite (a join's dim outputs, an
      * Expand's group-copy + grouping-id attrs — exprId-keyed, since a
      * name can exist on both sides); every other attribute is
      * fact-owned and must be a view group column or a covered agg
      * input. `buildChild` wraps the (possibly filtered) view relation
      * into the final child shape — identity for the plain scan form,
      * a re-keyed Join or Expand for the structured forms — and may
      * itself refuse (None) when its expressions don't substitute. */
    private def rewrite(groups: Seq[Expression],
        out: Seq[NamedExpression], conds: Seq[Expression],
        mv: MvDef,
        passThrough: AttributeSet = AttributeSet.empty,
        buildChild: (LogicalPlan, String => Option[AttributeReference]) =>
          Option[LogicalPlan] = (p, _) => Some(p))
        : Option[LogicalPlan] = {
      val dimOut: AttributeSet = passThrough
      def dimOwned(a: AttributeReference): Boolean = dimOut.contains(a)
      // NAME-BASED pre-checks before any IO: the optimizer batch runs
      // to fixed point, so a registered-base query the view CANNOT
      // answer (row-level filter, foreign grouping) would otherwise
      // re-read the view's parquet footer on every iteration
      val coveredGroups = groups.forall {
        case g: AttributeReference =>
          dimOwned(g) || mv.groupCols.contains(g.name)
        case _ => false
      }
      val coveredConds = conds.forall(_.references.toSeq.forall(a =>
        mv.groupCols.contains(a.name)))
      if (!coveredGroups || !coveredConds) return None
      // a FRESH analyzed relation per rewrite: reusing one plan across
      // queries would collide attribute ids
      val mvPlan = graft.Pq.read(session, mv.mvPath).queryExecution.analyzed
      def mvAttr(name: String): Option[AttributeReference] =
        mvPlan.output.collectFirst {
          case a: AttributeReference if a.name == name => a
        }
      val groupAttrs: Option[Seq[Expression]] =
        groups.foldLeft(Option(Seq.empty[Expression])) {
          case (acc, g: AttributeReference) if dimOwned(g) =>
            acc.map(_ :+ g)
          case (acc, g: AttributeReference)
              if mv.groupCols.contains(g.name) =>
            acc.flatMap(s => mvAttr(g.name).map(s :+ _))
          case _ => None
        }
      def covered(func: String, c: Expression): Option[AggSpec] = c match {
        case a: AttributeReference if !dimOwned(a) => mv.aggs.find(sp =>
          sp.func == func && sp.inputCol == a.name && sp.castTo.isEmpty)
        case cast: Cast => cast.child match {
          case a: AttributeReference if !dimOwned(a) => mv.aggs.find(sp =>
            sp.func == func && sp.inputCol == a.name &&
              sp.castTo.contains(cast.dataType))
          case _ => None
        }
        case _ => None
      }
      // one covered AggregateExpression → its view re-aggregation,
      // type-preserving (the Cast keeps decimal widths identical to
      // the original so nothing above the node sees a schema change)
      def rewriteAgg(ae: AggregateExpression): Option[Expression] =
        if (ae.isDistinct || ae.filter.nonEmpty) None
        else ae.aggregateFunction match {
          case s: Sum =>
            for {
              spec <- covered("sum", s.child)
              m <- mvAttr(spec.mvCol)
              reagg = Sum(m).toAggregateExpression()
            } yield if (reagg.dataType == ae.dataType) reagg
              else Cast(reagg, ae.dataType)
          case mn: Min =>
            for {
              spec <- covered("min", mn.child)
              m <- mvAttr(spec.mvCol)
            } yield Min(m).toAggregateExpression()
          case mx: Max =>
            for {
              spec <- covered("max", mx.child)
              m <- mvAttr(spec.mvCol)
            } yield Max(m).toAggregateExpression()
          case c: Count if c.children.forall(_.isInstanceOf[Literal]) =>
            for {
              spec <- mv.aggs.find(sp =>
                sp.func == "count" && sp.inputCol.isEmpty)
              m <- mvAttr(spec.mvCol)
            } yield Coalesce(Seq(Sum(m).toAggregateExpression(),
              Literal(0L)))
          // COUNT(col) — non-null count — re-aggregates from a
          // registered COUNT(col) partial (NOT the COUNT(*) one:
          // null rows diverge them)
          case c: Count => c.children match {
            case Seq(a: AttributeReference) if !dimOwned(a) =>
              for {
                spec <- mv.aggs.find(sp =>
                  sp.func == "count" && sp.inputCol == a.name)
                m <- mvAttr(spec.mvCol)
              } yield Coalesce(Seq(Sum(m).toAggregateExpression(),
                Literal(0L)))
            case _ => None
          }
          // AVG(col) = SUM(sum_partial) / SUM(count_col_partial).
          // Covered only for a DOUBLE-typed average over an UNCAST sum
          // partial (castTo.isEmpty keeps the partial's addition the
          // same arithmetic the one-pass Average buffer performs, so
          // partials-of-partials introduces no new rounding) plus a
          // COUNT(col) partial over the same column (COUNT(*) would
          // miscount null inputs Average ignores). The all-null cell is
          // If-guarded: count 0 → null, matching Average's empty
          // semantics without tripping ANSI division.
          case av: Average if ae.dataType ==
              org.apache.spark.sql.types.DoubleType =>
            av.child match {
              case a: AttributeReference if !dimOwned(a) =>
                for {
                  sumSpec <- mv.aggs.find(sp => sp.func == "sum" &&
                    sp.inputCol == a.name && sp.castTo.isEmpty)
                  cntSpec <- mv.aggs.find(sp => sp.func == "count" &&
                    sp.inputCol == a.name)
                  sm <- mvAttr(sumSpec.mvCol)
                  cm <- mvAttr(cntSpec.mvCol)
                } yield {
                  val total = Cast(Sum(sm).toAggregateExpression(),
                    org.apache.spark.sql.types.DoubleType)
                  val n = Coalesce(Seq(
                    Sum(cm).toAggregateExpression(), Literal(0L)))
                  If(EqualTo(n, Literal(0L)),
                    Literal(null, org.apache.spark.sql.types.DoubleType),
                    Divide(total,
                      Cast(n, org.apache.spark.sql.types.DoubleType),
                      EvalMode.LEGACY))
                }
              case _ => None
            }
          case _ => None
        }
      val groupNames = groups.collect {
        case g: AttributeReference => g.name
      }.toSet
      // an output may be a bare grouping attribute, a bare aliased
      // aggregate, or — after CollapseProject folds a projection into
      // the Aggregate — an arbitrary expression TREE over aggregates
      // and grouping attributes (e.g. cast(sum(...) as double)).
      // Rewrite the tree node-wise; any leftover reference to a base
      // attribute means the view can't answer it → no rewrite.
      val allowed = mvPlan.outputSet ++ dimOut
      def rewriteOne(ne: NamedExpression): Option[NamedExpression] =
        ne match {
          // a dim-owned grouping attribute passes through unchanged —
          // the dim side of the new join still produces it
          case a: AttributeReference if dimOwned(a) => Some(a)
          case a: AttributeReference if groupNames.contains(a.name) =>
            mvAttr(a.name).map(m => Alias(m, a.name)(exprId = a.exprId))
          case al @ Alias(expr, name) =>
            var ok = true
            val t = expr.transformDown {
              // the ownership guard stops re-entry: transformDown
              // recurses into replacements, and an injected
              // re-aggregation (references MV attrs) must not be
              // mistaken for an uncovered base aggregate. An aggregate
              // over a DIM column correctly falls to rewriteAgg's
              // dim-guards and blocks: the view collapsed the fact-row
              // multiplicity its row-level total depends on.
              case ae: AggregateExpression
                  if ae.references.intersect(mvPlan.outputSet).isEmpty =>
                rewriteAgg(ae).getOrElse { ok = false; ae }
              case a: AttributeReference if !dimOwned(a) &&
                  groupNames.contains(a.name) &&
                  mvAttr(a.name).isDefined =>
                mvAttr(a.name).get
            }
            if (ok && t.references.subsetOf(allowed))
              Some(Alias(t, name)(exprId = al.exprId))
            else None
          case _ => None
        }
      // filter conditions must reference ONLY view grouping columns
      // (they then select whole groups — aggregation-commuting); each
      // base attribute substitutes for its view attribute
      def rewriteCond(c: Expression): Option[Expression] = {
        var ok = true
        val t = c.transformDown {
          case a: AttributeReference =>
            if (mv.groupCols.contains(a.name) && mvAttr(a.name).isDefined)
              mvAttr(a.name).get
            else { ok = false; a }
        }
        if (ok) Some(t) else None
      }
      for {
        ga <- groupAttrs
        newConds <- conds.foldLeft(Option(Seq.empty[Expression])) {
          (acc, c) => acc.flatMap(s => rewriteCond(c).map(s :+ _))
        }
        newOut <- out.foldLeft(Option(Seq.empty[NamedExpression])) {
          (acc, ne) => acc.flatMap(s => rewriteOne(ne).map(s :+ _))
        }
        newChild <- buildChild(
          if (newConds.isEmpty) mvPlan
          else Filter(newConds.reduce(
            org.apache.spark.sql.catalyst.expressions.And(_, _)), mvPlan),
          mvAttr)
      } yield Aggregate(ga, newOut, newChild, None)
    }
  }
}
