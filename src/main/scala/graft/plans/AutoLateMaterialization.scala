package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeMap, AttributeReference, EqualTo, Expression, IntegerLiteral, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, HintInfo, Join, JoinHint, Limit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.model.MailboxSchema
import graft.source.{MailboxOptions, MailboxTable}

/** Automatic late materialization (A10) — the optimizer rewrite the
  * reference's host engine applies to any qualifying query over a scan
  * that advertises row-id columns (`late_materialization = true` +
  * `get_row_id_columns`, the reference's src/pst_extension.cpp:26-34;
  * HASH_JOIN asserted on a plain filter/order/limit query by
  * test/sql/query_optimizations.test:49-53). The manual two-phase
  * helper ([[graft.ops.LateMaterialization]]) encodes the same shape
  * explicitly; this rule makes the PLAIN query get it, matching the
  * reference's automatic behavior:
  *
  * {{{
  *   Limit k (Sort order (Filter cond (wide mailbox scan)))
  * }}}
  * becomes
  * {{{
  *   Project wideCols
  *     (Sort order
  *       (Join BROADCAST-hint
  *         (Project [__partition, __node_id]
  *           (Limit k (Sort order' (Filter cond' (narrow scan)))))
  *         (wide scan)
  *         ON narrow.__partition = wide.__partition
  *          ∧ narrow.__node_id  = wide.__node_id))
  * }}}
  *
  * where the narrow scan is a fresh relation over the same table with
  * `virtual_columns=true`. Catalyst column pruning then shrinks the
  * narrow side to exactly (filter ∪ sort ∪ row-id) columns, and V2
  * pushdown gives both relations independent projection/filter
  * pushdown — so the sort ranks one parsed field per row instead of a
  * 26-column row, and the wide scan materializes ≤ k rows through a
  * broadcast hash join on the row id, exactly the reference's plan.
  *
  * Fires only when the rewrite pays and is safe:
  *  - the relation is a mailbox table WITHOUT virtual columns (a scan
  *    that already exposes row ids is either the manual helper or this
  *    rule's own output — both must not re-fire, which also makes the
  *    rule idempotent under the optimizer's fixpoint batch);
  *  - filter and sort are deterministic and reference a narrow column
  *    subset (2·|narrow| + 2 ≤ |output| — otherwise the rejoin reads
  *    more than it saves);
  *  - k ≤ [[MaxLimit]] (the narrow winner set must stay broadcastable;
  *    a huge limit approaches a full self-join and the plain plan
  *    wins).
  *
  * Ties under `order` are resolved arbitrarily (same contract as the
  * plain Sort+Limit and as the reference's rewrite): the k survivors
  * are one valid answer, re-sorted after the rejoin.
  *
  * 100 TB shape: this converts "sort 100 TB of wide rows, keep k" into
  * "sort the narrow column (projection-pushed scan), broadcast k row
  * ids, fetch k wide rows" — the narrow scan is the only full pass and
  * it moves one column; the wide side's work is O(k), not O(n).
  */
object AutoLateMaterialization extends Rule[LogicalPlan] {

  /** Largest limit worth rewriting: the narrow winner set (k row-id
    * pairs) must broadcast cheaply.
    */
  private val MaxLimit = 10000

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case SortLimitScan(k, out, order, cond, rel)
        if eligible(k, order, cond, rel, out) =>
      rewrite(k, order, cond, rel, out)
  }

  /** The canonical optimizer forms of
    * `scan[.filter(cond)].orderBy(order).limit(k)[.select(attrs)]`:
    *
    * {{{ Limit k ([Project out]? Sort order ([Project mid]? [Filter cond]? rel)) }}}
    *
    * The pruning Project (when present) sits between Sort and Filter
    * because PushDownPredicates moves filters below projects; a
    * column-REORDERING select cannot collapse into the relation's
    * pruned output, so the optimizer leaves it between Limit and
    * Sort. The Filter-less forms — plain `ORDER BY … LIMIT k` over a
    * wide scan — fire with a vacuous TRUE condition: the reference's
    * host rewrite pays here identically (the narrow sort + O(k) wide
    * fetch is the benefit; the filter is incidental). Yields
    * (k, output contract, order, condition, relation).
    */
  private object SortLimitScan {
    private def attrsOnly(pl: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression])
        : Option[Seq[AttributeReference]] =
      if (pl.forall(_.isInstanceOf[AttributeReference]))
        Some(pl.map(_.asInstanceOf[AttributeReference]))
      else None

    def unapply(plan: LogicalPlan): Option[(Int, Seq[AttributeReference],
        Seq[SortOrder], Expression, DataSourceV2Relation)] = plan match {
      case Limit(IntegerLiteral(k), below) =>
        val (outOpt, sortPlan) = below match {
          case Project(pl, s: Sort) => (attrsOnly(pl).map(Some(_)), s)
          case s: Sort              => (Some(None), s)
          case _                    => (None, null)
        }
        outOpt match {
          case Some(topOut) => sortPlan match {
            case Sort(order, true, child, _) =>
              val (midOpt, rest) = child match {
                case Project(pl, c) => (attrsOnly(pl).map(Some(_)), c)
                case c              => (Some(None), c)
              }
              midOpt match {
                case Some(mid) =>
                  val (cond, relPlan) = rest match {
                    case Filter(f, r) => (f, r)
                    case r            => (Literal.TrueLiteral: Expression, r)
                  }
                  relPlan match {
                    case rel: DataSourceV2Relation =>
                      val out = topOut.orElse(mid).getOrElse(rel.output)
                      Some((k, out, order, cond, rel))
                    case _ => None
                  }
                case None => None
              }
            case _ => None
          }
          case None => None
        }
      case _ => None
    }
  }

  private def wideTable(rel: DataSourceV2Relation): Option[MailboxTable] =
    rel.table match {
      case t: MailboxTable if !t.opts.virtualColumns => Some(t)
      case _                                         => None
    }

  /** `out` is what the matched subplan emits (the full relation output,
    * or the pruning Project's attribute list): the width the rewrite
    * must beat, and the columns the rejoin side must deliver.
    */
  private def eligible(k: Int, order: Seq[SortOrder], cond: Expression,
      rel: DataSourceV2Relation, out: Seq[AttributeReference]): Boolean = {
    val narrow = narrowCols(order, cond)
    wideTable(rel).isDefined &&
      k > 0 && k <= MaxLimit &&
      cond.deterministic && order.forall(_.deterministic) &&
      narrow.nonEmpty &&
      narrow.forall(a => rel.outputSet.contains(a)) &&
      2 * narrow.size + 2 <= out.size
  }

  private def narrowCols(order: Seq[SortOrder],
      cond: Expression): Seq[Attribute] =
    (cond.references ++ order.flatMap(_.references)).toSeq.distinct

  private def rewrite(k: Int, order: Seq[SortOrder], cond: Expression,
      rel: DataSourceV2Relation, out: Seq[AttributeReference]): LogicalPlan = {
    val vTable = new MailboxTable(MailboxOptions(
      wideTable(rel).get.opts.raw + ("virtual_columns" -> "true")))
    val virtWide = MailboxSchema.virtualFields.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    // the wide relation KEEPS the original output exprIds, so the
    // parent plan's references resolve unchanged through the final
    // Project; only the appended row-id columns are new
    val wideRel = rel.copy(table = vTable, output = rel.output ++ virtWide)
    // the narrow relation is a second, independent scan: every
    // attribute gets a fresh exprId
    val narrowBase = rel.output.map(_.newInstance())
    val virtNarrow = virtWide.map(_.newInstance())
    val narrowRel  = rel.copy(table = vTable,
      output = narrowBase ++ virtNarrow)
    val remap = AttributeMap(rel.output.zip(narrowBase))
    def toNarrow(e: Expression): Expression = e.transform {
      case a: Attribute => remap.getOrElse(a, a)
    }
    // a vacuous condition (the Filter-less patterns) adds no Filter
    // node — a Filter(true) would survive this late optimizer batch
    val narrowChild =
      if (cond == Literal.TrueLiteral) narrowRel
      else Filter(toNarrow(cond), narrowRel)
    val narrowSorted = Sort(
      order.map(so =>
        so.copy(child = toNarrow(so.child), sameOrderExpressions = Nil)),
      global = true,
      narrowChild)
    val winners = Project(virtNarrow, Limit(Literal(k), narrowSorted))
    val joinCond = virtNarrow.zip(virtWide)
      .map { case (n, w) => EqualTo(n, w): Expression }
      .reduce(And(_, _))
    val rejoin = Join(winners, wideRel, Inner, Some(joinCond),
      JoinHint(Some(HintInfo(strategy = Some(BROADCAST))), None))
    // column pruning will shrink the wide scan to `out` (+ row ids)
    Project(out, Sort(order, global = true, rejoin))
  }
}
