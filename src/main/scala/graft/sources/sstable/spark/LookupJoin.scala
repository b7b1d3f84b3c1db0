package graft.sources.sstable.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeMap, AttributeSet, BindReferences, DynamicPruning, EqualTo, Expression, GenericInternalRow, JoinedRow, NamedExpression, PlanExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, StructType}

import graft.sources.sstable.{SSTableReader, Storage, StorageHandle}

/** Everything the probe-join physical plan needs to reproduce one
  * [[SSTableScan]]'s per-key emission on executors: the resolved
  * directory (snapshot pins already applied), the PRUNED read schema,
  * and the delete-awareness pair. Produced by
  * [[SSTableScan.lookupProbeSpec]] — only for scan shapes whose row
  * semantics `DirectoryProber.getRaw` + [[Visibility.row]] match
  * exactly. */
final case class LookupProbeSpec(path: String, schema: StructType,
                                 applyDeletes: Boolean, maxDeleteKeys: Int,
                                 handle: StorageHandle,
                                 catalogManaged: Boolean = false) {
  def storage: Storage = handle.get
}

/** The SQL route to the index-nested-loop probe path for RELATION-sized
  * probe sets — `CALL graft.system.lookup` covers
  * literal key lists; this covers the natural SQL formulation:
  *
  * {{{
  * SELECT ... FROM probe_keys p JOIN graft.ns.t t ON p.k = t.key
  * }}}
  *
  * When the probe side is broadcast-small, scanning a 100 TB table to
  * join a few thousand keys is the wrong plan even WITH runtime-filter
  * split pruning (the scan still decodes every surviving split).
  * [[SSTableLookupJoinStrategy]] plans such joins as
  * [[SSTableLookupJoinExec]]: the probe side executes as-is (no shuffle,
  * no broadcast), and each partition probes its keys through the same
  * bloom → Summary → bounded-Index-window → per-candidate Data.db seek
  * ladder as `SSTableOps.lookupJoin` — IO ∝ probes × generations, never
  * table size; an absent key opens zero Data.db files.
  *
  * Install per-session via [[GraftExtensions.register]] /
  * `SSTableLookupJoin.install`, or cluster-wide with
  * `--conf spark.sql.extensions=graft.GraftExtensions`. */
object SSTableLookupJoin {
  /** Kill switch (`spark.conf.set`): "false" restores built-in planning. */
  val EnabledKey = "spark.graft.lookupJoin.enabled"
  /** Probe-side size gate in bytes; empty/unset = the session's
    * autoBroadcastJoinThreshold. Probing costs per ROW (seeks ×
    * generations), so a probe side too big to broadcast is also too big
    * to probe — past the gate, the scan+join (with runtime-filter split
    * pruning) wins and built-in planning keeps it.
    *
    * Probe cost is flat in table size while the scan side grows
    * linearly with it (crossover ≈ 400 probes on a 50 MB table, NOTES.md
    * item 79), so on the 100 TB design target every
    * broadcast-admissible probe set wins by orders of magnitude. Against genuinely SMALL tables a
    * large-but-broadcastable probe set can lose seconds to the scan
    * plan; tune this key down (or flip the kill switch) for workloads
    * that join key lists against small reference tables. */
  val ProbeMaxBytesKey = "spark.graft.lookupJoin.probeMaxBytes"

  /** Test seam (single-JVM local mode): when set, the exec's listing,
    * shadow load, and every executor-side probe run through this
    * Storage — spy pins count Data.db opens to prove the zero-scan /
    * zero-open-on-absent-key contract. */
  @volatile private[graft] var testStorage: Option[Storage] = None

  /** Idempotently add the strategy to a live session. */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(SSTableLookupJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ SSTableLookupJoinStrategy
  }
}

object SSTableLookupJoinStrategy extends SparkStrategy
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  private def enabled: Boolean =
    SQLConf.get.getConfString(SSTableLookupJoin.EnabledKey, "true").toBoolean
  private def probeMaxBytes: BigInt = {
    val v = SQLConf.get.getConfString(SSTableLookupJoin.ProbeMaxBytesKey, "")
    if (v.isEmpty) BigInt(SQLConf.get.autoBroadcastJoinThreshold) else BigInt(v.toLong)
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: Join if enabled && j.condition.isDefined => planJoin(j).toSeq
    case _ => Nil
  }

  /** One unwrapped sstable side: the scan relation + spec, the scan-side
    * PROJECTION (the attributes the join actually sees, inlined down to
    * expressions over `rel.output`), and scan-side FILTER conjuncts
    * (likewise inlined). The optimizer interposes Project nodes
    * (nested-field extraction, column pruning leftovers) and Filter
    * nodes (residual predicates — this source's pushdown is advisory,
    * so Spark keeps every predicate here) between the join and the
    * relation; all of them re-execute verbatim inside the probe exec. */
  private final case class UnwrappedScan(rel: DataSourceV2ScanRelation,
                                         spec: LookupProbeSpec,
                                         proj: Seq[NamedExpression],
                                         preds: Seq[Expression]) {
    def topOutput: Seq[Attribute] = proj.map(_.toAttribute)
  }

  /** Inline one level's output substitution into `e`: attributes that
    * name a lower Alias become that alias's child, everything else stays
    * (pass-through attributes map to themselves). */
  private def inlineRefs(e: Expression,
                         subst: AttributeMap[NamedExpression]): Expression =
    e.transformUp {
      case a: Attribute => subst.get(a) match {
        case Some(al: Alias) => al.child
        case Some(other) => other
        case None => a
      }
    }

  /** Re-name an inlined expression under the ORIGINAL exprId. The id
    * check matters: when an upper Project passes through a
    * lower pure-rename alias (`b` over `val AS b`), inlining reduces
    * `b#2` to the bare attribute `val#5` — itself a NamedExpression, but
    * returning it verbatim would desync the exec's output from the
    * logical join output (#2 promised, #5 delivered), breaking parent
    * attribute binding. The optimizer's CollapseProject eliminates pure
    * renames in every plan we've produced, but the contract ("proj is
    * u.proj re-expressed, same ids") shouldn't lean on that. */
  private def named(e: Expression, like: NamedExpression): NamedExpression =
    e match {
      case ne: NamedExpression if ne.exprId == like.exprId => ne
      case other => Alias(other, like.name)(like.exprId, like.qualifier)
    }

  private def supported(e: Expression,
                        rel: DataSourceV2ScanRelation): Boolean =
    e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]]) &&
      e.references.subsetOf(rel.outputSet)

  /** Walk Project/Filter chains down to the sstable relation, inlining
    * every alias so the result is expressed over `rel.output` alone.
    * Dynamic-pruning conjuncts are DROPPED, not bailed on: they are the
    * runtime-filter IO hint derived from this very join's key equality
    * (semantics-free by the source's residual-filter contract), and the
    * probe path subsumes them. Any OTHER subquery, or a nondeterministic
    * expression, bails to built-in planning. */
  private def unwrapScan(p: LogicalPlan): Option[UnwrappedScan] = p match {
    case r: DataSourceV2ScanRelation => r.scan match {
      case s: SSTableScan =>
        s.lookupProbeSpec.map(UnwrappedScan(r, _, r.output, Nil))
      case _ => None
    }
    case Project(list, child) =>
      unwrapScan(child).flatMap { u =>
        val subst = AttributeMap(u.proj.map(ne => ne.toAttribute -> ne))
        val inlined = list.map(ne => named(inlineRefs(ne, subst), ne))
        if (inlined.forall(supported(_, u.rel))) Some(u.copy(proj = inlined))
        else None
      }
    case Filter(cond, child) =>
      unwrapScan(child).flatMap { u =>
        val subst = AttributeMap(u.proj.map(ne => ne.toAttribute -> ne))
        val conjs = splitConjunctivePredicates(cond)
          .filterNot(_.exists(_.isInstanceOf[DynamicPruning]))
          .map(inlineRefs(_, subst))
        if (conjs.forall(supported(_, u.rel)))
          Some(u.copy(preds = u.preds ++ conjs))
        else None
      }
    case _ => None
  }

  private def planJoin(j: Join): Option[SparkPlan] = {
    val right = unwrapScan(j.right)
    val left = unwrapScan(j.left)
    // sstable-JOIN-sstable keeps built-in planning: that's storage-
    // partitioned-join / broadcast territory (co-bucketed SPJ runs
    // exchange-free natively), and this strategy's scope is exactly
    // "a probe RELATION against an sstable table"
    if (left.isDefined && right.isDefined) return None
    right.flatMap(build(j, j.left, _, swapped = false)).orElse {
      // scan written on the LEFT: inner joins commute, so probe from the
      // right side and restore the declared output order with a project
      if (j.joinType != Inner) None
      else left.flatMap(build(j, j.right, _, swapped = true))
    }
  }

  private def build(j: Join, probe: LogicalPlan, u: UnwrappedScan,
                    swapped: Boolean): Option[SparkPlan] = {
    val typeOk = j.joinType == Inner || (!swapped && (j.joinType == LeftSemi ||
      j.joinType == LeftAnti || j.joinType == LeftOuter))
    if (!typeOk) return None
    // cost gate: per-probe seeks beat a scan only for small probe sides
    val sz = probe.stats.sizeInBytes
    if (probeMaxBytes <= 0 || sz > probeMaxBytes) return None
    val scanKey = u.rel.output.find(a =>
      a.name.equalsIgnoreCase("key") && a.dataType == BinaryType)
      .getOrElse(return None)
    // the join-visible attribute that IS the scan's key (a pass-through
    // projection entry, possibly renamed)
    val keyAttr = u.proj.collectFirst {
      case ne if ne.toAttribute.dataType == BinaryType && (ne match {
        case a: Attribute => a.semanticEquals(scanKey)
        case Alias(c, _) => c.semanticEquals(scanKey)
        case _ => false
      }) => ne.toAttribute
    }.getOrElse(return None)
    val conjuncts = splitConjunctivePredicates(j.condition.get)
    if (conjuncts.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) return None
    val (keyEqs, residual) = conjuncts.partition {
      case EqualTo(l, r) =>
        (r.semanticEquals(keyAttr) && l.references.subsetOf(probe.outputSet) &&
          l.dataType == BinaryType && l.deterministic) ||
        (l.semanticEquals(keyAttr) && r.references.subsetOf(probe.outputSet) &&
          r.dataType == BinaryType && r.deterministic)
      case _ => false
    }
    // exactly ONE key equality: zero means not a key join; two would
    // need both enforced (one can probe, but keeping this narrow and
    // letting built-in planning handle the exotic shape is safer)
    if (keyEqs.size != 1) return None
    val probeKey = keyEqs.head match {
      case EqualTo(l, r) => if (r.semanticEquals(keyAttr)) l else r
    }
    val inScope = probe.outputSet ++ AttributeSet(u.topOutput)
    if (!residual.forall(p => p.deterministic && p.references.subsetOf(inScope)))
      return None
    val exec = SSTableLookupJoinExec(planLater(probe), u.rel.output,
      u.proj, u.preds.reduceOption(And), j.joinType,
      probeKey, residual.reduceOption(And), u.spec)
    Some(if (swapped) ProjectExec(j.output, exec) else exec)
  }
}

/** Index-nested-loop join against an SSTable directory: the probe child
  * runs unchanged (its partitioning is irrelevant — no shuffle, no
  * broadcast), and each partition probes its rows' keys through
  * [[SSTableReader.DirectoryProber.getRaw]] — per-generation row
  * versions, delete-shadowed with the scan's own rule
  * ([[Visibility.row]]), so the output row multiset is exactly
  * `probe ⋈ scan` for the supported join types. The (listing, shadow)
  * pair is one [[ReadSnapshot]] taken at execute, the same consistency
  * contract as [[SSTableScan.toBatch]].
  *
  * 100 TB shape: IO ∝ probe rows × candidate generations (bloom-pruned;
  * absent keys open zero Data.db files), never table size; the only
  * driver-side work is the listing + delete-shadow load the scan would
  * also do at planning. */
final case class SSTableLookupJoinExec(child: SparkPlan,
                                       relOutput: Seq[Attribute],
                                       scanProject: Seq[NamedExpression],
                                       scanFilter: Option[Expression],
                                       joinType: JoinType,
                                       probeKey: Expression,
                                       matchCond: Option[Expression],
                                       spec: LookupProbeSpec)
    extends UnaryExecNode {

  /** What the join sees on the scan side: the inlined Project chain's
    * output (plain relation joins: the relation's own attributes). */
  private def scanOutput: Seq[Attribute] = scanProject.map(_.toAttribute)

  override def output: Seq[Attribute] = joinType match {
    case Inner => child.output ++ scanOutput
    case LeftOuter => child.output ++ scanOutput.map(_.withNullability(true))
    case LeftSemi | LeftAnti => child.output
    case t => throw new IllegalStateException(s"unsupported join type: $t")
  }

  /** The probe child's partitioning and ordering survive verbatim: every
    * output row derives from exactly one probe row, expanded in place
    * within its partition (matches emitted consecutively), so any
    * distribution or order the child guarantees over ITS attributes —
    * which keep their exprIds in [[output]] — still holds. Without this
    * the default UnknownPartitioning would make a downstream aggregate
    * on the probe keys re-shuffle rows that never moved (the same
    * forwarding Spark's broadcast-join execs do for their streamed
    * side). */
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "probedKeys" -> SQLMetrics.createMetric(sparkContext, "probed keys"))

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val probedKeys = longMetric("probedKeys")
    // one (listing, shadow) snapshot for every partition — the same
    // freshness and consistency contract as the scan's Batch: a
    // half-destroyed residue would be a silently partial probe set
    val snap = ReadSnapshot(SSTableLookupJoin.testStorage.getOrElse(spec.storage),
      spec.path, "the probe snapshot", catalogManaged = spec.catalogManaged,
      splitDeletes = spec.applyDeletes)
    val dataFiles = snap.data
    val shadowBc = snap.pendingDeletes(None, spec.maxDeleteKeys)
    val specLocal = spec
    val childOutput = child.output
    val rawAttrs = relOutput
    val scanProj = scanProject
    val scanPred = scanFilter
    val scanAttrs = scanOutput
    val outAttrs = output
    val jt = joinType
    val keyExpr = BindReferences.bindReference(probeKey, childOutput)
    val condExpr = matchCond.map(
      BindReferences.bindReference(_, childOutput ++ scanAttrs))
    child.execute().mapPartitions({ it =>
      val st = SSTableLookupJoin.testStorage.getOrElse(specLocal.storage)
      // one prober (cached metadata) per partition, not per key
      val prober = new SSTableReader.DirectoryProber(dataFiles, st)
      val vis = new Visibility(None, None, shadowBc.map(_.value))
      val joined = new JoinedRow
      // the scan-side Filter + Project chain, re-executed per probed row
      val predOnRaw = scanPred.map(BindReferences.bindReference(_, rawAttrs))
      val projOnRaw = UnsafeProjection.create(scanProj, rawAttrs)
      // scan-side input declared nullable: LeftOuter feeds an all-null
      // right row, and the generated writer must null-check even fields
      // the scan declares non-null
      val projBoth = UnsafeProjection.create(outAttrs,
        childOutput ++ scanAttrs.map(_.withNullability(true)))
      val projLeft = UnsafeProjection.create(childOutput, childOutput)
      val nullRight = new GenericInternalRow(scanAttrs.size)
      it.flatMap { row =>
        probedKeys += 1
        // SQL equi-join semantics: a NULL probe key matches nothing
        val k = keyExpr.eval(row).asInstanceOf[Array[Byte]]
        // LAZY surviving-match pipeline: generations decode only as the
        // consumer advances (semi/anti need one surviving match, not
        // every row version of a 16-generation hot key). The
        // projOnRaw buffer is reused: at most one element is alive at a
        // time here; consumers that hold several matches copy below.
        def survivors(): Iterator[InternalRow] =
          if (k == null) Iterator.empty
          else {
            val rows = prober.getRawIter(k).flatMap(vis.row)
              .map(SSTableSchema.rowToInternal(_, specLocal.schema))
              .filter(r => predOnRaw.forall(p =>
                java.lang.Boolean.TRUE == p.eval(r)))
              .map(projOnRaw(_): InternalRow)
            condExpr match {
              case Some(c) =>
                rows.filter(r => java.lang.Boolean.TRUE == c.eval(joined(row, r)))
              case None => rows
            }
          }
        jt match {
          case Inner =>
            // streams: each match is consumed by projBoth (which writes
            // its own buffer) before the pipeline advances, so no copy
            survivors().map { m => numOutputRows += 1; projBoth(joined(row, m)) }
          case LeftOuter =>
            // hasNext only BUFFERS the first match (no consumption), so
            // the empty/non-empty branch streams like Inner
            val s = survivors()
            if (!s.hasNext) {
              numOutputRows += 1
              Iterator.single(projBoth(joined(row, nullRight)))
            } else s.map { m =>
              numOutputRows += 1; projBoth(joined(row, m))
            }
          case LeftSemi =>
            // short-circuits at the FIRST surviving match
            if (survivors().hasNext) { numOutputRows += 1; Iterator.single(projLeft(row)) }
            else Iterator.empty
          case LeftAnti =>
            if (!survivors().hasNext) { numOutputRows += 1; Iterator.single(projLeft(row)) }
            else Iterator.empty
          case t => throw new IllegalStateException(s"unsupported join type: $t")
        }
      }
    }, preservesPartitioning = true)
  }
}
