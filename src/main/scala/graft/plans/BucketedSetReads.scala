package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.storage.{GraftCatalog, SetCatalog}

/** Analyzer rule restoring the co-partitioned "local join" fast path for
  * sets reached THROUGH THE SQL CATALOG (`graft.<db>.<set>`).
  *
  * [[graft.storage.SetCatalog.createBucketedSet]] buckets a set on its
  * join key so later equi-joins plan with zero shuffle exchanges — the
  * reference engine's local-join payoff (reference: src/builtInPDBObjects/
  * headers/ScanUserSet.h:69-76, isFollowedByLocalJoin →
  * PartitionedVectorTupleSetIterator) and the whole point of the Lachesis
  * placement layer. The DSv2 parquet table the catalog plugin serves has
  * no bucketing metadata (ParquetTable reports no partitioning), so
  * without this rule `graft.db.a ⋈ graft.db.b` re-shuffles both sides.
  *
  * The rule rewrites each READ of a bucketed set (recorded in the set's
  * sidecar) into the bucket-aware file-source relation
  * [[graft.storage.SetCatalog.scanSet]] reads — the same
  * [[graft.storage.SetCatalog.fileRelation]], given the DSv2 relation's
  * declared schema so the two can never diverge in types or
  * nullability. The file-source planner then derives
  * `HashPartitioning(key, n)` from the bucket ids baked into the file
  * names, and `EnsureRequirements` elides both exchanges of a same-key
  * same-n join. The relation is built per analysis, so its file listing
  * is always the sidecar's current generation. Non-bucketed sets keep
  * the native DSv2 scan (its pushdown/pruning is asserted by
  * CatalogSpec); write commands are left untouched — bucketed sets are
  * written by `createBucketedSet`, not SQL INSERT. Pushdown survives the
  * rewrite because v1 file-source pruning and filter pushdown happen at
  * physical planning, after this rule.
  */
case class BucketedSetReads(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // relations that are INSERT targets must stay DSv2 (reference
    // equality: the write node holds the same relation instance)
    val writeTargets = plan.collect { case w: V2WriteCommand => w.table }.toSet
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation if !writeTargets.contains(r) =>
        (r.catalog, r.identifier) match {
          case (Some(cat: GraftCatalog), Some(ident)) =>
            cat.bucketedSet(ident)
              .flatMap { case (path, m) => rewrite(r, LogicalRelation(
                SetCatalog.fileRelation(spark, path, Some(m), Some(r.schema)))) }
              .getOrElse(r)
          case _ => r
        }
    }
  }

  private def rewrite(
      r: DataSourceV2Relation, newRel: LogicalRelation): Option[LogicalPlan] = {
    val resolver = spark.sessionState.conf.resolver
    // re-expose the DSv2 relation's attribute ids so references above
    // the rewritten scan stay bound
    val proj: Seq[Option[NamedExpression]] = r.output.map { o =>
      newRel.output.find(a => resolver(a.name, o.name))
        .map(a => Alias(a, o.name)(exprId = o.exprId, qualifier = o.qualifier))
    }
    if (proj.exists(_.isEmpty)) None
    else Some(Project(proj.flatten, newRel))
  }
}
