package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, EqualTo, Expression, In, InSet, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.FILTER
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.StateStore

/** Optimizer rule: a filter that names distributions reads only their
  * buckets of a [[StateStore]] `counts` scan.
  *
  *   dist = 'x'               ==>   ... AND dist_bucket IN (b(x))
  *   dist IN ('x', 'y', ...)  ==>   ... AND dist_bucket IN (b(x), b(y), ...)
  *
  * where `b` is [[StateStore.bucketOf]] at the store's recorded bucket
  * count, which every store scan carries as the reader option
  * [[StateStore.BucketsOption]]. Only a `Filter` directly on such a
  * scan is rewritten (the optimizer pushes a `dist` filter there
  * through `load`'s projection), and only when one of its conjuncts is
  * an equality or IN (`InSet` above 10 values) of `dist` against
  * non-null string literals; with several, the names are their
  * intersection. The added predicate is a partition filter, so the
  * scan opens only the named buckets' `dist_bucket=<b>` files. It is
  * implied by the conjunct (the writer put every row of `x` in
  * `b(x)`), so the rows do not change. A condition that already
  * references `dist_bucket` is left alone: `loadDist`'s own filter, and
  * this rule's output on its next pass.
  *
  * Registered by [[graft.sources.GraftSession.builder]].
  */
object StoreBucketPruning extends Rule[LogicalPlan] with PredicateHelper {

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(FILTER)) {
      case f @ Filter(cond, rel @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _))
          if !cond.references.exists(_.name == StateStore.BucketCol) =>
        (for {
          n <- fs.options.get(StateStore.BucketsOption).map(_.toInt)
          if fs.partitionSchema.fieldNames.contains(StateStore.BucketCol)
          bucket <- rel.output.find(_.name == StateStore.BucketCol)
          dist <- rel.output.find(_.name == "dist")
          names <- splitConjunctivePredicates(cond).flatMap(namesOf(dist, _))
            .reduceOption(_ intersect _)
        } yield {
          val buckets = names.toSeq.map(StateStore.bucketOf(_, n)).distinct.sorted
          Filter(And(cond, In(bucket, buckets.map(Literal(_)))), rel)
        }).getOrElse(f)
    }

  /** The names a conjunct restricts `dist` to, when it is a test of
    * `dist` against string literals only.
    */
  private def namesOf(dist: Attribute, e: Expression): Option[Set[String]] = {
    def isDist(a: Expression) = a.semanticEquals(dist)
    def str(v: Any) = v match {
      case s: UTF8String => Some(s.toString)
      case _ => None
    }
    def strs(vs: Seq[Any]) = {
      val ss = vs.flatMap(str)
      if (ss.size == vs.size) Some(ss.toSet) else None
    }
    e match {
      case EqualTo(a, Literal(v, StringType)) if isDist(a) => str(v).map(Set(_))
      case EqualTo(Literal(v, StringType), a) if isDist(a) => str(v).map(Set(_))
      case In(a, list) if isDist(a) && list.forall {
          case Literal(_, StringType) => true
          case _ => false
        } => strs(list.map(_.asInstanceOf[Literal].value))
      case InSet(a, set) if isDist(a) => strs(set.toSeq)
      case _ => None
    }
  }
}
