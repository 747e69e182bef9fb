package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Catalyst rule that injects the RLS predicate into every reference to a
  * protected table — the engine-level analogue of SQL Server's
  * SECURITY POLICY firing transparently for each user (reference
  * `Terraform/sql/011_security_rls.sql:196-214`), and the "optional
  * polish" path from SURVEY §4 (the per-user view factory in
  * graft.security.Rls is the simple path).
  *
  * Configuration is programmatic: `RlsState.configure` captures the
  * protected table name, the department column, and the per-user allowed
  * sets (None = unrestricted). The current user is read from the session
  * conf key `graft.rls.user` at analysis time, so the same query text is
  * transparently scoped per session.
  */
object RlsState {
  @volatile private[plans] var protectedTable: Option[String] = None
  @volatile private[plans] var deptCol: String = "departement_code"
  @volatile private[plans] var grants: Map[String, Option[Set[String]]] = Map.empty

  def configure(table: String, column: String,
      userGrants: Map[String, Option[Set[String]]]): Unit = {
    protectedTable = Some(table); deptCol = column; grants = userGrants
  }
  def clear(): Unit = { protectedTable = None; grants = Map.empty }
}

case class RlsInjectionRule(spark: org.apache.spark.sql.SparkSession)
    extends Rule[LogicalPlan] {
  import RlsInjectionRule.InjectedTag

  private def allowedFor(user: String): Option[Set[String]] =
    // registered user → their set (None inside = wildcard);
    // unregistered → full access (reference NOT EXISTS branch, 011:174-178)
    RlsState.grants.getOrElse(user, None)

  override def apply(plan: LogicalPlan): LogicalPlan =
    RlsState.protectedTable match {
      case None => plan
      case Some(table) =>
        val user = spark.conf.getOption("graft.rls.user").getOrElse("")
        allowedFor(user) match {
          case None => plan // unrestricted
          case Some(allowed) =>
            plan.transformUp {
              // match the protected relation by its alias, skip if the
              // filter was already injected (analyzer runs to fixed point)
              case a @ SubqueryAlias(id, child)
                  if id.name.equalsIgnoreCase(table) &&
                    !alreadyFiltered(child) && child.resolved =>
                child.output.find(_.name.equalsIgnoreCase(RlsState.deptCol))
                  .map { attr =>
                    val cond = In(attr,
                      allowed.toSeq.sorted.map(v => Literal(v)): Seq[Expression])
                    val f = Filter(cond, child)
                    f.setTagValue(InjectedTag, true)
                    a.copy(child = f)
                  }.getOrElse(a)
            }
        }
    }

  // Only a filter WE injected counts (explicit TreeNodeTag; tags are
  // copied across analyzer transforms): a protected view legitimately
  // defined with its own IN(dept) predicate must still get RLS applied.
  private def alreadyFiltered(p: LogicalPlan): Boolean = p match {
    case f: Filter => f.getTagValue(InjectedTag).isDefined
    case _ => false
  }
}

object RlsInjectionRule {
  /** Marks a Filter node as RLS-injected so the fixed-point analyzer does
    * not stack a second copy. */
  val InjectedTag: TreeNodeTag[Boolean] = TreeNodeTag[Boolean]("graft.rls.injected")
}
