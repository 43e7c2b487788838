package graft.gateway

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedExecuteImmediate
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, ParsedStatement}

/** Read-only SQL validator (the reference's `_validate_and_limit_sql`
  * validation half, /root/reference/backend/main.py:36-100): parse, reject
  * empty/unparseable/multi-statement input, and reject any side-effecting
  * node anywhere in the tree.
  *
  * In Catalyst terms, every mutating or session-altering statement parses
  * to a `Command` (CREATE/DROP/ALTER/SET/USE/SHOW/CALL/...) or a
  * `ParsedStatement` (INSERT/...) — plus a small name-matched set for DML
  * nodes that are plain logical plans. `EXECUTE IMMEDIATE` is neither,
  * and analysis would parse and run its text unguarded, so it is rejected
  * by type whatever that text says. Multi-statement input is already a
  * parse error in Spark's single-statement parser.
  */
object SqlGuard {

  final case class Rejection(message: String)

  /** DML nodes that are neither Command nor ParsedStatement. */
  private val ForbiddenNodeNames = Set(
    "InsertIntoStatement", "DeleteFromTable", "UpdateTable", "MergeIntoTable",
    "UpdateAction", "InsertAction", "TruncateTable", "TruncatePartition",
    "CompoundBody")

  def validate(spark: SparkSession, sql: String): Either[Rejection, LogicalPlan] = {
    if (sql == null || sql.trim.isEmpty)
      return Left(Rejection("Empty query"))
    Try(spark.sessionState.sqlParser.parsePlan(sql)) match {
      case Failure(e: ParseException) =>
        Left(Rejection(s"Invalid SQL: ${firstLine(e.getMessage)}"))
      case Failure(e) =>
        Left(Rejection(s"Invalid SQL: ${firstLine(e.getMessage)}"))
      case Success(plan) => classify(plan)
    }
  }

  def classify(plan: LogicalPlan): Either[Rejection, LogicalPlan] = {
    val offender = plan.collectFirst {
      case c: Command => c.nodeName
      case s: ParsedStatement => s.nodeName
      case _: UnresolvedExecuteImmediate => "EXECUTE IMMEDIATE"
      case p if ForbiddenNodeNames.contains(p.nodeName) => p.nodeName
    }
    offender match {
      case Some(name) =>
        Left(Rejection(s"${name.toUpperCase} statements are not allowed"))
      case None => Right(plan)
    }
  }

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.next()).getOrElse("parse error")
}
