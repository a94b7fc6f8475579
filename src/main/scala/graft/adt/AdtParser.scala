package graft.adt

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** `ParserInterface` that puts the ADT grammar (CREATE TYPE, constructors,
  * MATCH … END — see [[AdtSql]]) in front of Spark's own parser, injected
  * via `GraftExtensions.injectParser`. A SQL-only user of `graft.Sql`
  * reaches the engine's sum-type surface with no API calls at all:
  *
  * {{{
  *   spark.sql("CREATE TYPE OrderState = Open(priority TEXT) | Shipped(d TIMESTAMP) | Returned")
  *   spark.sql("SELECT MATCH (…) WHEN Open(p) THEN p … END FROM orders")
  * }}}
  *
  * Statements using no ADT syntax pass through the delegate byte-for-byte
  * ([[AdtSql.rewrite]] is the identity on them), so the full Spark SQL
  * surface is unchanged.
  */
class AdtParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(AdtSql.lower(session, sqlText))

  /** Spark 4.1 routes `spark.sql(text, args)` through this entry point so
    * parameter markers bind DURING parsing; the trait's default silently
    * drops the `ParameterContext` (every `:name` / `?` then surfaces as
    * UNBOUND_SQL_PARAMETER at analysis). Delegate it explicitly — the
    * rewrite is still applied, so ADT syntax and bind parameters compose.
    */
  override def parsePlanWithParameters(
      sqlText: String,
      parameterContext: org.apache.spark.sql.catalyst.parser.ParameterContext)
      : LogicalPlan =
    delegate.parsePlanWithParameters(AdtSql.lower(session, sqlText), parameterContext)

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(AdtSql.rewrite(session, sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(AdtSql.rewrite(session, sqlText))

  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)

  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)

  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)

  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)

  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)

  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
