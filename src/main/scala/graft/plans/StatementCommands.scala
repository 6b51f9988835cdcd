package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StringType}

/** Runtime command node for every side-effecting GRAFT statement
  * (reference split: sql/statements/SqlStatement.scala declares the
  * statement, exec/Processor.scala executes it — parsing never runs
  * the effect). Spark's own DDL follows the same discipline through
  * LeafRunnableCommand: `spark.sql(...)` executes the node eagerly,
  * while EXPLAIN (CommandExecutionMode.SKIP) renders it without
  * running anything.
  *
  * `label` names the statement family in plan output; `outCols`
  * declares the result schema (known at parse time — the effect runs
  * only inside `run`); `body` is the statement's effect + status
  * rows, invoked once per execution with the live session.
  */
case class GraftStatementCommand(
    label: String,
    outCols: Seq[(String, DataType)],
    @transient body: SparkSession => Seq[Row])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    outCols.map { case (n, t) =>
      AttributeReference(n, t, nullable = true)()
    }

  override def run(spark: SparkSession): Seq[Row] = body(spark)

  override def simpleString(maxFields: Int): String =
    s"GraftStatementCommand $label [${outCols.map(_._1).mkString(", ")}]"

  // the closure is not data: two commands are the same node only if
  // they are the same object (prevents accidental plan-cache hits
  // between distinct statements that share a label)
  override def equals(other: Any): Boolean = other match {
    case o: GraftStatementCommand => this eq o
    case _ => false
  }
  override def hashCode(): Int = System.identityHashCode(this)
}

object GraftStatementCommand {
  /** All-string status output (the shape most GRAFT admin statements
    * render): column names with a single row of values computed by
    * `body` at RUN time. */
  def status(label: String, cols: Seq[String])(
      body: SparkSession => Seq[String]): GraftStatementCommand =
    GraftStatementCommand(label, cols.map(_ -> (StringType: DataType)),
      s => Seq(Row(body(s): _*)))
}
