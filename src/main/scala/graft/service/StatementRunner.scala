package graft.service

import java.util.concurrent.CancellationException
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType

/** The one path that executes a client's statement (reference: sclera's
  * exec/Processor.scala, one executor behind every interface): HTTP
  * `/sql` and `/display`, the JDBC statement, the shell and the Java
  * facade call it and only format what it returns. A row cap runs the
  * statement as one job, `limit(n).collect()`; without one its rows
  * stream through `toLocalIterator`, one job per partition pulled.
  */
object StatementRunner {

  /** `rows` is lazy when uncapped; `queryExecution` is the uncapped
    * statement's, for EXPLAIN echoes. */
  final case class Result(schema: StructType, rows: Iterator[Row],
      elapsedMs: Double, queryExecution: QueryExecution)

  def run(spark: SparkSession, stmt: String,
      maxRows: Option[Int] = None): Result =
    new Handle(spark).run(stmt, maxRows)

  /** The first three non-blank lines of the message (Spark's parse
    * errors start with a blank one), or the class name. */
  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.filter(_.trim.nonEmpty).take(3).mkString(" / ")

  /** A user error: the statement does not parse or resolve, an argument
    * is bad, or Spark names a non-internal error condition. A cancel is
    * its own kind; anything else is an engine fault. */
  def error(e: Throwable, cancelled: Boolean = false): StatementError = {
    import StatementError.{Cancelled, Fault, User}
    e match {
      case s: StatementError => s
      case _ => new StatementError(e match {
        case _ if cancelled => Cancelled
        case t: SparkThrowable if t.getCondition == "SPARK_JOB_CANCELLED" =>
          Cancelled
        case _: AnalysisException | _: IllegalArgumentException => User
        case t: SparkThrowable if t.getCondition != null &&
            !t.isInternalError => User
        case _ => Fault
      }, e)
    }
  }

  private val ids = new AtomicLong
  private val GroupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** One statement's job group (interruptOnCancel): hand the handle to
    * whoever may cancel, then `run` the statement once. Its jobs, and
    * those a later pull of its rows starts, run in the group; the
    * caller's group properties are put back after each call, and a pull
    * after `cancel` fails instead of starting a job. */
  final class Handle(spark: SparkSession) {
    private val sc = spark.sparkContext
    val group = s"graft-statement-${ids.incrementAndGet()}"
    @volatile private var cancelled = false

    def cancel(): Unit = { cancelled = true; sc.cancelJobGroup(group) }

    def run(stmt: String, maxRows: Option[Int]): Result = inGroup {
      val t0 = System.nanoTime()
      val df = spark.sql(stmt)
      val rows = maxRows match {
        case Some(n) => df.limit(n).collect().iterator
        case None =>
          val it = df.toLocalIterator()
          new Iterator[Row] {
            def hasNext: Boolean = inGroup(it.hasNext)
            def next(): Row = inGroup(it.next())
          }
      }
      Result(df.schema, rows, (System.nanoTime() - t0) / 1e6,
        df.queryExecution)
    }

    private def inGroup[T](body: => T): T = {
      if (cancelled)
        throw error(new CancellationException("statement cancelled"), true)
      val saved = GroupKeys.map(sc.getLocalProperty)
      // no description: SQL executions keep their call-site names
      sc.setJobGroup(group, null, interruptOnCancel = true)
      try body
      catch { case NonFatal(e) => throw error(e, cancelled) }
      finally GroupKeys.zip(saved).foreach((sc.setLocalProperty _).tupled)
    }
  }
}

/** A failed statement: whose failure it is, and the runner's message. */
final class StatementError(val kind: StatementError.Value, cause: Throwable)
    extends RuntimeException(StatementRunner.message(cause), cause)

object StatementError extends Enumeration {
  val User, Cancelled, Fault = Value
}
