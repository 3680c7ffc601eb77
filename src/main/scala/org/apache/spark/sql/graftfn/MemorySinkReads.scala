// Hosted under org.apache.spark.sql for private[sql] access to MemoryPlan,
// the query behind a StreamingQuery handle, and the JSON writer
// Dataset.toJSON uses. Public face: graft.iq.InteractiveQueries.
package org.apache.spark.sql.graftfn

import java.io.CharArrayWriter

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, Predicate, SubqueryExpression}
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.catalyst.optimizer.ConstantFolding
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.sources.{MemoryPlan, MemorySink}
import org.apache.spark.sql.internal.SQLConf

/** Interactive-query reads served from the rows a running query's memory
  * sink already holds on the driver — the local state-store `get` of the
  * reference (`ring.clj:51-53`): no optimizer, no physical plan, no Spark
  * job, and no generated class per key.
  *
  * A frame qualifies when its analyzed plan is `spark.table(name)`,
  * optionally under one deterministic `where`, and the table resolves
  * (through `SubqueryAlias`/`View`) to the `MemoryPlan` of a sink that an
  * ACTIVE query of the frame's session writes, with the view's output
  * equal to the plan's. The decision reads the plan, never a query name: a
  * temp view that shadows a query name, a checkpoint-backed view and a
  * stopped query's sink all keep Spark SQL. Every non-qualifying frame
  * returns None and the caller runs it through SQL.
  *
  * Parity with the SQL path: the filter is the analyzer's (same coercion
  * and ANSI casts), constant-folded by the optimizer's own rule before
  * any row is read (a malformed key fails as planning makes it fail), and
  * evaluated interpreted over the sink rows in sink order, the order a
  * `LocalTableScan` of the sink collects in. JSON renders as
  * `Dataset.toJSON` renders.
  */
object MemorySinkReads {

  private final case class SinkScan(sink: MemorySink, output: Seq[Attribute],
                                    cond: Option[Expression]) {

    /** Matching rows in sink order, at most `limit`. The iterator reuses
      * one row object: consume each row before pulling the next.
      */
    def rows(limit: Int): Iterator[InternalRow] = {
      val toRow = ExpressionEncoder(DataTypeUtils.fromAttributes(output))
        .createSerializer()
      val pred = cond.map { c =>
        val folded = ConstantFolding(Filter(c, LocalRelation(output)))
          .asInstanceOf[Filter].condition
        val p = Predicate.createInterpreted(
          BindReferences.bindReference(folded, output))
        p.initialize(0)
        p
      }
      sink.allData.iterator.map(toRow(_))
        .filter(r => pred.forall(_.eval(r))).take(limit)
    }
  }

  private def scanOf(df: DataFrame): Option[SinkScan] = {
    val (cond, view) = df.queryExecution.analyzed match {
      case Filter(c, child)
          if c.deterministic && !SubqueryExpression.hasSubquery(c) =>
        (Some(c), child)
      case p => (None, p)
    }
    def memoryPlan(p: LogicalPlan): Option[MemoryPlan] = p match {
      case SubqueryAlias(_, child) => memoryPlan(child)
      case v: View => memoryPlan(v.child)
      case m: MemoryPlan => Some(m)
      case _ => None
    }
    def sig(as: Seq[Attribute]) = as.map(a => (a.exprId, a.name, a.dataType))
    memoryPlan(view)
      .filter(m => sig(m.output) == sig(view.output) &&
        df.sparkSession.streams.active.exists {
          case w: StreamingQueryWrapper => w.streamingQuery.sink eq m.sink
          case _ => false
        })
      .map(m => SinkScan(m.sink, view.output, cond))
  }

  private def withConf[A](df: DataFrame)(body: => A): A =
    SQLConf.withExistingConf(df.sparkSession.sessionState.conf)(body)

  /** `df.limit(limit).toJSON.collect()`, read from the sink; None when
    * `df` does not qualify.
    */
  def toJson(df: DataFrame, limit: Int): Option[Array[String]] =
    scanOf(df).map(s => withConf(df) {
      val writer = new CharArrayWriter()
      val gen = new JacksonGenerator(df.schema, writer,
        new JSONOptions(Map.empty[String, String],
          df.sparkSession.sessionState.conf.sessionLocalTimeZone))
      try s.rows(limit).map { r =>
        gen.write(r)
        gen.flush()
        val json = writer.toString
        writer.reset()
        json
      }.toArray
      finally gen.close()
    })

  /** `df.collect()`, read from the sink; None when `df` does not qualify. */
  def collect(df: DataFrame): Option[Array[Row]] =
    scanOf(df).map(s => withConf(df) {
      val fromRow = ExpressionEncoder(df.schema).resolveAndBind()
        .createDeserializer()
      s.rows(Int.MaxValue).map(fromRow(_)).toArray
    })

  /** Whether `df` is served from a running memory sink (see the object
    * doc for the rule).
    */
  def servesFromSink(df: DataFrame): Boolean = scanOf(df).isDefined
}
