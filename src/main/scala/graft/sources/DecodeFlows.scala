package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet,
  GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy,
  UnaryExecNode}
import org.apache.spark.sql.types.StructType

/** Logical node that runs a per-partition flow decoder over its child's
  * rows. `decode` maps one partition's input rows to one array of
  * Catalyst values (Long, UTF8String, Array[Byte], null) per output
  * row, laid out as `output`. The arrays become rows without boxing
  * through `Row` or an encoder: a 66-column RowEncoder serializer
  * compiles to a method past HotSpot's 8,000-byte HugeMethodLimit and
  * runs interpreted (SCALE.md, "Decoded flows as InternalRows").
  * Works on batch and streaming children alike. */
final case class DecodeFlows(
    decode: Iterator[InternalRow] => Iterator[Array[Any]],
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode with MultiInstanceRelation {
  // the decoder reads every child column; declaring them referenced
  // keeps ColumnPruning from projecting the child away under a Project
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(output)
  // fresh output ids let the analyzer resolve a decoded frame joined
  // with itself
  override def newInstance(): DecodeFlows =
    copy(output = output.map(_.newInstance()))
  override protected def withNewChildInternal(
      newChild: LogicalPlan): DecodeFlows = copy(child = newChild)
}

/** Physical [[DecodeFlows]]: not whole-stage codegen. The value arrays
  * are wrapped as GenericInternalRows and copied to UnsafeRows by one
  * (split, JIT-compiled) unsafe projection, as RDDScanExec does, so
  * shuffles and codegen consumers downstream get the row format they
  * expect. */
final case class DecodeFlowsExec(
    decode: Iterator[InternalRow] => Iterator[Array[Any]],
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = this.schema
    val f = decode
    child.execute().mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      f(it).map(vals => proj(new GenericInternalRow(vals)))
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): DecodeFlowsExec = copy(child = newChild)
}

object DecodeFlows {

  /** Plans [[DecodeFlows]]; registered per session by [[frame]]. */
  object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case DecodeFlows(f, out, child) =>
        DecodeFlowsExec(f, out, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Idempotent. A streaming query plans in a clone of the session,
    * which copies the strategies present when the query starts. */
  private def register(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(Planner))
        ex.extraStrategies = Planner +: ex.extraStrategies
    }
  }

  /** `input` decoded partition by partition into a frame of `schema`. */
  def frame(input: DataFrame, schema: StructType)(
      decode: Iterator[InternalRow] => Iterator[Array[Any]]): DataFrame = {
    val spark = input.sparkSession
    register(spark)
    GraftBridge.ofRows(spark, DecodeFlows(decode,
      GraftBridge.toAttributes(schema), input.queryExecution.analyzed))
  }
}
