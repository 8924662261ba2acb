package graft.pushdown

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.client.ClickHouseClient

/** Leaf logical node holding a collapsed remote query (the analog of the
  * reference's `ClickHouseFunctionNode` extension node,
  * /root/reference/src/context/plan_node.rs). Opaque to the optimizer —
  * exactly like the reference's node, which exposes no children/exprs so
  * rewrites can't reach through it (plan_node.rs:86-155).
  */
case class ClickHouseRemoteNode(
    output: Seq[Attribute],
    sql: String,
    client: ClickHouseClient,
    streams: Int,
    sizeEstimate: BigInt = BigInt(1) << 20,
    coerce: Boolean = true,
    splitBy: Option[String] = None,
    splitBuckets: Boolean = false)
  extends LeafNode {

  // Shape-aware: the collapse rule passes an estimate derived from the
  // pre-collapse subtree (Aggregate/LIMIT-topped → small; row-preserving
  // window/filter/join shapes inherit the child plan's stats, which now
  // flow from the scan's SupportsReportStatistics). A hardcoded "small"
  // here made Spark broadcast EVERY remote side — a collapsed window
  // returns the full table and would broadcast unbounded rows.
  override def computeStats(): Statistics = Statistics(sizeInBytes = sizeEstimate)

  override def simpleString(maxFields: Int): String =
    s"ClickHouseRemoteNode [$sql]"
}

/** Planner strategy (the `ClickHouseExtensionPlanner` analog,
  * /root/reference/src/context/planner.rs:18-37).
  */
object ClickHouseRemoteStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: ClickHouseRemoteNode =>
      ClickHouseRemoteExec(n.output, n.sql, n.client, n.streams, n.coerce,
        n.splitBy, n.splitBuckets) :: Nil
    case _ => Nil
  }
}

/** Physical node executing the remote SQL (the `ClickHouseSqlExec` analog,
  * /root/reference/src/sql.rs:278-369): one input partition per remote
  * stream; per-batch schema coercion via Cast projection when the wire
  * schema differs from the declared plan schema (the reference's opt-in
  * coercion, stream.rs:45-78).
  */
case class ClickHouseRemoteExec(
    output: Seq[Attribute],
    sql: String,
    client: ClickHouseClient,
    streams: Int,
    coerce: Boolean = true,
    splitBy: Option[String] = None,
    splitBuckets: Boolean = false)
  extends SparkPlan with LeafExecNode {

  /** Split even a COLLAPSED subtree when a cursor is configured: the
    * transport wraps the whole collapsed SQL in per-slice conditions, so
    * a big join/window result streams over N parallel connections
    * instead of one fat stream (the collapse rule only passes a cursor
    * for re-executable shapes). `splitBuckets` selects probe-free
    * hash-mod slices (keyed-collapse aggregates: a min/max probe would
    * pay one full extra execution of the aggregation just for bounds);
    * plain shapes use value ranges. A transport without bucketed reads
    * falls back to its plain fan.
    */
  private def plan(): (StructType, Seq[graft.client.ChPartitionHandle]) = splitBy match {
    case Some(c) if splitBuckets =>
      client.planQueryBuckets(sql, c, streams)
        .getOrElse(client.planQuery(sql, streams))
    case Some(c) => client.planQueryRanges(sql, c, streams)
    case None => client.planQuery(sql, streams)
  }

  override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] =
    Map("numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))

  /** The planned handles with the remote schema checked against the
    * plan's: the same arity, every field widened to nullable, and whether
    * a Cast projection must coerce a drifted type. With opt-out schema
    * coercion (the reference's per-catalog toggle, builders.rs:131-135)
    * wire-type drift is an error, not a silent per-batch Cast projection.
    */
  private def planChecked(): (StructType, Seq[graft.client.ChPartitionHandle], Boolean) = {
    val (remoteSchema, handles) = plan()
    require(remoteSchema.length == output.length,
      s"remote arity ${remoteSchema.length} != plan arity ${output.length} for: $sql")
    val remote = StructType(remoteSchema.fields.map(f => f.copy(nullable = true)))
    val drift = output.map(_.dataType).zip(remote.fields).zipWithIndex.collect {
      case ((dt, f), i) if f.dataType != dt => s"col $i: remote ${f.dataType} != plan $dt"
    }
    require(coerce || drift.isEmpty,
      s"remote schema drift with coerce_schemas=false for $sql: ${drift.mkString("; ")}")
    (remote, handles, drift.nonEmpty)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val expected = output.map(_.dataType)
    val numOutputRows = longMetric("numOutputRows")
    // plan-time: metadata-only handles; rows are pulled on the executors
    val (remote, handles, needsProjection) = planChecked()
    val cl = client
    sparkContext.parallelize(handles, math.max(1, handles.length)).mapPartitions { hs =>
      if (!needsProjection)
        // internal rows pass through untouched — the transport decoded
        // them into exactly the plan's format
        hs.flatMap(h => cl.readPartitionInternal(h, remote).map { r =>
          numOutputRows += 1
          r
        })
      else {
        val proj = UnsafeProjection.create(
          graft.types.ClickHouseType.castExprs(remote.map(_.dataType), expected))
        hs.flatMap(h => cl.readPartitionInternal(h, remote).map { r =>
          numOutputRows += 1
          proj(r).copy(): InternalRow
        })
      }
    }
  }

  /** Vectorized output whenever the plan schema fits the packer: Spark
    * plans a codegen ColumnarToRow on top, so the remote boundary moves
    * batches, not rows (the reference's RecordBatch streams,
    * src/stream.rs:21-28). Schema drift still coerces — rows project
    * through the Cast first, then pack.
    */
  override def supportsColumnar: Boolean =
    graft.connector.ColumnarPack.supports(
      StructType(output.map(a => StructField(a.name, a.dataType, nullable = true))))

  override protected def doExecuteColumnar()
      : RDD[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val expected = output.map(_.dataType)
    val numOutputRows = longMetric("numOutputRows")
    val (remote, handles, needsProjection) = planChecked()
    val cl = client
    val planSchema = StructType(
      output.map(a => StructField(a.name, a.dataType, nullable = true)))
    sparkContext.parallelize(handles, math.max(1, handles.length)).mapPartitions { hs =>
      if (!needsProjection)
        // the transport decodes straight to vectors (wire clients) or
        // packs its row stream (embedded default)
        hs.flatMap(h => cl.readPartitionColumnar(h, remote).map { b =>
          numOutputRows += b.numRows()
          b
        })
      else {
        val projExprs =
          graft.types.ClickHouseType.castExprs(remote.map(_.dataType), expected)
        hs.flatMap { h =>
          val proj = UnsafeProjection.create(projExprs)
          graft.connector.ColumnarPack.iterator(
            cl.readPartitionInternal(h, remote).map(r => proj(r): InternalRow),
            planSchema).map { b =>
            numOutputRows += b.numRows()
            b
          }
        }
      }
    }
  }

  override def simpleString(maxFields: Int): String =
    s"ClickHouseRemoteExec [$sql]"
}
