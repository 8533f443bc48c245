package graft.pregel

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences,
  Expression, GenericInternalRow, JoinedRow, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete,
  DeclarativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.core.{CheckpointPolicy, Columns, Graph}

/** The driver backend of [[Pregel]]: the same synchronous supersteps as
  * the distributed loop, run in memory over the collected graph.
  *
  * Per superstep, exactly as the distributed plan does it:
  *  - only the vertices that changed in the previous superstep send (all
  *    of them in superstep 1); every edge carries one message, so
  *    duplicate edges send duplicate messages, and a message to an id
  *    with no vertex row is dropped;
  *  - each recipient's messages fold through the aggregate's
  *    `initialValues` / `updateExpressions` / `evaluateExpression`;
  *  - recipients get `OLD_STATE := STATE` and `STATE := updateExpr`;
  *    vertices without a message keep both columns;
  *  - a recipient changed when `comparison(STATE, OLD_STATE)` is true.
  *
  * The message, update and comparison Columns are resolved once through
  * an analyzed plan over an empty relation of the state schema, then
  * bound and evaluated per row. The state schema is the distributed
  * plan's own (the fixed point of one superstep's analyzed schema), so
  * the result is the same DataFrame the distributed backend returns.
  */
private[pregel] final class DriverSupersteps private (
    p: Pregel,
    g: Graph,
    schema: StructType,
    msgToSrc: Option[Expression],
    msgToDst: Option[Expression],
    agg: DriverSupersteps.Fold,
    update: Expression,
    changedTest: Expression) {
  import Columns._

  def run(): PregelResult = {
    val spark = g.vertices.sparkSession
    val idIdx = schema.fieldIndex(ID)
    val stateIdx = schema.fieldIndex(STATE)
    val oldIdx = schema.fieldIndex(OLD_STATE)
    val idType = schema(idIdx).dataType

    val loaded = g.vertices.withColumn(STATE, p.initialState)
      .select(schema.fieldNames.filter(_ != OLD_STATE).map(col).toIndexedSeq: _*)
    val slots = loaded.schema.fieldNames.map(schema.fieldIndex)
    val vertexRdd = loaded.queryExecution.toRdd
    val edgeRdd = g.edges.select(col(SRC).cast(LongType), col(DST).cast(LongType)).queryExecution.toRdd
    // one job collects both frames: the vertex partitions come first
    val (vertexParts, edgeParts) = DriverSupersteps.described(spark, "collect") {
      spark.sparkContext.runJob(vertexRdd.union(edgeRdd),
        (it: Iterator[InternalRow]) => it.map(_.copy()).toArray)
    }.splitAt(vertexRdd.partitions.length)
    val rows: Array[GenericInternalRow] = vertexParts.flatten.map { in =>
      val values = new Array[Any](schema.length)
      slots.indices.foreach(k => values(slots(k)) = in.get(k, loaded.schema(k).dataType))
      new GenericInternalRow(values)
    }
    val edges = edgeParts.flatten.collect {
      case e if !e.isNullAt(0) && !e.isNullAt(1) => (e.getLong(0), e.getLong(1))
    }

    def idOf(r: Int): Long = DriverSupersteps.asLong(rows(r).get(idIdx, idType))
    val hasId = rows.indices.filter(r => !rows(r).isNullAt(idIdx)).toArray
    val byId = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    hasId.foreach(r => byId.getOrElseUpdate(idOf(r), mutable.ArrayBuffer.empty) += r)
    def adjacency(key: ((Long, Long)) => Long, other: ((Long, Long)) => Long) = {
      val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
      edges.foreach(e => adj.getOrElseUpdate(key(e), mutable.ArrayBuffer.empty) += other(e))
      adj
    }
    val sends = msgToSrc.map(_ -> adjacency(_._2, _._1)).toSeq ++
      msgToDst.map(_ -> adjacency(_._1, _._2)).toSeq

    var changed: Array[Int] = hasId
    val (converged, iterations) = p.iterate { () =>
      val inbox = mutable.LongMap.empty[InternalRow]
      for ((msg, adj) <- sends; r <- changed; targets <- adj.get(idOf(r))) {
        val m = msg.eval(rows(r))
        targets.foreach { t =>
          inbox(t) = agg.add(inbox.getOrElse(t, agg.zero), DriverSupersteps.fromLong(t, idType), m)
        }
      }
      val next = mutable.ArrayBuffer.empty[Int]
      inbox.foreach { case (t, buf) =>
        byId.get(t).foreach { recipients =>
          val m = agg.result(buf)
          recipients.foreach { r =>
            val old = rows(r)
            val row = new GenericInternalRow(old.values.clone())
            row.update(oldIdx, old.get(stateIdx, schema(stateIdx).dataType))
            row.update(stateIdx, update.eval(new JoinedRow(old, InternalRow(m))))
            rows(r) = row
            if (changedTest.eval(row) == true) next += r
          }
        }
      }
      changed = next.toArray
      () => changed.isEmpty
    }

    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    val out = java.util.Arrays.asList(rows.map(r => toScala(r).asInstanceOf[Row]): _*)
    PregelResult(spark.createDataFrame(out, schema), converged, iterations, PregelBackend.Driver)
  }
}

private[pregel] object DriverSupersteps {
  import Columns._

  private val Integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)

  /** Runs `body`'s jobs under the description "Pregel driver backend: `phase`". */
  private[pregel] def described[T](spark: SparkSession, phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"Pregel driver backend: $phase")
    try body finally sc.setJobDescription(prior)
  }

  /** The vertices fit `cap` rows and so do the edges, each frame on its
    * own. One job without a shuffle: each partition reads at most
    * `cap + 1` rows and returns only its count. The driver sums the counts
    * per frame as partitions finish and cancels the job once a sum passes
    * the cap, so a decline stops after a few partitions whatever the
    * graph's size, and brings no rows to the driver. */
  def fits(g: Graph, cap: Int): Boolean = {
    val spark = g.vertices.sparkSession
    val vertexRdd = g.vertices.select(lit(0)).queryExecution.toRdd
    val rows = vertexRdd.union(g.edges.select(lit(0)).queryExecution.toRdd)
    val vertexParts = vertexRdd.partitions.length
    val sums = Array(0L, 0L) // vertices, edges
    val over = Promise[Unit]()
    val job = described(spark, "size check") {
      spark.sparkContext.submitJob(rows,
        (it: Iterator[InternalRow]) => {
          var n = 0
          while (n <= cap && it.hasNext) { it.next(); n += 1 }
          n
        },
        rows.partitions.indices,
        // the job's result handler: called once per partition, never concurrently
        (part: Int, n: Int) => {
          val frame = if (part < vertexParts) 0 else 1
          sums(frame) += n
          if (sums(frame) > cap) over.trySuccess(())
        },
        ())
    }
    Await.ready(Future.firstCompletedOf(Seq(job, over.future))(ExecutionContext.parasitic),
      Duration.Inf)
    if (over.isCompleted) { job.cancel(); false }
    else { Await.result(job, Duration.Inf); true }
  }

  private def asLong(v: Any): Long = v match {
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
  }

  private def fromLong(v: Long, t: DataType): Any = t match {
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType => v.toInt
    case _ => v
  }

  /** A `DeclarativeAggregate` evaluated by hand over (id, message) rows. */
  private[pregel] final class Fold(fn: DeclarativeAggregate, input: Seq[Attribute]) {
    private val buffer = fn.aggBufferAttributes
    private lazy val initial = fn.initialValues.map(_.eval()).toArray
    private val updates = fn.updateExpressions.map(BindReferences.bindReference(_, buffer ++ input))
    private val evaluate = BindReferences.bindReference(fn.evaluateExpression, buffer)
    def evaluable: Boolean = fn.initialValues.forall(_.foldable) &&
      (evaluate +: updates).forall(DriverSupersteps.evaluable)
    def zero: InternalRow = new GenericInternalRow(initial.clone())
    def add(buf: InternalRow, id: Any, msg: Any): InternalRow = {
      val row = new JoinedRow(buf, InternalRow(id, msg))
      new GenericInternalRow(updates.map(_.eval(row)).toArray)
    }
    def result(buf: InternalRow): Any = evaluate.eval(buf)
    def dataType: DataType = fn.dataType
  }

  private def evaluable(e: Expression): Boolean =
    e.deterministic && e.find(_.isInstanceOf[Unevaluable]).isEmpty

  /** Some(backend) when `p` may run on the driver for `g`, apart from the
    * size cap; None sends it to the distributed backend. Analysis only:
    * no Spark job runs here. None comes only from the conditions checked
    * below; any exception is a fault of the program or of this analysis,
    * and propagates. */
  def compile(p: Pregel, g: Graph): Option[DriverSupersteps] = {
    if (p.messageAggregator.nonEmpty || p.saltBuckets > 1 ||
      p.checkpoint == CheckpointPolicy.Reliable) return None
    val spark = g.vertices.sparkSession
    val idType = g.vertices.schema(ID).dataType
    if (!Integral(idType) || g.edges.schema(SRC).dataType != idType ||
      g.edges.schema(DST).dataType != idType) return None

    def empty(s: StructType): DataFrame =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
    // The state schema after a superstep is a function of the schema
    // before it; its fixed point is the schema of every state the
    // distributed loop returns. No expression may read OLD_STATE (see
    // below), so when superstep 1 changes no other field, superstep 2
    // sees the same inputs and the first schema is already the fixed point.
    val edgeRel = empty(StructType(Seq(g.edges.schema(SRC), g.edges.schema(DST))))
    def after(state: DataFrame): StructType =
      p.superstep(state, state, edgeRel).drop(Pregel.UPDATED).schema
    def fields(s: StructType) = s.fields.filter(_.name != OLD_STATE).toSet
    val initial = p.initial(g)
    val schema = after(initial)
    if (fields(schema) != fields(initial.schema) && after(empty(schema)) != schema) return None
    val stateType = schema(STATE).dataType
    if (!DataTypeUtils.sameType(initial.schema(STATE).dataType, stateType) ||
      schema.fieldNames.contains(MSG)) return None

    /** `c` analyzed and bound over `rel`; None when it reads OLD_STATE,
      * which superstep 1 holds as an untyped null. */
    def bind(rel: DataFrame, c: Column, oldStateOk: Boolean = false): Option[Expression] =
      ReplaceExpressions(rel.select(c.as("_e")).queryExecution.analyzed) match {
        case Project(Seq(Alias(e, _)), child) =>
          if (!oldStateOk && e.references.exists(_.name == OLD_STATE)) None
          else Some(BindReferences.bindReference(e, child.output))
        case _ => None
      }

    val stateRel = empty(schema)
    val sends = Seq(p.msgToSrc, p.msgToDst).map(_.map(bind(stateRel, _)))
    if (sends.flatten.contains(None)) return None
    val Seq(msgToSrc, msgToDst) = sends.map(_.flatten)
    val msgs = Seq(msgToSrc, msgToDst).flatten
    if (msgs.exists(m => !DataTypeUtils.sameType(m.dataType, msgs.head.dataType))) return None

    val msgRel = empty(StructType(Seq(
      StructField(ID, idType), StructField(MSG, msgs.head.dataType))))
    val aggregate = ReplaceExpressions(
      msgRel.groupBy(col(ID)).agg(p.aggExpr.as(MSG)).queryExecution.analyzed)
    val fold = aggregate match {
      case a: Aggregate =>
        a.aggregateExpressions.collectFirst {
          case Alias(ae: AggregateExpression, MSG) if ae.mode == Complete && !ae.isDistinct &&
              ae.filter.isEmpty && ae.aggregateFunction.isInstanceOf[DeclarativeAggregate] &&
              ae.references.forall(_.name == MSG) =>
            new Fold(ae.aggregateFunction.asInstanceOf[DeclarativeAggregate], a.child.output)
        }
      case _ => None
    }
    for {
      f <- fold.filter(_.evaluable)
      upd <- bind(empty(schema.add(StructField(MSG, f.dataType))), p.updateExpr.getOrElse(col(MSG)))
      test <- bind(stateRel, p.comparison(col(STATE), col(OLD_STATE)), oldStateOk = true)
      init <- bind(g.vertices, p.initialState)
      if (Seq(upd, test) ++ msgs).forall(evaluable) && init.deterministic &&
        DataTypeUtils.sameType(upd.dataType, stateType) && test.dataType == BooleanType
    } yield new DriverSupersteps(p, g, schema, msgToSrc, msgToDst, f, upd, test)
  }
}
