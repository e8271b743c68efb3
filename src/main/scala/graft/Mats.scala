package graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, ExpressionSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** The one owner of how long a materialized relation lives, in two scopes.
  *
  * Key scope. Spark re-inlines every reference to a CTE or temp view, so a
  * relation referenced k times re-runs its upstream k times. A key that
  * should run that upstream once materializes the relation with [[ckpt]] (a
  * local checkpoint, which cuts the lineage) or [[cache]] (which keeps it),
  * at every scale; `MATS.md` records why each site was kept. [[Harness.run]]
  * calls [[release]] after every key, so a key's blocks never outlive it.
  * The queue is global: `Harness.run` refuses to run two keys at once.
  *
  * Session scope, for what a different key reads: [[shared]] persists a
  * relation in Spark's CacheManager, which keys it on the canonicalized plan
  * and drops it with the context; [[memo]] holds a result no plan keys (a
  * fixpoint's labels, a landing dir) per SparkContext and caller's key,
  * holding no session, until the context stops.
  *
  * The invariant: a session-scoped relation never reads a key-scoped
  * checkpoint, which [[release]] would free under it; [[shared]] and
  * [[memo]] throw `IllegalStateException` on one. Nothing is keyed on data
  * content, and nothing survives the context.
  */
object Mats {
  /** Checkpoint RDDs and cached Datasets to free at the next key boundary. */
  private val keyScope = new ConcurrentLinkedQueue[AnyRef]()

  private def checkpoints(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  /** localCheckpoint, tracked for release. Even the lazy form starts jobs
    * while the DataFrame is built: building the checkpoint RDD executes the
    * adaptive plan, which runs the upstream's shuffle stages there and
    * then; only the final stage's blocks wait for the first consuming job.
    * The eager form runs that stage too, in an extra job. */
  def ckpt(df: DataFrame, eager: Boolean = false): DataFrame = {
    val c = df.localCheckpoint(eager)
    checkpoints(c).foreach(keyScope.add)
    c
  }

  /** cache() tracked for release at the key boundary. Lazy: no job runs
    * until the first consumer. A plan that is already cached is left alone:
    * the key frees only what it materialized. */
  def cache(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) keyScope.add(df.persist())
    df
  }

  /** Frees the checkpoints backing `df` before the key ends (a fixpoint
    * round that the next round superseded). */
  def free(df: DataFrame): Unit =
    checkpoints(df).foreach { r => keyScope.remove(r); r.unpersist(false) }

  /** Chainable spellings: `df.trackedCkpt().createOrReplaceTempView(...)`. */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def trackedCkpt(eager: Boolean = false): DataFrame = Mats.ckpt(df, eager)
    def trackedCache(): DataFrame = Mats.cache(df)
    def sharedCache(): DataFrame = Mats.shared(df)
  }

  /** Free every materialization tracked since the last release (called by
    * [[Harness.run]] after every key). */
  def release(): Unit = Iterator.continually(keyScope.poll()).takeWhile(_ != null).foreach {
    m => try m match {
      case r: RDD[_] => r.unpersist(false)
      case d: Dataset[_] => d.unpersist(false)
    } catch { case _: Throwable => () }
  }

  private def misScoped(reads: Seq[RDD[_]], keyScoped: AnyRef => Boolean): Unit =
    if (reads.exists(keyScoped)) throw new IllegalStateException(
      "a session-scoped relation reads a key-scoped checkpoint that Mats.release() frees")

  /** Session scope for a relation that other keys read: `df.persist()`. */
  def shared(df: DataFrame): DataFrame = {
    misScoped(checkpoints(df), keyScope.contains)
    df.persist()
  }

  /** A checkpoint leaf without its session; stats and constraints kept. */
  private final case class Held(output: Seq[Attribute], rdd: RDD[InternalRow],
      partitioning: Partitioning, ordering: Seq[SortOrder], st: Statistics,
      cons: ExpressionSet) extends LeafNode

  private def detach(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case l: LogicalRDD =>
      Held(l.output, l.rdd, l.outputPartitioning, l.outputOrdering, l.stats, l.constraints)
  }

  private val memos = new ConcurrentHashMap[SparkContext, ConcurrentHashMap[Any, AnyRef]]()

  /** Session scope for a result that no plan keys: `build`'s value, built
    * once per SparkContext and `key`. A DataFrame is held as its analyzed
    * plan with each checkpoint detached from its session, and re-wrapped in
    * each caller's session; the checkpoints it reads that `build` made leave
    * the key scope. Entries go when the context stops. */
  def memo[A](spark: SparkSession, key: Any)(build: => A): A = {
    val entries = memos.computeIfAbsent(spark.sparkContext, { sc =>
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = memos.remove(sc)
      })
      new ConcurrentHashMap[Any, AnyRef]()
    })
    val held = Option(entries.get(key)).getOrElse {
      val before = keyScope.toArray.toSet
      val h = build match {
        case df: Dataset[_] =>
          val reads = checkpoints(df)
          misScoped(reads, before)
          reads.foreach(keyScope.remove)
          detach(df.queryExecution.analyzed)
        case v => v.asInstanceOf[AnyRef]
      }
      Option(entries.putIfAbsent(key, h)).getOrElse(h)
    }
    (held match {
      case plan: LogicalPlan =>
        val s = spark.asInstanceOf[classic.SparkSession]
        new classic.Dataset[Row](s, plan.transformUp { case h: Held =>
          LogicalRDD(h.output, h.rdd, h.partitioning, h.ordering)(s, Some(h.st), Some(h.cons))
        }, Encoders.row(plan.schema))
      case v => v
    }).asInstanceOf[A]
  }

  /** What a file relation's equality compares, without its session. */
  private final case class Files(paths: Seq[String], schema: StructType, format: String,
      options: Map[String, String]) extends BaseRelation { def sqlContext: SQLContext = null }

  /** `df`'s canonicalized plan as a [[memo]] key: equal for plans that
    * compute the same result, and holding no session. */
  def planKey(df: DataFrame): LogicalPlan =
    detach(df.queryExecution.analyzed.canonicalized).transformUp {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => l.copy(relation = Files(
          h.location.rootPaths.map(_.toString), h.schema, h.fileFormat.toString, h.options))
        case _ => l
      }
    }
}
