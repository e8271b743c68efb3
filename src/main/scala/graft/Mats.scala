package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Per-key materialization bookkeeping.
  *
  * Spark re-inlines every reference to a CTE or temp view, so a relation
  * referenced k times re-runs its upstream k times. A key that should run
  * that upstream once materializes the relation with [[ckpt]] (a local
  * checkpoint, which cuts the lineage) or [[cache]] (which keeps it), and
  * does so at every scale: there is one path, and the oracle checks it.
  * Each site was kept or deleted on paired sf1 timings against the
  * inlined plan; the table in `MATS.md` records each decision.
  *
  * Every materialization is tracked, and [[Harness.run]] calls [[release]]
  * after every key, so a key's blocks never outlive the key. The queue is
  * global: it relies on `Harness.run` refusing to run two keys at once.
  * Genuinely cross-key relations (the supply-graph edge cache, the
  * converged-component memo, the shared shingle caches) deliberately do
  * NOT go through this tracker.
  *
  * Never keyed on data content; nothing survives the session — every run
  * recomputes from parquet.
  */
object Mats {
  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Record the checkpoint RDD(s) backing `df` for release at the next key
    * boundary. */
  def track(df: DataFrame): DataFrame = {
    df.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
      .foreach(r => tracked.add(() => { r.unpersist(false); () }))
    df
  }

  /** localCheckpoint, tracked for release. Even the lazy form starts jobs
    * while the DataFrame is built: building the checkpoint RDD executes the
    * adaptive plan, which runs the upstream's shuffle stages there and
    * then; only the final stage's blocks wait for the first consuming job.
    * The eager form runs that stage too, in an extra job. */
  def ckpt(df: DataFrame, eager: Boolean = false): DataFrame =
    track(df.localCheckpoint(eager))

  /** cache() tracked for release at the key boundary. Lazy: no job runs
    * until the first consumer. */
  def cache(df: DataFrame): DataFrame = {
    df.persist()
    tracked.add(() => { df.unpersist(false); () })
    df
  }

  /** Chainable spellings: `df.trackedCkpt().createOrReplaceTempView(...)`. */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def trackedCkpt(eager: Boolean = false): DataFrame = Mats.ckpt(df, eager)
    def trackedCache(): DataFrame = Mats.cache(df)
  }

  /** Free every materialization tracked since the last release (called by
    * [[Harness.run]] after every key). */
  def release(): Unit = {
    var f = tracked.poll()
    while (f != null) {
      try f() catch { case _: Throwable => () }
      f = tracked.poll()
    }
  }
}
