package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.lang.ref.WeakReference

/** The two scopes of [[Mats]]: a session-scoped relation never reads a
  * key-scoped checkpoint, and session scope holds no session. */
class MatsSpec extends AnyFunSuite {
  import TestSpark._

  test("shared and memo refuse a relation that reads a key-scoped checkpoint") {
    val df = spark.range(20).toDF("x")
    val misScoped = Mats.ckpt(df).select((col("x") + 1).as("y"))
    try {
      intercept[IllegalStateException](Mats.shared(misScoped))
      intercept[IllegalStateException](Mats.memo(spark, "MatsSpec mis-scoped")(misScoped))
      val plain = df.select((col("x") + 1).as("y"))
      assert(Mats.shared(plain).count() === 20)
      plain.unpersist()
      val memo = Mats.memo(spark, "MatsSpec plain")(plain)
      assert(memo.collect().map(_.getLong(0)).sorted.toSeq === (1L to 20L))
    } finally Mats.release()
  }

  test("a memo's checkpoints leave the key scope; the ones it does not read are released") {
    def rddId(df: DataFrame) = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.head
    var ids = (0, 0)
    val first = Mats.memo(spark, "MatsSpec owned") {
      val kept = Mats.ckpt(spark.range(5).toDF("x"), eager = true)
      val other = Mats.ckpt(spark.range(7).toDF("z"), eager = true)
      ids = (rddId(kept), rddId(other))
      kept.select((col("x") * 2).as("x2"))
    }
    Mats.release()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert(persisted(ids._1) && !persisted(ids._2))
    val again = Mats.memo[DataFrame](spark, "MatsSpec owned")(sys.error("memo rebuilt"))
    assert(again.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 2L, 4L, 6L, 8L))
    assert(first.schema === again.schema)
  }

  test("a session dropped after connectedComponents and a stream landing is collected") {
    val edgeDir = TempDirs.tmp("mats_edges_")
    spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (7L, 8L))).toDF("u", "v")
      .write.mode("overwrite").parquet(edgeDir)
    def run(): WeakReference[SparkSession] = {
      val s = spark.newSession()
      // Spark's adaptive-stage and broadcast pools start threads that
      // inherit the submitting thread's active session and keep it while
      // they live; with both off this session starts no pool thread.
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // file-backed, so the memo key holds a file relation
      val edges = s.read.parquet(edgeDir)
      val labels = operators.LlmOps.connectedComponents(edges)
      assert(labels.collect().length === 5)
      assert(new java.io.File(streaming.StreamOps.landedDir(s, sfDir)).isDirectory)
      new WeakReference(s)
    }
    val ref = run()
    val collected = (1 to 20).exists { _ =>
      System.gc()
      Thread.sleep(100)
      ref.get == null
    }
    assert(collected, "the dropped session is still reachable")
  }
}
