package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale-proof runner (dev tool, test tree): executes a named set of
  * registry keys against a scaled-up data dir (see `tools/gen_sf.py`)
  * WITHOUT dumping row-level output — each result is materialized once
  * through an aggregate pass that records the invariant evidence the sf10
  * gate checks (`tools/check_sf10.py`):
  *
  *   - row count (for the ×N / == recurrence rules vs a reference run),
  *   - per-numeric-column min / max / null count (overflow canaries: a
  *     BIGINT count or sum that wrapped shows up as a negative min; a
  *     DOUBLE that blew up shows as Inf/NaN, written as a JSON string),
  *   - wall-clock seconds (the scale-shape evidence).
  *
  * Usage:
  *   SPARK_DRIVER_MEM=48g sbt -batch "Test/runMain graft.ScaleProbe \
  *     <dataDir> <out.json> key1,key2,..."
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, outFile, keyCsv) = args
    val keys = Harness.keys(Some(keyCsv))
    val outcomes = Harness.withSession(keys) { spark =>
      val q = SparkEntry.queries
      Harness.run(keys) { k =>
        System.err.println(s"[scaleprobe] $k ...")
        val df = q(k)(spark, dir)
        val numeric = df.schema.fields.filter(f => f.dataType match {
          case _: NumericType => true
          case _              => false
        }).map(_.name)
        val aggs = count(lit(1)).as("n") +:
          numeric.flatMap(c => Seq(
            min(col(c)).cast("double").as(s"min__$c"),
            max(col(c)).cast("double").as(s"max__$c"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls__$c")))
        val r = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).first()
        def num(i: Int): Any = if (r.isNullAt(i)) null else r.get(i)
        (r.getLong(0), ListMap(numeric.zipWithIndex.map { case (c, i) =>
          // sum() over an EMPTY result is NULL (a 0-row key is legal —
          // window_sma_cross legitimately has zero crossings at sf10)
          c -> ListMap("min" -> num(1 + i * 3), "max" -> num(2 + i * 3),
            "nulls" -> Option(num(3 + i * 3)).getOrElse(0L))
        }.toIndexedSeq: _*))
      }
    }
    val cells = outcomes.map { o =>
      val secs = math.round(o.secs * 1000) / 1000.0
      o.key -> (o.result match {
        case Right((rows, cols)) =>
          ListMap("ok" -> true, "secs" -> secs, "rows" -> rows, "cols" -> cols)
        case Left(e) =>
          ListMap("ok" -> false, "secs" -> secs, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      })
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      Harness.json(ListMap(cells: _*)) + "\n")
    println(s"[scaleprobe] wrote $outFile (${keys.length} keys)")
  }
}
