package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The key runner behind Bench, Verify, Profile and the probes, and the
  * stdout line format of `Bench`. */
class HarnessSpec extends AnyFunSuite {
  import TestSpark._

  test("a key that throws is reported and the next key still runs") {
    var ran = List.empty[String]
    val out = Harness.run(Seq("a", "boom", "c")) { k =>
      if (k == "boom") throw new RuntimeException("key failed")
      ran ::= k
      k.length
    }
    assert(ran.reverse == Seq("a", "c"))
    assert(out.map(_.key) == Seq("a", "boom", "c"))
    assert(out(0).result == Right(1) && out(2).result == Right(1))
    assert(out(1).result.left.map(_.getMessage) == Left("key failed"))
  }

  test("a key's Mats.cache'd relation is unpersisted after the runner returns") {
    val df = Tables.load(spark, sfDir, "nation")
    Harness.run(Seq("cached", "cached_then_throws")) { k =>
      Mats.cache(df).count()
      assert(df.storageLevel != StorageLevel.NONE)
      if (k == "cached_then_throws") sys.error("after caching")
    }
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("an unknown key in the filter fails before any key runs") {
    var ran = 0
    val e = intercept[IllegalArgumentException] {
      Harness.run(Harness.keys(Some("agg_hash_group, no_such_key")))(_ => ran += 1)
    }
    assert(e.getMessage.contains("no_such_key"))
    assert(ran == 0)
    assert(Harness.keys(Some("scan_parquet,agg_hash_group")) ==
      Seq("agg_hash_group", "scan_parquet"))
    assert(Harness.keys(None) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("a run started from inside a running key throws") {
    val out = Harness.run(Seq("outer")) { _ =>
      Harness.run(Seq("inner"))(_ => ())
    }
    assert(out.head.result.left.exists(_.isInstanceOf[IllegalStateException]))
    // the refused nested run left the runner usable
    assert(Harness.run(Seq("after"))(identity).head.result == Right("after"))
  }

  test("Harness.json keeps field order and writes non-finite doubles as strings") {
    // ScaleProbe's overflow canary: a NaN/Inf min or max must survive json.load
    assert(Harness.json(scala.collection.immutable.ListMap(
      "z" -> Double.NaN, "a" -> Double.PositiveInfinity, "m" -> null, "n" -> 1.5)) ==
      """{"z":"NaN","a":"Infinity","m":null,"n":1.5}""")
  }

  test("Bench lines: sorted keys once each, capped chunks, -1 for failures, summary last") {
    val mapper = new ObjectMapper()
    val keys = (1 to 600).map(i => f"key_${i % 7}_family_$i%04d").sorted
    val results = keys.zipWithIndex.map { case (k, i) =>
      k -> (if (i % 97 == 5) -1.0 else (i * 37 % 1000) / 100.0 + 0.0005)
    }
    val failed = results.collect { case (k, v) if v < 0 => k }
    val lines = Bench.lines(results, failed, "/data/sf1", (0.5, 1.25))
    val (chunks, summary) = (lines.init.map(mapper.readTree), mapper.readTree(lines.last))

    assert(chunks.size > 1)
    val seen = chunks.flatMap { c =>
      assert(c.get("metric").asText == "per_query_ms")
      assert(c.get("parts").asInt == chunks.size)
      val q = c.get("queries")
      assert(mapper.writeValueAsString(q).length - 2 <= Bench.ChunkBytes)
      q.fieldNames.asScala.map(k => k -> q.get(k).asLong).toSeq
    }
    assert(chunks.map(_.get("part").asInt) == (1 to chunks.size))
    assert(seen.map(_._1) == keys)
    results.zip(seen).foreach { case ((_, secs), (_, ms)) =>
      assert(ms == (if (secs < 0) -1L else math.round(secs * 1000)))
    }

    assert(summary.get("metric").asText == "total")
    assert(summary.get("n").asInt == keys.size)
    assert(math.abs(summary.get("value").asDouble -
      results.map(_._2).filter(_ >= 0).sum) < 1e-9)
    assert(summary.get("failed").elements.asScala.map(_.asText).toSeq == failed)
    assert(summary.get("sf").asText == "/data/sf1")
    assert(summary.get("load").get("end").asDouble == 1.25)
    assert(!summary.get("contended").asBoolean)
    assert(!summary.has("queries"))
  }
}
