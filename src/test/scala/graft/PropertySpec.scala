package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic properties over generated inputs (SURVEY.md §5.2.3). ScalaCheck
  * generators are driven directly with fixed seeds (the scalatest bridge
  * artifact is not in the offline cache); each sample is a full Spark job, so
  * the sample count stays small. */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 5): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default.withSize(30), Seed(42L + i)))

  private def forAll[A](g: Gen[A])(body: A => Unit): Unit =
    samples(g).foreach(body)
  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(body: (A, B) => Unit): Unit =
    samples(g1).zip(samples(g2)).foreach { case (a, b) => body(a, b) }

  private val kv: Gen[List[(Long, Long)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 1000L)))

  private def merge(target: DataFrame, source: DataFrame): DataFrame =
    source.unionByName(
      target.join(source.select("k").distinct(), Seq("k"), "left_anti"))

  test("merge is idempotent and keys are the union") {
    forAll(kv, kv) { (t, s) =>
      val target = t.toDF("k", "v")
      val source = s.toDF("k", "v")
      val once = merge(target, source)
      val twice = merge(once, source)
      assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
      assert(once.select("k").distinct().count() ===
        (t.map(_._1) ++ s.map(_._1)).distinct.size)
    }
  }

  test("union-all row count is additive") {
    forAll(kv, kv) { (a, b) =>
      assert(a.toDF("k", "v").unionByName(b.toDF("k", "v")).count() ===
        (a.size + b.size).toLong)
    }
  }

  test("exact dedup is a fixpoint") {
    forAll(kv) { rows =>
      val df = rows.toDF("k", "v")
      val once = df.dropDuplicates("k")
      assert(once.dropDuplicates("k").count() === once.count())
      assert(once.count() === rows.map(_._1).distinct.size.toLong)
    }
  }

  test("session count depends only on the gap sequence, not row order") {
    val gaps: Gen[List[Long]] =
      Gen.nonEmptyListOf(Gen.oneOf(Gen.chooseNum(1L, 100L), Gen.chooseNum(2000L, 5000L)))
    forAll(gaps) { gs =>
      val ts = gs.scanLeft(0L)(_ + _)
      def sessions(order: List[Long]): Long = {
        val w = Window.partitionBy(lit(1)).orderBy("ts")
        order.map(Tuple1(_)).toDF("ts")
          .withColumn("prev", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev").isNull || col("ts") - col("prev") > 1000L, 1).otherwise(0))
          .agg(sum("new_sess")).first().getLong(0)
      }
      assert(sessions(ts) === sessions(scala.util.Random.shuffle(ts)))
    }
  }

  test("checksum_table signature is invariant under repartitioning") {
    import org.apache.spark.sql.functions.col
    val h = operators.EtlOps.md5Prefix32(
      "concat_ws('|', l_orderkey, l_linenumber, l_returnflag, l_linestatus)")
    def sig(parts: Int) =
      Tables.load(spark, sfDir, "lineitem").repartition(parts)
        .selectExpr(s"$h AS h")
        .selectExpr("count(*) AS n", "bit_xor(h) AS x", "sum(h) AS s")
        .first()
    val (a, b) = (sig(1), sig(13))
    assert(a === b, "xor/sum fingerprint must not depend on partitioning")
  }

  // Large-star/small-star must agree with a plain union-find on random
  // graphs PLUS a planted path of length ≥ 8 (long chains are exactly where
  // a depth-limited propagation would split a component; star contraction
  // has to collapse them in O(log² n) rounds regardless).
  test("connectedComponents equals union-find on random graphs with a long path") {
    val edgeGen = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(0L, 40L)))
    var checked = 0
    forAll(edgeGen) { raw =>
      val chain = (100L until 112L).sliding(2).map(p => (p(0), p(1))).toList
      val edges = raw.filter { case (u, v) => u != v } ++ chain
      // driver-side union-find oracle (test scale only)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val expected = parent.keys.map(n => n -> find(n)).toMap
      val got = operators.LlmOps.connectedComponents(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
      checked += 1
    }
    assert(checked >= 3, s"generator produced too few graphs ($checked)")
  }

  test("minhash jaccard estimate grows with real overlap (planted docs)") {
    import java.nio.file.Files
    // three docs sharing 90% / 50% / 0% of shingles with doc 1
    def doc(share: Int, salt: String) =
      ((1 to share).map(i => s"tok$i") ++
        (share + 1 to 60).map(i => s"$salt$i")).mkString(" ")
    val dir = TempDirs.tmp("g_prop_mh_")
    Seq((1L, "en", doc(60, "x")), (2L, "en", doc(54, "y")),
        (3L, "en", doc(30, "z")), (4L, "en", doc(0, "w")))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("dedup_minhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)), "90%-overlap pair must surface")
    assert(!pairs.contains((1L, 4L)), "disjoint pair must not surface")
    pairs.get((1L, 3L)).foreach(j13 => assert(j13 < pairs((1L, 2L))))
  }

  test("Misra-Gries keeps every >n/k item within the n/k error bound") {
    val k = 8
    // planted skew: "hot" is 40% of rows, "warm" 20%, the rest spread over
    // 200 distinct cold keys so the sketch cannot track everything exactly
    val n = 2000
    val rows: Seq[String] =
      Seq.fill(n * 2 / 5)("hot") ++ Seq.fill(n / 5)("warm") ++
        (0 until (n - n * 2 / 5 - n / 5)).map(i => s"cold_${i % 200}")
    val trueCounts = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 8)) {
      val mg = udaf(new functions.MisraGries(k))
      val est = spark.createDataset(rows).repartition(parts).toDF("k")
        .agg(mg(col("k")).as("s"))
        .select(explode(col("s.items")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.size <= k, s"summary exceeded capacity at parts=$parts")
      val bound = n.toDouble / k
      for (item <- Seq("hot", "warm")) { // both have freq > n/k = 250
        assert(est.contains(item), s"$item missing at parts=$parts")
        assert(est(item) <= trueCounts(item), s"$item overcounted")
        assert(trueCounts(item) - est(item) <= bound,
          s"$item undercount ${trueCounts(item) - est(item)} > n/k=$bound")
      }
    }
  }

  // Affine int8 quantization: dequantizing any emb_quantize code recovers
  // the original coordinate within half a quantization step — the bound
  // that makes the 254-level grid usable as an ANN pre-filter.
  test("emb_quantize dequantization error is bounded by half a grid step") {
    val raw = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val dims = raw.values.head.length
    val mn = Array.tabulate(dims)(i => raw.values.map(_(i)).min)
    val mx = Array.tabulate(dims)(i => raw.values.map(_(i)).max)
    val q = SparkEntry.queries("emb_quantize")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(1).split(',').map(_.toLong))
    assert(q.nonEmpty)
    q.take(50).foreach { case (id, codes) =>
      codes.indices.foreach { i =>
        val step = (mx(i) - mn(i)) / 254.0
        val deq = mn(i) + (codes(i) + 127L) * step
        assert(math.abs(deq - raw(id)(i)) <= step / 2 + 1e-12,
          s"vec $id dim $i: |$deq - ${raw(id)(i)}| > ${step / 2}")
      }
    }
  }

  // --- round-6 families -----------------------------------------------

  private val vals: Gen[List[Long]] =
    Gen.nonEmptyListOf(Gen.chooseNum(0L, 50L))

  test("count-min sketch never undercounts (generated keys, md5 buckets)") {
    forAll(vals) { keys =>
      val df = keys.toDF("k")
      val depths = expr("array(0, 1, 2, 3)")
      val sketch = df.select(col("k"), explode(depths).as("d"))
        .withColumn("b", substring(md5(concat_ws(":", col("d"), col("k"))), 1, 2))
        .groupBy("d", "b").agg(count(lit(1)).as("cnt"))
      val est = df.distinct().select(col("k"), explode(depths).as("d"))
        .withColumn("b", substring(md5(concat_ws(":", col("d"), col("k"))), 1, 2))
        .join(sketch, Seq("d", "b"))
        .groupBy("k").agg(min("cnt").as("est"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exact = keys.groupBy(identity).view.mapValues(_.size.toLong)
      exact.foreach { case (k, n) => assert(est(k) >= n) }
    }
  }

  test("weighted median is permutation-invariant and crosses half the mass") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(1L, 9L)))) { pw =>
      def wmedian(rows: Seq[(Long, Long)]): Long = {
        val sorted = rows.sortBy(_._1)
        val tot = sorted.map(_._2).sum
        var cum = 0L
        sorted.find { case (_, w) => cum += w; cum * 2 >= tot }.get._1
      }
      assert(wmedian(pw) === wmedian(pw.reverse))
      val m = wmedian(pw)
      val tot = pw.map(_._2).sum
      assert(pw.filter(_._1 < m).map(_._2).sum * 2 < tot)
      assert(pw.filter(_._1 <= m).map(_._2).sum * 2 >= tot)
    }
  }

  test("integer EWMA recursion is reproducible and bounded by the running max") {
    forAll(vals) { cents =>
      def ewma(xs: List[Long]): List[Long] =
        xs.tail.scanLeft(xs.head)((s, c) => (c + s) / 2)
      val a = ewma(cents)
      assert(a === ewma(cents), "pure recursion, same input -> same output")
      a.zip(cents.scanLeft(0L)(math.max).tail).foreach { case (s, runMax) =>
        assert(s <= runMax)
      }
    }
  }

  test("MortonCode interleave round-trips and preserves order per dimension") {
    val dim: Gen[Long] = Gen.chooseNum(0L, 0x7fffffffL)
    def gather(z: Long, off: Int): Long =
      (0 until 31).foldLeft(0L)((acc, i) =>
        acc | (((z >> (2 * i + off)) & 1L) << i))
    forAll(Gen.zip(dim, dim)) { case (a, b) =>
      val z = graft.functions.MortonCode.interleave(a, b)
      assert(z >= 0L, "62-bit result stays non-negative")
      assert(gather(z, 0) === a, s"even bits must recover a=$a from z=$z")
      assert(gather(z, 1) === b, s"odd bits must recover b=$b from z=$z")
    }
    // monotone within a fixed other-dimension: more-significant bits of a
    // land at more-significant even positions
    forAll(Gen.zip(dim, dim, dim)) { case (a1, a2, b) =>
      val (lo, hi) = if (a1 <= a2) (a1, a2) else (a2, a1)
      assert(graft.functions.MortonCode.interleave(lo, b) <=
        graft.functions.MortonCode.interleave(hi, b))
    }
  }

  test("MACD truncation lemma: the unbiased EMA recursion is magnitude-" +
    "bounded by its inputs (no overflow at any domain, any sign)") {
    // window_macd's r16 spelling runs Java's truncating `/` on the Scala
    // side against DuckDB's integer `//`, which ALSO truncates toward zero
    // for integer operands (verified: (-3)//2 = -1) — so the engines share
    // division semantics directly and the r15 +2^30 bias (and its silent
    // |macd|+|signal| < 2^30 domain bound) is gone. The property the new
    // spelling relies on instead: every state variable of the recursion is
    // bounded by the running max input magnitude — |fast|,|slow| ≤ max|c|
    // and |sig| ≤ |macd| ≤ 2·max|c| — so the recursion cannot overflow
    // int64 for ANY input domain that itself fits (cents of a double do).
    val centsGen: Gen[List[Long]] =
      Gen.nonEmptyListOf(Gen.chooseNum(Long.MinValue / 8, Long.MaxValue / 8))
    forAll(centsGen) { cs =>
      var fast = cs.head; var slow = cs.head; var sig = 0L
      var maxAbs = math.abs(cs.head)
      cs.tail.foreach { c =>
        maxAbs = math.max(maxAbs, math.abs(c))
        fast = (c + fast) / 2
        slow = (c + 3 * slow) / 4
        sig = ((fast - slow) + sig) / 2
        assert(math.abs(fast) <= maxAbs, s"fast escaped input bound at c=$c")
        assert(math.abs(slow) <= maxAbs, s"slow escaped input bound at c=$c")
        assert(math.abs(sig) <= 2 * maxAbs, s"sig escaped 2x input bound")
      }
    }
  }

  test("systematic-sample bucket decomposition equals the global rank") {
    // sample_systematic's two-phase rank (local rank inside key-range
    // buckets + cumulative bucket offsets) must equal a plain global
    // row_number per stratum for ANY key distribution, because bucketing
    // by key range preserves the global key order
    val rows: Gen[List[(Long, String)]] =
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 100000L),
        Gen.oneOf("a", "b", "c")))
    forAll(rows) { r =>
      val df = r.distinct.toDF("k", "g")
      val global = df.withColumn("rn",
        row_number().over(Window.partitionBy("g").orderBy("k")))
      val bucketed = {
        val b = df.withColumn("bk", expr("k div 8192"))
        val loc = b.withColumn("rl", row_number().over(
          Window.partitionBy("g", "bk").orderBy("k")))
        val off = b.groupBy("g", "bk").agg(count(lit(1)).as("c"))
          .withColumn("o", sum("c").over(
            Window.partitionBy("g").orderBy("bk")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            - col("c"))
        loc.join(off, Seq("g", "bk"))
          .select(col("k"), col("g"), (col("o") + col("rl")).cast("int").as("rn"))
      }
      assert(global.select("k", "g", "rn").exceptAll(bucketed).isEmpty &&
        bucketed.exceptAll(global.select("k", "g", "rn")).isEmpty,
        "two-phase rank diverged from the global rank")
    }
  }

  test("k-core peel is monotone and a fixpoint once stable") {
    // the bounded 4-round peel's alive sets shrink monotonically, and if
    // round r changes nothing, no later round can (peeling is a closure
    // operator) — so the fixed round count only ever UNDER-peels, never
    // oscillates. Pure Scala model of the same algebra.
    val edgesGen: Gen[List[(Long, Long)]] =
      Gen.listOf(Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L)))
        .map(_.filter { case (a, b) => a != b }
          .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct)
    def peel(alive: Set[Long], edges: List[(Long, Long)]): Set[Long] =
      edges.filter { case (s, t) => alive(s) && alive(t) }
        .groupBy(_._1).collect { case (v, es) if es.size >= 2 => v }.toSet
    forAll(edgesGen) { edges =>
      val a0 = edges.map(_._1).toSet
      val rounds = Iterator.iterate(a0)(peel(_, edges)).take(8).toList
      rounds.sliding(2).foreach { case List(prev, next) =>
        assert(next.subsetOf(prev), "peel must be monotone decreasing")
        if (next == prev) assert(peel(next, edges) == next,
          "a stable round must be a fixpoint")
      case _ => ()
      }
    }
  }

  test("HL pseudomedian: domain-collapsed weighted median equals the " +
    "naive all-pairs computation") {
    // agg_hodges_lehmann never enumerates row pairs — it pairs the
    // distinct-value domain with multiplicities (cross pairs w1·w2,
    // same-value pairs w(w−1)/2) and takes the lower weighted median of
    // pair SUMS. Prove the collapse is exact against the naive O(n²)
    // spelling on generated multisets.
    val xs: Gen[List[Long]] =
      Gen.listOfN(12, Gen.chooseNum(0L, 9L)).map(_ :+ 3L) // >=2 elems, ties
    forAll(xs) { vs =>
      val naive = {
        val sums = for {
          i <- vs.indices; j <- vs.indices if i < j
        } yield vs(i) + vs(j)
        val sorted = sums.sorted
        sorted((sorted.size - 1) / 2) // lower median
      }
      val collapsed = {
        val w = vs.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val keys = w.keys.toSeq.sorted
        val pairs = (for {
          a <- keys; b <- keys if a < b
        } yield (a + b, w(a) * w(b))) ++
          keys.collect { case v if w(v) >= 2 => (v + v, w(v) * (w(v) - 1) / 2) }
        val grouped = pairs.groupBy(_._1).view
          .mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
        val total = grouped.map(_._2).sum
        val target = (total + 1) / 2 // cum weight >= ceil(total/2)
        var cum = 0L
        grouped.collectFirst {
          case (s2, pw) if { cum += pw; cum >= target } => s2
        }.get
      }
      assert(collapsed === naive,
        s"collapse diverged on $vs: $collapsed vs $naive")
    }
  }

  test("raking (IPF) weights are scale-invariant up to quantization") {
    // agg_raking_ipf's sf10 rule asserts weight_q scales xF when every
    // cell count scales xF — because every scaling ratio in the fixed
    // 2-round algebra is homogeneous of degree 0. Prove on generated
    // tables, mirroring the exact quantize-after-every-scaling spelling.
    val cells: Gen[List[Long]] =
      Gen.listOfN(6, Gen.chooseNum(1L, 500L)) // 2x3 table, positive cells
    def rake(ns: List[Long]): List[Long] = {
      // 2 rows x 3 cols; uniform targets; quantize to 1e-6 after each pass
      val t = ns.sum.toDouble
      var w = ns.map(_ * 1000000L)
      def scale(groups: List[List[Int]], target: Double): Unit = {
        val sums = groups.map(g => g.map(w(_)).sum.toDouble)
        val upd = w.zipWithIndex.map { case (x, i) =>
          val gi = groups.indexWhere(_.contains(i))
          math.round(x * (target / sums(gi)))
        }
        w = upd
      }
      scale(List(List(0, 1, 2), List(3, 4, 5)), t / 2 * 1000000) // rows
      scale(List(List(0, 3), List(1, 4), List(2, 5)), t / 3 * 1000000) // cols
      scale(List(List(0, 1, 2), List(3, 4, 5)), t / 2 * 1000000)
      scale(List(List(0, 3), List(1, 4), List(2, 5)), t / 3 * 1000000)
      w
    }
    forAll(cells) { ns =>
      val w1 = rake(ns)
      val w100 = rake(ns.map(_ * 100))
      w1.zip(w100).foreach { case (a, b) =>
        val dev = math.abs(b - 100L * a).toDouble / math.max(100.0 * a, 1.0)
        assert(dev <= 1e-3,
          s"weights not xF-invariant: $a vs $b (dev $dev) on $ns")
      }
    }
  }
}
