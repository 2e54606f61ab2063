package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Count-Min sketch invariants: hash parity across the three spellings
  * (JVM aggregate / Spark SQL probe / oracle recipe), the one-sided error
  * guarantee (no heavy hitter is ever lost), partitioning-independence
  * (partial-buffer merge + serde exercised through real shuffles), and the
  * plan shape (ObjectHashAggregate partial/final, never per-word rows on
  * the sketch exchange).
  */
class SketchSpec extends AnyFunSuite with SparkSuite {
  /** Skewed word stream with known exact counts: two hot words, a warm
    * word, and a long unique tail.
    */
  private def corpus(parts: Int) = {
    val words =
      Seq.fill(100)("alpha") ++ Seq.fill(60)("beta") ++ Seq.fill(9)("warm") ++
        (0 until 200).map(i => s"tail$i")
    spark.createDataFrame(words.map(Tuple1(_))).toDF("w").repartition(parts)
  }

  test("JVM bucket matches the Spark SQL conv() bucket for every row") {
    val words = Seq("alpha", "beta", "the", "züge", "漢字", "a:b", "")
    val df = spark.createDataFrame(words.map(Tuple1(_))).toDF("w")
    for (r <- 0 until Sketch.cmsDepth) {
      val got = df
        .selectExpr("w", Sketch.bucketSql(r, "w", Sketch.cmsWidth) + " AS b")
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      for (w <- words)
        assert(got(w) == Sketch.bucket(r, w, Sketch.cmsWidth), s"row $r word '$w'")
    }
  }

  test("non-string inputs coerce at analysis time (no runtime ClassCastException)") {
    // cms_sketch/hll_sketch declare StringType via ImplicitCastInputTypes, so
    // an INT column is cast during analysis — the sketch of the ints equals
    // the sketch of their string spellings, and nothing throws at execution.
    Sketch.register(spark); Sketch.registerHll(spark)
    val ints = spark.createDataFrame((1 to 50).map(i => Tuple1(i % 7))).toDF("v")
    val viaInt = ints.agg(expr("cms_sketch(v)")).head().getSeq[Long](0)
    val viaStr = ints.selectExpr("CAST(v AS STRING) AS v")
      .agg(expr("cms_sketch(v)")).head().getSeq[Long](0)
    assert(viaInt === viaStr)
    val hllInt = ints.agg(expr("hll_sketch(v)")).head().getSeq[Long](0)
    val hllStr = ints.selectExpr("CAST(v AS STRING) AS v")
      .agg(expr("hll_sketch(v)")).head().getSeq[Long](0)
    assert(hllInt === hllStr)
  }

  test("estimates are one-sided and no true heavy hitter is lost") {
    val df = corpus(4)
    val exact = df.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hh = Sketch.heavyHitters(df, minCount = 50).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // one-sided: every reported estimate dominates the true count
    for ((w, est) <- hh) assert(est >= exact(w), s"$w est=$est exact=${exact(w)}")
    // superset: every word with exact count >= threshold is present
    for ((w, c) <- exact if c >= 50) assert(hh.contains(w), s"lost heavy hitter $w ($c)")
    assert(hh.contains("alpha") && hh.contains("beta"))
  }

  test("partitioning-independent: 1 partition and 7 partitions agree exactly") {
    val a = Sketch.heavyHitters(corpus(1), 50).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = Sketch.heavyHitters(corpus(7), 50).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("every sketch row sums to the stream length (buffer merge across partitions)") {
    val df = corpus(5)
    val n = df.count()
    val sk = Sketch.sketchOf(df)
    for (r <- 0 until Sketch.cmsDepth)
      assert(sk.slice(r * Sketch.cmsWidth, (r + 1) * Sketch.cmsWidth).sum == n, s"row $r")
  }

  test("fractional threshold self-calibrates from the sketch (no count job)") {
    // hot words are ~27% / 16% of a 369-word stream; denom=5 (20%) keeps
    // only alpha; denom=10 (10%) keeps alpha+beta (plus any tail word whose
    // three buckets ALL collide into hot mass — impossible here: tail
    // estimates are bounded by row sums below threshold, asserted one-sided)
    val top5 = Sketch.heavyHittersFrac(corpus(4), denom = 5)
      .collect().map(_.getString(0)).toSet
    assert(top5.contains("alpha") && !top5.contains("warm"))
    val top10 = Sketch.heavyHittersFrac(corpus(4), denom = 10)
      .collect().map(_.getString(0)).toSet
    assert(top10.contains("alpha") && top10.contains("beta") && !top10.contains("warm"))
  }

  test("plan: sketch pass is ObjectHashAggregate partial+final — the exchange carries buffers, not words") {
    Sketch.register(spark)
    val plan = corpus(4).agg(expr("cms_sketch(w)")).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"))
    // partial + final: the aggregate appears on both sides of the exchange
    val aggCount = "(?i)(objecthashaggregate|sortaggregate)".r.findAllIn(plan).size
    assert(aggCount >= 2, s"expected partial+final aggregate, got:\n$plan")
  }

  // ---------------------------- HyperLogLog ----------------------------

  /** n distinct values, each repeated `dups` times, split over `parts`
    * partitions — repetitions must not move any register.
    */
  private def hllCorpus(n: Int, dups: Int, parts: Int) = {
    val vs = (0 until n).flatMap(i => Seq.fill(dups)(s"value-$i"))
    spark.createDataFrame(vs.map(Tuple1(_))).toDF("v").repartition(parts)
  }

  test("hll: JVM (j, rho) matches the Spark SQL md5/bin spelling for every value") {
    val vals = Seq("alpha", "züge", "漢字", "a:b", "", "x" * 500)
    val df = spark.createDataFrame(vals.map(Tuple1(_))).toDF("v")
    val (jSql, rhoSql) = Sketch.hllRegisterSql("v")
    val got = df.selectExpr("v", s"$jSql AS j", s"$rhoSql AS rho")
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    for (v <- vals) {
      val d = Sketch.md5Of(v)
      assert(got(v) == ((Sketch.hllJ(d), Sketch.hllRho(d))), s"value '$v'")
    }
  }

  test("hll: raw estimate within 10% at 5000 distinct; duplicates change nothing") {
    val est = Sketch.hllDistinct(hllCorpus(5000, 1, 6).selectExpr("'g' AS g", "v"), "g", "v")
      .head().getLong(1)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.10, s"est=$est")
    // x3 multiplicity: registers are max-based, estimate must be IDENTICAL
    val estDup = Sketch.hllDistinct(hllCorpus(5000, 3, 6).selectExpr("'g' AS g", "v"), "g", "v")
      .head().getLong(1)
    assert(estDup == est)
  }

  test("hll: partitioning-independent and per-group (groups never mix registers)") {
    def run(parts: Int) = Sketch.hllDistinct(
      hllCorpus(1200, 2, parts).selectExpr("CASE WHEN v LIKE '%0' THEN 'tens' ELSE 'rest' END AS g", "v"),
      "g", "v").collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val a = run(1)
    val b = run(13)
    assert(a == b && a.size == 2)
    // the 'tens' group holds exactly the 120 values ending in 0 — below
    // 2.5m the RAW estimate is biased high by design; this is precisely
    // what the emitted n_zero is for: linear counting m*ln(m/V) recovers
    // the cardinality (the correction the operator leaves to the caller
    // because ln() is not bit-exact cross-engine)
    val (_, tensRaw, tensZero) = a.find(_._1 == "tens").get
    assert(tensRaw <= (2.5 * 256).toLong, s"raw=$tensRaw should be in the small-range regime")
    val lc = 256.0 * math.log(256.0 / tensZero)
    assert(math.abs(lc - 120.0) / 120.0 < 0.2, s"linear count $lc for true 120")
    // the big group (1080 distinct) is in the raw regime and must be near it
    val rest = a.find(_._1 == "rest").get._2
    assert(math.abs(rest - 1080.0) / 1080.0 < 0.15, s"rest=$rest")
  }

  test("hll: merge is element-wise max — union registers == max(half registers)") {
    val left = hllCorpus(800, 1, 3)
    val right = spark.createDataFrame((500 until 1500).map(i => Tuple1(s"value-$i"))).toDF("v")
    val u = Sketch.hllRegistersOf(left.union(right), "v")
    val l = Sketch.hllRegistersOf(left, "v")
    val r = Sketch.hllRegistersOf(right, "v")
    assert(u.toSeq == l.zip(r).map { case (a, b) => math.max(a, b) }.toSeq)
  }

  test("hll: plan is partial+final aggregate — the exchange carries 256 longs per group, not values") {
    Sketch.registerHll(spark)
    val plan = hllCorpus(100, 1, 4).selectExpr("'g' AS g", "v")
      .groupBy("g").agg(expr("hll_sketch(v)")).queryExecution.executedPlan.toString
    val aggCount = "(?i)(objecthashaggregate|sortaggregate)".r.findAllIn(plan).size
    assert(aggCount >= 2, s"expected partial+final aggregate, got:\n$plan")
  }

  test("kmv: JVM 60-bit hash matches the Spark SQL conv() spelling for every value") {
    val vals = Seq("alpha", "züge", "漢字", "a:b", "", "x" * 500)
    val df = spark.createDataFrame(vals.map(Tuple1(_))).toDF("v")
    val got = df.selectExpr("v", s"${Sketch.kmvHashSql("v")} AS h")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (v <- vals) assert(got(v) == Sketch.kmvHash(v), s"value '$v'")
    assert(vals.forall(v => Sketch.kmvHash(v) >= 0 && Sketch.kmvHash(v) < Sketch.kmvDomain))
  }

  private def kmvOf(n: Int, dups: Int, parts: Int, prefix: String = "value"): Array[Long] = {
    Sketch.registerKmv(spark)
    val vs = (0 until n).flatMap(i => Seq.fill(dups)(s"$prefix-$i"))
    spark.createDataFrame(vs.map(Tuple1(_))).toDF("v").repartition(parts)
      .agg(expr("kmv_sketch(v)")).head().getSeq[Long](0).toArray
  }

  test("kmv: exact below k; within 15% at 5000 distinct; duplicates and partitioning change NOTHING") {
    // below k: the sketch IS the distinct hash set — estimate is exact
    assert(Sketch.kmvEstimate(kmvOf(100, 3, 5)) == 100L)
    val sk = kmvOf(5000, 1, 6)
    assert(sk.length == Sketch.kmvK && sk.toSeq == sk.toSeq.sorted)
    val est = Sketch.kmvEstimate(sk)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.15, s"est=$est")
    // idempotence (merge = set union) and partition-independence: the
    // sketch is a pure function of the distinct value set
    assert(kmvOf(5000, 3, 6).toSeq == sk.toSeq)
    assert(kmvOf(5000, 1, 13).toSeq == sk.toSeq)
  }

  test("kmv: set algebra — disjoint drops intersect to ~0, identical drops to themselves, overlap near truth") {
    val a = kmvOf(3000, 1, 4, "left")
    val b = kmvOf(3000, 1, 4, "right")          // disjoint from a
    val c = kmvOf(3000, 1, 4, "left")           // identical to a
    assert(Sketch.kmvIntersect(a, c) == Sketch.kmvEstimate(a))
    val disjoint = Sketch.kmvIntersect(a, b)
    assert(disjoint < 3000 / 10, s"disjoint intersect est=$disjoint")
    val u = Sketch.kmvUnion(a, b)
    assert(math.abs(u - 6000.0) / 6000.0 < 0.20, s"union est=$u")
    // 50% overlap: left-1500..2999 == overlap-0..1499? build explicitly
    val x = {
      Sketch.registerKmv(spark)
      val vs = (0 until 3000).map(i => s"k-$i")
      spark.createDataFrame(vs.map(Tuple1(_))).toDF("v")
        .agg(expr("kmv_sketch(v)")).head().getSeq[Long](0).toArray
    }
    val y = {
      val vs = (1500 until 4500).map(i => s"k-$i")
      spark.createDataFrame(vs.map(Tuple1(_))).toDF("v")
        .agg(expr("kmv_sketch(v)")).head().getSeq[Long](0).toArray
    }
    val inter = Sketch.kmvIntersect(x, y)
    assert(math.abs(inter - 1500.0) / 1500.0 < 0.35, s"overlap inter est=$inter")
  }

  test("kmv: plan is partial+final aggregate — the exchange carries <=k longs, not values") {
    Sketch.registerKmv(spark)
    val plan = kmvCorpusPlan()
    val aggCount = "(?i)(objecthashaggregate|sortaggregate)".r.findAllIn(plan).size
    assert(aggCount >= 2, s"expected partial+final aggregate, got:\n$plan")
  }

  private def kmvCorpusPlan(): String = {
    val vs = (0 until 100).map(i => Tuple1(s"value-$i"))
    spark.createDataFrame(vs).toDF("v").repartition(4)
      .agg(expr("kmv_sketch(v)")).queryExecution.executedPlan.toString
  }
}
