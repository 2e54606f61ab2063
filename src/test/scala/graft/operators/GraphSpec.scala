package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Fixed-point PageRank vectors: hand-computed integer ranks on small
  * graphs, plus the invariants that make the operator trustworthy at scale
  * (partitioning-independence, dangling-node floor, duplicate-edge dedup).
  */
class GraphSpec extends AnyFunSuite with SparkSuite {
  private def ranks(edges: Seq[(String, String)], iters: Int, parts: Int = 4): Map[String, Long] = {
    val df = spark.createDataFrame(edges).toDF("src", "dst").repartition(parts)
    Graph.pageRank(df, iters).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("directed cycle is a fixed point: every rank stays exactly scale") {
    // outdeg 1 everywhere → contrib = full rank; 0.15 + 0.85 · 1.0 = 1.0
    // exactly in integer arithmetic (150000000 + 85·10^9/100)
    val r = ranks(Seq("a" -> "b", "b" -> "c", "c" -> "a"), iters = 3)
    assert(r == Map("a" -> 1000000000L, "b" -> 1000000000L, "c" -> 1000000000L))
  }

  test("star graph, 2 iterations, hand-computed integer ranks") {
    // l1,l2,l3 → hub; hub → l1
    // r1: hub = .15e9 + .85·3e9 = 2.7e9; l1 = 1e9; l2 = l3 = 1.5e8
    // r2: hub = .15e9 + 85·(1e9 + 1.5e8 + 1.5e8)//100 = 1.255e9
    //     l1  = .15e9 + 85·2.7e9//100 = 2.445e9
    val r = ranks(Seq("l1" -> "hub", "l2" -> "hub", "l3" -> "hub", "hub" -> "l1"), iters = 2)
    assert(r("hub") == 1255000000L)
    assert(r("l1") == 2445000000L)
    assert(r("l2") == 150000000L && r("l3") == 150000000L)
  }

  test("dangling node keeps the floor contribution path and surfaces in output") {
    // b has no out-edges: its mass evaporates (simplified formulation), but
    // it still receives and reports rank
    val r = ranks(Seq("a" -> "b"), iters = 3)
    assert(r.keySet == Set("a", "b"))
    assert(r("a") == 150000000L) // no in-links after round 1
    // r1(b) = .15e9+.85e9 = 1e9; r2(b) = .15e9 + 85·r1(a)//100 with
    // r1(a) = .15e9 → 277500000; r3(b) likewise from r2(a)=.15e9
    assert(r("b") == 277500000L)
  }

  test("duplicate edges collapse before degree computation") {
    val dup = ranks(Seq("a" -> "b", "a" -> "b", "a" -> "c"), iters = 2)
    val uni = ranks(Seq("a" -> "b", "a" -> "c"), iters = 2)
    assert(dup == uni)
  }

  test("result is identical under different input partitioning") {
    val edges = (0 until 60).map(i => (s"h${i % 7}", s"h${(i * 3 + 1) % 7}"))
    assert(ranks(edges, 3, parts = 1) == ranks(edges, 3, parts = 13))
  }

  // ---- HITS ----

  private def hitsOf(edges: Seq[(String, String)], iters: Int, parts: Int = 4): Map[String, (Long, Long)] = {
    val df = spark.createDataFrame(edges).toDF("src", "dst").repartition(parts)
    Graph.hits(df, iters).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  test("HITS star: leaves are pure hubs, the center a pure authority") {
    // l1,l2,l3 → hub. h'1 = (S,S,S,0), max S → divisor 1 → h1 unchanged;
    // a'1: hub = 3S, max 3S → divisor 3 → a1(hub) = S, leaves 0.
    val r = hitsOf(Seq("l1" -> "hub", "l2" -> "hub", "l3" -> "hub"), iters = 1)
    val S = 1000000000L
    assert(r("l1") == ((S, 0L)) && r("l2") == ((S, 0L)) && r("l3") == ((S, 0L)))
    assert(r("hub") == ((0L, S)))
  }

  test("HITS chain a->b->c, one round, hand-computed") {
    // h'1 = (a:S, b:S, c:0) → h1 same (max S); a'1 = (a:0, b:S, c:S) → same
    val r = hitsOf(Seq("a" -> "b", "b" -> "c"), iters = 1)
    val S = 1000000000L
    assert(r("a") == ((S, 0L)))
    assert(r("b") == ((S, S)))
    assert(r("c") == ((0L, S)))
  }

  test("HITS second round separates hub quality by authority mass") {
    // l1 → {x, y}, l2 → {x}: x is the stronger authority, so l1 (pointing
    // at both) must out-hub l2 after round 2 — and after ANY round here.
    val r = hitsOf(Seq("l1" -> "x", "l1" -> "y", "l2" -> "x"), iters = 2)
    assert(r("l1")._1 > r("l2")._1)
    assert(r("x")._2 > r("y")._2)
  }

  test("HITS is identical under different input partitioning and edge duplication") {
    val edges = (0 until 80).map(i => (s"h${i % 9}", s"h${(i * 5 + 2) % 9}"))
    val a = hitsOf(edges, 2, parts = 1)
    val b = hitsOf(edges ++ edges.take(17), 2, parts = 13) // dup edges collapse
    assert(a == b)
  }

  // ---- TrustRank ----

  private def trustOf(edges: Seq[(String, String)], seeds: Seq[String], iters: Int,
                      parts: Int = 4): Map[String, Long] = {
    val ss = spark; import ss.implicits._
    val df = spark.createDataFrame(edges).toDF("src", "dst").repartition(parts)
    Graph.trustRank(df, seeds.toDF("node"), iters).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("TrustRank: all-seed cycle is the PageRank fixed point at exactly scale") {
    // every node seeded, outdeg 1 → 0.15·S + 0.85·S = S exactly in integers
    val r = trustOf(Seq("a" -> "b", "b" -> "c", "c" -> "a"), Seq("a", "b", "c"), iters = 3)
    assert(r == Map("a" -> 1000000000L, "b" -> 1000000000L, "c" -> 1000000000L))
  }

  test("TrustRank chain s->a->b from one seed, 2 rounds, hand-computed decay") {
    // r1: s = 1.5e8 (teleport only), a = 85·1e9//100, b = 0
    // r2: s = 1.5e8, a = 85·1.5e8//100, b = 85·8.5e8//100
    val r = trustOf(Seq("s" -> "a", "a" -> "b"), Seq("s"), iters = 2)
    assert(r("s") == 150000000L)
    assert(r("a") == 127500000L)
    assert(r("b") == 722500000L)
  }

  test("TrustRank: a component unreachable from the seeds holds exactly zero trust") {
    // the link farm f1<->f2 interlinks densely but no trusted host reaches
    // it — TrustRank 0 while PageRank assigns it real mass (the spam-mass
    // separation the operator exists for)
    val edges = Seq("s" -> "a", "f1" -> "f2", "f2" -> "f1")
    val t = trustOf(edges, Seq("s"), iters = 3)
    assert(t("f1") == 0L && t("f2") == 0L)
    assert(t("a") > 0L)
    val pr = ranks(edges, iters = 3)
    assert(pr("f1") > 0L && pr("f2") > 0L) // PageRank alone cannot demote the farm
  }

  test("TrustRank: unknown seed hosts are ignored, duplicates collapse, partitioning-invariant") {
    val edges = (0 until 60).map(i => (s"h${i % 7}", s"h${(i * 3 + 1) % 7}"))
    val a = trustOf(edges, Seq("h0", "h3"), 3, parts = 1)
    val b = trustOf(edges ++ edges.take(9), Seq("h0", "h3", "h3", "ghost.example"), 3, parts = 13)
    assert(a == b)
  }

  // ---- label propagation ----

  private def lpaOf(edges: Seq[(String, String)], iters: Int, parts: Int = 4): Map[String, String] = {
    val df = spark.createDataFrame(edges).toDF("src", "dst").repartition(parts)
    Graph.labelPropagation(df, iters).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("LPA: two K4 cliques with one bridge resolve to two communities") {
    // K4 density is the point: intra-clique majority (degree 3) outweighs
    // the single bridge vote, so the deterministic min-tie-break cannot
    // flood one clique's label into the other (a K3 pair WOULD merge —
    // every vote there is a tie, and ties cascade toward the global min)
    def k4(p: String) = for {
      i <- 1 to 4; j <- (i + 1) to 4
    } yield s"$p$i" -> s"$p$j"
    val r = lpaOf(k4("a") ++ k4("b") :+ ("a1" -> "b1"), iters = 4)
    assert((1 to 4).map(i => r(s"a$i")).toSet.size == 1, s"clique A split: $r")
    assert((1 to 4).map(i => r(s"b$i")).toSet.size == 1, s"clique B split: $r")
    assert(r("a2") != r("b2"), s"cliques merged: $r")
  }

  test("LPA star, one round, hand-computed synchronous update") {
    // leaves' only neighbor is c → every leaf takes label 'c'; the center
    // sees {x,y,z} once each → tie breaks to the smallest, 'x'
    val r = lpaOf(Seq("c" -> "x", "c" -> "y", "c" -> "z"), iters = 1)
    assert(r("x") == "c" && r("y") == "c" && r("z") == "c")
    assert(r("c") == "x")
  }

  test("LPA ignores self-loops and collapses reversed/duplicate edges") {
    val base = Seq("a" -> "b", "b" -> "c")
    val noisy = base ++ Seq("b" -> "a", "a" -> "b", "c" -> "c")
    assert(lpaOf(base, 2) == lpaOf(noisy, 2))
  }

  test("LPA is identical under different input partitioning") {
    val edges = (0 until 90).map(i => (s"h${i % 10}", s"h${(i * 7 + 3) % 10}"))
    assert(lpaOf(edges, 3, parts = 1) == lpaOf(edges, 3, parts = 13))
  }

  private def nepoOf(edges: Seq[(String, String)], parts: Int = 4) = {
    val df = spark.createDataFrame(edges).toDF("src", "dst").repartition(parts)
    Graph.nepotism(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5)))).toMap
  }

  test("nepotism: farm beneficiary flags at 1000-milli concentration, diverse authority stays low") {
    // 'farm' sends 6 repeated links to 'benef' (repetition counts — it IS
    // the signal); 'auth' gets one link each from 6 independents;
    // self-loops on 'benef' must NOT dilute or inflate anything
    val edges =
      Seq.fill(6)("farm" -> "benef") ++
      (0 until 6).map(i => s"ind$i" -> "auth") ++
      Seq("benef" -> "benef", "benef" -> "benef")
    val r = nepoOf(edges)
    assert(r("benef") == ((6L, 1L, "farm", 6L, 1000L)))
    assert(r("auth") == ((6L, 6L, "ind0", 1L, 166L)))
  }

  test("nepotism: top-source tie breaks to the lexicographically smallest; exact milli") {
    val edges = Seq("b" -> "t", "b" -> "t", "a" -> "t", "a" -> "t", "c" -> "t")
    val r = nepoOf(edges)
    assert(r("t") == ((5L, 3L, "a", 2L, 400L)))
  }

  test("nepotism: no Window node (partial-agg argmax), identical under repartitioning") {
    val edges = (0 until 200).map(i => (s"h${i % 7}", s"h${(i * 3 + 1) % 7}"))
    val df = spark.createDataFrame(edges).toDF("src", "dst")
    val plan = Graph.nepotism(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"nepotism must not sort a hot host in one task:\n$plan")
    assert(nepoOf(edges, parts = 1) == nepoOf(edges, parts = 13))
  }
}
