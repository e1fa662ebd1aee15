package graft

import graft.operators.Graph
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  import TestSpark._

  private def t3(rows: (String, String, String)*) = {
    import spark.implicits._
    rows.toDF("s", "p", "o")
  }

  test("bgpMatch binds variables across patterns and filters constants") {
    val triples = t3(
      ("a", "knows", "b"),
      ("b", "knows", "c"),
      ("a", "type", "person"),
      ("b", "type", "person"),
      ("c", "type", "robot")
    )
    val out = Graph
      .bgpMatch(triples, Seq(("?x", "knows", "?y"), ("?y", "type", "person")))
      .collect()
      .map(r => (r.getAs[String]("x"), r.getAs[String]("y")))
      .toSet
    // (b knows c) drops out: c is not a person.
    assert(out == Set(("a", "b")))
  }

  test("bgpMatch repeated variable within a pattern means equality") {
    val triples = t3(
      ("n1", "links", "n1"),
      ("n1", "links", "n2"),
      ("n2", "links", "n2")
    )
    val selfLinked = Graph
      .bgpMatch(triples, Seq(("?x", "links", "?x")))
      .collect()
      .map(_.getAs[String]("x"))
      .toSet
    assert(selfLinked == Set("n1", "n2"))
  }

  test("bgpMatch with no shared variable is the cartesian of bindings") {
    val triples = t3(
      ("a", "p1", "x"),
      ("b", "p1", "y"),
      ("c", "p2", "z")
    )
    val n = Graph
      .bgpMatch(triples, Seq(("?u", "p1", "?v"), ("?w", "p2", "z")))
      .count()
    assert(n == 2)
  }

  test("bgpMatch OPTIONAL keeps unmatched rows with null bindings; FILTER prunes") {
    import org.apache.spark.sql.functions.col
    val triples = t3(
      ("a", "type", "person"),
      ("b", "type", "person"),
      ("c", "type", "person"),
      ("a", "nick", "ace"),
      ("c", "nick", "champ")
    )
    val out = Graph
      .bgpMatch(
        triples,
        Seq(("?x", "type", "person"), ("?x", "nick", "?nn")),
        optionalIdx = Set(1)
      )
      .collect()
      .map(r => (r.getAs[String]("x"), Option(r.getAs[String]("nn"))))
      .toSet
    // b has no nick and must survive with a null binding
    assert(out == Set(("a", Some("ace")), ("b", None), ("c", Some("champ"))))
    val filtered = Graph
      .bgpMatch(
        triples,
        Seq(("?x", "type", "person"), ("?x", "nick", "?nn")),
        optionalIdx = Set(1),
        filterExpr = Some(col("x") =!= "a")
      )
      .collect()
      .map(_.getAs[String]("x"))
      .toSet
    assert(filtered == Set("b", "c"))
    // an OPTIONAL pattern sharing no variable is a contract error
    intercept[IllegalArgumentException] {
      Graph.bgpMatch(
        triples,
        Seq(("?x", "type", "person"), ("?y", "nick", "?nn")),
        optionalIdx = Set(1)
      )
    }
  }

  test("path patterns compose with plain patterns inside bgpMatch") {
    val triples = t3(
      ("topic", "broader", "subfield"),
      ("subfield", "broader", "field"),
      ("field", "label", "Field F"),
      ("subfield", "label", "Subfield S")
    )
    val out = Graph
      .bgpMatch(triples, Seq(("topic", "broader+", "?a"), ("?a", "label", "?al")))
      .collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("al")))
      .toSet
    // both transitive ancestors of `topic` bind, each joined to its label
    assert(out == Set(("subfield", "Subfield S"), ("field", "Field F")))
  }

  test("property path closure walks the predicate union with min hop counts") {
    val triples = t3(
      ("topic", "broader", "subfield"),
      ("subfield", "broader", "field"),
      ("field", "partof", "domain"),
      ("topic", "label", "T") // non-path predicate must be ignored
    )
    val out = Graph
      .propertyPathClosure(triples, Seq("broader", "partof"), maxHops = 4)
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("dst"), r.getAs[Long]("min_hops")))
      .toSet
    assert(
      out == Set(
        ("topic", "subfield", 1L), ("topic", "field", 2L), ("topic", "domain", 3L),
        ("subfield", "field", 1L), ("subfield", "domain", 2L),
        ("field", "domain", 1L)
      )
    )
  }

  test("fixed-point pagerank: symmetry, hub dominance, and mass conservation") {
    import spark.implicits._
    def bidirected(pairs: (String, String)*) = {
      val df = pairs.toDF("src", "dst")
      df.unionAll(df.select($"dst".as("src"), $"src".as("dst")))
    }
    // Symmetric pair: both nodes must hold identical rank at every
    // iteration (integer arithmetic makes this exact, not approximate).
    val pair = Graph
      .pagerankMicro(bidirected(("a", "b")), iters = 5)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(pair("a") == pair("b"), s"symmetric pair diverged: $pair")
    // Star: the hub sees every leaf's full rank, each leaf sees 1/k of
    // the hub's — hub must strictly dominate.
    val star = Graph
      .pagerankMicro(
        bidirected(("hub", "l1"), ("hub", "l2"), ("hub", "l3"), ("hub", "l4")),
        iters = 5
      )
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(star("hub") > star("l1"), s"hub does not dominate: $star")
    assert(Seq("l1", "l2", "l3", "l4").map(star).distinct.size == 1)
    // Total mass stays within floor-leakage of the initial 10^12
    // (each division floors away < 1 micro per edge per iteration).
    val total = star.values.sum
    assert(total <= 1000000000000L && total > 999999990000L, s"mass $total")
  }

  test("graph06 kernel equals the DataFrame loop bit-for-bit (full rank table)") {
    // the integer-mass argument: every rank quantity is micro-mass
    // (Long), integer addition is order-independent, so the primitive
    // kernel and the SQL loop are the SAME function of the edge set —
    // compared over the FULL rank table (huge topK), not the top-20,
    // so a low-rank divergence can't hide. The fixture's repeated
    // customer-supplier pairs also exercise buildDistinct's in-array
    // dedupe against the SQL repartition().distinct().
    val lake = graft.catalog.Lake(TestSpark.spark, TestSpark.sfDir)
    val df = Reference.graph06Pagerank(lake, iters = 5, topK = Int.MaxValue)
      .collect().map(_.toString).toSeq
    val k = Graph.graph06PagerankKernel(lake, iters = 5, topK = Int.MaxValue)
      .collect().map(_.toString).toSeq
    assert(df.nonEmpty)
    assert(k == df)
  }

  test("frontier BFS equals a plain Scala BFS; one row per node") {
    val lake = graft.catalog.Lake(TestSpark.spark, TestSpark.sfDir)
    // independent reference: queue BFS over the collected edge list
    val pairs = lake.lineitem
      .selectExpr("l_orderkey * 2 AS a", "l_partkey * 2 + 1 AS b")
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(_.swap))
      .groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    val seed = pairs.map(_._1).min
    val dist = scala.collection.mutable.Map(seed -> 0L)
    var frontier = Seq(seed)
    for (d <- 1L to 4L) {
      frontier = frontier
        .flatMap(n => adj.getOrElse(n, Array.empty[Long]))
        .distinct
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = d)
    }
    def show(n: Long): String =
      if (n % 2 == 0) s"ord:${n / 2}" else s"prt:${(n - 1) / 2}"
    val expected = dist.map { case (n, d) => show(n) -> d }.toMap
    val got = Graph.graph27BfsDistances(lake).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.length == got.map(_._1).distinct.length, "node visited twice")
    assert(got.toMap == expected, s"${got.length} vs ${expected.size}")
  }

  test("graph30: weighted costs dominate hop counts; reach equals BFS; relaxation is monotone") {
    val lake = graft.catalog.Lake(TestSpark.spark, TestSpark.sfDir)
    val sp = Graph.graph30ShortestPaths(lake).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bfs = Graph.graph27BfsDistances(lake).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // ≤ k-edge reachability is the same set whether edges are
    // weighted or not
    assert(sp.keySet == bfs.keySet)
    // every edge weighs ≥ 1 quantity unit, so the cheapest ≤ k-edge
    // cost can never undercut the hop distance; the seed is free
    bfs.foreach { case (n, d) =>
      assert(sp(n) >= d, s"$n cost ${sp(n)} < hops $d")
    }
    assert(sp.count(_._2 == 0L) == 1, "exactly the seed at cost 0")
    // one more relaxation round reaches at least as far and never
    // makes any node more expensive (Bellman-Ford monotonicity)
    val sp5 = Graph.graph30ShortestPaths(lake, maxHops = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sp.keySet.subsetOf(sp5.keySet))
    sp.foreach { case (n, c) =>
      assert(sp5(n) <= c, s"$n got dearer with more hops: ${sp5(n)} > $c")
    }
    // and on this graph the extra round actually improves something
    // (a 4-hop low-weight detour beating a 2-hop heavy edge exists)
    assert(sp5.exists { case (n, c) => sp.get(n).exists(c < _) } ||
      sp5.size > sp.size, "degenerate: round 5 changed nothing")
  }
}
