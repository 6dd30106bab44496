package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L),
    (7L, 7L)).toDF("s", "d")

  test("degrees counts in and out per vertex") {
    val m = Graph.degrees(edges, "s", "d").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(1L) == (1L, 0L) && m(2L) == (1L, 1L) && m(4L) == (0L, 1L))
    assert(m(7L) == (1L, 1L)) // self-loop
  }

  test("twoHop chains edges") {
    val hops = Graph.twoHop(edges, "s", "d", edges, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hops.contains((1L, 2L, 3L)) && hops.contains((2L, 3L, 4L)))
    assert(!hops.exists(h => h._1 == 5L))
  }

  test("connected components: min-label propagation converges") {
    val comp = Graph.connectedComponents(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(comp).toSet == Set(1L))
    assert(comp(5L) == 5L && comp(6L) == 5L)
    assert(comp(7L) == 7L)
  }

  test("pageRankInt matches a sequential integer recompute exactly") {
    // directed graph with a cycle, a chase, and a dangling sink (4):
    // dangling mass is dropped by design (scaladoc), the sequential
    // reference below implements the identical recurrence.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
      .toDF("s", "d")
    val scale = 1000000000000L
    val verts = Seq(1L, 2L, 3L, 4L)
    val deg = Map(1L -> 2L, 2L -> 1L, 3L -> 2L)
    val out = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq(1L, 4L))
    var r = verts.map(v => v -> scale / verts.length).toMap
    for (_ <- 1 to 3) {
      val in = verts.map { v =>
        v -> out.toSeq.flatMap { case (u, ds) =>
          if (ds.contains(v)) Seq(r(u) / deg(u)) else Nil
        }.sum
      }.toMap
      r = verts.map(v => v ->
        (15L * (scale / verts.length) / 100L + 85L * in(v) / 100L)).toMap
    }
    val got = Graph.pageRankInt(e, "s", "d", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == r)
    // sanity: the cycle hub (3) outranks the dangling sink (4)
    assert(got(3L) > got(4L))
  }

  test("bfsDistances labels min hops, stops at maxHops, keeps isolated seeds") {
    // chain 1-2-3-4, separate 5-6, self-loop 7; seeds {1, 9} (9 has
    // no edges at all)
    val seeds = Seq(1L, 9L).toDF("v0")
    val m = Graph.bfsDistances(edges, "s", "d", seeds, "v0", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 3L -> 2L))
    // dist 3 vertex (4) is beyond maxHops=2; unrelated component absent
    assert(!m.contains(4L) && !m.contains(5L))
    val full = Graph.bfsDistances(edges, "s", "d", seeds, "v0", maxHops = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full(4L) == 3L) // early-exit loop still reaches the far end
  }

  test("bfsDistances takes the shortest of multiple seed paths") {
    // ring 1-2-3-4-5-1: from seeds {1}, vertex 4 is 2 away via 5
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
      .toDF("s", "d")
    val m = Graph.bfsDistances(ring, "s", "d", Seq(1L).toDF("v"), "v", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 0L, 2L -> 1L, 5L -> 1L, 3L -> 2L, 4L -> 2L))
  }

  test("ssspBounded relaxes through cheaper multi-hop routes, respects hop bound") {
    // direct 1→3 costs 10; 1→2→3 costs 2 — relaxation must prefer it
    val wedges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 10L),
      (3L, 4L, 1L), (4L, 5L, 1L)).toDF("s", "d", "w")
    val seeds = Seq(1L).toDF("v0")
    val m = Graph.ssspBounded(wedges, "s", "d", "w", seeds, "v0", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // hop bound 2: vertex 4 is reachable only at 3 edges via the cheap
    // route, but 1→3 (direct) + 3→4 = 11 within 2 hops
    val m2 = Graph.ssspBounded(wedges, "s", "d", "w", seeds, "v0", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2(3L) == 2L && m2(4L) == 11L && !m2.contains(5L))
  }

  test("connected components converge on a 300-link chain within maxIter") {
    // worst case for plain min-label (O(diameter) = 300 rounds);
    // pointer jumping must close it in O(log n) ≪ maxIter=20
    val chain = (1L until 300L).map(i => (i, i + 1)).toDF("s", "d")
    val comp = Graph.connectedComponents(chain, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 300)
    assert(comp.values.forall(_ == 1L), s"unconverged: ${comp.values.toSet}")
  }

  test("connected components of an empty edge set is empty") {
    val none = Seq.empty[(Long, Long)].toDF("s", "d")
    assert(Graph.connectedComponents(none, "s", "d").collect().isEmpty)
  }

  private def tri(e: Seq[(Long, Long)]): Long =
    Graph.triangleCount(e.toDF("s", "d"), "s", "d")
      .collect().head.getLong(0)

  test("triangleCount: K4 has 4, star has 0, chain has 0") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tri(k4) == 4L)
    assert(tri((2L to 9L).map(i => (1L, i))) == 0L) // star
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == 0L)
  }

  test("triangleCount ignores direction, dups, self-loops") {
    // triangle {1,2,3} written with mixed directions + noise
    val messy = Seq((1L, 2L), (2L, 1L), (3L, 2L), (1L, 3L),
      (1L, 1L), (1L, 2L), (3L, 4L))
    assert(tri(messy) == 1L)
  }

  test("triangleCount matches brute force on random graphs") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val n = 20
      val es = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.25
      } yield (a, b)).toSeq
      val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        .withDefaultValue(Set.empty[Long])
      val brute = (for {
        a <- 0L until n; b <- (a + 1) until n if adj(a)(b)
        c <- (b + 1) until n if adj(a)(c) && adj(b)(c)
      } yield 1).size
      assert(tri(es) == brute.toLong, s"trial $trial")
    }
  }

  test("triangleCount matches brute force on a hub-skewed graph") {
    // hub 0 connected to all; ring among 1..12 — skew makes the
    // degree-ordered orientation actually reorder edges
    val n = 12L
    val hub = (1L to n).map(i => (0L, i))
    val ring = (1L to n).map(i => (i, if (i == n) 1L else i + 1))
    val es = hub ++ ring
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val verts = adj.keys.toSeq.sorted
    val brute = (for {
      a <- verts; b <- verts if a < b && adj(a)(b)
      c <- verts if b < c && adj(a)(c) && adj(b)(c)
    } yield 1).size
    assert(tri(es) == brute.toLong && brute == 12)
  }

  test("pageRank: mass conserved, hub ranks highest, star graph exact") {
    // star: 1..4 all point at 5; 5 is dangling
    val star = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)).toDF("s", "d")
    val pr = Graph.pageRank(star, "s", "d", iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6) // dangling mass kept
    assert(pr(5L) > pr(1L) * 3) // the hub dominates
    assert(Seq(1L, 2L, 3L, 4L).map(pr).distinct.size == 1) // symmetry
    // closed form for the 4→1 star with damping .85:
    // leaves get (1-d)/5 + d*m/5; hub gets (1-d)/5 + d*(4*leaf + m/5)
    // where m is the hub's own (dangling) mass — verify fixed point
    // (tolerance tracks the 0.85^20 ≈ 4e-4 power-iteration residual)
    val leaf = pr(1L); val hub = pr(5L)
    assert(math.abs(hub - (0.03 + 0.85 * (4 * leaf + hub / 5))) < 1e-3)
    assert(math.abs(leaf - (0.03 + 0.85 * (hub / 5))) < 1e-3)
  }

  test("labelPropagation separates weakly-bridged communities") {
    // two triangles (internal weight 10) joined by a weight-1 bridge
    // 3—4: after 4 synchronous rounds each triangle converges to its
    // own min label and the bridge never flips either side
    val g = Seq(
      (1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
      (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L),
      (3L, 4L, 1L)).toDF("s", "d", "w")
    val got = Graph.labelPropagation(g, "s", "d", "w", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).map(got).toSet == Set(1L))
    assert(Seq(4L, 5L, 6L).map(got).toSet == Set(4L))
  }

  test("kCore peels shells iteratively, keeps the dense core") {
    // triangle {1,2,3} + a tail 3-4-5-6 hanging off it: the 2-core is
    // exactly the triangle, but only ITERATIVE peeling finds it — the
    // tail peels one link per round (6 first, then 5, then 4), so a
    // single degree-filter pass would wrongly keep 4 and 5
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("s", "d")
    val core2 = Graph.kCore(g, "s", "d", k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // no 3-core anywhere in that graph: everything peels to empty
    assert(Graph.kCore(g, "s", "d", k = 3, rounds = 4).isEmpty)
    // K4 + pendant: 3-core = the K4 with full in-core degrees; dup
    // edges and orientation must not inflate degrees
    val k4 = Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L),
      (11L, 13L), (12L, 13L), (13L, 12L), (13L, 14L)).toDF("s", "d")
    val core3 = Graph.kCore(k4, "s", "d", k = 3, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L))
  }

  test("bfsDistancesLabeled keeps per-seed distances separate") {
    // chain 1-2-3-4 plus isolated pair 5-6; seeds {1, 4, 5}: every
    // seed must carry ITS OWN hop count (the unlabelled variant would
    // min-fold 1's and 4's walks into one)
    val seeds = Seq(1L, 4L, 5L).toDF("v0")
    val m = Graph.bfsDistancesLabeled(edges, "s", "d", seeds, "v0",
        maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(m((1L, 3L)) == 2L && m((4L, 3L)) == 1L) // 3 seen from both
    assert(m((1L, 4L)) == 3L && m((4L, 1L)) == 3L) // symmetric ends
    assert(m((5L, 6L)) == 1L) // component-local walk
    assert(!m.contains((5L, 1L)) && !m.contains((1L, 6L)))
    // harmonic centrality of vertex 3 from these landmarks (self
    // excluded): 1e6/2 + 1e6/1 in integer units
    val h = m.collect { case ((_, v), dst) if v == 3L && dst > 0 =>
      1000000L / dst }.sum
    assert(h == 1500000L)
  }

  test("BFS/SSSP eager per-hop checkpoints survive exhausted frontiers") {
    // r16: hop deltas are eagerly localCheckpointed (flat task
    // binaries); rounds PAST the graph's diameter produce EMPTY
    // deltas that still checkpoint + unpersist cleanly, and results
    // must equal the diameter-bounded walk exactly
    val seeds = Seq(1L).toDF("v0")
    val short = Graph.bfsDistances(edges, "s", "d", seeds, "v0",
      maxHops = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val long = Graph.bfsDistances(edges, "s", "d", seeds, "v0",
      maxHops = 6).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(short == long && short(4L) == 3L)
    val w = Seq((1L, 2L, 5L), (2L, 3L, 5L)).toDF("s", "d", "w")
    val sp = Graph.ssspBounded(w, "s", "d", "w", seeds, "v0",
      maxHops = 5).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sp == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
  }

  test("BFS/SSSP walks return the persisted-RDD census to its baseline") {
    // every checkpoint a walk takes (symmetrized edges, seeds, hop
    // deltas, periodic visited seals, SSSP's improved sets) is retired
    // before it returns; only the returned frame's own checkpoint
    // stays, and retiring that restores the census. Walks of
    // 9 hops take the emptiness-probe and periodic-seal paths; walks
    // of 3 skip them.
    val sc = spark.sparkContext
    val chain = (1L to 9L).map(i => (i, i + 1, 1L)).toDF("s", "d", "w")
    val seeds = Seq(1L).toDF("v0")
    val walks: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "bfsDistances" -> (h =>
        Graph.bfsDistances(chain, "s", "d", seeds, "v0", h)),
      "bfsDistancesLabeled" -> (h =>
        Graph.bfsDistancesLabeled(chain, "s", "d", seeds, "v0", h)),
      "ssspBounded" -> (h =>
        Graph.ssspBounded(chain, "s", "d", "w", seeds, "v0", h)))
    for ((name, walk) <- walks; hops <- Seq(3, 9)) {
      // RDDs persisted since `before` (ids, not a count: the
      // ContextCleaner may drop earlier suites' RDDs meanwhile)
      val before = sc.getPersistentRDDs.keySet
      def added: Int = (sc.getPersistentRDDs.keySet -- before).size
      val out = walk(hops)
      assert(out.count() == hops + 1L, s"$name($hops)")
      val held = added
      assert(held == 1, s"$name($hops) holds $held persisted RDDs")
      Graph.retire(out)
      val left = added
      assert(left == 0, s"$name($hops) left $left after retiring its result")
    }
  }
}
