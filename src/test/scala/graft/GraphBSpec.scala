package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphB

class GraphBSpec extends AnyFunSuite {
  import TestSpark._

  private def edges(pairs: (Long, Long)*) = {
    import spark.implicits._
    val p = pairs.toSeq.toDF("pa", "pb")
    p.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(p.select(col("pb").as("src"), col("pa").as("dst")))
  }

  test("label propagation: two triangles over a bridge — hand-replayed rounds") {
    // triangle A {1,2,3}, triangle B {5,6,7}, bridge 3-5.
    val ed = edges((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L), (5L, 7L), (6L, 7L), (3L, 5L))
    val l2 = GraphB.lpaRounds(ed, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: every neighborhood votes distinct labels → min neighbor id;
    // round 2: majority forms — hand-computed fixture
    assert(l2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 3L, 7L -> 3L))
  }

  test("lpa run-to-convergence ≡ fixed rounds once stable, and stops early") {
    // two disjoint triangles: labels settle to the min node id of each
    // triangle after 2 effective rounds
    val ed = edges((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
    val (labels, rounds) = GraphB.lpaConverged(ed, maxRounds = 20)
    assert(rounds < 20, "LPA did not detect convergence")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
    // fixed-round ≡ converged: the gated fixed-round kernel at the
    // converged depth (and one past it) produces the same labels
    val fixed = GraphB.lpaRounds(ed, rounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fixedPlus = GraphB.lpaRounds(ed, rounds + 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed == got && fixedPlus == got)
  }

  test("pagerank run-to-convergence ≡ fixed rounds on a symmetric fixture, and stops early") {
    import graft.queries.ScaleOps
    // a triangle is degree-regular: ranks are exactly 1.0 from round 1,
    // so the probe sees delta 0 immediately
    val ed = edges((1L, 2L), (1L, 3L), (2L, 3L))
    val (converged, rounds) = ScaleOps.pagerankRun(ed, tol = Some(1e-9), maxRounds = 20)
    assert(rounds < 20, "pagerank did not detect convergence")
    val got = converged.select(col("id"), round(col("r"), 6).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0))
    val (fixed, _) = ScaleOps.pagerankRun(ed, tol = None, maxRounds = 3)
    val gotFixed = fixed.select(col("id"), round(col("r"), 6).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotFixed == got, "fixed-round and converged ranks diverge on the fixture")
  }

  test("pagerank convergence probe tightens monotonically on an asymmetric graph") {
    import graft.queries.ScaleOps
    // path 1-2-3 (bidirected): degrees differ, ranks actually move;
    // a loose tolerance must stop no later than a tight one and both
    // agree with the fixed-round kernel at their stopping depth
    // the dominant mode decays as 0.85^round here, so 5e-3 needs ~32
    // rounds — tolerances chosen to converge well inside the bound
    val ed = edges((1L, 2L), (2L, 3L))
    val (loose, rLoose) = ScaleOps.pagerankRun(ed, tol = Some(5e-2), maxRounds = 45)
    val (tight, rTight) = ScaleOps.pagerankRun(ed, tol = Some(5e-3), maxRounds = 45)
    assert(rLoose <= rTight, s"loose tol ran longer ($rLoose > $rTight)")
    assert(rTight < 45, "tight tol did not converge within the bound")
    val (fixedAtTight, _) = ScaleOps.pagerankRun(ed, tol = None, maxRounds = rTight)
    val a = tight.select(col("id"), round(col("r"), 6).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = fixedAtTight.select(col("id"), round(col("r"), 6).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b, "converged ranks differ from fixed-round ranks at the same depth")
    loose.count() // touch to keep lints honest
  }

  test("planted celebrity: a 5000-degree hub never materializes its neighborhood") {
    import spark.implicits._
    import graft.queries.GraphCore
    // star hub 0 → leaves 1..5000; leaves 1..10 also form a clique, so
    // the enumerator has real triangles to find THROUGH the hub
    val n = 5000L
    val star = (1L to n).map(i => (0L, i))
    val clique = for (i <- 1L to 10L; j <- (i + 1) to 10L) yield (i, j)
    val pairs = (star ++ clique).toDF("pa", "pb")
    val edges = GraphCore.edgesFromPairs(pairs)
    val deg = GraphCore.degreesOf(edges).cache()
    assert(deg.agg(max(col("deg"))).head.getInt(0) == 5000, "hub degree")
    // (deg, id) orientation bounds every OUT-neighborhood — the only
    // neighbor arrays the pipeline ever collects — at O(√m): the hub
    // (max degree) has ZERO out-edges; clique members top out at 10
    val oriented = GraphCore.orientedOf(edges)
    val outdeg = oriented.groupBy(col("src")).count()
    assert(outdeg.filter(col("src") === 0L).count() == 0, "hub must have no out-edges")
    assert(outdeg.agg(max(col("count"))).head.getLong(0) <= 10L,
      "an out-neighborhood exceeded the orientation bound")
    // correctness unchanged under the skew: C(10,3) clique triangles
    // + 45 hub-closed clique edges = 165
    assert(GraphCore.triangles(oriented).count() == 165L)
    deg.unpersist()
  }

  test("label propagation: output is a partition and labels are node ids") {
    val df = SparkEntry.queries("q_label_prop")(spark, sf).cache()
    val nodes = df.select(col("part")).distinct().count()
    assert(df.count() == nodes, "every graph node appears exactly once")
    val nonNode = df.join(df.select(col("part").as("community")).distinct(),
      Seq("community"), "left_anti")
    assert(nonNode.count() == 0, "every community label is itself a node id")
    df.unpersist()
  }

  test("bfs: path graph distances and unreachability") {
    import spark.implicits._
    // path 0-1-2-3-4-5, seed {0}: after 3 rounds d=0..3; nodes 4,5 absent
    val ed = edges((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val seeds = Seq(0L).toDF("node")
    val d = GraphB.bfsRounds(ed, seeds, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("bfs: a shorter path found in a later round wins (min semantics)") {
    import spark.implicits._
    // two seeds: 0 and 4; node 2 is 2 hops from both; node 3 is 1 from 4
    val ed = edges((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    val seeds = Seq(0L, 4L).toDF("node")
    val d = GraphB.bfsRounds(ed, seeds, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 0L))
  }

  test("bfs: delta frontier ≡ full-frame expansion on crafted graphs") {
    import spark.implicits._
    // fixtures where settled nodes COULD be re-expanded: a cycle (each
    // node re-reachable the long way), a diamond with a chord (multiple
    // equal-length paths), and a two-seed collision path
    val fixtures = Seq(
      edges((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (1L, 3L)) -> Seq(0L),
      edges((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)) -> Seq(0L),
      edges((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)) -> Seq(0L, 4L))
    for ((ed, ss) <- fixtures; rounds <- 1 to 4) {
      val seeds = ss.toDF("node")
      val full = GraphB.bfsRounds(ed, seeds, rounds, delta = false).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val del = GraphB.bfsRounds(ed, seeds, rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(del == full, s"delta != full at rounds=$rounds: $del vs $full")
    }
  }

  test("edge jaccard: K4 — every edge has 2 common neighbors, jaccard 0.5") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("pa", "pb")
    val j = GraphB.edgeJaccardOf(pairs).collect()
    assert(j.length == 6)
    assert(j.forall(r => r.getLong(2) == 2L && r.getDouble(3) == 0.5))
  }

  test("edge jaccard: bridge edge closing no triangle is absent; star has no triangles") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("pa", "pb") // star
    assert(GraphB.edgeJaccardOf(pairs).count() == 0)
  }

  test("seq trigrams: top-20 of 'a>b>c'-shaped windows, descending counts") {
    val df = SparkEntry.queries("q_seq_trigrams")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(_.getString(0).split(">").length == 3))
    val counts = rows.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "top-20 must arrive count-descending")
  }

  test("ejacc exact re-score: size guard falls back to shuffle_hash with identical rows") {
    // r14: broadcast(wedges) is size-guarded (Σ deg over the top-20 pa
    // endpoints — a celebrity hub would OOM the forced broadcast at
    // scale). Threshold 0 forces the fallback path; rows must be
    // identical and the re-score join must plan as ShuffledHashJoin.
    val dir = "/root/testdata/sf0.001"
    def rows() = GraphB.edgeJaccardEstimate(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val base = rows()
    assert(base.nonEmpty, "fixture produced no estimated edges")
    val prev = GraphB.ejaccBroadcastMaxWedges
    GraphB.ejaccBroadcastMaxWedges = 0L
    try {
      val plan = GraphB.edgeJaccardEstimate(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"guarded path did not fall back to shuffle_hash:\n$plan")
      assert(rows() == base,
        "fallback join strategy changed the re-score rows")
    } finally GraphB.ejaccBroadcastMaxWedges = prev
  }

  test("kmv: estimates bracket exact counts within sketch error") {
    val r = SparkEntry.queries("q_kmv_intersect")(spark, sf).collect().head
    val (k, nMerged) = (r.getLong(0), r.getLong(1))
    val (estU, estI) = (r.getDouble(2), r.getDouble(3))
    val (exU, exI) = (r.getLong(4), r.getLong(5))
    assert(k == 256 && nMerged <= k)
    assert(exI <= exU)
    assert(estI <= estU + 1e-9)
    // KMV rel. error ~ 1/sqrt(k-1) ≈ 6.3%; assert a generous 5σ band
    assert(math.abs(estU - exU) <= 0.32 * exU,
      s"union estimate $estU too far from exact $exU")
    // when the union fits in the sketch the estimate IS exact
    if (nMerged < k) assert(estU == exU.toDouble)
  }
}
